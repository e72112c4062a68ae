"""Collection expression nodes: the ``.arr`` and ``.map`` accessors.

Extension beyond the reference surface (nested/array types are a
SURVEY §7 item — the reference DSL is scalar-only). One table-driven
node, ``CollectionOp``, covers the constraint surface an
``array<T>`` or ``map<string, T>`` column needs:

- ``arr.len`` — element (or entry) count (``F.size``; null -> null,
  so a length constraint on a null row is neither pass nor violation,
  consistent with every scalar constraint).
- ``arr.min`` / ``arr.max`` — element extrema (``F.array_min/max``;
  null or empty array -> null). ``arr.min() >= b`` is exactly
  "every element >= b" and compiles to ONE codegen'd expression —
  unlike a ``forall`` lambda, it is also expressible in plain Python
  for the Pydantic bridge and in any SQL dialect for the oracles.
- ``map.has_key`` — key presence; ``map.min`` / ``map.max`` — extrema
  over the map's VALUES.

All dual-compile: ``to_spark()`` -> Column, ``to_python(values)`` ->
plain value, matching the rest of the DSL. A null collection yields
null from every op.
"""

from __future__ import annotations

import builtins
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from .ops import Expr, method_repr


def _extremum(pick: Callable, items: Any) -> Any:
    """``pick`` over the non-null items; none left -> None."""
    present = [x for x in items if x is not None]
    return pick(present) if present else None


class CollectionOp(Expr):
    """Array/map operation node dual-compiled to Spark and Python.

    ``op`` is the accessor path it was built from (``"arr.len"``,
    ``"map.has_key"``, ...), which is also how it prints.
    """

    SPARK_OPS: dict[builtins.str, Callable[..., Column]] = {
        "arr.len": F.size,
        "arr.min": F.array_min,
        "arr.max": F.array_max,
        "map.has_key": lambda c, key: F.when(
            c.isNull(), F.lit(None).cast("boolean")
        ).otherwise(F.map_contains_key(c, key)),
        "map.min": lambda c: F.array_min(F.map_values(c)),
        "map.max": lambda c: F.array_max(F.map_values(c)),
    }

    PYTHON_OPS: dict[builtins.str, Callable[..., Any]] = {
        "arr.len": len,
        "arr.min": lambda v: _extremum(min, v),
        "arr.max": lambda v: _extremum(max, v),
        "map.has_key": lambda v, key: key in v,
        "map.min": lambda v: _extremum(min, v.values()),
        "map.max": lambda v: _extremum(max, v.values()),
    }

    def __init__(self, op: builtins.str, operand: Any, *args: Any):
        self.op = op
        self.operand = operand
        self.args = args

    def to_spark(self) -> Column:
        return self.SPARK_OPS[self.op](self._to_spark(self.operand), *self.args)

    def to_python(self, values: Any) -> Any:
        v = self._to_python(self.operand, values)
        return None if v is None else self.PYTHON_OPS[self.op](v, *self.args)

    def __repr__(self) -> str:
        return method_repr(self.operand, self.op, *self.args)


class ArrayAccessor:
    """``col("xs").arr`` — array helpers on any expression node."""

    def __init__(self, expr: Any):
        self._expr = expr

    def len(self) -> CollectionOp:
        return CollectionOp("arr.len", self._expr)

    def min(self) -> CollectionOp:
        return CollectionOp("arr.min", self._expr)

    def max(self) -> CollectionOp:
        return CollectionOp("arr.max", self._expr)


class MapAccessor:
    """``col("props").map`` — map helpers on any expression node.

    ``len()`` counts entries (``arr.len`` — F.size works for maps and
    Python ``len`` for dicts); ``min()/max()`` range over VALUES.
    """

    def __init__(self, expr: Any):
        self._expr = expr

    def len(self) -> CollectionOp:
        return CollectionOp("arr.len", self._expr)

    def has_key(self, key: str) -> CollectionOp:
        return CollectionOp("map.has_key", self._expr, key)

    def min(self) -> CollectionOp:
        return CollectionOp("map.min", self._expr)

    def max(self) -> CollectionOp:
        return CollectionOp("map.max", self._expr)
