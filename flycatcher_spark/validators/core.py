"""Core validator DSL primitives: field references and result wrapping.

Capability parity with the reference
(``/root/reference/src/flycatcher/validators/core.py``): ``col(name)``
builds a ``FieldRef`` whose operator chains form an AST; every node
compiles to a Spark ``Column`` (``to_spark()``) for bulk validation
and evaluates as plain Python (``to_python(values)``) for row-level
(Pydantic) validation. ``ValidatorResult`` normalizes the three
model-validator return formats (bare expr / (expr, msg) tuple /
backend dict; reference core.py:113-197), and ``Constraint`` is the
one record per schema constraint that every generator reads.
"""

from __future__ import annotations

import builtins
import inspect
import logging
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import Column

from .ops import Expr

logger = logging.getLogger(__name__)


class FieldRef(Expr):
    """Reference to a named field; the leaf node of every expression."""

    def __init__(self, name: builtins.str):
        self.name = name

    def to_spark(self) -> Column:
        from pyspark.sql import functions as F

        return F.col(self.name)

    def to_python(self, values: Any) -> Any:
        if hasattr(values, self.name):
            return getattr(values, self.name)
        try:
            return values[self.name]
        except (KeyError, TypeError) as e:
            raise AttributeError(f"Field '{self.name}' not found in values") from e

    def __repr__(self) -> builtins.str:
        return f'col("{self.name}")'


def col(name: str) -> FieldRef:
    """Create a field reference for use in validator expressions.

    Examples
    --------
        >>> from flycatcher_spark import col
        >>> expr = (col("price") * (1 - col("discount"))) > 0
    """
    return FieldRef(name)


@dataclass(frozen=True, eq=False)
class Constraint:
    """One constraint of a schema, built once per schema class.

    ``id`` names the constraint within its schema: ``<field>.<option>``
    for a field option, ``<field>.required_keys[<key>]`` for each
    required map key, and ``<function name>#<position>`` for a model
    validator (its position among the schema's model validators).
    ``node`` is the uncompiled bulk predicate: a DSL node, or a raw
    ``Column`` that a validator built itself. It is None for a
    validator with no bulk form, and ``message`` then says why.
    ``row_check`` is what the Pydantic model runs per row; it is None
    where Pydantic enforces the constraint through the field itself
    (field options) or the validator has no row-level form.
    """

    id: str
    message: str
    node: Any
    row_check: Callable[[Any], Any] | None


def model_constraint(validator: Any, schema_cls: type, position: int) -> Constraint:
    """Call one ``@model_validator`` and record what it returns.

    The validator may be wrapped in ``classmethod``; it receives
    ``schema_cls`` when it declares a parameter.
    """
    func = validator.__func__ if isinstance(validator, classmethod) else validator
    takes_cls = len(inspect.signature(func).parameters) > 0
    result = ValidatorResult(func(schema_cls) if takes_cls else func())
    return Constraint(
        f"{func.__name__}#{position}", result.message, result.node, result.row_check
    )


class ValidatorResult:
    """Parses one model-validator return value, once.

    Accepted formats:
    1. bare DSL expression  -> ``(expr, "Validation failed")``
    2. ``(expr, msg)`` tuple — expr may be a DSL node or a raw
       ``pyspark.sql.Column``
    3. ``{'spark': (Column|expr, msg), 'pydantic': callable}`` dict for
       backend-specific logic (the reference's ``'polars'`` key becomes
       ``'spark'`` here); either key may be left out, not both

    Sets ``node``, ``message`` and ``row_check`` as ``Constraint``
    documents them. The node stays *uncompiled*, so validator
    construction never requires an active SparkSession;
    ``SparkValidator`` compiles it.
    """

    def __init__(self, result: Any):
        self.result = result
        self.row_check: Callable[[Any], Any] | None = None
        from_dict = isinstance(result, dict)
        spark = result
        if from_dict:
            self.row_check = result.get("pydantic")
            if "spark" not in result:
                self.node = None
                self.message = (
                    "Dict validator must have 'spark' key. "
                    f"Got keys: {list(result.keys())}"
                )
                if self.row_check is None:
                    raise ValueError(self.message)
                return
            if self.row_check is None:
                logger.warning(
                    "Dict validator does not have 'pydantic' key. "
                    "This validator will only be used for Spark validation."
                )
            spark = result["spark"]
        if isinstance(spark, tuple) and len(spark) == 2:
            node, self.message = spark
        elif from_dict or hasattr(spark, "to_spark"):
            node, self.message = spark, "Validation failed"
        else:
            raise ValueError(
                f"Invalid validator result type: {type(result).__name__}. "
                "Expected dict, tuple of (expr, msg), or object with "
                "'to_spark' method."
            )
        # isinstance first: Column.__getattr__ satisfies any hasattr()
        is_column = isinstance(node, Column)
        if not is_column and not hasattr(node, "to_spark"):
            raise ValueError(
                f"Invalid expression in validator: {type(node).__name__}. "
                "Expected DSL expression or pyspark.sql.Column."
            )
        self.node = node
        if not from_dict and not is_column and hasattr(node, "to_python"):
            self.row_check = self._row_check(node, self.message)

    @staticmethod
    def _row_check(node: Any, message: str) -> Callable[[Any], Any]:
        """Evaluate ``node`` on one row's values; raise ``message`` if false."""

        def check(values: Any) -> Any:
            try:
                if not node.to_python(values):
                    raise ValueError(message)
            except ValueError:
                raise
            except Exception as e:
                raise ValueError(f"{message}: {e}") from e
            return values

        return check
