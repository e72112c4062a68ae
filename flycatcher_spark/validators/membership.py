"""Membership operations (``is_in`` / ``is_between``) for the DSL.

Capability parity with the reference
(``/root/reference/src/flycatcher/validators/membership.py``).

Spark-specific parity work (SURVEY.md §7.3):
- ``is_in`` with ``nulls_equal=False`` must return null for null
  input (Polars semantics). Spark's ``isin`` does this naturally —
  but only when the value list contains no ``None`` (a null in the
  list would turn non-matches into null), so nulls are stripped from
  the list and handled explicitly.
- ``is_between`` supports all four ``closed`` interval modes; Spark's
  ``between`` is only the ``'both'`` case, so the others compile to
  explicit comparison pairs.
- String bounds are column references (reference membership.py:120-129).
"""

from __future__ import annotations

import builtins
import logging
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from .ops import Expr, method_repr

logger = logging.getLogger(__name__)

VALID_CLOSED = {"both", "left", "right", "none"}


class MembershipOp(Expr):
    """Membership-style operation node dual-compiled to Spark and Python."""

    def __init__(
        self,
        op: builtins.str,
        operand: Any,
        arg: Any,
        *,
        nulls_equal: builtins.bool = False,
        closed: builtins.str = "both",
    ):
        self.op = op
        self.operand = operand
        self.arg = arg
        self.nulls_equal = nulls_equal
        self.closed = closed

    # -- Spark compilation -------------------------------------------
    def to_spark(self) -> Column:
        expr = self._to_spark(self.operand)

        if self.op == "is_in":
            values = self._sequence_values(self.arg)
            non_null = [v for v in values if v is not None]
            base = expr.isin(non_null) if non_null else F.lit(False)
            if not self.nulls_equal:
                # null input -> null (isin already propagates null when
                # the list is null-free; force it for an empty list).
                if not non_null:
                    return F.when(expr.isNotNull(), F.lit(False))
                return base
            return F.when(expr.isNull(), F.lit(None in values)).otherwise(base)

        if self.op == "is_between":
            lower_raw, upper_raw = self.arg
            self._validate_closed()
            self._warn_if_inverted(lower_raw, upper_raw)
            lower = self._bound_to_spark(lower_raw)
            upper = self._bound_to_spark(upper_raw)
            if self.closed == "both":
                return expr.between(lower, upper)
            lo = expr > lower if self.closed in ("right", "none") else expr >= lower
            hi = expr < upper if self.closed in ("left", "none") else expr <= upper
            return lo & hi

        raise ValueError(f"Unknown membership op: {self.op}")

    # -- Python evaluation -------------------------------------------
    def to_python(self, values: Any) -> Any:
        value = self._to_python(self.operand, values)

        if self.op == "is_in":
            container = self._to_python(self.arg, values)
            if value is None:
                if self.nulls_equal:
                    return self._contains(container, None)
                return None
            return self._contains(container, value)

        if self.op == "is_between":
            lower_raw, upper_raw = self.arg
            self._validate_closed()
            if value is None:
                return None
            lower = self._bound_to_python(lower_raw, values)
            upper = self._bound_to_python(upper_raw, values)
            self._warn_if_inverted(lower, upper, evaluated=True)
            if lower is None or upper is None:
                return None
            if self.closed == "both":
                return bool(lower <= value <= upper)
            if self.closed == "left":
                return bool(lower <= value < upper)
            if self.closed == "right":
                return bool(lower < value <= upper)
            return bool(lower < value < upper)

        raise ValueError(f"Unknown membership op: {self.op}")

    def __repr__(self) -> builtins.str:
        if self.op == "is_between":
            closed = {} if self.closed == "both" else {"closed": self.closed}
            return method_repr(self.operand, self.op, *self.arg, **closed)
        nulls = {"nulls_equal": True} if self.nulls_equal else {}
        return method_repr(self.operand, self.op, self.arg, **nulls)

    # -- helpers ------------------------------------------------------
    def _validate_closed(self) -> None:
        if self.closed not in VALID_CLOSED:
            raise ValueError(
                f"Invalid closed value '{self.closed}'. "
                "Expected one of {'both', 'left', 'right', 'none'}."
            )

    @staticmethod
    def _sequence_values(other: Any) -> list:
        if isinstance(other, (list, tuple, set, frozenset)):
            return list(other)
        raise TypeError(
            "is_in() expects a list, tuple, or set for 'other' "
            "in the Spark backend"
        )

    @staticmethod
    def _bound_to_spark(bound: Any) -> Column:
        if isinstance(bound, Column):  # before hasattr: Column.__getattr__
            return bound
        if hasattr(bound, "to_spark"):
            return bound.to_spark()
        if isinstance(bound, str):
            return F.col(bound)  # string bound = column reference
        return F.lit(bound)

    @staticmethod
    def _bound_to_python(bound: Any, values: Any) -> Any:
        if bound is None:
            return None
        if hasattr(bound, "to_python"):
            return bound.to_python(values)
        if isinstance(bound, str):
            if hasattr(values, bound):
                return getattr(values, bound)
            try:
                return values[bound]
            except Exception:
                raise AttributeError(f"Field '{bound}' not found in values")
        return bound

    @staticmethod
    def _contains(container: Any, value: Any) -> builtins.bool:
        if container is None:
            return False
        try:
            return value in container
        except Exception:
            return False

    def _warn_if_inverted(
        self, lower: Any, upper: Any, *, evaluated: builtins.bool = False
    ) -> None:
        """Warn when literal bounds describe an empty interval."""
        if lower is None or upper is None:
            return
        if hasattr(lower, "to_spark") or hasattr(upper, "to_spark"):
            return
        if isinstance(lower, (Column, str)) or isinstance(upper, (Column, str)):
            return
        try:
            if lower > upper:
                verb = "evaluated" if evaluated else "called"
                logger.warning(
                    "is_between %s with lower_bound > upper_bound; interval is "
                    "empty (lower=%r, upper=%r)",
                    verb,
                    lower,
                    upper,
                )
        except Exception:
            return
