"""Datetime operations for the validator DSL.

Capability parity with the reference
(``/root/reference/src/flycatcher/validators/datetime.py``):
component extraction (year/month/day/hour/minute/second) and
``total_days`` difference, dual-compiled to Spark and Python.

``total_days`` follows the Python-backend semantics (float days,
``delta.total_seconds()/86400``; reference datetime.py:105-110) — the
reference's columnar backend truncates to whole days, a documented
backend divergence inside the reference itself (SURVEY.md §7.4 item
6). Both the reference's pinned tests use whole-day anchors where the
two agree.
"""

from __future__ import annotations

import builtins
from datetime import date, datetime
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from .ops import Expr, method_repr


class DateTimeAccessor:
    """``.dt`` accessor exposing datetime ops on any expression node."""

    def __init__(self, expr: Any):
        self.expr = expr

    def year(self) -> "DateTimeOp":
        """Extract the year component."""
        return DateTimeOp("year", self.expr, None)

    def month(self) -> "DateTimeOp":
        """Extract the month component (1-12)."""
        return DateTimeOp("month", self.expr, None)

    def day(self) -> "DateTimeOp":
        """Extract the day-of-month component (1-31)."""
        return DateTimeOp("day", self.expr, None)

    def hour(self) -> "DateTimeOp":
        """Extract the hour component (0-23)."""
        return DateTimeOp("hour", self.expr, None)

    def minute(self) -> "DateTimeOp":
        """Extract the minute component (0-59)."""
        return DateTimeOp("minute", self.expr, None)

    def second(self) -> "DateTimeOp":
        """Extract the second component (0-59)."""
        return DateTimeOp("second", self.expr, None)

    def total_days(self, other: Any) -> "DateTimeOp":
        """Difference ``self - other`` in days (float, positive if later)."""
        return DateTimeOp("total_days", self.expr, other)


def _epoch_seconds(c: Column) -> Column:
    """Seconds since epoch as double (handles date / timestamp / ntz)."""
    return c.cast("timestamp").cast("double")


class DateTimeOp(Expr):
    """Datetime operation node dual-compiled to Spark and Python."""

    SPARK_COMPONENTS = {
        "year": F.year,
        "month": F.month,
        "day": F.dayofmonth,
        "hour": F.hour,
        "minute": F.minute,
        "second": F.second,
    }

    COMPONENT_ATTRS = {"year", "month", "day", "hour", "minute", "second"}

    def __init__(self, op: builtins.str, operand: Any, arg: Any = None):
        self.op = op
        self.operand = operand
        self.arg = arg

    def to_spark(self) -> Column:
        operand = self._to_spark(self.operand)
        if self.op in self.SPARK_COMPONENTS:
            return self.SPARK_COMPONENTS[self.op](operand)
        if self.op == "total_days":
            other = self._to_spark(self.arg)
            return (_epoch_seconds(operand) - _epoch_seconds(other)) / 86400.0
        raise ValueError(f"Unknown datetime op: {self.op}")

    def to_python(self, values: Any) -> Any:
        operand = self._to_python(self.operand, values)
        if self.op in self.COMPONENT_ATTRS:
            return self._extract_component(operand, self.op)
        if self.op == "total_days":
            other = self._to_python(self.arg, values)
            if operand is None or other is None:
                return None
            return (operand - other).total_seconds() / 86_400
        raise ValueError(f"Unknown datetime op: {self.op}")

    def __repr__(self) -> builtins.str:
        args = () if self.arg is None else (self.arg,)
        return method_repr(self.operand, f"dt.{self.op}", *args)

    @staticmethod
    def _extract_component(value: Any, attr: builtins.str) -> Any:
        if value is None:
            return None
        if not isinstance(value, (datetime, date)):
            raise ValueError(
                f"Expected date or datetime for .dt.{attr}, got {type(value).__name__}"
            )
        if (
            attr in {"hour", "minute", "second"}
            and isinstance(value, date)
            and not isinstance(value, datetime)
        ):
            raise ValueError(f"Time component .dt.{attr} requires datetime, got date")
        return getattr(value, attr)
