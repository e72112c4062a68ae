"""Expression-node base class plus binary/unary operations.

Capability parity with the reference DSL
(``/root/reference/src/flycatcher/validators/ops.py``): the same
operator surface (comparisons, arithmetic, Kleene ``&``/``|``, ``~``,
null tests, abs/round/floor/ceil/sqrt/pow) dual-compiled to a Spark
``Column`` (``to_spark()``) and a plain-Python evaluation
(``to_python(values)``).

Design difference from the reference: instead of re-declaring every
dunder on every node class, all chaining behavior lives once on
``Expr`` and every node type subclasses it. Spark-specific parity
fixes (documented in SURVEY.md §7.4): ``round`` uses ``F.bround``
(half-to-even, matching Polars/Python banker's rounding), ``sqrt`` of
negative numbers yields NaN (Spark's builtin returns null),
``floor``/``ceil`` cast back to double (Spark's builtins return long;
the reference's columnar backend keeps float).
"""

from __future__ import annotations

import builtins
import math
from typing import TYPE_CHECKING, Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from .base import _ExpressionMixin

if TYPE_CHECKING:  # pragma: no cover
    from .datetime import DateTimeAccessor
    from .membership import MembershipOp
    from .string import StringAccessor


class Expr(_ExpressionMixin):
    """Base class for all DSL expression nodes.

    Provides operator chaining (``>``, ``+``, ``&``, ...), the ``.str``
    and ``.dt`` accessors, membership helpers (``is_in`` /
    ``is_between``) and math helpers (``round`` / ``floor`` / ``ceil``
    / ``sqrt`` / ``pow``). Subclasses implement ``to_spark()`` and
    ``to_python(values)``.
    """

    # -- compilation interface ---------------------------------------
    def to_spark(self) -> Column:
        raise NotImplementedError

    def to_python(self, values: Any) -> Any:
        raise NotImplementedError

    # -- comparison / arithmetic / logical chaining -------------------
    def __gt__(self, other: Any) -> "BinaryOp":
        return BinaryOp(self, ">", other)

    def __ge__(self, other: Any) -> "BinaryOp":
        return BinaryOp(self, ">=", other)

    def __lt__(self, other: Any) -> "BinaryOp":
        return BinaryOp(self, "<", other)

    def __le__(self, other: Any) -> "BinaryOp":
        return BinaryOp(self, "<=", other)

    def __eq__(self, other: Any) -> "BinaryOp":  # type: ignore[override]
        # Intentional: the DSL returns expression objects, not bool.
        return BinaryOp(self, "==", other)

    def __ne__(self, other: Any) -> "BinaryOp":  # type: ignore[override]
        return BinaryOp(self, "!=", other)

    __hash__ = None  # type: ignore[assignment]  # __eq__ returns expressions

    def __add__(self, other: Any) -> "BinaryOp":
        return BinaryOp(self, "+", other)

    def __sub__(self, other: Any) -> "BinaryOp":
        return BinaryOp(self, "-", other)

    def __mul__(self, other: Any) -> "BinaryOp":
        return BinaryOp(self, "*", other)

    def __truediv__(self, other: Any) -> "BinaryOp":
        return BinaryOp(self, "/", other)

    def __mod__(self, other: Any) -> "BinaryOp":
        return BinaryOp(self, "%", other)

    def __and__(self, other: Any) -> "BinaryOp":
        return BinaryOp(self, "&", other)

    def __or__(self, other: Any) -> "BinaryOp":
        return BinaryOp(self, "|", other)

    # Reflected variants so literals compose from the left
    # (``1 - col("discount")``) — an ergonomics upgrade over the
    # reference, which only supports expression-first chaining.
    def __radd__(self, other: Any) -> "BinaryOp":
        return BinaryOp(other, "+", self)

    def __rsub__(self, other: Any) -> "BinaryOp":
        return BinaryOp(other, "-", self)

    def __rmul__(self, other: Any) -> "BinaryOp":
        return BinaryOp(other, "*", self)

    def __rtruediv__(self, other: Any) -> "BinaryOp":
        return BinaryOp(other, "/", self)

    def __rmod__(self, other: Any) -> "BinaryOp":
        return BinaryOp(other, "%", self)

    def __rand__(self, other: Any) -> "BinaryOp":
        return BinaryOp(other, "&", self)

    def __ror__(self, other: Any) -> "BinaryOp":
        return BinaryOp(other, "|", self)

    def __invert__(self) -> "UnaryOp":
        return UnaryOp("~", self)

    # -- null tests / math -------------------------------------------
    def is_null(self) -> "UnaryOp":
        """True where the value is null/None."""
        return UnaryOp("is_null", self)

    def is_not_null(self) -> "UnaryOp":
        """True where the value is not null/None."""
        return UnaryOp("is_not_null", self)

    def abs(self) -> "UnaryOp":
        """Absolute value."""
        return UnaryOp("abs", self)

    def round(self, decimals: builtins.int = 0) -> "UnaryOp":
        """Round half-to-even (banker's rounding) to ``decimals`` places."""
        return UnaryOp("round", self, decimals)

    def floor(self) -> "UnaryOp":
        """Round down to the nearest integer (null-propagating)."""
        return UnaryOp("floor", self)

    def ceil(self) -> "UnaryOp":
        """Round up to the nearest integer (null-propagating)."""
        return UnaryOp("ceil", self)

    def sqrt(self) -> "UnaryOp":
        """Square root; negative input yields NaN."""
        return UnaryOp("sqrt", self)

    def pow(self, exponent: Any) -> "UnaryOp":
        """Raise to a numeric power."""
        return UnaryOp("pow", self, exponent)

    # -- membership ---------------------------------------------------
    def is_in(
        self, other: Any, *, nulls_equal: builtins.bool = False
    ) -> "MembershipOp":
        """Membership test against a sequence; see MembershipOp."""
        from .membership import MembershipOp

        return MembershipOp("is_in", self, other, nulls_equal=nulls_equal)

    def is_between(
        self, lower_bound: Any, upper_bound: Any, *, closed: builtins.str = "both"
    ) -> "MembershipOp":
        """Interval test; string bounds are treated as column references."""
        from .membership import MembershipOp

        return MembershipOp(
            "is_between", self, (lower_bound, upper_bound), closed=closed
        )

    # -- accessors ----------------------------------------------------
    @property
    def arr(self) -> "ArrayAccessor":
        """Array helpers (``.arr.len() / .arr.min() / .arr.max()``)."""
        from .array import ArrayAccessor

        return ArrayAccessor(self)

    @property
    def map(self) -> "MapAccessor":
        """Map helpers (``.map.len() / .map.has_key(k) / .map.min() /
        .map.max()`` — min/max over VALUES)."""
        from .array import MapAccessor

        return MapAccessor(self)

    @property
    def str(self) -> "StringAccessor":
        """Access string operations on this expression."""
        from .string import StringAccessor

        return StringAccessor(self)

    @property
    def dt(self) -> "DateTimeAccessor":
        """Access datetime operations on this expression."""
        from .datetime import DateTimeAccessor

        return DateTimeAccessor(self)


def method_repr(
    operand: Any, path: builtins.str, *args: Any, **kwargs: Any
) -> builtins.str:
    """How a method-chain node prints: ``operand.path(args, key=value)``."""
    parts = [repr(a) for a in args] + [f"{k}={v!r}" for k, v in kwargs.items()]
    return f"{operand!r}.{path}({', '.join(parts)})"


class Lit(Expr):
    """Literal value node, optionally cast to a specific Spark type.

    Keeps the DSL session-free at construction time: ``F.lit`` is only
    invoked when the expression compiles (``to_spark``), by which
    point a SparkSession exists. The optional ``cast`` handles typed
    literals such as datetime bounds that must compare against
    TIMESTAMP_NTZ columns.
    """

    def __init__(self, value: Any, cast: Any | None = None):
        self.value = value
        self.cast = cast

    def to_spark(self) -> Column:
        lit = F.lit(self.value)
        return lit.cast(self.cast) if self.cast is not None else lit

    def to_python(self, values: Any) -> Any:
        return self.value

    def __repr__(self) -> builtins.str:
        # an uncast literal is written as the bare value in the DSL
        if self.cast is None:
            return repr(self.value)
        return f"Lit({self.value!r}, cast={self.cast!r})"


class BinaryOp(Expr):
    """Binary operation dual-compiled to Spark and Python.

    ``&``/``|`` compile to Spark's Kleene (three-valued) logic, which
    matches the reference's columnar backend; the Python side uses
    short-circuit ``and``/``or``, a backend divergence already present
    in the reference (SURVEY.md §7.4 item 4) and kept for parity.
    """

    SPARK_OPS: dict[builtins.str, Callable[[Column, Column], Column]] = {
        ">": lambda a, b: a > b,
        ">=": lambda a, b: a >= b,
        "<": lambda a, b: a < b,
        "<=": lambda a, b: a <= b,
        "==": lambda a, b: a == b,
        "!=": lambda a, b: a != b,
        "+": lambda a, b: a + b,
        "-": lambda a, b: a - b,
        "*": lambda a, b: a * b,
        "/": lambda a, b: a / b,
        "%": lambda a, b: a % b,
        "&": lambda a, b: a & b,
        "|": lambda a, b: a | b,
    }

    PYTHON_OPS: dict[builtins.str, Callable[[Any, Any], Any]] = {
        ">": lambda a, b: a > b,
        ">=": lambda a, b: a >= b,
        "<": lambda a, b: a < b,
        "<=": lambda a, b: a <= b,
        "==": lambda a, b: a == b,
        "!=": lambda a, b: a != b,
        "+": lambda a, b: a + b,
        "-": lambda a, b: a - b,
        "*": lambda a, b: a * b,
        "/": lambda a, b: a / b,
        "%": lambda a, b: a % b,
        "&": lambda a, b: a and b,
        "|": lambda a, b: a or b,
    }

    def __init__(self, left: Any, op: builtins.str, right: Any):
        self.left = left
        self.op = op
        self.right = right

    def to_spark(self) -> Column:
        return self.SPARK_OPS[self.op](
            self._to_spark(self.left), self._to_spark(self.right)
        )

    def to_python(self, values: Any) -> Any:
        return self.PYTHON_OPS[self.op](
            self._to_python(self.left, values), self._to_python(self.right, values)
        )

    def __repr__(self) -> builtins.str:
        return f"({self.left!r} {self.op} {self.right!r})"


def _python_round(value: Any, decimals: builtins.int) -> Any:
    if value is None:
        return None
    result = round(value, decimals)  # Python round is half-to-even
    return int(result) if isinstance(value, int) else result


def _python_sqrt(value: Any) -> Any:
    if value is None:
        return None
    try:
        return math.sqrt(value)
    except ValueError:
        return math.nan


class UnaryOp(Expr):
    """Unary operation (optionally parameterized) dual-compiled."""

    SPARK_OPS: dict[builtins.str, Callable[[Column, Any], Column]] = {
        "abs": lambda c, _: F.abs(c),
        "~": lambda c, _: ~c,
        "is_null": lambda c, _: c.isNull(),
        "is_not_null": lambda c, _: c.isNotNull(),
        # bround = HALF_EVEN, matching Python/Polars banker's rounding
        # (F.round is HALF_UP — wrong here; SURVEY.md §7.4 item 2).
        "round": lambda c, decimals: F.bround(c, decimals),
        # Spark floor/ceil return LongType; cast back to double so the
        # result dtype matches the reference's float-in/float-out.
        "floor": lambda c, _: F.floor(c).cast("double"),
        "ceil": lambda c, _: F.ceil(c).cast("double"),
        # Spark sqrt(negative) -> null; the reference yields NaN.
        "sqrt": lambda c, _: F.when(c < 0, F.lit(float("nan"))).otherwise(F.sqrt(c)),
        "pow": lambda c, exponent: F.pow(c, exponent),
    }

    PYTHON_OPS: dict[builtins.str, Callable[[Any, Any], Any]] = {
        "abs": lambda v, _: None if v is None else abs(v),
        "~": lambda v, _: not v,
        "is_null": lambda v, _: v is None,
        "is_not_null": lambda v, _: v is not None,
        "round": lambda v, decimals: _python_round(v, decimals),
        "floor": lambda v, _: None if v is None else math.floor(v),
        "ceil": lambda v, _: None if v is None else math.ceil(v),
        "sqrt": lambda v, _: _python_sqrt(v),
        "pow": lambda v, exponent: None if v is None else pow(v, exponent),
    }

    def __init__(self, op: builtins.str, operand: Any, arg: Any | None = None):
        self.op = op
        self.operand = operand
        self.arg = arg

    def _checked_arg(self, values: Any = None, *, python: builtins.bool = False) -> Any:
        """Validate/normalize the op parameter (round decimals, pow exponent)."""
        if self.op == "round":
            decimals = 0 if self.arg is None else self.arg
            if python and hasattr(decimals, "to_python"):
                decimals = decimals.to_python(values)
            if not isinstance(decimals, int):
                raise TypeError("round() decimals must be an integer")
            return decimals
        if self.op == "pow":
            if self.arg is None:
                raise ValueError("pow() requires an exponent")
            exponent = self.arg
            if python and hasattr(exponent, "to_python"):
                exponent = exponent.to_python(values)
            if not isinstance(exponent, (int, float)):
                raise TypeError("pow() exponent must be a number")
            return exponent
        return self.arg

    def to_spark(self) -> Column:
        if self.op not in self.SPARK_OPS:
            raise ValueError(f"Unknown unary op: {self.op}")
        return self.SPARK_OPS[self.op](
            self._to_spark(self.operand), self._checked_arg()
        )

    def to_python(self, values: Any) -> Any:
        if self.op not in self.PYTHON_OPS:
            raise ValueError(f"Unknown unary op: {self.op}")
        return self.PYTHON_OPS[self.op](
            self._to_python(self.operand, values),
            self._checked_arg(values, python=True),
        )

    def __repr__(self) -> builtins.str:
        if self.op == "~":
            return f"~{self.operand!r}"
        args = () if self.arg is None else (self.arg,)
        return method_repr(self.operand, self.op, *args)
