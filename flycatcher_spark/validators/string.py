"""String operations for the validator DSL.

Capability parity with the reference
(``/root/reference/src/flycatcher/validators/string.py``): the same
eleven string ops, dual-compiled. The Spark compilation targets
JVM-side built-ins (``rlike``, ``regexp_replace``, ``substring``, ...)
so string validation stays inside whole-stage codegen.

Parity notes (SURVEY.md §2.3 string table):
- ``extract``: Spark's ``regexp_extract`` returns ``""`` on miss; the
  reference returns null — wrapped with a match guard.
- ``strip_chars``: Spark's ``trim`` strips only spaces; the reference
  strips all whitespace — implemented as an anchored regexp_replace.
- ``slice``: Spark's ``substring`` is 1-based and clamps negative
  offsets differently from Python slicing — compiled to an explicit
  begin/end clamp that reproduces Python slice semantics.
- Python-side null behavior is kept verbatim from the reference
  (null→False for contains/starts/ends, null→0 for len/count, null
  pass-through for transforms).
"""

from __future__ import annotations

import builtins
import re
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from .ops import Expr, method_repr


class StringAccessor:
    """``.str`` accessor exposing string ops on any expression node."""

    def __init__(self, expr: Any):
        self.expr = expr

    def contains(self, pattern: builtins.str) -> "StringOp":
        """Unanchored regex search."""
        return StringOp("contains", self.expr, pattern)

    def starts_with(self, prefix: builtins.str) -> "StringOp":
        """Literal prefix test."""
        return StringOp("starts_with", self.expr, prefix)

    def ends_with(self, suffix: builtins.str) -> "StringOp":
        """Literal suffix test."""
        return StringOp("ends_with", self.expr, suffix)

    def len_chars(self) -> "StringOp":
        """Character count."""
        return StringOp("len_chars", self.expr, None)

    def strip_chars(self) -> "StringOp":
        """Trim leading/trailing whitespace."""
        return StringOp("strip_chars", self.expr, None)

    def to_lowercase(self) -> "StringOp":
        return StringOp("to_lowercase", self.expr, None)

    def to_uppercase(self) -> "StringOp":
        return StringOp("to_uppercase", self.expr, None)

    def replace(self, pattern: builtins.str, value: builtins.str) -> "StringOp":
        """Regex replace-all."""
        return StringOp("replace", self.expr, (pattern, value))

    def extract(
        self, pattern: builtins.str, group_index: builtins.int = 0
    ) -> "StringOp":
        """Regex group extraction; no match yields null."""
        return StringOp("extract", self.expr, (pattern, group_index))

    def slice(
        self, offset: builtins.int, length: builtins.int | None = None
    ) -> "StringOp":
        """Substring with Python slice semantics (0-based, clamping)."""
        return StringOp("slice", self.expr, (offset, length))

    def count_matches(self, pattern: builtins.str) -> "StringOp":
        """Count non-overlapping regex matches."""
        return StringOp("count_matches", self.expr, pattern)


def _spark_slice(c: Column, args: tuple) -> Column:
    """Compile Python ``s[offset:offset+length]`` semantics to Spark.

    Python slicing clamps out-of-range indices instead of erroring or
    wrapping, so both bounds are normalized to 0-based clamped offsets
    before handing to 1-based ``substr``.
    """
    offset, length = args[0], args[1] if len(args) > 1 else None
    n = F.length(c)

    def clamp(i: builtins.int) -> Column:
        if i < 0:
            return F.greatest(n + F.lit(i), F.lit(0))
        return F.least(F.lit(i), n)

    begin = clamp(offset)
    end = n if length is None else clamp(offset + length)
    return c.substr(begin + 1, F.greatest(end - begin, F.lit(0)))


class StringOp(Expr):
    """String operation node dual-compiled to Spark and Python."""

    SPARK_OPS: dict[builtins.str, Callable[[Column, Any], Column]] = {
        "contains": lambda c, pattern: c.rlike(pattern),
        "starts_with": lambda c, prefix: c.startswith(prefix),
        "ends_with": lambda c, suffix: c.endswith(suffix),
        "len_chars": lambda c, _: F.length(c),
        "strip_chars": lambda c, _: F.regexp_replace(c, r"^\s+|\s+$", ""),
        "to_lowercase": lambda c, _: F.lower(c),
        "to_uppercase": lambda c, _: F.upper(c),
        "replace": lambda c, args: F.regexp_replace(c, args[0], args[1]),
        "extract": lambda c, args: F.when(
            c.rlike(args[0]), F.regexp_extract(c, args[0], args[1])
        ),
        "slice": _spark_slice,
        "count_matches": lambda c, pattern: F.regexp_count(c, F.lit(pattern)),
    }

    PYTHON_OPS: dict[builtins.str, Callable[[Any, Any], Any]] = {
        "contains": lambda v, pattern: (
            bool(re.search(pattern, v)) if v is not None else False
        ),
        "starts_with": lambda v, prefix: (
            v.startswith(prefix) if v is not None else False
        ),
        "ends_with": lambda v, suffix: (
            v.endswith(suffix) if v is not None else False
        ),
        "len_chars": lambda v, _: len(v) if v is not None else 0,
        "strip_chars": lambda v, _: v.strip() if v is not None else None,
        "to_lowercase": lambda v, _: v.lower() if v is not None else None,
        "to_uppercase": lambda v, _: v.upper() if v is not None else None,
        "replace": lambda v, args: (
            re.sub(args[0], args[1], v) if v is not None else None
        ),
        "extract": lambda v, args: (
            (lambda m: m.group(args[1]) if m else None)(re.search(args[0], v))
            if v is not None
            else None
        ),
        "slice": lambda v, args: (
            None
            if v is None
            else v[args[0]:]
            if len(args) < 2 or args[1] is None
            else v[args[0]: args[0] + args[1]]
        ),
        "count_matches": lambda v, pattern: (
            len(re.findall(pattern, v)) if v is not None else 0
        ),
    }

    def __init__(self, op: builtins.str, operand: Any, arg: Any = None):
        self.op = op
        self.operand = operand
        self.arg = arg

    def to_spark(self) -> Column:
        if self.op not in self.SPARK_OPS:
            raise ValueError(f"Unknown string op: {self.op}")
        return self.SPARK_OPS[self.op](self._to_spark(self.operand), self.arg)

    def to_python(self, values: Any) -> Any:
        if self.op not in self.PYTHON_OPS:
            raise ValueError(f"Unknown string op: {self.op}")
        return self.PYTHON_OPS[self.op](self._to_python(self.operand, values), self.arg)

    def __repr__(self) -> builtins.str:
        arg = self.arg
        args = () if arg is None else arg if isinstance(arg, tuple) else (arg,)
        return method_repr(self.operand, f"str.{self.op}", *args)
