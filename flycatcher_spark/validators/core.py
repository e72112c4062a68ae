"""Core validator DSL primitives: field references and result wrapping.

Capability parity with the reference
(``/root/reference/src/flycatcher/validators/core.py``): ``col(name)``
builds a ``FieldRef`` whose operator chains form an AST; every node
compiles to a Spark ``Column`` (``to_spark()``) for bulk validation
and evaluates as plain Python (``to_python(values)``) for row-level
(Pydantic) validation. ``ValidatorResult`` normalizes the three
model-validator return formats (bare expr / (expr, msg) tuple /
backend dict; reference core.py:113-197).
"""

from __future__ import annotations

import builtins
import inspect
import logging
from typing import Any

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


def call_model_validator(validator: Any, schema_cls: type) -> "ValidatorResult":
    """Call one ``@model_validator`` and normalise what it returns.

    The validator may be wrapped in ``classmethod``; it receives
    ``schema_cls`` when it declares a parameter.
    """
    func = validator.__func__ if isinstance(validator, classmethod) else validator
    takes_cls = len(inspect.signature(func).parameters) > 0
    return ValidatorResult(func(schema_cls) if takes_cls else func())


class ValidatorResult:
    """Normalizes model-validator return values across backends.

    Accepted formats:
    1. bare DSL expression  -> ``(expr, "Validation failed")``
    2. ``(expr, msg)`` tuple — expr may be a DSL node or a raw
       ``pyspark.sql.Column``
    3. ``{'spark': (Column|expr, msg), 'pydantic': callable}`` dict for
       backend-specific logic (the reference's ``'polars'`` key becomes
       ``'spark'`` here)
    """

    def __init__(self, result: Any):
        self.result = result

    def get_spark_validator(self) -> tuple[Any, str]:
        """Extract the bulk validator as an ``(expression, message)`` tuple.

        The expression is returned *uncompiled* (a DSL node, or a raw
        ``pyspark.sql.Column`` if the validator built one directly) so
        that validator construction never requires an active
        SparkSession; ``SparkValidator`` compiles at validate time.
        """
        if isinstance(self.result, dict):
            if "spark" not in self.result:
                raise ValueError(
                    "Dict validator must have 'spark' key. "
                    f"Got keys: {list(self.result.keys())}"
                )
            spark_val = self.result["spark"]
            if isinstance(spark_val, tuple):
                expr, msg = spark_val
                return (self._checked(expr), msg)
            return (self._checked(spark_val), "Validation failed")
        elif isinstance(self.result, tuple) and len(self.result) == 2:
            expr, msg = self.result
            return (self._checked(expr), msg)
        elif hasattr(self.result, "to_spark"):
            return (self.result, "Validation failed")
        else:
            raise ValueError(
                f"Invalid validator result type: {type(self.result).__name__}. "
                "Expected dict, tuple of (expr, msg), or object with "
                "'to_spark' method."
            )

    @staticmethod
    def _checked(expr: Any) -> Any:
        if hasattr(expr, "to_spark") or isinstance(expr, Column):
            return expr
        raise ValueError(
            f"Invalid expression in validator: {type(expr).__name__}. "
            "Expected DSL expression or pyspark.sql.Column."
        )

    def get_pydantic_validator(self) -> Any | None:
        """Extract the row-level validator callable, or None."""
        if isinstance(self.result, dict):
            if "pydantic" not in self.result:
                logger.warning(
                    "Dict validator does not have 'pydantic' key. "
                    "This validator will only be used for Spark validation."
                )
                return None
            return self.result["pydantic"]
        elif isinstance(self.result, tuple) and len(self.result) == 2:
            expr, msg = self.result
            if not hasattr(expr, "to_python"):
                return None

            def validator(values: Any) -> Any:
                try:
                    result = expr.to_python(values)
                    if not result:
                        raise ValueError(msg)
                    return values
                except ValueError:
                    raise
                except Exception as e:
                    raise ValueError(f"{msg}: {e}") from e

            return validator
        elif hasattr(self.result, "to_python"):
            node = self.result

            def validator(values: Any) -> Any:
                try:
                    result = node.to_python(values)
                    if not result:
                        raise ValueError("Validation failed")
                    return values
                except Exception as e:
                    raise ValueError(f"Validation failed: {e}") from e

            return validator
        else:
            return None

    def has_pydantic_validator(self) -> bool:
        """Whether a row-level (Pydantic) validator can be extracted."""
        return self.get_pydantic_validator() is not None
