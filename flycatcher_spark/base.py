"""Core ``Schema`` class: metaclass field collection + validators.

Capability parity with the reference
(``/root/reference/src/flycatcher/base.py``): Pydantic-style
annotation-driven field collection, ``T | None`` nullability
unwrapping, rejection of other unions and unsupported types,
``@model_validator`` collection (including classmethod-wrapped), and
the generator entry points. Two deliberate upgrades over the
reference:

- **Schema inheritance works.** The reference only scans the direct
  class body (its own TODO, base.py:24-27); here parent fields and
  model validators are merged along the MRO, child definitions
  overriding parents.
- The bulk generator is Spark (``to_spark_validator()``), and DDL
  generation targets Spark SQL (``to_ddl()`` / ``to_spark_schema()``)
  instead of SQLAlchemy.
"""

from __future__ import annotations

import threading
import types
import warnings
from typing import Any, Callable, Union, get_args, get_origin

from pyspark.sql import types as T

from .fields import (
    _METADATA,
    _MISSING,
    FieldBase,
    FieldInfo,
    get_field_class_for_type,
)
from .validators.core import Constraint, model_constraint

#: held while a schema class builds its constraint records; reentrant,
#: since a model validator may build another schema's records
_BUILD_LOCK = threading.RLock()


class SchemaMeta(type):
    """Metaclass that collects field definitions and validators.

    Fields are declared with Pydantic-style type annotations::

        class UserSchema(Schema):
            name: str
            age: int = Field(ge=0)
            bio: str | None = None
    """

    def __new__(mcs, name, bases, namespace):
        fields: dict[str, FieldBase] = {}
        model_validators: list[Callable] = []

        # Inherit from parents first (reverse MRO order so nearer
        # parents override farther ones; the current class body
        # overrides all parents).
        for base in reversed(bases):
            for klass in reversed(base.__mro__):
                base_fields = klass.__dict__.get("_own_fields")
                if base_fields:
                    fields.update(base_fields)
                base_validators = klass.__dict__.get("_own_model_validators")
                if base_validators:
                    for v in base_validators:
                        if v not in model_validators:
                            model_validators.append(v)

        own_fields: dict[str, FieldBase] = {}
        annotations = namespace.get("__annotations__", {})

        module_name = namespace.get("__module__")
        for field_name, type_hint in annotations.items():
            if field_name.startswith("_"):
                continue

            type_hint = _resolve_hint(type_hint, module_name)
            actual_type, nullable = _unwrap_optional(field_name, type_hint)
            class_value = namespace.get(field_name, _MISSING)

            if isinstance(class_value, FieldBase):
                raise TypeError(
                    f"Field '{field_name}': Explicit field style is not "
                    f"supported. Use Pydantic-style type annotations instead:\n"
                    f"  Instead of: {field_name} = "
                    f"{class_value.__class__.__name__}(...)\n"
                    f"  Use: {field_name}: {actual_type} = Field(...)"
                )

            field_class = get_field_class_for_type(actual_type)
            if field_class is None:
                raise TypeError(
                    f"Field '{field_name}': Unsupported type '{actual_type}'. "
                    f"Supported types: int, str, float, bool, datetime, date, "
                    f"list[int], list[float], list[str], list[bool], dict[str, ...]"
                )

            if isinstance(class_value, FieldInfo):
                # Options the annotated type does not own (e.g. pattern
                # on an int) are silently dropped, as in the reference
                # (base.py:140-169).
                kwargs = {
                    k: v
                    for k, v in class_value.options.items()
                    if k in _METADATA or k in field_class.options
                }
                if nullable:
                    kwargs["nullable"] = True
            else:
                kwargs = {"nullable": nullable}
                if class_value is not _MISSING:
                    kwargs["default"] = class_value
            field = field_class(**kwargs)

            field.name = field_name
            own_fields[field_name] = field

        fields.update(own_fields)

        own_validators: list[Callable] = []
        for _key, value in list(namespace.items()):
            if callable(value) and getattr(value, "_is_model_validator", False):
                own_validators.append(value)
            elif isinstance(value, classmethod):
                if getattr(value.__func__, "_is_model_validator", False):
                    own_validators.append(value)
        for v in own_validators:
            if v not in model_validators:
                model_validators.append(v)

        namespace["_own_fields"] = own_fields
        namespace["_own_model_validators"] = own_validators
        namespace["_fields"] = fields
        namespace["_model_validators"] = model_validators

        return super().__new__(mcs, name, bases, namespace)


def _resolve_hint(type_hint: Any, module_name: str | None) -> Any:
    """Materialize string annotations (``from __future__ import annotations``).

    Evaluates against the defining module's globals plus the supported
    primitive types, so ``"int | None"`` resolves the same as the
    live annotation object.
    """
    if not isinstance(type_hint, str):
        return type_hint
    import builtins
    import sys
    from datetime import date as _date
    from datetime import datetime as _datetime

    scope: dict[str, Any] = {"datetime": _datetime, "date": _date}
    if module_name and module_name in sys.modules:
        scope.update(vars(sys.modules[module_name]))
    try:
        return eval(type_hint, {"__builtins__": builtins}, scope)  # noqa: S307
    except Exception:
        return type_hint


def _unwrap_optional(field_name: str, type_hint: Any) -> tuple[Any, bool]:
    """Resolve ``T | None`` / ``Optional[T]`` to ``(T, nullable)``."""
    origin = get_origin(type_hint)
    is_union = origin is Union or isinstance(type_hint, types.UnionType)
    if not is_union:
        return type_hint, False

    args = get_args(type_hint)
    none_types = [a for a in args if a is type(None)]
    non_none = [a for a in args if a is not type(None)]
    if none_types and len(non_none) == 1:
        return non_none[0], True
    if len(non_none) > 1:
        raise TypeError(
            f"Field '{field_name}': Union types other than "
            f"Optional (T | None) are not supported. Got: {type_hint}"
        )
    return type_hint, False


class Schema(metaclass=SchemaMeta):
    """Base schema class for defining validated data models.

    Examples
    --------
        >>> from flycatcher_spark import Schema, Field, col, model_validator
        >>> from datetime import datetime
        >>> class UserSchema(Schema):
        ...     id: int = Field(primary_key=True)
        ...     name: str
        ...     bio: str | None = None
        ...     is_active: bool = True
        ...     age: int = Field(ge=0, le=120)
        ...
        ...     @model_validator
        ...     def sane_age():
        ...         return (col("age") < 200, "age out of range")
        >>> list(UserSchema.fields().keys())
        ['id', 'name', 'bio', 'is_active', 'age']
    """

    _fields: dict[str, FieldBase] = {}
    _model_validators: list[Callable] = []
    _constraint_records: list[Constraint]  # set by _constraints()

    @classmethod
    def fields(cls) -> dict[str, FieldBase]:
        """All fields declared on this schema (including inherited)."""
        return cls._fields.copy()

    @classmethod
    def model_validators(cls) -> list[Callable]:
        """All ``@model_validator`` functions (including inherited)."""
        return cls._model_validators.copy()

    @classmethod
    def _constraints(cls) -> list[Constraint]:
        """Every constraint of this schema: field options in field
        order, then model validators in declaration order.

        Built on first use and cached on this class (a subclass builds
        its own), so each model validator runs once per schema class
        and every generator reads the same records.
        """
        with _BUILD_LOCK:
            if "_constraint_records" in cls.__dict__:
                return cls._constraint_records
            records: list[Constraint] = []
            for name, field in cls._fields.items():
                if field.nullable and field.default is not _MISSING:
                    # the default fills only missing columns, not nulls
                    warnings.warn(
                        f"Field '{cls.__name__}.{name}' is nullable=True with "
                        "a default value. Default will only be used for missing "
                        "columns, not null values. Use fill_nulls=True in "
                        "validate() to replace nulls with defaults.",
                        UserWarning,
                        stacklevel=2,
                    )
                records.extend(field.constraints())
            for i, validator in enumerate(cls._model_validators):
                records.append(model_constraint(validator, cls, i))
            cls._constraint_records = records
            return records

    @classmethod
    def to_spark_schema(cls) -> T.StructType:
        """Compile this schema to a Spark ``StructType``.

        Constraint and DB metadata are carried in each
        ``StructField.metadata`` for downstream DDL/introspection.
        """
        struct_fields = []
        for field_name, field in cls._fields.items():
            metadata: dict[str, Any] = {}
            if field.description:
                metadata["description"] = field.description
            for attr in ("primary_key", "unique", "index"):
                if getattr(field, attr, False):
                    metadata[attr] = True
            if getattr(field, "max_length", None):
                metadata["max_length"] = field.max_length
            struct_fields.append(
                T.StructField(
                    field_name,
                    field.get_spark_dtype(),
                    nullable=field.nullable,
                    metadata=metadata,
                )
            )
        return T.StructType(struct_fields)

    @classmethod
    def to_spark_validator(cls):
        """Build a ``SparkValidator`` for bulk DataFrame validation."""
        from .generators.spark import create_spark_validator

        return create_spark_validator(cls)

    @classmethod
    def to_pydantic(cls) -> type:
        """Generate a Pydantic BaseModel (row-level validation path)."""
        from .generators.pydantic import create_pydantic_model

        return create_pydantic_model(cls)

    @classmethod
    def to_ddl(cls, table_name: str | None = None) -> str:
        """Generate a Spark SQL ``CREATE TABLE`` statement."""
        from .generators.ddl import create_table_ddl

        return create_table_ddl(cls, table_name=table_name)


def model_validator(func: Callable) -> Callable:
    """Decorator marking a function as a cross-field validator.

    The function may return:

    1. a DSL expression (compiles to both backends);
    2. an ``(expr, message)`` tuple;
    3. a ``{'spark': (Column|expr, msg), 'pydantic': callable}`` dict
       for backend-specific logic.

    It may optionally accept a ``cls`` parameter.

    Examples
    --------
        >>> from flycatcher_spark import Schema, col, model_validator
        >>> class BookingSchema(Schema):
        ...     check_in: int
        ...     check_out: int
        ...
        ...     @model_validator
        ...     def check_dates():
        ...         return (
        ...             col('check_out') > col('check_in'),
        ...             "Check-out must be after check-in"
        ...         )
    """
    func._is_model_validator = True  # type: ignore[attr-defined]
    return func
