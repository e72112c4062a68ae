"""Field type definitions compiled to Spark types + Column constraints.

Capability parity with the reference's field layer
(``/root/reference/src/flycatcher/fields.py``): six primitive scalar
types (int, float, str, bool, datetime, date), Pydantic-style
``Field()`` metadata capture, and per-field declarative constraints.
Where the reference compiles constraints to ``pl.Expr`` via
``get_polars_constraints()`` (fields.py:397-422, 491-506, 573-604,
681-704), this engine records DSL nodes (``constraints()``) that
compile to ``pyspark.sql.Column``, so that constraint evaluation runs inside
Catalyst/Tungsten (whole-stage codegen, predicate pushdown) instead of
a single-node columnar kernel.

Each field class declares its constraint options once, in its
``options`` table (option name -> Pydantic kwarg name, or None when
the option reaches Pydantic through the type instead). The table
drives the constructor, the metaclass's filtering of ``Field()``
options, the Spark constraints and the Pydantic kwargs.
"""

from __future__ import annotations

from datetime import date, datetime
from typing import Annotated, Any, Callable, ClassVar

from pyspark.sql import types as T

from .validators.array import CollectionOp
from .validators.core import Constraint, FieldRef
from .validators.ops import BinaryOp, Expr, Lit

# Sentinel: distinguishes "no default provided" from "default is None".
_MISSING = object()

# Metadata every field class accepts, with its default. DB-only
# metadata (primary_key, unique, index, autoincrement, description)
# shapes DDL and is intentionally NOT validated by the bulk path,
# matching the reference's asymmetry (SURVEY.md §1.3).
_METADATA: dict[str, Any] = {
    "primary_key": False,
    "nullable": False,
    "default": _MISSING,
    "description": None,
    "unique": False,
    "index": False,
    "autoincrement": None,
}

# Bound options -> comparison symbol.
_BOUNDS = {"gt": ">", "ge": ">=", "lt": "<", "le": "<="}

# Count and per-element options shared by every collection field.
_COUNTS = {"min_items": "min_length", "max_items": "max_length"}
_ITEM_BOUNDS = {f"item_{k}": None for k in _BOUNDS}

# Python annotation type -> Field class (populated at module end).
_TYPE_MAP: dict[type, type["FieldBase"]] = {}


class FieldInfo:
    """Carrier for the metadata/constraints a ``Field()`` call set.

    Internal: the ``SchemaMeta`` metaclass merges a ``FieldInfo`` with
    the annotated Python type to pick and construct the concrete field
    class. Mirrors reference ``FieldInfo`` (fields.py:16-106).
    """

    def __init__(self, **options: Any):
        self.options = options


def Field(  # noqa: N802 - capitalized to match the Pydantic-style API
    default: Any = _MISSING,
    *,
    primary_key: bool = False,
    nullable: bool = False,
    description: str | None = None,
    unique: bool = False,
    index: bool = False,
    autoincrement: bool | None = None,
    gt: int | float | datetime | None = None,
    ge: int | float | datetime | None = None,
    lt: int | float | datetime | None = None,
    le: int | float | datetime | None = None,
    multiple_of: int | None = None,
    min_length: int | None = None,
    max_length: int | None = None,
    pattern: str | None = None,
    min_items: int | None = None,
    max_items: int | None = None,
    item_gt: int | float | None = None,
    item_ge: int | float | None = None,
    item_lt: int | float | None = None,
    item_le: int | float | None = None,
    required_keys: list[str] | None = None,
) -> Any:
    """Declare field metadata and constraints, Pydantic-style.

    Examples
    --------
        >>> from flycatcher_spark import Schema, Field
        >>> class UserSchema(Schema):
        ...     id: int = Field(primary_key=True)
        ...     age: int = Field(ge=0, le=120)
        ...     email: str = Field(pattern=r'^[^@]+@[^@]+\\.[^@]+$')
    """
    given = locals()
    # carry only what the call set: options still at their default
    # (None, or the metadata default) are left out
    return FieldInfo(**{k: v for k, v in given.items() if v is not _METADATA.get(k)})


class FieldBase:
    """Base class for all schema field types.

    Holds name/nullability/default plus DB-only metadata (primary_key,
    unique, index, autoincrement, description), and the class's own
    constraint options. Subclasses declare ``options`` and turn each
    set option into a constraint in ``_check``.
    """

    #: constraint option -> Pydantic ``Field`` kwarg name (None: the
    #: option shapes the Pydantic type instead, see get_pydantic_type)
    options: ClassVar[dict[str, str | None]] = {}

    primary_key: bool
    nullable: bool
    default: Any
    description: str | None
    unique: bool
    index: bool
    autoincrement: bool | None

    def __init__(self, **kwargs: Any):
        for key in kwargs:
            if key not in _METADATA and key not in self.options:
                raise TypeError(
                    f"{type(self).__name__}() got an unexpected keyword "
                    f"argument '{key}'"
                )
        for key, default in _METADATA.items():
            setattr(self, key, kwargs.get(key, default))
        for key in self.options:
            setattr(self, key, kwargs.get(key))
        self.name: str | None = None  # set by SchemaMeta
        self.validators: list[Callable] = []

    # -- type mapping -------------------------------------------------
    def get_python_type(self) -> Any:
        raise NotImplementedError

    def get_spark_dtype(self) -> T.DataType:
        """Spark SQL type for this field."""
        raise NotImplementedError

    def get_ddl_type(self) -> str:
        """ANSI-SQL-ish DDL type string for CREATE TABLE generation."""
        return self.get_spark_dtype().simpleString().upper()

    # -- Pydantic -----------------------------------------------------
    def get_pydantic_type(self) -> Any:
        """Annotation for the generated Pydantic model field."""
        return self.get_python_type()

    def get_pydantic_field_kwargs(self) -> dict[str, Any]:
        """Pydantic ``Field`` kwargs for the options that map to one."""
        return {
            kwarg: getattr(self, option)
            for option, kwarg in self.options.items()
            if kwarg is not None and getattr(self, option) is not None
        }

    # -- constraints --------------------------------------------------
    def constraints(self) -> list[Constraint]:
        """One record per set option, in ``options`` order.

        The id is ``<field>.<option>``; a list option (``required_keys``)
        gives one record per item, ``<field>.<option>[<item>]``. Nodes
        are DSL (session-free) and run after null handling, so they
        need not guard nulls (rows where the predicate evaluates to
        null are neither violations nor — unless another constraint
        fires — filtered). Pydantic enforces these options through the
        field itself, so no record carries a row check.
        """
        c = FieldRef(self.name)
        records = []
        for option in self.options:
            value = getattr(self, option)
            if value is None:
                continue
            items = (
                [(f"[{v}]", v) for v in value]
                if isinstance(value, (list, tuple))
                else [("", value)]
            )
            for suffix, item in items:
                node, message = self._check(c, option, item)
                records.append(
                    Constraint(f"{self.name}.{option}{suffix}", message, node, None)
                )
        return records

    def _check(self, c: FieldRef, option: str, value: Any) -> tuple[Expr, str]:
        """``(boolean DSL expression, error message)`` for one option value."""
        raise NotImplementedError

    def add_validator(self, func: Callable):
        """Attach a custom validator callable (kept for API parity)."""
        self.validators.append(func)
        return self


class _Range(FieldBase):
    """gt/ge/lt/le bounds, shared by numeric and datetime fields."""

    options: ClassVar[dict[str, str | None]] = {k: k for k in _BOUNDS}

    gt: Any
    ge: Any
    lt: Any
    le: Any

    #: Spark type the bound literal is cast to (None: uncast)
    bound_cast: ClassVar[T.DataType | None] = None

    def _format(self, bound: Any) -> str:
        return str(bound)

    def _check(self, c, option, bound):
        sym = _BOUNDS[option]
        return (
            BinaryOp(c, sym, Lit(bound, self.bound_cast)),
            f"{self.name} must be {sym} {self._format(bound)}",
        )


class Integer(_Range):
    """int field → Spark ``LongType`` with gt/ge/lt/le/multiple_of."""

    options = {**_Range.options, "multiple_of": "multiple_of"}

    multiple_of: int | None

    def get_python_type(self):
        return int

    def get_spark_dtype(self):
        return T.LongType()

    def _check(self, c, option, value):
        if option == "multiple_of":
            return (c % value == 0, f"{self.name} must be multiple of {value}")
        return super()._check(c, option, value)


class Float(_Range):
    """float field → Spark ``DoubleType`` with gt/ge/lt/le."""

    def get_python_type(self):
        return float

    def get_spark_dtype(self):
        return T.DoubleType()


class String(FieldBase):
    r"""str field → Spark ``StringType`` with length/pattern constraints.

    ``min_length``/``max_length`` count characters (``F.length`` on
    StringType counts characters, matching the reference's
    ``len_chars``). ``pattern`` is an unanchored regex search
    (``rlike``), matching the reference's ``str.contains``.
    """

    options = {k: k for k in ("min_length", "max_length", "pattern")}

    min_length: int | None
    max_length: int | None
    pattern: str | None

    def get_python_type(self):
        return str

    def get_spark_dtype(self):
        return T.StringType()

    def get_ddl_type(self) -> str:
        if self.max_length:
            return f"VARCHAR({self.max_length})"
        return "STRING"

    def _check(self, c, option, value):
        if option == "pattern":
            return (c.str.contains(value), f"{self.name} must match pattern: {value}")
        sym, word = (">=", "least") if option == "min_length" else ("<=", "most")
        return (
            BinaryOp(c.str.len_chars(), sym, value),
            f"{self.name} must have at {word} {value} characters",
        )


class Boolean(FieldBase):
    """bool field → Spark ``BooleanType``. Type-only (no constraints)."""

    def get_python_type(self):
        return bool

    def get_spark_dtype(self):
        return T.BooleanType()


class Datetime(_Range):
    """datetime field → Spark ``TimestampNTZType`` with range constraints.

    TimestampNTZ is chosen for parity with the reference's tz-naive
    semantics (Polars ``pl.Datetime`` is tz-naive; SURVEY.md §1.2).
    Literal datetimes become TIMESTAMP in Spark; bounds are cast to
    NTZ so the comparison stays timezone-free.
    """

    bound_cast = T.TimestampNTZType()

    def get_python_type(self):
        return datetime

    def get_spark_dtype(self):
        return T.TimestampNTZType()

    def _format(self, bound):
        return bound.isoformat()


class Date(FieldBase):
    """date field → Spark ``DateType``. Type-only (no constraints)."""

    def get_python_type(self):
        return date

    def get_spark_dtype(self):
        return T.DateType()


class _Collection(FieldBase):
    """Count bounds and per-element bounds, shared by ``Array`` and ``Map``.

    ``min_items``/``max_items`` bound the element count
    (``.arr.len()``); ``item_gt/ge/lt/le`` bound every element via the
    collection's extrema (``min() >= b`` == "all elements >= b") —
    single codegen'd expressions, no higher-order lambdas, and
    mirrorable in plain Python for the Pydantic bridge. A null
    collection passes constraints (null handling owns it), matching
    every scalar field.
    """

    options: ClassVar[dict[str, str | None]] = {**_COUNTS, **_ITEM_BOUNDS}

    min_items: int | None
    max_items: int | None
    item_gt: int | float | None
    item_ge: int | float | None
    item_lt: int | float | None
    item_le: int | float | None

    element_type: type = float  # overridden by concrete subclasses
    element_dtype: T.DataType = T.DoubleType()
    #: nouns for the count and for one element in messages
    count_noun: ClassVar[str] = "items"
    item_noun: ClassVar[str] = "items"
    #: extrema ops the lower and upper element bounds compare against
    extrema: ClassVar[tuple[str, str]] = ("arr.min", "arr.max")

    def _container(self, element: Any) -> Any:
        raise NotImplementedError

    def get_python_type(self):
        return self._container(self.element_type)

    def get_pydantic_type(self):
        """Container of ``Annotated[T, Field(...)]`` when item bounds exist."""
        bounds = {
            option.removeprefix("item_"): getattr(self, option)
            for option in _ITEM_BOUNDS
            if getattr(self, option) is not None
        }
        if not bounds:
            return self.get_python_type()
        from pydantic import Field as PydanticField

        element = Annotated[  # type: ignore[name-defined, valid-type]
            self.element_type, PydanticField(**bounds)
        ]
        return self._container(element)

    def _check(self, c, option, value):
        if option in _COUNTS:
            sym, word = (">=", "least") if option == "min_items" else ("<=", "most")
            return (
                BinaryOp(CollectionOp("arr.len", c), sym, Lit(value)),
                f"{self.name} must have at {word} {value} {self.count_noun}",
            )
        sym = _BOUNDS[option.removeprefix("item_")]
        lowest, highest = self.extrema
        extremum = CollectionOp(lowest if sym.startswith(">") else highest, c)
        return (
            BinaryOp(extremum, sym, Lit(value)),
            f"{self.name} {self.item_noun} must be {sym} {value}",
        )


class Array(_Collection):
    """``list[T]`` field → Spark ``ArrayType`` (§7 extension; the
    reference DSL is scalar-only)."""

    def _container(self, element):
        return list[element]  # type: ignore[name-defined, valid-type]

    def get_spark_dtype(self):
        return T.ArrayType(self.element_dtype, containsNull=True)


class Map(_Collection):
    """``dict[str, T]`` field → Spark ``MapType(string, T)`` (§7
    nested-type extension; JSON-object-shaped metadata columns).

    Count bounds count entries, ``required_keys`` demands specific
    keys, and item bounds bound every VALUE via map_values extrema.
    """

    options = {**_COUNTS, "required_keys": None, **_ITEM_BOUNDS}

    required_keys: list[str] | None

    element_type = str
    element_dtype = T.StringType()
    count_noun = "entries"
    item_noun = "values"
    extrema = ("map.min", "map.max")

    def _container(self, element):
        return dict[str, element]  # type: ignore[name-defined, valid-type]

    def get_pydantic_type(self):
        py_type = super().get_pydantic_type()
        if not self.required_keys:
            return py_type
        from pydantic import AfterValidator

        required = list(self.required_keys)
        fname = self.name

        def _check(v: dict) -> dict:
            missing = [k for k in required if k not in v]
            if missing:
                raise ValueError(f"{fname or 'map'} missing required keys: {missing}")
            return v

        return Annotated[py_type, AfterValidator(_check)]

    def get_spark_dtype(self):
        return T.MapType(T.StringType(), self.element_dtype, valueContainsNull=True)

    def _check(self, c, option, value):
        if option == "required_keys":
            return (
                CollectionOp("map.has_key", c, value),
                f"{self.name} must contain key '{value}'",
            )
        return super()._check(c, option, value)


class StrMap(Map):
    element_type = str
    element_dtype = T.StringType()


class IntMap(Map):
    element_type = int
    element_dtype = T.LongType()


class FloatMap(Map):
    element_type = float
    element_dtype = T.DoubleType()


class BoolMap(Map):
    element_type = bool
    element_dtype = T.BooleanType()


class IntArray(Array):
    element_type = int
    element_dtype = T.LongType()


class FloatArray(Array):
    element_type = float
    element_dtype = T.DoubleType()


class StrArray(Array):
    element_type = str
    element_dtype = T.StringType()


class BoolArray(Array):
    element_type = bool
    element_dtype = T.BooleanType()


_TYPE_MAP.update(
    {
        int: Integer,
        str: String,
        float: Float,
        bool: Boolean,
        datetime: Datetime,
        date: Date,
        list[int]: IntArray,
        list[float]: FloatArray,
        list[str]: StrArray,
        list[bool]: BoolArray,
        dict[str, str]: StrMap,
        dict[str, int]: IntMap,
        dict[str, float]: FloatMap,
        dict[str, bool]: BoolMap,
    }
)


def get_field_class_for_type(python_type: type) -> type[FieldBase] | None:
    """Look up the field class for a Python annotation type."""
    return _TYPE_MAP.get(python_type)
