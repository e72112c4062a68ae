"""Pydantic model generator — the row-level validation backend.

Capability parity with the reference
(``/root/reference/src/flycatcher/generators/pydantic.py``): field
constraints map to Pydantic ``Field`` kwargs, nullable fields become
``T | None``, and all cross-field validators run in a single
``@model_validator(mode="after")`` hook. This backend involves no
Spark at all — it's the per-row path for API/forms-style validation —
but ``as_pandas_udf`` exposes it inside Spark as a vectorized
validity-check column for the rare case where row-level logic must
run in the bulk path.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Union

from pydantic import BaseModel, create_model
from pydantic import Field as PydanticField
from pydantic import model_validator as pydantic_model_validator

from ..fields import _MISSING

if TYPE_CHECKING:  # pragma: no cover
    from ..base import Schema


def create_pydantic_model(schema_cls: "type[Schema]") -> type[BaseModel]:
    """Generate a Pydantic BaseModel from a Schema class."""
    fields = schema_cls.fields()
    pydantic_fields: dict[str, Any] = {}

    for field_name, field in fields.items():
        python_type: Any = field.get_pydantic_type()
        if field.nullable:
            python_type = Union[python_type, None]

        field_kwargs: dict[str, Any] = {}
        if field.description:
            field_kwargs["description"] = field.description
        if field.default is not _MISSING:
            field_kwargs["default"] = field.default
        field_kwargs.update(field.get_pydantic_field_kwargs())

        if field_kwargs:
            pydantic_fields[field_name] = (python_type, PydanticField(**field_kwargs))
        else:
            pydantic_fields[field_name] = (python_type, ...)

    model_name = schema_cls.__name__.removesuffix("Schema") + "Model"
    row_checks = [
        c.row_check for c in schema_cls._constraints() if c.row_check is not None
    ]
    if not row_checks:
        return create_model(model_name, **pydantic_fields)

    def validate_all(self):
        """Execute all custom model validators after field checks."""
        for check in row_checks:
            check(self)
        return self

    return create_model(
        model_name,
        __doc__="Pydantic model with custom cross-field validators.",
        __validators__={
            "validate_all": pydantic_model_validator(mode="after")(validate_all)
        },
        **pydantic_fields,
    )


def as_pandas_udf(schema_cls: "type[Schema]"):
    """Expose the row-level model as an Arrow-batched validity UDF.

    Returns a pandas UDF ``struct(cols...) -> boolean`` that
    instantiates the generated Pydantic model per row and yields
    whether it validated. Extension beyond the reference surface:
    lets genuinely row-level logic (the ``{'pydantic': callable}``
    validator format) participate in a Spark pipeline without
    row-at-a-time Python UDF overhead. Still the slow path vs. the
    compiled Column constraints — use only when semantics demand it.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    model = create_pydantic_model(schema_cls)

    # No type hints on the inner function: this module uses
    # ``from __future__ import annotations``, which would leave pandas_udf
    # with unevaluatable string hints; the explicit SCALAR default applies.
    def _validate(batch):
        out = []
        for row in batch.to_dict(orient="records"):
            try:
                model(**row)
                out.append(True)
            except Exception:
                out.append(False)
        return pd.Series(out)

    return pandas_udf(_validate, "boolean")
