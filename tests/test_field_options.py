"""Pins for every option of every field class.

Each case names an option a field class accepts and pins the literal
constraint message(s) it yields plus what it yields on the Pydantic
side: the field's ``Field`` metadata for kwarg options, the element's
``Field`` metadata for per-element bounds, and the validation error
for ``required_keys``. The guard tests check that ``Field()``'s
signature and the per-class option tables agree.
"""

from __future__ import annotations

import inspect
import re
from datetime import datetime
from typing import get_args

import pytest
from pydantic import ValidationError

from flycatcher_spark import Field, Schema
from flycatcher_spark.base import SchemaMeta
from flycatcher_spark.fields import _TYPE_MAP

T0 = datetime(2024, 1, 2, 3, 4, 5)
ARRAYS = [list[int], list[float], list[str], list[bool]]
MAPS = [dict[str, str], dict[str, int], dict[str, float], dict[str, bool]]

# (annotation, option, value, constraint message(s), Pydantic pin)
RANGE_CASES = [
    (int, "gt", 5, "x must be > 5", "[Gt(gt=5)]"),
    (int, "ge", 5, "x must be >= 5", "[Ge(ge=5)]"),
    (int, "lt", 5, "x must be < 5", "[Lt(lt=5)]"),
    (int, "le", 5, "x must be <= 5", "[Le(le=5)]"),
    (int, "multiple_of", 3, "x must be multiple of 3", "[MultipleOf(multiple_of=3)]"),
    (float, "gt", 2.5, "x must be > 2.5", "[Gt(gt=2.5)]"),
    (float, "ge", 2.5, "x must be >= 2.5", "[Ge(ge=2.5)]"),
    (float, "lt", 2.5, "x must be < 2.5", "[Lt(lt=2.5)]"),
    (float, "le", 2.5, "x must be <= 2.5", "[Le(le=2.5)]"),
    (datetime, "gt", T0, "x must be > 2024-01-02T03:04:05", f"[Gt(gt={T0!r})]"),
    (datetime, "ge", T0, "x must be >= 2024-01-02T03:04:05", f"[Ge(ge={T0!r})]"),
    (datetime, "lt", T0, "x must be < 2024-01-02T03:04:05", f"[Lt(lt={T0!r})]"),
    (datetime, "le", T0, "x must be <= 2024-01-02T03:04:05", f"[Le(le={T0!r})]"),
]

# (option, value, constraint message(s), Pydantic pin), per annotation
STRING_ROWS = [
    ("min_length", 2, "x must have at least 2 characters", "[MinLen(min_length=2)]"),
    ("max_length", 8, "x must have at most 8 characters", "[MaxLen(max_length=8)]"),
    (
        "pattern",
        "^[a-z]+$",
        "x must match pattern: ^[a-z]+$",
        "[_PydanticGeneralMetadata(pattern='^[a-z]+$')]",
    ),
]
ARRAY_ROWS = [
    ("min_items", 1, "x must have at least 1 items", "[MinLen(min_length=1)]"),
    ("max_items", 4, "x must have at most 4 items", "[MaxLen(max_length=4)]"),
    ("item_gt", 0, "x items must be > 0", "[Gt(gt=0)]"),
    ("item_ge", 0, "x items must be >= 0", "[Ge(ge=0)]"),
    ("item_lt", 0, "x items must be < 0", "[Lt(lt=0)]"),
    ("item_le", 0, "x items must be <= 0", "[Le(le=0)]"),
]
MAP_ROWS = [
    ("min_items", 1, "x must have at least 1 entries", "[MinLen(min_length=1)]"),
    ("max_items", 4, "x must have at most 4 entries", "[MaxLen(max_length=4)]"),
    (
        "required_keys",
        ["k", "j"],
        ["x must contain key 'k'", "x must contain key 'j'"],
        "x missing required keys: ['k', 'j']",
    ),
    ("item_gt", 0, "x values must be > 0", "[Gt(gt=0)]"),
    ("item_ge", 0, "x values must be >= 0", "[Ge(ge=0)]"),
    ("item_lt", 0, "x values must be < 0", "[Lt(lt=0)]"),
    ("item_le", 0, "x values must be <= 0", "[Le(le=0)]"),
]

CASES = [
    *RANGE_CASES,
    *[(str, *row) for row in STRING_ROWS],
    *[(a, *row) for a in ARRAYS for row in ARRAY_ROWS],
    *[(a, *row) for a in MAPS for row in MAP_ROWS],
]


def _schema(annotation, option, value) -> type[Schema]:
    namespace = {
        "__annotations__": {"x": annotation},
        "__module__": __name__,
        "x": Field(**{option: value}),
    }
    return SchemaMeta("S", (Schema,), namespace)


@pytest.mark.parametrize(
    "annotation, option, value, messages, pydantic",
    CASES,
    ids=[f"{_TYPE_MAP[a].__name__}-{o}" for a, o, *_ in CASES],
)
def test_option_message_and_pydantic(annotation, option, value, messages, pydantic):
    S = _schema(annotation, option, value)
    expected = [messages] if isinstance(messages, str) else messages
    assert S.to_spark_validator().describe_constraints() == expected

    model = S.to_pydantic()
    field = model.model_fields["x"]
    if option == "required_keys":
        with pytest.raises(ValidationError, match=re.escape(pydantic)):
            model(x={})
    elif option.startswith("item_"):
        element = get_args(field.annotation)[-1]
        assert repr(get_args(element)[1].metadata) == pydantic
    else:
        assert repr(field.metadata) == pydantic


FIELD_CLASSES = sorted(set(_TYPE_MAP.values()), key=lambda c: c.__name__)


def _all_options() -> set[str]:
    return set().union(*(cls.options for cls in FIELD_CLASSES))


def test_cases_cover_every_option_of_every_class():
    pinned = {(_TYPE_MAP[a], o) for a, o, *_ in CASES}
    owned = {(cls, o) for cls in FIELD_CLASSES for o in cls.options}
    assert pinned == owned


def test_field_signature_is_metadata_plus_options():
    from flycatcher_spark.fields import _METADATA

    assert set(inspect.signature(Field).parameters) == set(_METADATA) | _all_options()


@pytest.mark.parametrize("field_class", FIELD_CLASSES, ids=lambda c: c.__name__)
def test_field_class_rejects_options_it_does_not_own(field_class):
    for option in sorted(_all_options() - set(field_class.options)):
        with pytest.raises(TypeError, match=f"'{option}'"):
            field_class(**{option: 1})
