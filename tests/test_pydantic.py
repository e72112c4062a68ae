"""Pydantic row-level backend tests (reference: tests/generators/test_pydantic.py)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pydantic import ValidationError

from flycatcher_spark import Field, Schema, col, model_validator

from .conftest import ConstrainedSchema, SimpleSchema


class TestModelGeneration:
    def test_model_name(self):
        model = SimpleSchema.to_pydantic()
        assert model.__name__ == "SimpleModel"

    def test_valid_instance(self):
        model = SimpleSchema.to_pydantic()
        m = model(id=1, name="Alice", age=25)
        assert m.model_dump() == {"id": 1, "name": "Alice", "age": 25}

    def test_nullable_default(self):
        model = SimpleSchema.to_pydantic()
        m = model(id=1, name="Alice")
        assert m.age is None

    def test_missing_required_raises(self):
        model = SimpleSchema.to_pydantic()
        with pytest.raises(ValidationError):
            model(id=1)


class TestConstraints:
    def test_range_constraint(self):
        model = ConstrainedSchema.to_pydantic()
        with pytest.raises(ValidationError):
            model(
                id=0, name="A", age=25, price=1.0,
                email="a@b.com", created_at=datetime(2024, 1, 1),
            )

    def test_pattern_constraint(self):
        model = ConstrainedSchema.to_pydantic()
        with pytest.raises(ValidationError):
            model(
                id=1, name="A", age=25, price=1.0,
                email="not-an-email", created_at=datetime(2024, 1, 1),
            )

    def test_length_constraint(self):
        model = ConstrainedSchema.to_pydantic()
        with pytest.raises(ValidationError):
            model(
                id=1, name="", age=25, price=1.0,
                email="a@b.com", created_at=datetime(2024, 1, 1),
            )

    def test_default_applied(self):
        model = ConstrainedSchema.to_pydantic()
        m = model(
            id=1, name="A", age=25, price=1.0,
            email="a@b.com", created_at=datetime(2024, 1, 1),
        )
        assert m.is_active is True


class TestCrossFieldValidators:
    def test_dsl_validator_runs_per_row(self):
        class BookingSchema(Schema):
            check_in: int
            check_out: int

            @model_validator
            def ordered():
                return (col("check_out") > col("check_in"),
                        "Check-out must be after check-in")

        model = BookingSchema.to_pydantic()
        assert model(check_in=1, check_out=2).check_out == 2
        with pytest.raises(ValidationError, match="Check-out must be after check-in"):
            model(check_in=2, check_out=1)

    def test_dict_format_pydantic_callable(self):
        class S(Schema):
            a: int

            @model_validator
            def even():
                def check(m):
                    if m.a % 2 != 0:
                        raise ValueError("a must be even")
                    return m

                return {"spark": (col("a") % 2 == 0, "a must be even"),
                        "pydantic": check}

        model = S.to_pydantic()
        assert model(a=2).a == 2
        with pytest.raises(ValidationError, match="a must be even"):
            model(a=3)

    def test_string_op_in_row_validator(self):
        class S(Schema):
            email: str

            @model_validator
            def email_shape():
                return (col("email").str.contains(r"^[^@]+@[^@]+$"),
                        "bad email")

        model = S.to_pydantic()
        assert model(email="a@b").email == "a@b"
        with pytest.raises(ValidationError, match="bad email"):
            model(email="nope")


    def test_bare_validator_error_states_its_message_once(self):
        class S(Schema):
            a: int

            @model_validator
            def positive():
                return col("a") > 0

        with pytest.raises(ValidationError) as exc:
            S.to_pydantic()(a=-1)
        assert "Value error, Validation failed [" in str(exc.value)

    def test_validation_error_names_the_model(self):
        class BookingSchema(Schema):
            check_in: int
            check_out: int

            @model_validator
            def ordered():
                return (col("check_out") > col("check_in"), "out before in")

        model = BookingSchema.to_pydantic()
        with pytest.raises(ValidationError) as exc:
            model(check_in=2, check_out=1)
        assert str(exc.value).splitlines()[0] == "1 validation error for BookingModel"

    def test_invalid_result_type_raises_in_both_generators(self):
        class S(Schema):
            a: int

            @model_validator
            def bad():
                return 5

        with pytest.raises(ValueError, match="Invalid validator result type: int"):
            S.to_pydantic()
        with pytest.raises(ValueError, match="Invalid validator result type: int"):
            S.to_spark_validator()

    def test_pydantic_only_dict_builds_a_model_but_no_spark_validator(self):
        class S(Schema):
            a: int

            @model_validator
            def even():
                def check(m):
                    if m.a % 2 != 0:
                        raise ValueError("a must be even")
                    return m

                return {"pydantic": check}

        model = S.to_pydantic()
        assert model(a=2).a == 2
        with pytest.raises(ValidationError, match="a must be even"):
            model(a=3)
        with pytest.raises(ValueError, match="Dict validator must have 'spark' key"):
            S.to_spark_validator()


class TestPandasUdfBridge:
    def test_validity_udf(self, spark):
        from pyspark.sql import functions as F

        from flycatcher_spark.generators.pydantic import as_pandas_udf

        class S(Schema):
            a: int = Field(ge=0)
            b: str = Field(min_length=1)

        df = spark.createDataFrame([(1, "x"), (-1, "y"), (2, "")], ["a", "b"])
        udf = as_pandas_udf(S)
        out = df.withColumn("ok", udf(F.struct("a", "b"))).collect()
        assert [r["ok"] for r in out] == [True, False, False]
