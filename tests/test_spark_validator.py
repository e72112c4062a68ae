"""End-to-end SparkValidator pipeline tests.

Mirrors the reference's generator tests
(``/root/reference/tests/generators/test_polars.py``): strict raise /
non-strict filter behavior, null handling modes, default injection,
fill_nulls, schema coercion, and cross-field validators — plus this
engine's extensions (validate_lazy, flag_violations, check_unique).
"""

from __future__ import annotations

import logging
import sys
import uuid
import warnings
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from datetime import date, datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flycatcher_spark import Field, Schema, col, model_validator
from flycatcher_spark.streaming import windowed_quality

from .conftest import ConstrainedSchema, DefaultsSchema, SimpleSchema


class TestBasicValidation:
    def test_valid_passes_strict(self, spark, valid_df):
        v = SimpleSchema.to_spark_validator()
        out = v.validate(valid_df, strict=True)
        assert out.count() == 3

    def test_output_schema_types(self, spark, valid_df):
        v = SimpleSchema.to_spark_validator()
        out = v.validate(valid_df)
        assert out.schema["id"].dataType == T.LongType()
        assert out.schema["name"].dataType == T.StringType()
        assert out.schema["age"].dataType == T.LongType()

    def test_missing_required_column_raises(self, spark):
        df = spark.createDataFrame([(1,)], ["id"])
        v = SimpleSchema.to_spark_validator()
        with pytest.raises(ValueError, match="Missing required columns"):
            v.validate(df)

    def test_missing_columns_named_in_schema_order(self, spark):
        class Wide(Schema):
            z: int
            x: int
            k: int
            y: int

        df = spark.createDataFrame([(1,)], ["k"])
        with pytest.raises(ValueError) as err:
            Wide.to_spark_validator().validate(df)
        assert str(err.value) == "Missing required columns: {'z', 'x', 'y'}"

    def test_extra_columns_dropped_and_order_normalized(self, spark):
        df = spark.createDataFrame(
            [("x", 25, "Alice", 1)], ["junk", "age", "name", "id"]
        )
        v = SimpleSchema.to_spark_validator()
        out = v.validate(df)
        assert out.columns == ["id", "name", "age"]

    def test_lossy_cast_becomes_null(self, spark):
        """Cast failures coerce to null, then null handling applies."""
        df = spark.createDataFrame(
            [("not-a-number", "Alice", "30")], ["id", "name", "age"]
        )
        v = SimpleSchema.to_spark_validator()
        # id is non-nullable; the failed cast null gets filtered
        out = v.validate(df, strict=False)
        assert out.count() == 0

    def test_numeric_string_casts(self, spark):
        df = spark.createDataFrame([("1", "Alice", "30")], ["id", "name", "age"])
        v = SimpleSchema.to_spark_validator()
        row = v.validate(df).collect()[0]
        assert row["id"] == 1 and row["age"] == 30


class TestNullHandling:
    def test_nullable_nulls_preserved(self, spark):
        df = spark.createDataFrame(
            [(1, "Alice", None)],
            T.StructType([
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField("age", T.LongType(), True),
            ]),
        )
        v = SimpleSchema.to_spark_validator()
        out = v.validate(df, strict=True)
        assert out.collect()[0]["age"] is None

    def test_non_nullable_null_strict_raises(self, spark):
        df = spark.createDataFrame(
            [(1, None, 30), (2, "Bob", 31)],
            T.StructType([
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType(), True),
                T.StructField("age", T.LongType(), True),
            ]),
        )
        v = SimpleSchema.to_spark_validator()
        with pytest.raises(
            ValueError, match="Column 'name' has 1 null values but is not nullable"
        ):
            v.validate(df, strict=True)

    def test_non_nullable_null_nonstrict_filters(self, spark):
        df = spark.createDataFrame(
            [(1, None, 30), (2, "Bob", 31)],
            T.StructType([
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType(), True),
                T.StructField("age", T.LongType(), True),
            ]),
        )
        v = SimpleSchema.to_spark_validator()
        out = v.validate(df, strict=False)
        assert [r["name"] for r in out.collect()] == ["Bob"]


class TestDefaults:
    def test_missing_defaulted_columns_injected(self, spark):
        df = spark.createDataFrame([(1,), (2,)], ["id"])
        v = DefaultsSchema.to_spark_validator()
        out = v.validate(df)
        rows = out.orderBy("id").collect()
        assert out.columns == ["id", "name", "count", "is_active", "created_at"]
        assert rows[0]["name"] == "unknown"
        assert rows[0]["count"] == 0
        assert rows[0]["is_active"] is True
        assert rows[0]["created_at"] == datetime(2024, 1, 1)

    def test_fill_nulls(self, spark):
        df = spark.createDataFrame(
            [(1, None, None), (2, "Bob", 5)],
            T.StructType([
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType(), True),
                T.StructField("count", T.LongType(), True),
            ]),
        )
        v = DefaultsSchema.to_spark_validator()
        out = v.validate(df, fill_nulls=True)
        rows = out.orderBy("id").collect()
        assert rows[0]["name"] == "unknown"
        assert rows[0]["count"] == 0
        assert rows[1]["name"] == "Bob"
        assert rows[1]["count"] == 5

    def test_without_fill_nulls_non_nullable_default_field_filters(self, spark):
        df = spark.createDataFrame(
            [(1, None, None)],
            T.StructType([
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType(), True),
                T.StructField("count", T.LongType(), True),
            ]),
        )
        v = DefaultsSchema.to_spark_validator()
        out = v.validate(df, strict=False)
        assert out.count() == 0


class TestConstraints:
    def test_strict_first_violation_in_declaration_order(
        self, spark, constrained_invalid_df
    ):
        v = ConstrainedSchema.to_spark_validator()
        with pytest.raises(ValueError) as exc:
            v.validate(constrained_invalid_df, strict=True)
        msg = str(exc.value)
        assert "Constraint violation: id must be >= 1" in msg
        assert "Found 1 violations" in msg
        assert "Sample violations" in msg

    def test_nonstrict_filters_all_violations(self, spark, constrained_invalid_df):
        v = ConstrainedSchema.to_spark_validator()
        out = v.validate(constrained_invalid_df, strict=False)
        assert [r["id"] for r in out.orderBy("id").collect()] == [4]

    def test_violation_diagnostics(self, spark, constrained_invalid_df):
        v = ConstrainedSchema.to_spark_validator()
        v.validate(constrained_invalid_df, strict=False)
        by_msg = {x["constraint"]: x["count"] for x in v.last_violations}
        assert by_msg == {
            "id must be >= 1": 1,
            "name must have at least 1 characters": 1,
            "age must be <= 120": 1,
        }

    def test_show_violations_collects_rows(self, spark, constrained_invalid_df):
        v = ConstrainedSchema.to_spark_validator()
        v.validate(constrained_invalid_df, strict=False, show_violations=True)
        assert all(x["rows"] is not None for x in v.last_violations)

    def test_show_violations_samples_fail_their_constraint(self, spark):
        class S(Schema):
            id: int = Field(ge=1)
            age: int = Field(le=120)

        rows = (
            [(i, 30) for i in range(1, 21)]
            + [(-i, 30) for i in range(12)]
            + [(100 + i, 200 + i) for i in range(3)]
        )
        df = spark.createDataFrame(rows, ["id", "age"])
        fails = {
            "id must be >= 1": lambda r: r.id < 1,
            "age must be <= 120": lambda r: r.age > 120,
        }
        v = S.to_spark_validator()
        v.validate(df, strict=False)
        plain = [(x["constraint"], x["count"]) for x in v.last_violations]
        v.validate(df, strict=False, show_violations=True)
        shown = v.last_violations
        assert [(x["constraint"], x["count"]) for x in shown] == plain
        assert dict(plain) == {"id must be >= 1": 12, "age must be <= 120": 3}
        for x in shown:
            assert len(x["rows"]) == min(10, x["count"])
            assert all(fails[x["constraint"]](r) for r in x["rows"])

    def test_failed_sample_fetch_raises_on_read(self, spark):
        """Counting never brings rows to Python; a sample fetch does, and
        a date beyond year 9999 cannot become a Python ``date``."""

        class S(Schema):
            id: int = Field(le=0)
            d: date

        far = F.expr("date_add(DATE'2000-01-01', CAST(id AS INT) * 3000000)")
        df = spark.range(3).select("id", far.alias("d"))
        v = S.to_spark_validator()
        out = v.validate(df, strict=False, show_violations=True)
        assert out.count() == 1
        with pytest.raises(ValueError, match="out of range"):
            v.last_violations

    def test_valid_passes_constraints_strict(self, spark, constrained_valid_df):
        v = ConstrainedSchema.to_spark_validator()
        assert v.validate(constrained_valid_df, strict=True).count() == 2

    def test_describe_constraints(self):
        v = ConstrainedSchema.to_spark_validator()
        msgs = v.describe_constraints()
        assert "id must be >= 1" in msgs
        assert "name must have at least 1 characters" in msgs
        assert "name must have at most 100 characters" in msgs
        assert "age must be >= 0" in msgs
        assert "age must be <= 120" in msgs
        assert "price must be > 0.0" in msgs
        assert r"email must match pattern: ^[^@]+@[^@]+\.[^@]+$" in msgs

    def test_constraint_nulls_are_not_violations(self, spark):
        """Null predicate results: not counted, not filtered."""

        class S(Schema):
            x: float | None = Field(nullable=True, ge=0.0)

        df = spark.createDataFrame(
            [(None,), (1.0,)],
            T.StructType([T.StructField("x", T.DoubleType(), True)]),
        )
        v = S.to_spark_validator()
        out = v.validate(df, strict=False)
        # no true violations -> no filter applied -> null row survives
        assert out.count() == 2


class TestCrossFieldValidators:
    def test_tuple_format(self, spark):
        class DateRangeSchema(Schema):
            start_date: date
            end_date: date

            @model_validator
            def dates_ordered():
                return (col("end_date") > col("start_date"),
                        "end_date must be after start_date")

        good = (date(2024, 1, 1), date(2024, 1, 2))
        bad = (date(2024, 1, 2), date(2024, 1, 1))
        df = spark.createDataFrame([good, bad], ["start_date", "end_date"])
        v = DateRangeSchema.to_spark_validator()
        out = v.validate(df, strict=False)
        assert out.count() == 1
        with pytest.raises(ValueError, match="end_date must be after start_date"):
            v.validate(df, strict=True)

    def test_bare_expression_format(self, spark):
        class S(Schema):
            a: int

            @model_validator
            def positive():
                return col("a") > 0

        df = spark.createDataFrame([(1,), (-1,)], ["a"])
        v = S.to_spark_validator()
        with pytest.raises(ValueError, match="Validation failed"):
            v.validate(df, strict=True)

    def test_dict_format_with_raw_column(self, spark):
        class S(Schema):
            a: int

            @model_validator
            def via_dict():
                return {
                    "spark": (F.col("a") % 2 == 0, "a must be even"),
                    "pydantic": lambda m: m.a % 2 == 0,
                }

        df = spark.createDataFrame([(2,), (3,)], ["a"])
        v = S.to_spark_validator()
        out = v.validate(df, strict=False)
        assert [r["a"] for r in out.collect()] == [2]

    def test_classmethod_validator(self, spark):
        class S(Schema):
            a: int

            @classmethod
            @model_validator
            def check(cls):
                return (col("a") < 100, "too big")

        df = spark.createDataFrame([(5,), (500,)], ["a"])
        out = S.to_spark_validator().validate(df, strict=False)
        assert out.count() == 1

    def test_unevaluable_constraint_skipped(self, spark):
        """V7: analysis errors demote to warnings, not failures."""

        class S(Schema):
            a: int

            @model_validator
            def broken():
                return (col("nonexistent_column") > 0, "refers to missing col")

        df = spark.createDataFrame([(1,)], ["a"])
        out = S.to_spark_validator().validate(df, strict=True)
        assert out.count() == 1  # constraint skipped with a warning

    def test_runtime_error_constraint_skipped(self, spark, caplog):
        """A constraint that errors only on real data fails the merged
        count job; the per-aggregate retry skips it alone."""

        class S(Schema):
            a: int = Field(ge=0)

            @model_validator
            def explodes():
                boom = F.raise_error(F.lit("boom"))
                return (
                    F.when(F.col("a") > 2, boom).otherwise(F.lit(True)),
                    "a must not explode",
                )

        df = spark.createDataFrame([(1,), (-1,), (5,)], ["a"])
        v = S.to_spark_validator()
        with caplog.at_level(logging.WARNING):
            out = v.validate(df, strict=False)
        assert sorted(r["a"] for r in out.collect()) == [1, 5]
        assert [(x["constraint"], x["count"]) for x in v.last_violations] == [
            ("a must be >= 0", 1)
        ]
        assert any("boom" in r.getMessage() for r in caplog.records)


    def test_skip_warnings_name_each_constraint_id(self, spark, caplog):
        class Ghosts(Schema):
            id: int

            @model_validator
            def ghost_a():
                return col("no_a") > 0

            @model_validator
            def ghost_b():
                return col("no_b") > 0

        df = spark.createDataFrame([(1,)], ["id"])
        with caplog.at_level(logging.WARNING):
            Ghosts.to_spark_validator().validate(df)
        skipped = [
            r.getMessage()
            for r in caplog.records
            if r.getMessage().startswith(
                "Could not evaluate constraint 'Validation failed'"
            )
        ]
        assert len(skipped) == 2
        assert "(id ghost_a#0)" in skipped[0]
        assert "(id ghost_b#1)" in skipped[1]


class TestConstraintRecords:
    def test_ids_name_options_keys_and_validators(self):
        class S(Schema):
            a: int = Field(ge=0, le=9)
            m: dict[str, int] = Field(required_keys=["k1", "k2"], min_items=2)

            @model_validator
            def a_small():
                return col("a") < 5

            @classmethod
            @model_validator
            def a_odd(cls):
                return (col("a") % 2 == 1, "a must be odd")

        assert [(c.id, c.message) for c in S._constraints()] == [
            ("a.ge", "a must be >= 0"),
            ("a.le", "a must be <= 9"),
            ("m.min_items", "m must have at least 2 entries"),
            ("m.required_keys[k1]", "m must contain key 'k1'"),
            ("m.required_keys[k2]", "m must contain key 'k2'"),
            ("a_small#0", "Validation failed"),
            ("a_odd#1", "a must be odd"),
        ]

    def test_bare_validators_report_distinct_ids(self, spark):
        class S(Schema):
            a: int
            b: int

            @model_validator
            def a_positive():
                return col("a") > 0

            @model_validator
            def b_positive():
                return col("b") > 0

        df = spark.createDataFrame([(1, -1), (-1, 1), (-1, -1)], "a long, b long")
        v = S.to_spark_validator()
        assert v.validate(df, strict=False).count() == 0
        assert [(x["id"], x["constraint"], x["count"]) for x in v.last_violations] == [
            ("a_positive#0", "Validation failed", 2),
            ("b_positive#1", "Validation failed", 2),
        ]

    def test_model_validators_run_once_per_schema_class(self):
        calls = []

        class Parent(Schema):
            a: int

            @model_validator
            def positive():
                calls.append("positive")
                return col("a") > 0

        class Child(Parent):
            b: int

        for _ in range(2):
            Parent.to_spark_validator()
            Parent.to_pydantic()
        assert calls == ["positive"]
        for _ in range(2):
            Child.to_spark_validator()
            Child.to_pydantic()
        assert calls == ["positive", "positive"]  # a subclass builds its own
        assert Child._constraints() is not Parent._constraints()

    def test_concurrent_first_builds_run_each_validator_once(self):
        calls = []

        class S(Schema):
            a: int

            @model_validator
            def positive():
                calls.append("positive")
                return col("a") > 0

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            with ThreadPoolExecutor(16) as pool:
                built = list(pool.map(lambda _: S._constraints(), range(64)))
        finally:
            sys.setswitchinterval(interval)
        assert calls == ["positive"]
        assert all(records is built[0] for records in built)

    def test_nullable_default_warning_names_the_schema_once(self):
        class Profile(Schema):
            bio: str | None = "n/a"

        with pytest.warns(UserWarning, match=r"Field 'Profile\.bio' is nullable"):
            Profile.to_spark_validator()
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            Profile.to_spark_validator()
            Profile.to_pydantic()


class TestScaleFastPaths:
    def test_validate_lazy_same_rows_as_nonstrict(self, spark, constrained_invalid_df):
        v = ConstrainedSchema.to_spark_validator()
        eager = v.validate(constrained_invalid_df, strict=False)
        lazy = v.validate_lazy(constrained_invalid_df)
        assert sorted(r["id"] for r in eager.collect()) == sorted(
            r["id"] for r in lazy.collect()
        )

    def test_validate_lazy_keeps_null_rows_of_violated_constraint(self, spark):
        """A null predicate of a violated constraint: ``validate`` applies
        the constraint as a filter and drops the row, ``validate_lazy``
        keeps it (true-or-null); neither counts it."""

        class S(Schema):
            id: int
            age: int | None = Field(le=120)

        df = spark.createDataFrame([(1, 30), (2, None), (3, 200)], "id long, age long")
        v = S.to_spark_validator()
        eager = v.validate(df, strict=False)
        assert [(x["constraint"], x["count"]) for x in v.last_violations] == [
            ("age must be <= 120", 1)
        ]
        assert sorted(r.id for r in eager.collect()) == [1]
        assert sorted(r.id for r in v.validate_lazy(df).collect()) == [1, 2]

    def test_validate_lazy_runs_no_jobs(self, spark, constrained_valid_df):
        v = ConstrainedSchema.to_spark_validator()
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup() or [])
        v.validate_lazy(constrained_valid_df)  # no action triggered
        after = len(tracker.getJobIdsForGroup() or [])
        assert before == after

    def test_flag_violations(self, spark, constrained_invalid_df):
        v = ConstrainedSchema.to_spark_validator()
        flagged = v.flag_violations(constrained_invalid_df)
        assert flagged.count() == 4  # nothing dropped
        bad = flagged.filter(F.size("_violations") > 0)
        assert bad.count() == 3
        msgs = {
            m for r in bad.collect() for m in r["_violations"]
        }
        assert "id must be >= 1" in msgs
        assert "age must be <= 120" in msgs

    def test_check_unique(self, spark):
        class S(Schema):
            id: int = Field(primary_key=True)
            email: str = Field(unique=True)
            note: str

        df = spark.createDataFrame(
            [(1, "a@x.com", "n1"), (1, "b@x.com", "n2"), (3, "a@x.com", "n3")],
            ["id", "email", "note"],
        )
        dupes = S.to_spark_validator().check_unique(df)
        assert dupes == {"id": 1, "email": 1}


class MixedChecks(Schema):
    """A null check, a nullable constrained field, two bare validators,
    a raw-``Column`` validator and one that cannot resolve."""

    id: int
    a: int
    b: int | None = Field(default=None, le=10)
    ts: datetime

    @model_validator
    def a_positive():
        return col("a") > 0

    @model_validator
    def b_small():
        return col("b") < 100

    @model_validator
    def a_not_five():
        return (F.col("a") != 5, "a must not be 5")

    @model_validator
    def ghost():
        return (col("no_such_column") > 0, "no_such_column must be > 0")


class TestEntryPointsAgree:
    @pytest.fixture
    def mixed_df(self, spark):
        ts = datetime(2024, 1, 1, 10, 0, 0)
        return spark.createDataFrame(
            [
                (1, 1, 3, ts),  # valid
                (2, None, 3, ts),  # null in non-nullable a
                (3, -1, 20, ts),  # a_positive and b.le
                (4, 5, None, ts),  # a_not_five; b.le and b_small null
                (5, 200, 150, ts),  # b.le and b_small
                (6, 2, None, ts),  # valid, b null
            ],
            "id long, a long, b long, ts timestamp_ntz",
        )

    def test_outputs_agree(self, spark, mixed_df):
        v = MixedChecks.to_spark_validator()
        flagged = {r.id: r._violations for r in v.flag_violations(mixed_df).collect()}
        lazy = sorted(r.id for r in v.validate_lazy(mixed_df).collect())
        assert sorted(i for i, f in flagged.items() if not f) == lazy == [1, 6]

        # each message's window count is the flagged count of that message
        (window,) = windowed_quality(mixed_df, v, ts_col="ts").collect()
        windowed: Counter[str] = Counter()
        for i, message in enumerate(v.describe_constraints()):
            windowed[message] += window[f"viol_{i}"]
        in_flags = Counter(m for f in flagged.values() for m in f)
        for message in v.describe_constraints():
            assert windowed[message] == in_flags[message], message
        assert windowed["Validation failed"] == 2
        assert windowed["no_such_column must be > 0"] == 0

        # validate counts the flags of rows that pass every null check
        v.validate(mixed_df, strict=False)
        counted: Counter[str] = Counter()
        for x in v.last_violations:
            counted[x["constraint"]] += x["count"]
        null_flag = "a must not be null"
        assert counted == Counter(
            m for f in flagged.values() if null_flag not in f for m in f
        )
        assert [x["id"] for x in v.last_violations] == [
            "b.le",
            "a_positive#0",
            "b_small#1",
            "a_not_five#2",
        ]

    def test_windowed_quality_keeps_undeclared_columns(self, spark):
        """``ts_col`` and ``value_cols`` outside the schema survive the
        coercion; the validator outputs still drop them."""

        class NoTs(Schema):
            id: int
            a: int = Field(gt=0)

        ts = datetime(2024, 1, 1, 10, 0, 0)
        df = spark.createDataFrame(
            [(1, 1, ts, None), (2, -1, ts, 3.0)],
            "id long, a long, ts timestamp_ntz, extra double",
        )
        v = NoTs.to_spark_validator()
        (row,) = windowed_quality(
            df, v, ts_col="ts", value_cols=["extra"]
        ).collect()
        assert (row.n_rows, row.nulls_extra, row.viol_0) == (2, 1, 1)
        assert v.validate_lazy(df).columns == ["id", "a"]
        assert v.flag_violations(df).columns == ["id", "a", "_violations"]

    def test_job_counts(self, spark, mixed_df, constrained_valid_df):
        """One count job per ``validate`` call, plus one sample job per
        violated constraint with ``show_violations``; the lazy outputs
        run none. On one partition the count aggregate needs no shuffle
        stage and each sample one job."""
        sc = spark.sparkContext
        df = mixed_df.coalesce(1)

        def jobs(action) -> int:
            group = f"entry_jobs_{uuid.uuid4().hex}"
            sc.setJobGroup(group, group)
            try:
                action()
                return len(sc.statusTracker().getJobIdsForGroup(group))
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        v = MixedChecks.to_spark_validator()
        assert jobs(lambda: v.validate(df, strict=False)) == 1

        def with_samples() -> None:
            v.validate(df, strict=False, show_violations=True)
            assert len(v.last_violations) == 4

        assert jobs(with_samples) == 1 + 4
        clean = ConstrainedSchema.to_spark_validator()
        assert jobs(lambda: clean.validate(constrained_valid_df.coalesce(1))) == 1
        assert jobs(lambda: v.validate_lazy(df)) == 0
        assert jobs(lambda: v.flag_violations(df)) == 0


class TestPlanQuality:
    def test_validation_is_single_filter_over_scan(self, spark, tmp_path):
        """The lazy plan should be filter+project over the file scan —
        no shuffles, no extra stages — so Catalyst can push predicates
        into the parquet reader."""
        path = str(tmp_path / "li")
        spark.createDataFrame(
            [(1, "A", 10)], ["id", "name", "age"]
        ).write.parquet(path)
        df = spark.read.parquet(path)
        v = SimpleSchema.to_spark_validator()
        out = v.validate(df, strict=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # no shuffle in a validation scan
