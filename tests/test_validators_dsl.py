"""Differential DSL tests: Spark compilation vs Python evaluation.

The reference's most important test pattern (SURVEY.md §5 item 2):
evaluate the same expression through the columnar backend and the
Python backend and assert elementwise equality, including null and
NaN behavior. Fixture values mirror FIXTURES.md F9.
"""

from __future__ import annotations

import importlib
import importlib.util
import math
import warnings
from datetime import date, datetime
from pathlib import Path

import pytest
from pyspark.sql import types as T

from flycatcher_spark import col


def spark_eval(spark, expr, rows, schema):
    """Evaluate a DSL expression against one small Spark DataFrame."""
    df = spark.createDataFrame(rows, schema)
    return [r[0] for r in df.select(expr.to_spark().alias("out")).collect()]


def python_eval(expr, rows, names):
    return [expr.to_python(dict(zip(names, row))) for row in rows]


def assert_same(spark_out, python_out):
    assert len(spark_out) == len(python_out)
    for s, p in zip(spark_out, python_out):
        if s is None or p is None:
            assert s is None and p is None, f"{s!r} != {p!r}"
        elif isinstance(s, float) and isinstance(p, float) and math.isnan(s):
            assert math.isnan(p), f"{s!r} != {p!r}"
        elif isinstance(s, float) or isinstance(p, float):
            assert s == pytest.approx(p), f"{s!r} != {p!r}"
        else:
            assert s == p, f"{s!r} != {p!r}"


DOUBLE = T.StructType([T.StructField("value", T.DoubleType(), True)])
STR = T.StructType([T.StructField("s", T.StringType(), True)])


class TestComparisons:
    @pytest.mark.parametrize("expr_fn", [
        lambda c: c > 2.0,
        lambda c: c >= 2.0,
        lambda c: c < 2.0,
        lambda c: c <= 2.0,
        lambda c: c == 2.0,
        lambda c: c != 2.0,
    ])
    def test_comparisons(self, spark, expr_fn):
        rows = [(1.0,), (2.0,), (3.0,)]
        expr = expr_fn(col("value"))
        assert_same(
            spark_eval(spark, expr, rows, DOUBLE),
            python_eval(expr, rows, ["value"]),
        )

    def test_comparison_null_propagates_spark(self, spark):
        # three-valued logic on the bulk side: null input -> null result
        expr = col("value") > 2.0
        out = spark_eval(spark, expr, [(None,), (5.0,)], DOUBLE)
        assert out == [None, True]


class TestArithmetic:
    def test_arith_chain(self, spark):
        rows = [(1.5,), (2.0,), (4.0,)]
        expr = (col("value") * 2 + 1 - 0.5) / 2
        assert_same(
            spark_eval(spark, expr, rows, DOUBLE),
            python_eval(expr, rows, ["value"]),
        )

    def test_reflected_ops(self, spark):
        rows = [(2.0,), (5.0,)]
        expr = (1 - col("value")) * 3
        assert_same(
            spark_eval(spark, expr, rows, DOUBLE),
            python_eval(expr, rows, ["value"]),
        )

    def test_true_division(self, spark):
        schema = T.StructType([
            T.StructField("a", T.LongType(), True),
            T.StructField("b", T.LongType(), True),
        ])
        rows = [(7, 2), (9, 3)]
        expr = col("a") / col("b")
        out = spark_eval(spark, expr, rows, schema)
        assert out == [3.5, 3.0]  # int/int is true division, like the reference


class TestMathOps:
    def test_round_half_even(self, spark):
        """Banker's rounding pin (reference test_validators.py:177-186)."""
        rows = [(1.24,), (1.25,), (None,), (2.555,)]
        expr = col("value").round(1)
        s = spark_eval(spark, expr, rows, DOUBLE)
        p = python_eval(expr, rows, ["value"])
        assert_same(s, p)
        assert s[0] == 1.2
        assert s[1] == 1.2  # half-to-even, NOT 1.3

    def test_round_half_even_integers(self, spark):
        rows = [(0.5,), (1.5,), (2.5,), (3.5,)]
        expr = col("value").round(0)
        s = spark_eval(spark, expr, rows, DOUBLE)
        assert s == [0.0, 2.0, 2.0, 4.0]
        assert_same(s, python_eval(expr, rows, ["value"]))

    def test_floor_ceil(self, spark):
        rows = [(1.8,), (-1.2,), (None,)]
        for expr in (col("value").floor(), col("value").ceil()):
            assert_same(
                spark_eval(spark, expr, rows, DOUBLE),
                python_eval(expr, rows, ["value"]),
            )

    def test_floor_returns_double(self, spark):
        df = spark.createDataFrame([(1.8,)], DOUBLE)
        out = df.select(col("value").floor().to_spark().alias("f"))
        assert out.schema["f"].dataType == T.DoubleType()

    def test_sqrt_negative_is_nan(self, spark):
        """Negative sqrt -> NaN, not null (reference :207-220)."""
        rows = [(4.0,), (9.0,), (-1.0,), (None,)]
        expr = col("value").sqrt()
        s = spark_eval(spark, expr, rows, DOUBLE)
        assert s[0] == 2.0 and s[1] == 3.0
        assert math.isnan(s[2])
        assert s[3] is None
        assert_same(s, python_eval(expr, rows, ["value"]))

    def test_pow(self, spark):
        rows = [(2.0,), (3.0,), (None,)]
        expr = col("value").pow(3)
        assert_same(
            spark_eval(spark, expr, rows, DOUBLE),
            python_eval(expr, rows, ["value"]),
        )

    def test_abs(self, spark):
        rows = [(-2.5,), (2.5,), (None,)]
        expr = col("value").abs()
        assert_same(
            spark_eval(spark, expr, rows, DOUBLE),
            python_eval(expr, rows, ["value"]),
        )

    def test_round_decimals_validation(self):
        with pytest.raises(TypeError, match="decimals must be an integer"):
            col("x").round("bad").to_python({"x": 1.0})

    def test_pow_exponent_validation(self):
        with pytest.raises(TypeError, match="exponent must be a number"):
            col("x").pow("bad").to_python({"x": 1.0})


class TestNullOps:
    def test_is_null_is_not_null(self, spark):
        rows = [(1.0,), (None,)]
        for expr in (col("value").is_null(), col("value").is_not_null()):
            assert_same(
                spark_eval(spark, expr, rows, DOUBLE),
                python_eval(expr, rows, ["value"]),
            )


class TestStringOps:
    EMAILS = [("alice@example.com",), ("bogus",), (None,)]

    def test_contains(self, spark):
        expr = col("s").str.contains(r"^[^@]+@[^@]+\.[^@]+$")
        s = spark_eval(spark, expr, self.EMAILS, STR)
        assert s == [True, False, None]  # bulk side: null propagates

    def test_starts_ends_with(self, spark):
        rows = [("alice",), ("bob",), (None,)]
        s = spark_eval(spark, col("s").str.starts_with("al"), rows, STR)
        assert s == [True, False, None]
        s = spark_eval(spark, col("s").str.ends_with("ob"), rows, STR)
        assert s == [False, True, None]

    def test_len_chars(self, spark):
        rows = [("héllo",), ("",), (None,)]
        s = spark_eval(spark, col("s").str.len_chars(), rows, STR)
        assert s == [5, 0, None]  # character count, not bytes

    def test_strip_chars(self, spark):
        rows = [("  padded  ",), ("\tmixed \n",), (None,)]
        expr = col("s").str.strip_chars()
        assert_same(
            spark_eval(spark, expr, rows, STR),
            python_eval(expr, rows, ["s"]),
        )

    def test_case(self, spark):
        rows = [("MiXeD",), (None,)]
        for expr in (col("s").str.to_lowercase(), col("s").str.to_uppercase()):
            assert_same(
                spark_eval(spark, expr, rows, STR),
                python_eval(expr, rows, ["s"]),
            )

    def test_replace_regex_all(self, spark):
        rows = [("a1b2c3",), (None,)]
        expr = col("s").str.replace(r"\d", "#")
        s = spark_eval(spark, expr, rows, STR)
        assert s == ["a#b#c#", None]  # replace-all semantics
        assert_same(s, python_eval(expr, rows, ["s"]))

    def test_extract(self, spark):
        rows = [("order-123",), ("no digits",), (None,)]
        expr = col("s").str.extract(r"(\d+)", 1)
        s = spark_eval(spark, expr, rows, STR)
        assert s == ["123", None, None]  # no match -> null, not ""
        assert_same(s, python_eval(expr, rows, ["s"]))

    def test_extract_group0(self, spark):
        rows = [("abc123",)]
        expr = col("s").str.extract(r"\d+")
        assert spark_eval(spark, expr, rows, STR) == ["123"]

    @pytest.mark.parametrize("offset,length", [
        (0, 3), (2, 2), (2, None), (-3, None), (-3, 2), (0, 100), (8, 2),
    ])
    def test_slice(self, spark, offset, length):
        rows = [("hello world",), ("hi",), (None,)]
        expr = col("s").str.slice(offset, length)
        assert_same(
            spark_eval(spark, expr, rows, STR),
            python_eval(expr, rows, ["s"]),
        )

    def test_count_matches(self, spark):
        rows = [("abc123def456",), ("none here",), (None,)]
        expr = col("s").str.count_matches(r"\d+")
        s = spark_eval(spark, expr, rows, STR)
        assert s == [2, 0, None]  # bulk side propagates null

    def test_chaining(self, spark):
        """strip -> lower -> compare chains (reference :716-732)."""
        rows = [("  HELLO  ",), ("world",)]
        expr = col("s").str.strip_chars().str.to_lowercase() == "hello"
        assert_same(
            spark_eval(spark, expr, rows, STR),
            python_eval(expr, rows, ["s"]),
        )

    def test_len_on_chain_comparison(self, spark):
        rows = [("abcd",), ("x",)]
        expr = col("s").str.len_chars() >= 2
        assert_same(
            spark_eval(spark, expr, rows, STR),
            python_eval(expr, rows, ["s"]),
        )


class TestDatetimeOps:
    TS = T.StructType([T.StructField("ts", T.TimestampNTZType(), True)])

    def test_components(self, spark):
        rows = [
            (datetime(2024, 1, 2, 3, 4, 5),),
            (datetime(2023, 5, 6, 7, 8, 9),),
            (None,),
        ]
        for name in ("year", "month", "day", "hour", "minute", "second"):
            expr = getattr(col("ts").dt, name)()
            assert_same(
                spark_eval(spark, expr, rows, self.TS),
                python_eval(expr, rows, ["ts"]),
            )

    def test_components_on_date(self, spark):
        schema = T.StructType([T.StructField("d", T.DateType(), True)])
        rows = [(date(2024, 3, 15),)]
        assert spark_eval(spark, col("d").dt.year(), rows, schema) == [2024]
        assert spark_eval(spark, col("d").dt.month(), rows, schema) == [3]
        assert spark_eval(spark, col("d").dt.day(), rows, schema) == [15]

    def test_time_component_on_date_raises_python(self):
        with pytest.raises(ValueError, match="requires datetime"):
            col("d").dt.hour().to_python({"d": date(2024, 1, 1)})

    def test_total_days_literal_anchor(self, spark):
        """Whole-day anchor pin (reference :824-850)."""
        rows = [(datetime(2024, 1, 2),), (datetime(2024, 1, 3),), (None,)]
        expr = col("ts").dt.total_days(datetime(2024, 1, 1))
        s = spark_eval(spark, expr, rows, self.TS)
        assert s == [1.0, 2.0, None]
        assert_same(s, python_eval(expr, rows, ["ts"]))

    def test_total_days_fractional(self, spark):
        rows = [(datetime(2024, 1, 2, 12, 0, 0),)]
        expr = col("ts").dt.total_days(datetime(2024, 1, 1))
        s = spark_eval(spark, expr, rows, self.TS)
        assert s == [1.5]
        assert_same(s, python_eval(expr, rows, ["ts"]))

    def test_total_days_column_other(self, spark):
        schema = T.StructType([
            T.StructField("a", T.TimestampNTZType(), True),
            T.StructField("b", T.TimestampNTZType(), True),
        ])
        rows = [(datetime(2024, 1, 5), datetime(2024, 1, 1))]
        expr = col("a").dt.total_days(col("b"))
        assert spark_eval(spark, expr, rows, schema) == [4.0]


class TestMembership:
    def test_is_in_basic(self, spark):
        """Null input -> null by default (reference :237-265)."""
        rows = [("US",), ("MX",), (None,), ("CA",)]
        expr = col("s").is_in(["US", "CA"])
        s = spark_eval(spark, expr, rows, STR)
        assert s == [True, False, None, True]
        assert_same(s, python_eval(expr, rows, ["s"]))

    def test_is_in_nulls_equal(self, spark):
        rows = [("US",), (None,)]
        expr = col("s").is_in(["US", None], nulls_equal=True)
        s = spark_eval(spark, expr, rows, STR)
        assert s == [True, True]
        expr2 = col("s").is_in(["US"], nulls_equal=True)
        s2 = spark_eval(spark, expr2, rows, STR)
        assert s2 == [True, False]

    def test_is_in_empty(self, spark):
        rows = [("US",), (None,)]
        expr = col("s").is_in([])
        assert spark_eval(spark, expr, rows, STR) == [False, None]

    @pytest.mark.parametrize("closed,expected", [
        ("both", [False, True, True, True, False]),
        ("left", [False, True, True, False, False]),
        ("right", [False, False, True, True, False]),
        ("none", [False, False, True, False, False]),
    ])
    def test_is_between_closures(self, spark, closed, expected):
        """All four interval closures (reference :267-285)."""
        schema = T.StructType([T.StructField("age", T.LongType(), True)])
        rows = [(17,), (19,), (25,), (31,), (40,)]
        expr = col("age").is_between(19, 31, closed=closed)
        s = spark_eval(spark, expr, rows, schema)
        assert s == expected
        assert_same(s, python_eval(expr, rows, ["age"]))

    def test_is_between_column_bounds(self, spark):
        """String bounds are column references (reference :287-301)."""
        schema = T.StructType([
            T.StructField("value", T.DoubleType(), True),
            T.StructField("low", T.DoubleType(), True),
            T.StructField("high", T.DoubleType(), True),
        ])
        rows = [(5.0, 1.0, 10.0), (5.0, 6.0, 10.0), (None, 1.0, 10.0)]
        expr = col("value").is_between("low", "high")
        s = spark_eval(spark, expr, rows, schema)
        assert s == [True, False, None]
        assert_same(s, python_eval(expr, rows, ["value", "low", "high"]))

    def test_is_between_invalid_closed(self):
        with pytest.raises(ValueError, match="Invalid closed value"):
            col("x").is_between(1, 2, closed="sideways").to_python({"x": 1})

    def test_is_in_rejects_non_sequence_spark(self):
        with pytest.raises(TypeError, match="is_in"):
            col("x").is_in(42).to_spark()


class TestLogicalOps:
    def test_and_or_kleene_spark(self, spark):
        schema = T.StructType([
            T.StructField("a", T.BooleanType(), True),
            T.StructField("b", T.BooleanType(), True),
        ])
        rows = [(True, True), (True, False), (True, None), (False, None), (None, None)]
        s_and = spark_eval(spark, col("a") & col("b"), rows, schema)
        assert s_and == [True, False, None, False, None]  # Kleene
        s_or = spark_eval(spark, col("a") | col("b"), rows, schema)
        assert s_or == [True, True, True, None, None]

    def test_not(self, spark):
        schema = T.StructType([T.StructField("a", T.BooleanType(), True)])
        rows = [(True,), (False,), (None,)]
        assert spark_eval(spark, ~col("a"), rows, schema) == [False, True, None]

    def test_python_side_short_circuit(self):
        # documented reference divergence: Python backend uses and/or
        assert (col("a") & col("b")).to_python({"a": True, "b": False}) is False
        assert (col("a") | col("b")).to_python({"a": True, "b": False}) is True


class TestCompositeExpressions:
    def test_cross_field_business_rule(self, spark):
        schema = T.StructType([
            T.StructField("price", T.DoubleType(), True),
            T.StructField("discount", T.DoubleType(), True),
        ])
        rows = [(100.0, 0.1), (50.0, 1.0), (None, 0.5)]
        expr = (col("price") * (1 - col("discount"))) > 0
        s = spark_eval(spark, expr, rows, schema)
        assert s == [True, False, None]

    def test_null_or_condition(self, spark):
        """The F6 pattern: bonus.is_null() | (bonus <= base*0.5)."""
        schema = T.StructType([
            T.StructField("bonus", T.DoubleType(), True),
            T.StructField("base", T.DoubleType(), True),
        ])
        rows = [(None, 100.0), (40.0, 100.0), (60.0, 100.0)]
        expr = col("bonus").is_null() | (col("bonus") <= col("base") * 0.5)
        s = spark_eval(spark, expr, rows, schema)
        assert s == [True, True, False]


# --- printing --------------------------------------------------------
SCHEMA_MODULES = [
    "__spark_entry__",
    "tests.conftest",
    "tests.test_array_fields",
    "tests.test_ddl",
    "tests.test_streaming",
    "perfbench.inputs",
]
ROOT = Path(__file__).resolve().parent.parent


def _module_level_schemas() -> list[type]:
    from flycatcher_spark import Schema

    modules = [importlib.import_module(name) for name in SCHEMA_MODULES]
    for path in sorted((ROOT / "examples").glob("*.py")):
        spec = importlib.util.spec_from_file_location(f"_ex_{path.stem}", path)
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        modules.append(module)
    return [
        obj
        for module in modules
        for obj in vars(module).values()
        if isinstance(obj, type)
        and issubclass(obj, Schema)
        and obj.__module__ == module.__name__
    ]


def test_dsl_nodes_print_as_dsl_calls():
    cases = {
        'col("xs").arr.len()': col("xs").arr.len(),
        '((col("p") * (1 - col("d"))) >= 0)': col("p") * (1 - col("d")) >= 0,
        '~col("a").is_null()': ~col("a").is_null(),
        'col("a").round(2)': col("a").round(2),
        "col(\"s\").str.replace('a', 'b')": col("s").str.replace("a", "b"),
        'col("t").dt.total_days(col("u"))': col("t").dt.total_days(col("u")),
        'col("a").is_in([1, 2], nulls_equal=True)': col("a").is_in(
            [1, 2], nulls_equal=True
        ),
        "col(\"a\").is_between(1, 'b', closed='left')": col("a").is_between(
            1, "b", closed="left"
        ),
        "col(\"m\").map.has_key('k')": col("m").map.has_key("k"),
    }
    assert {text: repr(node) for text, node in cases.items()} == {
        text: text for text in cases
    }


def test_no_schema_constraint_prints_an_address():
    schemas = _module_level_schemas()
    assert len(schemas) == 16, [s.__name__ for s in schemas]
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # nullable-with-default notices
        printed = {
            f"{schema.__name__}: {c.id}": repr(c.node)
            for schema in schemas
            for c in schema._constraints()
        }
    assert printed
    assert {k: v for k, v in printed.items() if "0x" in v} == {}


def test_constraint_ids_are_unique_per_schema():
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # nullable-with-default notices
        ids = {
            f"{schema.__module__}.{schema.__name__}": [
                c.id for c in schema._constraints()
            ]
            for schema in _module_level_schemas()
        }
    assert len(ids) == 16
    assert {name: i for name, i in ids.items() if len(set(i)) != len(i)} == {}
