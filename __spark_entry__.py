"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (+ the §7 scale extensions); ``oracle_sql()`` gives the
DuckDB-equivalent SQL the driver hash-compares against at sf0.01.

Implementation notes for oracle parity:

- ``events.parquet`` stores TIMESTAMP(NANOS) which Spark 4 cannot
  read natively; we read it with ``spark.sql.legacy.parquet.nanosAsLong``
  and truncate to microseconds with integer division (``DIV`` — a
  double division would lose precision above 2^53), matching DuckDB's
  nanos→micros truncation.
- Money aggregates are summed as DECIMAL (exact) and cast to DOUBLE
  at the end so the result is bit-identical across engines regardless
  of accumulation order; raw double sums are order-dependent at the
  1e-3 level on 60k rows, which would break value-hash comparison.
- Every computed column is aliased identically here and in the SQL.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flycatcher_spark import Field, Schema, col, model_validator
from flycatcher_spark import plans
from flycatcher_spark.operators import (
    audio,
    bpe,
    cluster,
    decontam,
    dedup,
    graph,
    langid,
    multimodal,
    pdf,
    quality,
    similarity,
    stats,
    text,
    versioning,
    video,
    warc,
    web,
)

SF_SMOKE = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# readers
# ---------------------------------------------------------------------------
def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _read_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read events.parquet and expose both a long-micros column
    (`ts_us`) and a timestamp_ntz column (`ts`).

    The driver has shipped `ts` as parquet TIMESTAMP(NANOS) (read as
    long via nanosAsLong) and as timestamp[us] (read as
    TIMESTAMP_NTZ); handle both. Session timezone is pinned to UTC so
    ntz <-> epoch-micros conversions are exact and match DuckDB's
    `epoch_us(ts)` oracle semantics.

    Deliberate session-level side effect: setting the timezone here
    is safe for every other registered query because all test tables
    carry TIMESTAMP_NTZ columns and their literal comparisons are
    timezone-independent; only the explicit ntz<->epoch casts in the
    events path observe the session zone, and they require UTC.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = raw.schema["ts"].dataType.simpleString()
    if ts_type == "bigint":  # nanos-as-long layout
        out = raw.withColumn("ts_us", F.expr("ts DIV 1000"))
    else:  # timestamp / timestamp_ntz micros layout
        out = raw.withColumn(
            "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
        )
    return out.withColumn(
        "ts", F.timestamp_micros(F.col("ts_us")).cast("timestamp_ntz")
    )


def _dec(name: str, scale: str = "12,2"):
    return F.col(name).cast(f"decimal({scale})")


# ---------------------------------------------------------------------------
# schemas (the reference-parity surface: SURVEY.md §2.1-2.4)
# ---------------------------------------------------------------------------
class LineitemSchema(Schema):
    """Flagship validation schema over the TPC-H-ish lineitem table."""

    l_orderkey: int = Field(ge=1)
    l_partkey: int = Field(ge=1)
    l_suppkey: int = Field(ge=1)
    l_linenumber: int = Field(ge=1, le=7)
    l_quantity: float = Field(gt=0, le=50)
    l_extendedprice: float = Field(gt=0)
    l_discount: float = Field(ge=0.0, le=1.0)
    l_tax: float = Field(ge=0.0)
    l_returnflag: str = Field(min_length=1, max_length=1)
    l_linestatus: str = Field(pattern="^[A-Z]$")
    l_shipdate: datetime = Field(ge=datetime(1990, 1, 1))

    @model_validator
    def discounted_price_positive():
        return (
            col("l_extendedprice") * (1 - col("l_discount")) > 0,
            "discounted price must be positive",
        )


class StrictLineitemSchema(Schema):
    """Deliberately tight constraints so violation counting has work."""

    l_orderkey: int = Field(ge=1)
    l_quantity: float = Field(gt=0, le=30.0)
    l_extendedprice: float = Field(gt=0, le=40000.0)
    l_discount: float = Field(ge=0.0, le=0.05)


_LINEITEM_KEEP_SQL = """
    l_orderkey IS NOT NULL AND l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
    AND l_linenumber IS NOT NULL AND l_quantity IS NOT NULL
    AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
    AND l_tax IS NOT NULL AND l_returnflag IS NOT NULL
    AND l_linestatus IS NOT NULL AND l_shipdate IS NOT NULL
    AND l_orderkey >= 1 AND l_partkey >= 1 AND l_suppkey >= 1
    AND l_linenumber >= 1 AND l_linenumber <= 7
    AND l_quantity > 0 AND l_quantity <= 50
    AND l_extendedprice > 0
    AND l_discount >= 0.0 AND l_discount <= 1.0
    AND l_tax >= 0.0
    AND length(l_returnflag) >= 1 AND length(l_returnflag) <= 1
    AND regexp_matches(l_linestatus, '^[A-Z]$')
    AND l_shipdate >= TIMESTAMP '1990-01-01'
    AND l_extendedprice * (1 - l_discount) > 0
"""


# ---------------------------------------------------------------------------
# queries — validation pipeline (SURVEY.md §2.1)
# ---------------------------------------------------------------------------
def q_validate_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """validate_lazy: zero-job cast+filter pipeline (stages V1-V5)."""
    v = LineitemSchema.to_spark_validator()
    return v.validate_lazy(_read(spark, sf_dir, "lineitem"))


def q_validate_strict_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """validate(strict=False) kept rows, aggregated (exercises the
    single-pass conditional-agg count job + fused filter)."""
    v = StrictLineitemSchema.to_spark_validator()
    kept = v.validate(_read(spark, sf_dir, "lineitem"), strict=False)
    return kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(_dec("l_quantity", "8,2")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice", "12,2")).cast("double").alias("sum_price"),
    )


def q_violation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flag_violations: per-constraint violation counts via one
    explode+groupBy (no per-constraint scans)."""
    v = StrictLineitemSchema.to_spark_validator()
    flagged = v.flag_violations(_read(spark, sf_dir, "lineitem"))
    return (
        flagged.select(F.explode("_violations").alias("constraint"))
        .groupBy("constraint")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# ---------------------------------------------------------------------------
# queries — DSL surface (SURVEY.md §2.3)
# ---------------------------------------------------------------------------
def q_dsl_string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id"),
        col("text").str.slice(0, 15).str.to_uppercase().to_spark().alias("head_upper"),
        col("text").str.len_chars().to_spark().cast("long").alias("n_chars_c"),
        col("text").str.contains("spark").to_spark().alias("has_spark"),
        col("text").str.starts_with("the ").to_spark().alias("starts_the"),
        col("text").str.slice(0, 20).str.replace("[aeiou]", "_").to_spark().alias("devoweled"),
        col("text").str.extract("(sp[a-z]+)", 1).to_spark().alias("sp_word"),
        col("text").str.count_matches("data").to_spark().cast("long").alias("n_data"),
        col("text").str.strip_chars().str.len_chars().to_spark().cast("long").alias("n_stripped"),
        col("text").str.ends_with("dup").to_spark().alias("ends_dup"),
        col("text").str.slice(0, 10).str.to_lowercase().to_spark().alias("head_lower"),
    )


def q_dsl_math_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        (col("l_extendedprice") / 7).round(2).to_spark().alias("price_div7_r2"),
        (col("l_quantity") / 3).floor().to_spark().alias("qty_div3_floor"),
        (col("l_quantity") / 3).ceil().to_spark().alias("qty_div3_ceil"),
        col("l_extendedprice").sqrt().to_spark().alias("price_sqrt"),
        F.round(col("l_discount").pow(2).to_spark(), 6).alias("disc_sq"),
        (col("l_tax") - 0.04).abs().to_spark().alias("tax_dev"),
        (col("l_quantity") + col("l_linenumber")).to_spark().alias("qty_plus_line"),
    )


def q_dsl_datetime_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        col("l_shipdate").dt.year().to_spark().cast("long").alias("ship_year"),
        col("l_shipdate").dt.month().to_spark().cast("long").alias("ship_month"),
        col("l_shipdate").dt.day().to_spark().cast("long").alias("ship_day"),
        col("l_shipdate").dt.total_days(datetime(1995, 1, 1)).to_spark().alias("days_since_95"),
    )


def q_dsl_datetime_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-of-day component extraction on microsecond timestamps."""
    ev = _read(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        col("ts").dt.hour().to_spark().cast("long").alias("h"),
        col("ts").dt.minute().to_spark().cast("long").alias("m"),
        col("ts").dt.second().to_spark().cast("long").alias("s"),
    )


def q_validate_fill_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4(a) fill_nulls: nulls in defaulted columns are replaced by
    the default when fill_nulls=True (reference polars.py:177-189).
    Nulls are synthesized (the test tables are clean)."""

    class NotedOrderSchema(Schema):
        o_orderkey: int = Field(ge=1)
        o_totalprice: float
        note: str | None = Field(default="none", nullable=True)

    orders = _read(spark, sf_dir, "orders").withColumn(
        "note",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("third")),
    )
    v = NotedOrderSchema.to_spark_validator()
    return v.validate_lazy(orders, fill_nulls=True)


def q_dsl_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey"),
        col("o_orderpriority").is_in(["1-URGENT", "2-HIGH"]).to_spark().alias("is_urgent"),
        col("o_totalprice").is_between(50000.0, 150000.0, closed="left").to_spark().alias("mid_price"),
        col("o_orderstatus").is_in(["F"]).to_spark().alias("is_final"),
    )


# ---------------------------------------------------------------------------
# queries — analytics over validated data (SURVEY.md §2.8: these come
# "for free" from the DataFrame API once validation passes)
# ---------------------------------------------------------------------------
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary; DECIMAL sums for exactness."""
    v = LineitemSchema.to_spark_validator()
    li = v.validate_lazy(_read(spark, sf_dir, "lineitem"))
    price = _dec("l_extendedprice", "12,2")
    disc = _dec("l_discount", "8,4")
    tax = _dec("l_tax", "8,4")
    qty = _dec("l_quantity", "8,2")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(datetime(1999, 6, 30)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / n).alias("avg_qty"),
            (F.sum(price).cast("double") / n).alias("avg_price"),
            (F.sum(disc).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-shaped: top-10 open orders by revenue for one segment.

    customer is broadcast (small dim); the orders⋈lineitem join
    shuffles on o_orderkey only after both sides are filtered."""
    cust = _read(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(datetime(1997, 6, 1))
    )
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(datetime(1997, 6, 1))
    )
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", "8,4")))
    return (
        li.join(
            orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shaped: revenue by region/nation; all dims broadcast."""
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", "8,4")))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(revenue.cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


def q9_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9-shaped: profit-ish by part brand × supplier nation; part and
    supplier dims broadcast, the fact table shuffles only for the
    final group-by."""
    part = _read(spark, sf_dir, "part")
    supplier = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    li = _read(spark, sf_dir, "lineitem")
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", "8,4")))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("p_brand", "n_name")
        .agg(
            revenue.cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_dec("l_quantity", "8,2")).cast("double").alias("sum_qty"),
        )
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6-shaped: single filtered aggregation. Every predicate reaches
    the parquet scan as a PushedFilter; no shuffle at all (partial
    aggs combine map-side into one row)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit(datetime(1997, 1, 1)))
            & (F.col("l_shipdate") < F.lit(datetime(1998, 1, 1)))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount", "8,4"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-shaped: EXISTS via left-semi join with a non-equi residual
    (lineitem shipped >60 days after order date), then count by
    priority."""
    orders = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(datetime(1997, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1997, 10, 1)))
    )
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10-shaped: top-20 customers by revenue lost to returns.
    customer/nation broadcast; orders⋈lineitem shuffles on orderkey."""
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    orders = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(datetime(1997, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1997, 7, 1)))
    )
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", "8,4")))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13-shaped: customer × order-count histogram. LEFT OUTER join
    (customers with zero orders kept), double aggregation."""
    cust = _read(spark, sf_dir, "customer").select("c_custkey")
    orders = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_custkey", "o_orderkey")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-shaped: monthly % of revenue from PROMO parts. Conditional
    decimal sums; the double division of two exact sums is
    bit-deterministic on both engines."""
    part = _read(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _read(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", "8,4"))
    promo = F.sum(F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0).cast("decimal(12,2)")))
    total = F.sum(disc_price)
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("month"))
        .agg(
            (F.lit(100.0) * promo.cast("double") / total.cast("double")).alias("promo_pct"),
            total.cast("double").alias("total_revenue"),
        )
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-shaped: orders whose total quantity exceeds 200 (HAVING on
    an aggregate), joined back to customer. The heavy groupBy runs
    on lineitem alone; customer is broadcast after the filter."""
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity", "8,2")).alias("sum_qty_dec"))
        .filter(F.col("sum_qty_dec") > 200)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19-shaped: disjunction of brand/size/quantity bands. One
    broadcast hash join; the OR-of-ANDs stays a single residual
    predicate (no union of three scans)."""
    part = _read(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _read(spark, sf_dir, "lineitem")
    joined = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("l_quantity").between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("l_quantity").between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("l_quantity").between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", "8,4")))
    return joined.filter(band).agg(
        revenue.cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items")
    )


def q2_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2-shaped correlated min: for each part, the supplier(s) with
    the lowest account balance among suppliers that shipped it.
    The correlated subquery is decorrelated into a window-min over
    the distinct (part, supplier) pairs — one shuffle on l_partkey."""
    pairs = (
        _read(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    supp = _read(spark, sf_dir, "supplier")
    w = Window.partitionBy("l_partkey")
    return (
        pairs.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .select("l_partkey", "s_suppkey", "s_name", "s_acctbal")
    )


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7-shaped: shipping volume between two nations by year, both
    directions. Both nation lookups broadcast; one fact shuffle."""
    n1 = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    n2 = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _read(spark, sf_dir, "lineitem")
    pair = (
        ((F.col("cust_nation") == "NATION_1") & (F.col("supp_nation") == "NATION_2"))
        | ((F.col("cust_nation") == "NATION_2") & (F.col("supp_nation") == "NATION_1"))
    )
    volume = F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", "8,4")))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg(volume.cast("double").alias("volume"), F.count(F.lit(1)).alias("n_items"))
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8-shaped: NATION_3 suppliers' share of ASIA-customer revenue
    per year — conditional-sum ratio of two exact decimal sums."""
    nat_c = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    nat_s = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    region = _read(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = _read(spark, sf_dir, "lineitem")
    vol = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", "8,4"))
    zero = F.lit(0).cast("decimal(12,2)")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat_c), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat_s), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(zero)).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share"),
            F.sum(vol).cast("double").alias("total_volume"),
        )
    )


def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-shaped: per line-status (the schema's shipmode analog),
    how many 1997-shipped lineitems belong to critical vs ordinary
    orders — conditional counts after an orderkey join."""
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(datetime(1997, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime(1998, 1, 1)))
    )
    critical = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(critical, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(critical, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q20_promo_heavy_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20-shaped nested aggregate + semi join: suppliers for whom
    some PROMO part's 1997 shipments exceed half of that part's
    all-time shipments from them. The inner aggregate runs once per
    (supplier, part) — no correlated re-execution."""
    part = _read(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    li = _read(spark, sf_dir, "lineitem")
    in_97 = (F.col("l_shipdate") >= F.lit(datetime(1997, 1, 1))) & (
        F.col("l_shipdate") < F.lit(datetime(1998, 1, 1))
    )
    qty = _dec("l_quantity", "8,2")
    zero = F.lit(0).cast("decimal(8,2)")
    per_sp = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_97, qty).otherwise(zero)).alias("qty_97"),
            F.sum(qty).alias("qty_all"),
        )
        .filter(
            (F.col("qty_97").cast("double") > 0.6 * F.col("qty_all").cast("double"))
            & (F.col("qty_all").cast("double") > 50)
        )
        .select("l_suppkey")
        .distinct()
    )
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    return (
        supp.join(per_sp, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16-shaped: distinct-supplier counts per (brand, type, size
    band) excluding one brand and suppliers with negative balance
    (NOT IN anti-join, broadcast)."""
    part = _read(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#5")
    bad_supp = (
        _read(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = _read(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", (F.col("p_size") - F.col("p_size") % 10).cast("bigint").alias("size_band"))
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-shaped correlated AVG: revenue from Brand#1 lineitems whose
    quantity is below half the part's average quantity. The per-part
    average is an exact decimal-sum/count (order-independent), joined
    back broadcast."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    per_part = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.sum(_dec("l_quantity", "8,2")).cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(per_part), F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.sum(_dec("l_extendedprice")).cast("double").alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21-shaped double EXISTS/NOT EXISTS: suppliers that were the
    ONLY late shipper in a multi-supplier order. Decorrelated into
    one per-(order,supplier) aggregate + one per-order window — no
    self-joins of the fact table."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late = F.max(
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1
        ).otherwise(0)
    )
    per_supp = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(late.alias("late"))
    )
    w = Window.partitionBy("l_orderkey")
    supp = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_late", F.sum("late").over(w))
        .filter((F.col("late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-shaped: well-funded customers with no recent orders.
    Threshold is the exact median of positive balances (a scalar
    subquery both engines compute identically); recency is an
    anti-join against 1999+ orders."""
    cust = _read(spark, sf_dir, "customer")
    recent = (
        _read(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(datetime(1999, 1, 1)))
        .select("o_custkey")
    )
    nation = _read(spark, sf_dir, "nation")
    threshold = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.median("c_acctbal").alias("m"))
    )
    return (
        cust.join(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("m"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal", "14,4")).cast("double").alias("totacctbal"),
        )
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15-shaped: supplier(s) with the maximum revenue in a quarter.

    The scalar MAX subquery becomes a 1-row aggregate broadcast back
    onto the per-supplier aggregate — NOT an unpartitioned window,
    which would funnel every group into a single task at scale.
    """
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(datetime(1997, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime(1997, 4, 1)))
    )
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", "8,4")))
        .alias("rev_dec")
    )
    max_rev = per_supp.agg(F.max("rev_dec").alias("max_rev"))
    supp = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.join(F.broadcast(max_rev))
        .filter(F.col("rev_dec") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("rev_dec").cast("double").alias("total_revenue")
        )
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11-shaped: parts whose inventory value exceeds a fraction of
    the global total — HAVING compared against a broadcast scalar."""
    li = _read(spark, sf_dir, "lineitem")
    value = F.sum(_dec("l_extendedprice") * _dec("l_quantity", "8,2"))
    per_part = li.groupBy("l_partkey").agg(value.alias("value_dec"))
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("value_dec").cast("double")
            > 0.0006 * F.col("total_dec").cast("double")
        )
        .select("l_partkey", F.col("value_dec").cast("double").alias("part_value"))
    )


def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function coverage in one plan: row_number / lag / lead /
    running sum / moving avg over a time-ordered per-customer frame,
    plus rank / dense_rank / ntile / percent_rank over a value-ordered
    frame. Both windows share the same partitioning (one shuffle)."""
    orders = _read(spark, sf_dir, "orders")
    w_time = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w_time.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_mov = w_time.rowsBetween(-2, 0)
    w_val = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    price_dec = _dec("o_totalprice", "14,4")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.row_number().over(w_time).cast("bigint").alias("rn"),
        F.lag("o_totalprice").over(w_time).alias("prev_price"),
        F.lead("o_totalprice").over(w_time).alias("next_price"),
        F.sum(price_dec).over(w_run).cast("double").alias("run_total"),
        (
            F.sum(price_dec).over(w_mov).cast("double")
            / F.count(F.lit(1)).over(w_mov)
        ).alias("moving_avg3"),
        F.rank().over(w_val).cast("bigint").alias("price_rank"),
        F.dense_rank().over(w_val).cast("bigint").alias("price_dense_rank"),
        F.ntile(4).over(w_val).cast("bigint").alias("price_quartile"),
        F.percent_rank().over(w_val).alias("price_pct_rank"),
    )


def q_pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts and exact decimal revenue spread across
    status columns, one row per priority. Compiles to a single
    conditional aggregation (no extra shuffle vs plain groupBy)."""
    orders = _read(spark, sf_dir, "orders")
    price = _dec("o_totalprice", "14,4")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(price).cast("double").alias("total"),
        )
    )


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 4 grouping combinations
    in one pass (the partial aggregate is reused across grouping
    sets — no re-scan per combination)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode / lateral view: whitespace-tokenize documents, count
    the top-50 lowercased tokens. The explode happens map-side; only
    (token, partial count) pairs shuffle."""
    docs = _read(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return (
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(F.explode(toks).alias("token"))
        .select(F.lower(F.col("token")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(50)
    )


def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed second-moment statistics computed EXACTLY: variance,
    stddev, covariance, and correlation are derived from decimal sums
    (n, Σx, Σy, Σx², Σy², Σxy), so the result is bit-identical across
    engines and partitionings — a naive float stddev is not."""
    li = _read(spark, sf_dir, "lineitem")
    x = _dec("l_quantity", "8,2")
    y = _dec("l_extendedprice", "12,2")
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum(x).cast("double")
    sy = F.sum(y).cast("double")
    sxx = F.sum(x * x).cast("double")
    syy = F.sum(y * y).cast("double")
    sxy = F.sum(x * y).cast("double")
    var_x = (sxx - sx * sx / n) / (n - 1)
    var_y = (syy - sy * sy / n) / (n - 1)
    cov = (sxy - sx * sy / n) / (n - 1)
    return li.groupBy("l_returnflag").agg(
        n.cast("bigint").alias("n"),
        var_x.alias("var_qty"),
        F.sqrt(var_x).alias("std_qty"),
        var_y.alias("var_price"),
        cov.alias("cov_qty_price"),
        (cov / F.sqrt(var_x * var_y)).alias("corr_qty_price"),
    )


def q_percentile_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p25/p50/p75/p95) per order
    priority — sort-based, so deterministic across engines."""
    orders = _read(spark, sf_dir, "orders")
    pct = F.percentile("o_totalprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.95)))
    return orders.groupBy("o_orderpriority").agg(
        F.round(pct[0], 6).alias("p25"),
        F.round(pct[1], 6).alias("p50"),
        F.round(pct[2], 6).alias("p75"),
        F.round(pct[3], 6).alias("p95"),
        F.count(F.lit(1)).alias("n"),
    )


def q_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-distinct aggregation: distinct customers, distinct
    order days, and rows per market segment in one pass."""
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = _read(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count_distinct("o_custkey").alias("n_customers"),
            F.count_distinct(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("n_order_days"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct counts with the exact value
    and relative error side-by-side (rows-only check: HLL sketches
    are implementation-specific, so no cross-engine oracle)."""
    orders = _read(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", 0.01).alias("approx_customers"),
        F.count_distinct("o_custkey").alias("exact_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog (operators.sketch): per-priority
    distinct-order estimates whose registers, exact-integer harmonic
    denominator AND final float estimate all hash-match a DuckDB
    replica — the oracle-checked companion to the rows-only
    ``approx_distinct`` (Spark's own HLL++ sketch is implementation-
    specific; this one is md5-deterministic by construction). p=8
    (256 registers) keeps per-group ndv ≈ 3k·sf/0.01 in the raw-
    estimate regime (> 2.5m), where no linear-counting correction —
    and hence no cross-engine ``ln`` — is needed."""
    from flycatcher_spark.operators import sketch

    orders = _read(spark, sf_dir, "orders")
    est = sketch.hll_estimate(orders, "o_orderkey", ["o_orderpriority"], p=8)
    exact = orders.groupBy("o_orderpriority").agg(
        F.count_distinct("o_orderkey").alias("exact_ndv")
    )
    return est.join(exact, "o_orderpriority")


def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release drift gate (versioning.profile_drift): a planted new
    release of orders (10% of rows dropped, o_custkey nulled on the
    7-multiples) profiled against the original — row counts, null
    fractions, exact distinct counts and means side by side with
    deltas, one conditional-agg scan per side. Columns are
    integer-valued so the double sums are exact and the oracle
    hash-matches (see profile_drift's parity note). Schema-level
    drift (added/removed/type_changed) is pinned by pytest."""
    from flycatcher_spark.operators import versioning

    orders = _read(spark, sf_dir, "orders")
    new = (
        orders.where(F.col("o_orderkey") % 10 != 0)
        .withColumn(
            "o_custkey",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
                F.col("o_custkey")
            ),
        )
    )
    return versioning.profile_drift(
        orders, new, ["o_orderkey", "o_custkey"], exact=True
    )


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (dedup.ngram_containment_pairs):
    |A∩B|/|A| catches doc-in-doc duplication that Jaccard misses
    (a short doc quoted whole inside a long one scores ~|A|/|B| on
    Jaccard but 1.0 on containment). Same bucketized-gap join as
    jaccard_pairs; threshold on the max direction."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.ngram_containment_pairs(
        docs, max_id_gap=25, shingle_n=1, threshold=0.4
    )


def _planted_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic JSON transcripts planted over documents (the
    corpus has no conversations, so the structure is planted — the
    readability_scores discipline): doc_id % 5 selects the shape.
    0 = 4-turn well-formed, 1 = 2-turn well-formed, 2 = alternation
    violation (user,user,assistant), 3 = ends with user, 4 = corrupt
    JSON (truncated mid-object). The oracle replays THIS construction
    arithmetically, so the Spark from_json path is what's under
    test."""
    docs = _read(spark, sf_dir, "documents")
    s1 = F.substring("text", 1, 30)
    s2 = F.substring("text", 31, 40)
    s3 = F.substring("text", 71, 20)
    s4 = F.substring("text", 91, 25)

    def turn(role, content):
        return F.concat(
            F.lit('{"role":"' + role + '","content":"'), content, F.lit('"}')
        )

    def conv(*ts):
        return F.concat(F.lit("["), F.concat_ws(",", *ts), F.lit("]"))

    v = F.col("doc_id") % 5
    conv_json = (
        F.when(v == 0, conv(turn("user", s1), turn("assistant", s2),
                            turn("user", s3), turn("assistant", s4)))
        .when(v == 1, conv(turn("user", s1), turn("assistant", s2)))
        .when(v == 2, conv(turn("user", s1), turn("user", s3),
                           turn("assistant", s2)))
        .when(v == 3, conv(turn("user", s1), turn("assistant", s2),
                           turn("user", s3)))
        .otherwise(F.concat(F.lit("["), turn("user", s1),
                            F.lit(',{"role":"assistant"')))
    )
    return docs.select(F.col("doc_id").alias("conv_id"),
                       conv_json.alias("conv_json"))


def q_chat_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript explode (operators.chat.parse_turns): native
    from_json + posexplode_outer over the planted conversations —
    corrupt JSON becomes one attributable all-null turn row, never a
    stage failure. Emits content lengths (not bodies) to keep the
    compare slim."""
    from flycatcher_spark.operators import chat

    turns = chat.parse_turns(_planted_transcripts(spark, sf_dir))
    return turns.select(
        "conv_id", "turn_idx", "role",
        F.length("content").cast("long").alias("content_len"),
    )


def q_chat_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation curation gates (operators.chat): one shuffle for
    per-conversation structure — parse_ok, role counts, alternation,
    boundary roles, trainable mass — then the composite wellformed
    gate as pure arithmetic. Variants 0/1 pass; 2 fails alternation;
    3 ends on user; 4 fails parse."""
    from flycatcher_spark.operators import chat

    turns = chat.parse_turns(_planted_transcripts(spark, sf_dir))
    return chat.wellformed(chat.conversation_stats(turns), min_turns=2)


def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining (similarity.mine_contrastive_pairs,
    exact arm): per-anchor positives (sim ≥ 0.3) and hard negatives
    (the highest-sim candidates in [0.15, 0.3)) from a top-50
    shortlist — the dense-retrieval supervision miner. The exact arm
    is the oracle-replayable configuration; production mines from
    the IVF shortlist (impl='ivf'), whose recall is quantified by
    ann_recall."""
    em = _emb_double(spark, sf_dir)
    anchors = em.filter(F.col("vec_id") < 10)
    res = similarity.mine_contrastive_pairs(
        em, anchors, k=50, pos_threshold=0.3, neg_lo=0.15,
        n_pos=2, n_neg=4, impl="exact",
    )
    return res.select(
        "query_id", "vec_id", "sim", "role",
        F.col("role_rank").cast("long").alias("role_rank"),
    )


def q_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout diagnostic (operators.layout): parts bucketed
    by the top 6 bits of a 16-bit Morton key over (p_size,
    floor(p_retailprice)), reporting each bucket's row count and
    per-dimension spans — the near-rectangles that make multi-dim
    parquet stats pruning work (the write side is pinned by
    tests/test_layout.py's measured file-skipping proof). The key is
    exact integer arithmetic generated from ONE spec into both
    dialects, so every bucket id and span hash-matches DuckDB."""
    from flycatcher_spark.operators import layout

    part = _read(spark, sf_dir, "part")
    dims = [
        layout.ZDim("p_size", 1, 50),
        layout.ZDim("CAST(floor(p_retailprice) AS BIGINT)", 900, 999),
    ]
    return layout.zorder_spans(part, dims, bits=8, prefix_bits=6)


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (operators.sketch): the top-20
    corpus tokens with their exact counts and their CMS point
    estimates side by side — ``overcount = cms_est - n ≥ 0`` is the
    sketch's one-sided error made visible, and every counter is
    md5-deterministic so the whole result (sketch estimates included)
    hash-matches DuckDB. The sketch here is built weighted from the
    exact count table (the query needs those counts anyway for the
    comparison; ``weight_col`` makes the two builds identical) — the
    100 TB production shape feeds the raw token stream, where map-side
    partial aggregation collapses each partition to ≤ depth×width
    cells before the only shuffle."""
    from flycatcher_spark.operators import sketch
    from flycatcher_spark.operators.text import normalize_text, tokens

    docs = _read(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens(normalize_text("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(20)
    sk = sketch.cms_sketch(counts, "token", weight_col="n", depth=4, width=1024)
    est = sketch.cms_lookup(sk, top.select("token"), "token", depth=4, width=1024)
    return top.join(est, "token").select(
        "token", "n", "cms_est", (F.col("cms_est") - F.col("n")).alias("overcount")
    )


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized point-in-interval range join (operators.range_join):
    events landing in the first 10 days of any order month. A naive
    non-equi join here is a single-task nested loop; the bucketized
    form shuffles on the bucket id like any equi-join."""
    from flycatcher_spark.operators import range_join

    six_hours_us = 6 * 3600 * 1_000_000
    ev = _read_events(spark, sf_dir).select("event_id", "ts_us", "event_type", "value")
    win = (
        ev.select(F.date_trunc("day", F.timestamp_micros(F.col("ts_us"))).alias("w_start"))
        .distinct()
        .select(F.unix_micros(F.col("w_start")).alias("w_start_us"))
        .withColumn("w_end_us", F.col("w_start_us") + F.lit(six_hours_us))
    )
    joined = range_join.point_in_interval_join(
        ev, win, point="ts_us", start="w_start_us", end="w_end_us",
        bucket_width=six_hours_us, closed="left",
    )
    return joined.groupBy("w_start_us", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed vector aggregation: per-label embedding centroids.
    Element sums use fixed-point int64 (trunc(x*1e8)) so the reduce is
    exact and order-independent — a float sum would drift with
    partitioning. posexplode keeps the whole job in one shuffle on
    (label, dim)."""
    emb = _read(spark, sf_dir, "embeddings")
    exploded = emb.select(
        F.col("label").cast("bigint").alias("label"),
        F.posexplode("embedding").alias("pos", "val"),
    )
    fp = (F.col("val").cast("double") * 1e8).cast("long")
    return (
        exploded.groupBy("label", F.col("pos").cast("bigint").alias("pos"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(fp) / F.count(F.lit(1)) / 1e8).alias("centroid"),
        )
    )


def q_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment: md5(key) → bucket →
    split. Hash-based (not sample()) so the split is stable across
    runs, partitionings, engines, and data order — the property a
    training pipeline actually needs."""
    docs = _read(spark, sf_dir, "documents")
    bucket = text.md5_bucket(F.col("doc_id"), 1000)
    split = (
        F.when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions over embeddings: filter/exists/
    transform/aggregate/sort/slice. Values go through fixed-point
    int64 so cross-engine results are exact. (HOFs are interpreted —
    CodegenFallback — fine for per-row array math at this width; the
    hot-path similarity ops use Arrow pandas_udfs instead.)"""
    emb = _read(spark, sf_dir, "embeddings")
    fp = F.transform(
        F.col("embedding"), lambda x: (x.cast("double") * 1e6).cast("long")
    )
    e = emb.withColumn("fp", fp)
    return e.select(
        "vec_id",
        F.size(F.filter(F.col("fp"), lambda x: x > 0)).cast("bigint").alias("n_pos"),
        F.exists(F.col("fp"), lambda x: x > 3_000_000).alias("has_large"),
        F.aggregate(
            F.transform(F.col("fp"), lambda x: F.abs(x)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("l1_fp"),
        F.array_join(
            F.slice(F.sort_array(F.col("fp"), asc=False), 1, 3), ","
        ).alias("top3_fp"),
    )


def q_name_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join on edit distance: supplier-name pairs within
    Levenshtein distance 1 (broadcast n² on the small dim — the
    string-dedup pattern for short keys)."""
    s1 = _read(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k1"), F.col("s_name").alias("n1")
    )
    s2 = _read(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k2"), F.col("s_name").alias("n2")
    )
    return (
        s1.join(F.broadcast(s2), F.col("k1") < F.col("k2"))
        .withColumn("dist", F.levenshtein("n1", "n2").cast("bigint"))
        .filter(F.col("dist") <= 1)
        .select("k1", "k2", "n1", "n2", "dist")
    )


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup with gap fill: hourly buckets per
    event type over the table's full span, empty buckets materialized
    from a generated time grid (sequence+explode — no driver loop)
    and forward-filled with the last observed hourly mean."""
    hour_us = 3600 * 1_000_000
    ev = _read(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            (F.col("ts_us") - F.pmod(F.col("ts_us"), F.lit(hour_us))).alias("bucket_us"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
             / F.count(F.lit(1))).alias("mean_value"),
        )
    )
    span = ev.agg(
        (F.min("ts_us") - F.pmod(F.min("ts_us"), F.lit(hour_us))).alias("lo"),
        (F.max("ts_us") - F.pmod(F.max("ts_us"), F.lit(hour_us))).alias("hi"),
    )
    grid = (
        ev.select("event_type").distinct()
        .join(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.lit(hour_us))).alias("bucket_us"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["event_type", "bucket_us"], "left")
        .select(
            "event_type",
            "bucket_us",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.last("mean_value", ignorenulls=True).over(w).alias("filled_mean"),
        )
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: overlapping 32-token windows (stride
    24) per document, pure Catalyst (sequence→explode→slice), with a
    per-document chunk count check column."""
    from flycatcher_spark.functions import chunk_documents

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, size=32, overlap=8)


def q_events_daily_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day time series: daily event counts per type with
    lag-window delta and percent change (null on the first day)."""
    ev = _read(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("n").over(w)
    return daily.select(
        "event_type",
        "day",
        "n",
        prev.alias("prev_n"),
        (F.col("n") - prev).alias("delta"),
        F.round((F.col("n") - prev).cast("double") / prev * 100.0, 6).alias(
            "pct_change"
        ),
    )


def q_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification: per-label centroids (exact
    fixed-point means), broadcast to every vector (labels are few —
    broadcastable at ANY corpus size), cosine argmax per vector.
    One shuffle for the centroid agg; the scoring join is map-side."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.col("label").cast("bigint").alias("true_label"),
    )
    cent_long = (
        emb.select("true_label", F.posexplode("v").alias("pos", "val"))
        .groupBy(F.col("true_label").alias("label"), "pos")
        .agg(
            (
                F.sum((F.col("val") * 1e8).cast("long"))
                / F.count(F.lit(1))
                / F.lit(1e8)
            ).alias("c")
        )
    )
    centroids = cent_long.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s.c
        ).alias("cvec")
    )
    dot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    # All centroids in ONE broadcast row; per-vector argmax is then an
    # inline array reduction — no shuffle of the vector table at all
    # (a row_number window over vec_id would reshuffle the entire
    # corpus just to pick each row's max). Struct max orders by field:
    # (sim, -label) == sim DESC, label ASC tie-break.
    cents = centroids.agg(
        F.collect_list(F.struct("label", "cvec")).alias("cents")
    )
    sims = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            F.round(
                dot(F.col("v"), c.cvec)
                / (
                    F.sqrt(dot(F.col("v"), F.col("v")))
                    * F.sqrt(dot(c.cvec, c.cvec))
                ),
                6,
            ).alias("sim"),
            (-c.label).alias("neg_label"),
        ),
    )
    # stage best through a column: referencing it twice in one select
    # would re-evaluate the whole sims array per reference
    return (
        emb.join(F.broadcast(cents))
        .withColumn("__best", F.array_max(sims))
        .select(
            "vec_id",
            "true_label",
            (-F.col("__best.neg_label")).alias("assigned_label"),
            F.col("__best.sim").alias("sim"),
        )
        .withColumn(
            "is_correct", F.col("true_label") == F.col("assigned_label")
        )
    )


def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components (iterative
    distributed min-label propagation, flycatcher_spark.operators.
    dedup.connected_components) over the exact-cosine pair graph,
    with per-cluster sizes. Oracle: DuckDB recursive CTE."""
    em = _emb_double(spark, sf_dir)
    pairs = dedup.embedding_neardup_pairs(
        em, id_col="vec_id", vec_col="embedding", block_col="label",
        threshold=0.3, impl="sql",  # oracle mode: engine-portable values
    )
    comp = dedup.connected_components(pairs, "id_a", "id_b")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("comp_size"))
    return comp.join(sizes, "component").select(
        "node", "component", "comp_size"
    )


def q_chunk_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: chunks are assigned to
    fixed-budget (128-token) sequences per document via a windowed
    running token count — the window partitions by doc_id, so packing
    parallelizes per document (a global pack order would serialize
    into one task at scale)."""
    from flycatcher_spark.functions import chunk_documents

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_documents(docs, size=32, overlap=8)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_chunk_tokens").over(w)
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "n_chunk_tokens",
        cum.alias("cum_tokens"),
        ((cum - F.col("n_chunk_tokens")) / F.lit(128))
        .cast("bigint")
        .alias("seq_id"),
    )


def q_events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per event type, the trailing-2-hour moving
    event-value average at every event — a value-based frame (all rows
    within the time interval), not a row-count frame."""
    two_h_us = 2 * 3600 * 1_000_000
    ev = _read(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_us")
        .rangeBetween(-two_h_us, 0)
    )
    return ev.select(
        "event_id",
        "event_type",
        "ts_us",
        F.count(F.lit(1)).over(w).alias("n_2h"),
        (
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("avg_2h"),
    )


def q_part_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long): part measures melted into (measure, value)
    rows via the stack generator — the inverse of pivot."""
    part = _read(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.expr(
            "stack(2, 'size', CAST(p_size AS DOUBLE), "
            "'retailprice', p_retailprice) AS (measure, value)"
        ),
    )


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 tokens by document-corpus frequency
    (explode → count, map-side partial agg collapses per-partition
    duplicates before the shuffle), ties broken lexically."""
    from flycatcher_spark.operators.text import normalize_text, tokens

    docs = _read(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens(normalize_text("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # orderBy+limit compiles to TakeOrderedAndProject — a distributed
    # partial top-k per partition, NOT a full sort; the rank window
    # then runs over only the 50 survivors (a global row_number over
    # the whole vocabulary would serialize into one task).
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(50)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rank"), "token", "n"
    )


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (r8, operators/retrieval): five queries
    (the first five tokens of docs 0-4) search the whole documents
    corpus. Postings/doc-length/document-frequency tables build with
    the TF-IDF shuffle shape; the query terms broadcast into the
    postings join (the inverted-index probe); per-term contributions
    use the Lucene-standard idf ln(1+(N-df+0.5)/(df+0.5)) with
    k1=1.2, b=0.75, round to 9 and sum as DECIMAL(20,9); scores
    round to 6 and top-10 per query rank by (score desc, doc_id).
    DuckDB replays the entire computation — tokenization, statistics,
    the exact IEEE expression tree, rounding points and ranking."""
    from flycatcher_spark.operators import retrieval
    from flycatcher_spark.operators.text import normalize_text, tokens

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    queries = docs.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(
            " ", F.slice(tokens(normalize_text("text")), 1, 5)
        ).alias("query"),
    )
    return retrieval.bm25_topk(docs, queries, k=10)


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (r8, retrieval.rrf_fuse): the same five
    queries run BOTH rankers — BM25 over document text and exact
    cosine over the documents' embeddings (vec_id == doc_id semijoin;
    brute_force_topk with the engine-exact sql kernel, self-match
    excluded) — and reciprocal-rank fusion (c=60) combines the two
    top-20 lists into a top-10 per query. Per-system contributions
    1/(60+rank) round to 9 and sum as DECIMAL(20,9), so DuckDB
    replays the lexical ranking, the vector ranking AND the fusion
    cell-for-cell."""
    from flycatcher_spark.operators import retrieval, similarity
    from flycatcher_spark.operators.text import normalize_text, tokens

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    em = _emb_double(spark, sf_dir)
    corpus_vec = em.join(
        docs.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    queries_text = docs.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(
            " ", F.slice(tokens(normalize_text("text")), 1, 5)
        ).alias("query"),
    )
    queries_vec = em.filter(F.col("vec_id") < 5)
    lex = retrieval.bm25_topk(docs, queries_text, k=20)
    vec = similarity.brute_force_topk(
        corpus_vec, queries_vec, k=20, id_col="vec_id",
        vec_col="embedding",
    )
    return retrieval.rrf_fuse(
        [
            lex.select("query_id", "doc_id", "rank"),
            vec.select(
                "query_id", F.col("vec_id").alias("doc_id"), "rank"
            ),
        ],
        k=10,
    )


def q_doc_tfidf_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF document keywords: term frequency per doc × smoothed
    inverse document frequency, top-3 terms per document. Two
    aggregations (term-per-doc, doc-frequency) + a broadcast-eligible
    join on term; the top-k window partitions by doc_id so ranking
    parallelizes per document."""
    from flycatcher_spark.operators.text import normalize_text, tokens

    docs = _read(spark, sf_dir, "documents")
    # corpus size as a broadcast 1-row aggregate — no separate driver
    # count job, stays one lazy plan
    n_docs_df = docs.agg(
        F.count(F.lit(1)).cast("double").alias("__n_docs")
    )
    terms = docs.select(
        "doc_id", F.explode(tokens(normalize_text("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("__n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    scored = tf.join(dfreq, "term").join(F.broadcast(n_docs_df)).select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df", "tfidf")
    )


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters: top/duplicate word
    n-gram character fractions per document (text.repetition_profile).
    Explode → combiner-friendly (doc, gram) count → per-doc aggregate;
    map-side partial aggregation keeps the shuffle proportional to
    distinct grams, not occurrences."""
    docs = _read(spark, sf_dir, "documents")
    return text.repetition_profile(docs, ns=(2, 3))


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (emails/URLs/intl phone numbers) as
    map-only regexp chains. The corpus is synthetic and PII-free, so
    the query plants deterministic PII derived from doc_id into each
    text and verifies both the counts and the redacted string
    cell-for-cell against the oracle."""
    docs = _read(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com via https://ex.example/d/"),
        F.col("doc_id").cast("string"),
        F.lit(" tel +1555"),
        F.lpad(F.col("doc_id").cast("string"), 7, "0"),
    )
    counts = text.pii_counts(aug)
    return docs.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_urls"].alias("n_urls"),
        counts["n_phones"].alias("n_phones"),
        text.redact_pii(aug).alias("redacted"),
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source stratified sampling (md5-bucket, no
    rand()): reproducible across runs, engines, partitionings, and row
    order — domain mixing a training pipeline can re-run safely."""
    docs = _read(spark, sf_dir, "documents")
    sampled = text.hash_stratified_sample(
        docs,
        strata_col="source",
        fractions={"src0": 0.8, "src1": 0.5, "src2": 0.25},
        key_col="doc_id",
        default_fraction=0.1,
    )
    return sampled.select("doc_id", "source")


def q_corpus_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end training-corpus selection: the composed
    pipeline a pretraining data job actually runs —

    1. normalized exact dedup (min-doc_id survivor),
    2. quality floor (heuristic quality score >= 0.7),
    3. repetition ceiling (duplicate-trigram char fraction <= 0.2),
    4. deterministic md5-bucket train split (80%).

    Every stage is deterministic, so the survivor set is
    oracle-checkable cell-for-cell. Plan shape: one (fingerprint)
    aggregate for dedup, one gram aggregate for repetition, the rest
    map-only; survivors carry (doc_id, lang, quality, dup3) so the
    output is prunable to 4 columns."""
    docs = _read(spark, sf_dir, "documents")
    deduped = dedup.exact_dedup(
        docs, subset=["text"], id_col="doc_id", normalize=True
    )
    # repetition metrics are row-local: compute them on the survivors
    # only, not the pre-dedup corpus
    rep = text.repetition_profile(deduped, ns=(3,)).select(
        "doc_id", F.coalesce(F.col("dup3_char_frac"), F.lit(0.0)).alias("dup3")
    )
    scored = deduped.select(
        "doc_id",
        "lang",
        text.quality_score(F.col("text")).alias("quality"),
    ).join(rep, "doc_id")
    kept = scored.where(
        (F.col("quality") >= 0.7) & (F.col("dup3") <= 0.2)
    )
    bucket = text.md5_bucket(F.col("doc_id"), 1000)
    return kept.where(bucket < 800).select("doc_id", "lang", "quality", "dup3")


def q_validate_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 default injection: a defaulted column absent from the input
    is added filled with the default (reference polars.py:144-157)."""

    class OrderChannelSchema(Schema):
        o_orderkey: int = Field(ge=1)
        o_orderstatus: str
        o_totalprice: float
        channel: str = "web"
        priority_rank: int = 99

    v = OrderChannelSchema.to_spark_validator()
    return v.validate_lazy(_read(spark, sf_dir, "orders"))


def q_dsl_between_closures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """is_between with all four interval closures + multiple_of."""
    orders = _read(spark, sf_dir, "orders")
    lo, hi = 50000.0, 150000.0
    return orders.select(
        "o_orderkey",
        col("o_totalprice").is_between(lo, hi, closed="both").to_spark().alias("c_both"),
        col("o_totalprice").is_between(lo, hi, closed="left").to_spark().alias("c_left"),
        col("o_totalprice").is_between(lo, hi, closed="right").to_spark().alias("c_right"),
        col("o_totalprice").is_between(lo, hi, closed="none").to_spark().alias("c_none"),
        (col("o_orderkey") % 7 == 0).to_spark().alias("div7"),
    )


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP(region, nation) — subtotal rows
    have nation NULL, grand total has both NULL."""
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", "8,4")))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(revenue.cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


def q_set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: customers ordering in BOTH halves of 1997
    (INTERSECT) and in H1 only (EXCEPT), labeled and unioned."""
    orders = _read(spark, sf_dir, "orders")
    h1 = orders.filter(
        (F.col("o_orderdate") >= F.lit(datetime(1997, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1997, 7, 1)))
    ).select("o_custkey")
    h2 = orders.filter(
        (F.col("o_orderdate") >= F.lit(datetime(1997, 7, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1998, 1, 1)))
    ).select("o_custkey")
    both = h1.intersect(h2).withColumn("segment", F.lit("both"))
    h1_only = h1.subtract(h2).withColumn("segment", F.lit("h1_only"))
    return both.unionByName(h1_only)


def q_orders_no_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: orders with no lineitem rows (NOT EXISTS shape)."""
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    return orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"], "left_anti"
    ).select("o_orderkey", "o_orderstatus")


def q_median_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median + min/max per order status."""
    orders = _read(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.median("o_totalprice"), 6).alias("median_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.min("ts_us").alias("first_us"),
        F.max("ts_us").alias("last_us"),
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) via window functions."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ev.withColumn("__new", new_sess)
        .withColumn("session_id", F.sum("__new").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
        )
    )


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: JSON props extraction."""
    ev = _read(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window gap sessions (batch mode; the streaming
    path is flycatcher_spark.streaming.session_windows). Cross-checked
    against the lag()-based oracle formulation."""
    from flycatcher_spark.streaming import session_windows

    ev = _read(spark, sf_dir, "events")
    sess = session_windows(
        ev, ts_col="ts", key_cols=["user_id"], gap="30 minutes", watermark=None
    )
    return sess.select(
        "user_id",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
        "n_events",
    )


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click attaches the user's most recent prior
    (or simultaneous) purchase. Union+window formulation — one
    shuffle, no nested-loop join; oracled by DuckDB's native ASOF."""
    from flycatcher_spark.operators import asof

    ev = _read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts_us"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts_us", "value"
    )
    joined = asof.asof_join(
        clicks, purchases, on="user_id", ts_col="ts_us", suffix="_p"
    )
    return joined.select(
        "user_id",
        "event_id",
        "ts_us",
        "purchase_id_p",
        F.col("value_p").alias("purchase_value"),
        F.col("ts_us_p").alias("purchase_ts_us"),
    )


def q_events_user_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


# ---------------------------------------------------------------------------
# queries — text analysis (SURVEY.md §7.1 step 7)
# ---------------------------------------------------------------------------
def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # interpreted-HOF metric expressions are CPU-bound: widen an
    # under-partitioned scan first (no-op on wide inputs)
    docs = plans.ensure_min_parallelism(
        _read(spark, sf_dir, "documents"), key="doc_id"
    )
    c = F.col("text")
    # all token-derived metrics from ONE tokenize pass (r4): the
    # struct is staged through a column so it evaluates once per row
    p = F.col("__prof")
    return (
        docs.withColumn("__prof", text.profile_struct(c))
        .select(
            "doc_id",
            text.char_count(c).cast("long").alias("n_chars_c"),
            p["n_tokens"].cast("long").alias("n_tokens"),
            text.bpe_ish_token_count(c).cast("long").alias("n_bpe"),
            F.round(p["mean_token_len"], 6).alias("mean_tok_len"),
            F.round(p["stopword_ratio"], 6).alias("stop_ratio"),
            F.round(text.punct_ratio(c), 6).alias("punct_ratio"),
            F.round(text.digit_ratio(c), 6).alias("digit_ratio"),
            p["quality"].alias("quality"),
            p["lang_pred"].alias("lang_pred"),
            text.fingerprint(c).alias("fingerprint"),
        )
    )


def q_lang_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select(text.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# queries — deduplication (SURVEY.md §7.1 step 7)
# ---------------------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, subset=["text"], id_col="doc_id")


def q_dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, subset=["text"], id_col="doc_id", normalize=True)


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, num_perm=64, bands=16, shingle_n=3, threshold=0.5
    )


def q_minhash_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor ids of unverified MinHash-LSH dedup — rows-only BY
    DESIGN: which candidate pairs band together at threshold=0.7 is a
    property of the 64-perm signature family, not of exact Jaccard,
    so no SQL oracle can reproduce the survivor set. Value-level
    evidence lives in the oracle-checked companions minhash_dedup_verified
    (same banding + exact-Jaccard verification, hash-matched vs
    DuckDB's string-shingle Jaccard) and minhash_verified_pairs."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.minhash_dedup(
        docs, num_perm=64, bands=16, shingle_n=3, threshold=0.7
    ).select("doc_id")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, max_distance=3, n_bands=4)


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, max_id_gap=25, shingle_n=1, threshold=0.2
    )


def q_minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified with exact trigram Jaccard.

    Turns the seed-dependent candidate stage into a value-checkable
    result: every true pair in this corpus has trigram Jaccard >=
    0.88, so 16-band/4-row banding has full recall (P(miss) <
    1e-6 per pair, and the seeded pipeline is deterministic) and the
    verified output equals ground-truth all-pairs Jaccard >= 0.5 —
    which DuckDB computes directly."""
    docs = _read(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_pairs(
        docs, num_perm=64, bands=16, shingle_n=3, threshold=0.0
    )
    return dedup.verify_pairs_jaccard(
        cand, docs, shingle_n=3, threshold=0.5
    )


def q_minhash_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified fuzzy dedup: LSH proposes, exact trigram Jaccard
    decides (minhash_dedup(verify_threshold=0.5)). With full-recall
    banding the survivor set equals ground truth — DuckDB drops every
    doc that has a lower-id pair at exact Jaccard >= 0.5."""
    docs = _read(spark, sf_dir, "documents")
    kept = dedup.minhash_dedup(
        docs, num_perm=64, bands=16, shingle_n=3, verify_threshold=0.5
    )
    return kept.select("doc_id", "source", "lang")


def q_simhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding candidates verified with exact trigram Jaccard
    (same ground-truth-equality design as minhash_verified_pairs;
    near-dup docs here differ by a few tokens; the true pairs'
    signatures measure hamming <= 9, so radius 12 covers them with
    margin). n_bands > max_distance (the d+1 pigeonhole) makes band
    recall exact, not probabilistic."""
    docs = _read(spark, sf_dir, "documents")
    cand = dedup.simhash_pairs(docs, max_distance=12, n_bands=13)
    return dedup.verify_pairs_jaccard(
        cand, docs, shingle_n=3, threshold=0.5
    )


def q_ivf_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN probing every cell: exhaustive search, so the output
    must equal exact brute-force top-k — an oracle-checkable proof of
    the assign/probe/score machinery (pruned-probe recall is covered
    by the rows-only ivf_topk)."""
    em = _emb_double(spark, sf_dir)
    q = em.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    res = similarity.ivf_topk(
        em, q, k=4, n_cells=8, n_probe=8, seed=7
    )
    return res.select(
        "query_id", "vec_id", "sim", F.col("rank").cast("long").alias("rank")
    )


# ---------------------------------------------------------------------------
# queries — decontamination / incremental dedup / bloom pruning (round 3)
# ---------------------------------------------------------------------------
def q_decontam_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination report: trigram overlap of every
    corpus doc (doc_id % 50 != 7) against a held-out benchmark slice
    (doc_id % 50 == 7). The benchmark's hashed grams broadcast; the
    only shuffle carries one row per doc. Planted near-duplicates of
    benchmark docs surface with contamination_frac near 1."""
    docs = _read(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 7)
    corpus = docs.where(F.col("doc_id") % 50 != 7)
    return decontam.contamination_report(
        corpus, bench, n=3, frac_threshold=0.5
    )


def q_verbatim_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-contamination spans: longest verbatim token run each
    corpus doc shares with the benchmark slice (5-gram islands);
    catches the long-quote-in-long-doc leak that fraction overlap
    dilutes away."""
    docs = _read(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 7)
    corpus = docs.where(F.col("doc_id") % 50 != 7)
    return decontam.verbatim_overlap_report(
        corpus, bench, n=5, min_span_tokens=12
    )


def q_incremental_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: a 'new batch' (doc_id % 10 == 3, plus
    re-keyed copies of doc_id % 7 == 0 planted as known duplicates)
    deduplicated against the accepted corpus (doc_id % 10 != 3) by
    normalized fingerprint, then min-id within the batch. The planted
    copies exercise both drop paths deterministically."""
    docs = _read(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 3)
    injected = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    new_batch = (
        docs.where(F.col("doc_id") % 10 == 3)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .unionByName(injected)
    )
    kept = dedup.incremental_exact_dedup(new_batch, corpus)
    return kept.select("doc_id", "lang", "source", "n_chars")


def q_incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental fuzzy dedup: new docs (doc_id % 10 == 3) are
    dropped when LSH banding proposes a corpus partner and exact
    trigram Jaccard confirms >= 0.5. Same full-recall banding
    argument as minhash_verified_pairs (true pairs here measure
    >= 0.9), so the survivor set equals ground truth — which DuckDB
    computes from an inverted trigram index."""
    docs = _read(spark, sf_dir, "documents")
    new_batch = docs.where(F.col("doc_id") % 10 == 3)
    corpus = docs.where(F.col("doc_id") % 10 != 3)
    kept = dedup.incremental_minhash_dedup(
        new_batch,
        corpus,
        num_perm=64,
        bands=16,
        shingle_n=3,
        verify_threshold=0.5,
    )
    return kept.select("doc_id", "lang", "source")


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (sub-document) dedup: 8-token spans duplicated
    anywhere in the corpus are removed, first occurrence (min doc id,
    then earliest position) kept, text rebuilt. Catches the
    copy-pasted passages document-level dedup can't pair up; the
    planted near-duplicate docs lose most of their spans here."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.span_dedup(docs, span=8)


def q_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large×large join with Catalyst runtime bloom-filter pruning
    (SPARK-32268): the selective orders side builds a bloom filter
    over its join keys and a might_contain predicate prunes lineitem
    rows BEFORE the shuffle. The pruned execution runs inside the
    conf context (verified in tests/test_plans.py); the returned
    frame is value-identical under session defaults, so later
    queries' planning is untouched."""
    orders = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000)
    )
    li = _read(spark, sf_dir, "lineitem")
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", "8,4")))
    out = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            revenue.cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )
    with plans.runtime_bloom_pruning(spark):
        out.count()
    return out


# ---------------------------------------------------------------------------
# queries — similarity search (SURVEY.md §7.1 step 7)
# ---------------------------------------------------------------------------
def _emb_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = _read(spark, sf_dir, "embeddings")
    return em.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label"
    )


def q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = _emb_double(spark, sf_dir)
    q = em.filter(F.col("vec_id") < 10)
    res = similarity.brute_force_topk(em, q, k=5, id_col="vec_id", vec_col="embedding")
    return res.select("query_id", "vec_id", "sim", F.col("rank").cast("long").alias("rank"))


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = _emb_double(spark, sf_dir)
    return dedup.embedding_neardup_pairs(
        em, id_col="vec_id", vec_col="embedding", block_col="label",
        threshold=0.3, impl="sql",  # oracle mode: engine-portable values
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a pruned probe (3 of 8 cells) — approximate and
    rows-only BY DESIGN: which neighbors fall in unprobed cells
    depends on the seeded k-means quantizer, which no SQL engine
    reproduces. Value-level evidence lives in the oracle-checked
    companions: ivf_full_probe (probe 8/8 == exact brute force,
    hash-matched vs DuckDB) proves the assign/probe/score machinery,
    and ann_recall quantifies this pruned config's recall@5."""
    em = _emb_double(spark, sf_dir)
    q = em.filter(F.col("vec_id") < 10)
    res = similarity.ivf_topk(
        em, q, k=5, id_col="vec_id", vec_col="embedding", n_cells=8, n_probe=3
    )
    return res.select("query_id", "vec_id", "sim", F.col("rank").cast("long").alias("rank"))


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN, multi-table amplification path — approximate
    and rows-only BY DESIGN: bucket membership depends on seeded
    random hyperplanes no SQL engine reproduces, and unlike IVF/PQ
    there is no exhaustive configuration (a 0-bit signature would
    degenerate to the knn_topk cross join, which is already oracle-
    checked as its own query). Value evidence: ann_recall quantifies
    recall@5 for two (n_bits, n_tables) points of this exact code
    path, and the per-pair cosine kernel is shared with the oracle-
    checked knn_topk/ivf_full_probe."""
    em = _emb_double(spark, sf_dir)
    res = similarity.lsh_bucketed_topk(
        em, k=5, id_col="vec_id", vec_col="embedding", dim=64, n_bits=10,
        n_tables=4,
    )
    return res.select("query_id", "vec_id", "sim", F.col("rank").cast("long").alias("rank"))


# ---------------------------------------------------------------------------
# queries — multimodal plumbing (SURVEY.md §7.1 step 7)
# ---------------------------------------------------------------------------
def q_skew_salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation on genuinely skewed keys (3
    returnflag values over 600k rows) — must equal a plain GROUP BY."""
    from flycatcher_spark.operators import skew

    li = _read(spark, sf_dir, "lineitem")
    return skew.salted_groupby_count(li, ["l_returnflag"], salt_buckets=16)


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (skew.salted_join): lineitem joined to the
    supplier dimension on l_suppkey — a repeated key (~600 lines per
    supplier at sf0.1) standing in for the hot-key case where the
    dimension is too large to broadcast. The big side is salted, the
    small side replicated x16 map-only, so each hot key spreads over
    16 reducers instead of one straggler. Result must equal the plain
    join + GROUP BY the oracle computes."""
    from flycatcher_spark.operators import skew

    li = _read(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    supp = _read(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"),
        F.col("s_nationkey").alias("nationkey"),
    )
    joined = skew.salted_join(li, supp, on="l_suppkey", salt_buckets=16)
    return joined.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("total_price"),
    )


def q_events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate pattern: raw events roll
    up to an hourly tier once, and the daily tier aggregates the
    HOURLY table (not the raw events) — the pre-aggregation reuse that
    makes dashboard stacks cheap at scale. Output: daily rows with
    counts, sums, and the busiest hour per day (deterministic
    min-struct tie-break)."""
    ev = _read_events(spark, sf_dir)
    hour_us = 3600 * 1_000_000
    hourly = (
        ev.select(
            (F.col("ts_us") - F.pmod(F.col("ts_us"), F.lit(hour_us))).alias("hour_us"),
            "value",
        )
        .groupBy("hour_us")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("sum_value"),
        )
    )
    day_us = 24 * hour_us
    daily = (
        hourly.withColumn(
            "day_us", F.col("hour_us") - F.pmod(F.col("hour_us"), F.lit(day_us))
        )
        .groupBy("day_us")
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("sum_value"), 6).alias("sum_value"),
            F.count(F.lit(1)).alias("n_active_hours"),
            F.min(
                F.struct((-F.col("n")).alias("negn"), F.col("hour_us").alias("h"))
            ).alias("__top"),
        )
    )
    return daily.select(
        "day_us",
        "n_events",
        "sum_value",
        "n_active_hours",
        F.col("__top.h").alias("busiest_hour_us"),
        (-F.col("__top.negn")).alias("busiest_hour_events"),
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the approximate ANN paths against exact brute
    force — quantitative evidence for the rows-only operators. No SQL
    oracle (DuckDB can't run the seeded k-means or LSH planes), but
    the output is deterministic: seeded quantizer/planes over
    deterministic data."""
    em = _emb_double(spark, sf_dir)
    q = em.filter(F.col("vec_id") < 20)
    exact = similarity.brute_force_topk(em, q, k=5).select(
        "query_id", F.col("vec_id").alias("nn")
    )
    results = []

    def lsh(n_bits: int, n_tables: int) -> DataFrame:
        return (
            similarity.lsh_bucketed_topk(
                em, k=5, dim=64, n_bits=n_bits, n_tables=n_tables
            )
            .where(F.col("query_id") < 20)
            .select("query_id", F.col("vec_id").alias("nn"))
        )

    ivf = similarity.ivf_topk(em, q, k=5, n_cells=8, n_probe=2, seed=7).select(
        "query_id", F.col("vec_id").alias("nn")
    )
    ivf6 = similarity.ivf_topk(em, q, k=5, n_cells=8, n_probe=6, seed=7).select(
        "query_id", F.col("vec_id").alias("nn")
    )
    pq = similarity.pq_topk(em, q, k=5, m=32, n_codes=16, seed=42).select(
        "query_id", F.col("vec_id").alias("nn")
    )
    pq_rr = similarity.pq_topk(
        em, q, k=5, m=32, n_codes=16, seed=42, rerank=4
    ).select("query_id", F.col("vec_id").alias("nn"))
    ivfpq = similarity.ivf_pq_topk(
        em, q, k=5, n_cells=8, n_probe=6, m=32, n_codes=16, seed=7, rerank=8
    ).select("query_id", F.col("vec_id").alias("nn"))
    n_truth = F.lit(100.0)  # 20 queries x k=5
    configs = (
        ("lsh_4bit_16tables", lsh(4, 16)),  # high recall, more compute
        ("lsh_6bit_8tables", lsh(6, 8)),    # cheaper, lower recall
        ("ivf_probe2of8", ivf),
        ("pq_m32_codes16", pq),  # 8x-compressed codes, ADC scoring
        # -- production search paths (exact re-rank stage); sf0.001
        # -- recall: ivf 6/8 0.90, pq rerank 0.97, ivfpq 0.90 --------
        ("ivf_probe6of8", ivf6),
        ("pq_m32_rerank4", pq_rr),
        ("ivfpq_probe6of8_rerank8", ivfpq),
    )
    for name, approx in configs:
        hit = exact.join(approx, ["query_id", "nn"], "left_semi")
        results.append(
            hit.agg(
                F.lit(name).alias("method"),
                F.round(F.count(F.lit(1)) / n_truth, 4).alias("recall_at_5"),
            )
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: corpus vectors stored as 32-byte PQ
    codes (8x compression at dim=64) and scored by asymmetric
    distance (m table lookups per candidate — no float vectors move
    at query time). Rows-only BY DESIGN: k-means codebooks are
    seed-dependent, so no SQL engine can reproduce the ADC scores;
    the value-level evidence lives in the oracle-checked companions —
    pq_rerank_topk (full-width shortlist == exact brute force, hash-
    matched vs DuckDB) and ann_recall (recall@5 of this narrow
    config) — plus the ADC==reconstructed-cosine pin in
    tests/test_operators.py."""
    em = _emb_double(spark, sf_dir)
    q = em.filter(F.col("vec_id") < 10)
    res = similarity.pq_topk(em, q, k=5, m=32, n_codes=16, seed=42)
    return res.select(
        "query_id", "vec_id", "sim", F.col("rank").cast("long").alias("rank")
    )


def q_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN in its oracle-checkable configuration (the
    ivf_full_probe trick, r9 verdict #3): the ADC shortlist is sized
    to cover the WHOLE corpus (rerank = ceil(n/k) + 1), so the exact
    re-rank stage provably returns brute-force top-k — which DuckDB
    computes directly via list_dot_product. Proves train → encode →
    ADC table-lookup scoring → shortlist → exact re-rank end-to-end
    with a value-level hash match; the production narrow-shortlist
    recall (>= 0.95 at rerank=4) is quantified by ann_recall. The
    one count() sizing the shortlist is a scalar agg on the (small)
    embeddings table, not a hot-path collect."""
    em = _emb_double(spark, sf_dir)
    n = em.count()
    q = em.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 40))
    res = similarity.pq_topk(
        em, q, k=5, m=32, n_codes=16, seed=42, rerank=(n + 4) // 5 + 1
    )
    return res.select(
        "query_id", "vec_id", "sim", F.col("rank").cast("long").alias("rank")
    )


def q_ivf_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ+exact-rerank ANN (similarity.ivf_pq_topk — the
    production search composite) in its oracle-checkable
    configuration: every cell probed and a rerank shortlist wide
    enough that the re-ranked output provably equals exact
    brute-force top-k, which DuckDB computes directly. Proves the
    whole pipeline — index training → cell assign → PQ encode → ADC
    shortlist → exact re-rank over raw vectors — end-to-end; pruned-
    probe recall (0.90 at probe 6/8 on sf0.001) is quantified by
    ann_recall.

    The index is trained inline on every run: one sample, from which
    numpy k-means fits both the centroids and the PQ codebooks (the
    timed run includes that training). Production search jobs pass
    saved indexes instead (save_ivf_centroids / save_pq_codebooks),
    which test_ivf_pq_pretrained_equals_inline pins to the same
    rows."""
    em = _emb_double(spark, sf_dir)
    q = em.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 30))
    res = similarity.ivf_pq_topk(
        em, q, k=5, n_cells=8, n_probe=8, m=32, n_codes=16, seed=7, rerank=8
    )
    return res.select(
        "query_id", "vec_id", "sim", F.col("rank").cast("long").alias("rank")
    )


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass dataset profiler over orders (exact mode so the
    oracle can reproduce; production uses approx_count_distinct)."""
    orders = _read(spark, sf_dir, "orders")
    return stats.profile_stats(
        orders,
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        exact=True,
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    with_payload = multimodal.attach_payload(docs, text_col="text")
    return multimodal.decode_meta(with_payload, id_col="doc_id")


def q_format_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-coverage instrument (r8, multimodal.payload_format /
    sniff_format): a seven-way mixed binary corpus — WAV, FLAC,
    JPEG (the make_jpeg_payload rotation makes every third one
    PROGRESSIVE, and the sniffer's marker walk must tell them
    apart), PNG, PPM, a real tar shard, and junk/null rows — is
    classified by magic bytes alone, no decode. DuckDB states every
    row's format from the doc_id formulas outright. This is how a
    pipeline measures what share of a corpus its decoders cover
    instead of conflating 'unsupported' with 'corrupt'."""
    from flycatcher_spark.operators import webdataset

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 7
    parts = [
        multimodal.make_wav_payload(docs.where(m == 0)),
        multimodal.make_flac_payload(docs.where(m == 1)),
        multimodal.make_jpeg_payload(docs.where(m == 2)),
        multimodal.make_png_payload(docs.where(m == 3)),
        multimodal.make_pnm_payload(docs.where(m == 4), fmt="ppm"),
        webdataset.make_webdataset_payload(docs.where(m == 5)),
        docs.where(m == 6).withColumn(
            "payload",
            F.when(
                F.col("doc_id") % 14 == 6, F.lit(None).cast("binary")
            ).otherwise(
                F.encode(
                    F.concat(F.lit("junk "), F.col("doc_id").cast("string")),
                    "utf-8",
                )
            ),
        ),
    ]
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)
    return multimodal.payload_format(corpus).select("doc_id", "payload_fmt")


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    with_payload = multimodal.attach_payload(docs, text_col="text")
    return multimodal.frame_sample_plan(with_payload, id_col="doc_id", every_n_bytes=64)


def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (r5): every document gets a deterministic
    binary PPM payload (multimodal.make_pnm_payload — pixel i is
    (doc_id*7 + i*13) % 256), and decode_image_meta genuinely parses
    the P6 header + raster back out of the bytes inside the Arrow
    mapInPandas stage. DuckDB replays the pixel formula in closed
    form, so header fields AND the raster mean are value-checked —
    the real-decoder upgrade of multimodal_meta (whose byte-stub mode
    remains the oracle-portable fake)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    with_payload = multimodal.make_pnm_payload(docs, fmt="ppm")
    meta = multimodal.decode_image_meta(with_payload, id_col="doc_id")
    return meta.select(
        "doc_id",
        "fmt",
        "width",
        "height",
        "maxval",
        "n_channels",
        "n_pixel_bytes",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


def q_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode (r8, operators/gif): every doc gets a genuine
    GIF89a — global color table, image descriptor, REAL LZW
    compression (greedy string table, width bumps, clear resets),
    every fourth payload Adam-style 4-pass INTERLACED and every
    fifth animated (two frames; frame one decodes) — and parse_gif
    genuinely LZW-decompresses and palette-expands inside the Arrow
    stage. Palette colors and index raster are closed-form, so
    DuckDB states dimensions and the raster mean outright."""
    docs = _read(spark, sf_dir, "documents").select("doc_id").repartition(spark.sparkContext.defaultParallelism)
    with_payload = multimodal.make_gif_payload(docs)
    meta = multimodal.decode_image_meta(with_payload, id_col="doc_id")
    return meta.select(
        "doc_id",
        "fmt",
        "width",
        "height",
        "maxval",
        "n_channels",
        "n_pixel_bytes",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


def q_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED GIF sampled-frame decode (r9, gif.parse_gif_frames
    via multimodal.gif_frames): every doc gets a four-frame GIF89a —
    NETSCAPE loop extension, per-frame Graphic Control Extensions —
    sampled at every_n=2, and the decoder genuinely LZW-decodes and
    COMPOSES the logical screen: frame 0 persists (disposal keep)
    under frame 2's 2x2 transparent-patterned overlay, frame 1's
    restore-previous inset must vanish (and, being unsampled, is
    never LZW-decoded), and frame 3 sits past the sampling window
    (never decoded). The planted palette arithmetic makes each
    composed raster mean closed-form, so DuckDB states the sampled
    frame table — indices, delays, dimensions, means — outright."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    with_payload = multimodal.make_animated_gif_payload(docs)
    out = multimodal.gif_frames(with_payload, every_n=2)
    return out.select(
        "doc_id",
        "frame_idx",
        "n_frames_total",
        "delay_cs",
        "width",
        "height",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


def q_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF decode (r9, operators/tiff): every doc gets a
    genuine baseline TIFF whose PIXELS rotate by id%3 (grayscale /
    RGB / 8-color palette, all closed-form) while the CONTAINER
    rotates independently — compression none / real PackBits / real
    early-change MSB-first LZW, horizontal-differencing predictor on
    even ids, big-endian every 5th, independent two-row strips every
    4th — and parse_tiff genuinely walks the IFD and decompresses
    inside the Arrow stage. DuckDB states dimensions and the raster
    mean outright; the container axes cannot change them, which is
    exactly the check."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    with_payload = multimodal.make_tiff_payload(docs)
    meta = multimodal.decode_image_meta(with_payload, id_col="doc_id")
    return meta.select(
        "doc_id",
        "fmt",
        "width",
        "height",
        "maxval",
        "n_channels",
        "n_pixel_bytes",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


def q_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BMP decode (r9, operators/bmp): id%3 rotates 24-bit
    BI_RGB (bottom-up BGR rows with 4-byte padding), 8-bit
    palettized, and 8-bit RLE8 whose run-structured indices exercise
    the real run-length compressor; top-down rows every 7th non-RLE
    id. parse_bmp genuinely un-pads, re-orders and RLE-decodes inside
    the Arrow stage; every raster statistic is closed-form for
    DuckDB."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    with_payload = multimodal.make_bmp_payload(docs)
    meta = multimodal.decode_image_meta(with_payload, id_col="doc_id")
    return meta.select(
        "doc_id",
        "fmt",
        "width",
        "height",
        "maxval",
        "n_channels",
        "n_pixel_bytes",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified video/animation frame sampling (r9,
    multimodal.media_frames): even docs carry MJPEG AVIs, odd docs
    four-frame animated GIFs, and ONE Arrow stage dispatches by
    magic — AVI frames JPEG-decode (sampled only), GIF frames
    COMPOSE per GIF89a — so a mixed 100 TB media corpus needs no
    pre-split. The oracle is the union of the two dedicated decode
    oracles keyed by doc parity, proving the dispatch changes
    nothing about either decode path."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    avi = video.make_avi_payload(docs.where(F.col("doc_id") % 2 == 0))
    gif_p = multimodal.make_animated_gif_payload(
        docs.where(F.col("doc_id") % 2 == 1)
    )
    out = multimodal.media_frames(avi.unionByName(gif_p), every_n=2)
    return out.select(
        "doc_id",
        "fmt",
        "frame_idx",
        "n_frames_total",
        "width",
        "height",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


def q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF text extraction (r9, operators/pdf): every doc gets a
    genuine PDF — catalog, page tree (nested /Pages every 7th id),
    per-page content streams (FlateDecode for even ids, a two-stream
    /Contents array every 5th, an incremental-update xref chain every
    3rd), show ops cycling Tj / kerned-TJ / hex-string / octal-escape
    forms. Every ODD id is PDF 1.5: a real cross-reference STREAM
    (/W-sized big-endian fields, FlateDecode, PNG-Up / TIFF
    predictors on ids 5/7 mod 8, two-range /Index), with ids 1,3
    mod 8 packing the document objects into an /ObjStm and odd
    multiples of 3 chaining a classic section over the stream base —
    and parse_pdf genuinely walks whichever container it gets,
    inflates, and replays the BT/ET text operators inside the Arrow
    stage. The planted two-line-per-page text is closed-form and
    container-independent, so DuckDB states it outright."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    with_payload = pdf.make_pdf_payload(docs)
    return pdf.extract_pdf_text(with_payload, id_col="doc_id")


def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode (r6): every document gets a deterministic PNG
    payload — true signature, IHDR/IDAT/IEND chunks with correct
    CRCs, zlib-deflated scanlines alternating None and Up filters
    (multimodal.make_png_payload) — and decode_image_meta genuinely
    inflates + filter-reverses the raster back out of the bytes
    (multimodal.parse_png, stdlib zlib only) inside the Arrow
    mapInPandas stage. Dimension and pixel formulas match the PNM
    fixture, so DuckDB value-checks the header fields AND the raster
    mean in closed form; only the container (and the real inflate
    path) differs from image_decode. Id repartition before payload
    synthesis (r11): the single-row-group fixture otherwise
    serializes the whole encode+decode chain onto one core — the
    same fix webp_decode shipped with in r10."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    with_payload = multimodal.make_png_payload(docs, color="rgb")
    meta = multimodal.decode_image_meta(with_payload, id_col="doc_id")
    return meta.select(
        "doc_id",
        "fmt",
        "width",
        "height",
        "maxval",
        "n_channels",
        "n_pixel_bytes",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


def q_webp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-WebP decode (r10, closing the r9 descope): every
    document gets a deterministic VP8L payload — RIFF container,
    LSB-first bitstream, literal-only entropy coding through the full
    prefix-code machinery (webp.encode_webp builds real frequency-
    based codes; ``id % 3`` rotates dense/two-symbol/constant rasters
    so normal code-length-coded, simple, and zero-bit code headers
    all genuinely decode) — and parse_webp walks it back out inside
    the Arrow mapInPandas stage. The r9 blocker (the unverifiable
    120-entry LZ77 distance map) is avoided by construction: the
    literal-only subset never reads a distance code (see
    operators/webp.py module docstring). Dimension and pixel formulas
    are closed-form, so DuckDB value-checks header fields AND the
    raster mean.

    The slim id column repartitions before payload synthesis: the
    fixture parquet is a single row group, which would otherwise
    serialize the whole Arrow encode+decode stage onto one core —
    production archives arrive in thousands of input splits and
    never need this. The shuffle moves 8-byte ids only."""
    docs = plans.ensure_min_parallelism(
        _read(spark, sf_dir, "documents").select("doc_id"), key="doc_id"
    )
    with_payload = multimodal.make_webp_payload(docs)
    meta = multimodal.decode_image_meta(with_payload, id_col="doc_id")
    return meta.select(
        "doc_id",
        "fmt",
        "width",
        "height",
        "maxval",
        "n_channels",
        "n_pixel_bytes",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


def q_zip_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP-shard ingest (r10, webdataset.zip_samples): every document
    gets a real ZIP shard — odd ids DEFLATE, even ids STORE, so both
    decompression arms genuinely run — and the reader explodes it to
    one row per sample with the webdataset parts-map shape (ZIP has
    no adjacency contract, so samples group per archive). Captions
    and JSON metadata are closed-form strings DuckDB states outright,
    value-checking the central-directory walk, the inflate, and the
    sample grouping."""
    from flycatcher_spark.operators import webdataset

    docs = plans.ensure_min_parallelism(
        _read(spark, sf_dir, "documents").select("doc_id"), key="doc_id"
    )
    samples = webdataset.zip_samples(webdataset.make_zip_payload(docs))
    return samples.select(
        "doc_id",
        "sample_key",
        "n_members",
        F.element_at("parts", "txt").cast("string").alias("caption"),
        F.element_at("parts", "json").cast("string").alias("meta"),
    )


def q_webp_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED lossless WebP through the unified media_frames
    dispatch (r10): every document gets a deterministic VP8X/ANIM/
    ANMF container (multimodal.make_webp_anim_payload — full-canvas
    frame 0, a sub-rect frame 1, and on odd ids a top-row frame 2,
    all opaque literal-only VP8L), and media_frames composes each
    canvas state (blend/dispose per ANMF flags) inside the Arrow
    stage — the same stage that handles AVI and GIF, so the webp arm
    of the r9 unified dispatch is value-checked here: DuckDB states
    every composed canvas's RGBA mean in closed form (the overwrite
    sequence is a 3-way CASE on cell position). Id repartition for
    the single-row-group fixture, as in webp_decode."""
    docs = plans.ensure_min_parallelism(
        _read(spark, sf_dir, "documents").select("doc_id"), key="doc_id"
    )
    with_payload = multimodal.make_webp_anim_payload(docs)
    out = multimodal.media_frames(with_payload, id_col="doc_id", every_n=1)
    return out.select(
        "doc_id",
        "fmt",
        "frame_idx",
        "n_frames_total",
        "width",
        "height",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


def q_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode (r5): deterministic 16-bit PCM WAV payloads
    (multimodal.make_wav_payload — interleaved sample i is
    ((doc_id*31 + i*17) % 4096) - 2048), genuinely parsed back
    (RIFF walk, fmt/data chunks) by decode_wav_meta. DuckDB replays
    the sample formula, value-checking rate/channels/frames/duration
    and the sample RMS."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    with_payload = multimodal.make_wav_payload(docs)
    meta = multimodal.decode_wav_meta(with_payload, id_col="doc_id")
    return meta.select(
        "doc_id",
        "sample_rate",
        "n_channels",
        "bits_per_sample",
        "n_frames",
        F.round("duration_sec", 6).alias("duration_sec"),
        F.round("rms", 6).alias("rms"),
    )


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal → similarity composition (r5): decode real PPM
    payloads, derive pixel-histogram embeddings
    (multimodal.image_pixel_embedding — 8-bin normalized histogram of
    the decoded raster), then find each image's most-similar peer
    among images with the SAME decoded dimensions (the classic
    same-shape blocking that keeps all-pairs off the table: 13x7
    dimension blocks here). Every stage is the real pipeline — bytes
    are built, parsed, histogrammed — and every arithmetic step
    (bin = p // 32, hist/n, sequential-fold cosine) is reproduced by
    DuckDB in closed form, so the whole decode→embed→match path is
    value-checked end-to-end. The corpus MIXES containers (r6): even
    doc_ids carry PPM payloads, odd doc_ids real PNG — the pixel
    formulas are identical, so the SAME oracle validates both decode
    paths and the format dispatch simultaneously."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    payload = multimodal.make_pnm_payload(
        docs.where(F.col("doc_id") % 2 == 0), fmt="ppm"
    ).unionByName(
        multimodal.make_png_payload(
            docs.where(F.col("doc_id") % 2 == 1), color="rgb"
        )
    )
    meta = multimodal.decode_image_meta(payload, id_col="doc_id").select(
        "doc_id", "width", "height"
    )
    emb = multimodal.embed_payload(
        payload, id_col="doc_id", dim=8,
        embed_fn=multimodal.image_pixel_embedding,
    )
    em = meta.join(emb, "doc_id")
    left = em.alias("l")
    right = em.alias("r")
    pairs = left.join(
        right,
        (F.col("l.width") == F.col("r.width"))
        & (F.col("l.height") == F.col("r.height"))
        & (F.col("l.doc_id") != F.col("r.doc_id")),
    ).select(
        F.col("l.doc_id").alias("doc_id"),
        F.col("l.width").alias("width"),
        F.col("l.height").alias("height"),
        F.col("r.doc_id").alias("neighbor_id"),
        F.round(
            similarity.cosine(F.col("l.embedding"), F.col("r.embedding")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "width", "height", "neighbor_id", "sim")
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule gate (operators/quality): per-doc rule
    metrics plus the boolean gate, bounds fitted to the synthetic
    corpus so the gate splits it non-trivially. The metrics are
    interpreted HOFs (CPU-bound): widen an under-partitioned scan."""
    docs = plans.ensure_min_parallelism(
        _read(spark, sf_dir, "documents"), key="doc_id"
    )
    # stage the metrics struct through a column: one tokenize/line
    # pass for all seven metrics (r4)
    docs = docs.withColumn("__g", quality.gopher_struct("text"))
    m = {k: F.col("__g")[k] for k in [
        "n_words", "mean_word_len", "alpha_word_ratio", "symbol_ratio",
        "bullet_line_ratio", "ellipsis_line_ratio", "stopword_hits",
    ]}
    return docs.select(
        "doc_id",
        m["n_words"].cast("long").alias("n_words"),
        m["mean_word_len"].alias("mean_word_len"),
        m["alpha_word_ratio"].alias("alpha_word_ratio"),
        m["symbol_ratio"].alias("symbol_ratio"),
        m["bullet_line_ratio"].alias("bullet_line_ratio"),
        m["ellipsis_line_ratio"].alias("ellipsis_line_ratio"),
        m["stopword_hits"].cast("long").alias("stopword_hits"),
        quality.gopher_pass(
            "text",
            min_words=20,
            max_words=5000,
            min_mean_word_len=3.0,
            max_mean_word_len=8.0,
            min_alpha_word_ratio=0.9,
            min_stopword_hits=1,
        ).alias("gopher_ok"),
    )


def q_classifier_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier scoring (sigmoid(w.x+b), fixed
    stand-in weights) plus the keep decision at 0.6 — the
    FineWeb-Edu-shaped model-based filter, map-only."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        quality.classifier_score("text").alias("clf_score"),
    ).withColumn("clf_keep", F.col("clf_score") >= 0.6)


def q_unigram_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean unigram surprise under the corpus's own unigram
    LM (vocab=100, OOV scale 0.5) — the perplexity-filter stand-in."""
    docs = _read(spark, sf_dir, "documents")
    return quality.unigram_surprise(
        docs, vocab_size=100, oov_scale=0.5
    ).select("doc_id", "n_tokens", "surprise")


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap: top-3 docs per source by quality score
    (deterministic doc_id tiebreak)."""
    docs = _read(spark, sf_dir, "documents")
    scored = docs.withColumn("quality", text.quality_score("text"))
    capped = quality.cap_per_key(
        scored, "source", [F.desc("quality"), F.asc("doc_id")], 3
    )
    return capped.select(
        "source", F.col("rank").cast("long").alias("rank"), "doc_id", "quality"
    )


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (sqrt) mixture sampling toward ~120 rows, weighted
    by per-source total chars; md5-hash acceptance so the selected
    set is engine/partitioning-independent."""
    docs = _read(spark, sf_dir, "documents")
    out = quality.mixture_sample(
        docs, "source", "doc_id", target_rows=120, weight_expr=F.sum("n_chars")
    )
    return out.select("doc_id", "source", F.col("__rate10k").alias("rate10k"))


def q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training order without a single-task
    sort: md5-prefix shards + per-shard windows + broadcast offsets."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    out = quality.training_order(docs, "doc_id", seed="epoch0")
    return out.select("doc_id", "shard", "pos")


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling: select 60 docs from the non-src0
    corpus whose unigram profile matches the src0 target set, via
    deterministic Gumbel top-k over mean unigram log-ratios."""
    docs = _read(spark, sf_dir, "documents")
    target = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    out = quality.dsir_sample(
        corpus, target, k=60, vocab_size=100, oov_scale=0.5, seed="dsir0"
    )
    return out.select("doc_id", "source", "logw")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document sequence packing: deterministic epoch order,
    token streams concatenated and cut into 256-token training
    sequences; one row per (sequence, doc-span)."""
    docs = _read(spark, sf_dir, "documents")
    with_tc = docs.select(
        "doc_id", text.token_count("text").cast("long").alias("n_toks_doc")
    )
    return quality.pack_sequences(
        with_tc, "n_toks_doc", seq_len=256, seed="pack0"
    )


def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability metrics (operators/text.sentence_count /
    syllable_count / fk_grade): Flesch-Kincaid grade over planted
    sentence structure (the synthetic corpus has no terminal
    punctuation, so the query builds three sentences per doc from the
    doc's own text — the oracle replays the same construction). The
    grade is integer counts through one IEEE divide/multiply chain —
    no transcendental, hash-matchable."""
    # interpreted-HOF CPU per row (three tokenize passes + per-token
    # regexp_count chains); widen the under-partitioned scan before
    # it (the curated_corpus guard — profiled 2.4 s single-task here)
    docs = plans.ensure_min_parallelism(
        _read(spark, sf_dir, "documents").select("doc_id", "text"),
        key="doc_id",
    )
    built = F.concat(
        F.substring(F.col("text"), 1, 40), F.lit(". "),
        F.substring(F.col("text"), 41, 60), F.lit("! "),
        F.col("text"), F.lit("."),
    )
    d = docs.select("doc_id", built.alias("t"))
    return d.select(
        "doc_id",
        text.sentence_count(F.col("t")).alias("n_sents"),
        F.size(text.tokens(F.col("t"))).cast("long").alias("n_words"),
        text.syllable_count(F.col("t")).alias("n_syllables"),
        text.fk_grade(F.col("t")).alias("fk_grade"),
    )


def q_doc_line_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document duplicate-line removal (operators/text
    .unique_lines — the C4-style page cleanup, map-only fold): planted
    page text repeats a nav line, a body line and a footer inside
    each document; the cleanup keeps first occurrences in order. The
    oracle replays it with a first-position list_filter."""
    docs = _read(spark, sf_dir, "documents")
    nl = F.lit("\n")
    nav = F.concat(F.lit("nav "), (F.col("doc_id") % 5).cast("string"))
    body1 = F.substring(F.col("text"), 1, 50)
    body2 = F.substring(F.col("text"), 51, 50)
    t = F.concat(
        nav, nl, body1, nl, nav, nl, body2, nl, body1, nl,
        F.lit("footer"), nl, F.lit("footer"),
    )
    d = docs.select("doc_id", t.alias("t"))
    cleaned = text.unique_lines(F.col("t"))
    return d.select(
        "doc_id",
        F.size(F.split(F.col("t"), "\n")).cast("long").alias("n_lines"),
        F.size(F.split(cleaned, "\n")).cast("long").alias("n_uniq_lines"),
        cleaned.alias("cleaned"),
    )


def q_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-aware chunking (operators/text.chunk_by_sentences):
    five planted sentences per doc (four 35-char fragments + the full
    text as a deliberately over-long final sentence), greedily packed
    into <=24-token chunks that never split a sentence. The oracle
    replays the same greedy fold with DuckDB's list_reduce, chunks
    string-encoded on chr(2)."""
    docs = _read(spark, sf_dir, "documents")
    built = F.concat(
        F.substring(F.col("text"), 1, 35), F.lit(". "),
        F.substring(F.col("text"), 36, 35), F.lit(". "),
        F.substring(F.col("text"), 71, 35), F.lit("! "),
        F.substring(F.col("text"), 106, 35), F.lit("? "),
        F.col("text"), F.lit("."),
    )
    d = docs.select("doc_id", built.alias("text"))
    return text.chunk_by_sentences(d, max_tokens=24)


def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass filter-chain attribution (operators/quality
    .quality_funnel): five ordered gates over documents, each row
    labeled with the FIRST gate that rejects it, aggregated once.
    All gate math is integer (cross-multiplied ratio bounds), so the
    funnel is bit-identical across engines — no float boundary can
    move a document between stages."""
    docs = _read(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    d = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            F.transform(toks, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_wlen"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
    )
    stages = [
        ("min_chars", F.col("n_chars") >= 100),
        ("lang_known", F.col("lang").isin("en", "de", "fr", "es")),
        ("min_words", F.col("n_words") >= 20),
        (
            "word_len_band",
            (17 * F.col("n_words") <= 4 * F.col("sum_wlen"))
            & (4 * F.col("sum_wlen") <= 19 * F.col("n_words")),
        ),
        ("uniq_ratio", 5 * F.col("n_uniq") >= 2 * F.col("n_words")),
    ]
    out = quality.quality_funnel(d, stages)
    return out.select(
        F.col("stage_idx").cast("long").alias("stage_idx"),
        "stage",
        "n_in",
        "n_removed",
        "n_out",
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/quality.weighted_sample): priority sampling with a
    hash-derived uniform, top-50 by integer priority
    ``(n_chars * 1e9) div (md5_bucket+1)`` — pure bigint arithmetic,
    so the selected set hash-matches any engine. Executes as
    TakeOrderedAndProject: no global sort."""
    docs = _read(spark, sf_dir, "documents")
    out = quality.weighted_sample(docs, F.col("n_chars"), "doc_id", k=50)
    return out.select(
        "doc_id", F.col("n_chars").alias("weight"), "priority"
    )


def q_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed round-3 curation flagship — the selection pipeline a
    pretraining-data job runs, end-to-end as ONE oracle-checked query:

    1. Gopher rule gate (corpus-fitted bounds),
    2. classifier floor (sigmoid linear scorer >= 0.6),
    3. sqrt-temperature mixture sampling toward 150 rows, weighted by
       per-source total chars over the SURVIVORS of 1-2,
    4. deterministic epoch order (md5 shards, dense positions).

    Every stage is a pure function of the data, so the final ordered
    sample is cell-for-cell checkable. Evidence the quality operators
    compose, like corpus_select is for the dedup family."""
    # the gate + classifier map stage is interpreted-HOF CPU-bound:
    # widen an under-partitioned scan before it
    docs = plans.ensure_min_parallelism(
        _read(spark, sf_dir, "documents"), key="doc_id"
    )
    gated = docs.where(
        quality.gopher_pass(
            "text",
            min_words=20,
            max_words=5000,
            min_mean_word_len=3.0,
            max_mean_word_len=8.0,
            min_alpha_word_ratio=0.9,
            min_stopword_hits=1,
        )
    )
    scored = gated.withColumn("clf_score", quality.classifier_score("text"))
    # The survivor set is referenced four times downstream (mixture
    # stats + join side, ordering window + shard counts); without a
    # persist each reference re-evaluates the whole rule/classifier
    # expression tree — measured 4x the stage cost at sf0.1. At
    # cluster scale this is the checkpoint between pipeline stages
    # (the training example writes it as the accepted-corpus table).
    kept = (
        scored.where(F.col("clf_score") >= 0.6)
        .select("doc_id", "source", "n_chars", "clf_score")
        .persist()
    )
    mixed = quality.mixture_sample(
        kept, "source", "doc_id", target_rows=150, weight_expr=F.sum("n_chars")
    )
    ordered = quality.training_order(
        mixed.select("doc_id", "source", "clf_score"), "doc_id", seed="epoch0"
    )
    return ordered.select("pos", "doc_id", "source", "clf_score")


def q_validate_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-typed schema validation (§7 nested-type extension):
    list[float] field with item-count and element-range constraints
    (compiled to size/array_min/array_max — no higher-order lambdas).
    Violations are planted deterministically (vec_id % 97 == 1 →
    truncated to 10 items; % 101 == 2 → elements scaled x100) so the
    gate filters non-trivially; survivors project to scalars."""

    class EmbeddingSchema(Schema):
        vec_id: int = Field(ge=0)
        embedding: list[float] = Field(
            min_items=64, max_items=64, item_ge=-10.0, item_le=10.0
        )
        label: int

    em = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        "label",
    )
    planted = em.select(
        "vec_id",
        F.when(
            F.col("vec_id") % 97 == 1, F.slice("embedding", 1, 10)
        )
        .when(
            F.col("vec_id") % 101 == 2,
            F.transform("embedding", lambda x: x * 100.0),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
        "label",
    )
    v = EmbeddingSchema.to_spark_validator()
    good = v.validate_lazy(planted)
    return good.select(
        "vec_id",
        "label",
        F.size("embedding").cast("long").alias("n_items"),
        F.round(F.array_min("embedding"), 6).alias("emb_min"),
        F.round(F.array_max("embedding"), 6).alias("emb_max"),
    )


def q_payload_embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal composition: payload bytes → mapInPandas embedding
    extraction (model stand-in: byte-bucket sums) → exact cosine
    top-3 via operators.similarity — the media-embedding-then-ANN
    pipeline end-to-end, oracle-checked."""
    docs = _read(spark, sf_dir, "documents")
    with_payload = multimodal.attach_payload(docs, text_col="text")
    emb = multimodal.embed_payload(with_payload, id_col="doc_id", dim=8)
    queries_side = emb.where(F.col("doc_id") < 5)
    res = similarity.brute_force_topk(
        emb, queries_side, k=3, id_col="doc_id", vec_col="embedding", impl="sql"
    )
    return res.select(
        "query_id", "doc_id", "sim", F.col("rank").cast("long").alias("rank")
    )


def q_validate_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed schema validation (§7 nested-type extension):
    dict[str, int] field over parsed JSON props, with entry-count,
    required-key, and value-range constraints. Violations planted
    deterministically (% 37 == 3 → empty object, % 41 == 5 → wrong
    key, % 43 == 7 → negative value)."""

    class EventPropsSchema(Schema):
        event_id: int = Field(ge=0)
        props: dict[str, int] = Field(
            min_items=1, required_keys=["k"], item_ge=0
        )

    ev = _read(spark, sf_dir, "events")
    planted = ev.select(
        "event_id",
        F.from_json(
            F.when(F.col("event_id") % 37 == 3, F.lit("{}"))
            .when(F.col("event_id") % 41 == 5, F.lit('{"j": 1}'))
            .when(F.col("event_id") % 43 == 7, F.lit('{"k": -5}'))
            .otherwise(F.col("props")),
            "map<string,bigint>",
        ).alias("props"),
    )
    v = EventPropsSchema.to_spark_validator()
    good = v.validate_lazy(planted)
    return good.select(
        "event_id",
        F.size("props").cast("long").alias("n_props"),
        F.element_at("props", "k").alias("k_val"),
    )


# Frozen BPE tokenizer artifact: 30 merges learned once from the
# sf0.01 documents word table (operators/bpe.learn_merges — see
# test_bpe for the learning algorithm's own known-answer checks).
# Production applies frozen tokenizers; freezing also lets the DuckDB
# oracle inline the identical replace chain.
_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("cu", "st"), ("cust", "o"),
    ("custo", "mer"),
]


def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-tokenizer application, oracle-checked: per-doc BPE
    token counts under _BPE_MERGES via the engine-portable
    spaced-symbol replace chain (bpe.bpe_word_symbol_counts). The
    Arrow kernel is pinned equal to this path in tests; this query
    proves the applied segmentation cell-for-cell."""
    docs = _read(spark, sf_dir, "documents")
    return bpe.bpe_word_symbol_counts(docs, _BPE_MERGES)


# Frozen BYTE-LEVEL tokenizer artifact (r9): 30 merges learned once
# from the sf0.01 pre-token table (operators/bpe.learn_merges_bytes
# — GPT-2-style regex pre-tokenization + byte-unicode alphabet, so
# the pairs are exactly merges.txt symbols, 'Ġ' = leading space).
_BPE_BYTES_MERGES: list[tuple[str, str]] = [
    ("Ġ", "s"), ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("Ġ", "c"), ("a", "s"),
    ("Ġ", "b"), ("Ġ", "v"), ("a", "r"), ("p", "ar"), ("Ġ", "f"),
    ("Ġ", "a"), ("Ġ", "t"), ("j", "o"), ("jo", "in"), ("as", "h"),
    ("h", "ash"), ("Ġ", "join"), ("s", "t"), ("r", "ow"),
    ("at", "c"), ("atc", "h"), ("a", "n"), ("c", "an"),
    ("lu", "m"), ("lum", "n"),
]


def q_bpe_bytes_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level (GPT-2-style) frozen-tokenizer application,
    oracle-checked: per-doc token counts under _BPE_BYTES_MERGES via
    the engine-portable path (bpe.bpe_bytes_symbol_counts) — NUL
    sentinel + lookahead-free regex pre-tokenization, then the
    hex-pair double-spaced replace chain. The Arrow kernel
    (bpe.bpe_bytes_token_count, true lookahead pattern) is pinned
    equal to this path in tests/test_bpe_bytes.py; the oracle replays
    pre-tokenization AND merge application cell-for-cell."""
    docs = _read(spark, sf_dir, "documents")
    return bpe.bpe_bytes_symbol_counts(docs, _BPE_BYTES_MERGES)


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: head/middle/tail thirds by
    unigram-LM surprise with exact interpolated-percentile thresholds
    (one one-row aggregate, broadcast back)."""
    docs = _read(spark, sf_dir, "documents")
    return quality.ccnet_buckets(docs, vocab_size=100)


def q_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-constrained mixing: every source contributes at
    most its token budget (src0 capped tighter, src1 looser, default
    for the rest), deterministic md5 order, sharded per-stratum
    cumsum (no single-task window)."""
    docs = _read(spark, sf_dir, "documents")
    out = quality.budget_mix(
        docs,
        strata_col="source",
        key_col="doc_id",
        token_count=text.token_count("text"),
        default_budget=1000,
        budgets={"src0": 500, "src1": 2000},
    )
    return out.select("doc_id", "source", "cum_tokens")


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split: near-duplicate clusters (LSH
    candidates verified at exact trigram Jaccard >= 0.5, transitively
    closed) are assigned to one side as a unit, so no val doc has a
    train-side near-duplicate. Full-recall banding (see
    q_minhash_verified_pairs) makes the pair set equal ground-truth
    all-pairs Jaccard, which DuckDB replays with a recursive CTE."""
    docs = _read(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_pairs(
        docs, num_perm=64, bands=16, shingle_n=3, threshold=0.0
    )
    pairs = dedup.verify_pairs_jaccard(cand, docs, shingle_n=3, threshold=0.5)
    return quality.leakage_safe_split(docs, pairs, train_pct=90)


def q_leakage_safe_split_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shaped leakage split (bench entry; rows-only):
    identical operator to q_leakage_safe_split but with production
    banding — candidates pruned at estimated Jaccard >= 0.5 before
    exact verification — instead of the full-recall threshold=0.0
    configuration that oracle equality demands. The banding is tuned
    to the regime the corpus actually has (true near-dups here
    measure Jaccard >= 0.9): bands=4 of 64 perms gives r=16 rows per
    band (LSH s-curve midpoint ~0.92), so the band shuffle carries 4x
    fewer rows and far fewer false candidates reach exact
    verification. Benching both shows the operator's real cost
    envelope vs its verification-mode cost (VERDICT r4 #6)."""
    docs = _read(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_pairs(
        docs, num_perm=64, bands=4, shingle_n=3, threshold=0.8
    )
    # hashed=True: the production verify path (8-byte shingle hashes
    # through the joins instead of strings; ~1e-15/pair collision odds
    # documented on verify_pairs_jaccard) — the oracle query keeps
    # strings for engine parity.
    pairs = dedup.verify_pairs_jaccard(
        cand, docs, shingle_n=3, threshold=0.5, hashed=True
    )
    return quality.leakage_safe_split(docs, pairs, train_pct=90)


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus release diff (r5, operators/versioning): the 'old'
    release is the documents table; the 'new' release removes
    doc_id % 13 == 3, edits doc_id % 17 == 2 (a suffix appended), and
    adds re-keyed copies of doc_id % 19 == 1 under +100000 ids.
    corpus_diff must classify every id — added / removed / changed /
    unchanged — from the md5 content fingerprints alone (slim-column
    shuffle; document bodies never move). DuckDB rebuilds both
    releases and replays the full-outer-join classification. The
    re-key offset for 'added' docs is derived from the corpus
    (max(doc_id)+1, one scalar agg) so it can never collide with a
    real id at any scale factor — the oracle mirrors it with a
    scalar subquery."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    off = docs.agg(F.max("doc_id")).first()[0] + 1
    old = docs
    new = (
        docs.where(F.col("doc_id") % 13 != 3)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 17 == 2, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            docs.where(F.col("doc_id") % 19 == 1).select(
                (F.col("doc_id") + F.lit(off)).alias("doc_id"), "text", "lang"
            )
        )
    )
    return versioning.corpus_diff(
        old, new, id_col="doc_id", content_cols=("text", "lang")
    )


def q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) decontamination: corpus vectors
    cosine-similar (>= 0.35) to any same-cluster benchmark vector
    (vec_id % 10 == 7 plays the held-out benchmark) are dropped —
    catches paraphrased eval leakage that n-gram decontamination
    (decontam_report) can't pair up. Composes
    quality.incremental_semantic_dedup with the benchmark as the
    'corpus' side: per-cluster new x benchmark blocks, never a corpus
    self-join, benchmark side tiny and broadcast (impl='sql' is the
    engine-portable oracle mode)."""
    em = _emb_double(spark, sf_dir)
    bench = em.where(F.col("vec_id") % 10 == 7)
    corpus = em.where(F.col("vec_id") % 10 != 7)
    out = quality.incremental_semantic_dedup(
        corpus, bench, threshold=0.35, impl="sql"
    )
    return out.select("vec_id", "label")


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deterministic Lloyd's k-means (operators/cluster): k=8,
    init = the 8 smallest vec_ids, 2 full assign+update rounds, then
    the final map-only assignment. Every step is engine-portable
    (DECIMAL-summed means, rounded distances, documented tie-breaks),
    so DuckDB replays the whole fit with unrolled CTEs and the
    assignment hash-matches cell-for-cell — the reproducible
    blocking-assignment producer for SemDeDup."""
    em = _emb_double(spark, sf_dir)
    out = cluster.kmeans(em, k=8, n_iter=2)
    return out.select("vec_id", F.col("cluster").cast("int").alias("cluster"), "dist")


def q_kmeans_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SemDeDup pipeline with NO precomputed labels: cluster
    the corpus with deterministic k-means (k=8, 2 rounds), then
    semantic-dedup within the learned clusters (cosine >= 0.35,
    transitive closure, min-id survivor). Proves the clusterer and
    the dedup compose — blocking comes from the data, not the
    fixture."""
    em = _emb_double(spark, sf_dir)
    assigned = cluster.kmeans(em, k=8, n_iter=2).select(
        "vec_id", "embedding", F.col("cluster").cast("int").alias("cluster")
    )
    out = quality.semantic_dedup(
        assigned, threshold=0.35, impl="sql", cluster_col="cluster"
    )
    return out.select("vec_id", "cluster")


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + recrawl dedup (operators/web): four
    planted URL variants per doc — clean, case/www/default-port/
    trailing-slash noise, tracking-params + fragment, http with its
    default port — collapse through canonical_url; url_dedup keeps
    the highest-n_chars row per canonical URL (ties to min doc_id).
    The oracle states the expected canonical form per variant
    outright, so this is a cell-for-cell known-answer check of the
    whole canonicalizer, and replays the best-row choice."""
    docs = _read(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 40).cast("string")
    v = F.col("doc_id") % 4
    base = F.concat(F.col("lang"), F.lit("/"), k)
    url = (
        F.when(v == 0, F.concat(F.lit("https://example.com/"), base))
        .when(
            v == 1,
            F.concat(F.lit("HTTPS://WWW.EXAMPLE.COM:443/"), base, F.lit("/")),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("https://example.com/"),
                base,
                F.lit("?utm_source=feed&b=2&a=1#top"),
            ),
        )
        .otherwise(
            F.concat(F.lit("http://example.com:80/"), base, F.lit("?a=1&b=2"))
        )
    )
    out = web.url_dedup(
        docs.withColumn("url", url), quality_col="n_chars"
    )
    return out.select("doc_id", "canonical_url", "n_chars")


_LANGID_MARKERS = {
    "en": "the quick brown fox jumps with joy over things ",
    "de": "der schnelle braune fuchs springt mit freude ",
    "es": "el zorro marron salta con alegria sobre cosas ",
    "fr": "le renard brun rapide saute avec joie sur des ",
    "zh": "kuai su de zong se hu li tiao yue guo dong xi ",
}


def q_langid_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven language ID (r6, operators/langid): per-language
    marker prose is planted in front of a 40-char slice of each doc
    (the fixture's lang labels are otherwise uncorrelated with its
    synthetic text), char-trigram profiles are LEARNED from the
    even-doc_id half (top-200 grams, -ln(count/total) costs, the
    unigram_surprise OOV convention), and every document is scored
    against every profile — cheapest language wins, (cost, lang)
    tie-break. DECIMAL-summed 9-decimal costs make the whole fit +
    argmax engine-exact, so DuckDB replays training AND prediction
    cell-for-cell."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    marker = None
    for code, txt in _LANGID_MARKERS.items():
        cond = F.when(F.col("lang") == code, F.lit(txt))
        marker = cond if marker is None else marker.when(
            F.col("lang") == code, F.lit(txt)
        )
    marker = marker.otherwise(F.lit("und und und "))
    base = docs.select(
        "doc_id",
        "lang",
        F.concat(marker, F.substring("text", 1, 40)).alias("text"),
    )
    prof = langid.train_langid_profiles(
        base.where(F.col("doc_id") % 2 == 0), top_k=200
    )
    return langid.langid_predict(base, prof)


def q_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl-archive ingest (r6, operators/warc): every document
    becomes a deterministic WARC archive in the Common Crawl layout —
    one gzip MEMBER per record (a warcinfo + 1+id%3 responses with
    closed-form URIs/bodies) — and warc_records genuinely gunzips the
    member chain and walks the version/header/Content-Length/block
    structure back out inside the Arrow mapInPandas stage. DuckDB
    rebuilds every record's headers and body in closed form, so
    types, URIs, dates, lengths AND body md5s are value-checked."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    archives = warc.make_warc_payload(docs, gzip_mode="members")
    recs = warc.warc_records(archives)
    return recs.select(
        "doc_id",
        "rec_idx",
        "rec_type",
        "target_uri",
        "warc_date",
        "content_length",
        F.md5("body").alias("body_md5"),
    )


def q_http_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP-layer decode of WARC response records (r9,
    warc.parse_http_response via warc.http_responses) — the stage a
    WET pipeline runs between warc_records and html_to_text: every
    doc becomes a WARC archive of three REAL HTTP messages (identity
    utf-8, chunked latin-1 with a chunk extension + trailer field +
    Location header, and the Common Crawl double of chunked OVER
    gzip content-encoding with the ISO-8859-1 default charset) and
    the parser genuinely splits status/headers, de-chunks, gunzips
    and charset-decodes inside the Arrow stage. Status, content
    type, charset, payload byte counts and decoded text are all
    closed-form, so DuckDB states the whole table outright."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    archives = warc.make_http_warc_payload(docs)
    recs = warc.warc_records(archives)
    out = warc.http_responses(
        recs, passthrough=["rec_idx", "target_uri"]
    )
    return out.select(
        "doc_id",
        "rec_idx",
        "target_uri",
        "status",
        "content_type",
        "charset",
        "n_payload_bytes",
        "text",
    )


_ROBOTS_TXT = (
    "User-agent: evilbot\n"
    "Disallow: /\n"
    "\n"
    "User-agent: *\n"
    "Disallow: /private\n"
    "Allow: /private/ok\n"
    "Disallow: /tmp/*.log\n"
    "Allow: /tmp/keep.log$\n"
)


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt crawl gate (r6, operators/web): every source host
    publishes a REAL robots.txt (group for another agent that must be
    ignored, prefix rules, a '*' wildcard, a '$' anchor), parsed by
    the Arrow kernel and compiled to rules; five planted URL shapes
    per doc exercise RFC 9309 precedence — longest match wins, allow
    beats disallow on ties, no-match defaults to allowed. The oracle
    states each shape's verdict outright, so parser + group selection
    + precedence are known-answer-checked end-to-end."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    robots = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host")
    ).distinct().withColumn("robots_txt", F.lit(_ROBOTS_TXT))
    rules = web.robots_rules(robots, agent="flycatcher")
    v = F.col("doc_id") % 5
    path = (
        F.when(v == 0, F.concat(F.lit("/public/"), F.col("doc_id")))
        .when(v == 1, F.concat(F.lit("/private/"), F.col("doc_id")))
        .when(v == 2, F.concat(F.lit("/private/ok/"), F.col("doc_id")))
        .when(v == 3, F.concat(F.lit("/tmp/f"), F.col("doc_id"), F.lit(".log")))
        .otherwise(F.lit("/tmp/keep.log"))
    )
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com"), path
        ).alias("url"),
    )
    return web.robots_gate(urls, rules).select("doc_id", "url", "allowed")


def q_robots_gate_compiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robots_gate fixture through the COMPILED path (r8; raw
    fast path r9, web.robots_gate(impl="compiled")): the RAW robots
    corpus is collected once (one narrow job — parse + RFC 9309
    group selection run driver-side, no Arrow parse stage, no window)
    and re-expressed as literal Column predicates — prefix rules as
    startswith, wildcard/anchored rules as literal-pattern rlike,
    precedence resolved at compile time into a WHEN chain — so the
    gate is join-free, shuffle-free and fully codegen-able. Same
    oracle verdicts as robots_gate; pytest additionally asserts the
    compiled plan carries no rule join and no pattern column."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    rules = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host")
    ).distinct().withColumn("robots_txt", F.lit(_ROBOTS_TXT))
    v = F.col("doc_id") % 5
    path = (
        F.when(v == 0, F.concat(F.lit("/public/"), F.col("doc_id")))
        .when(v == 1, F.concat(F.lit("/private/"), F.col("doc_id")))
        .when(v == 2, F.concat(F.lit("/private/ok/"), F.col("doc_id")))
        .when(v == 3, F.concat(F.lit("/tmp/f"), F.col("doc_id"), F.lit(".log")))
        .otherwise(F.lit("/tmp/keep.log"))
    )
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com"), path
        ).alias("url"),
    )
    return web.robots_gate(
        urls, rules, impl="compiled", agent="flycatcher"
    ).select("doc_id", "url", "allowed")


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text extraction (r6, web.html_to_text — the WET
    conversion stage after WARC ingest): each doc is wrapped in a
    real HTML page (head/style block, heading, comment, entity,
    trailing script block) and the pure-Column regex chain must strip
    blocks+tags, decode entities, and collapse whitespace. DuckDB
    replays the identical chain (script/style expanded to two passes
    — RE2 has no backreferences), value-checking the extracted text
    and its token count."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    page = F.concat(
        F.lit("<html><head><style>p {color: red}</style></head><body>"),
        F.lit("<h1>Title "), F.col("doc_id"), F.lit("</h1>"),
        F.lit("<!-- boilerplate -->"),
        F.lit("<p>"), F.substring("text", 1, 60),
        F.lit(" &amp; more</p><script>var x = 1;</script></body></html>"),
    )
    out = web.html_to_text(page)
    return docs.select(
        "doc_id",
        out.alias("text_out"),
        F.length(out).alias("n_chars"),
        F.size(F.split(out, " ")).cast("long").alias("n_tokens"),
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar quantization (r6, similarity.quantize_embeddings —
    the 4x-storage companion to PQ): per-vector affine int8 codes
    with floor(x + 0.5) rounding, deliberately chosen over round()
    because floor is engine-exact on half-way points. DuckDB replays
    min/scale and EVERY code byte (hex-matched), so the quantizer is
    value-checked bit-for-bit."""
    em = _emb_double(spark, sf_dir)
    q = similarity.quantize_embeddings(em)
    return q.select(
        "vec_id",
        F.col("sq8.mn").alias("mn"),
        F.col("sq8.scale").alias("scale"),
        F.length("sq8.codes").cast("long").alias("n_bytes"),
        F.hex("sq8.codes").alias("codes_hex"),
    )


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist gate (quality.blocklist_hits/pass):
    whole-word hits of a curated phrase list — including a multi-word
    phrase — against normalized text, zero-tolerance pass flag.
    Map-only; the list rides in the plan."""
    docs = _read(spark, sf_dir, "documents")
    phrases = ["slow", "dup", "batch stream"]
    return docs.select(
        "doc_id",
        quality.blocklist_hits("text", phrases).cast("long").alias("n_hits"),
        quality.blocklist_pass("text", phrases).alias("passed"),
    )


def q_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (text.normalize_unicode, the one
    documented Arrow-UDF exception to the pure-Column rule): planted
    combining-sequence payloads (e+U+0301, i+U+0308) must collapse to
    their precomposed forms and become byte-identical to the
    already-NFC variant; ASCII passes through. DuckDB replays with
    nfc_normalize over chr()-built payloads."""
    docs = _read(spark, sf_dir, "documents")
    v = F.col("doc_id") % 3
    planted = (
        F.when(v == 0, F.lit("cafe\u0301 nai\u0308ve "))   # decomposed
        .when(v == 1, F.lit("caf\u00e9 na\u00efve "))       # precomposed
        .otherwise(F.lit("cafe naive "))                        # ascii
    )
    raw = F.concat(planted, F.substring("text", 1, 12))
    norm = text.normalize_unicode(raw)
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(raw).alias("n_raw"),
        F.length(norm).alias("n_norm"),
        (norm != raw).alias("changed"),
    )


def q_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host document cap — the crawl-pipeline composition
    web.canonical_url -> web.host_of -> quality.cap_per_key: plant
    per-source URLs, canonicalize, extract the host, keep the top 20
    docs per host by n_chars (ties to min doc_id)."""
    docs = _read(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW."),
        F.upper("source"),
        F.lit(".Example.COM/"),
        F.col("doc_id").cast("string"),
    )
    with_host = docs.withColumn(
        "host", web.host_of(web.canonical_url(url))
    )
    capped = quality.cap_per_key(
        with_host,
        "host",
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        k=20,
    )
    return capped.select(
        "doc_id", "host", "n_chars", F.col("rank").cast("long").alias("rank")
    )


def q_bigram_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM surprise per doc (quality
    .bigram_surprise): p = 0.5*p_bigram + 0.5*p_unigram over the
    corpus's own top-100 unigram / top-500 bigram tables, first token
    unigram-only — the CCNet-direction upgrade of unigram_surprise.
    Both LM tables broadcast; the corpus never shuffles."""
    docs = _read(spark, sf_dir, "documents")
    return quality.bigram_surprise(
        docs, vocab_size=100, bigram_vocab_size=500, lam=0.5
    )


def q_incremental_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus semantic dedup: new vectors (vec_id % 10 == 3)
    survive unless a same-cluster corpus vector is cosine-similar at
    0.35 (impl="sql" oracle mode; never a corpus self-join)."""
    em = _emb_double(spark, sf_dir)
    new_batch = em.where(F.col("vec_id") % 10 == 3)
    corpus = em.where(F.col("vec_id") % 10 != 3)
    out = quality.incremental_semantic_dedup(
        new_batch, corpus, threshold=0.35, impl="sql"
    )
    return out.select("vec_id", "label")


def q_corpus_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM drift between the even- and odd-doc_id halves of
    the corpus: KL both ways + Jensen-Shannon, DECIMAL-summed
    (quality.corpus_divergence)."""
    docs = _read(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    return quality.corpus_divergence(a, b, vocab_size=200)


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training, first iteration: adjacent-character-pair counts
    over the capped word-frequency table (operators/bpe) — the
    corpus-scale stage of tokenizer training, top 40 pairs."""
    docs = _read(spark, sf_dir, "documents")
    wc = bpe.word_counts(docs, max_vocab_words=1000)
    pc = bpe.pair_counts_sql(wc)
    return (
        pc.orderBy(F.desc("n"), F.asc("pair"))
        .limit(40)
        .select("pair", F.col("n").cast("long").alias("n"))
    )


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-BPE token counts per doc: 30 merges trained on the
    corpus's own word table, applied by the Arrow kernel. The driver
    training loop is not SQL-expressible (rows-only check); the
    algorithm is pinned by known-answer tests on the classic
    Sennrich fixture."""
    docs = _read(spark, sf_dir, "documents")
    merges = bpe.learn_merges(
        bpe.word_counts(docs, max_vocab_words=1000), n_merges=30
    )
    return docs.select(
        "doc_id", bpe.bpe_token_count("text", merges).alias("n_bpe")
    )


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data card: doc/token counts, mean quality, gate
    pass rate, exact-duplicate rate — the governance summary of a
    training-data release, as one oracle-checked aggregate."""
    docs = _read(spark, sf_dir, "documents")
    return quality.corpus_report(
        docs,
        strata_col="source",
        gate=quality.gopher_pass(
            "text",
            min_words=20,
            max_words=5000,
            min_mean_word_len=3.0,
            max_mean_word_len=8.0,
            min_alpha_word_ratio=0.9,
            min_stopword_hits=1,
        ),
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup survivors: within-label cosine
    pairs at 0.35, transitive closure, min-id representative kept
    (impl="sql" — the engine-portable oracle mode)."""
    em = _emb_double(spark, sf_dir)
    out = quality.semantic_dedup(
        em, threshold=0.35, impl="sql", cluster_col="label"
    )
    return out.select("vec_id", "label")


# ---------------------------------------------------------------------------
# round 7: crawl-graph ranking, CDX indexing, sitemap frontier,
# line-level dedup, audio STFT features
# ---------------------------------------------------------------------------
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line dedup (r7, dedup.line_dedup — the FineWeb
    / RefinedWeb boilerplate-line stage): every document is wrapped
    with planted boilerplate (a global cookie banner, a %4 section
    header, a per-source footer) plus its own text line and a
    trailing blank; a line whose normalized form appears in >= 2
    distinct docs vanishes from EVERY doc, blank lines are exempt,
    survivors rejoin in original order. DuckDB replays the explode →
    count-distinct → rebuild chain cell-for-cell."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source", "text")
    page = F.concat_ws(
        "\n",
        F.lit("Cookie Notice: We Value Your Privacy"),
        F.concat(F.lit("Section "), (F.col("doc_id") % 4).cast("string")),
        F.col("text"),
        F.concat(F.lit("footer of "), F.col("source")),
        F.lit(""),
    )
    out = dedup.line_dedup(docs.withColumn("text", page))
    return out.select("doc_id", "text_dedup", "n_lines", "n_removed")


def q_pagerank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-graph quality prior (r7, web.extract_links →
    web.resolve_link → web.host_links → graph.pagerank): every doc is
    a page on host h(id%100) whose planted HTML links to three other
    hosts through three different href forms (absolute,
    protocol-relative, and an uppercase WWW absolute that only
    canonicalization maps to the right host), plus a root-relative
    self link (must drop as a self-loop) and a dot-segment relative
    link (must resolve to NULL and drop). Three exact PageRank
    iterations with DECIMAL-summed contributions; DuckDB states the
    edge list in closed form and replays the iterations as unrolled
    CTEs, so extraction, resolution, canonicalization, degree
    computation and the rank arithmetic are all value-checked."""
    i = F.col("doc_id")
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    a = (i * 7 + 1) % 100
    b = (i * 13 + 3) % 100
    c = (i * 3 + 2) % 100
    html = F.concat(
        F.lit('<p>page</p><a href="https://h'), a.cast("string"),
        F.lit('.example.com/a">A</a><a href="//h'), b.cast("string"),
        F.lit('.example.com/b">B</a><A HREF="HTTPS://WWW.H'),
        c.cast("string"),
        F.lit('.EXAMPLE.COM/c">C</A><a href="/self">S</a>'),
        F.lit('<a href="../rel">R</a>'),
    )
    pages = docs.select(
        F.concat(
            F.lit("https://h"), (i % 100).cast("string"),
            F.lit(".example.com/p"), i.cast("string"),
        ).alias("url"),
        html.alias("html"),
    )
    edges = web.host_links(pages)
    return graph.pagerank(edges, iterations=3)


def q_pagerank_redistribute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dangling-mass-conserving PageRank (r8,
    graph.pagerank(dangling="redistribute")): the pagerank_hosts
    pipeline, but only hosts with id % 5 != 0 publish pages — the
    other 20 hosts still RECEIVE links, so the graph has genuine
    sinks whose rank mass would leak under the drop rule. Each of the
    3 iterations adds d * D / N where D is the round-9 DECIMAL sum of
    rank on out-degree-0 nodes; DuckDB replays D and the extra term
    per iteration in the unrolled CTEs. Mass conservation (ranks sum
    to 1 within rounding) is pinned by pytest."""
    i = F.col("doc_id")
    docs = _read(spark, sf_dir, "documents").select("doc_id").where(
        (i % 100) % 5 != 0
    )
    a = (i * 7 + 1) % 100
    b = (i * 13 + 3) % 100
    c = (i * 3 + 2) % 100
    html = F.concat(
        F.lit('<p>page</p><a href="https://h'), a.cast("string"),
        F.lit('.example.com/a">A</a><a href="//h'), b.cast("string"),
        F.lit('.example.com/b">B</a><a href="https://h'),
        c.cast("string"),
        F.lit('.example.com/c">C</a>'),
    )
    pages = docs.select(
        F.concat(
            F.lit("https://h"), (i % 100).cast("string"),
            F.lit(".example.com/p"), i.cast("string"),
        ).alias("url"),
        html.alias("html"),
    )
    edges = web.host_links(pages)
    return graph.pagerank(edges, iterations=3, dangling="redistribute")


def q_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor extraction + resolution (r7, web.extract_links /
    web.resolve_link / web.canonical_url as one map-only chain):
    planted HTML carries a root-relative href, an absolute href with
    unsorted query params, a single-quoted href (outside the
    documented double-quote subset — must NOT extract) and a
    fragment-only href (must resolve to NULL). The oracle states
    every extracted position, resolution and canonical form
    outright."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    i = F.col("doc_id")
    html = F.concat(
        F.lit('<p>x</p><a href="/p'), i.cast("string"),
        F.lit('">l</a> <a class="m" href="https://ext'),
        (i % 7).cast("string"),
        F.lit(".org/x?b=2&a=1\">e</a> <a href='/skip'>s</a>"),
        F.lit('<a href="#top">t</a>'),
    )
    base = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/dir/page")
    )
    resolved = web.resolve_link(F.col("__base"), F.col("href"))
    return (
        docs.select(
            "doc_id",
            base.alias("__base"),
            F.posexplode(web.extract_links(html)).alias("link_idx", "href"),
        )
        .select(
            "doc_id",
            F.col("link_idx").cast("long").alias("link_idx"),
            "href",
            resolved.alias("resolved"),
            web.canonical_url(resolved).alias("canon"),
        )
    )


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text corpus (web.extract_anchors / web.anchor_text_agg):
    planted HTML carries two extractable anchors per page (a
    root-relative target whose text varies doc-by-doc and a shared
    cross-site absolute target with unsorted query params), plus a
    single-quoted href (outside the double-quote subset — must NOT
    extract), a fragment-only href (resolves NULL — drops) and an
    empty-text anchor (drops). The oracle states every surviving
    (target, anchor) pair outright, extract_links-style."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    i = F.col("doc_id")
    html = F.concat(
        F.lit('<p>x</p><a href="/p'), (i % 10).cast("string"),
        F.lit('"><b>page</b> '), (i % 3).cast("string"),
        F.lit('</a> <a class="m" href="https://ext'), (i % 7).cast("string"),
        F.lit('.org/x?b=2&a=1">ext '), (i % 5).cast("string"),
        F.lit("</a> <a href='/skip'>s</a>"),
        F.lit('<a href="#top">top</a><a href="/empty'), (i % 2).cast("string"),
        F.lit('"></a>'),
    )
    pages = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/dir/page")
        ).alias("url"),
        html.alias("html"),
    )
    out = web.anchor_text_agg(pages)
    return out.select(
        "target",
        F.col("n_refs").cast("long").alias("n_refs"),
        F.col("n_pages").cast("long").alias("n_pages"),
        F.col("n_anchors").cast("long").alias("n_anchors"),
        "anchors",
    )


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX capture index (r7, warc.cdx_index over the real WARC
    pipeline): deterministic member-gzip archives → warc_records →
    one index row per response with SURT key, 14-digit timestamp,
    canonical URL, body md5 and byte length. DuckDB rebuilds every
    record in closed form (the warc_records oracle's fixtures), so
    the SURT transform and every index field are value-checked."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    archives = warc.make_warc_payload(docs, gzip_mode="members")
    recs = warc.warc_records(archives)
    return warc.cdx_index(recs)


def q_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap frontier seeding (r7, web.sitemap_entries): each
    source host publishes a REAL sitemap.xml aggregated from its own
    docs (deterministic entry order, whitespace-padded <loc>,
    optional <lastmod> on even ids only); the parser explodes it back
    to one row per URL. The oracle states every (host, loc, lastmod)
    outright, so block splitting, trimming and the optional-tag NULL
    rule are known-answer-checked."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    i = F.col("doc_id")
    entry_xml = F.concat(
        F.lit("<url><loc> https://"), F.col("source"),
        F.lit(".example.com/d"), i.cast("string"), F.lit(" </loc>"),
        F.when(
            i % 2 == 0,
            F.concat(
                F.lit("<lastmod>2024-0"), (i % 9 + 1).cast("string"),
                F.lit("-01</lastmod>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</url>"),
    )
    sitemaps = (
        docs.select("source", F.struct(i.alias("i"), entry_xml.alias("x")).alias("__e"))
        .groupBy("source")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(F.collect_list("__e")),
                        lambda s: s.getField("x"),
                    ),
                ),
                F.lit("</urlset>"),
            ).alias("sitemap_xml")
        )
        .select(
            F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
            "sitemap_xml",
        )
    )
    return web.sitemap_entries(sitemaps)


def q_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC decode (r7, operators/flac): each doc's PCM (the
    exact make_wav_payload sample formula) is compressed into a real
    FLAC stream — STREAMINFO, frame header with CRC-8, rotating
    verbatim/fixed-order/LPC subframes (r8 adds quantized-coefficient
    LPC, the coding real-world FLAC uses almost exclusively) with
    Rice residuals, CRC-16 — and
    parse_flac genuinely walks the bitstream back out inside the
    Arrow stage. FLAC is lossless, so DuckDB replays the same sample
    formula as wav_decode, value-checking rate/channels/frames/
    duration and the sample RMS through the compressed container."""
    # the tiny doc table arrives in 1-2 file splits; the encode +
    # bitstream-decode Arrow stages are compute-dense, so spread them
    # (the SCALE.md single-node-harness note)
    docs = _read(spark, sf_dir, "documents").select("doc_id").repartition(spark.sparkContext.defaultParallelism)
    with_payload = multimodal.make_flac_payload(docs)
    meta = multimodal.decode_audio_meta(with_payload, id_col="doc_id")
    return meta.select(
        "doc_id",
        "fmt",
        "sample_rate",
        "n_channels",
        "bits_per_sample",
        "n_frames",
        F.round("duration_sec", 6).alias("duration_sec"),
        F.round("rms", 6).alias("rms"),
    )


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling (r7, operators/video): every doc
    gets a genuine MJPEG AVI — RIFF container with avih/strl headers
    and 4-8 DC-only fixture JPEGs in the movi LIST — and
    video_frames walks the chunks and fully JPEG-decodes every
    SECOND frame (every_n=2; unsampled frames are never decoded).
    Each frame's two blocks decode flat to closed-form values, so
    DuckDB states the sampled frame indices, dimensions and pixel
    means outright."""
    docs = _read(spark, sf_dir, "documents").select("doc_id").repartition(spark.sparkContext.defaultParallelism)
    with_payload = video.make_avi_payload(docs)
    out = video.video_frames(with_payload, every_n=2)
    return out.select(
        "doc_id",
        "frame_idx",
        "n_frames_total",
        "width",
        "height",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


def q_embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection (r7, similarity.random_projection): the
    64-dim embeddings project to 8 dims through a pure-Column
    index-derived ±1 sign matrix — no stored matrix, no seed, no
    Python — and DuckDB replays every output component with the same
    list-fold, so the sign formula, the sequential sum and the
    1/sqrt(out_dim) scaling are value-checked cell-for-cell."""
    em = _emb_double(spark, sf_dir)
    return em.select(
        "vec_id",
        F.posexplode(
            similarity.random_projection("embedding", 8)
        ).alias("dim", "val"),
    ).select("vec_id", F.col("dim").cast("long").alias("dim"), "val")


def q_html_lines_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-text composition (r7): planted multi-block HTML →
    html_to_text(block_breaks=True) (block boundaries become lines,
    per-line whitespace collapse) → dedup.line_dedup (the shared
    title and nav blocks vanish from every page, the content line
    survives). DuckDB replays the entire regex chain AND the
    line-frequency dedup, value-checking the two r7 stages composed
    end-to-end."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    page = F.concat(
        F.lit("<html><body><h1>Site Title</h1><p>"),
        F.substring("text", 1, 50),
        F.lit(" &amp; tail</p><div>nav | about | contact</div></body></html>"),
    )
    texts = docs.select(
        "doc_id", web.html_to_text(page, block_breaks=True).alias("text")
    )
    out = dedup.line_dedup(texts)
    return out.select("doc_id", "text_dedup", "n_lines", "n_removed")


def q_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET write side (r8, warc.write_wet -> warc_records): every
    document's text packs into Common-Crawl-layout WET shards
    (gzip-member WARC conversion records, 100 per shard assigned by
    the deterministic md5 order, a warcinfo record leading each
    shard) and the existing WARC ingest reads them back. DuckDB
    replays the shard assignment, the WITHIN-shard record indexes
    (pos %% 100 + 1 — stronger than the webdataset oracle, which
    checks membership only), every URI/body, the byte-exact
    Content-Length, and the per-shard warcinfo rows."""
    from flycatcher_spark.operators import warc as _warc

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    pages = docs.select(
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com/p"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
    )
    shards = _warc.write_wet(
        pages, records_per_shard=100, gzip_mode="members"
    )
    back = _warc.warc_records(shards, id_col="shard_id")
    return back.select(
        "shard_id",
        "rec_idx",
        "rec_type",
        "target_uri",
        F.col("body").cast("string").alias("body_text"),
        "content_length",
    )


def q_wat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT write side (r9, warc.write_wat -> warc_records ->
    warc.wat_metadata): per-page crawl metadata (status, Content-Type
    header, title, outgoing links) packs into Common-Crawl-layout WAT
    shards — WARC `metadata` records whose bodies are the envelope
    JSON, 100 per shard in the deterministic md5 order behind a
    warcinfo record — and the existing WARC ingest plus the pure-
    Column from_json reader extract every field back. DuckDB replays
    the shard assignment, within-shard record indexes, and every
    status/title/link-list value; warcinfo rows ride along as
    all-null metadata (framing still length-checked by parse_warc)."""
    from flycatcher_spark.operators import warc as _warc

    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    pages = docs.select(
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com/w"),
            F.col("doc_id").cast("string"),
        ).alias("uri"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(200))
        .when(F.col("doc_id") % 3 == 1, F.lit(301))
        .otherwise(F.lit(404))
        .cast("long")
        .alias("status"),
        F.lit("text/html").alias("content_type"),
        F.concat(F.lit("Doc "), F.col("doc_id")).alias("title"),
        F.transform(
            F.sequence(F.lit(0), F.col("doc_id") % 3),
            lambda k: F.concat(
                F.lit("http://l/"), F.col("doc_id"), F.lit("/"), k
            ),
        ).alias("links"),
    )
    shards = _warc.write_wat(pages, records_per_shard=100)
    back = _warc.warc_records(shards, id_col="shard_id")
    meta = _warc.wat_metadata(back)
    return meta.select(
        "shard_id",
        "rec_idx",
        "rec_type",
        "target_uri",
        "status",
        "resp_content_type",
        "title",
        F.size("links").cast("long").alias("n_links"),
        F.get(F.col("links"), 0).alias("first_link"),
    )


def q_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset WRITE side (r8, webdataset.write_webdataset →
    webdataset_samples): every doc becomes one sample (closed-form
    .txt caption + an id-length .bin member), the writer re-shards
    them into tar shards of exactly 100 samples assigned by the
    deterministic md5 order, and the ingest path reads the shards
    back MEMBER BY MEMBER (tar_members, r8: member_idx). DuckDB
    replays the assignment outright — pos = row_number over
    md5('wds:'||key) ordering, shard = pos // 100 — AND the archive
    layout: sample at within-shard position p stores its bin member
    at index 2p and its txt member at 2p+1 (extensions sorted), so
    the pack → tar → unpack loop, the shard assignment and the
    within-shard ORDER are all value-checked cell-for-cell."""
    from flycatcher_spark.operators import webdataset

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    samples = docs.select(
        F.concat(F.lit("s"), F.col("doc_id").cast("string")).alias(
            "sample_key"
        ),
        F.create_map(
            F.lit("txt"),
            F.encode(
                F.concat(F.lit("caption "), F.col("doc_id").cast("string")),
                "utf-8",
            ),
            F.lit("bin"),
            F.encode(
                F.repeat(F.lit("x"), (F.col("doc_id") % 50).cast("int")),
                "utf-8",
            ),
        ).alias("parts"),
    )
    shards = webdataset.write_webdataset(samples, samples_per_shard=100)
    members = webdataset.tar_members(shards, id_col="shard_id")
    return members.select(
        "shard_id",
        "member_idx",
        "sample_key",
        "ext",
        F.col("n_bytes").alias("body_len"),
        F.when(
            F.col("ext") == "txt", F.col("member").cast("string")
        ).alias("caption"),
    )


def q_zip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP WRITE side (r11, webdataset.write_zip_shards →
    zip_members): the container loop the r10 verdict left open.
    Every doc becomes one sample (closed-form .txt caption + an
    id-length .bin member), the writer re-shards them into ZIP
    shards of exactly 100 samples assigned by the deterministic
    md5('zip:'||key) order with DOS-epoch timestamps, and
    zip_members reads the shards back MEMBER BY MEMBER in
    central-directory order. DuckDB replays the assignment outright
    — pos = row_number over the md5 ordering, shard = pos // 100 —
    AND the archive layout: sample at within-shard position p
    stores .bin at member index 2p and .txt at 2p+1 (extensions
    sorted), so pack → zip → unpack, shard assignment and
    within-shard ORDER are all value-checked cell-for-cell (the
    tar writer's webdataset_roundtrip discipline)."""
    from flycatcher_spark.operators import webdataset

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    samples = docs.select(
        F.concat(F.lit("s"), F.col("doc_id").cast("string")).alias(
            "sample_key"
        ),
        F.create_map(
            F.lit("txt"),
            F.encode(
                F.concat(F.lit("caption "), F.col("doc_id").cast("string")),
                "utf-8",
            ),
            F.lit("bin"),
            F.encode(
                F.repeat(F.lit("x"), (F.col("doc_id") % 50).cast("int")),
                "utf-8",
            ),
        ).alias("parts"),
    )
    shards = webdataset.write_zip_shards(samples, samples_per_shard=100)
    members = webdataset.zip_members(shards, id_col="shard_id")
    return members.select(
        "shard_id",
        "member_idx",
        "sample_key",
        "ext",
        F.col("n_bytes").alias("body_len"),
        F.when(
            F.col("ext") == "txt", F.col("member").cast("string")
        ).alias("caption"),
    )


def q_webdataset_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard ingestion (r7, operators/webdataset): every
    doc becomes a REAL tar shard holding 2-4 samples, each a .txt
    caption + a .jpg image stored adjacently; tar_members walks the
    archive, webdataset_samples groups members into samples
    row-locally (no shuffle — the format's adjacency contract), and
    the jpg member is then genuinely JPEG-decoded. DuckDB states the
    sample keys, member counts, captions AND decoded image means in
    closed form, so the tar walk, grouping and the decode composition
    are value-checked end-to-end."""
    from flycatcher_spark.operators import webdataset

    docs = _read(spark, sf_dir, "documents").select("doc_id").repartition(spark.sparkContext.defaultParallelism)
    shards = webdataset.make_webdataset_payload(docs)
    # ONE shard pass: the sample map already carries the jpg member,
    # so the decode stage reads element_at(parts, 'jpg') instead of a
    # second tar_members walk (which would re-run the fixture build
    # AND the tar parse — measured 2x the whole query at sf0.1)
    samples = webdataset.webdataset_samples(shards).select(
        "doc_id",
        "sample_key",
        "n_members",
        F.element_at("parts", "txt").cast("string").alias("caption"),
        F.element_at("parts", "jpg").alias("payload"),
    )
    meta = multimodal.decode_image_meta(
        samples,
        id_col="doc_id",
        passthrough=["sample_key", "n_members", "caption"],
    )
    return meta.select(
        "doc_id",
        "sample_key",
        "n_members",
        "caption",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


def q_hits_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (r7, graph.hits) over the SAME planted
    crawl link graph as pagerank_hosts: two exact iterations of
    DECIMAL-summed mutual reinforcement with engine-portable
    max-normalization. DuckDB replays both iterations as unrolled
    CTEs with scalar-subquery maxes, so the sums, the normalizations
    and the no-in/out-edge zero rules are all value-checked."""
    i = F.col("doc_id")
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    a = (i * 7 + 1) % 100
    b = (i * 13 + 3) % 100
    c = (i * 3 + 2) % 100
    html = F.concat(
        F.lit('<a href="https://h'), a.cast("string"),
        F.lit('.example.com/a">A</a><a href="//h'), b.cast("string"),
        F.lit('.example.com/b">B</a><a href="https://h'),
        c.cast("string"), F.lit('.example.com/c">C</a>'),
    )
    pages = docs.select(
        F.concat(
            F.lit("https://h"), (i % 100).cast("string"),
            F.lit(".example.com/p"), i.cast("string"),
        ).alias("url"),
        html.alias("html"),
    )
    return graph.hits(web.host_links(pages), iterations=2)


def q_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode (r7, operators/jpeg; progressive arm r8):
    every doc gets a deterministic grayscale JPEG — DQT/SOF/DHT/SOS
    marker walk, custom canonical Huffman tables, DC-predicted
    entropy-coded blocks, every fifth payload with restart markers,
    and every THIRD payload progressive (SOF2: multi-scan DC
    first/refinement + AC bands accumulated per T.81 Annex G) — and
    parse_jpeg genuinely Huffman-decodes, dequantizes and IDCTs the
    raster back inside the Arrow stage. DC-only blocks with quantizer
    8 decode to the closed-form flat value 128 + dc per block, so
    DuckDB states dimensions and the raster mean outright while the
    decode path is the real thing (the AC/chroma/4:2:0 paths — and
    progressive == baseline on identical coefficients — are pinned by
    pytest against an independent IDCT)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id").repartition(spark.sparkContext.defaultParallelism)
    with_payload = multimodal.make_jpeg_payload(docs)
    meta = multimodal.decode_image_meta(with_payload, id_col="doc_id")
    return meta.select(
        "doc_id",
        "fmt",
        "width",
        "height",
        "maxval",
        "n_channels",
        "n_pixel_bytes",
        F.round("mean_pixel", 6).alias("mean_pixel"),
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed STFT audio features (r7, audio.stft_frame_features):
    deterministic square-wave WAVs (period 2^(2+id%5) divides the
    256-sample frame, amplitude 500+(id%10)*100, 1-3 frames) go
    through a REAL rfft per frame; the planted structure makes every
    output closed-form — dominant bin = frame_len/period, energy =
    frame_len*A^2 exactly (time-domain integer, Parseval-equal to the
    spectrum), rms = A — so DuckDB states the whole feature table
    outright."""
    docs = _read(spark, sf_dir, "documents").select("doc_id").repartition(spark.sparkContext.defaultParallelism)
    tones = audio.make_tone_payload(docs)
    return audio.stft_frame_features(tones)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: schema-validate lineitem then run the Q1 pricing
    summary on the validated frame (sf0.001)."""
    return q1_pricing_summary(spark, SF_SMOKE)


#: r10 window (r9 verdict #1): exactly 50 entries — the 51-entry bug
#: that silently dropped distinct_stats from the r9 cut is now pinned
#: by tools/gate.py's window-contract check. Composition, per the
#: documented policy (new first, then changed, then oldest greens):
#: distinct_stats leads (it sat at r9 position 51 and missed the
#: driver), then the 2 queries new this round (webp_decode — the
#: lossless-WebP r9 descope closed; pq_rerank_topk — the PQ family's
#: oracle-checkable arm), then leakage_safe_split (impl changed: the
#: component broadcast is now size-gated) and the 6 queries that had
#: NEVER been in a driver window (ann_recall, lsh_topk, ivf_topk,
#: pq_topk, minhash_dedup_ids, leakage_safe_split_prod — rows-only by
#: documented design, now finally getting driver row evidence), then
#: the 18 remaining r5-greens (the true stalest tier, ages computed
#: from the CORRECTNESS_r0*.json artifacts — the r9 verdict's list
#: from memory was wrong again; the real r5 tier is the curation/
#: report family below), then the oldest r7-greens in artifact order
#: to fill to 50. Max driver-green age after this round: r7.
#: r11 window (r10 verdict #1): exactly 50 entries, rotated to the
#: stale tiers. Ages recomputed from the CORRECTNESS_r0*.json
#: artifacts (latest round each query was driver-green). Composition:
#: zip_roundtrip leads (new this round — the ZIP write side closing
#: the container loop, r10 verdict #5), then the 4 queries whose impl
#: changed this round (the webp codec was LUT-rewritten + the
#: two-symbol transmitted-order ADVICE fix → webp_decode, webp_frames,
#: media_frames; zip_samples gained the decompression-bomb cap), then
#: the 4 stalest rows-only queries (approx_distinct last surfaced r2;
#: bpe_token_stats, minhash_pairs, simhash_pairs r3), then ALL 24
#: r7-greens (the oldest hash-checked tier; png_decode also picked up
#: a values-neutral plan change this round — the id repartition before
#: payload synthesis — and sits in this tier rather than jumping the
#: queue), filled to 50 with the first 17 r8-greens in CORRECTNESS_r08
#: artifact order. Max driver-green age after this round: r8.
_WINDOW_R11 = [
    # new this round, new-first policy (never-driver-checked outranks
    # already-green rotation): the two late-r11 batches — sketches /
    # z-order / contrastive mining / chat prep / containment, then
    # zip write side / funnel / priority-sampling / anchor-text /
    # readability / line-cleanup / sentence-chunking. To keep the
    # 50-entry contract the 13 youngest r8-green fillers rotate just
    # past the cut (multimodal_meta, frame_sample, table_profile,
    # knn_topk, skew_salted_counts, robots_gate, hybrid_search,
    # wet_roundtrip, flac_decode, jpeg_decode, embedding_project,
    # pagerank_hosts, webdataset_samples) — all stay r8-green.
    "hll_distinct", "cms_heavy_hitters", "zorder_locality",
    "contrastive_pairs", "chat_turns", "chat_stats", "containment_pairs",
    "profile_drift",
    "zip_roundtrip", "quality_funnel", "weighted_sample", "anchor_texts",
    "readability_scores", "doc_line_cleanup", "sentence_chunks",
    # changed this round
    "webp_decode", "webp_frames", "media_frames", "zip_samples",
    # stalest rows-only (r2-r3)
    "approx_distinct", "bpe_token_stats", "minhash_pairs",
    "simhash_pairs",
    # the full r7-green tier (artifact order)
    "hits_hosts", "host_cap", "html_extract", "html_lines_dedup",
    "image_neardup", "ivf_full_probe", "jaccard_pairs",
    "lang_histogram", "langid_profiles", "line_dedup",
    "minhash_dedup_verified", "minhash_verified_pairs",
    "pii_redaction", "pivot_order_status", "png_decode",
    "q12_priority_shipping", "simhash_verified_pairs", "sitemap_urls",
    "skew_salted_join", "stratified_sample", "text_profile",
    "url_dedup", "video_frames", "warc_records",
    # oldest r8-greens (CORRECTNESS_r08 artifact order)
    "pagerank_redistribute", "webdataset_roundtrip", "format_stats",
    # (bm25_search / hybrid_search / wet_roundtrip / flac_decode /
    # jpeg_decode / embedding_project / pagerank_hosts /
    # webdataset_samples rotate just past the cut for the eight
    # late-r11 queries (sketches, z-order, contrastive mining, chat
    # prep, containment, drift) — never-driver-checked outranks
    # already-green rotation; all eight stay r8-green.)
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registration order matters: the driver's correctness gate
    evaluates a prefix window of this dict (the first 50 entries).
    Ordering policy, documented in COVERAGE.md: queries new this
    round first, then queries whose oracle/impl changed this round,
    then a rotation of the OLDEST previously-green queries (see
    ``_WINDOW_R11``). Everything passes the full local replica
    (tools/check_oracle.py) regardless of position.
    """
    base = {
        # == r7 WINDOW (kept in registration order below; the actual
        # == r9 prefix is imposed by _WINDOW_R9 at the end) ==
        # -- positions 1-6: new r7 (cross-doc line dedup, crawl-graph
        # -- PageRank, link extraction/resolution, CDX indexing,
        # -- sitemap frontier parsing, audio STFT features)
        "line_dedup": q_line_dedup,
        "pagerank_hosts": q_pagerank_hosts,
        "pagerank_redistribute": q_pagerank_redistribute,
        "extract_links": q_extract_links,
        "anchor_texts": q_anchor_texts,
        "cdx_index": q_cdx_index,
        "sitemap_urls": q_sitemap_urls,
        "audio_features": q_audio_features,
        "flac_decode": q_flac_decode,
        "jpeg_decode": q_jpeg_decode,
        "video_frames": q_video_frames,
        "hits_hosts": q_hits_hosts,
        "webdataset_samples": q_webdataset_samples,
        "webdataset_roundtrip": q_webdataset_roundtrip,
        "zip_roundtrip": q_zip_roundtrip,
        "wet_roundtrip": q_wet_roundtrip,
        "embedding_project": q_embedding_project,
        "html_lines_dedup": q_html_lines_dedup,
        # -- positions 14-19 (r6-new batch; see COVERAGE note). The r6 driver artifacts
        # -- (CORRECTNESS_r06) never landed in the repo, so these have
        # -- no driver-green yet — they stay in the window rather than
        # -- rotating out on local evidence alone.
        "png_decode": q_png_decode,
        "gif_decode": q_gif_decode,
        "gif_frames": q_gif_frames,
        "tiff_decode": q_tiff_decode,
        "bmp_decode": q_bmp_decode,
        "media_frames": q_media_frames,
        "pdf_extract": q_pdf_extract,
        "langid_profiles": q_langid_profiles,
        "warc_records": q_warc_records,
        "http_payloads": q_http_payloads,
        "wat_roundtrip": q_wat_roundtrip,
        "robots_gate": q_robots_gate,
        "robots_gate_compiled": q_robots_gate_compiled,
        "html_extract": q_html_extract,
        "embedding_quantize": q_embedding_quantize,
        # -- positions 13-21: impl/oracle CHANGED in r6 (blocklist punctuation
        # -- matching, url_dedup null-quality + ref narrowing, corpus_diff
        # -- derived offset, PNG arm in image_neardup, hot-bucket salting in
        # -- the minhash/simhash banding path) — same no-driver-green caveat
        "image_neardup": q_image_neardup,
        "corpus_diff": q_corpus_diff,
        "url_dedup": q_url_dedup,
        "blocklist_filter": q_blocklist_filter,
        "host_cap": q_host_cap,
        "minhash_verified_pairs": q_minhash_verified_pairs,
        "simhash_verified_pairs": q_simhash_verified_pairs,
        "minhash_dedup_verified": q_minhash_dedup_verified,
        "leakage_safe_split": q_leakage_safe_split,
        # -- positions 22-31: r6's oldest-green rotation (last
        # -- driver-checked r3), kept in-window for the same reason
        "events_sessions": q_events_sessions,
        "events_user_top3": q_events_user_top3,
        "events_asof_join": q_events_asof_join,
        "events_json_props": q_events_json_props,
        "events_session_window": q_events_session_window,
        "text_profile": q_text_profile,
        "lang_histogram": q_lang_histogram,
        "dedup_exact": q_dedup_exact,
        "dedup_exact_normalized": q_dedup_exact_normalized,
        "jaccard_pairs": q_jaccard_pairs,
        # -- positions 32-50: next-oldest r4-green family (the last six of
        # -- r6's window — validate_lineitem, budget_mix, ccnet_buckets,
        # -- embedding_neardup, incremental_semantic_dedup, semantic_dedup —
        # -- rotate just past the cut; all r4/r5 driver-green)
        "events_range_join": q_events_range_join,
        "q12_priority_shipping": q12_priority_shipping,
        "pivot_order_status": q_pivot_order_status,
        "deterministic_split": q_deterministic_split,
        "array_ops": q_array_ops,
        "pii_redaction": q_pii_redaction,
        "stratified_sample": q_stratified_sample,
        "events_hourly_rollup": q_events_hourly_rollup,
        "doc_repetition": q_doc_repetition,
        "skew_salted_join": q_skew_salted_join,
        "ivf_full_probe": q_ivf_full_probe,
        "corpus_select": q_corpus_select,
        # == past the 50-entry window from here on ===================
        "decontam_report": q_decontam_report,
        "incremental_dedup_exact": q_incremental_dedup_exact,
        "incremental_minhash_dedup": q_incremental_minhash_dedup,
        "bloom_pruned_join": q_bloom_pruned_join,
        "span_dedup": q_span_dedup,
        "bpe_apply": q_bpe_apply,
        "bpe_bytes_apply": q_bpe_bytes_apply,
        "payload_embed_knn": q_payload_embed_knn,
        "semantic_dedup": q_semantic_dedup,
        "incremental_semantic_dedup": q_incremental_semantic_dedup,
        "embedding_neardup": q_embedding_neardup,
        "ccnet_buckets": q_ccnet_buckets,
        "budget_mix": q_budget_mix,
        "validate_lineitem": q_validate_lineitem,
        "violation_counts": q_violation_counts,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_top_revenue_orders": q3_top_revenue_orders,
        "q9_brand_revenue": q9_brand_revenue,
        # -- r5-green fresh batch (driver-checked last round, impl unchanged)
        "ivf_rerank_topk": q_ivf_rerank_topk,
        # -- r10-new: the PQ family's oracle-checkable arm (full-width
        # -- shortlist == exact brute force; r9 verdict #3)
        "pq_rerank_topk": q_pq_rerank_topk,
        # -- r10-new: lossless WebP decode (r9 descope closed)
        "webp_decode": q_webp_decode,
        "webp_frames": q_webp_frames,
        "zip_samples": q_zip_samples,
        "image_decode": q_image_decode,
        "wav_decode": q_wav_decode,
        "semantic_decontam": q_semantic_decontam,
        "kmeans_clusters": q_kmeans_clusters,
        "kmeans_semantic_dedup": q_kmeans_semantic_dedup,
        "bigram_surprise": q_bigram_surprise,
        "unicode_normalize": q_unicode_normalize,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q10_returned_customers": q10_returned_customers,
        "q13_order_count_distribution": q13_order_count_distribution,
        "q14_promo_revenue_ratio": q14_promo_revenue_ratio,
        "q18_large_orders": q18_large_orders,
        "q19_disjunctive_revenue": q19_disjunctive_revenue,
        "q2_min_acctbal_supplier": q2_min_acctbal_supplier,
        "q7_nation_volume": q7_nation_volume,
        "q8_market_share": q8_market_share,
        "q20_promo_heavy_suppliers": q20_promo_heavy_suppliers,
        "q16_supplier_counts": q16_supplier_counts,
        "q17_small_qty_revenue": q17_small_qty_revenue,
        "q21_sole_late_supplier": q21_sole_late_supplier,
        "q22_dormant_customers": q22_dormant_customers,
        "q15_top_supplier": q15_top_supplier,
        "q11_important_parts": q11_important_parts,
        "cube_revenue": q_cube_revenue,
        "percentile_suite": q_percentile_suite,
        "distinct_stats": q_distinct_stats,
        "name_editdist_pairs": q_name_editdist_pairs,
        "orders_no_lineitems": q_orders_no_lineitems,
        "gopher_quality": q_gopher_quality,
        "quality_funnel": q_quality_funnel,
        "weighted_sample": q_weighted_sample,
        "readability_scores": q_readability_scores,
        "doc_line_cleanup": q_doc_line_cleanup,
        "sentence_chunks": q_sentence_chunks,
        "classifier_quality": q_classifier_quality,
        "unigram_surprise": q_unigram_surprise,
        "domain_cap": q_domain_cap,
        "mixture_sample": q_mixture_sample,
        "training_order": q_training_order,
        "curated_corpus": q_curated_corpus,
        "dsir_sample": q_dsir_sample,
        "pack_sequences": q_pack_sequences,
        "verbatim_overlap": q_verbatim_overlap,
        "corpus_report": q_corpus_report,
        "validate_embeddings": q_validate_embeddings,
        "validate_event_props": q_validate_event_props,
        "bpe_pair_counts": q_bpe_pair_counts,
        "corpus_divergence": q_corpus_divergence,
        "events_daily": q_events_daily,
        # -- r4/r3-green remainder
        "window_suite": q_window_suite,
        "rollup_revenue": q_rollup_revenue,
        "set_ops_customers": q_set_ops_customers,
        "median_stats": q_median_stats,
        "token_counts": q_token_counts,
        "stats_moments": q_stats_moments,
        "label_centroids": q_label_centroids,
        "validate_strict_agg": q_validate_strict_agg,
        "dsl_string_ops": q_dsl_string_ops,
        "dsl_math_ops": q_dsl_math_ops,
        "dsl_datetime_ops": q_dsl_datetime_ops,
        "dsl_membership": q_dsl_membership,
        "validate_fill_nulls": q_validate_fill_nulls,
        "dsl_between_closures": q_dsl_between_closures,
        "validate_defaults": q_validate_defaults,
        "q4_order_priority": q4_order_priority,
        "q5_region_revenue": q5_region_revenue,
        "knn_topk": q_knn_topk,
        "skew_salted_counts": q_skew_salted_counts,
        "table_profile": q_table_profile,
        "multimodal_meta": q_multimodal_meta,
        "format_stats": q_format_stats,
        "frame_sample": q_frame_sample,
        "events_gapfill": q_events_gapfill,
        "doc_chunks": q_doc_chunks,
        "events_daily_delta": q_events_daily_delta,
        "nearest_centroid": q_nearest_centroid,
        "neardup_components": q_neardup_components,
        "chunk_packing": q_chunk_packing,
        "events_moving_avg": q_events_moving_avg,
        "part_unpivot": q_part_unpivot,
        "vocab_topk": q_vocab_topk,
        "doc_tfidf_top3": q_doc_tfidf_top3,
        "bm25_search": q_bm25_search,
        "hybrid_search": q_hybrid_search,
        "dsl_datetime_events": q_dsl_datetime_events,
        # -- rows-only by documented design (value evidence via oracle-checked
        # -- companions); minhash_pairs/simhash_pairs/leakage_safe_split_prod
        # -- share the r6 salting change, value-checked via their companions in
        # -- the window
        "minhash_pairs": q_minhash_pairs,
        "leakage_safe_split_prod": q_leakage_safe_split_prod,
        "simhash_pairs": q_simhash_pairs,
        "bpe_token_stats": q_bpe_token_stats,
        "approx_distinct": q_approx_distinct,
        "hll_distinct": q_hll_distinct,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "zorder_locality": q_zorder_locality,
        "contrastive_pairs": q_contrastive_pairs,
        "chat_turns": q_chat_turns,
        "chat_stats": q_chat_stats,
        "containment_pairs": q_containment_pairs,
        "profile_drift": q_profile_drift,
        "ann_recall": q_ann_recall,
        "lsh_topk": q_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "pq_topk": q_pq_topk,
        "minhash_dedup_ids": q_minhash_dedup_ids,
    }
    ordered = {k: base[k] for k in _WINDOW_R11}
    ordered.update({k: v for k, v in base.items() if k not in ordered})
    return ordered


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect) — keys match queries()
# ---------------------------------------------------------------------------
_TEXT_BASE_CTE = r"""
WITH base AS (
    SELECT
        doc_id,
        text,
        regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g') AS norm,
        CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
             THEN CAST([] AS VARCHAR[])
             ELSE regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
        END AS toks
    FROM documents
),
feat AS (
    SELECT
        doc_id, text, norm, toks,
        length(text) AS n_chars_c,
        len(toks) AS n_tokens,
        len(regexp_extract_all(text, '[0-9A-Za-z_]+|[^0-9A-Za-z_\s]')) AS n_bpe,
        CASE WHEN len(toks) = 0 THEN 0.0
             ELSE CAST(COALESCE(list_sum(list_transform(toks, t -> length(t))), 0) AS DOUBLE) / len(toks)
        END AS mean_tok_len_raw,
        CASE WHEN len(toks) = 0 THEN 0.0
             ELSE CAST(len(list_filter(toks, t -> lower(t) IN
                ('the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by')))
                AS DOUBLE) / len(toks)
        END AS stop_ratio_raw,
        CASE WHEN length(text) = 0 THEN 0.0
             ELSE CAST(length(text) - length(regexp_replace(text, '[^0-9A-Za-z_\s]', '', 'g')) AS DOUBLE) / length(text)
        END AS punct_ratio_raw,
        CASE WHEN length(text) = 0 THEN 0.0
             ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text)
        END AS digit_ratio_raw,
        len(list_filter(list_transform(toks, t -> lower(t)), x -> x IN ('der','die','und','das','ist'))) AS s_de,
        len(list_filter(list_transform(toks, t -> lower(t)), x -> x IN ('the','and','of','to','is'))) AS s_en,
        len(list_filter(list_transform(toks, t -> lower(t)), x -> x IN ('el','los','las','es','una'))) AS s_es,
        len(list_filter(list_transform(toks, t -> lower(t)), x -> x IN ('le','la','et','les','est'))) AS s_fr,
        len(list_filter(list_transform(toks, t -> lower(t)), x -> x IN ('de','shi','le','zai','you'))) AS s_zh
    FROM base
),
scored AS (
    SELECT
        *,
        greatest(s_de, s_en, s_es, s_fr, s_zh) AS s_max,
        CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
             WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
             WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
             WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
             WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
             ELSE 'zh'
        END AS lang_pred,
        round((
            (CASE WHEN n_tokens >= 10 AND n_tokens <= 5000 THEN 1.0 ELSE 0.5 END)
            + (CASE WHEN mean_tok_len_raw >= 3.0 AND mean_tok_len_raw <= 8.0 THEN 1.0 ELSE 0.5 END)
            + least(stop_ratio_raw * 4.0, 1.0)
            + greatest(0.0, 1.0 - (punct_ratio_raw + digit_ratio_raw) * 2.0)
        ) / 4.0, 6) AS quality
    FROM feat
)
"""

_Q1_SQL = """
SELECT
    l_returnflag,
    l_linestatus,
    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4))) * (1 + CAST(l_tax AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
    CAST(CAST(SUM(CAST(l_discount AS DECIMAL(8,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_disc,
    COUNT(*) AS count_order
FROM (SELECT * FROM lineitem WHERE {keep}) v
WHERE l_shipdate <= TIMESTAMP '1999-06-30'
GROUP BY l_returnflag, l_linestatus
""".format(keep=_LINEITEM_KEEP_SQL)


def _bpe_replace_chain_sql() -> str:
    """DuckDB expression applying _BPE_MERGES as the same
    double-spaced-symbol replace chain the Spark side runs (two
    spaces between symbols so consecutive occurrences of a pair
    never share a delimiter — a true merge-all pass per merge; see
    bpe.bpe_word_symbol_counts)."""
    expr = "' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' '"
    for a, b in _BPE_MERGES:
        expr = f"replace({expr}, ' {a}  {b} ', ' {a}{b} ')"
    return expr


def _bpe_bytes_replace_chain_sql() -> str:
    """DuckDB expression applying _BPE_BYTES_MERGES over hex-pair
    symbols (one symbol = one UTF-8 byte = two hex chars;
    ``hex(encode(w))`` is identical in Spark and DuckDB, uppercase in
    both) with the same double-spaced replace chain — see
    bpe.bpe_bytes_symbol_counts."""
    from flycatcher_spark.operators.bpe import _symbols_to_hex

    expr = "' ' || rtrim(regexp_replace(hex(encode(w)), '(..)', '\\1  ', 'g')) || ' '"
    for a, b in _BPE_BYTES_MERGES:
        ha, hb = _symbols_to_hex(a), _symbols_to_hex(b)
        expr = f"replace({expr}, ' {ha}  {hb} ', ' {ha}{hb} ')"
    return expr


def _gpt2_pretokens_ctes_sql(source: str = "documents") -> str:
    """CTE chain replaying bpe.pretokens in DuckDB: strip NULs,
    insert the NUL sentinel before each whitespace run's last
    character, split on it, and regexp_extract_all the lookahead-free
    GPT-2 pattern per segment (RE2-safe; the whitespace class is
    spelled out so RE2 and Java agree). Yields CTE ``w`` =
    (doc_id, w) pre-token rows."""
    from flycatcher_spark.operators.bpe import (
        GPT2_SPLIT_PORTABLE,
        _SENTINEL_PATTERN,
    )

    p0 = GPT2_SPLIT_PORTABLE.replace("'", "''")
    sent = _SENTINEL_PATTERN.replace("'", "''")
    return f"""
            t AS (
                SELECT doc_id,
                       string_split(
                           regexp_replace(replace(text, chr(0), ''),
                                          '{sent}', '\\1' || chr(0) || '\\2', 'g'),
                           chr(0)) AS segs
                FROM {source}
            ),
            seg AS (SELECT doc_id, unnest(segs) AS seg FROM t),
            w AS (
                SELECT doc_id, unnest(regexp_extract_all(seg, '{p0}')) AS w
                FROM seg
            )"""


def _kmeans_cte(k: int = 8, n_iter: int = 2) -> str:
    """CTE chain replaying operators/cluster.kmeans in DuckDB:
    ``v`` (double-cast vectors), ``c0`` (init = k smallest vec_ids),
    then per Lloyd round an assignment CTE (argmin over
    ``|v|^2 - 2 v.c + |c|^2`` rounded to 6, ties to the lower
    cluster) and a mean-update CTE (per-dimension round-9 DECIMAL
    sums -> rounded means; empty clusters keep the previous
    centroid), ending with the final assignment CTE ``a{n_iter}``.
    The three-term distance and the rounding points mirror the Spark
    implementation exactly — see cluster._dist2 / cluster._mean_update."""

    def assign(cname: str, out: str) -> str:
        return f"""
            d_{out} AS (
                SELECT v.vec_id, v.v, {cname}.cluster,
                       round(greatest(list_dot_product(v.v, v.v)
                                      - 2 * list_dot_product(v.v, {cname}.c)
                                      + list_dot_product({cname}.c, {cname}.c), 0), 6) AS d
                FROM v, {cname}
            ),
            {out} AS (
                SELECT vec_id, v, cluster, d
                FROM (SELECT *, row_number() OVER (
                          PARTITION BY vec_id ORDER BY d, cluster) AS rn
                      FROM d_{out})
                WHERE rn = 1
            )"""

    def update(aname: str, prev: str, out: str) -> str:
        return f"""
            m_{out} AS (
                SELECT cluster, dim,
                       round(CAST(sum(CAST(round(val, 9) AS DECIMAL(20,9))) AS DOUBLE)
                             / count(*), 9) AS mu
                FROM (SELECT cluster, unnest(range(1, len(v)+1)) AS dim,
                             unnest(v) AS val FROM {aname})
                GROUP BY cluster, dim
            ),
            {out} AS (
                SELECT {prev}.cluster, coalesce(m.c, {prev}.c) AS c
                FROM {prev} LEFT JOIN
                     (SELECT cluster, list(mu ORDER BY dim) AS c
                      FROM m_{out} GROUP BY cluster) m
                ON {prev}.cluster = m.cluster
            )"""

    parts = [
        f"""
            v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ),
            c0 AS (
                SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
                       v AS c
                FROM (SELECT * FROM v ORDER BY vec_id LIMIT {k})
            )"""
    ]
    for it in range(n_iter):
        parts.append(assign(f"c{it}", f"a{it}"))
        parts.append(update(f"a{it}", f"c{it}", f"c{it + 1}"))
    parts.append(assign(f"c{n_iter}", f"a{n_iter}"))
    return ",".join(parts)


def _hits_cte(n_iter: int = 2) -> str:
    """CTE chain replaying operators/graph.hits in DuckDB over the
    caller-defined ``edges(src, dst)`` CTE: ``nodes``, ``h0``
    (uniform hubs), then per iteration an authority CTE (round-9
    DECIMAL sum of hub scores over in-edges, max-normalized via a
    scalar subquery) and a hub CTE (same over out-edges), ending in
    ``h{n}``/``a{n}``. Mirrors graph.hits' rounding points exactly."""
    parts = [
        """nodes AS (SELECT src AS node FROM edges
                     UNION SELECT dst FROM edges),
        h0 AS (SELECT node, 1.0 AS s FROM nodes)""",
    ]
    for it in range(1, n_iter + 1):
        parts.append(f"""a{it}r AS (
            SELECT e.dst AS node,
                   ROUND(CAST(SUM(CAST(ROUND(h.s, 9) AS DECIMAL(20,9)))
                         AS DOUBLE), 9) AS raw
            FROM edges e JOIN h{it - 1} h ON h.node = e.src
            GROUP BY e.dst)""")
        parts.append(f"""a{it} AS (
            SELECT node, ROUND(raw / (SELECT MAX(raw) FROM a{it}r), 9) AS s
            FROM a{it}r)""")
        parts.append(f"""h{it}r AS (
            SELECT e.src AS node,
                   ROUND(CAST(SUM(CAST(ROUND(a.s, 9) AS DECIMAL(20,9)))
                         AS DOUBLE), 9) AS raw
            FROM edges e JOIN a{it} a ON a.node = e.dst
            GROUP BY e.src)""")
        parts.append(f"""h{it} AS (
            SELECT node, ROUND(raw / (SELECT MAX(raw) FROM h{it}r), 9) AS s
            FROM h{it}r)""")
    return ",\n        ".join(parts)


def _pagerank_cte(
    n_iter: int = 3, damping: str = "0.85", dangling: str = "drop"
) -> str:
    """CTE chain replaying operators/graph.pagerank in DuckDB over
    the ``edges(src, dst)`` CTE the caller must define: ``nodes``,
    ``nn`` (node count), ``deg`` (out-degrees), ``r0`` (uniform
    init), then one CTE per iteration ending in ``r{n_iter}``. The
    rounding points mirror the Spark implementation exactly: per-edge
    contributions round to 9 and sum as DECIMAL(20,9); ranks round
    back to 9; the shared constants are the same IEEE expressions
    ((1.0 - d)/n, 1.0/n) in both engines. ``dangling="redistribute"``
    (r8) adds a per-iteration ``dang{it}`` CTE — the round-9 DECIMAL
    sum of rank mass on out-degree-0 nodes — and the extra update
    term ``d * (D / n)``, exactly where Spark appends it."""
    parts = [
        """nodes AS (SELECT src AS node FROM edges
                     UNION SELECT dst FROM edges),
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        deg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
        r0 AS (SELECT node, ROUND(1.0 / (SELECT n FROM nn), 9) AS rank
               FROM nodes)""",
    ]
    for it in range(1, n_iter + 1):
        extra = ""
        if dangling == "redistribute":
            parts.append(f"""dang{it} AS (
            SELECT ROUND(CAST(SUM(CAST(ROUND(r.rank, 9)
                       AS DECIMAL(20,9))) AS DOUBLE), 9) AS dm
            FROM r{it - 1} r
            WHERE r.node NOT IN (SELECT src FROM deg))""")
            extra = f"""
                         + CAST({damping} AS DOUBLE)
                           * (COALESCE((SELECT dm FROM dang{it}), 0.0)
                              / (SELECT n FROM nn))"""
        parts.append(f"""r{it} AS (
            SELECT nd.node,
                   ROUND((CAST(1.0 AS DOUBLE) - CAST({damping} AS DOUBLE))
                             / (SELECT n FROM nn)
                         + {damping} * COALESCE(CAST(SUM(CAST(
                               ROUND(r.rank / dg.od, 9)
                           AS DECIMAL(20,9))) AS DOUBLE), 0.0){extra},
                         9) AS rank
            FROM nodes nd
            LEFT JOIN edges e ON e.dst = nd.node
            LEFT JOIN deg dg ON dg.src = e.src
            LEFT JOIN r{it - 1} r ON r.node = e.src
            GROUP BY nd.node)""")
    return ",\n        ".join(parts)


def _zorder_locality_oracle() -> str:
    """DuckDB replica of q_zorder_locality, its Morton key emitted by
    the same ``layout.zorder_expr`` spec the Spark plan uses."""
    from flycatcher_spark.operators import layout

    dims = [
        layout.ZDim("p_size", 1, 50),
        layout.ZDim("CAST(floor(p_retailprice) AS BIGINT)", 900, 999),
    ]
    z = layout.zorder_expr(dims, bits=8, dialect="duckdb")
    return f"""
        SELECT ({z}) >> 10 AS z_bucket,
               COUNT(*) AS n,
               CAST(MIN(p_size) AS BIGINT) AS d0_min,
               CAST(MAX(p_size) AS BIGINT) AS d0_max,
               CAST(MIN(CAST(floor(p_retailprice) AS BIGINT)) AS BIGINT) AS d1_min,
               CAST(MAX(CAST(floor(p_retailprice) AS BIGINT)) AS BIGINT) AS d1_max
        FROM part
        GROUP BY z_bucket
    """


def oracle_sql() -> dict[str, str]:
    return {
        # -- r7 ------------------------------------------------------
        "line_dedup": r"""
            WITH wrapped AS (
                SELECT doc_id,
                       'Cookie Notice: We Value Your Privacy' || chr(10)
                       || 'Section ' || (doc_id % 4) || chr(10)
                       || text || chr(10)
                       || 'footer of ' || source || chr(10) || '' AS t
                FROM documents
            ),
            lines AS (
                SELECT doc_id,
                       unnest(string_split(t, chr(10))) AS line,
                       unnest(range(1, len(string_split(t, chr(10))) + 1)) AS pos
                FROM wrapped
            ),
            keyed AS (
                SELECT doc_id, pos, line,
                       regexp_replace(regexp_replace(lower(line),
                           '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g') AS k
                FROM lines
            ),
            freq AS (
                SELECT k FROM keyed WHERE length(k) >= 1
                GROUP BY k HAVING COUNT(DISTINCT doc_id) >= 2
            ),
            marked AS (
                SELECT doc_id, pos, line,
                       (length(k) >= 1 AND k IN (SELECT k FROM freq)) AS rm
                FROM keyed
            )
            SELECT doc_id,
                   COALESCE(string_agg(CASE WHEN NOT rm THEN line END,
                                       chr(10) ORDER BY pos), '') AS text_dedup,
                   COUNT(*) AS n_lines,
                   CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_removed
            FROM marked
            GROUP BY doc_id
        """,
        "html_lines_dedup": r"""
            WITH page AS (
                SELECT doc_id,
                       '<html><body><h1>Site Title</h1><p>'
                       || substr(text, 1, 50)
                       || ' &amp; tail</p><div>nav | about | contact</div></body></html>'
                           AS h
                FROM documents
            ),
            txt AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(regexp_replace(
                           replace(
                               regexp_replace(
                                   regexp_replace(h,
                                       '</(p|div|li|tr|h[1-6])\s*>|<br\s*/?>',
                                       chr(10), 'gi'),
                                   '<[^>]+>', ' ', 'gs'),
                               '&amp;', '&'),
                           '[ \t\r\f]+', ' ', 'g'),
                           ' ?\n ?', chr(10), 'g'),
                           '\n+', chr(10), 'g') AS t0
                FROM page
            ),
            cleaned AS (
                SELECT doc_id,
                       regexp_replace(t0, '^\s+|\s+$', '', 'g') AS t
                FROM txt
            ),
            lines AS (
                SELECT doc_id,
                       unnest(string_split(t, chr(10))) AS line,
                       unnest(range(1, len(string_split(t, chr(10))) + 1)) AS pos
                FROM cleaned
            ),
            keyed AS (
                SELECT doc_id, pos, line,
                       regexp_replace(regexp_replace(lower(line),
                           '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g') AS k
                FROM lines
            ),
            freq AS (
                SELECT k FROM keyed WHERE length(k) >= 1
                GROUP BY k HAVING COUNT(DISTINCT doc_id) >= 2
            ),
            marked AS (
                SELECT doc_id, pos, line,
                       (length(k) >= 1 AND k IN (SELECT k FROM freq)) AS rm
                FROM keyed
            )
            SELECT doc_id,
                   COALESCE(string_agg(CASE WHEN NOT rm THEN line END,
                                       chr(10) ORDER BY pos), '') AS text_dedup,
                   COUNT(*) AS n_lines,
                   CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_removed
            FROM marked
            GROUP BY doc_id
        """,
        "embedding_project": """
            SELECT vec_id,
                   j AS dim,
                   round(
                       list_sum(list_transform(
                           range(1, len(embedding) + 1),
                           i -> CAST(embedding[i] AS DOUBLE)
                                * (CASE WHEN CAST(floor(
                                        ((i * (j + 17) * 2654435761)
                                         % 4294967296) / 65536.0)
                                     AS BIGINT) % 2 = 0
                                   THEN 1.0 ELSE -1.0 END)
                       )) / sqrt(8.0),
                       6) AS val
            FROM embeddings,
                 LATERAL (SELECT unnest(range(0, 8)) AS j)
        """,
        "format_stats": """
            SELECT doc_id,
                   CASE CAST(doc_id % 7 AS INT)
                       WHEN 0 THEN 'wav'
                       WHEN 1 THEN 'flac'
                       WHEN 2 THEN CASE WHEN doc_id % 3 = 2
                                        THEN 'jpeg_progressive'
                                        ELSE 'jpeg_baseline' END
                       WHEN 3 THEN 'png'
                       WHEN 4 THEN 'ppm'
                       WHEN 5 THEN 'tar'
                       ELSE CASE WHEN doc_id % 14 = 6
                                 THEN NULL ELSE 'unknown' END
                   END AS payload_fmt
            FROM documents
        """,
        "wet_roundtrip": """
            WITH p AS (
                SELECT 'http://' || source || '.example.com/p' || doc_id AS uri,
                       text
                FROM documents
            ),
            o AS (
                SELECT uri, text,
                       ROW_NUMBER() OVER (
                           ORDER BY md5('wet:' || uri), uri) - 1 AS pos
                FROM p
            ),
            conv AS (
                SELECT CAST(pos // 100 AS BIGINT) AS shard_id,
                       CAST(pos % 100 + 1 AS BIGINT) AS rec_idx,
                       'conversion' AS rec_type,
                       uri AS target_uri,
                       text AS body_text,
                       CAST(octet_length(encode(text)) AS BIGINT)
                           AS content_length
                FROM o
            ),
            info AS (
                SELECT DISTINCT CAST(pos // 100 AS BIGINT) AS shard_id,
                       CAST(0 AS BIGINT) AS rec_idx,
                       'warcinfo' AS rec_type,
                       CAST(NULL AS VARCHAR) AS target_uri,
                       'software: flycatcher-wet' AS body_text,
                       CAST(24 AS BIGINT) AS content_length
                FROM o
            )
            SELECT * FROM conv UNION ALL SELECT * FROM info
        """,
        "wat_roundtrip": """
            WITH p AS (
                SELECT doc_id,
                       'http://' || source || '.example.com/w' || doc_id
                           AS uri,
                       CASE CAST(doc_id % 3 AS INT)
                            WHEN 0 THEN 200 WHEN 1 THEN 301
                            ELSE 404 END AS status,
                       'Doc ' || doc_id AS title,
                       -- sequence(0, doc_id % 3) is inclusive
                       1 + doc_id % 3 AS n_links
                FROM documents
            ),
            o AS (
                SELECT *, ROW_NUMBER() OVER (
                           ORDER BY md5('wat:' || uri), uri) - 1 AS pos
                FROM p
            ),
            meta AS (
                SELECT CAST(pos // 100 AS BIGINT) AS shard_id,
                       CAST(pos % 100 + 1 AS BIGINT) AS rec_idx,
                       'metadata' AS rec_type,
                       uri AS target_uri,
                       CAST(status AS BIGINT) AS status,
                       'text/html' AS resp_content_type,
                       title,
                       CAST(n_links AS BIGINT) AS n_links,
                       'http://l/' || doc_id || '/0' AS first_link
                FROM o
            ),
            info AS (
                SELECT DISTINCT CAST(pos // 100 AS BIGINT) AS shard_id,
                       CAST(0 AS BIGINT) AS rec_idx,
                       'warcinfo' AS rec_type,
                       CAST(NULL AS VARCHAR) AS target_uri,
                       CAST(NULL AS BIGINT) AS status,
                       CAST(NULL AS VARCHAR) AS resp_content_type,
                       CAST(NULL AS VARCHAR) AS title,
                       CAST(NULL AS BIGINT) AS n_links,
                       CAST(NULL AS VARCHAR) AS first_link
                FROM o
            )
            SELECT * FROM meta UNION ALL SELECT * FROM info
        """,
        "zip_roundtrip": """
            WITH s AS (
                SELECT 's' || doc_id AS key,
                       'caption ' || doc_id AS caption,
                       CAST(doc_id % 50 AS BIGINT) AS bin_len
                FROM documents
            ),
            p AS (
                SELECT key, caption, bin_len,
                       ROW_NUMBER() OVER (
                           ORDER BY md5('zip:' || key), key) - 1 AS pos
                FROM s
            )
            SELECT CAST(pos // 100 AS BIGINT) AS shard_id,
                   CAST(2 * (pos % 100) AS BIGINT) AS member_idx,
                   key AS sample_key,
                   'bin' AS ext,
                   bin_len AS body_len,
                   CAST(NULL AS VARCHAR) AS caption
            FROM p
            UNION ALL
            SELECT CAST(pos // 100 AS BIGINT),
                   CAST(2 * (pos % 100) + 1 AS BIGINT),
                   key,
                   'txt',
                   CAST(length(caption) AS BIGINT),
                   caption
            FROM p
        """,
        "webdataset_roundtrip": """
            WITH s AS (
                SELECT 's' || doc_id AS key,
                       'caption ' || doc_id AS caption,
                       CAST(doc_id % 50 AS BIGINT) AS bin_len
                FROM documents
            ),
            p AS (
                SELECT key, caption, bin_len,
                       ROW_NUMBER() OVER (
                           ORDER BY md5('wds:' || key), key) - 1 AS pos
                FROM s
            )
            SELECT CAST(pos // 100 AS BIGINT) AS shard_id,
                   CAST(2 * (pos % 100) AS BIGINT) AS member_idx,
                   key AS sample_key,
                   'bin' AS ext,
                   bin_len AS body_len,
                   CAST(NULL AS VARCHAR) AS caption
            FROM p
            UNION ALL
            SELECT CAST(pos // 100 AS BIGINT),
                   CAST(2 * (pos % 100) + 1 AS BIGINT),
                   key,
                   'txt',
                   CAST(length(caption) AS BIGINT),
                   caption
            FROM p
        """,
        "webdataset_samples": """
            WITH s AS (
                SELECT doc_id,
                       unnest(range(0, 2 + doc_id % 3)) AS k
                FROM documents
            )
            SELECT doc_id,
                   's' || doc_id || '_' || k AS sample_key,
                   CAST(2 AS BIGINT) AS n_members,
                   'caption ' || doc_id || ' ' || k AS caption,
                   round(CAST(128 + ((doc_id * 5 + k * 9) % 160) - 80
                              AS DOUBLE), 6) AS mean_pixel
            FROM s
        """,
        "hits_hosts": f"""
            WITH d AS (
                SELECT doc_id % 100 AS s,
                       (doc_id * 7 + 1) % 100 AS a,
                       (doc_id * 13 + 3) % 100 AS b,
                       (doc_id * 3 + 2) % 100 AS c
                FROM documents
            ),
            e0 AS (
                SELECT DISTINCT s, dst FROM (
                    SELECT s, a AS dst FROM d
                    UNION ALL SELECT s, b AS dst FROM d
                    UNION ALL SELECT s, c AS dst FROM d) u
                WHERE dst <> s
            ),
            edges AS (
                SELECT 'h' || s || '.example.com' AS src,
                       'h' || dst || '.example.com' AS dst
                FROM e0
            ),
            {_hits_cte(n_iter=2)}
            SELECT n.node,
                   COALESCE(h2.s, 0.0) AS hub,
                   COALESCE(a2.s, 0.0) AS authority
            FROM nodes n
            LEFT JOIN h2 ON h2.node = n.node
            LEFT JOIN a2 ON a2.node = n.node
        """,
        "pagerank_hosts": f"""
            WITH d AS (
                SELECT doc_id % 100 AS s,
                       (doc_id * 7 + 1) % 100 AS a,
                       (doc_id * 13 + 3) % 100 AS b,
                       (doc_id * 3 + 2) % 100 AS c
                FROM documents
            ),
            e0 AS (
                SELECT DISTINCT s, dst FROM (
                    SELECT s, a AS dst FROM d
                    UNION ALL SELECT s, b AS dst FROM d
                    UNION ALL SELECT s, c AS dst FROM d) u
                WHERE dst <> s
            ),
            edges AS (
                SELECT 'h' || s || '.example.com' AS src,
                       'h' || dst || '.example.com' AS dst
                FROM e0
            ),
            {_pagerank_cte(n_iter=3)}
            SELECT node, rank FROM r3
        """,
        "pagerank_redistribute": f"""
            WITH d AS (
                SELECT doc_id % 100 AS s,
                       (doc_id * 7 + 1) % 100 AS a,
                       (doc_id * 13 + 3) % 100 AS b,
                       (doc_id * 3 + 2) % 100 AS c
                FROM documents
                WHERE (doc_id % 100) % 5 <> 0
            ),
            e0 AS (
                SELECT DISTINCT s, dst FROM (
                    SELECT s, a AS dst FROM d
                    UNION ALL SELECT s, b AS dst FROM d
                    UNION ALL SELECT s, c AS dst FROM d) u
                WHERE dst <> s
            ),
            edges AS (
                SELECT 'h' || s || '.example.com' AS src,
                       'h' || dst || '.example.com' AS dst
                FROM e0
            ),
            {_pagerank_cte(n_iter=3, dangling="redistribute")}
            SELECT node, rank FROM r3
        """,
        "extract_links": """
            WITH l AS (
                SELECT doc_id, source,
                       unnest(['/p' || doc_id,
                               'https://ext' || (doc_id % 7) || '.org/x?b=2&a=1',
                               '#top']) AS href,
                       unnest(range(0, 3)) AS link_idx
                FROM documents
            )
            SELECT doc_id, link_idx, href,
                   CASE WHEN link_idx = 0
                        THEN 'https://' || source || '.example.com/p' || doc_id
                        WHEN link_idx = 1
                        THEN 'https://ext' || (doc_id % 7) || '.org/x?b=2&a=1'
                   END AS resolved,
                   CASE WHEN link_idx = 0
                        THEN 'https://' || source || '.example.com/p' || doc_id
                        WHEN link_idx = 1
                        THEN 'https://ext' || (doc_id % 7) || '.org/x?a=1&b=2'
                   END AS canon
            FROM l
        """,
        "anchor_texts": """
            WITH pages AS (
                SELECT doc_id,
                       'https://' || source || '.example.com/dir/page' AS src,
                       source
                FROM documents
            ),
            tr AS (
                SELECT 'https://' || source || '.example.com/p'
                           || CAST(doc_id % 10 AS VARCHAR) AS target,
                       'page ' || CAST(doc_id % 3 AS VARCHAR) AS anchor,
                       src
                FROM pages
                UNION ALL
                SELECT 'https://ext' || CAST(doc_id % 7 AS VARCHAR)
                           || '.org/x?a=1&b=2',
                       'ext ' || CAST(doc_id % 5 AS VARCHAR),
                       src
                FROM pages
            ),
            stats AS (
                SELECT target,
                       CAST(count(*) AS BIGINT) AS n_refs,
                       CAST(count(DISTINCT src) AS BIGINT) AS n_pages,
                       CAST(count(DISTINCT anchor) AS BIGINT) AS n_anchors
                FROM tr GROUP BY target
            ),
            caps AS (
                SELECT target,
                       string_agg(anchor, '|' ORDER BY anchor) AS anchors
                FROM (SELECT DISTINCT target, anchor FROM tr)
                GROUP BY target
            )
            SELECT s.target, s.n_refs, s.n_pages, s.n_anchors, c.anchors
            FROM stats s JOIN caps c USING (target)
        """,
        "cdx_index": """
            WITH r AS (
                SELECT doc_id AS i,
                       unnest(range(0, 1 + doc_id % 3)) AS j
                FROM documents
            ),
            built AS (
                SELECT i, j,
                       'body ' || i || ' ' || j || ' '
                           || repeat('x', CAST(i % 7 AS INT)) AS body
                FROM r
            )
            SELECT 'com,example)/' || i || '/' || j AS surt_key,
                   '20240101000000' AS ts14,
                   'http://example.com/' || i || '/' || j AS url,
                   md5(body) AS digest,
                   CAST(length(body) AS BIGINT) AS length
            FROM built
        """,
        "sitemap_urls": """
            SELECT source || '.example.com' AS host,
                   'https://' || source || '.example.com/d' || doc_id AS loc,
                   CASE WHEN doc_id % 2 = 0
                        THEN '2024-0' || (doc_id % 9 + 1) || '-01'
                   END AS lastmod
            FROM documents
        """,
        "audio_features": """
            WITH f AS (
                SELECT doc_id,
                       unnest(range(0, 1 + doc_id % 3)) AS frame_idx,
                       500 + (doc_id % 10) * 100 AS amp
                FROM documents
            )
            SELECT doc_id, frame_idx,
                   CAST(256 / power(2, 2 + doc_id % 5) AS BIGINT)
                       AS dominant_bin,
                   CAST(256 * amp * amp AS BIGINT) AS energy,
                   CAST(amp AS DOUBLE) AS rms
            FROM f
        """,
        "video_frames": """
            WITH d AS (
                SELECT doc_id, 4 + doc_id % 5 AS n FROM documents
            ),
            f AS (
                SELECT d.doc_id, d.n, fi
                FROM d, LATERAL (SELECT unnest(range(0, d.n)) AS fi)
                WHERE fi % 2 = 0
            ),
            b AS (
                SELECT f.doc_id, f.n, f.fi,
                       ((f.doc_id * 11 + f.fi * 17 + j * 23) % 160) - 80 AS dc
                FROM f, LATERAL (SELECT unnest(range(0, 2)) AS j)
            )
            SELECT doc_id,
                   fi AS frame_idx,
                   CAST(n AS BIGINT) AS n_frames_total,
                   CAST(16 AS BIGINT) AS width,
                   CAST(8 AS BIGINT) AS height,
                   round(CAST(sum(128 + dc) AS DOUBLE) / count(*), 6)
                       AS mean_pixel
            FROM b
            GROUP BY doc_id, n, fi
        """,
        "jpeg_decode": """
            WITH d AS (
                SELECT doc_id,
                       1 + doc_id % 3 AS bx,
                       1 + doc_id % 2 AS by
                FROM documents
            ),
            b AS (
                SELECT d.doc_id, d.bx, d.by,
                       ((d.doc_id * 7 + j * 13) % 160) - 80 AS dc
                FROM d, LATERAL (SELECT unnest(range(0, d.bx * d.by)) AS j)
            )
            SELECT doc_id,
                   'jpeg' AS fmt,
                   CAST(8 * bx AS BIGINT) AS width,
                   CAST(8 * by AS BIGINT) AS height,
                   CAST(255 AS BIGINT) AS maxval,
                   CAST(1 AS BIGINT) AS n_channels,
                   CAST(64 * bx * by AS BIGINT) AS n_pixel_bytes,
                   round(CAST(sum(128 + dc) AS DOUBLE) / count(*), 6)
                       AS mean_pixel
            FROM b
            GROUP BY doc_id, bx, by
        """,
        "flac_decode": """
            WITH d AS (
                SELECT doc_id,
                       1 + doc_id % 2 AS nch,
                       50 + doc_id % 100 AS nfr
                FROM documents
            ),
            s AS (
                SELECT d.doc_id, d.nch, d.nfr,
                       ((d.doc_id * 31 + i * 17) % 4096) - 2048 AS smp
                FROM d, LATERAL (SELECT unnest(range(0, d.nfr * d.nch)) AS i)
            )
            SELECT doc_id,
                   'flac' AS fmt,
                   CAST(8000 AS BIGINT) AS sample_rate,
                   CAST(nch AS BIGINT) AS n_channels,
                   CAST(16 AS BIGINT) AS bits_per_sample,
                   CAST(nfr AS BIGINT) AS n_frames,
                   round(CAST(nfr AS DOUBLE) / 8000, 6) AS duration_sec,
                   round(sqrt(CAST(sum(smp * smp) AS DOUBLE) / count(*)), 6) AS rms
            FROM s
            GROUP BY doc_id, nch, nfr
        """,
        # -- r6 ------------------------------------------------------
        "kmeans_clusters": f"""
            WITH {_kmeans_cte(k=8, n_iter=2)}
            SELECT vec_id, cluster, d AS dist FROM a2
        """,
        "embedding_quantize": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            q AS (
                SELECT vec_id,
                       list_min(v) AS mn,
                       list_max(v) - list_min(v) AS scale,
                       v
                FROM e
            )
            SELECT vec_id, mn, scale,
                   CAST(len(v) AS BIGINT) AS n_bytes,
                   upper(array_to_string(list_transform(v,
                       x -> lpad(to_hex(CAST(CASE WHEN scale > 0
                                THEN floor((x - mn) / scale * 255 + 0.5)
                                ELSE 0 END AS INT)), 2, '0')), ''))
                       AS codes_hex
            FROM q
        """,
        "html_extract": r"""
            WITH page AS (
                SELECT doc_id,
                       '<html><head><style>p {color: red}</style></head><body>'
                       || '<h1>Title ' || doc_id || '</h1>'
                       || '<!-- boilerplate -->'
                       || '<p>' || substr(text, 1, 60)
                       || ' &amp; more</p><script>var x = 1;</script></body></html>'
                           AS h
                FROM documents
            ),
            stripped AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(regexp_replace(
                           regexp_replace(h,
                               '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                               '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                               '(?s)<!--.*?-->', ' ', 'g'),
                               '(?s)<[^>]+>', ' ', 'g') AS t
                FROM page
            ),
            decoded AS (
                SELECT doc_id,
                       replace(replace(replace(replace(replace(replace(t,
                           '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                           '&quot;', '"'), '&#39;', chr(39)),
                           '&amp;', '&') AS t
                FROM stripped
            ),
            final AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(t,
                           '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g') AS text_out
                FROM decoded
            )
            SELECT doc_id, text_out,
                   CAST(length(text_out) AS INT) AS n_chars,
                   CAST(len(str_split(text_out, ' ')) AS BIGINT) AS n_tokens
            FROM final
        """,
        "robots_gate": """
            SELECT doc_id,
                   'https://' || source || '.example.com' ||
                   (CASE CAST(doc_id % 5 AS INT)
                        WHEN 0 THEN '/public/' || doc_id
                        WHEN 1 THEN '/private/' || doc_id
                        WHEN 2 THEN '/private/ok/' || doc_id
                        WHEN 3 THEN '/tmp/f' || doc_id || '.log'
                        ELSE '/tmp/keep.log'
                    END) AS url,
                   (CASE CAST(doc_id % 5 AS INT)
                        WHEN 0 THEN true   -- no matching rule
                        WHEN 1 THEN false  -- Disallow: /private
                        WHEN 2 THEN true   -- longer Allow: /private/ok
                        WHEN 3 THEN false  -- Disallow: /tmp/*.log
                        ELSE true          -- Allow: /tmp/keep.log$ is
                                           -- longer than the wildcard
                    END) AS allowed
            FROM documents
        """,
"robots_gate_compiled": """
            SELECT doc_id,
                   'https://' || source || '.example.com' ||
                   (CASE CAST(doc_id % 5 AS INT)
                        WHEN 0 THEN '/public/' || doc_id
                        WHEN 1 THEN '/private/' || doc_id
                        WHEN 2 THEN '/private/ok/' || doc_id
                        WHEN 3 THEN '/tmp/f' || doc_id || '.log'
                        ELSE '/tmp/keep.log'
                    END) AS url,
                   (CASE CAST(doc_id % 5 AS INT)
                        WHEN 0 THEN true   -- no matching rule
                        WHEN 1 THEN false  -- Disallow: /private
                        WHEN 2 THEN true   -- longer Allow: /private/ok
                        WHEN 3 THEN false  -- Disallow: /tmp/*.log
                        ELSE true          -- Allow: /tmp/keep.log$ is
                                           -- longer than the wildcard
                    END) AS allowed
            FROM documents
        """,
        "warc_records": """
            WITH d AS (SELECT doc_id FROM documents),
            info AS (
                SELECT doc_id, CAST(0 AS BIGINT) AS rec_idx,
                       'warcinfo' AS rec_type,
                       CAST(NULL AS VARCHAR) AS target_uri,
                       'software: flycatcher' AS body
                FROM d
            ),
            resp AS (
                SELECT doc_id, CAST(j + 1 AS BIGINT) AS rec_idx,
                       'response' AS rec_type,
                       'http://example.com/' || doc_id || '/' || j
                           AS target_uri,
                       'body ' || doc_id || ' ' || j || ' '
                           || repeat('x', CAST(doc_id % 7 AS INT)) AS body
                FROM d, LATERAL (
                    SELECT unnest(range(0, 1 + doc_id % 3)) AS j)
            ),
            allr AS (
                SELECT * FROM info UNION ALL SELECT * FROM resp
            )
            SELECT doc_id, rec_idx, rec_type, target_uri,
                   '2024-01-01T00:00:00Z' AS warc_date,
                   CAST(length(body) AS BIGINT) AS content_length,
                   md5(body) AS body_md5
            FROM allr
        """,
        "http_payloads": """
            WITH d AS (SELECT doc_id FROM documents),
            r AS (
                SELECT doc_id, j,
                       'Doc ' || doc_id || ' rec ' || j || ' n '
                           || (doc_id * 11 + j) % 89
                           || CASE WHEN j < 2 THEN ' é' ELSE '' END
                           AS text
                FROM d, LATERAL (SELECT unnest(range(0, 3)) AS j)
            )
            SELECT doc_id,
                   CAST(j AS BIGINT) AS rec_idx,
                   'http://example.com/' || doc_id || '/' || j
                       AS target_uri,
                   CAST(CASE j WHEN 0 THEN 200 WHEN 1 THEN 301
                               ELSE 404 END AS BIGINT) AS status,
                   CASE j WHEN 2 THEN 'text/plain'
                          ELSE 'text/html' END AS content_type,
                   CASE j WHEN 0 THEN 'utf-8' WHEN 1 THEN 'latin-1'
                          ELSE 'iso-8859-1' END AS charset,
                   -- payload bytes: utf-8 rec 0 counts é as 2 bytes
                   -- (strlen = bytes of DuckDB's utf-8 storage);
                   -- latin-1/ascii recs count characters
                   CAST(CASE WHEN j = 0 THEN strlen(text)
                             ELSE length(text) END AS BIGINT)
                       AS n_payload_bytes,
                   text
            FROM r
        """,
        "langid_profiles": r"""
            WITH d AS (
                SELECT doc_id,
                       (CASE lang
                            WHEN 'en' THEN 'the quick brown fox jumps with joy over things '
                            WHEN 'de' THEN 'der schnelle braune fuchs springt mit freude '
                            WHEN 'es' THEN 'el zorro marron salta con alegria sobre cosas '
                            WHEN 'fr' THEN 'le renard brun rapide saute avec joie sur des '
                            WHEN 'zh' THEN 'kuai su de zong se hu li tiao yue guo dong xi '
                            ELSE 'und und und '
                        END) || substr(text, 1, 40) AS t
                FROM documents
            ),
            nrm AS (
                SELECT doc_id,
                       ' ' || regexp_replace(regexp_replace(lower(t),
                             '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g') || ' ' AS s
                FROM d
            ),
            grams AS (
                SELECT doc_id, substr(s, CAST(i AS INT), 3) AS gram
                FROM nrm, LATERAL (
                    SELECT unnest(range(1, greatest(length(s) - 1, 1))) AS i)
                WHERE length(s) >= 3
            ),
            ng AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
            counts AS (
                SELECT lang, gram, count(*) AS cnt
                FROM grams g JOIN documents USING (doc_id)
                WHERE doc_id % 2 = 0
                GROUP BY lang, gram
            ),
            totals AS (SELECT lang, sum(cnt) AS total FROM counts GROUP BY lang),
            kept AS (
                SELECT lang, gram, cnt, row_number() OVER (
                    PARTITION BY lang ORDER BY cnt DESC, gram ASC) AS rn
                FROM counts
            ),
            prof AS (
                SELECT k.lang, k.gram,
                       CAST(round(-ln(CAST(k.cnt AS DOUBLE) / t.total), 9)
                            AS DECIMAL(20,9)) AS cost9,
                       CAST(round(-ln(0.5 / t.total), 9)
                            AS DECIMAL(20,9)) AS oov9
                FROM kept k JOIN totals t USING (lang) WHERE k.rn <= 200
            ),
            langs AS (SELECT DISTINCT lang, oov9 FROM prof),
            matched AS (
                SELECT g.doc_id, p.lang,
                       sum(p.cost9) AS mcost, count(*) AS n_matched
                FROM grams g JOIN prof p ON g.gram = p.gram
                GROUP BY g.doc_id, p.lang
            ),
            scores AS (
                SELECT n.doc_id, l.lang, n.n_grams,
                       COALESCE(m.mcost, CAST(0 AS DECIMAL(38,9)))
                       + CAST(n.n_grams - COALESCE(m.n_matched, 0)
                              AS DECIMAL(10,0)) * l.oov9
                           AS score9
                FROM ng n CROSS JOIN langs l
                LEFT JOIN matched m
                  ON m.doc_id = n.doc_id AND m.lang = l.lang
            ),
            best AS (
                SELECT doc_id, lang, score9, n_grams, row_number() OVER (
                    PARTITION BY doc_id ORDER BY score9 ASC, lang ASC) AS rn
                FROM scores
            )
            SELECT doc_id,
                   lang AS lang_pred,
                   CAST(n_grams AS BIGINT) AS n_grams,
                   CAST(score9 AS DOUBLE) AS total_cost
            FROM best WHERE rn = 1
        """,
        "blocklist_filter": r"""
            WITH n AS (
                SELECT doc_id,
                       ' ' || regexp_replace(regexp_replace(
                             regexp_replace(lower(text),
                                 '[^\p{L}\p{N}\s]', ' ', 'g'),
                             '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g') || ' '
                           AS padded
                FROM documents
            )
            SELECT doc_id,
                   CAST((CASE WHEN contains(padded, ' batch stream ') THEN 1 ELSE 0 END)
                      + (CASE WHEN contains(padded, ' dup ') THEN 1 ELSE 0 END)
                      + (CASE WHEN contains(padded, ' slow ') THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_hits,
                   ((CASE WHEN contains(padded, ' batch stream ') THEN 1 ELSE 0 END)
                  + (CASE WHEN contains(padded, ' dup ') THEN 1 ELSE 0 END)
                  + (CASE WHEN contains(padded, ' slow ') THEN 1 ELSE 0 END)) <= 0
                       AS passed
            FROM n
        """,
        "unicode_normalize": """
            WITH u AS (
                SELECT doc_id,
                       (CASE WHEN doc_id % 3 = 0
                             THEN 'cafe' || chr(769) || ' nai' || chr(776) || 've '
                             WHEN doc_id % 3 = 1
                             THEN 'caf' || chr(233) || ' na' || chr(239) || 've '
                             ELSE 'cafe naive '
                        END) || substr(text, 1, 12) AS raw
                FROM documents
            )
            SELECT doc_id,
                   nfc_normalize(raw) AS norm_text,
                   CAST(length(raw) AS INT) AS n_raw,
                   CAST(length(nfc_normalize(raw)) AS INT) AS n_norm,
                   nfc_normalize(raw) <> raw AS changed
            FROM u
        """,
        "host_cap": """
            WITH h AS (
                SELECT doc_id, source || '.example.com' AS host, n_chars
                FROM documents
            ),
            r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY host
                    ORDER BY n_chars DESC, doc_id ASC) AS rn
                FROM h
            )
            SELECT doc_id, host, n_chars, CAST(rn AS BIGINT) AS rank
            FROM r WHERE rn <= 20
        """,
        "url_dedup": """
            WITH u AS (
                SELECT doc_id, n_chars,
                       CASE WHEN doc_id % 4 IN (0, 1)
                            THEN 'https://example.com/' || lang || '/'
                                 || CAST(doc_id % 40 AS VARCHAR)
                            WHEN doc_id % 4 = 2
                            THEN 'https://example.com/' || lang || '/'
                                 || CAST(doc_id % 40 AS VARCHAR) || '?a=1&b=2'
                            ELSE 'http://example.com/' || lang || '/'
                                 || CAST(doc_id % 40 AS VARCHAR) || '?a=1&b=2'
                       END AS canonical_url
                FROM documents
            ),
            r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY canonical_url
                    ORDER BY n_chars DESC, doc_id ASC) AS rn
                FROM u
            )
            SELECT doc_id, canonical_url, n_chars FROM r WHERE rn = 1
        """,
        "bigram_surprise": r"""
            WITH tk AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(
                                regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
                       END AS toks
                FROM documents
            ),
            stream AS (
                SELECT doc_id, lower(toks[idx]) AS cur,
                       CASE WHEN idx > 1 THEN lower(toks[idx - 1]) END AS prev
                FROM (SELECT doc_id, toks,
                             unnest(range(1, len(toks) + 1)) AS idx FROM tk)
            ),
            counts AS (SELECT cur, COUNT(*) AS ucnt FROM stream GROUP BY cur),
            total AS (SELECT CAST(SUM(ucnt) AS DOUBLE) AS n FROM counts),
            vocab AS (SELECT cur, ucnt FROM counts
                      ORDER BY ucnt DESC, cur ASC LIMIT 100),
            bigrams AS (
                SELECT prev, cur, COUNT(*) AS bcnt
                FROM stream WHERE prev IS NOT NULL GROUP BY prev, cur
                ORDER BY bcnt DESC, prev ASC, cur ASC LIMIT 500
            ),
            ctx AS (
                SELECT prev, COUNT(*) AS ctx FROM stream
                WHERE prev IS NOT NULL GROUP BY prev
            ),
            bmodel AS (SELECT b.prev, b.cur, b.bcnt, c.ctx
                       FROM bigrams b JOIN ctx c USING (prev)),
            costs AS (
                SELECT s.doc_id,
                       CAST(round(-ln(
                           CASE WHEN s.prev IS NULL THEN
                               CASE WHEN v.ucnt IS NOT NULL
                                    THEN CAST(v.ucnt AS DOUBLE) / tt.n
                                    ELSE 0.5 / tt.n END
                           ELSE
                               0.5 * (CASE WHEN b.bcnt IS NOT NULL
                                           THEN CAST(b.bcnt AS DOUBLE)
                                                / CAST(b.ctx AS DOUBLE)
                                           ELSE 0.0 END)
                               + 0.5 * (CASE WHEN v.ucnt IS NOT NULL
                                             THEN CAST(v.ucnt AS DOUBLE) / tt.n
                                             ELSE 0.5 / tt.n END)
                           END
                       ), 9) AS DECIMAL(20,9)) AS cost9
                FROM stream s
                LEFT JOIN vocab v ON s.cur = v.cur
                LEFT JOIN bmodel b ON s.prev = b.prev AND s.cur = b.cur
                CROSS JOIN total tt
            )
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   round(CAST(SUM(cost9) AS DOUBLE) / COUNT(*), 6) AS surprise
            FROM costs GROUP BY doc_id
        """,
        "kmeans_semantic_dedup": f"""
            WITH RECURSIVE {_kmeans_cte(k=8, n_iter=2)},
            e0 AS (
                SELECT l.vec_id AS a, r.vec_id AS b
                FROM a2 l JOIN a2 r
                  ON l.vec_id < r.vec_id AND l.cluster = r.cluster
                WHERE round(CASE WHEN sqrt(list_dot_product(l.v, l.v))
                                      * sqrt(list_dot_product(r.v, r.v)) > 0
                                 THEN list_dot_product(l.v, r.v)
                                      / (sqrt(list_dot_product(l.v, l.v))
                                         * sqrt(list_dot_product(r.v, r.v)))
                            END, 6) >= 0.35
            ),
            edges AS (
                SELECT a, b FROM e0 UNION SELECT b, a FROM e0
            ),
            reach(node, comp) AS (
                SELECT a AS node, a AS comp FROM edges
                UNION
                SELECT e.a, r.comp FROM edges e JOIN reach r ON e.b = r.node
            ),
            comp AS (
                SELECT node, MIN(comp) AS component FROM reach GROUP BY node
            )
            SELECT a2.vec_id, a2.cluster
            FROM a2
            WHERE a2.vec_id NOT IN (SELECT node FROM comp WHERE node <> component)
        """,
        "gopher_quality": r"""
            WITH t AS (
                SELECT doc_id, text,
                       CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(
                                regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
                       END AS toks,
                       str_split(text, chr(10)) AS ls
                FROM documents
            ),
            m AS (
                SELECT doc_id,
                       CAST(len(toks) AS BIGINT) AS n_words,
                       CASE WHEN len(toks) = 0 THEN 0.0
                            ELSE round(CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE) / len(toks), 6)
                       END AS mean_word_len,
                       CASE WHEN len(toks) = 0 THEN 0.0
                            ELSE round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(toks), 6)
                       END AS alpha_word_ratio,
                       CASE WHEN len(toks) = 0 THEN 0.0
                            ELSE round(CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE) / len(toks), 6)
                       END AS symbol_ratio,
                       round(CAST(len(list_filter(ls, x -> regexp_matches(x, '^\s*[-*•]'))) AS DOUBLE) / len(ls), 6) AS bullet_line_ratio,
                       round(CAST(len(list_filter(ls, x -> regexp_matches(x, '(\.\.\.|…)\s*$'))) AS DOUBLE) / len(ls), 6) AS ellipsis_line_ratio,
                       CAST(len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))),
                            ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stopword_hits
                FROM t
            )
            SELECT *,
                   (n_words >= 20 AND n_words <= 5000
                    AND mean_word_len >= 3.0 AND mean_word_len <= 8.0
                    AND symbol_ratio <= 0.1
                    AND bullet_line_ratio <= 0.9
                    AND ellipsis_line_ratio <= 0.3
                    AND alpha_word_ratio >= 0.9
                    AND stopword_hits >= 1) AS gopher_ok
            FROM m
        """,
        "sentence_chunks": r"""
            WITH built AS (
                SELECT doc_id,
                       substr(text, 1, 35) || '. ' || substr(text, 36, 35)
                           || '. ' || substr(text, 71, 35) || '! '
                           || substr(text, 106, 35) || '? ' || text || '.' AS t
                FROM documents
            ),
            folded AS (
                SELECT doc_id,
                       str_split(
                           list_reduce(
                               str_split(regexp_replace(t, '([.!?])\s+',
                                   '\1' || chr(1), 'g'), chr(1)),
                               (acc, s) -> CASE
                                   WHEN (CASE WHEN length(regexp_replace(
                                             list_extract(str_split(acc, chr(2)),
                                                 len(str_split(acc, chr(2)))),
                                             '^\s+|\s+$', '', 'g')) = 0 THEN 0
                                        ELSE len(regexp_split_to_array(
                                             regexp_replace(
                                                 list_extract(str_split(acc, chr(2)),
                                                     len(str_split(acc, chr(2)))),
                                                 '^\s+|\s+$', '', 'g'), '\s+'))
                                        END)
                                      + (CASE WHEN length(regexp_replace(s,
                                             '^\s+|\s+$', '', 'g')) = 0 THEN 0
                                         ELSE len(regexp_split_to_array(
                                             regexp_replace(s, '^\s+|\s+$', '', 'g'),
                                             '\s+'))
                                         END) > 24
                                   THEN acc || chr(2) || s
                                   ELSE acc || ' ' || s END
                           ), chr(2)) AS chunks
                FROM built
            ),
            ex AS (
                SELECT doc_id,
                       unnest(chunks) AS chunk_text,
                       unnest(range(1, len(chunks) + 1)) AS i
                FROM folded
            )
            SELECT doc_id,
                   CAST(i - 1 AS BIGINT) AS chunk_idx,
                   chunk_text,
                   CAST(CASE WHEN length(regexp_replace(chunk_text,
                            '^\s+|\s+$', '', 'g')) = 0 THEN 0
                        ELSE len(regexp_split_to_array(
                            regexp_replace(chunk_text, '^\s+|\s+$', '', 'g'),
                            '\s+'))
                        END AS BIGINT) AS n_tokens
            FROM ex
        """,
        "readability_scores": r"""
            WITH built AS (
                SELECT doc_id,
                       substr(text, 1, 40) || '. ' || substr(text, 41, 60)
                           || '! ' || text || '.' AS t
                FROM documents
            ),
            tok AS (
                SELECT doc_id, t,
                       CASE WHEN length(regexp_replace(t, '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(
                                regexp_replace(t, '^\s+|\s+$', '', 'g'), '\s+')
                       END AS toks
                FROM built
            ),
            m AS (
                SELECT doc_id,
                       CASE WHEN length(trim(t)) = 0 THEN 0
                            ELSE greatest(len(regexp_extract_all(t, '[.!?]+(\s|$)')), 1)
                       END AS n_sents_raw,
                       CAST(len(toks) AS BIGINT) AS n_words,
                       CAST(COALESCE(list_sum(list_transform(toks,
                            x -> greatest(len(regexp_extract_all(lower(x), '[aeiouy]+')), 1))),
                            0) AS BIGINT) AS n_syllables
                FROM tok
            )
            SELECT doc_id,
                   CAST(n_sents_raw AS BIGINT) AS n_sents,
                   n_words,
                   n_syllables,
                   CASE WHEN n_words > 0 AND n_sents_raw > 0
                        THEN round(0.39 * (CAST(n_words AS DOUBLE) / n_sents_raw)
                                   + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                                   - 15.59, 6)
                   END AS fk_grade
            FROM m
        """,
        "doc_line_cleanup": """
            WITH built AS (
                SELECT doc_id,
                       'nav ' || CAST(doc_id % 5 AS VARCHAR) || chr(10)
                           || substr(text, 1, 50) || chr(10)
                           || 'nav ' || CAST(doc_id % 5 AS VARCHAR) || chr(10)
                           || substr(text, 51, 50) || chr(10)
                           || substr(text, 1, 50) || chr(10)
                           || 'footer' || chr(10) || 'footer' AS t
                FROM documents
            ),
            u AS (
                SELECT doc_id, t,
                       list_filter(str_split(t, chr(10)),
                           (x, i) -> list_position(str_split(t, chr(10)), x) = i
                       ) AS uniq
                FROM built
            )
            SELECT doc_id,
                   CAST(len(str_split(t, chr(10))) AS BIGINT) AS n_lines,
                   CAST(len(uniq) AS BIGINT) AS n_uniq_lines,
                   array_to_string(uniq, chr(10)) AS cleaned
            FROM u
        """,
        "quality_funnel": r"""
            WITH t AS (
                SELECT doc_id, lang, n_chars,
                       CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(
                                regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
                       END AS toks
                FROM documents
            ),
            m AS (
                SELECT doc_id, lang, n_chars,
                       CAST(len(toks) AS BIGINT) AS n_words,
                       CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS sum_wlen,
                       CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq
                FROM t
            ),
            lab AS (
                SELECT CASE
                    WHEN NOT COALESCE(n_chars >= 100, FALSE) THEN 'min_chars'
                    WHEN NOT COALESCE(lang IN ('en','de','fr','es'), FALSE) THEN 'lang_known'
                    WHEN NOT COALESCE(n_words >= 20, FALSE) THEN 'min_words'
                    WHEN NOT COALESCE(17*n_words <= 4*sum_wlen AND 4*sum_wlen <= 19*n_words, FALSE) THEN 'word_len_band'
                    WHEN NOT COALESCE(5*n_uniq >= 2*n_words, FALSE) THEN 'uniq_ratio'
                    ELSE '__kept__' END AS first_fail
                FROM m
            ),
            cnt AS (
                SELECT first_fail, CAST(count(*) AS BIGINT) AS c
                FROM lab GROUP BY 1
            ),
            stages(stage_idx, stage) AS (
                VALUES (0, 'min_chars'), (1, 'lang_known'), (2, 'min_words'),
                       (3, 'word_len_band'), (4, 'uniq_ratio')
            ),
            tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM cnt),
            funnel AS (
                SELECT CAST(s.stage_idx AS BIGINT) AS stage_idx,
                       s.stage,
                       CAST(tot.total - COALESCE(SUM(COALESCE(c.c, 0)) OVER (
                            ORDER BY s.stage_idx
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                           AS BIGINT) AS n_in,
                       CAST(COALESCE(c.c, 0) AS BIGINT) AS n_removed
                FROM stages s
                LEFT JOIN cnt c ON s.stage = c.first_fail
                CROSS JOIN tot
            )
            SELECT stage_idx, stage, n_in, n_removed,
                   CAST(n_in - n_removed AS BIGINT) AS n_out
            FROM funnel
        """,
        "weighted_sample": """
            SELECT doc_id,
                   n_chars AS weight,
                   (n_chars * 1000000000) // (
                       (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        % 1000000) + 1) AS priority
            FROM documents
            ORDER BY priority DESC, doc_id
            LIMIT 50
        """,
        "classifier_quality": _TEXT_BASE_CTE + """
            SELECT doc_id,
                   round(1.0 / (1.0 + exp(-(
                       -0.5
                       + (-2.0) * digit_ratio_raw
                       + 0.25 * ln(CAST(n_tokens AS DOUBLE) + 1.0)
                       + (-0.5) * abs(mean_tok_len_raw - 5.0)
                       + (-3.0) * punct_ratio_raw
                       + 4.0 * stop_ratio_raw
                   ))), 6) AS clf_score,
                   round(1.0 / (1.0 + exp(-(
                       -0.5
                       + (-2.0) * digit_ratio_raw
                       + 0.25 * ln(CAST(n_tokens AS DOUBLE) + 1.0)
                       + (-0.5) * abs(mean_tok_len_raw - 5.0)
                       + (-3.0) * punct_ratio_raw
                       + 4.0 * stop_ratio_raw
                   ))), 6) >= 0.6 AS clf_keep
            FROM feat
        """,
        "unigram_surprise": r"""
            WITH toks AS (
                SELECT doc_id, lower(token) AS token
                FROM (
                    SELECT doc_id,
                           unnest(CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
                                       THEN CAST([] AS VARCHAR[])
                                       ELSE regexp_split_to_array(
                                           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
                                  END) AS token
                    FROM documents
                )
            ),
            counts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
            total AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM counts),
            vocab AS (SELECT token, cnt FROM counts ORDER BY cnt DESC, token ASC LIMIT 100),
            costs AS (
                SELECT t.doc_id,
                       CAST(round(CASE WHEN v.cnt IS NOT NULL
                                       THEN -ln(CAST(v.cnt AS DOUBLE) / tt.n)
                                       ELSE -ln(0.5 / tt.n)
                                  END, 9) AS DECIMAL(20,9)) AS cost9
                FROM toks t LEFT JOIN vocab v USING (token) CROSS JOIN total tt
            )
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   round(CAST(SUM(cost9) AS DOUBLE) / COUNT(*), 6) AS surprise
            FROM costs GROUP BY doc_id
        """,
        "ccnet_buckets": r"""
            WITH toks AS (
                SELECT doc_id, lower(token) AS token
                FROM (
                    SELECT doc_id,
                           unnest(CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
                                       THEN CAST([] AS VARCHAR[])
                                       ELSE regexp_split_to_array(
                                           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
                                  END) AS token
                    FROM documents
                )
            ),
            counts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
            total AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM counts),
            vocab AS (SELECT token, cnt FROM counts ORDER BY cnt DESC, token ASC LIMIT 100),
            costs AS (
                SELECT t.doc_id,
                       CAST(round(CASE WHEN v.cnt IS NOT NULL
                                       THEN -ln(CAST(v.cnt AS DOUBLE) / tt.n)
                                       ELSE -ln(0.5 / tt.n)
                                  END, 9) AS DECIMAL(20,9)) AS cost9
                FROM toks t LEFT JOIN vocab v USING (token) CROSS JOIN total tt
            ),
            scored AS (
                SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                       round(CAST(SUM(cost9) AS DOUBLE) / COUNT(*), 6) AS surprise
                FROM costs GROUP BY doc_id
            ),
            th AS (
                SELECT round(quantile_cont(surprise, 1.0/3.0), 6) AS t1,
                       round(quantile_cont(surprise, 2.0/3.0), 6) AS t2
                FROM scored
            )
            SELECT doc_id, n_tokens, surprise,
                   CASE WHEN surprise <= t1 THEN 'head'
                        WHEN surprise <= t2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM scored CROSS JOIN th
        """,
        "budget_mix": r"""
            WITH t AS (
                SELECT doc_id, source,
                       CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                            ELSE len(regexp_split_to_array(
                                regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'))
                       END AS tc,
                       md5(concat('budget0', ':', CAST(doc_id AS VARCHAR))) AS h
                FROM documents
            ),
            c AS (
                SELECT doc_id, source,
                       CAST(SUM(tc) OVER (
                           PARTITION BY source ORDER BY h, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS BIGINT) AS cum_tokens
                FROM t
            )
            SELECT doc_id, source, cum_tokens
            FROM c
            WHERE cum_tokens <= CASE source WHEN 'src0' THEN 500
                                            WHEN 'src1' THEN 2000
                                            ELSE 1000 END
        """,
        "leakage_safe_split": r"""
            WITH RECURSIVE t AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(
                                regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g'),
                                ' ')
                       END AS toks
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                       CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                            ELSE list_distinct(list_transform(
                                range(1, len(toks) - 1),
                                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                       END AS sh
                FROM t
            ),
            pairs AS (
                SELECT l.doc_id AS a, r.doc_id AS b
                FROM s l JOIN s r ON l.doc_id < r.doc_id
                WHERE len(l.sh) > 0 AND len(r.sh) > 0
                  AND round(CASE WHEN len(list_distinct(list_concat(l.sh, r.sh))) = 0 THEN 0.0
                                 ELSE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
                                      / len(list_distinct(list_concat(l.sh, r.sh)))
                            END, 6) >= 0.5
            ),
            edges AS (
                SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
            ),
            reach AS (
                SELECT a AS node, a AS r FROM edges
                UNION
                SELECT e.a AS node, reach.r
                FROM edges e JOIN reach ON reach.node = e.b
            ),
            comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
            SELECT d.doc_id,
                   CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component,
                   CASE WHEN CAST(concat('0x', substr(md5(concat('split0', ':',
                            CAST(COALESCE(c.component, d.doc_id) AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 90
                        THEN 'train' ELSE 'val' END AS split
            FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        """,
        "domain_cap": _TEXT_BASE_CTE + """
            SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, quality
            FROM (
                SELECT d.source, d.doc_id, s.quality,
                       row_number() OVER (PARTITION BY d.source
                                          ORDER BY s.quality DESC, d.doc_id) AS rank
                FROM documents d JOIN scored s USING (doc_id)
            )
            WHERE rank <= 3
        """,
        "mixture_sample": """
            WITH stats AS (
                SELECT source, COUNT(*) AS n_s, CAST(SUM(n_chars) AS DOUBLE) AS w_s
                FROM documents GROUP BY source
            ),
            s2 AS (SELECT source, n_s, round(sqrt(w_s), 6) AS sw FROM stats),
            denom AS (SELECT CAST(SUM(CAST(sw AS DECIMAL(20,6))) AS DOUBLE) AS t FROM s2),
            rates AS (
                SELECT source,
                       CAST(FLOOR(LEAST(1.0, 120.0 * sw / t / CAST(n_s AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS rate10k
                FROM s2 CROSS JOIN denom
            )
            SELECT d.doc_id, d.source, r.rate10k
            FROM documents d JOIN rates r USING (source)
            WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < r.rate10k
        """,
        "training_order": """
            SELECT doc_id,
                   substr(md5(concat('epoch0', ':', CAST(doc_id AS VARCHAR))), 1, 2) AS shard,
                   CAST(row_number() OVER (
                       ORDER BY md5(concat('epoch0', ':', CAST(doc_id AS VARCHAR))), doc_id
                   ) - 1 AS BIGINT) AS pos
            FROM documents
        """,
        "verbatim_overlap": r"""
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(
                                regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g'),
                                ' ')
                       END AS toks
                FROM documents
            ),
            pg AS (
                SELECT doc_id, CAST(i AS BIGINT) AS pos,
                       array_to_string(toks[i+1:i+5], ' ') AS gram
                FROM t, LATERAL (SELECT unnest(range(0, greatest(len(toks) - 4, 0))) AS i)
            ),
            bench AS (SELECT DISTINCT gram FROM pg WHERE doc_id % 50 = 7),
            corp AS (SELECT doc_id, pos, gram FROM pg WHERE doc_id % 50 <> 7),
            matched AS (SELECT c.doc_id, c.pos FROM corp c JOIN bench USING (gram)),
            isl AS (
                SELECT doc_id, pos,
                       pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                FROM matched
            ),
            spans AS (
                SELECT doc_id, grp, COUNT(*) + 4 AS span_toks
                FROM isl GROUP BY doc_id, grp
            ),
            per_doc AS (
                SELECT doc_id,
                       CAST(MAX(span_toks) AS BIGINT) AS max_span_tokens,
                       CAST(SUM(CASE WHEN span_toks >= 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged_spans
                FROM spans GROUP BY doc_id
            ),
            totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM corp GROUP BY doc_id),
            ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 7)
            SELECT i.doc_id,
                   CAST(COALESCE(tt.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(COALESCE(p.max_span_tokens, 0) AS BIGINT) AS max_span_tokens,
                   CAST(COALESCE(p.n_flagged_spans, 0) AS BIGINT) AS n_flagged_spans,
                   COALESCE(p.n_flagged_spans, 0) > 0 AS is_contaminated
            FROM ids i
            LEFT JOIN totals tt USING (doc_id)
            LEFT JOIN per_doc p USING (doc_id)
        """,
        "pack_sequences": r"""
            WITH t AS (
                SELECT doc_id,
                       CAST(len(CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
                                     THEN CAST([] AS VARCHAR[])
                                     ELSE regexp_split_to_array(
                                         regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
                                END) AS BIGINT) AS ntc
                FROM documents
            ),
            nz AS (SELECT * FROM t WHERE ntc > 0),
            ordered AS (
                SELECT doc_id, ntc,
                       CAST(row_number() OVER w - 1 AS BIGINT) AS pos,
                       CAST(COALESCE(SUM(ntc) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
                FROM nz
                WINDOW w AS (ORDER BY md5(concat('pack0', ':', CAST(doc_id AS VARCHAR))), doc_id)
            ),
            spans AS (
                SELECT doc_id, pos, tok_start, tok_start + ntc AS tok_end,
                       tok_start // 256 AS seq_first,
                       (tok_start + ntc - 1) // 256 AS seq_last
                FROM ordered
            ),
            exploded AS (
                SELECT doc_id, pos, tok_start, tok_end, CAST(s AS BIGINT) AS seq_id
                FROM spans, LATERAL (SELECT unnest(range(seq_first, seq_last + 1)) AS s)
            )
            SELECT seq_id, doc_id, pos, tok_start,
                   CAST(greatest(tok_start - seq_id * 256, 0) AS BIGINT) AS start_in_seq,
                   CAST(least(tok_end - seq_id * 256, 256)
                        - greatest(tok_start - seq_id * 256, 0) AS BIGINT) AS n_toks
            FROM exploded
        """,
        "dsir_sample": r"""
            WITH split_toks AS (
                SELECT doc_id, source, lower(token) AS token
                FROM (
                    SELECT doc_id, source,
                           unnest(CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
                                       THEN CAST([] AS VARCHAR[])
                                       ELSE regexp_split_to_array(
                                           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
                                  END) AS token
                    FROM documents
                )
            ),
            ct AS (SELECT doc_id, token FROM split_toks WHERE source <> 'src0'),
            tt AS (SELECT token FROM split_toks WHERE source = 'src0'),
            tcounts AS (SELECT token, COUNT(*) AS cnt_t FROM tt GROUP BY token),
            tvocab AS (SELECT token, cnt_t FROM tcounts ORDER BY cnt_t DESC, token LIMIT 100),
            ttotal AS (SELECT CAST(SUM(cnt_t) AS DOUBLE) AS n_t FROM tcounts),
            ccounts AS (SELECT token, COUNT(*) AS cnt_c FROM ct GROUP BY token),
            cvocab AS (SELECT token, cnt_c FROM ccounts ORDER BY cnt_c DESC, token LIMIT 100),
            ctotal AS (SELECT CAST(SUM(cnt_c) AS DOUBLE) AS n_c FROM ccounts),
            scored AS (
                SELECT doc_id,
                       CAST(SUM(CAST(round(
                           (CASE WHEN tv.cnt_t IS NOT NULL
                                 THEN ln(CAST(tv.cnt_t AS DOUBLE) / t.n_t)
                                 ELSE ln(0.5 / t.n_t) END)
                           - (CASE WHEN cv.cnt_c IS NOT NULL
                                   THEN ln(CAST(cv.cnt_c AS DOUBLE) / c.n_c)
                                   ELSE ln(0.5 / c.n_c) END)
                       , 9) AS DECIMAL(20,9))) AS DOUBLE) AS logw_raw
                FROM ct
                LEFT JOIN tvocab tv USING (token)
                LEFT JOIN cvocab cv USING (token)
                CROSS JOIN ttotal t CROSS JOIN ctotal c
                GROUP BY doc_id
            ),
            keyed AS (
                SELECT doc_id, logw_raw,
                       logw_raw + (-ln(-ln(
                           (CAST(concat('0x', substr(md5(concat('dsir0', ':', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 1000000 + 0.5)
                           / 1000000.0
                       ))) AS gkey
                FROM scored
            ),
            picked AS (
                SELECT doc_id, logw_raw FROM keyed
                ORDER BY gkey DESC, doc_id LIMIT 60
            )
            SELECT d.doc_id, d.source, round(p.logw_raw, 6) AS logw
            FROM documents d JOIN picked p USING (doc_id)
        """,
        "curated_corpus": r"""
            WITH t AS (
                SELECT doc_id, text, source, n_chars,
                       CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(
                                regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
                       END AS toks,
                       str_split(text, chr(10)) AS ls
                FROM documents
            ),
            m AS (
                SELECT doc_id, source, n_chars,
                       len(toks) AS n_words_i,
                       CASE WHEN len(toks) = 0 THEN 0.0
                            ELSE round(CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE) / len(toks), 6)
                       END AS mean_word_len,
                       CASE WHEN len(toks) = 0 THEN 0.0
                            ELSE round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(toks), 6)
                       END AS alpha_word_ratio,
                       CASE WHEN len(toks) = 0 THEN 0.0
                            ELSE round(CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE) / len(toks), 6)
                       END AS symbol_ratio,
                       round(CAST(len(list_filter(ls, x -> regexp_matches(x, '^\s*[-*•]'))) AS DOUBLE) / len(ls), 6) AS bullet_line_ratio,
                       round(CAST(len(list_filter(ls, x -> regexp_matches(x, '(\.\.\.|…)\s*$'))) AS DOUBLE) / len(ls), 6) AS ellipsis_line_ratio,
                       len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))),
                            ['the','be','to','of','and','that','have','with'])) AS stopword_hits,
                       CASE WHEN len(toks) = 0 THEN 0.0
                            ELSE CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE) / len(toks)
                       END AS mtl_raw,
                       CASE WHEN len(toks) = 0 THEN 0.0
                            ELSE CAST(len(list_filter(toks, x -> lower(x) IN
                                ('the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by')))
                                AS DOUBLE) / len(toks)
                       END AS stop_ratio_raw,
                       CASE WHEN length(text) = 0 THEN 0.0
                            ELSE CAST(length(text) - length(regexp_replace(text, '[^0-9A-Za-z_\s]', '', 'g')) AS DOUBLE) / length(text)
                       END AS punct_ratio_raw,
                       CASE WHEN length(text) = 0 THEN 0.0
                            ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text)
                       END AS digit_ratio_raw
                FROM t
            ),
            kept AS (
                SELECT doc_id, source, n_chars,
                       round(1.0 / (1.0 + exp(-(
                           -0.5
                           + (-2.0) * digit_ratio_raw
                           + 0.25 * ln(CAST(n_words_i AS DOUBLE) + 1.0)
                           + (-0.5) * abs(mtl_raw - 5.0)
                           + (-3.0) * punct_ratio_raw
                           + 4.0 * stop_ratio_raw
                       ))), 6) AS clf_score
                FROM m
                WHERE n_words_i >= 20 AND n_words_i <= 5000
                  AND mean_word_len >= 3.0 AND mean_word_len <= 8.0
                  AND symbol_ratio <= 0.1 AND bullet_line_ratio <= 0.9
                  AND ellipsis_line_ratio <= 0.3 AND alpha_word_ratio >= 0.9
                  AND stopword_hits >= 1
            ),
            kept2 AS (SELECT * FROM kept WHERE clf_score >= 0.6),
            stats AS (
                SELECT source, COUNT(*) AS n_s, CAST(SUM(n_chars) AS DOUBLE) AS w_s
                FROM kept2 GROUP BY source
            ),
            s2 AS (SELECT source, n_s, round(sqrt(w_s), 6) AS sw FROM stats),
            denom AS (SELECT CAST(SUM(CAST(sw AS DECIMAL(20,6))) AS DOUBLE) AS tt FROM s2),
            rates AS (
                SELECT source,
                       CAST(FLOOR(LEAST(1.0, 150.0 * sw / tt / CAST(n_s AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT) AS rate10k
                FROM s2 CROSS JOIN denom
            ),
            sampled AS (
                SELECT k.doc_id, k.source, k.clf_score
                FROM kept2 k JOIN rates r USING (source)
                WHERE CAST(concat('0x', substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < r.rate10k
            )
            SELECT CAST(row_number() OVER (
                       ORDER BY md5(concat('epoch0', ':', CAST(doc_id AS VARCHAR))), doc_id
                   ) - 1 AS BIGINT) AS pos,
                   doc_id, source, clf_score
            FROM sampled
        """,
        "incremental_semantic_dedup": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
            newb AS (SELECT * FROM e WHERE vec_id % 10 = 3),
            corp AS (SELECT * FROM e WHERE vec_id % 10 <> 3),
            losers AS (
                SELECT DISTINCT n.vec_id
                FROM newb n JOIN corp c ON n.label = c.label
                WHERE round(CASE WHEN sqrt(list_dot_product(n.v, n.v))
                                      * sqrt(list_dot_product(c.v, c.v)) > 0
                                 THEN list_dot_product(n.v, c.v)
                                      / (sqrt(list_dot_product(n.v, n.v))
                                         * sqrt(list_dot_product(c.v, c.v)))
                            END, 6) >= 0.35
            )
            SELECT vec_id, label FROM newb
            WHERE vec_id NOT IN (SELECT vec_id FROM losers)
        """,
        "corpus_divergence": r"""
            WITH toks AS (
                SELECT doc_id % 2 AS side, lower(token) AS token
                FROM (
                    SELECT doc_id,
                           unnest(CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
                                       THEN CAST([] AS VARCHAR[])
                                       ELSE regexp_split_to_array(
                                           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
                                  END) AS token
                    FROM documents
                )
            ),
            ca AS (SELECT token, COUNT(*) AS cnt_a FROM toks WHERE side = 0 GROUP BY token),
            cb AS (SELECT token, COUNT(*) AS cnt_b FROM toks WHERE side = 1 GROUP BY token),
            ta AS (SELECT token FROM ca ORDER BY cnt_a DESC, token LIMIT 200),
            tb AS (SELECT token FROM cb ORDER BY cnt_b DESC, token LIMIT 200),
            vocab AS (SELECT token FROM ta UNION SELECT token FROM tb),
            vs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v, CAST(COUNT(*) AS BIGINT) AS vi FROM vocab),
            na AS (SELECT CAST(SUM(cnt_a) AS DOUBLE) AS n_a FROM ca),
            nb AS (SELECT CAST(SUM(cnt_b) AS DOUBLE) AS n_b FROM cb),
            terms AS (
                SELECT
                    CAST(round(p * ln(p / q), 9) AS DECIMAL(20,9)) AS kl_ab_t,
                    CAST(round(q * ln(q / p), 9) AS DECIMAL(20,9)) AS kl_ba_t,
                    CAST(round(0.5 * p * ln(p / ((p + q) / 2.0))
                               + 0.5 * q * ln(q / ((p + q) / 2.0)), 9) AS DECIMAL(20,9)) AS js_t
                FROM (
                    SELECT
                        (CAST(COALESCE(ca.cnt_a, 0) AS DOUBLE) + 0.5) / (na.n_a + 0.5 * vs.v) AS p,
                        (CAST(COALESCE(cb.cnt_b, 0) AS DOUBLE) + 0.5) / (nb.n_b + 0.5 * vs.v) AS q
                    FROM vocab
                    LEFT JOIN ca USING (token)
                    LEFT JOIN cb USING (token)
                    CROSS JOIN na CROSS JOIN nb CROSS JOIN vs
                )
            )
            SELECT (SELECT vi FROM vs) AS n_vocab,
                   round(CAST(SUM(kl_ab_t) AS DOUBLE), 6) AS kl_ab,
                   round(CAST(SUM(kl_ba_t) AS DOUBLE), 6) AS kl_ba,
                   round(CAST(SUM(js_t) AS DOUBLE), 6) AS js
            FROM terms
        """,
        "bpe_apply": r"""
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(
                                regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g'),
                                ' ')
                       END AS toks
                FROM documents
            ),
            words AS (SELECT doc_id, unnest(toks) AS w FROM t),
            sym AS (
                SELECT doc_id, """ + _bpe_replace_chain_sql() + r""" AS s
                FROM words
            )
            -- double-space invariant: k symbols -> exactly 2k spaces
            SELECT doc_id,
                   CAST(SUM((length(s) - length(replace(s, ' ', ''))) / 2) AS BIGINT) AS n_bpe
            FROM sym
            GROUP BY doc_id
        """,
        "bpe_bytes_apply": r"""
            WITH """ + _gpt2_pretokens_ctes_sql() + r""",
            sym AS (
                SELECT doc_id, """ + _bpe_bytes_replace_chain_sql() + r""" AS s
                FROM w
            )
            -- double-space invariant: k symbols -> exactly 2k spaces
            SELECT doc_id,
                   CAST(SUM((length(s) - length(replace(s, ' ', ''))) / 2) AS BIGINT) AS n_bpe
            FROM sym
            GROUP BY doc_id
        """,
        "bpe_pair_counts": r"""
            WITH t AS (
                SELECT CASE WHEN length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(
                                regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g'),
                                ' ')
                       END AS toks
                FROM documents
            ),
            wc AS (
                SELECT word, COUNT(*) AS cnt
                FROM (SELECT unnest(toks) AS word FROM t)
                GROUP BY word
                ORDER BY cnt DESC, word
                LIMIT 1000
            ),
            pairs AS (
                SELECT substr(word, CAST(i AS INT), 2) AS pair, cnt
                FROM wc, LATERAL (SELECT unnest(range(1, greatest(length(word), 1))) AS i)
                WHERE length(substr(word, CAST(i AS INT), 2)) = 2
            )
            SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n
            FROM pairs
            GROUP BY pair
            ORDER BY n DESC, pair
            LIMIT 40
        """,
        "validate_event_props": """
            WITH planted AS (
                SELECT event_id,
                       CASE WHEN event_id % 37 = 3 THEN '{}'
                            WHEN event_id % 41 = 5 THEN '{"j": 1}'
                            WHEN event_id % 43 = 7 THEN '{"k": -5}'
                            ELSE props END AS props
                FROM events
            )
            SELECT event_id,
                   CAST(len(json_keys(props)) AS BIGINT) AS n_props,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
            FROM planted
            WHERE event_id >= 0
              AND len(json_keys(props)) >= 1
              AND list_contains(json_keys(props), 'k')
              AND COALESCE(list_min(list_transform(json_keys(props),
                      ky -> CAST(json_extract_string(props, '$.' || ky) AS BIGINT))) >= 0, TRUE)
        """,
        "payload_embed_knn": """
            -- Embed over UTF-8 BYTES at byte positions (hex-decode the
            -- encoded blob), matching multimodal.embed_payload's
            -- byte-bucket kernel exactly — including non-ASCII text,
            -- where codepoint-at-char-position would diverge.
            WITH hx AS (
                SELECT doc_id,
                       hex(encode(text)) AS h,
                       octet_length(encode(text)) AS nb
                FROM documents
            ),
            emb AS (
                SELECT doc_id,
                       list_transform(range(0, 8), i ->
                           CAST(COALESCE(list_sum(list_transform(
                               range(0, nb),
                               j -> CASE WHEN j % 8 = i
                                         THEN (strpos('0123456789ABCDEF', substr(h, 2*j + 1, 1)) - 1) * 16
                                              + (strpos('0123456789ABCDEF', substr(h, 2*j + 2, 1)) - 1)
                                         ELSE 0 END)), 0) AS DOUBLE)
                       ) AS v
                FROM hx
            ),
            q AS (SELECT doc_id AS query_id, v AS qv FROM emb WHERE doc_id < 5),
            sc AS (
                SELECT q.query_id, emb.doc_id,
                       round(CASE WHEN sqrt(list_dot_product(emb.v, emb.v))
                                       * sqrt(list_dot_product(q.qv, q.qv)) > 0
                                  THEN list_dot_product(emb.v, q.qv)
                                       / (sqrt(list_dot_product(emb.v, emb.v))
                                          * sqrt(list_dot_product(q.qv, q.qv)))
                             END, 6) AS sim
                FROM emb CROSS JOIN q
                WHERE emb.doc_id <> q.query_id
            )
            SELECT query_id, doc_id, sim, rank FROM (
                SELECT query_id, doc_id, sim,
                       CAST(row_number() OVER (PARTITION BY query_id
                                               ORDER BY sim DESC, doc_id) AS BIGINT) AS rank
                FROM sc
            ) WHERE rank <= 3
        """,
        "validate_embeddings": """
            WITH planted AS (
                SELECT vec_id,
                       CASE WHEN vec_id % 97 = 1
                            THEN (CAST(embedding AS DOUBLE[]))[1:10]
                            WHEN vec_id % 101 = 2
                            THEN list_transform(CAST(embedding AS DOUBLE[]), x -> x * 100.0)
                            ELSE CAST(embedding AS DOUBLE[])
                       END AS embedding,
                       label
                FROM embeddings
            )
            -- label cast to BIGINT: the Spark validator's int fields
            -- compile to LongType, so the validated frame carries
            -- int64 where the parquet stores int32
            SELECT vec_id, CAST(label AS BIGINT) AS label,
                   CAST(len(embedding) AS BIGINT) AS n_items,
                   round(list_aggregate(embedding, 'min'), 6) AS emb_min,
                   round(list_aggregate(embedding, 'max'), 6) AS emb_max
            FROM planted
            WHERE vec_id >= 0
              AND len(embedding) >= 64 AND len(embedding) <= 64
              AND list_aggregate(embedding, 'min') >= -10.0
              AND list_aggregate(embedding, 'max') <= 10.0
        """,
        "corpus_report": r"""
            WITH t AS (
                SELECT doc_id, source, text,
                       regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g') AS norm,
                       CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(
                                regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
                       END AS toks,
                       str_split(text, chr(10)) AS ls
                FROM documents
            ),
            m AS (
                SELECT doc_id, source, norm,
                       len(toks) AS n_words_i,
                       CASE WHEN len(toks) = 0 THEN 0.0
                            ELSE round(CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE) / len(toks), 6)
                       END AS mean_word_len,
                       CASE WHEN len(toks) = 0 THEN 0.0
                            ELSE round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(toks), 6)
                       END AS alpha_word_ratio,
                       CASE WHEN len(toks) = 0 THEN 0.0
                            ELSE round(CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE) / len(toks), 6)
                       END AS symbol_ratio,
                       round(CAST(len(list_filter(ls, x -> regexp_matches(x, '^\s*[-*•]'))) AS DOUBLE) / len(ls), 6) AS bullet_line_ratio,
                       round(CAST(len(list_filter(ls, x -> regexp_matches(x, '(\.\.\.|…)\s*$'))) AS DOUBLE) / len(ls), 6) AS ellipsis_line_ratio,
                       len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))),
                            ['the','be','to','of','and','that','have','with'])) AS stopword_hits,
                       CASE WHEN len(toks) = 0 THEN 0.0
                            ELSE CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE) / len(toks)
                       END AS mtl_raw,
                       CASE WHEN len(toks) = 0 THEN 0.0
                            ELSE CAST(len(list_filter(toks, x -> lower(x) IN
                                ('the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by')))
                                AS DOUBLE) / len(toks)
                       END AS stop_ratio_raw,
                       CASE WHEN length(text) = 0 THEN 0.0
                            ELSE CAST(length(text) - length(regexp_replace(text, '[^0-9A-Za-z_\s]', '', 'g')) AS DOUBLE) / length(text)
                       END AS punct_ratio_raw,
                       CASE WHEN length(text) = 0 THEN 0.0
                            ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text)
                       END AS digit_ratio_raw
                FROM t
            ),
            per_doc AS (
                SELECT doc_id, source, md5(norm) AS fp,
                       CAST(n_words_i AS BIGINT) AS nt,
                       round((
                           (CASE WHEN n_words_i >= 10 AND n_words_i <= 5000 THEN 1.0 ELSE 0.5 END)
                           + (CASE WHEN mtl_raw >= 3.0 AND mtl_raw <= 8.0 THEN 1.0 ELSE 0.5 END)
                           + least(stop_ratio_raw * 4.0, 1.0)
                           + greatest(0.0, 1.0 - (punct_ratio_raw + digit_ratio_raw) * 2.0)
                       ) / 4.0, 6) AS quality,
                       (n_words_i >= 20 AND n_words_i <= 5000
                        AND mean_word_len >= 3.0 AND mean_word_len <= 8.0
                        AND symbol_ratio <= 0.1 AND bullet_line_ratio <= 0.9
                        AND ellipsis_line_ratio <= 0.3 AND alpha_word_ratio >= 0.9
                        AND stopword_hits >= 1) AS gate_ok
                FROM m
            ),
            firsts AS (SELECT fp, MIN(doc_id) AS fid FROM per_doc GROUP BY fp),
            marked AS (
                SELECT p.*, (p.doc_id <> f.fid) AS is_dup
                FROM per_doc p JOIN firsts f USING (fp)
            )
            SELECT source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(nt) AS BIGINT) AS total_tokens,
                   round(CAST(SUM(CAST(quality AS DECIMAL(16,6))) AS DOUBLE) / COUNT(*), 6) AS mean_quality,
                   round(CAST(SUM(CASE WHEN gate_ok THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*), 6) AS gate_pass_rate,
                   CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
                   round(CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*), 6) AS dup_rate
            FROM marked
            GROUP BY source
        """,
        "semantic_dedup": """
            WITH RECURSIVE e0 AS (
                SELECT l.vec_id AS a, r.vec_id AS b
                FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings) l
                JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings) r
                  ON l.vec_id < r.vec_id AND l.label = r.label
                WHERE round(CASE WHEN sqrt(list_dot_product(l.v, l.v))
                                      * sqrt(list_dot_product(r.v, r.v)) > 0
                                 THEN list_dot_product(l.v, r.v)
                                      / (sqrt(list_dot_product(l.v, l.v))
                                         * sqrt(list_dot_product(r.v, r.v)))
                            END, 6) >= 0.35
            ),
            edges AS (
                SELECT a, b FROM e0 UNION SELECT b, a FROM e0
            ),
            reach(node, comp) AS (
                SELECT a AS node, a AS comp FROM edges
                UNION
                SELECT e.a, r.comp FROM edges e JOIN reach r ON e.b = r.node
            ),
            comp AS (
                SELECT node, MIN(comp) AS component FROM reach GROUP BY node
            )
            SELECT e.vec_id, e.label
            FROM embeddings e
            WHERE e.vec_id NOT IN (SELECT node FROM comp WHERE node <> component)
        """,
        "validate_lineitem": f"""
            SELECT l_orderkey, l_partkey, l_suppkey,
                   CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   l_quantity, l_extendedprice, l_discount, l_tax,
                   l_returnflag, l_linestatus, l_shipdate
            FROM lineitem
            WHERE {_LINEITEM_KEEP_SQL}
        """,
        "validate_strict_agg": """
            SELECT COUNT(*) AS n_kept,
                   CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
            FROM lineitem
            WHERE l_orderkey IS NOT NULL AND l_quantity IS NOT NULL
              AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
              AND l_orderkey >= 1
              AND l_quantity > 0 AND l_quantity <= 30.0
              AND l_extendedprice > 0 AND l_extendedprice <= 40000.0
              AND l_discount >= 0.0 AND l_discount <= 0.05
        """,
        "violation_counts": """
            SELECT * FROM (
                SELECT 'l_orderkey must be >= 1' AS constraint,
                       CAST(SUM(CASE WHEN NOT (l_orderkey >= 1) THEN 1 ELSE 0 END) AS BIGINT) AS n FROM lineitem
                UNION ALL
                SELECT 'l_quantity must be > 0', CAST(SUM(CASE WHEN NOT (l_quantity > 0) THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
                UNION ALL
                SELECT 'l_quantity must be <= 30.0', CAST(SUM(CASE WHEN NOT (l_quantity <= 30.0) THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
                UNION ALL
                SELECT 'l_extendedprice must be > 0', CAST(SUM(CASE WHEN NOT (l_extendedprice > 0) THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
                UNION ALL
                SELECT 'l_extendedprice must be <= 40000.0', CAST(SUM(CASE WHEN NOT (l_extendedprice <= 40000.0) THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
                UNION ALL
                SELECT 'l_discount must be >= 0.0', CAST(SUM(CASE WHEN NOT (l_discount >= 0.0) THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
                UNION ALL
                SELECT 'l_discount must be <= 0.05', CAST(SUM(CASE WHEN NOT (l_discount <= 0.05) THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
            ) WHERE n > 0
        """,
        "dsl_string_ops": r"""
            SELECT doc_id,
                   upper(substr(text, 1, 15)) AS head_upper,
                   length(text) AS n_chars_c,
                   regexp_matches(text, 'spark') AS has_spark,
                   starts_with(text, 'the ') AS starts_the,
                   regexp_replace(substr(text, 1, 20), '[aeiou]', '_', 'g') AS devoweled,
                   nullif(regexp_extract(text, '(sp[a-z]+)', 1), '') AS sp_word,
                   len(regexp_extract_all(text, 'data')) AS n_data,
                   length(trim(text)) AS n_stripped,
                   ends_with(text, 'dup') AS ends_dup,
                   lower(substr(text, 1, 10)) AS head_lower
            FROM documents
        """,
        "dsl_math_ops": """
            SELECT l_orderkey,
                   CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   round_even(l_extendedprice / 7, 2) AS price_div7_r2,
                   floor(l_quantity / 3) AS qty_div3_floor,
                   ceil(l_quantity / 3) AS qty_div3_ceil,
                   sqrt(l_extendedprice) AS price_sqrt,
                   round(power(l_discount, 2), 6) AS disc_sq,
                   abs(l_tax - 0.04) AS tax_dev,
                   l_quantity + l_linenumber AS qty_plus_line
            FROM lineitem
        """,
        "dsl_datetime_ops": """
            SELECT l_orderkey,
                   CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   CAST(year(l_shipdate) AS BIGINT) AS ship_year,
                   CAST(month(l_shipdate) AS BIGINT) AS ship_month,
                   CAST(day(l_shipdate) AS BIGINT) AS ship_day,
                   (epoch(l_shipdate) - epoch(TIMESTAMP '1995-01-01')) / 86400.0 AS days_since_95
            FROM lineitem
        """,
        "dsl_datetime_events": """
            SELECT event_id,
                   CAST(hour(ts) AS BIGINT) AS h,
                   CAST(minute(ts) AS BIGINT) AS m,
                   CAST(second(ts) AS BIGINT) AS s
            FROM events
        """,
        "validate_fill_nulls": """
            SELECT o_orderkey, o_totalprice,
                   CASE WHEN o_orderkey % 3 = 0 THEN 'third' ELSE 'none' END AS note
            FROM orders
            WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL
              AND o_orderkey >= 1
        """,
        "dsl_membership": """
            SELECT o_orderkey,
                   o_orderpriority IN ('1-URGENT', '2-HIGH') AS is_urgent,
                   (o_totalprice >= 50000.0 AND o_totalprice < 150000.0) AS mid_price,
                   o_orderstatus IN ('F') AS is_final
            FROM orders
        """,
        "dsl_between_closures": """
            SELECT o_orderkey,
                   (o_totalprice >= 50000.0 AND o_totalprice <= 150000.0) AS c_both,
                   (o_totalprice >= 50000.0 AND o_totalprice < 150000.0) AS c_left,
                   (o_totalprice > 50000.0 AND o_totalprice <= 150000.0) AS c_right,
                   (o_totalprice > 50000.0 AND o_totalprice < 150000.0) AS c_none,
                   (o_orderkey % 7 = 0) AS div7
            FROM orders
        """,
        "validate_defaults": """
            SELECT o_orderkey, o_orderstatus, o_totalprice,
                   'web' AS channel,
                   CAST(99 AS BIGINT) AS priority_rank
            FROM orders
            WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL
              AND o_totalprice IS NOT NULL AND o_orderkey >= 1
        """,
        "q9_brand_revenue": """
            SELECT p_brand, n_name,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_items,
                   CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY p_brand, n_name
        """,
        "events_json_props": """
            SELECT event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                   MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
            FROM events
            GROUP BY event_type
        """,
        "events_session_window": """
            WITH m AS (
                SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                       CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                            THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
            ),
            s AS (
                SELECT user_id, ts_us,
                       CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                FROM m
            )
            SELECT user_id,
                   MIN(ts_us) AS start_us,
                   MAX(ts_us) + 1800000000 AS end_us,
                   COUNT(*) AS n_events
            FROM s GROUP BY user_id, session_id
        """,
        "q1_pricing_summary": _Q1_SQL,
        "q3_top_revenue_orders": """
            SELECT o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1997-06-01'
              AND l_shipdate > TIMESTAMP '1997-06-01'
            GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d')
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """,
        "q5_region_revenue": """
            SELECT r_name, n_name,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate < TIMESTAMP '1997-10-01'
              AND EXISTS (
                  SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY
              )
            GROUP BY o_orderpriority
        """,
        "q6_forecast_revenue": """
            SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(8,4))) AS VARCHAR) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "q10_returned_customers": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate < TIMESTAMP '1997-07-01'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "q13_order_count_distribution": """
            SELECT c_count, COUNT(*) AS custdist
            FROM (
                SELECT c_custkey, COUNT(o_orderkey) AS c_count
                FROM customer
                LEFT JOIN orders ON c_custkey = o_custkey
                    AND o_orderpriority <> '4-NOT SPECIFIED'
                GROUP BY c_custkey
            )
            GROUP BY c_count
        """,
        "q14_promo_revenue_ratio": """
            SELECT strftime(l_shipdate, '%Y-%m') AS month,
                   100.0 * CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))
                       ELSE CAST(0 AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS promo_pct,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS total_revenue
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            GROUP BY strftime(l_shipdate, '%Y-%m')
        """,
        "q18_large_orders": """
            SELECT c_custkey, c_name, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   o_totalprice,
                   CAST(CAST(big.sum_qty_dec AS VARCHAR) AS DOUBLE) AS sum_qty
            FROM (
                SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(8,2))) AS sum_qty_dec
                FROM lineitem GROUP BY l_orderkey
                HAVING SUM(CAST(l_quantity AS DECIMAL(8,2))) > 200
            ) big
            JOIN orders ON big.l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "q19_disjunctive_revenue": """
            SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
               OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
               OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
        """,
        "q2_min_acctbal_supplier": """
            SELECT l_partkey, s_suppkey, s_name, s_acctbal
            FROM (
                SELECT l_partkey, s_suppkey, s_name, s_acctbal,
                       MIN(s_acctbal) OVER (PARTITION BY l_partkey) AS min_bal
                FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
                JOIN supplier ON l_suppkey = s_suppkey
            )
            WHERE s_acctbal = min_bal
        """,
        "q7_nation_volume": """
            SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS volume,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
            GROUP BY n2.n_name, n1.n_name, year(l_shipdate)
        """,
        "q8_market_share": """
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   CAST(CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                       THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))
                       ELSE CAST(0 AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS mkt_share,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS total_volume
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'ASIA'
            GROUP BY year(o_orderdate)
        """,
        "q12_priority_shipping": """
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY l_linestatus
        """,
        "q20_promo_heavy_suppliers": """
            SELECT s_suppkey, s_name, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE s_suppkey IN (
                SELECT l_suppkey
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                WHERE p_type = 'PROMO'
                GROUP BY l_suppkey, l_partkey
                HAVING CAST(CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                                            AND l_shipdate < TIMESTAMP '1998-01-01'
                                          THEN CAST(l_quantity AS DECIMAL(8,2))
                                          ELSE CAST(0 AS DECIMAL(8,2)) END) AS VARCHAR) AS DOUBLE)
                       > 0.6 * CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE)
                   AND CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) > 50
            )
        """,
        "q16_supplier_counts": """
            SELECT p_brand, p_type,
                   CAST(p_size - p_size % 10 AS BIGINT) AS size_band,
                   COUNT(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#5'
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size - p_size % 10
        """,
        "q17_small_qty_revenue": """
            WITH per_part AS (
                SELECT l_partkey,
                       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty
                FROM lineitem GROUP BY l_partkey
            )
            SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS small_qty_revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN per_part USING (l_partkey)
            WHERE p_brand = 'Brand#1'
              AND l_quantity < 0.5 * avg_qty
        """,
        "q21_sole_late_supplier": """
            WITH per_supp AS (
                SELECT l_orderkey, l_suppkey,
                       MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS late
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                GROUP BY l_orderkey, l_suppkey
            ),
            flagged AS (
                SELECT *,
                       COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
                       SUM(late) OVER (PARTITION BY l_orderkey) AS n_late
                FROM per_supp
            )
            SELECT s_suppkey, s_name, COUNT(*) AS numwait
            FROM flagged
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE late = 1 AND n_supp > 1 AND n_late = 1
            GROUP BY s_suppkey, s_name
        """,
        "q15_top_supplier": """
            WITH per_supp AS (
                SELECT l_suppkey,
                       SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS rev_dec
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l_shipdate < TIMESTAMP '1997-04-01'
                GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name,
                   CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS total_revenue
            FROM per_supp
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE rev_dec = (SELECT MAX(rev_dec) FROM per_supp)
        """,
        "q11_important_parts": """
            WITH per_part AS (
                SELECT l_partkey,
                       SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(8,2))) AS value_dec
                FROM lineitem GROUP BY l_partkey
            )
            SELECT l_partkey,
                   CAST(CAST(value_dec AS VARCHAR) AS DOUBLE) AS part_value
            FROM per_part
            WHERE CAST(CAST(value_dec AS VARCHAR) AS DOUBLE)
                  > 0.0006 * (SELECT CAST(CAST(SUM(value_dec) AS VARCHAR) AS DOUBLE) FROM per_part)
        """,
        "pivot_order_status": """
            SELECT o_orderpriority,
                   CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O_n,
                   CAST(CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(14,4)) END) AS VARCHAR) AS DOUBLE) AS O_total,
                   CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F_n,
                   CAST(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(14,4)) END) AS VARCHAR) AS DOUBLE) AS F_total,
                   CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P_n,
                   CAST(CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(14,4)) END) AS VARCHAR) AS DOUBLE) AS P_total
            FROM orders
            GROUP BY o_orderpriority
        """,
        "cube_revenue": """
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price,
                   GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
            FROM lineitem
            GROUP BY CUBE(l_returnflag, l_linestatus)
        """,
        "token_counts": """
            SELECT lower(token) AS token, COUNT(*) AS n
            FROM (
                SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
                FROM documents
                WHERE length(trim(text)) > 0
            )
            GROUP BY lower(token)
            ORDER BY n DESC, token
            LIMIT 50
        """,
        "stats_moments": """
            SELECT l_returnflag,
                   CAST(n AS BIGINT) AS n,
                   (sxx - sx * sx / n) / (n - 1) AS var_qty,
                   sqrt((sxx - sx * sx / n) / (n - 1)) AS std_qty,
                   (syy - sy * sy / n) / (n - 1) AS var_price,
                   (sxy - sx * sy / n) / (n - 1) AS cov_qty_price,
                   ((sxy - sx * sy / n) / (n - 1))
                       / sqrt(((sxx - sx * sx / n) / (n - 1)) * ((syy - sy * sy / n) / (n - 1))) AS corr_qty_price
            FROM (
                SELECT l_returnflag,
                       CAST(COUNT(*) AS DOUBLE) AS n,
                       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) AS sx,
                       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sy,
                       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(8,2)) * CAST(l_quantity AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) AS sxx,
                       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS syy,
                       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(8,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxy
                FROM lineitem GROUP BY l_returnflag
            )
        """,
        "percentile_suite": """
            SELECT o_orderpriority,
                   round(quantile_cont(o_totalprice, 0.25), 6) AS p25,
                   round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
                   round(quantile_cont(o_totalprice, 0.75), 6) AS p75,
                   round(quantile_cont(o_totalprice, 0.95), 6) AS p95,
                   COUNT(*) AS n
            FROM orders
            GROUP BY o_orderpriority
        """,
        "distinct_stats": """
            SELECT c_mktsegment,
                   COUNT(DISTINCT o_custkey) AS n_customers,
                   COUNT(DISTINCT strftime(o_orderdate, '%Y-%m-%d')) AS n_order_days,
                   COUNT(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "deterministic_split": """
            SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                   MIN(doc_id) AS min_doc_id
            FROM (
                SELECT *,
                       CASE WHEN b < 800 THEN 'train'
                            WHEN b < 900 THEN 'val'
                            ELSE 'test' END AS split
                FROM (
                    SELECT *,
                           CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS b
                    FROM documents
                )
            )
            GROUP BY split
        """,
        "array_ops": """
            SELECT vec_id,
                   CAST(len(list_filter(fp, x -> x > 0)) AS BIGINT) AS n_pos,
                   len(list_filter(fp, x -> x > 3000000)) > 0 AS has_large,
                   CAST(list_sum(list_transform(fp, x -> abs(x))) AS BIGINT) AS l1_fp,
                   array_to_string(list_slice(list_sort(fp, 'DESC'), 1, 3), ',') AS top3_fp
            FROM (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(trunc(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS fp
                FROM embeddings
            )
        """,
        "name_editdist_pairs": """
            SELECT s1.s_suppkey AS k1, s2.s_suppkey AS k2,
                   s1.s_name AS n1, s2.s_name AS n2,
                   CAST(levenshtein(s1.s_name, s2.s_name) AS BIGINT) AS dist
            FROM supplier s1, supplier s2
            WHERE s1.s_suppkey < s2.s_suppkey
              AND levenshtein(s1.s_name, s2.s_name) <= 1
        """,
        "label_centroids": """
            SELECT CAST(label AS BIGINT) AS label,
                   CAST(ord - 1 AS BIGINT) AS pos,
                   COUNT(*) AS n,
                   SUM(CAST(trunc(CAST(val AS DOUBLE) * 1e8) AS BIGINT)) / COUNT(*) / 1e8 AS centroid
            FROM (
                SELECT label,
                       unnest(embedding) AS val,
                       unnest(range(1, len(embedding) + 1)) AS ord
                FROM embeddings
            )
            GROUP BY label, ord
        """,
        "events_range_join": """
            WITH win AS (
                SELECT DISTINCT epoch_us(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS w_start_us,
                       epoch_us(CAST(date_trunc('day', ts) AS TIMESTAMP)) + 21600000000 AS w_end_us
                FROM events
            )
            SELECT w_start_us, event_type, COUNT(*) AS n,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
            FROM (SELECT epoch_us(ts) AS ts_us, event_type, value FROM events) e
            JOIN win ON e.ts_us >= w_start_us AND e.ts_us < w_end_us
            GROUP BY w_start_us, event_type
        """,
        "q22_dormant_customers": """
            SELECT n_name, COUNT(*) AS numcust,
                   CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(14,4))) AS VARCHAR) AS DOUBLE) AS totacctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            WHERE c_acctbal > (SELECT median(c_acctbal) FROM customer WHERE c_acctbal > 0)
              AND NOT EXISTS (
                  SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01'
              )
            GROUP BY n_name
        """,
        "window_suite": """
            SELECT o_orderkey, o_custkey, o_totalprice,
                   ROW_NUMBER() OVER w_time AS rn,
                   LAG(o_totalprice) OVER w_time AS prev_price,
                   LEAD(o_totalprice) OVER w_time AS next_price,
                   CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,4))) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS run_total,
                   CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,4))) OVER w_mov AS VARCHAR) AS DOUBLE)
                       / COUNT(*) OVER w_mov AS moving_avg3,
                   RANK() OVER w_val AS price_rank,
                   DENSE_RANK() OVER w_val AS price_dense_rank,
                   NTILE(4) OVER w_val AS price_quartile,
                   PERCENT_RANK() OVER w_val AS price_pct_rank
            FROM orders
            WINDOW w_time AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                   w_mov AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                   w_val AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        """,
        "rollup_revenue": """
            SELECT r_name, n_name,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP(r_name, n_name)
        """,
        "set_ops_customers": """
            WITH h1 AS (
                SELECT o_custkey FROM orders
                WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                  AND o_orderdate < TIMESTAMP '1997-07-01'
            ),
            h2 AS (
                SELECT o_custkey FROM orders
                WHERE o_orderdate >= TIMESTAMP '1997-07-01'
                  AND o_orderdate < TIMESTAMP '1998-01-01'
            )
            SELECT o_custkey, 'both' AS segment FROM (
                SELECT o_custkey FROM h1 INTERSECT SELECT o_custkey FROM h2
            )
            UNION ALL
            SELECT o_custkey, 'h1_only' AS segment FROM (
                SELECT DISTINCT o_custkey FROM h1
                EXCEPT SELECT DISTINCT o_custkey FROM h2
            )
        """,
        "orders_no_lineitems": """
            SELECT o_orderkey, o_orderstatus
            FROM orders
            WHERE NOT EXISTS (
                SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
            )
        """,
        "median_stats": """
            SELECT o_orderstatus,
                   COUNT(*) AS n,
                   round(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
                   MIN(o_totalprice) AS min_price,
                   MAX(o_totalprice) AS max_price
            FROM orders
            GROUP BY o_orderstatus
        """,
        "events_daily": """
            SELECT event_type,
                   strftime(ts, '%Y-%m-%d') AS day,
                   COUNT(*) AS n,
                   MIN(value) AS min_value,
                   MAX(value) AS max_value,
                   MIN(epoch_us(ts)) AS first_us,
                   MAX(epoch_us(ts)) AS last_us
            FROM events
            GROUP BY event_type, strftime(ts, '%Y-%m-%d')
        """,
        "events_sessions": """
            WITH m AS (
                SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                       CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                            THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
            ),
            s AS (
                SELECT user_id, ts_us,
                       CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                FROM m
            )
            SELECT user_id, session_id,
                   COUNT(*) AS n_events,
                   MIN(ts_us) AS start_us,
                   MAX(ts_us) AS end_us
            FROM s GROUP BY user_id, session_id
        """,
        "events_asof_join": """
            WITH clicks AS (
                SELECT user_id, event_id, epoch_us(ts) AS ts_us
                FROM events WHERE event_type = 'click'
            ),
            purchases AS (
                SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS ts_us, value
                FROM events WHERE event_type = 'purchase'
            )
            SELECT c.user_id, c.event_id, c.ts_us,
                   p.purchase_id AS purchase_id_p,
                   p.value AS purchase_value,
                   p.ts_us AS purchase_ts_us
            FROM clicks c
            ASOF LEFT JOIN purchases p
              ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
        """,
        "events_user_top3": """
            SELECT user_id, event_id, rn FROM (
                SELECT user_id, event_id,
                       CAST(row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rn
                FROM events
            ) WHERE rn <= 3
        """,
        "text_profile": _TEXT_BASE_CTE + """
            SELECT doc_id,
                   CAST(n_chars_c AS BIGINT) AS n_chars_c,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(n_bpe AS BIGINT) AS n_bpe,
                   round(mean_tok_len_raw, 6) AS mean_tok_len,
                   round(stop_ratio_raw, 6) AS stop_ratio,
                   round(punct_ratio_raw, 6) AS punct_ratio,
                   round(digit_ratio_raw, 6) AS digit_ratio,
                   quality,
                   lang_pred,
                   md5(norm) AS fingerprint
            FROM scored
        """,
        "lang_histogram": _TEXT_BASE_CTE + """
            SELECT lang_pred, COUNT(*) AS n FROM scored GROUP BY lang_pred
        """,
        "dedup_exact": """
            SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
            FROM documents d
            JOIN (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text) k
              USING (doc_id)
        """,
        "dedup_exact_normalized": r"""
            WITH n AS (
                SELECT *,
                       regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g') AS norm
                FROM documents
            )
            SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
            FROM documents d
            JOIN (SELECT MIN(doc_id) AS doc_id FROM n GROUP BY norm) k
              USING (doc_id)
        """,
        "jaccard_pairs": r"""
            WITH s AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE list_distinct(regexp_split_to_array(
                                regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g'),
                                ' '))
                       END AS sh
                FROM documents
            )
            SELECT * FROM (
                SELECT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b,
                       round(CASE WHEN len(list_distinct(list_concat(l.sh, r.sh))) = 0 THEN 0.0
                                  ELSE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
                                       / len(list_distinct(list_concat(l.sh, r.sh)))
                             END, 6) AS jaccard
                FROM s l JOIN s r
                  ON l.doc_id < r.doc_id AND r.doc_id <= l.doc_id + 25
            ) WHERE jaccard >= 0.2
        """,
        "corpus_select": _TEXT_BASE_CTE + r"""
            , surv AS (
                SELECT MIN(doc_id) AS doc_id FROM base GROUP BY norm
            ),
            tok3 AS (
                SELECT doc_id, length(norm) AS nc,
                       CASE WHEN length(norm) = 0 THEN CAST([] AS VARCHAR[])
                            ELSE string_split(norm, ' ') END AS toks
                FROM base
            ),
            g3 AS (
                SELECT doc_id, nc, unnest(CASE WHEN len(toks) >= 3
                            THEN list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                            ELSE CAST([] AS VARCHAR[]) END) AS gram
                FROM tok3
            ),
            c3 AS (SELECT doc_id, nc, gram, COUNT(*) AS cnt FROM g3 GROUP BY 1, 2, 3),
            d3 AS (
                SELECT doc_id,
                       round(least(1.0, CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt * length(gram) END), 0) AS DOUBLE) / any_value(nc)), 6) AS dup3
                FROM c3 GROUP BY doc_id
            )
            SELECT s.doc_id, d.lang, s.quality, COALESCE(d3.dup3, 0.0) AS dup3
            FROM scored s
            JOIN surv USING (doc_id)
            JOIN documents d USING (doc_id)
            LEFT JOIN d3 USING (doc_id)
            WHERE s.quality >= 0.7 AND COALESCE(d3.dup3, 0.0) <= 0.2
              AND CAST(concat('0x', substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < 800
        """,
        "skew_salted_join": """
            SELECT s_nationkey AS nationkey,
                   COUNT(*) AS n_lines,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_price
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY 1
        """,
        "events_hourly_rollup": """
            WITH hourly AS (
                SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
                       COUNT(*) AS n,
                       SUM(COALESCE(value, 0.0)) AS sum_value
                FROM events
                GROUP BY 1
            )
            SELECT day_us,
                   CAST(SUM(n) AS BIGINT) AS n_events,
                   round(SUM(sum_value), 6) AS sum_value,
                   COUNT(*) AS n_active_hours,
                   (SELECT h2.hour_us FROM hourly h2
                    WHERE h2.hour_us - h2.hour_us % 86400000000 = h.day_us
                    ORDER BY h2.n DESC, h2.hour_us LIMIT 1) AS busiest_hour_us,
                   (SELECT CAST(h2.n AS BIGINT) FROM hourly h2
                    WHERE h2.hour_us - h2.hour_us % 86400000000 = h.day_us
                    ORDER BY h2.n DESC, h2.hour_us LIMIT 1) AS busiest_hour_events
            FROM (SELECT *, hour_us - hour_us % 86400000000 AS day_us FROM hourly) h
            GROUP BY day_us
        """,
        "doc_repetition": r"""
            WITH nrm AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g') AS norm
                FROM documents
            ),
            tok AS (
                SELECT doc_id, length(norm) AS nc,
                       CASE WHEN length(norm) = 0 THEN CAST([] AS VARCHAR[])
                            ELSE string_split(norm, ' ') END AS toks
                FROM nrm
            ),
            g2 AS (
                SELECT doc_id, nc, unnest(CASE WHEN len(toks) >= 2
                            THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
                            ELSE CAST([] AS VARCHAR[]) END) AS gram
                FROM tok
            ),
            g3 AS (
                SELECT doc_id, nc, unnest(CASE WHEN len(toks) >= 3
                            THEN list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                            ELSE CAST([] AS VARCHAR[]) END) AS gram
                FROM tok
            ),
            c2 AS (SELECT doc_id, nc, gram, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2, 3),
            c3 AS (SELECT doc_id, nc, gram, COUNT(*) AS cnt FROM g3 GROUP BY 1, 2, 3),
            t2 AS (
                SELECT doc_id, gram, cnt, nc FROM (
                    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
                    FROM c2
                ) WHERE rn = 1
            ),
            t3 AS (
                SELECT doc_id, gram, cnt, nc FROM (
                    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
                    FROM c3
                ) WHERE rn = 1
            ),
            m2 AS (
                SELECT c.doc_id,
                       any_value(t.gram) AS top2_gram,
                       CAST(any_value(t.cnt) AS BIGINT) AS top2_count,
                       round(least(1.0, CAST(any_value(t.cnt) * length(any_value(t.gram)) AS DOUBLE) / any_value(c.nc)), 6) AS top2_char_frac,
                       round(least(1.0, CAST(COALESCE(SUM(CASE WHEN c.cnt > 1 THEN c.cnt * length(c.gram) END), 0) AS DOUBLE) / any_value(c.nc)), 6) AS dup2_char_frac
                FROM c2 c JOIN t2 t ON c.doc_id = t.doc_id
                GROUP BY c.doc_id
            ),
            m3 AS (
                SELECT c.doc_id,
                       any_value(t.gram) AS top3_gram,
                       CAST(any_value(t.cnt) AS BIGINT) AS top3_count,
                       round(least(1.0, CAST(any_value(t.cnt) * length(any_value(t.gram)) AS DOUBLE) / any_value(c.nc)), 6) AS top3_char_frac,
                       round(least(1.0, CAST(COALESCE(SUM(CASE WHEN c.cnt > 1 THEN c.cnt * length(c.gram) END), 0) AS DOUBLE) / any_value(c.nc)), 6) AS dup3_char_frac
                FROM c3 c JOIN t3 t ON c.doc_id = t.doc_id
                GROUP BY c.doc_id
            )
            SELECT t.doc_id, CAST(t.nc AS BIGINT) AS n_chars_norm,
                   m2.top2_gram, m2.top2_count, m2.top2_char_frac, m2.dup2_char_frac,
                   m3.top3_gram, m3.top3_count, m3.top3_char_frac, m3.dup3_char_frac
            FROM tok t
            LEFT JOIN m2 ON t.doc_id = m2.doc_id
            LEFT JOIN m3 ON t.doc_id = m3.doc_id
        """,
        "pii_redaction": r"""
            WITH aug AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com via https://ex.example/d/' || CAST(doc_id AS VARCHAR)
                            || ' tel +1555' || lpad(CAST(doc_id AS VARCHAR), 7, '0') AS t
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
                   CAST(len(regexp_extract_all(t, 'https?://[^\s]+')) AS INT) AS n_urls,
                   CAST(len(regexp_extract_all(t, '\+[0-9]{7,15}')) AS INT) AS n_phones,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g'),
                           'https?://[^\s]+', '[PII]', 'g'),
                       '\+[0-9]{7,15}', '[PII]', 'g') AS redacted
            FROM aug
        """,
        "stratified_sample": """
            SELECT doc_id, source FROM (
                SELECT doc_id, source,
                       CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS b,
                       CASE source WHEN 'src0' THEN 0.8 WHEN 'src1' THEN 0.5
                                   WHEN 'src2' THEN 0.25 ELSE 0.1 END AS f
                FROM documents
            ) WHERE b < CAST(f * 10000 AS BIGINT)
        """,
        "minhash_verified_pairs": r"""
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(
                                regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g'),
                                ' ')
                       END AS toks
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                       CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                            ELSE list_distinct(list_transform(
                                range(1, len(toks) - 1),
                                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                       END AS sh
                FROM t
            )
            SELECT * FROM (
                SELECT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b,
                       round(CASE WHEN len(list_distinct(list_concat(l.sh, r.sh))) = 0 THEN 0.0
                                  ELSE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
                                       / len(list_distinct(list_concat(l.sh, r.sh)))
                             END, 6) AS jaccard
                FROM s l JOIN s r ON l.doc_id < r.doc_id
                WHERE len(l.sh) > 0 AND len(r.sh) > 0
            ) WHERE jaccard >= 0.5
        """,
        "minhash_dedup_verified": r"""
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(
                                regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g'),
                                ' ')
                       END AS toks
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                       CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                            ELSE list_distinct(list_transform(
                                range(1, len(toks) - 1),
                                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                       END AS sh
                FROM t
            ),
            losers AS (
                SELECT DISTINCT r.doc_id
                FROM s l JOIN s r ON l.doc_id < r.doc_id
                WHERE len(l.sh) > 0 AND len(r.sh) > 0
                  AND round(CASE WHEN len(list_distinct(list_concat(l.sh, r.sh))) = 0 THEN 0.0
                            ELSE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
                                 / len(list_distinct(list_concat(l.sh, r.sh)))
                        END, 6) >= 0.5
            )
            SELECT d.doc_id, d.source, d.lang
            FROM documents d
            ANTI JOIN losers USING (doc_id)
        """,
        "decontam_report": r"""
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(
                                regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g'),
                                ' ')
                       END AS toks
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                       CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                            ELSE list_distinct(list_transform(
                                range(1, len(toks) - 1),
                                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                       END AS sh
                FROM t
            ),
            bench AS (
                SELECT DISTINCT unnest(sh) AS gram FROM s WHERE doc_id % 50 = 7
            ),
            corp AS (SELECT doc_id, sh FROM s WHERE doc_id % 50 <> 7),
            inv AS (SELECT doc_id, unnest(sh) AS gram FROM corp),
            m AS (
                SELECT inv.doc_id, count(*) AS n_matched
                FROM inv JOIN bench USING (gram)
                GROUP BY inv.doc_id
            )
            SELECT c.doc_id,
                   CAST(len(c.sh) AS BIGINT) AS n_grams,
                   CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
                   round(CASE WHEN len(c.sh) = 0 THEN 0.0
                              ELSE CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / len(c.sh)
                         END, 6) AS contamination_frac,
                   round(CASE WHEN len(c.sh) = 0 THEN 0.0
                              ELSE CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / len(c.sh)
                         END, 6) >= 0.5 AS is_contaminated
            FROM corp c LEFT JOIN m ON c.doc_id = m.doc_id
        """,
        "incremental_dedup_exact": r"""
            WITH n AS (
                SELECT doc_id, lang, source, n_chars,
                       regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g') AS norm
                FROM documents
            ),
            corp AS (SELECT norm FROM n WHERE doc_id % 10 <> 3),
            newb AS (
                SELECT doc_id, lang, source, n_chars, norm FROM n WHERE doc_id % 10 = 3
                UNION ALL
                SELECT CAST(doc_id + 1000 AS BIGINT), lang, source, n_chars, norm FROM n WHERE doc_id % 7 = 0
            ),
            fresh AS (SELECT * FROM newb ANTI JOIN corp USING (norm)),
            keep AS (SELECT min(doc_id) AS doc_id FROM fresh GROUP BY norm)
            SELECT f.doc_id, f.lang, f.source, f.n_chars
            FROM fresh f JOIN keep USING (doc_id)
        """,
        "incremental_minhash_dedup": r"""
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(
                                regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g'),
                                ' ')
                       END AS toks
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                       CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                            ELSE list_distinct(list_transform(
                                range(1, len(toks) - 1),
                                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                       END AS sh
                FROM t
            ),
            losers AS (
                SELECT DISTINCT r.doc_id
                FROM s l JOIN s r
                  ON l.doc_id % 10 <> 3 AND r.doc_id % 10 = 3
                WHERE len(l.sh) > 0 AND len(r.sh) > 0
                  AND round(CASE WHEN len(list_distinct(list_concat(l.sh, r.sh))) = 0 THEN 0.0
                            ELSE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
                                 / len(list_distinct(list_concat(l.sh, r.sh)))
                        END, 6) >= 0.5
            )
            SELECT doc_id, lang, source
            FROM documents
            WHERE doc_id % 10 = 3
              AND doc_id NOT IN (SELECT doc_id FROM losers)
        """,
        "span_dedup": r"""
            WITH base AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g') AS norm
                FROM documents
            ),
            tok AS (
                SELECT doc_id,
                       CASE WHEN length(norm) = 0 THEN CAST([] AS VARCHAR[])
                            ELSE string_split(norm, ' ') END AS toks
                FROM base
            ),
            w AS (
                SELECT doc_id, toks, CAST(len(toks) // 8 AS INT) AS n_wins FROM tok
            ),
            sp0 AS (
                SELECT doc_id, toks,
                       unnest(CASE WHEN n_wins > 0 THEN range(0, n_wins) ELSE [] END) AS widx
                FROM w
            ),
            sp AS (
                SELECT doc_id, CAST(widx AS INT) AS widx,
                       array_to_string(list_slice(toks, widx * 8 + 1, widx * 8 + 8), ' ') AS wtext
                FROM sp0
            ),
            rk AS (
                SELECT doc_id, widx,
                       row_number() OVER (PARTITION BY wtext ORDER BY doc_id, widx) AS rk
                FROM sp
            ),
            drops AS (SELECT doc_id, widx FROM rk WHERE rk > 1),
            dropped AS (
                SELECT doc_id, count(*) AS n_dropped FROM drops GROUP BY doc_id
            ),
            kept AS (
                SELECT s.doc_id, string_agg(s.wtext, ' ' ORDER BY s.widx) AS spans_txt
                FROM sp s
                ANTI JOIN drops d ON s.doc_id = d.doc_id AND s.widx = d.widx
                GROUP BY s.doc_id
            )
            SELECT w.doc_id,
                   CAST(w.n_wins AS BIGINT) AS n_spans,
                   CAST(w.n_wins - COALESCE(dropped.n_dropped, 0) AS BIGINT) AS n_kept,
                   trim(concat_ws(' ',
                        COALESCE(kept.spans_txt, ''),
                        array_to_string(list_slice(w.toks, w.n_wins * 8 + 1, len(w.toks)), ' ')
                   )) AS text_dedup
            FROM w
            LEFT JOIN dropped USING (doc_id)
            LEFT JOIN kept USING (doc_id)
        """,
        "bloom_pruned_join": """
            SELECT l_returnflag,
                   CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_lines
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderpriority = '1-URGENT'
              AND o_totalprice > 150000
            GROUP BY l_returnflag
        """,
        "simhash_verified_pairs": r"""
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(
                                regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g'),
                                ' ')
                       END AS toks
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                       CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                            ELSE list_distinct(list_transform(
                                range(1, len(toks) - 1),
                                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                       END AS sh
                FROM t
            )
            SELECT * FROM (
                SELECT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b,
                       round(CASE WHEN len(list_distinct(list_concat(l.sh, r.sh))) = 0 THEN 0.0
                                  ELSE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
                                       / len(list_distinct(list_concat(l.sh, r.sh)))
                             END, 6) AS jaccard
                FROM s l JOIN s r ON l.doc_id < r.doc_id
                WHERE len(l.sh) > 0 AND len(r.sh) > 0
            ) WHERE jaccard >= 0.5
        """,
        "ivf_full_probe": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id >= 10 AND vec_id < 15),
            sc AS (
                SELECT q.query_id, e.vec_id,
                       round(CASE WHEN sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)) > 0
                                  THEN list_dot_product(e.v, q.qv)
                                       / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
                             END, 6) AS sim
                FROM e CROSS JOIN q
                WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, vec_id, sim, rank FROM (
                SELECT query_id, vec_id, sim,
                       CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
                FROM sc
            ) WHERE rank <= 4
        """,
        "pq_rerank_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id >= 30 AND vec_id < 40),
            sc AS (
                SELECT q.query_id, e.vec_id,
                       round(CASE WHEN sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)) > 0
                                  THEN list_dot_product(e.v, q.qv)
                                       / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
                             END, 6) AS sim
                FROM e CROSS JOIN q
                WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, vec_id, sim, rank FROM (
                SELECT query_id, vec_id, sim,
                       CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
                FROM sc
            ) WHERE rank <= 5
        """,
        "ivf_rerank_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id >= 20 AND vec_id < 30),
            sc AS (
                SELECT q.query_id, e.vec_id,
                       round(CASE WHEN sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)) > 0
                                  THEN list_dot_product(e.v, q.qv)
                                       / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
                             END, 6) AS sim
                FROM e CROSS JOIN q
                WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, vec_id, sim, rank FROM (
                SELECT query_id, vec_id, sim,
                       CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
                FROM sc
            ) WHERE rank <= 5
        """,
        "knn_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
            sc AS (
                SELECT q.query_id, e.vec_id,
                       round(CASE WHEN sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)) > 0
                                  THEN list_dot_product(e.v, q.qv)
                                       / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
                             END, 6) AS sim
                FROM e CROSS JOIN q
                WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, vec_id, sim, rank FROM (
                SELECT query_id, vec_id, sim,
                       CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
                FROM sc
            ) WHERE rank <= 5
        """,
        "embedding_neardup": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings)
            SELECT * FROM (
                SELECT l.vec_id AS id_a, r.vec_id AS id_b,
                       round(CASE WHEN sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v)) > 0
                                  THEN list_dot_product(l.v, r.v)
                                       / (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v)))
                             END, 6) AS cosine
                FROM e l JOIN e r ON l.vec_id < r.vec_id AND l.label = r.label
            ) WHERE cosine >= 0.3
        """,
        "skew_salted_counts": """
            SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag
        """,
        "table_profile": """
            SELECT 'o_orderkey' AS "column", 'bigint' AS dtype,
                   COUNT(*) AS n,
                   CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                   COUNT(DISTINCT o_orderkey) AS n_distinct,
                   CAST(MIN(o_orderkey) AS VARCHAR) AS min_str,
                   CAST(MAX(o_orderkey) AS VARCHAR) AS max_str,
                   SUM(CAST(o_orderkey AS DOUBLE)) AS sum,
                   SUM(CAST(o_orderkey AS DOUBLE)) / COUNT(o_orderkey) AS mean
            FROM orders
            UNION ALL
            SELECT 'o_custkey', 'bigint', COUNT(*),
                   CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   COUNT(DISTINCT o_custkey),
                   CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR),
                   SUM(CAST(o_custkey AS DOUBLE)),
                   SUM(CAST(o_custkey AS DOUBLE)) / COUNT(o_custkey)
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus', 'string', COUNT(*),
                   CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   COUNT(DISTINCT o_orderstatus),
                   MIN(o_orderstatus), MAX(o_orderstatus),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM orders
            UNION ALL
            SELECT 'o_orderpriority', 'string', COUNT(*),
                   CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   COUNT(DISTINCT o_orderpriority),
                   MIN(o_orderpriority), MAX(o_orderpriority),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM orders
        """,
        "multimodal_meta": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   CAST(octet_length(encode(text)) % 1024 AS BIGINT) AS width,
                   CAST((octet_length(encode(text)) * 7) % 768 AS BIGINT) AS height,
                   'fake' AS fmt
            FROM documents
        """,
        "image_decode": """
            WITH d AS (
                SELECT doc_id,
                       4 + doc_id % 13 AS w,
                       3 + doc_id % 7 AS h
                FROM documents
            ),
            px AS (
                SELECT d.doc_id, d.w, d.h,
                       (d.doc_id * 7 + i * 13) % 256 AS p
                FROM d, LATERAL (SELECT unnest(range(0, d.w * d.h * 3)) AS i)
            )
            SELECT doc_id,
                   'ppm' AS fmt,
                   CAST(w AS BIGINT) AS width,
                   CAST(h AS BIGINT) AS height,
                   CAST(255 AS BIGINT) AS maxval,
                   CAST(3 AS BIGINT) AS n_channels,
                   CAST(w * h * 3 AS BIGINT) AS n_pixel_bytes,
                   round(CAST(sum(p) AS DOUBLE) / count(*), 6) AS mean_pixel
            FROM px
            GROUP BY doc_id, w, h
        """,
        "gif_decode": """
            WITH d AS (
                SELECT doc_id,
                       4 + doc_id % 13 AS w,
                       3 + doc_id % 7 AS h
                FROM documents
            ),
            px AS (
                SELECT doc_id, w, h,
                       (doc_id * 5 + i * 11) % 8 AS j
                FROM d, LATERAL (SELECT unnest(range(0, w * h)) AS i)
            )
            SELECT doc_id,
                   'gif' AS fmt,
                   CAST(w AS BIGINT) AS width,
                   CAST(h AS BIGINT) AS height,
                   CAST(255 AS BIGINT) AS maxval,
                   CAST(3 AS BIGINT) AS n_channels,
                   CAST(3 * w * h AS BIGINT) AS n_pixel_bytes,
                   round(CAST(SUM((j * 37) % 256 + (j * 59) % 256
                              + (j * 83) % 256) AS DOUBLE)
                         / (3 * w * h), 6) AS mean_pixel
            FROM px
            GROUP BY doc_id, w, h
        """,
        "gif_frames": """
            WITH d AS (
                SELECT doc_id,
                       4 + doc_id % 13 AS w,
                       3 + doc_id % 7 AS h
                FROM documents
            ),
            fr AS (
                SELECT doc_id, w, h, f
                FROM d, LATERAL (SELECT unnest([0, 2]) AS f)
            ),
            px AS (
                -- frame 0: the planted full-screen raster; frame 2's
                -- composed canvas replaces exactly cells k=0 and k=w
                -- (the opaque half of the 2x2 overlay) with color
                -- 1 + doc_id % 7 — frame 1 was restore-previous'd away
                SELECT doc_id, w, h, f,
                       CASE WHEN f = 2 AND (k = 0 OR k = w)
                            THEN 1 + doc_id % 7
                            ELSE (doc_id * 5 + k * 11) % 8
                       END AS j
                FROM fr, LATERAL (SELECT unnest(range(0, w * h)) AS k)
            )
            SELECT doc_id,
                   CAST(f AS BIGINT) AS frame_idx,
                   CAST(4 AS BIGINT) AS n_frames_total,
                   CAST(CASE WHEN f = 0 THEN 10 + doc_id % 5
                             ELSE 30 END AS BIGINT) AS delay_cs,
                   CAST(w AS BIGINT) AS width,
                   CAST(h AS BIGINT) AS height,
                   round(CAST(SUM((j * 37) % 256 + (j * 59) % 256
                              + (j * 83) % 256) AS DOUBLE)
                         / (3 * w * h), 6) AS mean_pixel
            FROM px
            GROUP BY doc_id, w, h, f
        """,
        "tiff_decode": """
            WITH d AS (
                SELECT doc_id,
                       4 + doc_id % 13 AS w,
                       3 + doc_id % 7 AS h,
                       CAST(doc_id % 3 AS INT) AS arm
                FROM documents
            ),
            px AS (
                -- arm 0 gray: one value per pixel; arm 1 rgb: one per
                -- channel sample; arm 2 palette: the 3-channel SUM per
                -- pixel (denominator handles the 3x)
                SELECT doc_id, w, h, arm,
                       CASE arm
                           WHEN 0 THEN (doc_id * 13 + k * 7) % 256
                           WHEN 1 THEN (doc_id * 7 + k * 13) % 256
                           ELSE ((doc_id*5 + k*11) % 8 * 37) % 256
                              + ((doc_id*5 + k*11) % 8 * 59) % 256
                              + ((doc_id*5 + k*11) % 8 * 83) % 256
                       END AS v
                FROM d, LATERAL (SELECT unnest(range(0,
                     CASE WHEN arm = 1 THEN 3 * w * h
                          ELSE w * h END)) AS k)
            )
            SELECT doc_id,
                   'tiff' AS fmt,
                   CAST(w AS BIGINT) AS width,
                   CAST(h AS BIGINT) AS height,
                   CAST(255 AS BIGINT) AS maxval,
                   CAST(CASE WHEN arm = 0 THEN 1 ELSE 3 END AS BIGINT)
                       AS n_channels,
                   CAST(CASE WHEN arm = 0 THEN w * h
                             ELSE 3 * w * h END AS BIGINT)
                       AS n_pixel_bytes,
                   round(CAST(SUM(v) AS DOUBLE)
                         / (CASE WHEN arm = 0 THEN w * h
                                 ELSE 3 * w * h END), 6) AS mean_pixel
            FROM px
            GROUP BY doc_id, w, h, arm
        """,
        "bmp_decode": """
            WITH d AS (
                SELECT doc_id,
                       4 + doc_id % 13 AS w,
                       3 + doc_id % 7 AS h,
                       CAST(doc_id % 3 AS INT) AS arm
                FROM documents
            ),
            px AS (
                SELECT doc_id, w, h, arm,
                       CASE arm
                           WHEN 0 THEN (doc_id * 7 + k * 13) % 256
                           WHEN 1 THEN ((doc_id*5 + k*11) % 8 * 37) % 256
                              + ((doc_id*5 + k*11) % 8 * 59) % 256
                              + ((doc_id*5 + k*11) % 8 * 83) % 256
                           ELSE ((k // 4 + doc_id) % 8 * 37) % 256
                              + ((k // 4 + doc_id) % 8 * 59) % 256
                              + ((k // 4 + doc_id) % 8 * 83) % 256
                       END AS v
                FROM d, LATERAL (SELECT unnest(range(0,
                     CASE WHEN arm = 0 THEN 3 * w * h
                          ELSE w * h END)) AS k)
            )
            SELECT doc_id,
                   'bmp' AS fmt,
                   CAST(w AS BIGINT) AS width,
                   CAST(h AS BIGINT) AS height,
                   CAST(255 AS BIGINT) AS maxval,
                   CAST(3 AS BIGINT) AS n_channels,
                   CAST(3 * w * h AS BIGINT) AS n_pixel_bytes,
                   round(CAST(SUM(v) AS DOUBLE) / (3 * w * h), 6)
                       AS mean_pixel
            FROM px
            GROUP BY doc_id, w, h, arm
        """,
        "media_frames": """
            WITH av AS (
                SELECT doc_id, 4 + doc_id % 5 AS n FROM documents
                WHERE doc_id % 2 = 0
            ),
            avf AS (
                SELECT av.doc_id, av.n, fi
                FROM av, LATERAL (SELECT unnest(range(0, av.n)) AS fi)
                WHERE fi % 2 = 0
            ),
            avb AS (
                SELECT f.doc_id, f.n, f.fi,
                       ((f.doc_id * 11 + f.fi * 17 + j * 23) % 160) - 80
                           AS dc
                FROM avf f, LATERAL (SELECT unnest(range(0, 2)) AS j)
            ),
            avi_rows AS (
                SELECT doc_id, 'avi' AS fmt,
                       fi AS frame_idx,
                       CAST(n AS BIGINT) AS n_frames_total,
                       CAST(16 AS BIGINT) AS width,
                       CAST(8 AS BIGINT) AS height,
                       round(CAST(sum(128 + dc) AS DOUBLE) / count(*), 6)
                           AS mean_pixel
                FROM avb
                GROUP BY doc_id, n, fi
            ),
            gd AS (
                SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
                FROM documents WHERE doc_id % 2 = 1
            ),
            gfr AS (
                SELECT doc_id, w, h, f
                FROM gd, LATERAL (SELECT unnest([0, 2]) AS f)
            ),
            gpx AS (
                SELECT doc_id, w, h, f,
                       CASE WHEN f = 2 AND (k = 0 OR k = w)
                            THEN 1 + doc_id % 7
                            ELSE (doc_id * 5 + k * 11) % 8
                       END AS j
                FROM gfr, LATERAL (SELECT unnest(range(0, w * h)) AS k)
            ),
            gif_rows AS (
                SELECT doc_id, 'gif' AS fmt,
                       CAST(f AS BIGINT) AS frame_idx,
                       CAST(4 AS BIGINT) AS n_frames_total,
                       CAST(w AS BIGINT) AS width,
                       CAST(h AS BIGINT) AS height,
                       round(CAST(SUM((j * 37) % 256 + (j * 59) % 256
                                  + (j * 83) % 256) AS DOUBLE)
                             / (3 * w * h), 6) AS mean_pixel
                FROM gpx
                GROUP BY doc_id, w, h, f
            )
            SELECT * FROM avi_rows UNION ALL SELECT * FROM gif_rows
        """,
        "pdf_extract": """
            WITH d AS (
                SELECT doc_id, 1 + doc_id % 3 AS np FROM documents
            ),
            pg AS (
                SELECT doc_id, np, p,
                       'Doc ' || doc_id || ' page ' || p || chr(10) ||
                       'body ' || (doc_id * 7 + p) % 97 || ' (pdf)'
                           AS ptext
                FROM d, LATERAL (SELECT unnest(range(0, np)) AS p)
            ),
            agg AS (
                SELECT doc_id, np,
                       string_agg(ptext, chr(10) ORDER BY p) AS text
                FROM pg
                GROUP BY doc_id, np
            )
            SELECT doc_id,
                   CAST(np AS BIGINT) AS n_pages,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   text
            FROM agg
        """,
        "zip_samples": """
            WITH s AS (
                SELECT doc_id,
                       unnest(range(0, 2 + doc_id % 3)) AS k
                FROM documents
            )
            SELECT doc_id,
                   'z' || doc_id || '_' || k AS sample_key,
                   CAST(2 AS BIGINT) AS n_members,
                   'caption ' || doc_id || ' ' || k AS caption,
                   '{"id":' || doc_id || ',"k":' || k || ',"n":'
                       || (10 + (doc_id + k) % 50) || '}' AS meta
            FROM s
        """,
        "webp_frames": """
            WITH d AS (
                SELECT doc_id,
                       4 + doc_id % 13 AS w,
                       3 + doc_id % 7 AS h,
                       2 + doc_id % 2 AS nf
                FROM documents
            ),
            fr AS (
                SELECT d.doc_id, d.w, d.h, d.nf, f.f
                FROM d, LATERAL (SELECT unnest(range(0, d.nf)) AS f) f
            ),
            val AS (
                SELECT fr.doc_id, fr.w, fr.h, fr.nf, fr.f,
                       CASE
                           WHEN fr.f >= 2 AND (i // (fr.w * 3)) = 0
                               THEN (fr.doc_id * 3 + (((i // 3) % fr.w) * 3 + i % 3) * 17) % 256
                           WHEN fr.f >= 1 AND (i // (fr.w * 3)) = 2 AND ((i // 3) % fr.w) >= 2
                               THEN (fr.doc_id * 5 + ((((i // 3) % fr.w) - 2) * 3 + i % 3) * 11) % 256
                           ELSE (fr.doc_id * 7 + i * 13) % 256
                       END AS v
                FROM fr, LATERAL (SELECT unnest(range(0, fr.w * fr.h * 3)) AS i)
            )
            SELECT doc_id,
                   'webp' AS fmt,
                   CAST(f AS BIGINT) AS frame_idx,
                   CAST(nf AS BIGINT) AS n_frames_total,
                   CAST(w AS BIGINT) AS width,
                   CAST(h AS BIGINT) AS height,
                   round((CAST(sum(v) AS DOUBLE) + 255.0 * w * h) / (4 * w * h), 6) AS mean_pixel
            FROM val
            GROUP BY doc_id, w, h, nf, f
        """,
        "webp_decode": """
            WITH d AS (
                SELECT doc_id,
                       4 + doc_id % 13 AS w,
                       3 + doc_id % 7 AS h,
                       3 + doc_id % 2 AS ch,
                       doc_id % 3 AS arm
                FROM documents
            ),
            px AS (
                SELECT d.doc_id, d.w, d.h, d.ch,
                       CASE d.arm
                           WHEN 0 THEN (d.doc_id * 7 + i * 13) % 256
                           WHEN 1 THEN 200 * ((d.doc_id + i) % 2)
                           ELSE d.doc_id % 256
                       END AS p
                FROM d, LATERAL (SELECT unnest(range(0, d.w * d.h * d.ch)) AS i)
            )
            SELECT doc_id,
                   'webp' AS fmt,
                   CAST(w AS BIGINT) AS width,
                   CAST(h AS BIGINT) AS height,
                   CAST(255 AS BIGINT) AS maxval,
                   CAST(ch AS BIGINT) AS n_channels,
                   CAST(w * h * ch AS BIGINT) AS n_pixel_bytes,
                   round(CAST(sum(p) AS DOUBLE) / count(*), 6) AS mean_pixel
            FROM px
            GROUP BY doc_id, w, h, ch
        """,
        "png_decode": """
            WITH d AS (
                SELECT doc_id,
                       4 + doc_id % 13 AS w,
                       3 + doc_id % 7 AS h
                FROM documents
            ),
            px AS (
                SELECT d.doc_id, d.w, d.h,
                       (d.doc_id * 7 + i * 13) % 256 AS p
                FROM d, LATERAL (SELECT unnest(range(0, d.w * d.h * 3)) AS i)
            )
            SELECT doc_id,
                   'png' AS fmt,
                   CAST(w AS BIGINT) AS width,
                   CAST(h AS BIGINT) AS height,
                   CAST(255 AS BIGINT) AS maxval,
                   CAST(3 AS BIGINT) AS n_channels,
                   CAST(w * h * 3 AS BIGINT) AS n_pixel_bytes,
                   round(CAST(sum(p) AS DOUBLE) / count(*), 6) AS mean_pixel
            FROM px
            GROUP BY doc_id, w, h
        """,
        "wav_decode": """
            WITH d AS (
                SELECT doc_id,
                       1 + doc_id % 2 AS nch,
                       50 + doc_id % 100 AS nfr
                FROM documents
            ),
            s AS (
                SELECT d.doc_id, d.nch, d.nfr,
                       ((d.doc_id * 31 + i * 17) % 4096) - 2048 AS smp
                FROM d, LATERAL (SELECT unnest(range(0, d.nfr * d.nch)) AS i)
            )
            SELECT doc_id,
                   CAST(8000 AS BIGINT) AS sample_rate,
                   CAST(nch AS BIGINT) AS n_channels,
                   CAST(16 AS BIGINT) AS bits_per_sample,
                   CAST(nfr AS BIGINT) AS n_frames,
                   round(CAST(nfr AS DOUBLE) / 8000, 6) AS duration_sec,
                   round(sqrt(CAST(sum(smp * smp) AS DOUBLE) / count(*)), 6) AS rms
            FROM s
            GROUP BY doc_id, nch, nfr
        """,
        "corpus_diff": """
            WITH old AS (
                SELECT doc_id,
                       md5(concat_ws(chr(31), coalesce(text, ''),
                                     coalesce(lang, ''))) AS fp
                FROM documents
            ),
            new AS (
                SELECT doc_id,
                       md5(concat_ws(chr(31),
                           coalesce(CASE WHEN doc_id % 17 = 2
                                         THEN text || ' v2'
                                         ELSE text END, ''),
                           coalesce(lang, ''))) AS fp
                FROM documents WHERE doc_id % 13 <> 3
                UNION ALL
                SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents)
                           AS doc_id,
                       md5(concat_ws(chr(31), coalesce(text, ''),
                                     coalesce(lang, ''))) AS fp
                FROM documents WHERE doc_id % 19 = 1
            )
            SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.fp IS NULL THEN 'added'
                        WHEN n.fp IS NULL THEN 'removed'
                        WHEN o.fp <> n.fp THEN 'changed'
                        ELSE 'unchanged' END AS status,
                   o.fp AS old_fp, n.fp AS new_fp
            FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
        """,
        "semantic_decontam": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
            bench AS (SELECT * FROM e WHERE vec_id % 10 = 7),
            corp AS (SELECT * FROM e WHERE vec_id % 10 <> 7),
            losers AS (
                SELECT DISTINCT c.vec_id
                FROM corp c JOIN bench b ON c.label = b.label
                WHERE round(CASE WHEN sqrt(list_dot_product(c.v, c.v))
                                      * sqrt(list_dot_product(b.v, b.v)) > 0
                                 THEN list_dot_product(c.v, b.v)
                                      / (sqrt(list_dot_product(c.v, c.v))
                                         * sqrt(list_dot_product(b.v, b.v)))
                            END, 6) >= 0.35
            )
            SELECT vec_id, label FROM corp
            WHERE vec_id NOT IN (SELECT vec_id FROM losers)
        """,
        "image_neardup": """
            WITH d AS (
                SELECT doc_id,
                       4 + doc_id % 13 AS w,
                       3 + doc_id % 7 AS h
                FROM documents
            ),
            px AS (
                SELECT d.doc_id, d.w, d.h,
                       ((d.doc_id * 7 + i * 13) % 256) // 32 AS b
                FROM d, LATERAL (SELECT unnest(range(0, d.w * d.h * 3)) AS i)
            ),
            vec AS (
                SELECT doc_id, w, h,
                       list_transform(range(0, 8), bb ->
                           CAST(len(list_filter(bs, x -> x = bb)) AS DOUBLE)
                           / len(bs)) AS v
                FROM (SELECT doc_id, w, h, list(b) AS bs
                      FROM px GROUP BY doc_id, w, h)
            ),
            pairs AS (
                SELECT l.doc_id, l.w, l.h, r.doc_id AS neighbor_id,
                       round(CASE WHEN sqrt(list_dot_product(l.v, l.v))
                                       * sqrt(list_dot_product(r.v, r.v)) > 0
                                  THEN list_dot_product(l.v, r.v)
                                       / (sqrt(list_dot_product(l.v, l.v))
                                          * sqrt(list_dot_product(r.v, r.v)))
                             END, 6) AS sim
                FROM vec l JOIN vec r
                  ON l.w = r.w AND l.h = r.h AND l.doc_id <> r.doc_id
            )
            SELECT doc_id, CAST(w AS BIGINT) AS width,
                   CAST(h AS BIGINT) AS height, neighbor_id, sim
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY sim DESC, neighbor_id
                ) AS rn
                FROM pairs
            ) WHERE rn = 1
        """,
        "frame_sample": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   CAST(i AS BIGINT) AS frame_idx,
                   CAST(i * 64 AS BIGINT) AS byte_offset
            FROM documents,
                 LATERAL (SELECT unnest(range(0, CAST(ceil(greatest(octet_length(encode(text)), 1) / 64.0) AS BIGINT))) AS i)
        """,
        "events_gapfill": """
            WITH ev AS (
                SELECT event_type, epoch_us(ts) AS ts_us, value FROM events
            ),
            hourly AS (
                SELECT event_type,
                       ts_us - (ts_us % 3600000000) AS bucket_us,
                       COUNT(*) AS n,
                       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                           / COUNT(*) AS mean_value
                FROM ev GROUP BY 1, 2
            ),
            span AS (
                SELECT MIN(ts_us) - (MIN(ts_us) % 3600000000) AS lo,
                       MAX(ts_us) - (MAX(ts_us) % 3600000000) AS hi
                FROM ev
            ),
            grid AS (
                SELECT et.event_type,
                       unnest(generate_series(s.lo, s.hi, 3600000000)) AS bucket_us
                FROM (SELECT DISTINCT event_type FROM ev) et CROSS JOIN span s
            )
            SELECT g.event_type, g.bucket_us,
                   COALESCE(h.n, 0) AS n,
                   LAST_VALUE(h.mean_value IGNORE NULLS) OVER (
                       PARTITION BY g.event_type ORDER BY g.bucket_us
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS filled_mean
            FROM grid g
            LEFT JOIN hourly h ON g.event_type = h.event_type AND g.bucket_us = h.bucket_us
        """,
        "doc_chunks": r"""
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(
                                regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
                       END AS toks
                FROM documents
            ),
            c AS (
                SELECT doc_id, toks,
                       CASE WHEN len(toks) = 0 THEN 0
                            ELSE 1 + CAST(ceil(greatest(len(toks) - 32, 0) / 24.0) AS BIGINT)
                       END AS n_chunks
                FROM t
            )
            SELECT doc_id,
                   CAST(i AS BIGINT) AS chunk_idx,
                   array_to_string(toks[i * 24 + 1 : i * 24 + 32], ' ') AS chunk_text,
                   CAST(len(toks[i * 24 + 1 : i * 24 + 32]) AS BIGINT) AS n_chunk_tokens
            FROM c, LATERAL (SELECT unnest(range(0, n_chunks)) AS i)
        """,
        "events_daily_delta": """
            WITH daily AS (
                SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
                FROM events GROUP BY 1, 2
            )
            SELECT event_type, day, n,
                   lag(n) OVER w AS prev_n,
                   n - lag(n) OVER w AS delta,
                   round(CAST(n - lag(n) OVER w AS DOUBLE) / lag(n) OVER w * 100.0, 6)
                       AS pct_change
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day)
        """,
        "nearest_centroid": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       CAST(label AS BIGINT) AS true_label
                FROM embeddings
            ),
            cent AS (
                SELECT label,
                       CAST(ord - 1 AS BIGINT) AS pos,
                       SUM(CAST(trunc(CAST(val AS DOUBLE) * 1e8) AS BIGINT))
                           / COUNT(*) / 1e8 AS c
                FROM (
                    SELECT CAST(label AS BIGINT) AS label,
                           unnest(embedding) AS val,
                           unnest(range(1, len(embedding) + 1)) AS ord
                    FROM embeddings
                )
                GROUP BY label, ord
            ),
            cvecs AS (
                SELECT label, list(c ORDER BY pos) AS cvec FROM cent GROUP BY label
            ),
            scored AS (
                SELECT e.vec_id, e.true_label,
                       c.label AS assigned_label,
                       round(list_dot_product(e.v, c.cvec)
                             / (sqrt(list_dot_product(e.v, e.v))
                                * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS sim
                FROM e CROSS JOIN cvecs c
            )
            SELECT vec_id, true_label, assigned_label, sim,
                   true_label = assigned_label AS is_correct
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY sim DESC, assigned_label
                ) AS rn
                FROM scored
            ) WHERE rn = 1
        """,
        "neardup_components": """
            WITH RECURSIVE e0 AS (
                SELECT l.vec_id AS a, r.vec_id AS b
                FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings) l
                JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings) r
                  ON l.vec_id < r.vec_id AND l.label = r.label
                WHERE round(CASE WHEN sqrt(list_dot_product(l.v, l.v))
                                      * sqrt(list_dot_product(r.v, r.v)) > 0
                                 THEN list_dot_product(l.v, r.v)
                                      / (sqrt(list_dot_product(l.v, l.v))
                                         * sqrt(list_dot_product(r.v, r.v)))
                            END, 6) >= 0.3
            ),
            edges AS (
                SELECT a, b FROM e0 UNION SELECT b, a FROM e0
            ),
            reach(node, comp) AS (
                SELECT a AS node, a AS comp FROM edges
                UNION
                SELECT e.a, r.comp FROM edges e JOIN reach r ON e.b = r.node
            ),
            comp AS (
                SELECT node, MIN(comp) AS component FROM reach GROUP BY node
            )
            SELECT node, component,
                   COUNT(*) OVER (PARTITION BY component) AS comp_size
            FROM comp
        """,
        "chunk_packing": r"""
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(
                                regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
                       END AS toks
                FROM documents
            ),
            c AS (
                SELECT doc_id, toks,
                       CASE WHEN len(toks) = 0 THEN 0
                            ELSE 1 + CAST(ceil(greatest(len(toks) - 32, 0) / 24.0) AS BIGINT)
                       END AS n_chunks
                FROM t
            ),
            chunks AS (
                SELECT doc_id,
                       CAST(i AS BIGINT) AS chunk_idx,
                       CAST(len(toks[i * 24 + 1 : i * 24 + 32]) AS BIGINT) AS n_chunk_tokens
                FROM c, LATERAL (SELECT unnest(range(0, n_chunks)) AS i)
            )
            SELECT doc_id, chunk_idx, n_chunk_tokens,
                   CAST(SUM(n_chunk_tokens) OVER w AS BIGINT) AS cum_tokens,
                   CAST(trunc((SUM(n_chunk_tokens) OVER w - n_chunk_tokens) / 128.0) AS BIGINT)
                       AS seq_id
            FROM chunks
            WINDOW w AS (PARTITION BY doc_id ORDER BY chunk_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "events_moving_avg": """
            SELECT event_id, event_type, epoch_us(ts) AS ts_us,
                   COUNT(*) OVER w AS n_2h,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS VARCHAR) AS DOUBLE)
                       / COUNT(*) OVER w AS avg_2h
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                         RANGE BETWEEN 7200000000 PRECEDING AND CURRENT ROW)
        """,
        "part_unpivot": """
            SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
            UNION ALL
            SELECT p_partkey, 'retailprice', p_retailprice FROM part
        """,
        "vocab_topk": r"""
            WITH toks AS (
                SELECT unnest(
                    CASE WHEN length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0
                         THEN CAST([] AS VARCHAR[])
                         ELSE regexp_split_to_array(
                             regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'),
                                            '\s+', ' ', 'g'), ' ')
                    END) AS token
                FROM documents
            ),
            counts AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token)
            SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank,
                   token, n
            FROM counts
            QUALIFY rank <= 50
        """,
        "bm25_search": r"""
            WITH toks AS (
                SELECT doc_id, unnest(
                    CASE WHEN length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0
                         THEN CAST([] AS VARCHAR[])
                         ELSE regexp_split_to_array(
                             regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'),
                                            '\s+', ' ', 'g'), ' ')
                    END) AS term
                FROM documents
            ),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
            dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
            stats AS (
                SELECT CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS n_docs,
                       CAST(SUM(dl.dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
                FROM dl
            ),
            dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
            qt AS (
                SELECT DISTINCT doc_id AS query_id, unnest(
                    list_slice(
                        CASE WHEN length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0
                             THEN CAST([] AS VARCHAR[])
                             ELSE regexp_split_to_array(
                                 regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'),
                                                '\s+', ' ', 'g'), ' ')
                        END, 1, 5)) AS term
                FROM documents WHERE doc_id < 5
            ),
            contrib AS (
                SELECT qt.query_id, tf.doc_id,
                       CAST(ROUND(
                           ln(CAST(1.0 AS DOUBLE)
                              + (stats.n_docs - dfreq.df + CAST(0.5 AS DOUBLE))
                                / (dfreq.df + CAST(0.5 AS DOUBLE)))
                           * (tf.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                           / (tf.tf + CAST(1.2 AS DOUBLE)
                              * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                                 + CAST(0.75 AS DOUBLE) * (dl.dl / stats.avgdl))),
                           9) AS DECIMAL(20,9)) AS c
                FROM tf
                JOIN qt ON qt.term = tf.term
                JOIN dfreq ON dfreq.term = tf.term
                JOIN dl ON dl.doc_id = tf.doc_id
                CROSS JOIN stats
            ),
            scored AS (
                SELECT query_id, doc_id,
                       ROUND(CAST(SUM(c) AS DOUBLE), 6) AS score
                FROM contrib GROUP BY query_id, doc_id
            )
            SELECT query_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
                   doc_id, score
            FROM scored
            QUALIFY rank <= 10
        """,
        "hybrid_search": r"""
            WITH toks AS (
                SELECT doc_id, unnest(
                    CASE WHEN length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0
                         THEN CAST([] AS VARCHAR[])
                         ELSE regexp_split_to_array(
                             regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'),
                                            '\s+', ' ', 'g'), ' ')
                    END) AS term
                FROM documents
            ),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
            dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
            stats AS (
                SELECT CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS n_docs,
                       CAST(SUM(dl.dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
                FROM dl
            ),
            dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
            qt AS (
                SELECT DISTINCT doc_id AS query_id, unnest(
                    list_slice(
                        CASE WHEN length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0
                             THEN CAST([] AS VARCHAR[])
                             ELSE regexp_split_to_array(
                                 regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'),
                                                '\s+', ' ', 'g'), ' ')
                        END, 1, 5)) AS term
                FROM documents WHERE doc_id < 5
            ),
            contrib AS (
                SELECT qt.query_id, tf.doc_id,
                       CAST(ROUND(
                           ln(CAST(1.0 AS DOUBLE)
                              + (stats.n_docs - dfreq.df + CAST(0.5 AS DOUBLE))
                                / (dfreq.df + CAST(0.5 AS DOUBLE)))
                           * (tf.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                           / (tf.tf + CAST(1.2 AS DOUBLE)
                              * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                                 + CAST(0.75 AS DOUBLE) * (dl.dl / stats.avgdl))),
                           9) AS DECIMAL(20,9)) AS c
                FROM tf
                JOIN qt ON qt.term = tf.term
                JOIN dfreq ON dfreq.term = tf.term
                JOIN dl ON dl.doc_id = tf.doc_id
                CROSS JOIN stats
            ),
            lex_scored AS (
                SELECT query_id, doc_id,
                       ROUND(CAST(SUM(c) AS DOUBLE), 6) AS score
                FROM contrib GROUP BY query_id, doc_id
            ),
            lex_rank AS (
                SELECT query_id, doc_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, doc_id) AS rank
                FROM lex_scored
                QUALIFY rank <= 20
            ),
            e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                WHERE vec_id IN (SELECT doc_id FROM documents)
            ),
            qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 5),
            sc AS (
                SELECT qv.query_id, e.vec_id AS doc_id,
                       round(CASE WHEN sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv.qv, qv.qv)) > 0
                                  THEN list_dot_product(e.v, qv.qv)
                                       / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv.qv, qv.qv)))
                             END, 6) AS sim
                FROM e CROSS JOIN qv
                WHERE e.vec_id <> qv.query_id
            ),
            vec_rank AS (
                SELECT query_id, doc_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY sim DESC, doc_id) AS rank
                FROM sc
                QUALIFY rank <= 20
            ),
            fused AS (
                SELECT query_id, doc_id,
                       CAST(ROUND(CAST(1.0 AS DOUBLE)
                                  / (CAST(60.0 AS DOUBLE) + rank), 9)
                            AS DECIMAL(20,9)) AS c
                FROM lex_rank
                UNION ALL
                SELECT query_id, doc_id,
                       CAST(ROUND(CAST(1.0 AS DOUBLE)
                                  / (CAST(60.0 AS DOUBLE) + rank), 9)
                            AS DECIMAL(20,9)) AS c
                FROM vec_rank
            ),
            fscored AS (
                SELECT query_id, doc_id,
                       ROUND(CAST(SUM(c) AS DOUBLE), 9) AS rrf_score
                FROM fused GROUP BY query_id, doc_id
            )
            SELECT query_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank,
                   doc_id, rrf_score
            FROM fscored
            QUALIFY rank <= 10
        """,
        "doc_tfidf_top3": r"""
            WITH terms AS (
                SELECT doc_id, unnest(
                    CASE WHEN length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0
                         THEN CAST([] AS VARCHAR[])
                         ELSE regexp_split_to_array(
                             regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'),
                                            '\s+', ' ', 'g'), ' ')
                    END) AS term
                FROM documents
            ),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
            dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
            n AS (SELECT COUNT(*) AS n_docs FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                       round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS tfidf
                FROM tf JOIN dfreq USING (term) CROSS JOIN n
            )
            SELECT doc_id,
                   CAST(row_number() OVER (PARTITION BY doc_id
                                           ORDER BY tfidf DESC, term) AS BIGINT) AS rank,
                   term, tf, df, tfidf
            FROM scored
            QUALIFY rank <= 3
        """,
        # -- late r11: md5-deterministic sketches (operators.sketch) —
        # approximate operators whose estimates are still cell-exact
        # cross-engine. The alpha literal is hll_alpha_m2(8) computed
        # once driver-side and embedded identically on both sides;
        # 562949953421312.0 = 2^49 (exact power-of-two scale).
        "hll_distinct": """
            WITH h AS (
                SELECT o_orderpriority,
                       CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2)) AS BIGINT) AS register,
                       CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 3, 12)) AS BIGINT) AS w
                FROM orders WHERE o_orderkey IS NOT NULL
            ),
            reg AS (
                SELECT o_orderpriority, register,
                       MAX(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END) AS max_rho
                FROM h GROUP BY o_orderpriority, register
            ),
            agg AS (
                SELECT o_orderpriority,
                       COUNT(*) AS n_registers,
                       SUM(CAST(1 AS BIGINT) << (49 - max_rho)) AS denom_scaled
                FROM reg GROUP BY o_orderpriority
            ),
            exact AS (
                SELECT o_orderpriority, COUNT(DISTINCT o_orderkey) AS exact_ndv
                FROM orders GROUP BY o_orderpriority
            )
            SELECT agg.o_orderpriority, n_registers,
                   CAST(denom_scaled AS BIGINT) AS denom_scaled,
                   round(47072.71267120224
                         / (CAST(denom_scaled AS DOUBLE) / 562949953421312.0
                            + CAST(256 - n_registers AS DOUBLE)), 4) AS hll_ndv,
                   exact_ndv
            FROM agg JOIN exact USING (o_orderpriority)
        """,
        "cms_heavy_hitters": r"""
            WITH toks AS (
                SELECT unnest(
                    CASE WHEN length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0
                         THEN CAST([] AS VARCHAR[])
                         ELSE regexp_split_to_array(
                             regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'),
                                            '\s+', ' ', 'g'), ' ')
                    END) AS token
                FROM documents
            ),
            counts AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
            expanded AS (SELECT token, n, unnest([0, 1, 2, 3]) AS row FROM counts),
            cells AS (
                SELECT row,
                       CAST(concat('0x', substr(md5(concat(CAST(row AS VARCHAR), ':', token)), 1, 8)) AS BIGINT) % 1024 AS bucket,
                       SUM(n) AS cnt
                FROM expanded GROUP BY row, bucket
            ),
            top AS (SELECT token, n FROM counts ORDER BY n DESC, token LIMIT 20),
            probes AS (
                SELECT t.token, u.row,
                       CAST(concat('0x', substr(md5(concat(CAST(u.row AS VARCHAR), ':', t.token)), 1, 8)) AS BIGINT) % 1024 AS bucket
                FROM top t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS row) u
            ),
            est AS (
                SELECT p.token, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_est
                FROM probes p LEFT JOIN cells c ON p.row = c.row AND p.bucket = c.bucket
                GROUP BY p.token
            )
            SELECT top.token, top.n, est.cms_est, est.cms_est - top.n AS overcount
            FROM top JOIN est USING (token)
        """,
        # late r11: the Morton key is generated from the SAME ZDim
        # spec as the Spark query (layout.zorder_expr, duckdb
        # dialect) — one definition, two dialects, zero drift.
        "zorder_locality": _zorder_locality_oracle(),
        "contrastive_pairs": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
            sc AS (
                SELECT q.query_id, e.vec_id,
                       round(CASE WHEN sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)) > 0
                                  THEN list_dot_product(e.v, q.qv)
                                       / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
                             END, 6) AS sim
                FROM e CROSS JOIN q
                WHERE e.vec_id <> q.query_id
            ),
            shortlist AS (
                SELECT query_id, vec_id, sim,
                       row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
                FROM sc QUALIFY rank <= 50
            ),
            labeled AS (
                SELECT query_id, vec_id, sim,
                       CASE WHEN sim >= 0.3 THEN 'positive'
                            WHEN sim >= 0.15 AND sim < 0.3 THEN 'hard_negative'
                       END AS role
                FROM shortlist
                WHERE sim >= 0.15
            )
            SELECT query_id, vec_id, sim, role,
                   CAST(role_rank AS BIGINT) AS role_rank
            FROM (
                SELECT query_id, vec_id, sim, role,
                       row_number() OVER (PARTITION BY query_id, role
                                          ORDER BY sim DESC, vec_id) AS role_rank
                FROM labeled
            )
            WHERE role_rank <= CASE WHEN role = 'positive' THEN 2 ELSE 4 END
        """,
        # late r11: release drift — per-column arithmetic over the
        # planted new release; integer-valued columns keep the double
        # sums exact (profile_drift's parity note).
        "profile_drift": """
            WITH b AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 7 = 0 THEN NULL
                            ELSE o_custkey END AS o_custkey
                FROM orders WHERE o_orderkey % 10 <> 0
            ),
            stats AS (
                SELECT 'o_orderkey' AS col,
                       (SELECT COUNT(*) FROM orders) AS n_old,
                       (SELECT COUNT(*) FROM b) AS n_new,
                       (SELECT SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) FROM orders) AS null_old,
                       (SELECT SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) FROM b) AS null_new,
                       (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS ndv_old,
                       (SELECT COUNT(DISTINCT o_orderkey) FROM b) AS ndv_new,
                       (SELECT SUM(CAST(o_orderkey AS DOUBLE)) FROM orders) AS sum_old,
                       (SELECT SUM(CAST(o_orderkey AS DOUBLE)) FROM b) AS sum_new
                UNION ALL
                SELECT 'o_custkey',
                       (SELECT COUNT(*) FROM orders),
                       (SELECT COUNT(*) FROM b),
                       (SELECT SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) FROM orders),
                       (SELECT SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) FROM b),
                       (SELECT COUNT(DISTINCT o_custkey) FROM orders),
                       (SELECT COUNT(DISTINCT o_custkey) FROM b),
                       (SELECT SUM(CAST(o_custkey AS DOUBLE)) FROM orders),
                       (SELECT SUM(CAST(o_custkey AS DOUBLE)) FROM b)
            )
            SELECT col AS "column",
                   CAST(n_old AS BIGINT) AS n_old,
                   CAST(n_new AS BIGINT) AS n_new,
                   round(CAST(null_old AS DOUBLE) / n_old, 6) AS null_frac_old,
                   round(CAST(null_new AS DOUBLE) / n_new, 6) AS null_frac_new,
                   round(CAST(null_new AS DOUBLE) / n_new
                         - CAST(null_old AS DOUBLE) / n_old, 6) AS null_frac_delta,
                   CAST(ndv_old AS BIGINT) AS ndv_old,
                   CAST(ndv_new AS BIGINT) AS ndv_new,
                   round(sum_old / (n_old - null_old), 6) AS mean_old,
                   round(sum_new / (n_new - null_new), 6) AS mean_new,
                   round(sum_new / (n_new - null_new)
                         - sum_old / (n_old - null_old), 6) AS mean_delta
            FROM stats
        """,
        # late r11: asymmetric containment — same shingle CTE as
        # jaccard_pairs, per-direction divisors instead of the union.
        "containment_pairs": r"""
            WITH s AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE list_distinct(regexp_split_to_array(
                                regexp_replace(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g'),
                                ' '))
                       END AS sh
                FROM documents
            )
            SELECT * FROM (
                SELECT doc_id_a, doc_id_b, containment_a, containment_b,
                       greatest(containment_a, containment_b) AS containment
                FROM (
                    SELECT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b,
                           CASE WHEN len(l.sh) = 0 THEN 0.0
                                ELSE round(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
                                           / len(l.sh), 6) END AS containment_a,
                           CASE WHEN len(r.sh) = 0 THEN 0.0
                                ELSE round(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
                                           / len(r.sh), 6) END AS containment_b
                    FROM s l JOIN s r
                      ON l.doc_id < r.doc_id AND r.doc_id <= l.doc_id + 25
                )
            ) WHERE containment >= 0.4
        """,
        # late r11: chat transcript prep — the oracle replays the
        # PLANTED construction (variant arithmetic over substr
        # lengths), never Spark's from_json, so a parse bug on the
        # Spark side cannot hash-match.
        "chat_turns": """
            WITH d AS (
                SELECT doc_id,
                       length(substr(text, 1, 30)) AS l1,
                       length(substr(text, 31, 40)) AS l2,
                       length(substr(text, 71, 20)) AS l3,
                       length(substr(text, 91, 25)) AS l4,
                       doc_id % 5 AS v
                FROM documents
            )
            SELECT doc_id AS conv_id, CAST(idx AS BIGINT) AS turn_idx,
                   role, CAST(len AS BIGINT) AS content_len
            FROM (
                SELECT doc_id, 0 AS idx, 'user' AS role, l1 AS len FROM d WHERE v < 4
                UNION ALL SELECT doc_id, 1, 'assistant', l2 FROM d WHERE v IN (0, 1, 3)
                UNION ALL SELECT doc_id, 1, 'user', l3 FROM d WHERE v = 2
                UNION ALL SELECT doc_id, 2, 'user', l3 FROM d WHERE v IN (0, 3)
                UNION ALL SELECT doc_id, 2, 'assistant', l2 FROM d WHERE v = 2
                UNION ALL SELECT doc_id, 3, 'assistant', l4 FROM d WHERE v = 0
                UNION ALL SELECT doc_id, CAST(NULL AS INTEGER),
                                 CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER)
                           FROM d WHERE v = 4
            )
        """,
        "chat_stats": """
            WITH d AS (
                SELECT doc_id,
                       length(substr(text, 1, 30)) AS l1,
                       length(substr(text, 31, 40)) AS l2,
                       length(substr(text, 71, 20)) AS l3,
                       length(substr(text, 91, 25)) AS l4,
                       doc_id % 5 AS v
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                       v <> 4 AS parse_ok,
                       CASE v WHEN 0 THEN 4 WHEN 1 THEN 2 WHEN 2 THEN 3
                              WHEN 3 THEN 3 ELSE 0 END AS n_turns,
                       CASE v WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 2
                              WHEN 3 THEN 2 ELSE 0 END AS n_user,
                       CASE v WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 1
                              WHEN 3 THEN 1 ELSE 0 END AS n_assistant,
                       CAST(0 AS BIGINT) AS n_system,
                       v IN (0, 1, 3) AS alternation_ok,
                       v <> 4 AS starts_user,
                       v IN (0, 1, 2) AS ends_assistant,
                       CASE v WHEN 0 THEN l1 + l2 + l3 + l4
                              WHEN 1 THEN l1 + l2
                              WHEN 2 THEN l1 + l3 + l2
                              WHEN 3 THEN l1 + l2 + l3
                              ELSE 0 END AS total_chars,
                       CASE v WHEN 0 THEN l2 + l4 WHEN 4 THEN 0
                              ELSE l2 END AS trainable_chars,
                       v IN (0, 1) AS wellformed
                FROM d
            )
            SELECT doc_id AS conv_id, parse_ok,
                   CAST(n_turns AS BIGINT) AS n_turns,
                   CAST(n_user AS BIGINT) AS n_user,
                   CAST(n_assistant AS BIGINT) AS n_assistant,
                   n_system, alternation_ok, starts_user, ends_assistant,
                   CAST(total_chars AS BIGINT) AS total_chars,
                   CAST(trainable_chars AS BIGINT) AS trainable_chars,
                   CASE WHEN total_chars > 0
                        THEN round(CAST(trainable_chars AS DOUBLE)
                                   / CAST(total_chars AS DOUBLE), 6)
                        ELSE 0.0 END AS trainable_ratio,
                   wellformed
            FROM s
        """,
        # minhash_pairs / minhash_dedup_ids / simhash_pairs / lsh_topk:
        # intentionally omitted — they depend on Spark-native xxhash64 /
        # hash seeds that DuckDB cannot reproduce; the driver records a
        # rows-only check for these (documented in SURVEY.md §7).
    }
