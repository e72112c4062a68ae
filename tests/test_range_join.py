"""Range-join operator: bucketized plans must match naive non-equi
joins exactly, and must not plan a BroadcastNestedLoopJoin."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from flycatcher_spark.operators import range_join


@pytest.fixture(scope="module")
def points(spark):
    rows = [(i, (i * 37) % 1000, i % 5) for i in range(300)]
    return spark.createDataFrame(rows, "pid long, p long, k long")


@pytest.fixture(scope="module")
def intervals(spark):
    rows = [
        (j, (j * 83) % 900, (j * 83) % 900 + (j % 7) * 25, j % 5) for j in range(60)
    ]
    return spark.createDataFrame(rows, "iid long, s long, e long, k long")


def _naive(points, intervals, closed="both"):
    # coalesce(1): the reference crossJoin of two 32-partition frames
    # plans 32x32 = 1024 cartesian tasks for 18k rows — ~15 s of pure
    # scheduler overhead PER TEST on local[32] (measured; the rows are
    # identical either way). One partition a side = one task.
    points = points.coalesce(1)
    intervals = intervals.coalesce(1)
    joined = points.crossJoin(intervals.withColumnRenamed("k", "ik"))
    s, p, e = F.col("s"), F.col("p"), F.col("e")
    lo = s <= p if closed in ("both", "left") else s < p
    hi = p <= e if closed in ("both", "right") else p < e
    return joined.filter(lo & hi)


def _key_set(df, cols=("pid", "iid")):
    return {tuple(r) for r in df.select(*cols).collect()}


@pytest.mark.parametrize("closed", ["both", "left", "right", "none"])
@pytest.mark.parametrize("width", [10, 50, 300])
def test_point_in_interval_matches_naive(spark, points, intervals, closed, width):
    got = range_join.point_in_interval_join(
        points, intervals.withColumnRenamed("k", "ik"), "p", "s", "e",
        bucket_width=width, closed=closed,
    )
    want = _naive(points, intervals, closed=closed)
    assert _key_set(got) == _key_set(want)


def test_point_in_interval_with_equi_key(spark, points, intervals):
    got = range_join.point_in_interval_join(
        points, intervals, "p", "s", "e", bucket_width=40, equi=["k"]
    )
    naive = points.coalesce(1).crossJoin(
        intervals.select(
            F.col("iid"), F.col("s"), F.col("e"), F.col("k").alias("ik")
        ).coalesce(1)
    ).filter(
        (F.col("s") <= F.col("p"))
        & (F.col("p") <= F.col("e"))
        & (F.col("k") == F.col("ik"))
    )
    assert _key_set(got) == _key_set(naive)
    # equi column survives exactly once
    assert got.columns.count("k") == 1


def test_left_join_keeps_unmatched_points(spark, points, intervals):
    got = range_join.point_in_interval_join(
        points, intervals.withColumnRenamed("k", "ik").filter(F.col("iid") < 5),
        "p", "s", "e", bucket_width=40, how="left",
    )
    matched = {
        r[0] for r in got.filter(F.col("iid").isNotNull()).select("pid").collect()
    }
    all_pids = {r[0] for r in got.select("pid").collect()}
    assert all_pids == {r[0] for r in points.select("pid").collect()}
    naive = _naive(points, intervals.filter(F.col("iid") < 5))
    assert matched == {r[0] for r in naive.select("pid").distinct().collect()}


def test_no_nested_loop_join_in_plan(spark, points, intervals):
    got = range_join.point_in_interval_join(
        points, intervals.withColumnRenamed("k", "ik"), "p", "s", "e", bucket_width=40
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_overlap_matches_naive(spark, intervals):
    left = intervals.select(
        F.col("iid").alias("lid"), F.col("s").alias("ls"), F.col("e").alias("le")
    )
    right = intervals.select(
        F.col("iid").alias("rid"),
        (F.col("s") + 13).alias("rs"),
        (F.col("e") + 13).alias("re"),
    )
    got = range_join.interval_overlap_join(
        left, right, "ls", "le", "rs", "re", bucket_width=30
    )
    naive = left.coalesce(1).crossJoin(right.coalesce(1)).filter(
        (F.col("ls") <= F.col("re")) & (F.col("rs") <= F.col("le"))
    )
    assert _key_set(got, ("lid", "rid")) == _key_set(naive, ("lid", "rid"))
    # no duplicate pairs from multi-bucket overlap
    assert got.count() == got.select("lid", "rid").distinct().count()


def test_rejects_bad_args(spark, points, intervals):
    with pytest.raises(ValueError, match="bucket_width"):
        range_join.point_in_interval_join(points, intervals, "p", "s", "e", 0)
    with pytest.raises(ValueError, match="closed"):
        range_join.point_in_interval_join(
            points, intervals, "p", "s", "e", 10, closed="open"
        )
    with pytest.raises(ValueError, match="ambiguous"):
        range_join.point_in_interval_join(
            points.withColumnRenamed("pid", "s"), intervals, "p", "s", "e", 10
        )


def test_negative_coordinates_bucket_correctly(spark):
    # Spark's DIV truncates toward zero; floor-div bucketing must
    # still match the naive join when coordinates span zero.
    pts = spark.createDataFrame(
        [(i, v) for i, v in enumerate(range(-100, 101, 7))], "pid long, p long"
    )
    ivs = spark.createDataFrame(
        [(j, s, s + 15) for j, s in enumerate(range(-95, 90, 23))],
        "iid long, s long, e long",
    )
    got = range_join.point_in_interval_join(pts, ivs, "p", "s", "e", bucket_width=16)
    naive = pts.coalesce(1).crossJoin(ivs.coalesce(1)).filter(
        (F.col("s") <= F.col("p")) & (F.col("p") <= F.col("e"))
    )
    assert _key_set(got) == _key_set(naive)
