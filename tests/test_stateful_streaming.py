"""Custom stateful operators (applyInPandasWithState): state must
accumulate ACROSS micro-batches, which availableNow single-batch
triggers can't prove — these tests feed batches one file at a time
through a long-lived query and assert between batches."""

from __future__ import annotations

import pytest

from flycatcher_spark.streaming import running_counts, running_dedup


def _write_batch(spark, d, rows):
    df = spark.createDataFrame(rows, "k string, v double")
    df.coalesce(1).write.mode("append").parquet(d)


def _start(sdf, name):
    return (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )


@pytest.fixture()
def src_dir(tmp_path):
    return str(tmp_path / "src")


def test_running_counts_accumulates_across_batches(spark, src_dir):
    _write_batch(spark, src_dir, [("a", 1.0), ("a", 2.0), ("b", 10.0)])
    sdf = spark.readStream.schema("k string, v double").parquet(src_dir)
    out = running_counts(sdf, ["k"], "v")
    q = _start(out, "rc_test")
    try:
        q.processAllAvailable()
        got = {
            r["k"]: (r["n"], r["total"])
            for r in spark.sql("SELECT * FROM rc_test").collect()
        }
        assert got["a"] == (2, 3.0)
        assert got["b"] == (1, 10.0)

        _write_batch(spark, src_dir, [("a", 4.0), ("c", 7.0)])
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM rc_test").collect()
        # update mode appends new emissions; take the LAST emission per key
        latest = {}
        for r in rows:
            latest[r["k"]] = (r["n"], r["total"])
        assert latest["a"] == (3, 7.0)   # state carried over: 2+1 rows, 3+4 total
        assert latest["b"] == (1, 10.0)
        assert latest["c"] == (1, 7.0)
    finally:
        q.stop()


def test_running_dedup_drops_keys_seen_in_earlier_batches(spark, src_dir):
    _write_batch(spark, src_dir, [("x", 1.0), ("x", 2.0), ("y", 3.0)])
    sdf = spark.readStream.schema("k string, v double").parquet(src_dir)
    out = running_dedup(sdf, ["k"])
    q = _start(out, "dd_test")
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM dd_test").collect()
        assert sorted(r["k"] for r in rows) == ["x", "y"]

        _write_batch(spark, src_dir, [("x", 9.0), ("z", 5.0)])
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM dd_test").collect()
        # x must NOT re-emit; z is new
        assert sorted(r["k"] for r in rows) == ["x", "y", "z"]
        vals = {r["k"]: r["v"] for r in rows}
        assert vals["x"] in (1.0, 2.0)  # first-seen batch, not the batch-2 row
    finally:
        q.stop()
