"""Inactivity-timeout sessionization: the session-closing batch
contains NO rows for the session's key — emission must come from the
event-time timeout, not key activity. Micro-batches are fed one
parquet file at a time so watermark movement is deterministic."""

from __future__ import annotations

from datetime import datetime

import pytest

from flycatcher_spark.streaming import timeout_sessions


def _write_batch(spark, d, rows):
    spark.createDataFrame(rows, "user string, ts timestamp, v double").coalesce(
        1
    ).write.mode("append").parquet(d)


def _ts(s):
    return datetime.fromisoformat(s)


@pytest.fixture()
def src_dir(tmp_path):
    return str(tmp_path / "src")


def test_session_emitted_only_after_inactivity(spark, src_dir, tmp_path):
    # batch 1: user a active 10:00:00-10:00:10
    _write_batch(
        spark,
        src_dir,
        [
            ("a", _ts("2024-01-01 10:00:00"), 1.0),
            ("a", _ts("2024-01-01 10:00:10"), 2.0),
        ],
    )
    sdf = spark.readStream.schema("user string, ts timestamp, v double").parquet(
        src_dir
    )
    out = timeout_sessions(
        sdf,
        key_cols=["user"],
        ts_col="ts",
        value_col="v",
        gap_seconds=60,
        watermark_delay="5 seconds",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("tws_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM tws_sessions").count() == 0

        # batch 2: only user b, far in the future -> watermark jumps
        # past a's deadline (10:01:10); a's timeout fires with no rows
        # for a in the batch
        _write_batch(spark, src_dir, [("b", _ts("2024-01-01 10:10:00"), 5.0)])
        q.processAllAvailable()
        # one more batch so the watermark commit from batch 2
        # propagates the timeout output to the sink
        _write_batch(spark, src_dir, [("b", _ts("2024-01-01 10:10:01"), 1.0)])
        q.processAllAvailable()

        rows = spark.sql(
            "SELECT * FROM tws_sessions ORDER BY user, session_start_ms"
        ).collect()
        assert [r.user for r in rows] == ["a"]
        a = rows[0]
        assert a.session_start_ms == int(_ts("2024-01-01 10:00:00").timestamp() * 1000)
        assert a.session_end_ms == int(_ts("2024-01-01 10:00:10").timestamp() * 1000)
        assert a.n_events == 2 and a.total_value == 3.0
    finally:
        q.stop()


def test_activity_extends_session(spark, src_dir, tmp_path):
    _write_batch(spark, src_dir, [("a", _ts("2024-01-01 10:00:00"), 1.0)])
    sdf = spark.readStream.schema("user string, ts timestamp, v double").parquet(
        src_dir
    )
    out = timeout_sessions(
        sdf, ["user"], "ts", "v", gap_seconds=60, watermark_delay="0 seconds"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("tws_extend")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        # activity at 10:00:50 extends the deadline to 10:01:50
        _write_batch(spark, src_dir, [("a", _ts("2024-01-01 10:00:50"), 2.0)])
        q.processAllAvailable()
        # watermark to 10:01:10 (> original deadline, < extended): no emit
        _write_batch(spark, src_dir, [("b", _ts("2024-01-01 10:01:10"), 0.0)])
        q.processAllAvailable()
        assert (
            spark.sql("SELECT * FROM tws_extend WHERE user = 'a'").count() == 0
        )
        # watermark far past both deadlines: a closes (merged session)
        _write_batch(spark, src_dir, [("b", _ts("2024-01-01 10:30:00"), 0.0)])
        q.processAllAvailable()
        _write_batch(spark, src_dir, [("b", _ts("2024-01-01 10:30:01"), 0.0)])
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM tws_extend WHERE user = 'a'").collect()
        assert len(rows) == 1
        assert rows[0].n_events == 2 and rows[0].total_value == 3.0
        assert rows[0].session_end_ms == int(
            _ts("2024-01-01 10:00:50").timestamp() * 1000
        )
    finally:
        q.stop()


def test_in_batch_void_bridged_by_late_event(spark, src_dir, tmp_path):
    """A batch may close a segment internally (void > gap) while the
    watermark still admits an out-of-order event that bridges the
    void. The operator must NOT emit the early segment until the
    watermark seals it — otherwise one true session is split in two.

    gap=300s, delay=10s. Batch 1: a@10:00:00 and a@10:05:05 (void of
    305s > gap). Batch 2: a@10:04:58 — admissible (watermark is only
    10:04:55) and bridges both segments into ONE session.
    """
    _write_batch(
        spark,
        src_dir,
        [
            ("a", _ts("2024-01-01 10:00:00"), 1.0),
            ("a", _ts("2024-01-01 10:05:05"), 2.0),
        ],
    )
    sdf = spark.readStream.schema("user string, ts timestamp, v double").parquet(
        src_dir
    )
    out = timeout_sessions(
        sdf, ["user"], "ts", "v", gap_seconds=300, watermark_delay="10 seconds"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("tws_bridge")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_bridge"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM tws_bridge").count() == 0

        # bridging out-of-order event, still above the watermark
        _write_batch(spark, src_dir, [("a", _ts("2024-01-01 10:04:58"), 4.0)])
        q.processAllAvailable()

        # flush: far-future rows push the watermark past the deadline
        _write_batch(spark, src_dir, [("b", _ts("2024-01-01 11:00:00"), 0.0)])
        q.processAllAvailable()
        _write_batch(spark, src_dir, [("b", _ts("2024-01-01 11:00:01"), 0.0)])
        q.processAllAvailable()

        rows = spark.sql(
            "SELECT * FROM tws_bridge WHERE user = 'a'"
        ).collect()
        assert len(rows) == 1, [tuple(r) for r in rows]
        s = rows[0]
        assert s.session_start_ms == int(_ts("2024-01-01 10:00:00").timestamp() * 1000)
        assert s.session_end_ms == int(_ts("2024-01-01 10:05:05").timestamp() * 1000)
        assert s.n_events == 3 and s.total_value == 7.0
    finally:
        q.stop()
