"""Structured Streaming tests: file source → validator pipeline →
memory sink, with availableNow triggers so each test is bounded."""

from __future__ import annotations

import shutil
import uuid
from datetime import datetime
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from flycatcher_spark import Field, Schema, col, model_validator
from flycatcher_spark import streaming as fst


class EventSchema(Schema):
    event_id: int = Field(ge=0)
    user_id: int = Field(ge=0)
    event_type: str = Field(min_length=1)
    value: float = Field(ge=0.0)
    ts: datetime


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """A directory with one parquet file shaped like the events table
    (plus two invalid rows)."""
    d = tmp_path_factory.mktemp("stream_src")
    rows = [
        (0, 1, "click", 1.0, datetime(2024, 1, 1, 10, 0, 0)),
        (1, 1, "click", 2.0, datetime(2024, 1, 1, 10, 10, 0)),
        (2, 1, "view", 3.0, datetime(2024, 1, 1, 12, 0, 0)),   # new session
        (3, 2, "click", -5.0, datetime(2024, 1, 1, 10, 0, 0)),  # bad value
        (4, 2, "", 1.0, datetime(2024, 1, 1, 10, 5, 0)),        # bad type
        (5, 2, "purchase", 9.0, datetime(2024, 1, 1, 10, 6, 0)),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, value double, "
        "ts timestamp_ntz",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(d))
    return str(d)


def _run_to_memory(sdf, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


class TestStreamingValidate:
    def test_validate_stream_filters(self, spark, stream_dir):
        sdf = fst.read_stream(spark, stream_dir, EventSchema)
        assert sdf.isStreaming
        v = EventSchema.to_spark_validator()
        good = fst.validate_stream(v, sdf)
        name = f"t_{uuid.uuid4().hex[:8]}"
        _run_to_memory(good, name)
        got = spark.sql(f"SELECT event_id FROM {name}").collect()
        assert sorted(r["event_id"] for r in got) == [0, 1, 2, 5]

    def test_flag_violations_stream_routes(self, spark, stream_dir):
        sdf = fst.read_stream(spark, stream_dir, EventSchema)
        v = EventSchema.to_spark_validator()
        flagged = fst.flag_violations_stream(v, sdf)
        name = f"t_{uuid.uuid4().hex[:8]}"
        _run_to_memory(flagged, name)
        rows = spark.sql(
            f"SELECT event_id, _violations FROM {name}"
        ).collect()
        by_id = {r["event_id"]: r["_violations"] for r in rows}
        assert by_id[0] == []
        assert by_id[3] == ["value must be >= 0.0"]
        assert by_id[4] == ["event_type must have at least 1 characters"]

    def test_windowed_quality(self, spark, stream_dir):
        sdf = fst.read_stream(spark, stream_dir, EventSchema)
        v = EventSchema.to_spark_validator()
        wq = fst.windowed_quality(
            sdf, v, ts_col="ts", window="1 hour", watermark="4 hours",
            value_cols=["value"],
        )
        name = f"t_{uuid.uuid4().hex[:8]}"
        # complete mode: append would emit a window only once the
        # watermark passes its end, which never happens for the last
        # windows of a bounded availableNow run
        q = (
            wq.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql(f"SELECT * FROM {name}").collect()
        by_start = {r["window_start"]: r for r in rows}
        w10 = by_start[datetime(2024, 1, 1, 10, 0, 0)]
        assert w10["n_rows"] == 5
        assert w10["nulls_value"] == 0
        # constraint order: event_id>=0, user_id>=0, event_type len,
        # value>=0  → value violations in viol_3, type in viol_2
        assert w10["viol_3"] == 1 and w10["viol_2"] == 1

    def test_windowed_quality_counts_each_constraint(self, spark):
        """Bare validators share the message "Validation failed"; each
        window count must still be its own constraint's, as in the
        batch validator."""

        class TwoChecks(Schema):
            a: int
            b: int
            ts: datetime

            @model_validator
            def a_positive():
                return col("a") > 0

            @model_validator
            def b_positive():
                return col("b") > 0

        ts = datetime(2024, 1, 1, 10, 0, 0)
        df = spark.createDataFrame(
            [(1, -1, ts), (-1, 1, ts), (1, 1, ts)],
            "a long, b long, ts timestamp_ntz",
        )
        v = TwoChecks.to_spark_validator()
        (row,) = fst.windowed_quality(df, v, ts_col="ts").collect()
        assert (row["n_rows"], row["viol_0"], row["viol_1"]) == (3, 1, 1)
        v.validate(df, strict=False)
        assert [x["count"] for x in v.last_violations] == [1, 1]

    def test_session_windows_stream(self, spark, stream_dir):
        sdf = fst.read_stream(spark, stream_dir, EventSchema)
        sess = fst.session_windows(
            sdf, ts_col="ts", key_cols=["user_id"], gap="30 minutes"
        )
        name = f"t_{uuid.uuid4().hex[:8]}"
        q = (
            sess.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql(
            f"SELECT user_id, n_events FROM {name} ORDER BY user_id, n_events"
        ).collect()
        got = [(r["user_id"], r["n_events"]) for r in rows]
        # user 1: events at 10:00/10:10 (one session) + 12:00 (another);
        # user 2: three events within 10:00-10:06
        assert got == [(1, 1), (1, 2), (2, 3)]

    def test_session_windows_batch_parity(self, spark, stream_dir):
        """session_window works identically on the batch frame."""
        df = spark.read.parquet(stream_dir)
        sess = fst.session_windows(
            df, ts_col="ts", key_cols=["user_id"], gap="30 minutes"
        )
        got = sorted(
            (r["user_id"], r["n_events"]) for r in sess.collect()
        )
        assert got == [(1, 1), (1, 2), (2, 3)]
