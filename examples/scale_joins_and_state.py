"""Scale-pattern showcase: temporal joins without nested loops, and
cross-batch streaming state.

Three patterns a naive port gets wrong at cluster scale:
1. point-in-interval range join — bucketized to a shuffled equi-join
   (a bare non-equi predicate plans as a single-task nested loop);
2. as-of join — union + window instead of a per-row subquery;
3. stateful streaming — running aggregates that survive micro-batch
   boundaries via the state store.

Run: python examples/scale_joins_and_state.py
"""

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from flycatcher_spark.operators import asof, range_join
from flycatcher_spark.session import get_spark
from flycatcher_spark.streaming import running_counts

DATA = "/root/testdata/sf0.01"
HOUR_US = 3600 * 1_000_000


def read_events(spark):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = spark.read.parquet(f"{DATA}/events.parquet")
    if raw.schema["ts"].dataType.simpleString() == "bigint":
        return raw.withColumn("ts_us", F.expr("ts DIV 1000"))
    return raw.withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))


def main() -> None:
    spark = get_spark(app_name="scale_joins_and_state", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    ev = read_events(spark)

    # 1. Range join: events inside the first 6 hours of each day.
    windows = (
        ev.select(F.expr("ts_us - pmod(ts_us, 86400000000)").alias("w_start_us"))
        .distinct()
        .withColumn("w_end_us", F.col("w_start_us") + 6 * HOUR_US)
    )
    in_window = range_join.point_in_interval_join(
        ev.select("event_id", "ts_us", "event_type"),
        windows,
        point="ts_us", start="w_start_us", end="w_end_us",
        bucket_width=6 * HOUR_US, closed="left",
    )
    print("events in morning windows:", in_window.count())
    plan = in_window._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, (
        "range join fell back to a nested loop!"
    )

    # 2. As-of join: for each 'click', the most recent 'purchase' by
    # the same user at or before it.
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us").alias("click_us"), "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts_us").alias("purchase_us"),
        F.col("value").alias("purchase_value"),
    )
    enriched = asof.asof_join(
        clicks.withColumnRenamed("click_us", "ts_us"),
        purchases.withColumnRenamed("purchase_us", "ts_us"),
        on="user_id", ts_col="ts_us",
    )
    print("clicks with a prior purchase:",
          enriched.filter(F.col("purchase_value_right").isNotNull()).count())

    # 3. Stateful streaming: per-type running event counts that
    # accumulate across micro-batches (state-store backed).
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/stream"
        ev.select("event_type", "value").limit(2000).write.parquet(src)
        sdf = spark.readStream.schema("event_type string, value double").parquet(src)
        q = (
            running_counts(sdf, ["event_type"], "value")
            .writeStream.format("memory").queryName("running")
            .outputMode("update").start()
        )
        q.processAllAvailable()
        spark.sql("SELECT * FROM running ORDER BY n DESC").show(5, truncate=False)
        q.stop()

    spark.stop()


if __name__ == "__main__":
    main()
