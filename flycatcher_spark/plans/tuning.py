"""Session-scoped optimizer tuning helpers.

Some Catalyst optimizations are controlled only by session
configuration, not by the plan — the pattern here is a context
manager that sets the relevant confs for the duration of an *action*
and restores them afterwards, so one aggressive query can't silently
change the planning of every query that follows it in the session.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

_UNSET = object()


@contextmanager
def session_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set Spark SQL confs, restoring previous values (or unsetting)
    on exit. Confs are read at *action* time, so wrap the action —
    wrapping only DataFrame construction has no effect."""
    old: dict[str, object] = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = _UNSET
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, prev in old.items():
            if prev is _UNSET:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, str(prev))


@contextmanager
def runtime_bloom_pruning(
    spark: SparkSession,
    application_side_scan_threshold: str = "0",
    creation_side_threshold: str = "256MB",
    disable_broadcast: bool = True,
) -> Iterator[None]:
    """Force Catalyst's runtime bloom-filter injection (SPARK-32268)
    for large×large joins with a selective build side.

    When a join's smaller side carries a selective filter, Spark can
    aggregate a bloom filter over its join keys and push a
    ``might_contain`` predicate onto the *other* side's scan — rows
    that cannot match are dropped before the shuffle, which at 100 TB
    means the probe side's exchange shrinks by the filter's
    selectivity. This is the engine-native replacement for
    hand-rolled semi-join pre-filters.

    The defaults exist for clusters (application side must scan
    >10 GB); local tests never reach them, so this context lowers the
    application-side threshold and (optionally) disables broadcast
    joins — injection only applies to shuffle joins, and at test
    scale every dimension fits under the broadcast threshold. On a
    real cluster you typically need only ``creation_side_threshold``
    raised (the filtered build side of a 100 TB join is often larger
    than the default 10 MB build budget).

    Verify with :func:`flycatcher_spark.plans.plan_report`: the
    executed plan gains ``bloom_filter_agg`` on the build side and a
    ``might_contain`` filter above the probe-side scan.
    """
    bloom = "spark.sql.optimizer.runtime.bloomFilter"
    confs = {
        f"{bloom}.enabled": "true",
        f"{bloom}.applicationSideScanSizeThreshold": application_side_scan_threshold,
        f"{bloom}.creationSideThreshold": creation_side_threshold,
    }
    if disable_broadcast:
        confs["spark.sql.autoBroadcastJoinThreshold"] = "-1"
    with session_confs(spark, confs):
        yield


def ensure_min_parallelism(
    df: "DataFrame",
    min_partitions: int | None = None,
    key: str | None = None,
) -> "DataFrame":
    """Guard CPU-heavy map stages against under-partitioned input.

    Spark sizes scan partitions by BYTES (``files.maxPartitionBytes``),
    which is right for IO-bound plans but wrong before expensive
    per-row compute: a corpus that fits one 128 MB split runs n-gram
    shingling / Arrow kernels in ONE task while every other core
    idles (observed 7.5x on the decontamination report at bench
    scale). At production scale (thousands of input files) the scan
    is already wide and this is a no-op.

    If the frame's current partition count is below ``min_partitions``
    (default: the session's ``defaultParallelism``), repartition up —
    hash-partitioned on ``key`` when given (deterministic layout),
    round-robin otherwise.

    The guard runs no job, so it only judges frames whose partition
    count is plan metadata. An adaptive (AQE) plan — any frame with a
    shuffle, broadcast or subquery under it, e.g. an aggregate — has
    no partition count until its stages run: AQE coalesces the
    post-shuffle partitions at run time. Reading it would run those
    stages in a job of their own, and the caller's action would then
    run them again. Such a frame is returned unchanged; its
    post-shuffle width is AQE's to choose.
    """
    spark = df.sparkSession
    target = int(min_partitions or spark.sparkContext.defaultParallelism)
    if df._jdf.queryExecution().executedPlan().nodeName() == "AdaptiveSparkPlan":
        return df
    # With AQE on (every get_spark session), a non-adaptive plan has no
    # exchange or subquery: its RDD is built lazily and the partition
    # count of its scans is read on the driver, without a job.
    if df.rdd.getNumPartitions() >= target:
        return df
    from pyspark.sql import functions as F

    return df.repartition(target, F.col(key)) if key else df.repartition(target)
