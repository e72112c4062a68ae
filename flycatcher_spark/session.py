"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same configuration expresses the
knobs that matter on a real cluster: AQE (runtime re-planning +
skew-join handling), Arrow for the pandas-UDF paths, and a UTC
session timezone so timestamp semantics are stable across
driver/executor environments (SURVEY.md §7.4 item 7).

Generated-code cache
--------------------
Spark keeps each class it generates and compiles (whole-stage
pipelines, projections, predicates, orderings) in an LRU cache keyed
by the full generated source, ``spark.sql.codegen.cache.maxEntries``
entries long (default 100). The cache holds compiled operator code
only, never data or results, so its size cannot change an answer. It
does change what a repeated pipeline costs: one run of the curation
chain (dedup → MinHash → verify → split → gate → PQ → BM25 → RRF)
generates about 210–240 distinct classes and one bulk validation run
about 40. At 100 entries the chain evicts its own classes, so every
later run in the same session recompiles all of them with Janino
(~10–15 ms each) and the JIT compiles the new bytecode again. Measured
on 4 cores, that was ~210 compilations and ~6 of ~27 CPU-s per run. Sized
at :data:`CODEGEN_CACHE_ENTRIES` (1000: the chain plus validation
plus headroom), later runs compile almost nothing. One entry costs
about 7 KB of source key plus 2.7 KB of bytecode, so a full cache is
~10 MB of driver heap. The first run still compiles everything.

The size is a static conf, read when the JVM's code generator first
compiles. A session that already exists before :func:`get_spark`
runs (a ``getOrCreate`` hit on a session built elsewhere) keeps the
size it was built with, Spark's default of 100 unless its builder set
it.

Call-site capture
-----------------
PySpark's ``spark.python.sql.dataFrameDebugging.enabled`` (on by
default) makes every ``pyspark.sql.functions`` call and ``Column``
method walk the Python stack and send the caller's ``file:line`` to
the JVM, a dozen or more extra py4j commands per call.
:func:`get_spark` turns it off (:data:`DATAFRAME_DEBUGGING`); runtime
expression errors then lose only that ``file:line`` context line.
The conf is static, and PySpark reads it once per process at the
first wrapped call and keeps the answer, so a session built before
:func:`get_spark` keeps capture on. SCALE.md, "Call-site capture",
has the measured command counts and the trade-off.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Entries in Spark's generated-code class cache; see the module
#: docstring for how it is sized.
CODEGEN_CACHE_ENTRIES = 1000

#: PySpark's per-call Python stack capture, turned off by
#: :func:`get_spark`; see "Call-site capture" in the module docstring.
DATAFRAME_DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def get_spark(
    app_name: str = "flycatcher_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    default_parallelism: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    The session runs on ``$SPARK_GRAFT_CPUS`` local cores, else on
    every CPU this process may run on, and ``shuffle_partitions``
    defaults to that same count.

    ``default_parallelism`` caps ``spark.default.parallelism`` — the
    partition count of ``parallelize``/``createDataFrame``-from-local
    sources, NOT DataFrame shuffles (``shuffle_partitions``) and NOT
    the core count. Test/doctest sessions set it low (8): a 300-row
    local frame otherwise lands in 32 partitions on local[32] and
    every downstream stage pays 32 python-worker tasks of scheduler
    overhead — measured 0.7 s vs 3-5 s per tiny-join action, ~4x on
    the whole suite's per-action tax. Leave unset for real inputs
    (parquet scans ignore it) and for the bench, whose widening
    guards read ``sparkContext.defaultParallelism``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # no per-call Python stack capture: see "Call-site capture"
        .config(DATAFRAME_DEBUGGING, "false")
    )
    if default_parallelism is not None:
        builder = builder.config(
            "spark.default.parallelism", str(default_parallelism)
        )
    return builder.getOrCreate()
