"""Streaming validation + monitoring operators.

Design notes for scale:

- ``validate_stream`` / ``flag_violations_stream`` reuse the
  validator's lazy pipeline (SparkValidator.validate_lazy /
  flag_violations are pure transformations — no counting jobs), so
  they run per micro-batch with zero extra state.
- ``windowed_quality`` is the streaming analogue of the batch
  violation counts: a watermarked tumbling-window aggregation whose
  state is bounded by the watermark delay. Counts sum the validator's
  checks, the rows ``flag_violations`` flags, as conditional
  aggregates (one pass, map-side partial aggregation per batch).
- ``session_windows`` uses Spark's native ``session_window`` —
  state-store-backed gap sessions with watermark-driven eviction, the
  idiomatic replacement for hand-rolled lag()-based sessionization
  (which needs an unbounded window and cannot stream).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import SparkSession

    from ..generators.spark import SparkValidator


def read_stream(
    spark: "SparkSession",
    path: str,
    schema_cls=None,
    fmt: str = "parquet",
    **options,
) -> DataFrame:
    """Open a file-source stream, enforcing the compiled schema on read.

    Passing the schema's ``StructType`` to the streaming reader is
    mandatory for file sources (no inference) and doubles as
    schema-on-read enforcement — a capability the reference cannot
    express (its validation is always post-hoc).
    """
    reader = spark.readStream.format(fmt)
    if schema_cls is not None:
        reader = reader.schema(schema_cls.to_spark_schema())
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def validate_stream(validator: "SparkValidator", sdf: DataFrame) -> DataFrame:
    """Streaming validate: keep rows passing all constraints.

    Pure transformation (``validate_lazy``) — applies per micro-batch
    with no state and no driver-side jobs.
    """
    return validator.validate_lazy(sdf)


def flag_violations_stream(validator: "SparkValidator", sdf: DataFrame) -> DataFrame:
    """Streaming CDC-style routing: annotate each row with its
    ``_violations`` array instead of filtering, so good rows and
    quarantine rows can fan out to different sinks from one stream."""
    return validator.flag_violations(sdf)


def windowed_quality(
    sdf: DataFrame,
    validator: "SparkValidator | None" = None,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked per-window data-quality metrics.

    Emits one row per tumbling window: row count, per-column null
    counts, and (when a validator is given) per-constraint violation
    counts — the streaming analogue of the batch validator's
    single-pass conditional aggregation. Late data beyond
    ``watermark`` is dropped and state is evicted, keeping memory
    bounded regardless of stream length.
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in value_cols or []:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nulls_{c}")
        )
    if validator is not None:
        # ts_col and value_cols survive coercion even if undeclared
        keep = [ts_col, *(value_cols or [])]
        sdf, checks = validator._checks(sdf, fill_nulls=False, keep=keep)
        # a constraint that cannot resolve has no check and counts 0
        viol = {k.id: F.sum(F.when(~k.passes, 1).otherwise(0)) for k in checks}
        zero = F.sum(F.lit(0))
        for i, c in enumerate(validator._constraints):
            aggs.append(viol.get(c.id, zero).alias(f"viol_{i}"))
    # Event-time semantics require TIMESTAMP; NTZ columns (the parquet
    # default here) are reinterpreted in the session timezone.
    sdf = sdf.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    out = (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(*aggs)
    )
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *[c for c in out.columns if c != "w"],
    )


def session_windows(
    sdf: DataFrame,
    ts_col: str = "ts",
    key_cols: list[str] | None = None,
    gap: str = "30 minutes",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Gap-based sessionization via native ``session_window``.

    State-store backed: sessions for a key merge as events arrive and
    finalize once the watermark passes the gap — works identically on
    batch DataFrames (where it's a plain aggregation). Returns one row
    per session: key columns, session start/end, event count.
    """
    keys = key_cols or ["user_id"]
    if watermark is not None and sdf.isStreaming:
        sdf = sdf.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        sdf = sdf.withWatermark(ts_col, watermark)
    return (
        sdf.groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *keys,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
