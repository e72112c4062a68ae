"""Distributed range joins (point-in-interval, interval-overlap).

Spark plans a bare non-equi predicate (``start <= point AND point <=
end``) as a BroadcastNestedLoopJoin — a single-task cartesian scan
that does not survive scale. These helpers recover a shuffle-based
plan by *bucketizing* the range dimension: points map to one bucket,
intervals explode to every bucket they overlap, and the join becomes
an equi-join on the bucket id (plus any caller equi-keys) with the
range predicate left as a cheap residual filter.

Cost model: the interval side is replicated ``ceil(len/width)+1``
times. Pick ``bucket_width`` close to the TYPICAL interval length so
replication stays O(1); the shuffle then distributes across all
executors like any equi-join (no single-task stage, no full
cartesian). This mirrors how Databricks' range-join optimization and
DuckDB's IEJoin avoid the nested-loop trap.

The reference engine (mrmcmullan/flycatcher) has no joins at all —
this is part of the §7 scale-extension surface, designed Spark-first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["point_in_interval_join", "interval_overlap_join"]

_BUCKET = "__fc_bucket"


def _floor_div(col_name: str, width: int) -> "Column":
    """Exact floor division for BIGINT of either sign. Spark's DIV
    truncates toward zero (-7 DIV 2 = -3), which would put negative
    coordinates in the wrong bucket; subtracting the positive pmod
    first makes the quotient a true floor (-7 -> -4 for width 2)."""
    return F.expr(f"(`{col_name}` - pmod(`{col_name}`, {width})) DIV {width}")


def _buckets(start: str, end: str, width: int) -> Column:
    """Explode an interval to every bucket it touches."""
    return F.explode(F.sequence(_floor_div(start, width), _floor_div(end, width)))


def _check_closed(closed: str) -> tuple[bool, bool]:
    table = {
        "both": (True, True),
        "left": (True, False),
        "right": (False, True),
        "none": (False, False),
    }
    if closed not in table:
        raise ValueError(f"closed must be one of {sorted(table)}, got {closed!r}")
    return table[closed]


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point: str,
    start: str,
    end: str,
    bucket_width: int,
    equi: list[str] | None = None,
    closed: str = "both",
    how: str = "inner",
) -> DataFrame:
    """Join each point row to every interval row containing it.

    ``point``, ``start`` and ``end`` must be integral columns in the
    same unit (e.g. epoch micros). ``equi`` lists column names present
    on BOTH sides that must also match (joined by equality, kept once
    from the points side). ``bucket_width`` is the bucketization
    granularity in the same unit — choose ≈ the typical interval
    length.

    Only ``inner`` and ``left`` joins are supported: buckets replicate
    interval rows, so right/full semantics would need dedup on the
    interval side; left semantics dedup naturally on the points side.
    """
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    lo_closed, hi_closed = _check_closed(closed)
    equi = list(equi or [])

    overlap = set(points.columns) & set(intervals.columns) - set(equi)
    if overlap:
        raise ValueError(
            f"ambiguous columns on both sides (rename first): {sorted(overlap)}"
        )

    p = points.withColumn(_BUCKET, _floor_div(point, bucket_width))
    iv = intervals.withColumn(_BUCKET, _buckets(start, end, bucket_width))

    lo = F.col(start) <= F.col(point) if lo_closed else F.col(start) < F.col(point)
    hi = F.col(point) <= F.col(end) if hi_closed else F.col(point) < F.col(end)
    # The range predicate goes INTO the join condition (not a
    # post-filter): for how='left' a bucket-matched but range-failed
    # point must still surface with nulls. Each point has exactly one
    # bucket, so left rows never duplicate.
    cond = p[_BUCKET] == iv[_BUCKET]
    for c in equi:
        cond = cond & (p[c] == iv[c])
    cond = cond & lo & hi

    joined = p.join(iv, cond, how)
    drop_right = [iv[_BUCKET]] + [iv[c] for c in equi]
    return joined.drop(*drop_right).drop(_BUCKET)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_width: int,
    equi: list[str] | None = None,
) -> DataFrame:
    """Inner-join interval rows that overlap: ``l.start <= r.end AND
    r.start <= l.end`` (closed ends). Both sides explode to their
    touched buckets; the duplicate matches that appear when a pair
    shares several buckets are suppressed by keeping only the pair's
    FIRST common bucket — an arithmetic predicate, not a distinct, so
    no extra shuffle."""
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    equi = list(equi or [])
    overlap = set(left.columns) & set(right.columns) - set(equi)
    if overlap:
        raise ValueError(
            f"ambiguous columns on both sides (rename first): {sorted(overlap)}"
        )

    lb, rb = "__fc_lbucket", _BUCKET
    l = left.withColumn(lb, _buckets(left_start, left_end, bucket_width))
    r = right.withColumn(rb, _buckets(right_start, right_end, bucket_width))
    cond = [l[lb] == r[rb]] + [l[c] == r[c] for c in equi]
    # first common bucket = max(floor(l.start/w), floor(r.start/w))
    first_common = F.greatest(
        _floor_div(left_start, bucket_width),
        _floor_div(right_start, bucket_width),
    )
    joined = (
        l.join(r, cond, "inner")
        .filter(
            (F.col(left_start) <= F.col(right_end))
            & (F.col(right_start) <= F.col(left_end))
            & (l[lb] == first_common)
        )
    )
    return joined.drop(l[lb]).drop(r[rb]).drop(*[r[c] for c in equi])
