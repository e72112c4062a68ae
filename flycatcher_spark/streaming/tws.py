"""Inactivity-timeout sessionization: emit a session when its key
goes quiet — a moment with, by definition, no input rows for the key.

:func:`timeout_sessions` runs on ``applyInPandasWithState`` with
``GroupStateTimeout.EventTimeTimeout``: the state store calls the
function with ``state.hasTimedOut`` once the watermark passes
``setTimeoutTimestamp``. It needs no protobuf dependency and runs
everywhere PySpark runs.

Scale notes:
- Session state is 4 scalars per PENDING SEGMENT (no event
  buffering); pending segments per key are bounded by the number of
  gap-separated sessions inside one watermark-delay window (1 in
  steady state, a handful during replay/catch-up), so memory stays
  O(live keys), independent of event rate. Keys shard across
  executors with the state store (RocksDB on a cluster).
- Emission is append-only at watermark passage, so downstream sinks
  see each session exactly once.

The reference engine has no streaming at all
(``/root/reference/README.md:425-440`` roadmap); this is §7
scale-extension surface.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

__all__ = ["timeout_sessions"]


def _out_schema(sdf: DataFrame, key_cols: list[str]) -> StructType:
    return StructType(
        [sdf.schema[k] for k in key_cols]
        + [
            StructField("session_start_ms", LongType(), False),
            StructField("session_end_ms", LongType(), False),
            StructField("n_events", LongType(), False),
            StructField("total_value", DoubleType(), False),
        ]
    )


# Parallel arrays of pending segments (gap-separated sessions that the
# watermark has not yet sealed): index i across the four arrays is one
# segment. A single-segment state is NOT enough — a batch can close a
# segment internally (a > gap void inside the batch) while the
# watermark still admits an out-of-order event that bridges the void,
# so "closed in batch" and "safe to emit" are different predicates.
_STATE_SCHEMA = StructType(
    [
        StructField("starts", ArrayType(LongType()), False),
        StructField("lasts", ArrayType(LongType()), False),
        StructField("ns", ArrayType(LongType()), False),
        StructField("totals", ArrayType(DoubleType()), False),
    ]
)


def _ts_ms(series: pd.Series) -> pd.Series:
    return series.astype("datetime64[ms]").astype("int64")


def _fold_segments(pdfs, ts_col, value_col, gap_ms, stored=()):
    """Collapse a batch's rows (plus carried-over pending segments)
    into gap-separated ``[start_ms, last_ms, n, total]`` segments.

    This is what makes the operator's semantics independent of
    micro-batch granularity: a replay/catch-up batch can span hours of
    event time and so contain SEVERAL sessions for one key — folding
    only min/max over the whole batch would silently merge them.
    ``stored`` segments participate in merging, so an in-watermark
    out-of-order event can still bridge a void seen in an earlier
    batch.

    Returns the merged segment list sorted by start time.
    """
    segs: list[list] = [
        [int(s[0]), int(s[1]), int(s[2]), float(s[3])] for s in stored
    ]
    frames = [pdf for pdf in pdfs if len(pdf)]
    if frames:
        big = pd.concat(frames) if len(frames) > 1 else frames[0]
        ms = _ts_ms(big[ts_col]).to_numpy()
        vals = big[value_col].fillna(0.0).to_numpy(dtype="float64")
        order = np.argsort(ms, kind="stable")
        ms, vals = ms[order], vals[order]
        brk = np.flatnonzero(np.diff(ms) > gap_ms) + 1
        for cm, cv in zip(np.split(ms, brk), np.split(vals, brk)):
            segs.append([int(cm[0]), int(cm[-1]), len(cm), float(cv.sum())])
    if not segs:
        return []
    segs.sort(key=lambda s: (s[0], s[1]))
    merged = [segs[0]]
    for s in segs[1:]:
        cur = merged[-1]
        if s[0] - cur[1] <= gap_ms:
            cur[0] = min(cur[0], s[0])
            cur[1] = max(cur[1], s[1])
            cur[2] += s[2]
            cur[3] += s[3]
        else:
            merged.append(s)
    return merged


def _split_safe(segs, gap_ms, wm_ms):
    """Partition segments into (emittable, pending). A segment is
    sealed only when the watermark strictly passed ``last + gap`` —
    an admissible event (ts >= watermark) can otherwise still extend
    it (merge condition ``ts - last <= gap``)."""
    safe = [s for s in segs if s[1] + gap_ms < wm_ms]
    pending = [s for s in segs if s[1] + gap_ms >= wm_ms]
    return safe, pending


def _seg_rows(key_names, key, segs):
    rows = []
    for s in segs:
        row = dict(zip(key_names, key))
        row.update(
            session_start_ms=s[0],
            session_end_ms=s[1],
            n_events=s[2],
            total_value=s[3],
        )
        rows.append(row)
    return rows


def _encode(segs):
    return (
        [s[0] for s in segs],
        [s[1] for s in segs],
        [s[2] for s in segs],
        [s[3] for s in segs],
    )


def _decode(state_tuple):
    starts, lasts, ns, totals = state_tuple
    return [
        [int(a), int(b), int(c), float(d)]
        for a, b, c, d in zip(starts, lasts, ns, totals)
    ]


def timeout_sessions(
    sdf: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    gap_seconds: int = 300,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Sessions closed by event-time inactivity, emitted on close.

    Unlike the built-in ``session_window`` aggregation (fixed agg
    shapes through the agg operator), this is the custom-logic hook:
    arbitrary per-session state, arbitrary record shape at close.
    Output (append-only):
    ``key_cols + (session_start_ms, session_end_ms, n_events,
    total_value)``. ``ts_col`` must be TIMESTAMP (cast TIMESTAMP_NTZ
    first); the watermark bounds late data and timeout lag.
    """
    gap_ms = gap_seconds * 1000
    key_names = list(key_cols)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()
        if state.hasTimedOut:
            safe, pending = _split_safe(_decode(state.get), gap_ms, wm)
            if pending:
                state.update(_encode(pending))
                state.setTimeoutTimestamp(
                    max(min(s[1] for s in pending) + gap_ms, wm + 1)
                )
            else:
                state.remove()
            if safe:
                yield pd.DataFrame(_seg_rows(key_names, key, safe))
            return
        stored = _decode(state.get) if state.exists else []
        segs = _fold_segments(pdfs, ts_col, value_col, gap_ms, stored)
        # Emit ONLY watermark-sealed segments: a segment closed by an
        # in-batch void can still be extended by an admissible
        # out-of-order event until the watermark passes last + gap.
        safe, pending = _split_safe(segs, gap_ms, wm)
        if pending:
            state.update(_encode(pending))
            # earliest pending deadline; timers must sit above the
            # current watermark
            state.setTimeoutTimestamp(
                max(min(s[1] for s in pending) + gap_ms, wm + 1)
            )
        elif state.exists:
            state.remove()
        if safe:
            yield pd.DataFrame(_seg_rows(key_names, key, safe))

    return (
        sdf.withWatermark(ts_col, watermark_delay)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            fn,
            _out_schema(sdf, key_cols),
            _STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )

