"""Custom stateful streaming operators (applyInPandasWithState).

These cover the stateful shapes Structured Streaming's built-ins
don't express directly: a running per-key aggregate that emits an
updated row every micro-batch, and an unbounded first-seen dedup.
State lives in the state store (RocksDB/HDFS-backed on a cluster),
partitioned by group key — each executor owns its keys' state, so
the operators scale horizontally like any keyed stream.

The reference engine (mrmcmullan/flycatcher) has no streaming at all
(README.md:425-440 roadmap) — this is §7 scale-extension surface.

Notes for 100 TB streams:
- state size is O(distinct keys); pair `running_dedup` with a
  fingerprint column (md5/xxhash of the payload) so each key is a
  fixed-width hash, and shard the stream by that key.
- `GroupStateTimeout` is deliberately not enabled here: these
  operators implement global (unbounded-window) semantics. For
  bounded state use the built-in `dropDuplicatesWithinWatermark` /
  windowed aggregations instead (see pipeline.py).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

__all__ = ["running_counts", "running_dedup"]


def running_counts(
    sdf: DataFrame, key_cols: list[str], value_col: str
) -> DataFrame:
    """Per-key running ``(n, total)`` across micro-batches.

    Emits one row per key per micro-batch in which the key appeared,
    carrying the count and value-sum accumulated since the stream
    started. Equivalent batch semantics: ``groupBy(keys).agg(count,
    sum)`` over everything seen so far.
    """
    key_fields = [sdf.schema[k] for k in key_cols]
    out_schema = StructType(
        list(key_fields)
        + [
            StructField("n", LongType(), False),
            StructField("total", DoubleType(), True),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType(), False),
            StructField("total", DoubleType(), True),
        ]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].fillna(0.0).sum())
        state.update((n, total))
        keys = dict(zip([f.name for f in key_fields], key))
        yield pd.DataFrame([dict(keys, n=n, total=total)])

    return sdf.groupBy(*key_cols).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def running_dedup(sdf: DataFrame, key_cols: list[str]) -> DataFrame:
    """Global streaming dedup: pass through only the FIRST row ever
    seen for each key, across all micro-batches (unlike the built-in
    ``dropDuplicates``-with-watermark, which forgets keys once the
    watermark passes). State per key is a single marker — pair the
    key with a content fingerprint for constant-size state."""
    out_schema = sdf.schema
    state_schema = StructType([StructField("seen", LongType(), False)])
    cols = list(sdf.columns)

    def dedup(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            # key already emitted in a previous batch: drop everything
            for _ in pdfs:
                pass
            return
        first = None
        for pdf in pdfs:
            if first is None and len(pdf):
                first = pdf.iloc[[0]][cols]
        state.update((1,))
        if first is not None:
            yield first

    return sdf.groupBy(*key_cols).applyInPandasWithState(
        dedup, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
