"""The three Arrow stages every media and archive operator is built
from.

- :func:`build_payloads` — one ``pandas_udf("binary")`` over an id
  column: the fixture generators' per-id payload builder.
- :func:`map_payloads` — one ``mapInPandas`` stage over a payload
  column: the decoders' per-payload row fan-out.
- :func:`pack_shards` — one ``applyInPandas`` stage over md5-ordered
  rows: the archive writers' shard packer (tar, zip, WET, WAT).

The first two own the null-row discipline, so no operator re-types
it: a null id builds a null payload, and a payload a decoder cannot
read emits one all-null row that keeps its id attributable. The
third owns the shard assignment, so every writer's layout replays
the same way.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def build_payloads(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    build_one: Callable[[int], bytes],
) -> DataFrame:
    """Add ``payload_col`` = ``build_one(int(id))`` per row, null for a
    null id. The test is ``pd.isna``, not ``is None``: Arrow hands a
    nullable ``bigint`` column to pandas as ``float64`` with ``NaN``."""

    @pandas_udf("binary")
    def _build(ids: pd.Series) -> pd.Series:
        return pd.Series(
            [None if pd.isna(i) else build_one(int(i)) for i in ids]
        )

    return df.withColumn(payload_col, _build(F.col(id_col)))


def map_payloads(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    fields: list[T.StructField],
    rows_of: Callable[[Any], Iterable[tuple] | None],
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Map-only decode stage: ``(id_col, *passthrough, *fields)``.

    ``rows_of(payload)`` returns ``None`` for one all-null row, or an
    iterable of row tuples over ``fields`` — one output row each, so
    an empty iterable emits no row. The id and ``passthrough`` columns
    repeat for every row their payload emits. A null payload is passed
    to ``rows_of`` like any other: each decoder decides what it emits.
    """
    passthrough = [c for c in (passthrough or []) if c != id_col]
    keys = [id_col, *passthrough]
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            *(df.schema[c] for c in passthrough),
            *fields,
        ]
    )
    names = [f.name for f in fields]
    null_row = (None,) * len(fields)

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            counts = []
            for p in pdf[payload_col]:
                got = rows_of(p)
                if got is None:
                    rows.append(null_row)
                    counts.append(1)
                else:
                    start = len(rows)
                    rows.extend(got)
                    counts.append(len(rows) - start)
            out = pd.DataFrame(rows, columns=names)
            for k, c in enumerate(keys):
                out.insert(k, c, np.repeat(pdf[c].values, counts))
            yield out

    return df.select(*keys, payload_col).mapInPandas(
        process, schema=out_schema
    )


def pack_shards(
    rows: DataFrame,
    per_shard: int,
    seed: str,
    count_col: str,
    pack: Callable[[pd.DataFrame], tuple[int, bytes]],
) -> DataFrame:
    """Pack ``rows`` into archive shards: ``(shard_id, count_col,
    n_bytes, payload)``, one row per shard.

    Each row gets a dense global position ``pos`` ordered by
    ``md5(seed || ':' || key)``, the key being ``rows``' first column
    (:func:`quality.training_order`: a sharded cumsum, no single-task
    window), and ``shard_id = pos // per_shard``, so any engine
    replays the assignment. One ``applyInPandas`` group per shard
    hands ``pack`` its rows sorted by ``pos`` and takes back
    ``(count, payload)``. Rows shuffle exactly once, into their
    shard's group, and never visit the driver; a shard's bytes exist
    only inside its one task, so executor memory bounds shard size,
    not corpus size.
    """
    from .quality import training_order

    ordered = training_order(rows, rows.columns[0], seed=seed)
    with_shard = ordered.select(
        *rows.columns,
        "pos",
        (F.col("pos") / F.lit(int(per_shard))).cast("long").alias("shard_id"),
    )
    out_schema = T.StructType(
        [
            T.StructField("shard_id", T.LongType()),
            T.StructField(count_col, T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos")
        n, payload = pack(pdf)
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                count_col: [n],
                "n_bytes": [len(payload)],
                "payload": [payload],
            }
        )

    return with_shard.groupBy("shard_id").applyInPandas(
        pack_group, schema=out_schema
    )
