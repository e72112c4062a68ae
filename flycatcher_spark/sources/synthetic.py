"""Deterministic synthetic sources on Spark 4's Python DataSource API.

The reference ships no sources at all (its examples read CSV/parquet
through Polars — ``/root/reference/examples/etl_pipeline.py:43-57``);
these are scale extensions: reproducible corpora for exercising the
dedup / similarity / text / streaming operators at any size without
pre-materializing files.

Scale design:

- **Partitioned generation.** The batch reader splits the requested
  row range into ``partitions`` independent ``InputPartition`` ranges,
  so generation parallelizes across executors exactly like a parquet
  scan; no driver-side data is shipped (only the tiny option dict is
  pickled).
- **Arrow batches, not rows.** ``read()`` yields ``pyarrow.RecordBatch``
  objects built with numpy — the vectorized path through the Python
  worker (one serialization per batch instead of per row).
- **Filter pushdown.** ``pushFilters`` consumes ``doc_id`` range
  predicates so ``spark.read...load().filter("doc_id < n")`` narrows
  the generated ranges at the source; Spark re-applies anything we
  report as unhandled.
- **Determinism.** Every cell derives from splitmix64 of
  ``(seed, doc_id, position)`` — the same options yield bit-identical
  output regardless of partition count or executor placement (also
  the property that makes a streaming restart replayable).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterable, Iterator, List

import numpy as np

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa

_U64 = np.uint64

# Small fixed vocabulary; weighted toward English stopwords so the
# text operators (lang-id, stopword ratio) see realistic signal.
_VOCAB = np.array(
    [
        "the", "and", "of", "to", "is", "in", "that", "it", "for", "on",
        "with", "as", "data", "spark", "query", "engine", "schema", "valid",
        "batch", "stream", "table", "column", "row", "join", "shuffle",
        "filter", "vector", "token", "model", "train", "dedup", "hash",
    ],
    dtype=object,
)
_LANGS = np.array(["en", "en", "en", "de", "fr", "es", "und"], dtype=object)
_EVENT_TYPES = np.array(["click", "view", "purchase", "scroll"], dtype=object)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 — the standard public-domain mixer."""
    z = (x + _U64(0x9E3779B97F4A7C15)).astype(_U64)
    z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
    return z ^ (z >> _U64(31))


def _doc_batch(doc_ids: np.ndarray, seed: int, dup_every: int) -> "pa.RecordBatch":
    """Generate one Arrow batch of documents for the given ids.

    ``dup_every > 0`` makes each run of ``dup_every`` consecutive ids
    share one canonical text (id rounded down), producing exact-dup
    clusters the dedup operators can find.
    """
    import pyarrow as pa

    ids = doc_ids.astype(_U64)
    base = ids - (ids % _U64(dup_every)) if dup_every > 1 else ids
    h = _splitmix64(base * _U64(1_000_003) + _U64(seed))
    n_tokens = (h % _U64(81) + _U64(20)).astype(np.int64)  # 20..100 tokens

    # Flat (doc, position) token table: one hash per token, then an
    # Arrow ListArray over offsets joined with a single vectorized call.
    offsets = np.zeros(len(ids) + 1, dtype=np.int32)
    np.cumsum(n_tokens, out=offsets[1:])
    doc_of_tok = np.repeat(np.arange(len(ids), dtype=np.int64), n_tokens)
    pos = np.arange(offsets[-1], dtype=np.int64) - offsets[:-1][doc_of_tok]
    tok_h = _splitmix64(
        base[doc_of_tok] * _U64(2_000_033) + pos.astype(_U64) + _U64(seed)
    )
    words = _VOCAB[(tok_h % _U64(len(_VOCAB))).astype(np.int64)]
    toks = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(words, type=pa.string())
    )
    text = pa.compute.binary_join(toks, " ")

    lang = _LANGS[(h % _U64(len(_LANGS))).astype(np.int64)]
    return pa.RecordBatch.from_arrays(
        [
            pa.array(doc_ids.astype(np.int64)),
            text,
            pa.array(lang, type=pa.string()),
            pa.array(n_tokens),
        ],
        names=["doc_id", "text", "lang", "n_tokens"],
    )


@dataclass
class _Range(InputPartition):
    start: int
    end: int  # exclusive


class _DocsReader(DataSourceReader):
    _BATCH = 10_000  # rows per Arrow batch inside one partition

    def __init__(self, options) -> None:
        self.rows = int(options.get("rows", 1000))
        self.n_parts = max(1, int(options.get("partitions", 8)))
        self.seed = int(options.get("seed", 42))
        self.dup_every = int(options.get("dup_every", 0))
        self.lo = 0
        self.hi = self.rows  # exclusive

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        for f in filters:
            if getattr(f, "attribute", None) == ("doc_id",):
                if isinstance(f, GreaterThan):
                    self.lo = max(self.lo, int(f.value) + 1)
                    continue
                if isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, int(f.value))
                    continue
                if isinstance(f, LessThan):
                    self.hi = min(self.hi, int(f.value))
                    continue
                if isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, int(f.value) + 1)
                    continue
                if isinstance(f, EqualTo):
                    self.lo = max(self.lo, int(f.value))
                    self.hi = min(self.hi, int(f.value) + 1)
                    continue
            yield f  # not handled — Spark re-applies it

    def partitions(self) -> List[InputPartition]:
        lo, hi = self.lo, max(self.lo, self.hi)
        n = min(self.n_parts, max(1, hi - lo))
        bounds = np.linspace(lo, hi, n + 1, dtype=np.int64)
        return [
            _Range(int(bounds[i]), int(bounds[i + 1]))
            for i in range(n)
            if bounds[i] < bounds[i + 1]
        ] or [_Range(lo, lo)]

    def read(self, partition: _Range) -> Iterator["pa.RecordBatch"]:
        for start in range(partition.start, partition.end, self._BATCH):
            end = min(start + self._BATCH, partition.end)
            yield _doc_batch(
                np.arange(start, end, dtype=np.int64), self.seed, self.dup_every
            )


class SyntheticDocumentsDataSource(DataSource):
    """``spark.read.format("flycatcher_docs")`` — deterministic corpus.

    Options: ``rows`` (default 1000), ``partitions`` (default 8),
    ``seed`` (default 42), ``dup_every`` (default 0 = all unique;
    k>1 = ids sharing ``id // k`` get identical text).
    """

    @classmethod
    def name(cls) -> str:
        return "flycatcher_docs"

    def schema(self) -> str:
        return "doc_id BIGINT, text STRING, lang STRING, n_tokens BIGINT"

    def reader(self, schema: StructType) -> _DocsReader:
        return _DocsReader(self.options)


class _EventsStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch event stream: each batch is ``rows_per_batch``
    deterministic events; the offset is just the global row index, so
    restart/replay regenerate identical batches."""

    def __init__(self, options) -> None:
        self.rows_per_batch = int(options.get("rows_per_batch", 100))
        self.seed = int(options.get("seed", 7))
        self.n_users = int(options.get("users", 50))

    def initialOffset(self) -> dict:
        return {"index": 0}

    def read(self, start: dict):
        lo = int(start["index"])
        hi = lo + self.rows_per_batch
        return iter(self._rows(lo, hi)), {"index": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(int(start["index"]), int(end["index"])))

    def _rows(self, lo: int, hi: int):
        ids = np.arange(lo, hi, dtype=np.int64).astype(_U64)
        h = _splitmix64(ids * _U64(3_000_017) + _U64(self.seed))
        users = (h % _U64(self.n_users)).astype(np.int64)
        etype = _EVENT_TYPES[
            ((h >> _U64(8)) % _U64(len(_EVENT_TYPES))).astype(np.int64)
        ]
        value = ((h >> _U64(16)) % _U64(10_000)).astype(np.float64) / 100.0
        # fixed epoch base + 1s per event: monotonically increasing event time
        ts_us = 1_700_000_000_000_000 + ids.astype(np.int64) * 1_000_000
        from datetime import datetime, timezone

        return [
            (
                int(ids[i]),
                int(users[i]),
                str(etype[i]),
                float(value[i]),
                datetime.fromtimestamp(ts_us[i] / 1e6, tz=timezone.utc).replace(
                    tzinfo=None
                ),
            )
            for i in range(len(ids))
        ]


class SyntheticEventsStreamSource(DataSource):
    """``spark.readStream.format("flycatcher_events")`` — deterministic
    replayable event stream. Options: ``rows_per_batch`` (default 100),
    ``seed`` (default 7), ``users`` (default 50)."""

    @classmethod
    def name(cls) -> str:
        return "flycatcher_events"

    def schema(self) -> str:
        return (
            "event_id BIGINT, user_id BIGINT, event_type STRING, "
            "value DOUBLE, ts TIMESTAMP_NTZ"
        )

    def simpleStreamReader(self, schema: StructType) -> _EventsStreamReader:
        return _EventsStreamReader(self.options)


def register(spark) -> None:
    """Register both synthetic sources on this session.

    Note: the Python worker deserializes these classes by module
    reference, so ``flycatcher_spark`` must be importable on workers
    (installed, or on ``PYTHONPATH`` before the session starts).
    """
    # Off by default in Spark 4.1; runtime-settable. Without it Spark
    # refuses any reader that implements pushFilters().
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SyntheticDocumentsDataSource)
    spark.dataSource.register(SyntheticEventsStreamSource)
