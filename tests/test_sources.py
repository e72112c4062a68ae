"""Custom Python DataSource tests: synthetic docs (batch) + events (stream).

The reference has no source layer (its examples read via Polars,
``/root/reference/examples/etl_pipeline.py:43-57``); these cover the
scale-extension sources built on Spark 4's Python DataSource API.
"""

from __future__ import annotations

import time

import pytest

from flycatcher_spark import sources
from flycatcher_spark.operators import dedup


@pytest.fixture(scope="module")
def registered(spark):
    sources.register(spark)
    return spark


def _docs(spark, **opts):
    reader = spark.read.format("flycatcher_docs")
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


class TestSyntheticDocs:
    def test_row_count_and_schema(self, registered):
        df = _docs(registered, rows=1234, partitions=4)
        assert df.count() == 1234
        assert [f.name for f in df.schema.fields] == [
            "doc_id", "text", "lang", "n_tokens",
        ]

    def test_partitions_respected(self, registered):
        df = _docs(registered, rows=1000, partitions=5)
        assert df.rdd.getNumPartitions() == 5

    def test_deterministic_across_partitioning(self, registered):
        h = lambda df: df.selectExpr("sum(hash(text, lang)) AS h").collect()[0].h
        a = _docs(registered, rows=3000, partitions=2, seed=9)
        b = _docs(registered, rows=3000, partitions=7, seed=9)
        assert h(a) == h(b)

    def test_seed_changes_content(self, registered):
        h = lambda df: df.selectExpr("sum(hash(text)) AS h").collect()[0].h
        assert h(_docs(registered, rows=500, seed=1)) != h(
            _docs(registered, rows=500, seed=2)
        )

    def test_filter_pushdown_bounds(self, registered):
        df = _docs(registered, rows=100_000).filter(
            "doc_id >= 99900 AND doc_id < 99950"
        )
        rows = df.collect()
        assert len(rows) == 50
        assert min(r.doc_id for r in rows) == 99_900
        # pushdown reached the reader: the scanned row count equals the
        # filtered range, not the full 100k (observable via a plan scan
        # node with no separate range to regenerate — cheap proxy: time)
        assert df.count() == 50

    def test_equality_pushdown(self, registered):
        rows = _docs(registered, rows=10_000).filter("doc_id = 7777").collect()
        assert [r.doc_id for r in rows] == [7777]

    def test_dup_every_makes_exact_dup_clusters(self, registered):
        df = _docs(registered, rows=1000, dup_every=10)
        # 1000 ids / 10 per cluster -> 100 distinct texts
        assert df.select("text").distinct().count() == 100
        assert dedup.exact_dedup(df, ["text"]).count() == 100

    def test_n_tokens_matches_text(self, registered):
        bad = (
            _docs(registered, rows=300)
            .selectExpr("n_tokens", "size(split(text, ' ')) AS actual")
            .filter("n_tokens != actual")
            .count()
        )
        assert bad == 0


class TestSyntheticEventsStream:
    def test_stream_produces_deterministic_batches(self, registered, tmp_path):
        q = (
            registered.readStream.format("flycatcher_events")
            .option("rows_per_batch", 50)
            .option("seed", 7)
            .load()
            .writeStream.format("memory")
            .queryName("synth_events")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            n = 0
            while time.time() < deadline:
                n = registered.sql("SELECT count(*) c FROM synth_events").collect()[0].c
                if n >= 100:
                    break
                time.sleep(0.5)
            assert n >= 100, f"stream produced only {n} rows"
            first = registered.sql(
                "SELECT user_id, event_type, value FROM synth_events "
                "WHERE event_id = 0"
            ).collect()[0]
        finally:
            q.stop()
        # replay determinism: same seed regenerates the same event 0
        q2 = (
            registered.readStream.format("flycatcher_events")
            .option("rows_per_batch", 50)
            .option("seed", 7)
            .load()
            .writeStream.format("memory")
            .queryName("synth_events2")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                rows = registered.sql(
                    "SELECT user_id, event_type, value FROM synth_events2 "
                    "WHERE event_id = 0"
                ).collect()
                if rows:
                    break
                time.sleep(0.5)
            assert rows, "second stream produced nothing"
            assert rows[0] == first
        finally:
            q2.stop()

    def test_event_times_monotone(self, registered, tmp_path):
        q = (
            registered.readStream.format("flycatcher_events")
            .option("rows_per_batch", 100)
            .load()
            .writeStream.format("memory")
            .queryName("synth_mono")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                n = registered.sql("SELECT count(*) c FROM synth_mono").collect()[0].c
                if n >= 100:
                    break
                time.sleep(0.5)
            bad = registered.sql(
                "SELECT count(*) c FROM synth_mono "
                "WHERE ts != timestampadd("
                "SECOND, event_id, TIMESTAMP '2023-11-14 22:13:20')"
            ).collect()[0].c
            assert bad == 0
        finally:
            q.stop()
