"""Session factory: what ``get_spark``'s confs buy a long-lived session."""

from __future__ import annotations

import os
import re
import subprocess

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from flycatcher_spark import Field, Schema, col, model_validator
from flycatcher_spark.operators import dedup, quality, retrieval

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),
    (3, "the quick brown fox jumps over the lazy dog near the river shore"),
    (4, "a slow green turtle walks under the busy bridge at dawn today"),
    (5, "a slow green turtle walks under the busy bridge at dusk today"),
    (6, "completely different words about spark codegen and class caches"),
]
QUERIES = [(0, "brown fox river"), (1, "green turtle bridge")]


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _curate(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    queries = spark.createDataFrame(QUERIES, "query_id long, query string")
    kept = dedup.exact_dedup(docs, subset=["text"]).localCheckpoint()
    cands = dedup.minhash_lsh_pairs(kept, threshold=0.3).localCheckpoint()
    pairs = dedup.verify_pairs_jaccard(cands, kept, hashed=True, threshold=0.3)
    split = quality.leakage_safe_split(kept, pairs)
    hits = retrieval.bm25_topk(kept, queries, k=3)
    return (
        sorted(tuple(r) for r in split.collect()),
        sorted(tuple(r) for r in hits.collect()),
    )


def test_repeated_chain_reuses_generated_code(spark):
    # The chain generates ~160 classes, more than Spark's default cache
    # of 100 holds; at that size every run recompiles ~150 of them. The
    # few a warm run still compiles are whole-stage classes renumbered
    # because adaptive execution planned their stages in another order.
    first = _curate(spark)
    start = _compilations(spark)
    second = _curate(spark)
    compiled = _compilations(spark) - start
    assert second == first
    assert compiled <= 40, f"second run compiled {compiled} classes"


def _py4j_commands(monkeypatch, action) -> int:
    """Python→JVM commands one call of ``action`` sends."""
    action()  # PySpark reads its call-site flag on the first wrapped call
    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        sent.append(command)
        return send(self, command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        action()
    return len(sent)


def test_columns_are_built_without_call_site_capture(spark, monkeypatch):
    # with capture on, each wrapped call also walks the Python stack and
    # sends its file:line to the JVM and clears it: 13-20 commands each
    x = F.col("x")
    assert _py4j_commands(monkeypatch, lambda: F.col("x")) <= 3
    assert _py4j_commands(monkeypatch, x.isNotNull) <= 1


def test_errors_keep_their_class_and_text(spark):
    class Reading(Schema):
        sensor_id: int = Field(ge=0)
        value: float = Field(le=150.0)

        @model_validator
        def bounded():
            return (col("value") > -50, "value must exceed -50")

    df = spark.createDataFrame([(1, 20.0)], "sensor_id long, value double")
    with pytest.raises(AnalysisException, match="`nope`"):
        df.select(F.col("nope")).collect()

    v = Reading.to_spark_validator()
    cases = [
        ([(1,)], "sensor_id long", "Missing required columns: {'value'}"),
        (
            [(None, 20.0), (2, 30.0)],
            "sensor_id long, value double",
            "Column 'sensor_id' has 1 null values but is not nullable",
        ),
        (
            [(1, 20.0), (-3, 10.0), (-4, 11.0)],
            "sensor_id long, value double",
            "Constraint violation: sensor_id must be >= 0\n"
            "Found 2 violations.\n"
            "Sample violations:\n"
            "columns: sensor_id, value\n"
            "(-3, 10.0)\n"
            "(-4, 11.0)",
        ),
        (
            [(1, -60.0)],
            "sensor_id long, value double",
            "Constraint violation: value must exceed -50\n"
            "Found 1 violations.\n"
            "Sample violations:\n"
            "columns: sensor_id, value\n"
            "(1, -60.0)",
        ),
    ]
    for rows, ddl, message in cases:
        with pytest.raises(ValueError) as raised:
            v.validate(spark.createDataFrame(rows, ddl))
        assert str(raised.value) == message


def _tracked_sources(pathspec: str) -> dict[str, str]:
    """Text of every tracked ``.py`` file matching ``pathspec``."""
    try:
        tracked = subprocess.run(
            ["git", "ls-files", pathspec],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout.split()
    except (OSError, subprocess.CalledProcessError):
        pytest.skip("not a git checkout")
    sources = {}
    for rel in tracked:
        path = os.path.join(ROOT, rel)
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                sources[rel] = f.read()
    return sources


def test_only_the_factory_builds_sessions():
    # every session outside session.py goes through get_spark, so the
    # bench, the tools and the library run under the same confs
    needle = "SparkSession" + ".builder"
    found = [
        rel
        for rel, text in _tracked_sources("*.py").items()
        if rel != "flycatcher_spark/session.py" and needle in text
    ]
    assert found == []


def test_library_does_not_import_mllib():
    # every ANN index is trained by one driver-side numpy k-means over
    # one bounded sample; MLlib would bring back a job per iteration
    needle = re.compile(r"^\s*(from|import)\s+pyspark\.ml\b", re.MULTILINE)
    found = [
        rel
        for rel, text in _tracked_sources("flycatcher_spark/*.py").items()
        if needle.search(text)
    ]
    assert found == []
