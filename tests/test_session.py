"""Session factory: what ``get_spark``'s confs buy a long-lived session."""

from __future__ import annotations

import os
import re
import subprocess

import pytest

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
