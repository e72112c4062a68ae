"""Lifetime management for operator-internal ``persist()`` handles.

Several batch operators persist an intermediate that their returned
plan references more than once — the MinHash signature table
(``dedup.minhash_lsh_pairs``: banding + two candidate re-joins), the
LSH candidate set (``similarity.lsh_topk``: itself + its mirror), and
the permissive-parsed source in ``generators.ddl.read_routed`` (the
good/quarantine split must come from ONE scan). Those caches are
load-bearing for the single evaluation the caller is about to run,
but a long-lived production session that chains many operator calls
would otherwise accumulate dead cached blocks until executor-storage
eviction pressure (this exact leak silently corrupted a benchmark
round — see COVERAGE.md's cache-isolation note).

Every internal persist is therefore routed through :func:`track`,
and callers get two release mechanisms:

- :func:`scope` — a context manager for the common "run one pipeline,
  then drop its scratch caches" shape. Handles tracked inside the
  ``with`` block are unpersisted on exit, so *evaluate the results
  inside the block* (a DataFrame collected after the scope closes is
  still correct — Spark just recomputes the unpersisted subtree).

      with caching.scope():
          pairs = dedup.minhash_lsh_pairs(docs)
          pairs.write.parquet(out)          # evaluated while cached
      # signature-table blocks are gone here

- :func:`release` — drop every handle tracked outside any scope; call
  it between pipeline stages in a long-lived session (the benchmark
  harness achieves the same with ``spark.catalog.clearCache()``,
  which is the bigger hammer: it also evicts user-owned caches).

Scopes nest per thread (``threading.local``): a scope opened on one
thread never captures handles tracked by a concurrent job on another.

Iterative operators (``dedup.connected_components``,
``graph.pagerank``) cut their lineage with ``localCheckpoint()``
instead; :func:`release_checkpoint` frees a superseded checkpoint once
nothing reads it.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

__all__ = ["track", "release", "scope", "tracked_count", "release_checkpoint"]

_lock = threading.Lock()
_global: list[DataFrame] = []
_tls = threading.local()


def _scope_stack() -> list[list[DataFrame]]:
    stack = getattr(_tls, "stack", None)
    if stack is None:
        stack = _tls.stack = []
    return stack


def track(df: DataFrame, eager: bool = False) -> DataFrame:
    """Persist ``df`` and register the handle for later release.

    Registers with the innermost active :func:`scope` on this thread,
    falling back to the session-global registry (drained by
    :func:`release`). ``eager=True`` materializes immediately with a
    ``count()`` — use when concurrent downstream stages would race to
    fill the cache and each recompute the subtree.
    """
    df = df.persist()
    stack = _scope_stack()
    if stack:
        stack[-1].append(df)
    else:
        with _lock:
            _global.append(df)
    if eager:
        df.count()
    return df


def _unpersist_all(handles: list[DataFrame], blocking: bool) -> int:
    n = 0
    for h in handles:
        try:
            h.unpersist(blocking)
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def release(blocking: bool = False) -> int:
    """Unpersist every handle tracked outside any scope; returns the
    number released. Safe to call at any time: results evaluated
    later recompute their (unpersisted) subtrees correctly."""
    with _lock:
        handles = list(_global)
        _global.clear()
    return _unpersist_all(handles, blocking)


def tracked_count() -> int:
    """Handles currently registered (global + this thread's scopes)."""
    with _lock:
        n = len(_global)
    return n + sum(len(s) for s in _scope_stack())


@contextmanager
def scope(blocking: bool = False) -> Iterator[None]:
    """Release every internal persist tracked inside the block on
    exit (including the exception path). See the module docstring."""
    bucket: list[DataFrame] = []
    stack = _scope_stack()
    stack.append(bucket)
    try:
        yield
    finally:
        stack.remove(bucket)
        _unpersist_all(bucket, blocking)


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist the blocks behind a ``localCheckpoint()``ed frame (the
    checkpoint's plan is a ``LogicalRDD`` over the persisted RDD)."""
    df._jdf.logicalPlan().rdd().unpersist(False)
