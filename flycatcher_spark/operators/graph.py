"""Link-graph operators for crawl corpora: degrees and exact
deterministic PageRank.

A web-scale curation pipeline uses the host link graph as a quality
prior (Common Crawl publishes harmonic-centrality / PageRank rankings
for exactly this purpose): pages from well-linked hosts get a boost,
link-farm islands get damped. The graph itself comes out of the
crawl front-end already in this repo — ``warc.warc_records`` →
``web.html_to_text`` / ``web.extract_links`` → ``web.host_links`` —
and this module ranks it.

Engine-portable by the same discipline as :mod:`.cluster` (exact
deterministic Lloyd's): every per-node contribution rounds to 9
decimals and sums as DECIMAL(20,9) — bitwise identical under any
partitioning — and every constant the two engines must agree on
((1-d)/N, 1/N) is *computed with the same IEEE double expression* in
both, never pre-evaluated on one side only. A fixed-iteration run is
therefore reproducible cell-for-cell, and DuckDB replays it with
unrolled CTEs (the ``pagerank_hosts`` oracle query).

Scale shape (per iteration; E = edges, N = nodes):

- ranks live in a distributed (node, rank) table — never collected
  (a 100 TB crawl has ~1e8-1e9 hosts; driver-side ranks are a
  non-starter, which is why this is NOT the k-means collect shape);
- one shuffle joins edges to ranks on ``src`` (both sides hash-
  partitioned on the same key, so consecutive iterations reuse the
  edge exchange under AQE), one shuffle aggregates contributions on
  ``dst`` with map-side partial DECIMAL sums;
- dangling mass (nodes with no out-links) is *dropped* by default,
  the textbook simplification — documented so the oracle states the
  same rule; ``dangling="redistribute"`` (r8) conserves mass with one
  extra 1-row DECIMAL aggregate per iteration, the right setting for
  sink-heavy real crawl graphs;
- lineage is truncated with ``localCheckpoint`` every
  ``checkpoint_every`` iterations (the :func:`dedup.connected_components`
  pattern) so long runs don't accrete a growing plan tree.

Reference parity note: the reference engine has no graph operator
(SURVEY.md §2.8 gap list); this is a §7 scale extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import caching

__all__ = ["hits", "out_degrees", "pagerank"]

# Order-independent DECIMAL aggregation, as in cluster.py /
# quality.unigram_surprise: contributions round to 9 decimals before
# the exact DECIMAL(20,9) sum, results round back to 9.
_RANK_DECIMALS = 9


def out_degrees(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Out-degree per source node of a distinct-edge table:
    ``(src, out_deg)``. One slim groupBy shuffle (two key columns in,
    one count out).

    Examples
    --------
        >>> e = spark.createDataFrame(
        ...     [("a", "b"), ("a", "c"), ("b", "c")], ["src", "dst"])
        >>> sorted((r.src, r.out_deg) for r in out_degrees(e).collect())
        [('a', 2), ('b', 1)]
    """
    return edges.groupBy(F.col(src_col).alias("src")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    dedupe_edges: bool = True,
    checkpoint_every: int = 4,
    dangling: str = "drop",
) -> DataFrame:
    """Exact deterministic PageRank over a directed edge table.

    Returns ``(node, rank)`` for every node that appears as a source
    or destination. Fixed ``iterations`` of the standard update

        rank'(v) = (1-d)/N + d * sum over in-edges (u,v) of
                   rank(u) / out_deg(u)
                   [+ d * D/N  when dangling="redistribute"]

    with the documented simplifications that make it engine-portable
    and partitioning-invariant:

    - per-edge contributions ``rank(u)/out_deg(u)`` round to 9
      decimals and sum as DECIMAL(20,9) (exact, order-independent);
      the updated rank rounds back to 9 decimals;
    - ``dangling="drop"`` (default): dangling-node mass is dropped,
      so ranks sum to slightly under 1 — the textbook simplification,
      kept as the default for oracle stability across rounds.
      ``dangling="redistribute"`` (r8): each iteration additionally
      computes the total rank mass ``D`` sitting on nodes with no
      out-edges (one DECIMAL-summed 1-row aggregate, kept plan-side
      as a broadcast cross join — the same shape as the HITS max) and adds
      ``d * D / N`` to every node, so rank mass is conserved. Crawl
      graphs are sink-heavy; redistribution keeps ranks comparable
      across iteration counts and graph snapshots;
    - ``(1-d)/N`` and the initial ``1/N`` are evaluated as the same
      IEEE double expressions in every engine (``lit(1.0) -
      lit(damping)`` divided by the node count), never as a
      pre-rounded constant on one side; the redistribution term is
      ``d * (D / N)`` with ``D`` the round-9 double both engines
      compute identically.

    ``N`` (node count) is the ONLY driver-side scalar (a count job);
    redistribute mode adds one plan-side 1-row aggregate per
    iteration (broadcast cross-joined into the update — no driver
    round trip). Ranks themselves stay distributed throughout; in
    redistribute mode each iteration's ranks are checkpoint-
    materialized because two consumers read them (the dangling-mass
    aggregate and the next join).

    Examples
    --------
        >>> e = spark.createDataFrame(
        ...     [("a", "b"), ("b", "a"), ("a", "c")], ["src", "dst"])
        >>> r = {x.node: x.rank for x in pagerank(e, iterations=1).collect()}
        >>> sorted(r.items())  # c is dangling: its mass drops
        [('a', 0.333333333), ('b', 0.191666667), ('c', 0.191666667)]
        >>> r = {x.node: x.rank for x in pagerank(
        ...     e, iterations=1, dangling="redistribute").collect()}
        >>> round(sum(r.values()), 9)  # conserved, to the round-9 grid
        0.999999999
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    if dangling not in ("drop", "redistribute"):
        raise ValueError("dangling must be 'drop' or 'redistribute'")
    e = edges.select(
        F.col(src_col).cast("string").alias("src"),
        F.col(dst_col).cast("string").alias("dst"),
    )
    if dedupe_edges:
        e = e.distinct()
    # Every iteration references the edge table, and the edge table's
    # lineage is often an expensive extraction (HTML parse → link
    # resolution → distinct). Without a persist, Spark re-runs that
    # whole upstream once per JOIN PER ITERATION — measured 40s+ for
    # 3 iterations over a trivially small graph whose extraction
    # costs ~1s. Persist edges/nodes/degrees for the duration of the
    # iteration loop (the standard iterative-algorithm shape) inside
    # a caching scope: the final ranks are checkpoint-materialized
    # INSIDE the scope, so the returned plan references no cached
    # blocks and the scope exit (incl. the exception path) releases
    # every internal handle — the caching-module contract.
    with caching.scope():
        e = caching.track(e.persist())
        nodes = caching.track(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .persist()
        )
        n_nodes = nodes.count()
        if n_nodes == 0:
            return e.sparkSession.createDataFrame(
                [], "node string, rank double"
            )

        # engine-shared IEEE expressions (see module docstring)
        init = F.round(F.lit(1.0) / F.lit(float(n_nodes)), _RANK_DECIMALS)
        base = (F.lit(1.0) - F.lit(float(damping))) / F.lit(float(n_nodes))

        deg = out_degrees(e)
        edeg = caching.track(e.join(deg, on="src").persist())
        dang_nodes = None
        if dangling == "redistribute":
            dang_nodes = caching.track(
                nodes.join(
                    deg.withColumnRenamed("src", "node"), on="node",
                    how="left_anti",
                ).persist()
            )
        ranks = nodes.withColumn("rank", init)
        live: DataFrame | None = None

        def checkpoint(df: DataFrame) -> DataFrame:
            # ``df`` reads the live checkpoint; once its own eager
            # checkpoint exists nothing does, so release the old one
            nonlocal live
            new = df.localCheckpoint(eager=True)
            if live is not None:
                caching.release_checkpoint(live)
            live = new
            return new

        for it in range(iterations):
            extra = None
            dmass_df = None
            if dangling == "redistribute":
                # two consumers read this iteration's ranks (the
                # dangling-mass aggregate and the contribution join):
                # materialize once instead of recomputing the lineage
                ranks = checkpoint(ranks)
                # The dangling mass D stays PLAN-side: a 1-row
                # aggregate cross-joined (broadcast) into the update
                # projection instead of a per-iteration driver
                # ``first()``. Same IEEE arithmetic (the collected
                # double and the column value are the same bits);
                # removes one blocking driver round trip + job per
                # iteration, so the scheduler pipelines the whole
                # iteration as one job.
                dmass_df = (
                    ranks.join(dang_nodes, on="node")
                    .agg(
                        F.round(
                            F.sum(
                                F.round(F.col("rank"), _RANK_DECIMALS).cast(
                                    "decimal(20,9)"
                                )
                            ).cast("double"),
                            _RANK_DECIMALS,
                        ).alias("__dm")
                    )
                )
                extra = F.lit(float(damping)) * (
                    F.coalesce(F.col("__dm"), F.lit(0.0))
                    / F.lit(float(n_nodes))
                )
            contrib = (
                edeg.join(ranks.withColumnRenamed("node", "src"), on="src")
                .select(
                    F.col("dst").alias("node"),
                    F.round(F.col("rank") / F.col("out_deg"), _RANK_DECIMALS)
                    .cast("decimal(20,9)")
                    .alias("__c"),
                )
                .groupBy("node")
                .agg(F.sum("__c").alias("__in"))
            )
            upd = base + F.lit(float(damping)) * F.coalesce(
                F.col("__in").cast("double"), F.lit(0.0)
            )
            if extra is not None:
                upd = upd + extra
            ranks = nodes.join(contrib, on="node", how="left")
            if dmass_df is not None:
                ranks = ranks.crossJoin(F.broadcast(dmass_df))
            ranks = ranks.select(
                "node",
                F.round(upd, _RANK_DECIMALS).alias("rank"),
            )
            if checkpoint_every and (it + 1) % checkpoint_every == 0 and (
                it + 1
            ) < iterations:
                ranks = checkpoint(ranks)
        return checkpoint(ranks)


def hits(
    edges: DataFrame,
    iterations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    dedupe_edges: bool = True,
) -> DataFrame:
    """Exact deterministic HITS (Kleinberg hubs/authorities) over a
    directed edge table — the complementary centrality to
    :func:`pagerank`: authorities are pointed AT by good hubs, hubs
    point TO good authorities (link-farm detection reads the two
    scores against each other).

    Returns ``(node, hub, authority)``. Fixed ``iterations`` of

        auth(v) = sum over (u,v) of hub(u),  then  auth /= max(auth)
        hub(u)  = sum over (u,v) of auth(v), then  hub  /= max(hub)

    with the same engine-portability discipline as :func:`pagerank`:
    per-edge contributions are the 9-decimal-rounded scores summed as
    DECIMAL(20,9) (order-invariant), normalization divides two
    identically-rounded doubles (IEEE-deterministic), results round
    back to 9. Max-normalization (rather than L2) is deliberate: it
    is exactly replayable in SQL. Nodes with no in-edges get
    authority 0; no out-edges, hub 0.

    Scale shape: per iteration two edge⋈score joins + two DECIMAL
    aggregations (map-side combine) + two single-row max aggregates
    (the only driver-side values — each ``first()`` doubles as the
    eager fill of the persisted raw table; see the note in
    ``_norm_sum``). Edges/nodes persist across
    iterations inside a caching scope; the result is
    checkpoint-materialized before the handles release.

    Examples
    --------
        >>> e = spark.createDataFrame(
        ...     [("a", "b"), ("c", "b"), ("b", "c")], ["src", "dst"])
        >>> r = {x.node: (x.hub, x.authority)
        ...      for x in hits(e, iterations=1).collect()}
        >>> r["b"]  # everyone points at b: top authority
        (0.5, 1.0)
        >>> r["a"]  # a points only at the top authority: top hub
        (1.0, 0.0)
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(
        F.col(src_col).cast("string").alias("src"),
        F.col(dst_col).cast("string").alias("dst"),
    )
    if dedupe_edges:
        e = e.distinct()

    def _norm_sum(joined: DataFrame, key: str, val: str) -> DataFrame:
        """groupBy(key) DECIMAL-sum of round-9 ``val``, then divide
        by the max and round back to 9. The raw table is persisted
        (scope-tracked): it is consumed twice (the max aggregate, the
        normalized projection) and its normalized result twice more
        downstream — without the persist every consumer re-executes
        the edge⋈score join chain (measured 2x on the bench query)."""
        raw = caching.track(
            joined.select(
                F.col(key).alias("node"),
                F.round(F.col(val), _RANK_DECIMALS)
                .cast("decimal(20,9)")
                .alias("__c"),
            )
            .groupBy("node")
            .agg(
                F.round(F.sum("__c").cast("double"), _RANK_DECIMALS).alias(
                    "__raw"
                )
            )
            .persist()
        )
        # The max is a DRIVER-side scalar on purpose. A plan-side
        # rewrite (1-row aggregate broadcast cross-joined into the
        # normalizing projection) was measured and REVERTED: the
        # blocking ``first()`` doubles as the eager fill of ``raw``'s
        # persist, so every later consumer reads the cache; the lazy
        # version stacked six nested broadcast builds into one deep
        # final plan and regressed hits_hosts 5.03 -> 6.87 s at sf0.1
        # (r11 A/B, anchor_texts control flat).
        mx = raw.agg(F.max("__raw")).first()[0]
        if not mx:
            return raw.select("node", F.lit(0.0).alias("__s"))
        return raw.select(
            "node",
            F.round(F.col("__raw") / F.lit(float(mx)), _RANK_DECIMALS).alias(
                "__s"
            ),
        )

    with caching.scope():
        e = caching.track(e.persist())
        nodes = caching.track(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .persist()
        )
        # no eager count: the first iteration's blocking first() (the
        # max aggregate) is the scope's first action and fills the
        # nodes/edges caches as part of that job — an explicit count
        # here was one more serialized driver round trip (profiled:
        # the hits tail is ~25 small jobs, wall ≈ job-round overhead)
        hub = nodes.withColumn("hub", F.lit(1.0))
        auth = None
        for _ in range(iterations):
            auth = _norm_sum(
                e.join(hub.withColumnRenamed("node", "src"), on="src"),
                "dst",
                "hub",
            )
            hub = _norm_sum(
                e.join(
                    auth.withColumnRenamed("node", "dst"), on="dst"
                ),
                "src",
                "__s",
            )
            hub = hub.withColumnRenamed("__s", "hub")
        out = (
            nodes.join(
                hub.select("node", F.col("hub").alias("__h")), "node", "left"
            )
            .join(auth.select("node", F.col("__s").alias("__a")), "node", "left")
            .select(
                "node",
                F.coalesce("__h", F.lit(0.0)).alias("hub"),
                F.coalesce("__a", F.lit(0.0)).alias("authority"),
            )
        )
        return out.localCheckpoint(eager=True)
