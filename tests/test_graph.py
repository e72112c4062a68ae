"""operators/graph — out-degrees and exact deterministic PageRank."""

from __future__ import annotations

from collections import defaultdict

import pytest

from flycatcher_spark.operators import graph


def _r9(x):
    """Spark's F.round semantics on doubles: HALF_UP on the shortest
    decimal representation (java BigDecimal.valueOf). Python's
    built-in round() is half-EVEN and diverges on boundary values."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(float(x))).quantize(
        Decimal("1e-9"), rounding=ROUND_HALF_UP
    ))


def _py_pagerank(edges, iterations=3, damping=0.85, dangling="drop"):
    """Driver-side replica of the documented arithmetic (round-9
    contributions, round-9 ranks, dangling mass dropped or — r8 —
    redistributed as d * D / n)."""
    edges = sorted(set(edges))
    nodes = sorted({x for t in edges for x in t})
    n = len(nodes)
    outd = defaultdict(int)
    for s, _ in edges:
        outd[s] += 1
    from decimal import Decimal

    def dec9(x):  # exact DECIMAL(20,9) image of a round-9 double
        return Decimal(repr(_r9(x)))

    r = {v: _r9(1.0 / n) for v in nodes}
    for _ in range(iterations):
        extra = 0.0
        if dangling == "redistribute":
            dm = _r9(float(sum(
                (dec9(r[v]) for v in nodes if v not in outd), Decimal(0)
            )))
            extra = damping * (dm / n)
        inc = defaultdict(lambda: Decimal(0))
        for s, d in edges:
            inc[d] += dec9(r[s] / outd[s])
        r = {
            v: _r9(
                (1.0 - damping) / n
                + damping * float(inc.get(v, Decimal(0)))
                + extra
            )
            for v in nodes
        }
    return r


EDGES = [
    ("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"), ("d", "a"),
    ("d", "b"), ("e", "a"), ("c", "e"),
]


class TestOutDegrees:
    def test_counts(self, spark):
        e = spark.createDataFrame(EDGES, ["src", "dst"])
        deg = {r.src: r.out_deg for r in graph.out_degrees(e).collect()}
        assert deg == {"a": 2, "b": 1, "c": 2, "d": 2, "e": 1}


class TestPagerank:
    def test_matches_python_reference(self, spark):
        e = spark.createDataFrame(EDGES, ["src", "dst"])
        got = {r.node: r.rank for r in graph.pagerank(e, iterations=3).collect()}
        want = _py_pagerank(EDGES, iterations=3)
        assert got == want  # exact — both sides use the same rounding

    def test_zero_iterations_is_uniform(self, spark):
        e = spark.createDataFrame(EDGES, ["src", "dst"])
        got = {r.node: r.rank for r in graph.pagerank(e, iterations=0).collect()}
        assert set(got.values()) == {round(1.0 / 5, 9)}

    def test_dangling_mass_dropped(self, spark):
        # b is dangling: total mass shrinks but stays positive,
        # ranks stay deterministic
        e = spark.createDataFrame([("a", "b")], ["src", "dst"])
        got = {r.node: r.rank for r in graph.pagerank(e, iterations=2).collect()}
        want = _py_pagerank([("a", "b")], iterations=2)
        assert got == want
        assert sum(got.values()) < 1.0

    def test_duplicate_edges_collapse(self, spark):
        e = spark.createDataFrame(
            EDGES + EDGES[:4], ["src", "dst"]
        )  # duplicates must not double-count contributions
        got = {r.node: r.rank for r in graph.pagerank(e, iterations=2).collect()}
        assert got == _py_pagerank(EDGES, iterations=2)

    def test_redistribute_matches_python_reference(self, spark):
        # b and f are sinks: redistribute must add d*D/n each round
        edges = EDGES + [("a", "f")]
        e = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r.node: r.rank
            for r in graph.pagerank(
                e, iterations=3, dangling="redistribute"
            ).collect()
        }
        assert got == _py_pagerank(edges, iterations=3,
                                   dangling="redistribute")

    def test_redistribute_conserves_mass(self, spark):
        # with sinks present: drop leaks mass, redistribute keeps the
        # rank sum at 1 to within the 9-decimal rounding grid
        edges = [("a", "b"), ("b", "c"), ("a", "d"), ("d", "a")]
        e = spark.createDataFrame(edges, ["src", "dst"])
        dropped = {
            r.node: r.rank for r in graph.pagerank(e, iterations=4).collect()
        }
        kept = {
            r.node: r.rank
            for r in graph.pagerank(
                e, iterations=4, dangling="redistribute"
            ).collect()
        }
        assert sum(dropped.values()) < 0.999
        # error bound: n round-offs of <= 5e-10 each per iteration
        assert abs(sum(kept.values()) - 1.0) < len(kept) * 4 * 5e-10

    def test_redistribute_no_sinks_equals_drop(self, spark):
        # every node has out-edges: D == 0, the modes must agree
        edges = [("a", "b"), ("b", "c"), ("c", "a")]
        e = spark.createDataFrame(edges, ["src", "dst"])
        drop = {r.node: r.rank for r in graph.pagerank(e, iterations=3).collect()}
        redist = {
            r.node: r.rank
            for r in graph.pagerank(
                e, iterations=3, dangling="redistribute"
            ).collect()
        }
        assert drop == redist

    def test_bad_dangling_mode_raises(self, spark):
        e = spark.createDataFrame([("a", "b")], ["src", "dst"])
        with pytest.raises(ValueError, match="dangling"):
            graph.pagerank(e, dangling="teleport")

    def test_checkpointing_does_not_change_values(self, spark):
        e = spark.createDataFrame(EDGES, ["src", "dst"])
        plain = {
            r.node: r.rank
            for r in graph.pagerank(e, iterations=5, checkpoint_every=0).collect()
        }
        ckpt = {
            r.node: r.rank
            for r in graph.pagerank(e, iterations=5, checkpoint_every=2).collect()
        }
        assert plain == ckpt == _py_pagerank(EDGES, iterations=5)

    def test_superseded_checkpoints_released(self, spark):
        # redistribute checkpoints the ranks every iteration and
        # checkpoint_every=2 adds more; only the result's may stay
        e = spark.createDataFrame(EDGES, ["src", "dst"])
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keySet())
        ranks = graph.pagerank(
            e, iterations=6, checkpoint_every=2, dangling="redistribute"
        )
        left = set(jsc.getPersistentRDDs().keySet()) - before
        assert len(left) <= 1
        assert {r.node: r.rank for r in ranks.collect()} == _py_pagerank(
            EDGES, iterations=6, dangling="redistribute"
        )

    def test_well_linked_node_outranks_periphery(self, spark):
        e = spark.createDataFrame(EDGES, ["src", "dst"])
        got = {r.node: r.rank for r in graph.pagerank(e, iterations=4).collect()}
        assert got["a"] == max(got.values())
        assert got["d"] == min(got.values())  # nothing links to d

    def test_negative_iterations_raise(self, spark):
        e = spark.createDataFrame(EDGES, ["src", "dst"])
        with pytest.raises(ValueError):
            graph.pagerank(e, iterations=-1)


def _py_hits(edges, iterations=2):
    edges = sorted(set(edges))
    nodes = sorted({x for t in edges for x in t})
    h = {n: 1.0 for n in nodes}
    a = {}
    for _ in range(iterations):
        a = {}
        for s, d in edges:
            a[d] = a.get(d, 0.0) + round(h[s], 9)
        a = {n: round(v, 9) for n, v in a.items()}
        mx = max(a.values())
        a = {n: round(v / mx, 9) for n, v in a.items()}
        h = {}
        for s, d in edges:
            h[s] = h.get(s, 0.0) + round(a[d], 9)
        h = {n: round(v, 9) for n, v in h.items()}
        mx = max(h.values())
        h = {n: round(v / mx, 9) for n, v in h.items()}
    return {
        n: (h.get(n, 0.0), a.get(n, 0.0)) for n in nodes
    }


class TestHits:
    def test_matches_python_reference(self, spark):
        e = spark.createDataFrame(EDGES, ["src", "dst"])
        got = {
            r.node: (r.hub, r.authority)
            for r in graph.hits(e, iterations=2).collect()
        }
        assert got == _py_hits(EDGES, iterations=2)

    def test_pure_hub_and_pure_authority(self, spark):
        # a only points, b is only pointed at
        e = spark.createDataFrame(
            [("a", "b"), ("c", "b"), ("b", "c")], ["src", "dst"]
        )
        got = {
            r.node: (r.hub, r.authority)
            for r in graph.hits(e, iterations=1).collect()
        }
        assert got["a"][1] == 0.0      # nothing points at a
        assert got["b"][1] == 1.0      # top authority (2 hubs in)
        assert max(v[0] for v in got.values()) == 1.0

    def test_duplicate_edges_collapse(self, spark):
        e = spark.createDataFrame(EDGES + EDGES[:3], ["src", "dst"])
        got = {
            r.node: (r.hub, r.authority)
            for r in graph.hits(e, iterations=2).collect()
        }
        assert got == _py_hits(EDGES, iterations=2)

    def test_zero_iterations_raise(self, spark):
        e = spark.createDataFrame(EDGES, ["src", "dst"])
        with pytest.raises(ValueError):
            graph.hits(e, iterations=0)
