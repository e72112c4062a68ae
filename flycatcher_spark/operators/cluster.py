"""Distributed k-means clustering (exact, deterministic Lloyd's).

Complements the two existing clusterers rather than repeating them:

- :func:`similarity.train_ivf_centroids` runs driver-side numpy
  k-means over a *bounded sample* — fast index bootstrapping with
  balanced cells, but seed-dependent and not reproducible across
  engines.
- This module runs **full-corpus Lloyd iterations whose every step is
  engine-portable**: deterministic init (explicit ids or the k
  smallest ids), per-dimension DECIMAL-summed means (bitwise
  identical under any partitioning), and argmin with a documented
  tie-break — so a fixed-iteration fit is reproducible cell-for-cell
  and DuckDB can replay it with unrolled SQL (the ``kmeans_clusters``
  oracle query).

The practical role in a curation pipeline is producing the *blocking
assignment* for SemDeDup (:func:`quality.semantic_dedup` takes any
cluster column) — cluster once per corpus release, then all pairwise
work is bounded intra-cluster.

Scale shape (per iteration, corpus scanned once):

- **assignment is map-only**: the k centroids are embedded as literal
  arrays (k·d doubles in the plan — fine for the SemDeDup regime of
  tens-to-thousands of cells; for ANN-scale k use the sampled IVF
  trainer instead), so there is no join and the corpus never
  shuffles;
- **the only shuffle carries k·d partial sums** per map partition
  (hash aggregate with map-side combine), never rows;
- **the only collect is k rows** of (cluster, count, d means).

Reference parity note: the reference engine has no clustering
operator (SURVEY.md §2.8 gap list); this is a §7 scale extension.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["kmeans_fit", "kmeans_assign", "kmeans"]

# Per-token rounding used throughout the repo for order-independent
# DECIMAL aggregation (see quality.unigram_surprise): per-dimension
# contributions round to 9 decimals, means round back to 9; reported
# distances round to 6 (unit-normalized embeddings put dist^2 in
# [0, 4], so 1e-6 granularity is many orders above double ULP noise).
_MEAN_DECIMALS = 9
_DIST_DECIMALS = 6


def _with_assignment(
    vectors: DataFrame, vec_col: str, centroids: Sequence[Sequence[float]]
) -> DataFrame:
    """Add ``cluster`` and ``dist`` columns — one map-only pass.

    Distances use the three-term form ``|v|^2 - 2 v.c + |c|^2`` (not
    ``sum((x-y)^2)``) deliberately: it is the same expression shape
    DuckDB's ``list_dot_product`` replay uses, so both engines agree
    to well under the 1e-6 reporting granularity. ``greatest(.., 0)``
    clamps the tiny negative residue a self-distance can leave (round
    would otherwise emit -0.0, which hashes differently from 0.0).

    Argmin is ``array_min`` over (dist, cluster) structs built by ONE
    ``transform`` over an array-of-centroids literal — lexicographic
    struct ordering breaks ties toward the lower cluster id (the
    oracle's ``ORDER BY d, cluster``). The single-transform shape
    (rather than k expression branches) keeps the plan tree O(1) in
    k, which is what makes iteration-heavy fits cheap to analyze.
    ``|c|^2`` terms ship pre-computed (Python sequential sums — the
    same left-to-right double fold the SQL replay's dot product
    uses).
    """
    v = F.col(vec_col)
    cents = F.array(*[F.lit([float(x) for x in c]) for c in centroids])
    ncs = []
    for c in centroids:
        c2 = 0.0
        for x in c:
            c2 += float(x) * float(x)
        ncs.append(c2)
    nc = F.lit(ncs)

    def dist_i(nv: Column, i: Column) -> Column:
        dot_vc = F.aggregate(
            F.zip_with(v, F.element_at(cents, i + 1), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        return F.round(
            F.greatest(
                nv - F.lit(2.0) * dot_vc + F.element_at(nc, i + 1),
                F.lit(0.0),
            ),
            _DIST_DECIMALS,
        )

    best = F.array_min(
        F.transform(
            F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
            lambda i: F.struct(
                dist_i(F.col("__nv"), i).alias("d"),
                i.cast("int").alias("c"),
            ),
        )
    )
    return (
        vectors.withColumn(
            # stage |v|^2 through a column: per-centroid lambdas
            # referencing the raw aggregate would evaluate it k times
            "__nv",
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x),
        )
        .withColumn("__best", best)
        .withColumn("cluster", F.col("__best.c"))
        .withColumn("dist", F.col("__best.d"))
        .drop("__nv", "__best")
    )


def _mean_update(
    assigned: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
) -> list[list[float]]:
    """One Lloyd mean update: per-(cluster, dimension) DECIMAL sums →
    rounded means, collected as k×d rows (posexplode + ONE aggregate
    expression — d separate agg columns would make Catalyst re-analyze
    a plan O(d) wide per iteration). The shuffle carries partial
    (cluster, dim) sums per map partition. Empty clusters keep their
    previous centroid (the oracle's LEFT JOIN / coalesce rule)."""
    d = len(centroids[0])
    rows = (
        assigned.select(
            F.col("cluster"), F.posexplode(F.col(vec_col)).alias("dim", "val")
        )
        .groupBy("cluster", "dim")
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("val"), _MEAN_DECIMALS).cast("decimal(20,9)")
                ).cast("double")
                / F.count(F.lit(1)),
                _MEAN_DECIMALS,
            ).alias("mu")
        )
        .collect()
    )
    means: dict[int, list[float]] = {}
    for r in rows:
        means.setdefault(int(r["cluster"]), [0.0] * d)[int(r["dim"])] = float(
            r["mu"]
        )
    return [means.get(i, list(c)) for i, c in enumerate(centroids)]


def _init_centroids(
    vectors: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    init_ids: Sequence[int] | None,
) -> list[list[float]]:
    if init_ids is not None:
        if len(init_ids) != k:
            raise ValueError(f"init_ids must have length k={k}")
        rows = (
            vectors.where(F.col(id_col).isin([int(i) for i in init_ids]))
            .select(id_col, vec_col)
            .collect()
        )
        by_id = {r[id_col]: [float(x) for x in r[vec_col]] for r in rows}
        missing = [i for i in init_ids if i not in by_id]
        if missing:
            raise ValueError(f"init_ids not found in corpus: {missing}")
        return [by_id[i] for i in init_ids]
    # deterministic default: the k smallest ids (a distributed
    # TakeOrdered, not a global sort)
    rows = vectors.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(rows) < k:
        raise ValueError(f"corpus has fewer than k={k} vectors")
    return [[float(x) for x in r[vec_col]] for r in rows]


def kmeans_fit(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_ids: Sequence[int] | None = None,
    n_iter: int = 2,
) -> list[list[float]]:
    """Fit ``k`` centroids with ``n_iter`` exact Lloyd rounds
    (assign → mean update) over the full corpus and return them as
    plain rounded-double lists (the same artifact shape as
    :func:`similarity.train_ivf_centroids`, so
    :func:`similarity.save_ivf_centroids` persists these too).

    Deterministic end to end: init from ``init_ids`` (or the k
    smallest ids), per-dimension means DECIMAL-summed (partitioning-
    independent) and rounded to 9 decimals, assignment ties toward
    the lower cluster id — the fit is reproducible cell-for-cell
    across engines, which the sampled IVF trainer is not.

    Examples
    --------
        >>> vecs = spark.createDataFrame(
        ...     [(1, [0.0, 0.0]), (2, [0.0, 0.2]), (3, [4.0, 4.0]),
        ...      (4, [4.0, 4.2])], ["vec_id", "embedding"])
        >>> kmeans_fit(vecs, k=2, init_ids=[1, 3], n_iter=1)
        [[0.0, 0.1], [4.0, 4.1]]
    """
    if n_iter < 0:
        raise ValueError("n_iter must be >= 0")
    centroids = _init_centroids(vectors, k, id_col, vec_col, init_ids)
    if n_iter == 0:
        return centroids
    slim = vectors.select(id_col, vec_col)
    slim.persist()
    try:
        for _ in range(n_iter):
            assigned = _with_assignment(slim, vec_col, centroids)
            centroids = _mean_update(assigned, vec_col, centroids)
    finally:
        slim.unpersist()
    return centroids


def kmeans_assign(
    vectors: DataFrame,
    centroids: Sequence[Sequence[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid — map-only (the
    centroids ride in the plan; the corpus never shuffles). Returns
    all input columns plus ``cluster`` (int) and ``dist`` (squared
    L2, rounded to 6 decimals).

    Examples
    --------
        >>> vecs = spark.createDataFrame(
        ...     [(1, [0.0, 0.0]), (2, [3.0, 4.0])], ["vec_id", "embedding"])
        >>> out = kmeans_assign(vecs, [[0.0, 0.0], [3.0, 4.0]])
        >>> [(r.vec_id, r.cluster, r.dist) for r in
        ...  out.orderBy("vec_id").collect()]
        [(1, 0, 0.0), (2, 1, 0.0)]
    """
    if not centroids:
        raise ValueError("centroids must be non-empty")
    return _with_assignment(
        vectors, vec_col, [list(c) for c in centroids]
    )


def kmeans(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_ids: Sequence[int] | None = None,
    n_iter: int = 2,
) -> DataFrame:
    """Fit + final assignment in one call: ``n_iter`` Lloyd rounds,
    then one more map-only assignment under the final centroids.
    Returns the input columns plus ``cluster`` and ``dist`` — the
    blocking input :func:`quality.semantic_dedup` expects in
    ``cluster_col``."""
    centroids = kmeans_fit(
        vectors, k, id_col=id_col, vec_col=vec_col,
        init_ids=init_ids, n_iter=n_iter,
    )
    return kmeans_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
