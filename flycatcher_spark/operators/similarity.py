"""Similarity search over embedding columns (``array<float>``).

Extensions beyond the reference surface (BASELINE.json north star).
Scale design notes:

- ``cosine`` / ``dot`` / ``norm`` are pure ``F.zip_with`` /
  ``F.aggregate`` expressions — JVM-side, no Python crossing.
- ``brute_force_topk`` broadcasts the (small) query set against the
  (huge) corpus: a map-side nested loop with a per-partition top-k
  (window over query id), so the corpus is scanned once and only
  ``|queries| * k`` rows survive the final shuffle.
- ``signature_bits`` implements random-hyperplane LSH with planes
  derived deterministically from a seed, giving a bucketed
  (sub-linear candidate set) path for corpus-vs-corpus search at
  scale; buckets replace the quadratic cross join with a
  ``groupBy(bucket)`` shuffle.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from .. import caching
from pyspark.sql.functions import pandas_udf

from ._vectors import (
    adc_udf,
    cells_udf,
    modal_dim,
    nearest_cells,
    pq_codes,
    scatter,
    stack_valid,
    top_k,
)
from .text import _col


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns (JVM-side).

    Examples
    --------
        >>> df = spark.createDataFrame([([1.0, 2.0], [3.0, 4.0])], ["a", "b"])
        >>> df.select(dot(F.col("a"), F.col("b")).alias("d")).first()["d"]
        11.0
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    """L2 norm of an array<numeric> column.

    Examples
    --------
        >>> df = spark.createDataFrame([([3.0, 4.0],)], ["a"])
        >>> df.select(norm(F.col("a")).alias("n")).first()["n"]
        5.0
    """
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; null-safe on zero vectors (returns null).

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [([3.0, 4.0], [3.0, 4.0]), ([1.0, 0.0], [0.0, 1.0])],
        ...     ["a", "b"])
        >>> [r.c for r in df.select(
        ...     F.round(cosine(F.col("a"), F.col("b")), 4).alias("c")
        ... ).collect()]
        [1.0, 0.0]
    """
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom)


def cosine_kernel(a: Column, b: Column) -> Column:
    """Arrow-batched numpy cosine over two array<double> columns.

    Catalyst's ``zip_with``/``aggregate`` folds are CodegenFallback
    (interpreted): ~3×dim expression evals per pair. This kernel does
    the identical math vectorized per Arrow batch — the scale path
    for pair-scoring stages. Values can differ from the fold in the
    last float ulp (summation order), so oracle-compared queries keep
    the fold via ``impl="sql"``.
    """

    @pandas_udf("double")
    def _cos(xs: pd.Series, ys: pd.Series) -> pd.Series:
        n = len(xs)
        if n == 0:
            return pd.Series([], dtype="float64")
        out = np.full(n, np.nan)
        ok = np.fromiter(
            (
                x is not None and y is not None and len(x) == len(y)
                for x, y in zip(xs, ys)
            ),
            dtype=bool,
        )
        if ok.any():
            X = np.stack([np.asarray(x, dtype=np.float64) for x, m in zip(xs, ok) if m])
            Y = np.stack([np.asarray(y, dtype=np.float64) for y, m in zip(ys, ok) if m])
            dots = np.einsum("ij,ij->i", X, Y)
            denom = np.linalg.norm(X, axis=1) * np.linalg.norm(Y, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.where(denom > 0, dots / denom, np.nan)
            out[ok] = sims
        return pd.Series(out)

    return _cos(a, b)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    impl: str = "sql",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns ``(query_id, vec_id, sim, rank)``. The query side is
    broadcast — correct whenever queries fit in executor memory
    (thousands of vectors); the corpus side streams through a single
    scan. Excludes self-matches when ids collide.

    ``impl="sql"`` (default) scores with the Catalyst fold —
    engine-exact values for oracle comparison. ``impl="numpy"``
    scores with :func:`cosine_kernel` (Arrow batches; the fold is
    interpreted at ~3×dim evals per pair, the kernel is one BLAS
    pass) — same ranking, values may differ in the last ulp.

    Examples
    --------
        >>> corpus = spark.createDataFrame(
        ...     [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        ...     "vec_id long, embedding array<double>")
        >>> res = brute_force_topk(corpus, corpus.where("vec_id = 1"), k=2)
        >>> [(r.query_id, r.vec_id, r.rank)
        ...  for r in res.orderBy("rank").collect()]
        [(1, 2, 1), (1, 3, 2)]
    """
    query_id_col = query_id_col or id_col
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    joined = corpus.crossJoin(F.broadcast(q)).where(
        F.col(id_col) != F.col("query_id")
    )
    score = (
        cosine_kernel(F.col(vec_col), F.col("__qvec"))
        if impl == "numpy"
        else cosine(F.col(vec_col), F.col("__qvec"))
    )
    scored = joined.select(
        "query_id",
        F.col(id_col),
        F.round(score, 6).alias("sim"),
    )
    return top_k(scored, k, id_col)


def _hyperplanes(n_bits: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes.

    A tiny splitmix-style generator (no numpy dependency at the
    executor, planes are driver-side literals) — reproducible across
    runs and machines.
    """
    state = seed & 0xFFFFFFFFFFFFFFFF
    planes: list[list[float]] = []

    def next_float() -> float:
        nonlocal state
        state = (state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z ^= z >> 31
        u = (z >> 11) / float(1 << 53)  # uniform [0,1)
        return u

    for _ in range(n_bits):
        # Box-Muller pairs for approximately gaussian components
        row = []
        while len(row) < dim:
            u1, u2 = max(next_float(), 1e-12), next_float()
            r = math.sqrt(-2.0 * math.log(u1))
            row.append(r * math.cos(2 * math.pi * u2))
            if len(row) < dim:
                row.append(r * math.sin(2 * math.pi * u2))
        planes.append(row[:dim])
    return planes


def signature_bits(
    vec: Column, dim: int, n_bits: int = 16, seed: int = 42
) -> Column:
    """Random-hyperplane LSH signature as a bigint (bit i = sign of
    the projection onto plane i). Pure column expressions — the
    engine-portable parity path. Catalyst HOF folds are
    CodegenFallback (interpreted): this evaluates ``n_bits``
    interpreted dot-product folds per row, so production pipelines
    should use :func:`signature_bits_kernel` (one BLAS matmul per
    Arrow batch, bit-identical; pinned by a pytest)."""
    planes = _hyperplanes(n_bits, dim, seed)
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        proj = dot(vec, F.array(*[F.lit(float(w)) for w in plane]))
        sig = sig + F.when(proj > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return sig


def signature_bits_kernel(
    vec: Column, dim: int, n_bits: int = 16, seed: int = 42
) -> Column:
    """Arrow/numpy implementation of :func:`signature_bits`: one
    ``V @ P.T`` matmul per batch instead of ``n_bits`` interpreted
    fold evaluations per row. Planes are identical (same
    deterministic generator); a float64 matmul differs from the
    sequential fold only in summation order, which can flip a sign
    bit only when a projection lands within rounding error of zero —
    tests pin bit-equality on the real embeddings."""
    P = np.array(_hyperplanes(n_bits, dim, seed), dtype=np.float64)
    weights = (1 << np.arange(n_bits, dtype=np.int64))

    @pandas_udf("bigint")
    def _sig(vecs: pd.Series) -> pd.Series:
        # null/short vectors get signature 0, matching the SQL fold
        # (null projection contributes the otherwise(0) branch).
        mask, V = stack_valid(vecs, dim)
        out = np.zeros(len(vecs), dtype=np.int64)
        out[mask] = ((V @ P.T) > 0) @ weights  # (n, n_bits) sign bits
        return pd.Series(out)

    return _sig(vec)


def _train_sample(
    valid: DataFrame, vec_col: str, seed: int, max_train_rows: int
) -> np.ndarray:
    """The bounded training sample of ``valid`` (a frame already
    filtered to one vector dimension by :func:`modal_dim`) as an
    ``(n, dim)`` float64 matrix: one ``count``, a seeded sample only
    above ``max_train_rows``, one ``collect`` — a fixed budget no
    matter the corpus size. Every index trainer (IVF centroids, PQ
    codebooks) fits :func:`_np_kmeans` to it."""
    sample = valid.select(F.col(vec_col).alias("v"))
    n = sample.count()
    if n == 0:
        raise ValueError("no trainable vectors")
    if n > max_train_rows:
        sample = sample.sample(fraction=max_train_rows / n, seed=seed)
    return np.array([row["v"] for row in sample.collect()], dtype=np.float64)


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    max_train_rows: int = 100_000,
) -> list[list[float]]:
    """Train the IVF coarse quantizer (:func:`_np_kmeans` over a
    bounded sample) and return the centroids as plain lists — the
    reusable index artifact. Lloyd's iterations from a k-means++ start
    give cells of balanced size, so probing ``n_probe`` of ``n_cells``
    scans about ``n_probe / n_cells`` of the corpus. Build once per
    corpus release (see :func:`save_ivf_centroids`), then pass to
    :func:`ivf_topk` via ``centroids=`` so search jobs never retrain.
    """
    _, valid = modal_dim(corpus, vec_col, "train_ivf_centroids")
    X = _train_sample(corpus.where(valid), vec_col, seed, max_train_rows)
    return _np_kmeans(X, n_cells, seed).tolist()


def save_ivf_centroids(
    spark, centroids: list[list[float]], path: str
) -> None:
    """Persist IVF centroids as a tiny parquet side table
    ``(cell int, center array<double>)`` — the production index
    artifact: train once per corpus release, broadcast-read by every
    search job.

    Examples
    --------
        >>> path = str(getfixture("tmp_path") / "ivf_idx")
        >>> save_ivf_centroids(spark, [[1.0, 2.0], [3.0, 4.0]], path)
        >>> load_ivf_centroids(spark, path)
        [[1.0, 2.0], [3.0, 4.0]]
    """
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    spark.createDataFrame(rows, "cell int, center array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def load_ivf_centroids(spark, path: str) -> list[list[float]]:
    """Load centroids saved by :func:`save_ivf_centroids` (cell order
    restored)."""
    rows = spark.read.parquet(path).orderBy("cell").collect()
    return [[float(x) for x in r["center"]] for r in rows]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    n_cells: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    max_train_rows: int = 100_000,
    impl: str = "numpy",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style approximate nearest neighbors.

    Classic inverted-file search re-expressed Spark-first:

    1. **Train** a coarse quantizer (``n_cells`` centroids, see
       :func:`train_ivf_centroids`) on a bounded sample of the corpus
       — one count and one collect, then numpy k-means on the driver;
       the cells come out balanced in size.
    2. **Assign** every corpus vector to its nearest centroid — the
       centroid table is tiny and broadcast; assignment is a map-only
       scored-window pass, so the corpus shuffles once on cell id.
    3. **Probe**: each query searches only its ``n_probe`` nearest
       cells — the candidate set shrinks ~``n_cells/n_probe``× vs
       brute force, the recall/compute dial of IVF.

    ``impl="numpy"`` (default) assigns cells with one Arrow-batched
    numpy distance matrix per batch; ``impl="sql"`` keeps the pure
    Catalyst fold (interpreted HOFs — ``n_cells`` fold evals per row,
    the parity/oracle path). Both break distance ties toward the
    lower cell index; tests pin assignment equality.

    Returns ``(query_id, vec_id, sim, rank)`` like
    :func:`brute_force_topk` (which remains the exact baseline).
    Passing pretrained ``centroids`` (from :func:`train_ivf_centroids`
    / :func:`load_ivf_centroids`) skips the training stage entirely —
    the production search-job shape.
    """
    query_id_col = query_id_col or id_col

    # drop null / ragged embeddings from BOTH sides up front
    _, valid = modal_dim(corpus, vec_col, "ivf_topk")
    corpus = corpus.where(valid)
    queries = queries.where(valid)

    if centroids is None:
        X = _train_sample(corpus, vec_col, seed, max_train_rows)
        centroids = _np_kmeans(X, n_cells, seed).tolist()

    def _cell_scores(vec: Column) -> list[Column]:
        # negative squared L2 to each centroid (driver-side literals)
        scores = []
        for c in centroids:
            lit_c = F.array(*[F.lit(w) for w in c])
            diff = F.zip_with(vec, lit_c, lambda x, y: (x - y) * (x - y))
            scores.append(F.aggregate(diff, F.lit(0.0), lambda a, v: a + v))
        return scores

    def _assign(df: DataFrame, n_best: int, out: str) -> DataFrame:
        if impl == "numpy":
            C = np.array(centroids, dtype=np.float64)  # (cells, dim)
            return df.withColumn(out, cells_udf(C, n_best)(F.col(vec_col)))
        dists = F.array(*_cell_scores(F.col(vec_col)))
        ranked = F.transform(
            F.array_sort(
                F.zip_with(
                    dists,
                    F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
                    lambda d, i: F.struct(d.alias("d"), i.alias("cell")),
                )
            ),
            lambda s: s["cell"],
        )
        return df.withColumn(out, F.slice(ranked, 1, n_best))

    corpus_cells = _assign(corpus, 1, "__cells").withColumn(
        "__cell", F.col("__cells")[0]
    ).drop("__cells")
    query_cells = (
        _assign(
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(vec_col).alias("__qvec"),
            ).withColumnRenamed("__qvec", vec_col),
            n_probe,
            "__cells",
        )
        .select(
            "query_id",
            F.col(vec_col).alias("__qvec"),
            F.explode("__cells").alias("__cell"),
        )
    )

    joined = corpus_cells.join(F.broadcast(query_cells), "__cell").where(
        F.col(id_col) != F.col("query_id")
    )
    scored = joined.select(
        "query_id",
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("__qvec")), 6).alias("sim"),
    )
    return top_k(scored, k, id_col)


def lsh_bucketed_topk(
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 12,
    seed: int = 42,
    impl: str = "numpy",
    n_tables: int = 1,
) -> DataFrame:
    """Approximate all-pairs top-k within LSH buckets.

    Corpus-vs-corpus search without the quadratic cross join: vectors
    sharing a signature bucket are candidate neighbors; a
    ``groupBy(table, bucket)``-shaped self-join shuffle replaces the
    cross product.

    Recall has two dials (classic LSH amplification): ``n_bits`` ANDs
    hyperplane agreements (fewer bits = bigger buckets = higher
    recall, more compute) and ``n_tables`` ORs independent signature
    tables (a pair is a candidate if it collides in ANY table) —
    far-apart neighbors need several tables, since a single
    random-hyperplane table only reliably buckets near-identical
    vectors. With multiple tables the candidate pair set is
    deduplicated BEFORE scoring, so each pair's cosine is computed
    once; the signature stage stays map-only and the bucket join
    carries only ``(id, table, sig)``.

    ``impl="numpy"`` (default) computes signatures with the Arrow
    matmul kernel; ``impl="sql"`` uses the interpreted Catalyst fold
    (parity path).

    Vectors that are null or not ``dim`` long are dropped first, as
    the IVF and PQ searches drop them: both signature paths give them
    signature 0, so they would share a bucket and be ranked as
    neighbours with a null similarity.
    """
    sig_fn = signature_bits_kernel if impl == "numpy" else signature_bits
    base = corpus.select(F.col(id_col), F.col(vec_col)).where(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    )
    if n_tables == 1:
        with_sig = base.select(
            F.col(id_col),
            F.col(vec_col),
            sig_fn(F.col(vec_col), dim, n_bits, seed).alias("__sig"),
        )
        left = with_sig.alias("l")
        right = with_sig.alias("r")
        pairs = left.join(
            right,
            (F.col("l.__sig") == F.col("r.__sig"))
            & (F.col(f"l.{id_col}") != F.col(f"r.{id_col}")),
        )
        scored = pairs.select(
            F.col(f"l.{id_col}").alias("query_id"),
            F.col(f"r.{id_col}").alias(id_col),
            F.round(
                cosine(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}")), 6
            ).alias("sim"),
        )
    else:
        sigs = base.select(
            F.col(id_col),
            F.posexplode(
                F.array(
                    *[
                        sig_fn(F.col(vec_col), dim, n_bits, seed + t)
                        for t in range(n_tables)
                    ]
                )
            ).alias("__t", "__sig"),
        )
        left = sigs.alias("l")
        right = sigs.alias("r")
        cand = (
            left.join(
                right,
                (F.col("l.__t") == F.col("r.__t"))
                & (F.col("l.__sig") == F.col("r.__sig"))
                & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
            )
            .select(
                F.col(f"l.{id_col}").alias("__a"),
                F.col(f"r.{id_col}").alias("__b"),
            )
            .dropDuplicates(["__a", "__b"])
        )
        # The deduped candidate set is referenced twice (itself + its
        # mirror); without materialization the expensive bucket
        # self-join + dropDuplicates subtree can execute twice — same
        # rationale as the MinHash signature persist. Tracked for
        # release (flycatcher_spark.caching.scope / .release).
        cand = caching.track(cand, eager=True)
        # both directions so every member of a pair ranks the other
        cand = cand.unionByName(
            cand.select(F.col("__b").alias("__a"), F.col("__a").alias("__b"))
        )
        va = base.select(
            F.col(id_col).alias("__a"), F.col(vec_col).alias("__va")
        )
        vb = base.select(
            F.col(id_col).alias("__b"), F.col(vec_col).alias("__vb")
        )
        scored = (
            cand.join(va, "__a")
            .join(vb, "__b")
            .select(
                F.col("__a").alias("query_id"),
                F.col("__b").alias(id_col),
                F.round(cosine(F.col("__va"), F.col("__vb")), 6).alias("sim"),
            )
        )
    return top_k(scored, k, id_col)

# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed ANN for corpora whose raw
# embeddings don't fit the cluster. dim floats (256 B at dim=64)
# compress to m uint8 codes (m bytes, 32x at m=8): 100 B vectors at
# m=8 is 800 GB of codes — scannable; 25 TB of raw floats is not.
# ---------------------------------------------------------------------------
def _np_kmeans(
    X: np.ndarray, k: int, seed: int, n_iter: int = 15
) -> np.ndarray:
    """Deterministic seeded Lloyd's k-means with k-means++ init — the
    one k-means behind every ANN index: IVF's coarse quantizer and
    each PQ subspace codebook.

    Runs driver-side over the *bounded* training sample only (see
    :func:`_train_sample`); the E-step is chunked so
    the (chunk × k) distance matrix stays ~32 MB regardless of
    sample size. Empty clusters keep their previous center — stable
    and seed-reproducible across platforms (pure numpy, no BLAS
    reductions with platform-dependent order)."""
    rng = np.random.default_rng(seed)
    n = X.shape[0]
    k = min(k, n)
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.integers(n)]
    d2 = np.square(X - centers[0]).sum(axis=1)
    for i in range(1, k):
        tot = d2.sum()
        if tot > 0:
            centers[i] = X[rng.choice(n, p=d2 / tot)]
        else:
            centers[i] = X[rng.integers(n)]
        d2 = np.minimum(d2, np.square(X - centers[i]).sum(axis=1))
    chunk = max(1, (4_000_000 // max(k, 1)))
    assign = np.empty(n, dtype=np.int64)
    prev = None
    for _ in range(n_iter):
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            D = X[lo:hi, None, :] - centers[None, :, :]
            np.square(D, out=D)
            assign[lo:hi] = D.sum(axis=2).argmin(axis=1)
        # Fixed-point exit (r11, bit-identical): if the assignment
        # repeats, this M-step would regroup the exact same point
        # sets -> identical means -> identical centers, and every
        # remaining iteration replays itself. The centers already in
        # hand ARE the final ones.
        if prev is not None and np.array_equal(assign, prev):
            break
        prev = assign.copy()
        # M-step via one stable argsort + k slices instead of k full
        # boolean scans (r11, bit-identical: a stable sort hands each
        # cluster its rows in the same relative order as the boolean
        # mask did, so the pairwise np.mean sees the same operands in
        # the same order). Empty clusters keep their previous center,
        # as before.
        order = np.argsort(assign, kind="stable")
        Xs = X[order]
        bounds = np.searchsorted(assign[order], np.arange(k + 1))
        for j in range(k):
            lo, hi = bounds[j], bounds[j + 1]
            if hi > lo:
                centers[j] = Xs[lo:hi].mean(axis=0)
    return centers


def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 256,
    seed: int = 42,
    max_train_rows: int = 100_000,
) -> np.ndarray:
    """Train PQ codebooks: split ``dim`` into ``m`` contiguous
    subspaces and k-means each to ``n_codes`` codewords.

    Returns an ``(m, n_codes, dim//m)`` float64 array. Training reads
    the same bounded sample as IVF (:func:`_train_sample`), so the
    collect is a fixed budget no matter the corpus size; at 100 TB the
    sample job is the only full-scan-adjacent cost and everything
    downstream is map-only.
    """
    _, valid = modal_dim(corpus, vec_col, "train_pq_codebooks")
    X = _train_sample(corpus.where(valid), vec_col, seed, max_train_rows)
    return _fit_pq(X, m, n_codes, seed)


def _fit_pq(X: np.ndarray, m: int, n_codes: int, seed: int) -> np.ndarray:
    """:func:`train_pq_codebooks`' fit over a training sample ``X``
    (see :func:`_train_sample`)."""
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"train_pq_codebooks: dim {dim} not divisible by m={m}")
    sub = dim // m
    books = np.zeros((m, n_codes, sub), dtype=np.float64)
    for j in range(m):
        cb = _np_kmeans(X[:, j * sub : (j + 1) * sub], n_codes, seed + j)
        books[j, : cb.shape[0]] = cb  # k-means may clamp k to sample size
    return books


def save_pq_codebooks(spark, codebooks: np.ndarray, path: str) -> None:
    """Persist PQ codebooks as a small parquet side table
    ``(m int, code int, sub array<double>)`` — train once per corpus
    release, reuse for every encode/search job (training is the only
    bounded-sample job; application stays map-only everywhere).

    Examples
    --------
        >>> import numpy as np
        >>> books = np.arange(8.0).reshape(2, 2, 2)  # m=2, codes=2, sub=2
        >>> path = str(getfixture("tmp_path") / "pq_idx")
        >>> save_pq_codebooks(spark, books, path)
        >>> bool((load_pq_codebooks(spark, path) == books).all())
        True
    """
    m, n_codes, _ = codebooks.shape
    rows = [
        (int(j), int(c), [float(x) for x in codebooks[j, c]])
        for j in range(m)
        for c in range(n_codes)
    ]
    spark.createDataFrame(
        rows, "m int, code int, sub array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_pq_codebooks(spark, path: str) -> np.ndarray:
    """Load codebooks saved by :func:`save_pq_codebooks` (shape and
    ordering restored; round-trip is bit-exact for float64)."""
    rows = spark.read.parquet(path).orderBy("m", "code").collect()
    m = max(r["m"] for r in rows) + 1
    n_codes = max(r["code"] for r in rows) + 1
    sub = len(rows[0]["sub"])
    books = np.zeros((m, n_codes, sub), dtype=np.float64)
    for r in rows:
        books[r["m"], r["code"]] = np.asarray(r["sub"], dtype=np.float64)
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode vectors to ``m``-byte PQ codes (BinaryType) — map-only.

    Each subspace stores the index of its nearest codeword (uint8, so
    ``n_codes`` <= 256). Null/ragged vectors encode to null. The
    codebooks travel in the UDF closure (m * n_codes * sub * 8 bytes —
    a few hundred KB), not through a join.
    """
    m, _, sub = codebooks.shape
    dim = m * sub
    books = np.ascontiguousarray(codebooks)

    @pandas_udf("binary")
    def _enc(vecs: pd.Series) -> pd.Series:
        mask, V = stack_valid(vecs, dim)
        return pd.Series(scatter(mask, map(bytes, pq_codes(V, books))), dtype=object)

    # Callers filter on the encoded column (``__pq IS NOT NULL``);
    # a deterministic UDF lets Catalyst push that filter below the
    # projection by DUPLICATING the evaluation (one ArrowEvalPython
    # feeding the filter, a second recomputing the column above it —
    # optimization guide §4.4). The kernel is pure but expensive;
    # non-deterministic marking pins it to a single evaluation.
    return df.withColumn(out_col, _enc.asNondeterministic()(F.col(vec_col)))


def pq_decode_np(codebooks: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Reconstruct vectors from PQ codes (test/debug helper).

    Examples
    --------
        >>> import numpy as np
        >>> books = np.array([[[0.0, 0.0], [1.0, 1.0]],   # subspace 0
        ...                   [[2.0, 2.0], [3.0, 3.0]]])  # subspace 1
        >>> pq_decode_np(books, np.array([[1, 0]], dtype=np.uint8))
        array([[1., 1., 2., 2.]])
    """
    m, _, sub = codebooks.shape
    n = codes.shape[0]
    out = np.empty((n, m * sub), dtype=np.float64)
    for j in range(m):
        out[:, j * sub : (j + 1) * sub] = codebooks[j][codes[:, j]]
    return out


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8): the light-compression storage path that
# complements PQ. Per-vector affine int8 codes cut embedding storage
# 4x (vs PQ's 8-32x) while staying accurate enough that a brute scan
# over DEQUANTIZED vectors is nearly exact — the right trade when the
# corpus fits after 4x and recall must stay ~1.0 without re-ranking.
# ---------------------------------------------------------------------------
def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "sq8",
) -> DataFrame:
    """Per-vector affine int8 quantization: ``code_i = floor((x_i -
    min) / scale * 255 + 0.5)`` with ``scale = max - min`` (constant
    vectors get scale 0 and all-zero codes). Emits a struct column
    ``(codes binary, mn double, scale double)`` — 1 byte/dim + 16
    bytes, 4x under float32 and ~8x under the float64 arrays the
    fixture carries. Pure Column expressions (engine-portable —
    ``floor(x + 0.5)`` rounds identically everywhere, unlike
    ``round``'s engine-specific half-way rule, which is why the
    ``embedding_quantize`` oracle can hash-match the codes);
    map-only.

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [(1, [0.0, 0.5, 1.0])], "vec_id long, embedding array<double>")
        >>> r = quantize_embeddings(df).first()["sq8"]
        >>> (list(r["codes"]), r["mn"], r["scale"])
        ([0, 128, 255], 0.0, 1.0)
    """
    v = F.col(vec_col)
    mn = F.array_min(v).cast("double")
    mx = F.array_max(v).cast("double")
    scale = (mx - mn).cast("double")
    # codes are provably in [0, 255] ((x-mn)/scale is in [0, 1]);
    # kept as ints until the hex packing (ANSI mode forbids the
    # tinyint wrap)
    code = F.transform(
        v,
        lambda x: F.when(scale > 0,
            F.floor((x.cast("double") - mn) / scale * 255.0 + 0.5)
        ).otherwise(F.lit(0)).cast("int"),
    )
    packed = F.struct(
        _codes_to_binary(code).alias("codes"),
        mn.alias("mn"),
        scale.alias("scale"),
    )
    return df.withColumn(out_col, packed)


def _codes_to_binary(codes_int):
    """array<int in 0..255> -> binary (JVM-side; no UDF). Spark has
    no array<byte> -> binary cast; build one hex string (2 chars per
    code) and unhex it once."""
    hexed = F.concat_ws(
        "",
        F.transform(
            codes_int,
            lambda c: F.lpad(F.hex(c), 2, "0"),
        ),
    )
    return F.unhex(hexed)


def dequantize_embedding(sq8_col) -> "F.Column":
    """Reconstruct the approximate vector from an SQ8 struct:
    ``x_i ≈ mn + (code_i & 255) / 255 * scale``. Pure Column —
    decode happens inside the scan, so a brute-force search over
    SQ8 storage is one codegen'd pass.

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [(1, [0.0, 0.5, 1.0])], "vec_id long, embedding array<double>")
        >>> q = quantize_embeddings(df)
        >>> q.select(dequantize_embedding(F.col("sq8")).alias("v")
        ... ).first()["v"]
        [0.0, 0.5019607843137255, 1.0]
    """
    s = sq8_col
    # binary -> per-byte unsigned ints, decoded through one hex
    # string (ascii() on raw bytes is unreliable above 127)
    n = F.length(s["codes"])
    hexstr = F.hex(s["codes"])
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: s["mn"]
        + F.conv(F.substring(hexstr, (i - 1) * 2 + 1, 2), 16, 10).cast(
            "double"
        )
        / 255.0
        * s["scale"],
    )


def rerank_exact(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact-cosine re-ranking of an ANN shortlist — the refinement
    stage that turns a fast approximate searcher into a
    production-recall one.

    ``shortlist`` is any ``(query_id, <id_col>)`` candidate frame (the
    top ``c*k`` of an ADC / LSH / IVF pass). The raw corpus vectors
    are fetched for the shortlist only: the candidate-pair table
    (``|queries| * c * k`` rows — tiny) broadcasts into the corpus
    scan, so a 100 TB corpus is touched once with a broadcast-hash
    semi-lookup rather than re-scanned per query; the query vectors
    broadcast as in :func:`brute_force_topk`. Output is the exact
    cosine top-k *within the shortlist*: equal to the true top-k
    whenever the shortlist contains the true neighbors (pinned by
    pytest; measured by ``ann_recall``).

    Examples
    --------
        >>> corpus = spark.createDataFrame(
        ...     [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        ...     "vec_id long, embedding array<double>")
        >>> cand = spark.createDataFrame(
        ...     [(1, 2), (1, 3)], "query_id long, vec_id long")
        >>> res = rerank_exact(cand, corpus, corpus.where("vec_id = 1"), k=1)
        >>> [(r.query_id, r.vec_id, r.rank) for r in res.collect()]
        [(1, 2, 1)]
    """
    query_id_col = query_id_col or id_col
    cand = shortlist.select("query_id", F.col(id_col)).dropDuplicates(
        ["query_id", id_col]
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    fetched = corpus.select(F.col(id_col), F.col(vec_col)).join(
        F.broadcast(cand), id_col
    )
    scored = fetched.join(F.broadcast(q), "query_id").select(
        "query_id",
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("__qvec")), 6).alias("sim"),
    )
    return top_k(scored, k, id_col)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    m: int = 8,
    n_codes: int = 256,
    seed: int = 42,
    max_train_rows: int = 100_000,
    codebooks: np.ndarray | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors via PQ asymmetric distance
    computation (ADC).

    The corpus is scanned as ``m``-byte codes; each query precomputes
    an ``(m, n_codes)`` table of subspace dot products against the
    codewords, so scoring a candidate is ``m`` table lookups — no
    float vectors move at query time. ADC here equals the *exact*
    cosine between the query and the reconstructed (decoded) corpus
    vector: dot(q, x̂) = Σ_j dot(q_j, c_{j,code_j}) and ‖x̂‖² =
    Σ_j ‖c_{j,code_j}‖² are both exact over codewords — pinned by
    tests, which is what makes this verifiable despite k-means being
    seed-dependent.

    Same contract as :func:`brute_force_topk` (broadcast query side,
    per-query window top-k, self-matches excluded); pass pre-trained
    ``codebooks`` to skip training (the production path: train once,
    encode once, store codes).

    ``rerank=c`` turns on the refinement stage (the default search
    path for production recall): the ADC pass keeps a shortlist of
    ``c * k`` candidates per query, then :func:`rerank_exact` scores
    the shortlist against the *raw* vectors — output sims are exact
    cosine, and recall@k is limited only by whether the ADC shortlist
    contains the true neighbors (``ann_recall`` measures >= 0.95 at
    ``c=4`` on the fixture corpus vs 0.67 unreranked).
    """
    query_id_col = query_id_col or id_col
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus,
            vec_col=vec_col,
            m=m,
            n_codes=n_codes,
            seed=seed,
            max_train_rows=max_train_rows,
        )
    books = np.ascontiguousarray(codebooks)
    m_, _, sub = books.shape
    dim = m_ * sub

    encoded = pq_encode(corpus, books, vec_col=vec_col, out_col="__pq").where(
        F.col("__pq").isNotNull()
    )
    q = queries.where(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    ).select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    joined = encoded.crossJoin(F.broadcast(q)).where(
        F.col(id_col) != F.col("query_id")
    )
    return _adc_topk(
        joined, books, corpus, queries, k, rerank, id_col, vec_col, query_id_col
    )


def _adc_topk(
    joined: DataFrame,
    books: np.ndarray,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    rerank: int | None,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """The search tail :func:`pq_topk` and :func:`ivf_pq_topk` share:
    ADC-score ``joined``'s ``(query_id, id, __pq, __qvec)`` candidate
    rows, drop NaN scores (zero norms), keep each query's top ``k`` —
    or, with ``rerank=c``, its top ``c * k`` re-scored against the raw
    vectors by :func:`rerank_exact`."""
    # asNondeterministic: the NaN filter below would otherwise be
    # pushed under the projection by duplicating the ADC evaluation
    # (two ArrowEvalPython nodes for one call — guide §4.4).
    scored = joined.select(
        "query_id",
        F.col(id_col),
        F.round(
            adc_udf(books).asNondeterministic()(F.col("__pq"), F.col("__qvec")), 6
        ).alias("sim"),
    ).where(~F.isnan(F.col("sim")))
    if rerank is None:
        return top_k(scored, k, id_col)
    return rerank_exact(
        top_k(scored, max(k, rerank * k), id_col),
        corpus,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 256,
    seed: int = 42,
    max_train_rows: int = 100_000,
    rerank: int = 4,
    centroids: list[list[float]] | None = None,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """IVF + PQ + exact re-rank: the production ANN composite
    (FAISS-style ``IVFx,PQy`` with a refinement stage) re-expressed
    Spark-first.

    Pipeline, with the 100 TB cost of each stage:

    1. **IVF probe** — corpus vectors carry a cell id (tiny broadcast
       centroid table, map-only assign); each query probes its
       ``n_probe`` nearest cells, shrinking the candidate scan
       ~``n_cells / n_probe``×.
    2. **ADC scoring** — candidates are scored from their ``m``-byte
       PQ codes (table lookups per Arrow batch): the full-precision
       vectors never move at this stage, so the scan is over codes
       (~32× smaller than raw floats at ``m=8, dim=64``).
    3. **Exact re-rank** — the ADC top ``rerank * k`` per query is
       re-scored by :func:`rerank_exact` against raw vectors fetched
       via a broadcast candidate lookup. Output sims are exact cosine.

    With ``n_probe == n_cells`` and a sufficient ``rerank`` factor the
    output *equals* exact brute-force top-k (the oracle-checkable
    configuration, like ``ivf_full_probe``); with pruned probes it is
    the production path whose recall ``ann_recall`` measures.

    Pass pre-trained ``centroids`` / ``codebooks`` (see
    :func:`train_ivf_centroids`, :func:`train_pq_codebooks` and their
    save/load pairs) to make search jobs train-free.
    """
    query_id_col = query_id_col or id_col

    dim, valid = modal_dim(corpus, vec_col, "ivf_pq_topk")
    corpus = corpus.where(valid)
    queries_v = queries.where(valid)

    # one training sample fits whichever of the two indexes is missing
    if centroids is None or codebooks is None:
        X = _train_sample(corpus, vec_col, seed, max_train_rows)
        if centroids is None:
            centroids = _np_kmeans(X, n_cells, seed).tolist()
        if codebooks is None:
            codebooks = _fit_pq(X, m, n_codes, seed)
    books = np.ascontiguousarray(codebooks)
    C = np.array(centroids, dtype=np.float64)

    # Fused encode+assign: ONE Arrow crossing for the corpus scan.
    # The embedding column dominates scan bytes at 100 TB; separate
    # pq_encode and cell-assign UDFs would serialize it into Python
    # twice. The kernels are pq_encode's and cells_udf's (pinned by
    # the full-probe == brute-force oracle/test).
    @pandas_udf("struct<pq: binary, cell: int>")
    def _enc_cell(vecs: pd.Series) -> pd.DataFrame:
        mask, V = stack_valid(vecs, dim)
        return pd.DataFrame(
            {
                "pq": scatter(mask, map(bytes, pq_codes(V, books))),
                "cell": scatter(mask, map(int, nearest_cells(V, C, 1)[:, 0])),
            }
        )

    # asNondeterministic: the ``__pq IS NOT NULL`` filter below would
    # otherwise duplicate the fused encode+assign evaluation (guide
    # §4.4 — two ArrowEvalPython nodes, the whole kernel run twice).
    corpus_cells = corpus.select(
        F.col(id_col), _enc_cell.asNondeterministic()(F.col(vec_col)).alias("__ec")
    ).select(
        F.col(id_col),
        F.col("__ec.pq").alias("__pq"),
        F.col("__ec.cell").alias("__cell"),
    ).where(F.col("__pq").isNotNull())
    query_cells = queries_v.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.explode(
            cells_udf(C, min(n_probe, len(centroids)))(F.col(vec_col))
        ).alias("__cell"),
    )

    joined = corpus_cells.join(F.broadcast(query_cells), "__cell").where(
        F.col(id_col) != F.col("query_id")
    )
    return _adc_topk(
        joined, books, corpus, queries_v, k, rerank, id_col, vec_col, query_id_col
    )


def random_projection(
    vec: "Column | str",
    out_dim: int,
    mult: int = 2654435761,
    j_off: int = 17,
    decimals: int = 6,
) -> Column:
    """Johnson-Lindenstrauss random projection as a PURE Column
    expression: ``out[j] = round(sum_i v[i] * sign(i,j) /
    sqrt(out_dim), decimals)`` with the deterministic ±1 sign matrix

        sign(i,j) = +1  iff bit 16 of
                    ((i+1) * (j+j_off) * mult) mod 2^32  is 0

    (Achlioptas-style database-friendly projection with a Knuth
    multiplicative hash providing the pseudo-randomness — measured
    mean |column correlation| 0.07 at 64x16, where naive linear
    parities like ``(i*a+j*b) % 2`` collapse to rank 2). The sign
    derives from pure integer arithmetic, so no matrix is stored,
    broadcast, or seeded — any engine replays it, which is what the
    ``embedding_project`` oracle does.

    Use for cheap dimensionality reduction ahead of the ANN stack:
    JL preserves pairwise distances within (1±eps) at
    ``out_dim = O(log n / eps^2)``, and a projected corpus shrinks
    every downstream shuffle/index by ``in_dim/out_dim``. Map-only,
    zero Python, cost folded into the scan.

    Examples
    --------
        >>> df = spark.createDataFrame([([1.0, 2.0, 3.0, 4.0],)], ["v"])
        >>> df.select(random_projection("v", 2).alias("p")).first()["p"]
        [1.414214, 0.0]
    """
    v = _col(vec)
    # divide (not multiply-by-reciprocal): the DuckDB oracle computes
    # ``total / sqrt(out_dim)`` and ``x*(1/s)`` differs from ``x/s``
    # by up to 1 ulp — same IEEE op in both engines or the
    # cell-for-cell check can flake on rounding boundaries.
    scale = float(out_dim) ** 0.5

    def sign(i: Column, j: Column) -> Column:
        # bit 16 of the multiplicative hash; operands stay < 2^63
        x = ((i + 1) * (j + j_off) * F.lit(mult)) % F.lit(4294967296)
        return F.when(
            F.floor(x / F.lit(65536.0)) % 2 == 0, F.lit(1.0)
        ).otherwise(F.lit(-1.0))

    def comp(j: Column) -> Column:
        signed = F.zip_with(
            v,
            F.sequence(F.lit(0), F.size(v) - 1),
            lambda x, i: x * sign(i, j),
        )
        total = F.aggregate(signed, F.lit(0.0), lambda acc, t: acc + t)
        return F.round(total / F.lit(scale), decimals)

    return F.transform(
        F.sequence(F.lit(0), F.lit(out_dim - 1)), comp
    )


def mine_contrastive_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pos_threshold: float = 0.3,
    neg_lo: float = 0.15,
    neg_hi: float | None = None,
    n_pos: int = 2,
    n_neg: int = 4,
    impl: str = "exact",
    n_cells: int = 8,
    n_probe: int = 3,
) -> DataFrame:
    """Mine (anchor, positive) and (anchor, hard-negative) training
    pairs for contrastive embedding training — the curation step that
    turns a corpus + its own geometry into supervision.

    For each anchor (query vector): take the top-``k`` cosine
    shortlist, then label candidates by similarity band —
    ``sim >= pos_threshold`` → ``'positive'`` (near-duplicates /
    same-topic, the alignment signal), ``neg_lo <= sim <
    neg_hi`` → ``'hard_negative'`` (the highest-similarity
    non-positives: exactly the candidates a random in-batch negative
    would miss and an easy-negative curriculum never teaches). Keep
    the best ``n_pos`` / ``n_neg`` of each per anchor, ranked by
    descending similarity (hardest negatives first — the standard
    dense-retrieval mining recipe, cf. DPR/ANCE-style hard-negative
    selection). Returns ``(query_id, vec_id, sim, role, role_rank)``.

    ``impl="exact"`` scores the shortlist by brute force — the
    oracle-replayable arm (``contrastive_pairs`` hash-matches DuckDB
    cell-for-cell). ``impl="ivf"`` takes the shortlist from the IVF
    index instead: at 100 TB the corpus-×-anchors product is
    unpayable, so production mines from the cell-pruned probe
    (codebooks broadcast, never an all-pairs join) and accepts
    index recall in exchange — the recall of that exact path is
    quantified by the oracle-checked ``ann_recall`` family.
    ``neg_hi`` defaults to ``pos_threshold`` (bands touch; keep a
    gap by passing a lower ``neg_hi`` to drop ambiguous candidates).
    """
    if neg_hi is None:
        neg_hi = pos_threshold
    if not (neg_lo < neg_hi <= pos_threshold):
        raise ValueError(
            f"need neg_lo < neg_hi <= pos_threshold, got "
            f"({neg_lo}, {neg_hi}, {pos_threshold})"
        )
    if impl == "exact":
        shortlist = brute_force_topk(
            corpus, queries, k=k, id_col=id_col, vec_col=vec_col
        )
    elif impl == "ivf":
        shortlist = ivf_topk(
            corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
            n_cells=n_cells, n_probe=n_probe,
        )
    else:
        raise ValueError(f"unknown impl {impl!r}")
    role = (
        F.when(F.col("sim") >= pos_threshold, F.lit("positive"))
        .when(
            (F.col("sim") >= neg_lo) & (F.col("sim") < neg_hi),
            F.lit("hard_negative"),
        )
    )
    labeled = shortlist.withColumn("role", role).where(F.col("role").isNotNull())
    w = Window.partitionBy("query_id", "role").orderBy(
        F.col("sim").desc(), F.col(id_col).asc()
    )
    cap = F.when(F.col("role") == "positive", F.lit(n_pos)).otherwise(F.lit(n_neg))
    return (
        labeled.withColumn("role_rank", F.row_number().over(w))
        .where(F.col("role_rank") <= cap)
        .select("query_id", id_col, "sim", "role", "role_rank")
    )
