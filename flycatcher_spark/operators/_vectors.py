"""The vector kernels every embedding search and embedding dedup is
built from, one copy each.

Frame level:

- :func:`top_k` — the per-query window top-k (score desc, id asc);
- :func:`modal_dim` — the one ``first()`` job that learns a corpus'
  vector dimension, and the filter keeping vectors of that dimension.

Inside Arrow batches:

- :func:`stack_valid` / :func:`scatter` — the valid-vector mask and
  ``float64`` stack, and the scatter of per-valid-row results back
  to batch rows (``None`` at null and ragged rows);
- :func:`sq_l2`, :func:`nearest_cells`, :func:`cells_udf` — squared
  L2 distances and the nearest-centroid (IVF cell) assignment;
- :func:`pq_codes` — the PQ subspace encode;
- :func:`adc_udf` — the PQ asymmetric-distance (ADC) cosine;
- :func:`cosine_slabs` — the chunked, rounded cosine slab of the
  embedding near-duplicate kernels.
"""

from __future__ import annotations

import sys
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# The batch kernels below run inside Python UDFs. Pickled by reference
# (the default for a module-level function), they would make every
# executor Python worker import this package — every operator module,
# ~0.35 s — before its first batch. By value, only the kernels ship,
# as they did when each UDF carried its own copy.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def top_k(
    scored: DataFrame,
    k: int,
    id_col: str,
    key: str = "query_id",
    score: str = "sim",
) -> DataFrame:
    """Each ``key``'s best ``k`` rows by ``score`` descending, ties to
    the lower ``id_col``, numbered 1.. in a ``rank`` column."""
    w = Window.partitionBy(key).orderBy(
        F.col(score).desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def modal_dim(
    corpus: DataFrame, vec_col: str, who: str
) -> tuple[int, Column]:
    """The dimension of the corpus' first non-null vector (one
    ``first()`` job) and the filter keeping the vectors of exactly that
    dimension — null and ragged vectors cannot be stacked into a
    training sample or assigned a cell, so every trainer and index
    drops them.
    """
    first = corpus.where(F.col(vec_col).isNotNull()).select(
        F.size(F.col(vec_col)).alias("d")
    ).first()
    if first is None:
        raise ValueError(f"{who}: corpus has no non-null vectors")
    dim = int(first["d"])
    return dim, F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)


def stack_valid(vecs: pd.Series, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """Mask of the batch rows holding a ``dim``-long vector, and those
    rows stacked as an ``(n_valid, dim)`` float64 matrix (``(0, dim)``
    when no row is valid, so kernels need no empty-batch branch)."""
    mask = np.fromiter(
        (v is not None and len(v) == dim for v in vecs), dtype=bool
    )
    if not mask.any():
        return mask, np.empty((0, dim), dtype=np.float64)
    V = np.stack(
        [np.asarray(v, dtype=np.float64) for v, ok in zip(vecs, mask) if ok]
    )
    return mask, V


def scatter(mask: np.ndarray, values: Iterable) -> list:
    """``values`` (one per valid row, in order) at the mask's True
    rows; ``None`` at every other row."""
    out = [None] * len(mask)
    for i, v in zip(np.flatnonzero(mask), values):
        out[i] = v
    return out


def sq_l2(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """``(n, cells)`` squared L2 distances as an explicit ``(v-c)^2``
    sum — the SQL fold's arithmetic up to summation order;
    ``||v||^2 - 2vc + ||c||^2`` would drift more. The ``(n, cells,
    dim)`` intermediate stays small: Arrow batches are ~10k rows and
    cell or code counts are tens to hundreds."""
    return np.square(V[:, None, :] - C[None, :, :]).sum(axis=2)


def nearest_cells(V: np.ndarray, C: np.ndarray, n_best: int) -> np.ndarray:
    """Each row's ``n_best`` nearest centroids, nearest first. The
    stable argsort equals the SQL path's ``struct(d, cell)`` ordering:
    distance ties break toward the lower cell index."""
    order = np.argsort(sq_l2(V, C), axis=1, kind="stable")
    return order[:, :n_best].astype(np.int32)


def cells_udf(C: np.ndarray, n_best: int):
    """``array<int>`` UDF: a vector's ``n_best`` nearest cells; null
    for a null or ragged vector, as the SQL fold gives."""
    dim = C.shape[1]

    @pandas_udf("array<int>")
    def _cells(vecs: pd.Series) -> pd.Series:
        mask, V = stack_valid(vecs, dim)
        return pd.Series(scatter(mask, nearest_cells(V, C, n_best)), dtype=object)

    return _cells


def pq_codes(V: np.ndarray, books: np.ndarray) -> np.ndarray:
    """``(n, m)`` uint8 PQ codes: per subspace, the nearest codeword.
    ``argmin`` breaks ties toward the lower code (as ``_np_kmeans``
    assigns), which keeps the encode deterministic."""
    m, _, sub = books.shape
    codes = np.empty((V.shape[0], m), dtype=np.uint8)
    for j in range(m):
        D = sq_l2(V[:, j * sub : (j + 1) * sub], books[j])
        codes[:, j] = D.argmin(axis=1).astype(np.uint8)
    return codes


def adc_udf(books: np.ndarray):
    """``double`` UDF over ``(m-byte PQ code, query vector)``: the
    exact cosine between the query and the decoded corpus vector,
    from one ``(m, n_codes)`` dot-product table per distinct query
    (NaN for a zero norm)."""
    m, _, sub = books.shape
    # codeword squared norms per subspace — query-independent
    cw_norm2 = np.square(books).sum(axis=2)  # (m, n_codes)

    @pandas_udf("double")
    def _adc(codes: pd.Series, qvecs: pd.Series) -> pd.Series:
        n = len(codes)
        if n == 0:
            return pd.Series([], dtype="float64")
        C = np.frombuffer(b"".join(codes), dtype=np.uint8).reshape(n, m)
        Q = np.stack([np.asarray(v, dtype=np.float64) for v in qvecs])
        res = np.empty(n, dtype=np.float64)
        # tables for the distinct queries in this batch only, grouped
        # by the raw vector bytes (exact: no hash-collision case)
        groups: dict[bytes, list[int]] = {}
        for i, v in enumerate(Q):
            groups.setdefault(v.tobytes(), []).append(i)
        for idxs in groups.values():
            rows = np.asarray(idxs)
            qv = Q[rows[0]]
            table = np.einsum("ms,mcs->mc", qv.reshape(m, sub), books)
            sub_codes = C[rows]
            dots = table[np.arange(m)[None, :], sub_codes].sum(axis=1)
            norm2 = cw_norm2[np.arange(m)[None, :], sub_codes].sum(axis=1)
            qn = float(np.sqrt(np.square(qv).sum()))
            denom = qn * np.sqrt(norm2)
            with np.errstate(divide="ignore", invalid="ignore"):
                res[rows] = np.where(denom > 0, dots / denom, np.nan)
        return pd.Series(res)

    return _adc


def cosine_slabs(
    A: np.ndarray, B: np.ndarray, threshold: float, step: int
) -> Iterator[tuple[int, np.ndarray, np.ndarray]]:
    """Cosine of ``A``'s rows against ``B``'s, ``step`` rows of ``A``
    at a time so memory stays O(step × len(B)). Yields ``(c0, Sr,
    hit)`` per slab: ``Sr`` is the cosine rounded to 6 places for
    rows ``c0..`` (NaN where either vector is zero) and ``hit`` is
    ``Sr >= threshold`` (NaN compares False)."""
    na = np.linalg.norm(A, axis=1)
    nb = np.linalg.norm(B, axis=1)
    for c0 in range(0, A.shape[0], step):
        c1 = min(c0 + step, A.shape[0])
        denom = np.outer(na[c0:c1], nb)
        with np.errstate(divide="ignore", invalid="ignore"):
            S = np.where(denom > 0, (A[c0:c1] @ B.T) / denom, np.nan)
            Sr = np.round(S, 6)
            hit = Sr >= threshold
        yield c0, Sr, hit
