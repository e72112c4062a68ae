"""Seeded input generators. Each writes parquet under the run's work
directory and returns the ground truth the outputs are checked against.

The same seed gives the same files and the same truth; sizes are fixed
per workload, so seeds change content, not volume.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from flycatcher_spark import Field, Schema, col, model_validator


class LineitemSchema(Schema):
    """Lineitem-shaped feed as it lands: quantity arrives as text."""

    l_id: int = Field(primary_key=True)
    l_orderkey: int = Field(ge=1)
    l_linenumber: int = Field(ge=1, le=7)
    l_quantity: float = Field(gt=0, le=50)
    l_extendedprice: float = Field(ge=0)
    l_discount: float = Field(ge=0.0, le=0.1)
    l_tax: float = Field(ge=0.0, le=0.08)
    l_shipdate: datetime
    l_receiptdate: datetime
    l_shipmode: str
    l_comment: str = Field(max_length=44)

    @model_validator
    def receipt_after_ship():
        return (
            col("l_receiptdate") >= col("l_shipdate"),
            "l_receiptdate must not precede l_shipdate",
        )


#: defect -> the constraint message it counts under, or None when it
#: makes a non-nullable value null and the row is dropped uncounted
DEFECTS: dict[str, str | None] = {
    "null_orderkey": None,
    "uncastable_quantity": None,
    "orderkey_ge": "l_orderkey must be >= 1",
    "linenumber_le": "l_linenumber must be <= 7",
    "quantity_gt": "l_quantity must be > 0",
    "quantity_le": "l_quantity must be <= 50",
    "discount_le": "l_discount must be <= 0.1",
    "comment_len": "l_comment must have at most 44 characters",
    "receipt_before_ship": "l_receiptdate must not precede l_shipdate",
}
_SHIPMODES = np.array(
    ["AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR"], dtype=object
)
_QTY_TEXT = np.array([f"{q}.0" for q in range(51)], dtype=object)
_WORDS = np.array("quick slow final pending regular express ironic bold even "
                  "careful silent special".split())


#: share of lineitem rows that carry a planted defect
DEFECT_RATE = 0.01


def lineitem_table(rng: np.random.Generator, rows: int) -> tuple[pa.Table, dict]:
    """``rows`` lineitem rows; :data:`DEFECT_RATE` of them carry exactly
    one defect each, spread evenly over :data:`DEFECTS`; one clean row
    in a thousand reuses another clean row's ``l_id``."""
    ids = np.arange(1, rows + 1, dtype=np.int64)
    orderkey = rng.integers(1, 6_000_000, rows)
    orderkey_null = np.zeros(rows, dtype=bool)
    linenumber = rng.integers(1, 8, rows).astype(np.int32)
    quantity = rng.integers(1, 51, rows)
    qty_text = _QTY_TEXT[quantity]
    price = np.round(quantity * rng.uniform(900, 1100, rows), 2)
    discount = np.round(rng.uniform(0, 0.1, rows), 2)
    tax = np.round(rng.uniform(0, 0.08, rows), 2)
    ship = np.datetime64("1994-01-01", "D") + rng.integers(0, 2500, rows)
    receipt = ship + rng.integers(1, 31, rows)
    mode = _SHIPMODES[rng.integers(0, len(_SHIPMODES), rows)]
    pool = np.array(
        [" ".join(rng.choice(_WORDS, k)) for k in rng.integers(1, 5, 512)],
        dtype=object,
    )
    comment = pool[rng.integers(0, len(pool), rows)]

    n_bad = int(round(rows * DEFECT_RATE))
    dup_ids = max(1, rows // 1000)
    bad = rng.choice(rows, n_bad + dup_ids, replace=False)
    planted, dup_rows = bad[:n_bad], bad[n_bad:]
    names = np.array(list(DEFECTS))
    kinds = names[np.arange(n_bad) % len(names)]
    rng.shuffle(kinds)
    at = {kind: planted[kinds == kind] for kind in DEFECTS}
    orderkey_null[at["null_orderkey"]] = True
    qty_text[at["uncastable_quantity"]] = "n/a"
    orderkey[at["orderkey_ge"]] = 0
    linenumber[at["linenumber_le"]] = 9
    qty_text[at["quantity_gt"]] = "0"
    qty_text[at["quantity_le"]] = "75"
    discount[at["discount_le"]] = 0.5
    comment[at["comment_len"]] = "x" * 60
    r = at["receipt_before_ship"]
    receipt[r] = ship[r] - 2
    clean = np.setdiff1d(np.arange(rows), planted)
    sources = rng.choice(np.setdiff1d(clean, dup_rows), dup_ids, replace=False)
    ids[dup_rows] = ids[sources]

    table = pa.table({
        "l_id": pa.array(ids),
        "l_orderkey": pa.array(orderkey, mask=orderkey_null),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(qty_text, type=pa.string()),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(discount),
        "l_tax": pa.array(tax),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        "l_receiptdate": pa.array(receipt.astype("datetime64[us]")),
        "l_shipmode": pa.array(mode, type=pa.string()),
        "l_comment": pa.array(comment, type=pa.string()),
    })
    violations: dict[str, int] = {}
    for kind in kinds:
        msg = DEFECTS[kind]
        if msg is not None:
            violations[msg] = violations.get(msg, 0) + 1
    truth = {
        "rows": rows,
        "violations": violations,
        "quarantined": n_bad,
        "kept": rows - n_bad,
        "duplicate_ids": dup_ids,
    }
    return table, truth


def write_parts(table: pa.Table, path: str, parts: int) -> None:
    """Write ``table`` as ``parts`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        chunk = table.slice(i * step, step)
        if chunk.num_rows:
            pq.write_table(chunk, f"{path}/part-{i:04d}.parquet")


def lineitem_bulk(seed: int, path: str, rows: int, parts: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    table, truth = lineitem_table(rng, rows)
    write_parts(table, path, parts)
    return truth


#: words every generated document draws on, so each passes the Gopher
#: stopword rule; a copy of the library's list, so that the inputs stay
#: the same when the library changes
_STOPWORDS = np.array(["the", "be", "to", "of", "and", "that", "have", "with"])
#: query ids sit above every document id: ``pq_topk`` drops a match
#: whose id equals the query's
QUERY_ID_BASE = 1_000_000


def _heavy_tail(rng: np.random.Generator, n: int, cap: int) -> np.ndarray:
    """``n`` cluster sizes from a Zipf(2) tail, capped at ``cap``."""
    return np.minimum(rng.zipf(2.0, n), cap)


def corpus(
    seed: int, path: str, n_base: int, n_junk: int, n_clusters: int, n_queries: int,
    dim: int = 64, k: int = 10,
) -> dict:
    """A document corpus for curation and hybrid search.

    ``docs`` (doc_id, text): ``n_base`` distinct documents of 60-90
    words, ``n_junk`` short ones the Gopher gate rejects, then
    ``n_clusters`` exact-duplicate clusters (copies of a base document)
    and as many near-duplicate clusters (copies with one word replaced,
    each at its own position), both with capped heavy-tailed sizes.
    Doc ids are a seeded permutation, so duplicates are not adjacent.

    ``index`` (doc_id, text, embedding) holds the base documents with
    clustered 64-d vectors; ``queries`` (query_id, query, embedding)
    target one indexed document each: its vector plus noise, and four
    of its words.

    The truth has the surviving ids after exact dedup, the near-duplicate
    clusters in survivor ids, the count the Gopher gate keeps, the
    brute-force cosine top-``k`` of every query, and each query's target.
    """
    rng = np.random.default_rng([seed, 3])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({
        "".join(rng.choice(letters, n)) for n in rng.integers(4, 9, 6000)
    } - set(_STOPWORDS))
    vocab = np.array(vocab)

    def words(n: int) -> np.ndarray:
        w = vocab[rng.integers(0, len(vocab), n)]
        stop = rng.random(n) < 0.25
        w[stop] = _STOPWORDS[rng.integers(0, len(_STOPWORDS), stop.sum())]
        return w

    base = [words(n) for n in rng.integers(60, 91, n_base)]
    junk = [words(n) for n in rng.integers(15, 31, n_junk)]
    picks = rng.choice(n_base, 2 * n_clusters, replace=False)
    exact_src, near_src = picks[:n_clusters], picks[n_clusters:]
    # rows: (text, group) where group keys the exact-duplicate group and
    # near-duplicate membership is tracked by base index
    texts = [" ".join(w) for w in base] + [" ".join(w) for w in junk]
    near_of: dict[int, int] = {}  # row -> base index of its near cluster
    for b, size in zip(exact_src, _heavy_tail(rng, n_clusters, 6)):
        texts += [texts[b]] * int(size)
    for b, size in zip(near_src, _heavy_tail(rng, n_clusters, 4)):
        near_of[b] = b
        for pos in rng.choice(len(base[b]), int(size), replace=False):
            w = base[b].copy()
            w[pos] = vocab[(np.searchsorted(vocab, w[pos]) + 1) % len(vocab)]
            near_of[len(texts)] = b
            texts.append(" ".join(w))
    n_docs = len(texts)
    ids = rng.permutation(n_docs) + 1

    first_id: dict[str, int] = {}
    for row, text in enumerate(texts):
        first_id[text] = min(first_id.get(text, ids[row]), ids[row])
    survivors = sorted(first_id.values())
    clusters: dict[int, set[int]] = {}
    for row, b in near_of.items():
        clusters.setdefault(b, set()).add(int(first_id[texts[row]]))

    centers = rng.normal(size=(32, dim))
    vecs = centers[rng.integers(0, 32, n_base)] + 0.5 * rng.normal(size=(n_base, dim))
    targets = rng.choice(n_base, n_queries, replace=False)
    qvecs = vecs[targets] + 0.1 * rng.normal(size=(n_queries, dim))
    qtext = [
        " ".join(rng.choice(sorted(set(base[t]) - set(_STOPWORDS)), 4, replace=False))
        for t in targets
    ]
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = (qvecs / np.linalg.norm(qvecs, axis=1, keepdims=True)) @ unit.T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :k]

    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array(ids, type=pa.int64()),
                             "text": pa.array(texts)}), f"{path}/docs.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(ids[:n_base], type=pa.int64()),
        "text": pa.array(texts[:n_base]),
        "embedding": pa.array(list(vecs)),
    }), f"{path}/index.parquet")
    qids = QUERY_ID_BASE + np.arange(n_queries)
    pq.write_table(pa.table({
        "query_id": pa.array(qids, type=pa.int64()),
        "query": pa.array(qtext),
        "embedding": pa.array(list(qvecs)),
    }), f"{path}/queries.parquet")
    junk_ids = set(ids[n_base:n_base + n_junk].tolist())
    return {
        "docs": n_docs,
        "survivors": survivors,
        "near_clusters": sorted(sorted(c) for c in clusters.values()),
        "gate_kept": sum(1 for d in survivors if d not in junk_ids),
        "topk": {int(q): set(ids[top[j]].tolist()) for j, q in enumerate(qids)},
        "target": {int(q): int(ids[targets[j]]) for j, q in enumerate(qids)},
    }
