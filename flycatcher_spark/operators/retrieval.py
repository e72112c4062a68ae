"""Lexical retrieval: BM25 scoring and top-k search over a document
corpus — the term-space counterpart to the vector ANN stack in
:mod:`.similarity` (a curation pipeline uses lexical retrieval for
benchmark decontamination sweeps, quality mining, and as the sparse
side of hybrid search).

Everything is plain DataFrame algebra over the same tokenizer the
text-analysis family uses (:func:`text.tokens` over
:func:`text.normalize_text` — whitespace tokens of lowercased text),
so one corpus shares one vocabulary across TF-IDF, the LM filters and
retrieval, and a SQL engine can replay scores cell-for-cell (the
``bm25_topk`` oracle query does).

Scale shape:

- the postings build is two aggregations (term-per-doc counts, then
  per-term document frequencies) — the exact TF-IDF shuffle shape,
  map-side combined;
- corpus statistics (N, average document length) are a one-row
  broadcast aggregate, never a driver-side count job;
- the query set joins in BROADCAST (a query workload is tiny next to
  a corpus); scoring is map-side arithmetic on the postings rows that
  match query terms — the posting list join IS the inverted-index
  probe, with Catalyst pruning everything else;
- per-query top-k is a window partitioned by query id (parallel per
  query, never a global sort).

Engine-portability discipline (the :mod:`.cluster`/:mod:`.graph`
pattern): per-term contributions round to 9 decimals and sum as
DECIMAL(20,9); the final score rounds to 6; every shared constant
(k1+1, the idf argument, dl/avgdl) is written as the same IEEE double
expression in both engines.

Reference parity note: the reference engine has no retrieval operator
(SURVEY.md §2.8 gap list); this is a §7 scale extension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._vectors import top_k
from .text import normalize_text, tokens

__all__ = ["bm25_postings", "bm25_topk", "rrf_fuse"]

_CONTRIB_DECIMALS = 9
_SCORE_DECIMALS = 6


def bm25_postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Build the inverted-index tables: ``postings(id, term, tf)``
    and ``doclen(id, dl)`` (token count per document; empty documents
    carry no postings and are excluded — they can never match).

    Two aggregations, both map-side combined; reuse the returned
    frames (persist them) when serving many query batches.

    Examples
    --------
        >>> d = spark.createDataFrame(
        ...     [(1, "red fish blue fish"), (2, "red truck")],
        ...     ["doc_id", "text"])
        >>> p, dl = bm25_postings(d)
        >>> sorted((r.doc_id, r.term, r.tf) for r in p.collect())
        [(1, 'blue', 1), (1, 'fish', 2), (1, 'red', 1), (2, 'red', 1), (2, 'truck', 1)]
        >>> sorted((r.doc_id, r.dl) for r in dl.collect())
        [(1, 4), (2, 2)]
    """
    # the no-op isNotNull(term) filter (split() never yields null
    # tokens) keeps bm25_topk's stage reuse: see the note there
    terms = docs.select(
        F.col(id_col),
        F.explode(tokens(normalize_text(text_col))).alias("term"),
    ).where(F.col("term").isNotNull())
    postings = terms.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    doclen = postings.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    return postings, doclen


def _bm25_contrib(k1: float, b: float) -> Column:
    """Per-(query term, document) BM25 contribution — the Robertson/
    Sparck Jones idf (the Lucene-standard ``ln(1 + (N-df+0.5)/(df+0.5))``
    form, always positive) times the saturated tf. Expression order is
    load-bearing: the SQL oracle states the identical parse tree."""
    n = F.col("__n_docs")
    df_ = F.col("df")
    idf = F.log(
        F.lit(1.0) + (n - df_ + F.lit(0.5)) / (df_ + F.lit(0.5))
    )
    tf = F.col("tf")
    dl_ratio = F.col("dl") / F.col("__avgdl")
    denom = tf + F.lit(float(k1)) * (
        F.lit(1.0) - F.lit(float(b)) + F.lit(float(b)) * dl_ratio
    )
    return idf * (tf * (F.lit(float(k1)) + F.lit(1.0))) / denom


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_col: str = "query",
    qid_col: str = "query_id",
) -> DataFrame:
    """Top-``k`` documents per query under BM25. Returns
    ``(query_id, rank, doc_id, score)`` with deterministic ordering
    (score desc, then doc id) and the DECIMAL-summed rounding
    discipline, so any engine replays it.

    Queries tokenize through the same normalize/tokens chain as
    documents; duplicate terms within a query count once (the
    standard simple form — stated so the oracle applies the same
    rule). Documents matching no query term do not appear; a query
    whose terms match nothing returns no rows.

    Examples
    --------
        >>> d = spark.createDataFrame(
        ...     [(1, "red fish blue fish"), (2, "red truck"),
        ...      (3, "blue blue sky")], ["doc_id", "text"])
        >>> q = spark.createDataFrame([(0, "blue fish")],
        ...                           ["query_id", "query"])
        >>> [(r["rank"], r.doc_id) for r in
        ...  bm25_topk(d, q, k=2).orderBy("rank").collect()]
        [(1, 1), (2, 3)]
    """
    # The corpus is tokenized+exploded exactly ONCE: every derived
    # table (doclen, avgdl, document frequency) re-aggregates the one
    # postings aggregate, whose shuffle AQE stage reuse materializes
    # a single time (guide §2.4). Three measured decisions shape this:
    # - the explicit no-op ``isnotnull(term)`` filter in
    #   :func:`bm25_postings` (split() never yields null tokens) keeps
    #   every consumer's subtree canonically IDENTICAL: the
    #   term-equi-joins below infer that filter and
    #   push it into only THEIR copy of the aggregate, which otherwise
    #   makes the doclen/avgdl branch differ from the probe/dfreq
    #   branch — stage reuse then re-executes the whole corpus explode
    #   once per variant (measured: three ~2 s single-task explode
    #   stages at sf0.1 instead of one).
    # - document frequency is counted over the postings that survive
    #   the query-term semi-join: every posting of a term appears
    #   exactly once there, so count-per-term equals the old
    #   full-corpus dfreq for every term that can reach the output —
    #   and the table is at most one row per query term, so it joins
    #   back as a BROADCAST branch (built concurrently off the same
    #   reused postings stage) instead of the old corpus-wide dfreq
    #   shuffle join, which moved the whole vocabulary to answer a
    #   handful of terms. (A window-count variant was measured and
    #   rejected: it put a term-partitioned exchange+sort on the
    #   critical path and regressed hybrid_search ~0.4 s at sf0.1.)
    # - the doclen join stays a join. Carrying dl through the explode
    #   as an extra grouping key would remove it, but materializing
    #   the token array for the size() column doubles the tokenize
    #   map stage (measured 0.71 -> 1.53 s at sf0.1) — a far worse
    #   trade at any scale than shuffling one slim (id, dl) row per
    #   document, since the corpus tokenize IS the dominant cost.
    postings, doclen = bm25_postings(docs, text_col, id_col)
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("__n_docs")
    ).crossJoin(
        doclen.agg(
            (
                F.sum("dl").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("__avgdl")
        )
    )
    qterms = queries.select(
        F.col(qid_col),
        F.explode(tokens(normalize_text(query_col))).alias("term"),
    ).distinct()
    uterms = qterms.select("term").distinct()
    matched = postings.join(F.broadcast(uterms), "term")
    dfreq = matched.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        matched.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qterms), "term")
        .join(doclen, id_col)
        .join(F.broadcast(stats))
        .select(
            qid_col,
            id_col,
            F.round(_bm25_contrib(k1, b), _CONTRIB_DECIMALS)
            .cast("decimal(20,9)")
            .alias("__c"),
        )
        .groupBy(qid_col, id_col)
        .agg(
            F.round(
                F.sum("__c").cast("double"), _SCORE_DECIMALS
            ).alias("score")
        )
    )
    return (
        top_k(scored, int(k), id_col, key=qid_col, score="score")
        .select(
            qid_col,
            F.col("rank").cast("bigint").alias("rank"),
            id_col,
            "score",
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    c: float = 60.0,
    qid_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of any
    number of per-query rankings — the standard way to combine a
    lexical ranking (:func:`bm25_topk`) with a vector ranking
    (``similarity.brute_force_topk`` / the ANN stack) into HYBRID
    search, using only ranks (no score calibration between systems):

        rrf(d) = sum over systems ranking d of 1 / (c + rank_d)

    Returns ``(query_id, rank, doc_id, rrf_score)`` with the top-``k``
    per query, ties broken by id. Per-system contributions round to 9
    decimals and sum as DECIMAL(20,9) — order-invariant across any
    number of systems, so results are partitioning-stable and a SQL
    engine replays them (the ``hybrid_search`` oracle).

    Each input needs columns ``(qid_col, id_col, rank_col)``; rename
    before fusing when systems label ids differently. Scale shape:
    one union of slim (query, id, contribution) rows, one aggregation,
    one per-query window — rankings are top-k-bounded upstream, so
    every side here is tiny relative to any corpus.

    Examples
    --------
        >>> a = spark.createDataFrame(
        ...     [(0, 10, 1), (0, 11, 2)], ["query_id", "doc_id", "rank"])
        >>> b = spark.createDataFrame(
        ...     [(0, 11, 1), (0, 12, 2)], ["query_id", "doc_id", "rank"])
        >>> [(r["rank"], r.doc_id) for r in
        ...  rrf_fuse([a, b], k=3).orderBy("rank").collect()]
        [(1, 11), (2, 10), (3, 12)]
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            F.col(qid_col),
            F.col(id_col),
            F.round(
                F.lit(1.0) / (F.lit(float(c)) + F.col(rank_col)),
                _CONTRIB_DECIMALS,
            )
            .cast("decimal(20,9)")
            .alias("__c"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    scored = u.groupBy(qid_col, id_col).agg(
        F.round(
            F.sum("__c").cast("double"), _CONTRIB_DECIMALS
        ).alias("rrf_score")
    )
    return (
        top_k(scored, int(k), id_col, key=qid_col, score="rrf_score")
        .select(
            qid_col,
            F.col("rank").cast("bigint").alias("rank"),
            id_col,
            "rrf_score",
        )
    )
