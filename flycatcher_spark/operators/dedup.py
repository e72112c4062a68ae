"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram
Jaccard, and embedding-cosine near-dup.

Extensions beyond the reference surface (BASELINE.json north star),
each designed shuffle-first for 100 TB inputs:

- **exact**: one ``groupBy(key)`` shuffle carrying only the key +
  id columns (column pruning keeps the payload out of the exchange);
  map-side partial aggregation collapses duplicates before shuffle.
- **MinHash**: signatures are computed row-local from the token
  array with pure ``F.transform``/``F.aggregate`` expressions — NO
  explode, NO shuffle for signature computation. LSH banding then
  groups by (band, band-signature): candidate pairs come from one
  shuffle whose width is #bands × docs, never the quadratic pair
  space.
- **SimHash**: 64-bit signature computed row-local the same way;
  near-dup candidates via band buckets + hamming distance.
- **n-gram Jaccard**: exact pairwise similarity on word shingle
  sets, for candidate verification or small blocked joins.
- **embedding near-dup**: cosine over an embedding column with a
  blocking key to bound the join.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from .. import caching
from ._vectors import cosine_slabs
from .similarity import cosine
from .text import bind_once, normalize_text, tokens

# A large prime below 2^31 for permutation hashing  (x -> (a*x+b) % P)
_MERSENNE = (1 << 31) - 1


def exact_dedup(
    df: DataFrame,
    subset: list[str] | None = None,
    id_col: str = "doc_id",
    normalize: bool = False,
) -> DataFrame:
    """Keep one row (minimum ``id_col``) per distinct key.

    Deterministic — unlike ``dropDuplicates``, which keeps an
    arbitrary row per key and so can't be oracle-checked. Returns the
    surviving ids joined back to full rows.

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [(1, "aa"), (2, "aa"), (3, "bb")], ["doc_id", "text"])
        >>> sorted(r.doc_id for r in exact_dedup(df).collect())
        [1, 3]
    """
    subset = subset or [c for c in df.columns if c != id_col]
    keys = [
        normalize_text(c).alias(c) if normalize else F.col(c) for c in subset
    ]
    keep = (
        df.select(F.col(id_col), *keys)
        .groupBy(*subset)
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="inner")


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text.

    Documents with fewer than ``n`` tokens yield an empty array —
    guarded explicitly because ``sequence(0, size-n)`` would count
    *downward* for short docs and make ``slice`` throw on index 0.

    The token array is bound ONCE per row (``text.bind_once``) before
    the per-position lambda references it — interpreted HOFs would
    otherwise re-run the tokenize/normalize chain per n-gram
    (measured 16× on shingle-heavy operators).
    """
    toks = tokens(normalize_text(text))
    if n == 1:
        return F.array_distinct(toks)

    def build(tk: Column) -> Column:
        shingled = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(tk) - n),
                lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
            )
        )
        return F.when(F.size(tk) >= n, shingled).otherwise(
            F.array().cast("array<string>")
        )

    return bind_once(toks, build)


def _permutation_params(num_perm: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for minhash permutations."""
    params = []
    state = seed
    for _ in range(num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) & (
            (1 << 63) - 1
        )
        a = (state % (_MERSENNE - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) & (
            (1 << 63) - 1
        )
        b = state % _MERSENNE
        params.append((a, b))
    return params


def minhash_signature(
    shingles: Column, num_perm: int = 64, seed: int = 42
) -> Column:
    """MinHash signature (array<long> of length ``num_perm``) as a
    single Column expression.

    WARNING: inlines the shingle subtree into every permutation —
    fine for small ``num_perm``, but Catalyst's optimizer cost grows
    super-linearly with the duplicated tree (64 perms over a full
    tokenize+shingle tree takes *minutes* to plan). Pipelines should
    use :func:`with_minhash_signature`, which stages the hash array
    through a materialized column so each permutation references a
    cheap attribute.
    """
    hashes = F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE)))
    perms = []
    for a, b in _permutation_params(num_perm, seed):
        perms.append(
            F.array_min(
                F.transform(
                    hashes,
                    lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MERSENNE)),
                )
            )
        )
    return F.array(*perms)


def with_minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "__sig",
    num_perm: int = 64,
    bands: int | None = None,
    shingle_n: int = 3,
    seed: int = 42,
    impl: str = "pandas",
) -> DataFrame:
    """Attach a MinHash signature column (array<long>, null for an
    empty shingle set). Map-only — no shuffle.

    Shingling + base hashing always run JVM-side (``xxhash64``). The
    ``num_perm`` permutation-min step has two implementations:

    - ``impl="pandas"`` (default): an Arrow-batched pandas UDF doing
      the (perm × shingle) min as one numpy matrix op per row.
      Catalyst higher-order functions are CodegenFallback
      (interpreted), so the pure-SQL path burns ~num_perm interpreted
      ops per shingle; numpy does the same math in C. Integer
      semantics match the JVM exactly: base hashes are pre-reduced
      mod a 31-bit prime so ``a*h+b`` stays below 2^62 (no overflow),
      and both numpy and pmod use sign-of-divisor modulo.
    - ``impl="sql"``: pure Catalyst expressions, staged through a
      materialized hash column so optimizer cost stays linear in
      ``num_perm`` (inlining the shingle tree into every permutation
      makes planning take minutes).
    """
    # Stage 1: token hashes into a materialized column. Combining
    # must NOT reference the token-hash expression tree directly:
    # interpreted element_at(tree, i) re-evaluates the whole tree per
    # access (O(tokens²) per row); element_at(attribute, i) is O(1).
    toks_h = F.transform(
        tokens(normalize_text(text_col)),
        lambda t: F.pmod(F.xxhash64(t), F.lit(_MERSENNE)),
    )
    staged = df.withColumn("__mh_th", toks_h)
    params = _permutation_params(num_perm, seed)

    if impl == "pandas":
        # Everything after the JVM token-hash transform happens in one
        # Arrow-batched numpy kernel: the n-gram modular combine AND the
        # permutation-min. Doing the shingle combine JVM-side costs
        # ~5 interpreted expression evals per shingle (higher-order
        # functions are CodegenFallback) — measured ~2× the whole
        # signature stage; numpy does the identical int64 math (same
        # values bit-for-bit) in a few vectorized passes.
        pa_ = np.array([p[0] for p in params], dtype=np.int64)[:, None]
        pb_ = np.array([p[1] for p in params], dtype=np.int64)[:, None]
        B = 1_000_003
        n_ = shingle_n

        @pandas_udf("array<bigint>")
        def _sig(tok_hashes: pd.Series) -> pd.Series:
            lens = np.fromiter(
                (0 if h is None else len(h) for h in tok_hashes), dtype=np.int64
            )
            keep = lens >= n_  # docs shorter than one shingle -> null
            if not keep.any():
                return pd.Series([None] * len(tok_hashes))
            flat = np.concatenate(
                [np.asarray(h, dtype=np.int64) for h in tok_hashes[keep]]
            )
            klens = lens[keep]
            n_docs = int(keep.sum())
            offsets = np.zeros(n_docs, dtype=np.int64)
            np.cumsum(klens[:-1], out=offsets[1:])

            # Shingle combine over the flat array, then drop the
            # cross-document positions. acc < 2^31 and B < 2^20 keep
            # acc*B + h < 2^52 — no int64 overflow. (No distinct:
            # min over a multiset equals min over its set.)
            N = len(flat)
            if n_ == 1:
                sh = flat
                sh_lens = klens
            else:
                acc = flat[: N - n_ + 1].copy()
                for j in range(1, n_):
                    acc *= B
                    acc += flat[j : N - n_ + 1 + j]
                    acc %= _MERSENNE
                ends = offsets + klens
                doc_of = np.repeat(np.arange(n_docs), klens)[: N - n_ + 1]
                valid = np.arange(N - n_ + 1) + n_ - 1 < ends[doc_of]
                sh = acc[valid]
                sh_lens = klens - (n_ - 1)
            sh_offsets = np.zeros(n_docs, dtype=np.int64)
            np.cumsum(sh_lens[:-1], out=sh_offsets[1:])
            sh_ends = sh_offsets + sh_lens

            # Permutation-min, chunked by documents so the (num_perm ×
            # chunk) matrix stays ~32 MB: one matrix over a big batch
            # is GBs of temporaries and goes memory-bandwidth bound —
            # chunking measured ~20× faster on 2M hashes. In-place
            # += / %= avoid two more full-size temporaries.
            mins = np.empty((num_perm, n_docs), dtype=np.int64)
            target = 64_000
            i = 0
            while i < n_docs:
                j = i
                total = 0
                while j < n_docs and (total == 0 or total + sh_lens[j] <= target):
                    total += sh_lens[j]
                    j += 1
                lo, hi = sh_offsets[i], sh_ends[j - 1]
                vals = np.multiply(pa_, sh[lo:hi][None, :])
                vals += pb_
                vals %= _MERSENNE
                mins[:, i:j] = np.minimum.reduceat(
                    vals, sh_offsets[i:j] - lo, axis=1
                )
                i = j
            sigs = iter(mins.T.tolist())
            return pd.Series([next(sigs) if k else None for k in keep])

        # asNondeterministic: pipelines filter on the signature column
        # (``__sig IS NOT NULL``); a deterministic UDF lets Catalyst
        # push that filter below a later repartition Exchange by
        # DUPLICATING the evaluation — two ArrowEvalPython nodes, the
        # whole MinHash kernel AND its JVM tokenize+xxhash64 input
        # tree run twice per document, the first copy on the scan's
        # natural (often single-split) partitioning (guide §4.4).
        # The kernel is pure; the marking only pins one evaluation.
        return staged.withColumn(
            out_col, _sig.asNondeterministic()(F.col("__mh_th"))
        ).drop("__mh_th")

    # impl="sql": n-gram hashes by modular polynomial combine (31-bit
    # inputs keep products < 2^62 — ANSI mode throws on overflow).
    th = F.col("__mh_th")
    if shingle_n == 1:
        sh = F.array_distinct(th)
    else:
        B = 1_000_003

        def _combine(i: Column) -> Column:
            acc = F.element_at(th, i + 1)
            for j in range(1, shingle_n):
                acc = F.pmod(
                    acc * F.lit(B) + F.element_at(th, i + 1 + j), F.lit(_MERSENNE)
                )
            return acc

        sh = F.when(
            F.size(th) >= shingle_n,
            F.array_distinct(
                F.transform(F.sequence(F.lit(0), F.size(th) - shingle_n), _combine)
            ),
        ).otherwise(F.array().cast("array<bigint>"))
    hashed = staged.withColumn("__mh_h", sh).drop("__mh_th")

    def _perm(a: int, b: int):
        # plain closure: PySpark reads the lambda's signature, so
        # default-arg tricks (lambda h, a=a: ...) break arity checks
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MERSENNE))

    perms = [
        F.array_min(F.transform(F.col("__mh_h"), _perm(a, b)))
        for a, b in params
    ]
    # null signature for empty shingle sets (parity with pandas impl)
    sig = F.when(F.size(F.col("__mh_h")) > 0, F.array(*perms))
    return hashed.withColumn(out_col, sig).drop("__mh_h")


def banded_self_pairs(
    banded: DataFrame,
    id_col: str,
    key_cols: list[str],
    payload_cols: list[str] | None = None,
    bucket_cap: int = 8192,
) -> DataFrame:
    """Within-bucket candidate pairs (``id_a < id_b``) for a banded
    LSH table, with pathologically hot buckets split into salted
    sub-groups — EXACT (salted ≡ unsalted, pinned by pytest), the
    same treatment :func:`embedding_neardup_pairs` applies to hot
    clusters.

    The naive ``groupBy``-shaped self-join on ``key_cols`` generates
    all O(|bucket|²) pairs of one bucket inside ONE task: a
    boilerplate-heavy corpus (near-identical templated pages that
    survive exact dedup) can put millions of docs in a single
    ``(band, band_hash)`` bucket and serialize the whole candidate
    explosion. Here buckets above ``bucket_cap`` members are split
    into ``s = ceil(n / bucket_cap)`` id-hash sub-groups and every
    sub-group pair ``(pa <= pb)`` becomes its own join task — compute
    is unchanged (all pairs are still generated exactly once), but a
    hot bucket now degrades to ~s²/2 parallel tasks instead of one
    straggler. Hot rows ship ~s/2 replicas through the shuffle (the
    standard replicated-salt trade, paid ONLY by hot buckets); cold
    buckets take the plain join with zero replication.

    The bucket-size census is a partial-aggregated ``groupBy`` over
    the slim banded table, collected to the driver (bounded: only
    over-cap buckets survive, and the hot set is pathological by
    definition — almost always EMPTY; a ``max_hot_collect`` guard
    falls back to a broadcast-join plan if an adversarial corpus
    overflows it). The census action doubles as the materialization
    of whatever cache ``banded`` reads (it evaluates every upstream
    partition before the join stages launch), so callers that persist
    a signature table get its eager fill FOR FREE — and when no
    bucket is hot, the returned plan is EXACTLY the plain unguarded
    self-join. Two alternatives were measured and rejected: a
    window-function census (re-evaluated by all four join branches:
    6.65s vs 4.23s on the sf0.1 bench query) and an always-broadcast
    census subquery (+0.5-1.0s fixed per call at sf0.01 on top of the
    then-separate eager count).

    Returns ``(id_a, id_b, <payload>_a, <payload>_b)``; callers apply
    their own dedup across bands.
    """
    payload_cols = payload_cols or []
    max_hot_collect = 100_000

    def _key_eq(left, right):
        cond = None
        for k in key_cols:
            c = F.col(f"l.{k}") == F.col(f"r.{k}")
            cond = c if cond is None else cond & c
        return cond

    def _plain_pairs(src):
        l_, r_ = src.alias("l"), src.alias("r")
        return l_.join(
            r_,
            _key_eq(l_, r_) & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        ).select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            *[F.col(f"l.{p}").alias(f"{p}_a") for p in payload_cols],
            *[F.col(f"r.{p}").alias(f"{p}_b") for p in payload_cols],
        )

    # Census (and cache-materialization) action: over-cap buckets only.
    hot_keys_df = (
        banded.groupBy(*key_cols)
        .agg(F.count("*").alias("__n"))
        .where(F.col("__n") > bucket_cap)
        .select(
            *key_cols,
            F.ceil(F.col("__n") / F.lit(bucket_cap))
            .cast("int")
            .alias("__s"),
        )
    )
    hot_rows = hot_keys_df.limit(max_hot_collect + 1).collect()
    if not hot_rows:
        return _plain_pairs(banded)
    if len(hot_rows) > max_hot_collect:
        # adversarial bucket count: keep the hot set distributed
        marked = banded.join(F.broadcast(hot_keys_df), key_cols, "left")
    else:
        spark = banded.sparkSession
        marked = banded.join(
            F.broadcast(spark.createDataFrame(hot_rows)), key_cols, "left"
        )

    # Cold buckets: the plain within-bucket self-join (no replication).
    cold_pairs = _plain_pairs(marked.where(F.col("__s").isNull()).drop("__s"))

    # Hot buckets: per-bucket sub-group g = hash(id) mod s; a pair in
    # groups (p <= q) is produced exactly once, in the task keyed by
    # (bucket, p, q): the LEFT copy carries (pa=g, pb=x) for x >= g,
    # the RIGHT copy (pa=x, pb=g) for x <= g; join aligns pa/pb and
    # the diagonal (p == q) falls back to the id ordering.
    hot = marked.where(F.col("__s").isNotNull()).withColumn(
        "__g",
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.col("__s")).cast(
            "int"
        ),
    )
    hot_l = hot.withColumn(
        "__x", F.explode(F.sequence(F.col("__g"), F.col("__s") - 1))
    ).alias("l")
    hot_r = hot.withColumn(
        "__x", F.explode(F.sequence(F.lit(0), F.col("__g")))
    ).alias("r")
    hot_pairs = hot_l.join(
        hot_r,
        _key_eq(hot_l, hot_r)
        & (F.col("l.__g") == F.col("r.__x"))
        & (F.col("l.__x") == F.col("r.__g"))
        & (
            (F.col("l.__g") < F.col("r.__g"))
            | (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        ),
    ).select(
        F.least(F.col(f"l.{id_col}"), F.col(f"r.{id_col}")).alias("id_a"),
        F.greatest(F.col(f"l.{id_col}"), F.col(f"r.{id_col}")).alias("id_b"),
        *[
            F.when(
                F.col(f"l.{id_col}") <= F.col(f"r.{id_col}"), F.col(f"l.{p}")
            )
            .otherwise(F.col(f"r.{p}"))
            .alias(f"{p}_a")
            for p in payload_cols
        ],
        *[
            F.when(
                F.col(f"l.{id_col}") <= F.col(f"r.{id_col}"), F.col(f"r.{p}")
            )
            .otherwise(F.col(f"l.{p}"))
            .alias(f"{p}_b")
            for p in payload_cols
        ],
    )
    return cold_pairs.unionByName(hot_pairs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    bucket_cap: int = 8192,
) -> DataFrame:
    """Candidate near-duplicate pairs with estimated Jaccard >= threshold.

    Pipeline: signature (map-only) → band explode (×bands rows) →
    ``groupBy(band, band_hash)`` shuffle → within-bucket self-join
    (buckets above ``bucket_cap`` members salt-split into sub-group
    tasks — see :func:`banded_self_pairs`; exact either way) →
    signature-agreement estimate. Returns distinct
    ``(doc_id_a, doc_id_b, est_jaccard)`` with ``a < b``.
    """
    rows_per_band = num_perm // bands
    # Repartition BEFORE the signature map: hashing is compute-dense
    # (num_perm × shingles per row) and a small parquet input would
    # otherwise run it on a single split.
    src = df.select(id_col, text_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    # Degenerate docs (fewer tokens than one shingle) are dropped by
    # filtering on the kernel's null signature AFTER the map — the
    # Arrow kernel already nulls them, and the kernel is marked
    # non-deterministic so Catalyst cannot push this predicate below
    # the repartition by duplicating the evaluation (r11: the
    # deterministic version measured exactly that — a second
    # ArrowEvalPython below the Exchange, the kernel run twice, the
    # first copy on the scan's unbalanced splits). It also avoids a
    # second full tokenize pass that a scan-side token-count
    # predicate would cost. (With impl="sql" this would be wrong:
    # pushdown would inline the num_perm-wide expression tree into
    # the filter — keep the pre-filter if you switch.)
    sig = (
        with_minhash_signature(
            src,
            text_col=text_col,
            out_col="__sig",
            num_perm=num_perm,
            shingle_n=shingle_n,
            seed=seed,
        )
        .select(id_col, "__sig")
        .where(F.col("__sig").isNotNull())
    )
    # The signature table is referenced three times below (banding +
    # two candidate re-joins). persist() alone is not enough: the
    # referencing stages can start concurrently and each recompute
    # the compute-dense signature map before the cache fills — here
    # the blocking census action inside banded_self_pairs fills the
    # cache before any join stage launches (no separate eager count
    # needed). At cluster scale this is the stage you'd checkpoint /
    # write to storage. The handle is tracked
    # (flycatcher_spark.caching) so long-lived sessions can release
    # it — wrap pipeline runs in ``caching.scope()``.
    sig = caching.track(sig)

    # Band join carries ONLY (id, band, band_hash) — the 8×num_perm-
    # byte signature array stays out of the wide shuffle and is
    # re-attached to the (small) candidate pair set afterwards.
    banded = sig.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.hash(
                    F.slice(F.col("__sig"), b * rows_per_band + 1, rows_per_band)
                ),
            )
        ).alias("band", "band_hash"),
    )

    cand = (
        banded_self_pairs(
            banded, id_col, ["band", "band_hash"], bucket_cap=bucket_cap
        )
        .select(
            F.col("id_a").alias("doc_id_a"),
            F.col("id_b").alias("doc_id_b"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )

    # Join strategy is left to AQE: the signature table scales with
    # the corpus (never force-broadcast it) while the candidate set
    # scales with duplication; AQE picks broadcast at runtime when
    # either side turns out small.
    sig_a = sig.select(
        F.col(id_col).alias("doc_id_a"), F.col("__sig").alias("__sig_a")
    )
    sig_b = sig.select(
        F.col(id_col).alias("doc_id_b"), F.col("__sig").alias("__sig_b")
    )
    cand = cand.join(sig_a, "doc_id_a").join(sig_b, "doc_id_b")

    agree = F.size(
        F.filter(
            F.zip_with(F.col("__sig_a"), F.col("__sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    est = agree.cast("double") / F.lit(float(num_perm))
    return (
        cand.withColumn("est_jaccard", F.round(est, 6))
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "est_jaccard")
    )


def verify_pairs_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    hashed: bool = False,
) -> DataFrame:
    """Exact-Jaccard verification stage for candidate pairs.

    LSH banding (MinHash/SimHash) generates *candidates*; this stage
    recomputes the exact word-shingle Jaccard on just those pairs and
    keeps the true near-duplicates. Two shuffles on the (small)
    candidate set; the corpus contributes (id, text) to the two
    candidate joins and shingling runs on the joined rows only. When
    banding parameters give full recall at ``threshold``, the output
    equals ground-truth all-pairs Jaccard — which is how the oracle
    queries turn seed-dependent candidate generation into
    value-checkable results.

    Returns ``(doc_id_a, doc_id_b, jaccard)`` with ``jaccard``
    rounded to 6 places.

    ``hashed=True`` replaces each shingle string with its xxhash64
    before comparing: integer set-intersection at compare time — the
    production path (measured ~3x on the verify stage at 100k docs).
    Jaccard over hashed distinct shingles equals Jaccard over the
    strings unless two distinct shingles of the same pair collide in
    64 bits (~1e-15 per pair); keep ``hashed=False`` when
    hash-comparing against another engine.
    """
    # Shingle AFTER the candidate join, not before (r12, guide §3.2's
    # intent executed join-side): the old shape built a corpus-wide
    # (id, shingles) table and joined it in twice — every document
    # paid the interpreted tokenize+n-gram HOFs (and, at bench scale,
    # rode a broadcast) whether or not any candidate pair referenced
    # it, which at 100 TB is a corpus-sized shingle table built per
    # join side. Here the joins attach the raw TEXT of the two
    # candidate docs to each pair row and the shingle expressions run
    # on the joined stream: shingling touches exactly the candidate
    # occurrences, the join payload is the text itself (smaller on
    # the wire than its ~n-gram-multiplied shingle array), the pair
    # generator's subtree is referenced ONCE (persist/stage-reuse
    # variants measured 2-5x worse at sf0.1 — three dead ends logged
    # in OPTIMIZATION_r12.md), and no §2.5 widening exchange is
    # needed because the compute runs on the (wide) pair stream, not
    # the raw scan. Trade, documented: a doc appearing in k candidate
    # pairs shingles k times — the win holds while candidate
    # occurrences stay below corpus size, which full-recall banding
    # on real corpora satisfies by orders of magnitude.
    da = docs.select(
        F.col(id_col).alias("doc_id_a"), F.col(text_col).alias("__ta")
    )
    db = docs.select(
        F.col(id_col).alias("doc_id_b"), F.col(text_col).alias("__tb")
    )
    sh_a = word_shingles(F.col("__ta"), shingle_n)
    sh_b = word_shingles(F.col("__tb"), shingle_n)
    if hashed:
        sh_a = F.array_distinct(F.transform(sh_a, lambda t: F.xxhash64(t)))
        sh_b = F.array_distinct(F.transform(sh_b, lambda t: F.xxhash64(t)))
    return (
        pairs.select("doc_id_a", "doc_id_b")
        .join(da, "doc_id_a")
        .join(db, "doc_id_b")
        # materialize the shingle arrays as columns BEFORE the
        # jaccard expression: jaccard_words references each input
        # twice (intersection + union), and an inline expression tree
        # would be re-evaluated per reference (the element_at lesson
        # at with_minhash_signature) — attribute references are O(1)
        .select(
            "doc_id_a",
            "doc_id_b",
            sh_a.alias("__sh_a"),
            sh_b.alias("__sh_b"),
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(jaccard_words(F.col("__sh_a"), F.col("__sh_b")), 6).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify_threshold: float | None = None,
    **kwargs,
) -> DataFrame:
    """Drop near-duplicates: a doc survives unless a lower-id doc is
    its near-duplicate (single-pass representative selection; full
    connected components would iterate — documented simplification).

    With ``verify_threshold`` set, LSH banding only *proposes*
    candidates (estimate filter disabled) and each candidate pair is
    re-checked with exact shingle Jaccard before any doc is dropped —
    the production shape: banding recall bounds what you can find,
    verification precision decides what you delete. The verified
    output is also engine-checkable: with full-recall banding it
    equals ground-truth all-pairs Jaccard dedup.

    Examples
    --------
        >>> docs = spark.createDataFrame(
        ...     [(1, "the quick brown fox jumps over the lazy dog"),
        ...      (2, "the quick brown fox jumps over the lazy cat"),
        ...      (3, "a completely different sentence about spark")],
        ...     ["doc_id", "text"])
        >>> kept = minhash_dedup(docs, verify_threshold=0.5, shingle_n=2)
        >>> sorted(r.doc_id for r in kept.collect())
        [1, 3]
    """
    if verify_threshold is not None:
        kwargs = dict(kwargs, threshold=0.0)
        cand = minhash_lsh_pairs(df, text_col, id_col, **kwargs)
        pairs = verify_pairs_jaccard(
            cand,
            df,
            text_col=text_col,
            id_col=id_col,
            shingle_n=kwargs.get("shingle_n", 3),
            threshold=verify_threshold,
            hashed=True,  # survivor set is threshold-only: fast path
        )
    else:
        pairs = minhash_lsh_pairs(df, text_col, id_col, **kwargs)
    losers = pairs.select(F.col("doc_id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "__sim",
    bits: int = 63,
) -> DataFrame:
    """Attach a SimHash signature column (bigint), staged for plan
    efficiency.

    Classic SimHash: bit *j* of the signature is the sign of
    ``sum over tokens of (+1 if bit j of xxhash64(token) else -1)``,
    equivalently ``2 * popcount_j > n_tokens``. Stages: (1) hash each
    token once into a materialized array column; (2) ``bits`` small
    ``size(filter(...))`` expressions over that attribute — keeps
    Catalyst's optimizer cost linear in ``bits`` (a single giant
    inlined expression takes minutes to plan). Map-only, no shuffle.
    ``bits`` defaults to 63 so the value stays non-negative.
    """
    hashed = df.withColumn(
        "__sh_h",
        F.transform(tokens(normalize_text(text_col)), lambda t: F.xxhash64(t)),
    )
    n = F.size(F.col("__sh_h"))

    def _bit_set(j: int):
        return lambda h: F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1

    terms = []
    for j in range(bits):
        popcount_j = F.size(F.filter(F.col("__sh_h"), _bit_set(j)))
        terms.append(
            F.when(popcount_j * 2 > n, F.lit(1 << j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    sig = reduce(lambda a, b: a + b, terms)
    return hashed.withColumn(out_col, sig).drop("__sh_h")


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 3,
    n_bands: int = 4,
    bucket_cap: int = 8192,
) -> DataFrame:
    """Near-duplicate pairs by SimHash banding + hamming threshold.

    Classic trick: signatures within hamming distance d must agree
    exactly on at least one of d+1 disjoint bit bands, so candidates
    come from ``n_bands`` bucket joins instead of all pairs. Hot
    ``(band, band_key)`` buckets split into salted sub-group tasks
    above ``bucket_cap`` members (:func:`banded_self_pairs`) — the
    same all-pairs straggler corner as MinHash banding.
    """
    band_bits = 64 // n_bands
    src = df.select(id_col, text_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    # Persisted (and tracked — flycatcher_spark.caching) because the
    # bucket-size census and the pair join both read the banded table;
    # without the cache the compute-dense signature map runs twice.
    # The census action inside banded_self_pairs fills the cache.
    sig = caching.track(
        with_simhash(src, text_col=text_col, out_col="__sim").select(
            id_col, "__sim"
        )
    )
    # unrolled driver-side: shiftrightunsigned requires an int shift
    band_keys = F.array(
        *[
            F.shiftrightunsigned(F.col("__sim"), b * band_bits).bitwiseAND(
                F.lit((1 << band_bits) - 1)
            )
            for b in range(n_bands)
        ]
    )
    banded = sig.select(
        id_col,
        "__sim",
        F.posexplode(band_keys).alias("band", "band_key"),
    )
    pairs = banded_self_pairs(
        banded,
        id_col,
        ["band", "band_key"],
        payload_cols=["__sim"],
        bucket_cap=bucket_cap,
    )
    return (
        pairs.select(
            F.col("id_a").alias("doc_id_a"),
            F.col("id_b").alias("doc_id_b"),
            hamming64(F.col("__sim_a"), F.col("__sim_b")).alias("hamming"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
        .where(F.col("hamming") <= max_distance)
    )


def jaccard_words(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two distinct-word-set arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


def _bucketized_shingle_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str | None,
    max_id_gap: int | None,
    shingle_n: int,
) -> DataFrame:
    """Shared candidate-pair join for the exact pairwise comparators
    (:func:`ngram_jaccard_pairs`, :func:`ngram_containment_pairs`):
    shingle once, then join ``l.id < r.id`` within the block and/or
    id-gap bound.

    Scale design: an ``id <= id + gap`` range predicate alone would
    plan as a BroadcastNestedLoopJoin — an O(n²) scan on a single
    task. The gap is therefore *bucketized*: each row gets bucket
    ``id DIV gap``; a right-side row can only pair with left rows in
    its own or the previous bucket, so exploding the right side to
    two bucket keys turns the range join into a shuffled equi-join
    whose residual range filter runs per bucket. Inputs are
    repartitioned first: shingle/compare work is compute-dense, and
    small parquet inputs otherwise plan as one split.
    """
    base = df.select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("__sh"),
        *( [F.col(block_col)] if block_col else [] ),
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)

    cond = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    if block_col:
        cond = cond & (F.col(f"l.{block_col}") == F.col(f"r.{block_col}"))

    if max_id_gap is not None:
        gap = int(max_id_gap)
        left = base.withColumn("__bucket", F.expr(f"{id_col} DIV {gap}")).alias("l")
        right = (
            base.withColumn(
                "__bucket",
                F.explode(
                    F.array(
                        F.expr(f"{id_col} DIV {gap}"),
                        F.expr(f"{id_col} DIV {gap}") - 1,
                    )
                ),
            )
            .alias("r")
        )
        cond = (
            (F.col("l.__bucket") == F.col("r.__bucket"))
            & cond
            & (F.col(f"r.{id_col}") <= F.col(f"l.{id_col}") + gap)
        )
    else:
        left = base.alias("l")
        right = base.alias("r")

    return left.join(right, cond).select(
        F.col(f"l.{id_col}").alias("doc_id_a"),
        F.col(f"r.{id_col}").alias("doc_id_b"),
        F.col("l.__sh").alias("__sh_a"),
        F.col("r.__sh").alias("__sh_b"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    max_id_gap: int | None = None,
    shingle_n: int = 1,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact pairwise word-shingle Jaccard within a bounded block.

    Unblocked all-pairs Jaccard is quadratic — callers must bound the
    join with ``block_col`` (e.g. language/source) and/or
    ``max_id_gap``. Used both directly (small blocks) and as the
    verification stage after MinHash candidate generation. Join
    shape: :func:`_bucketized_shingle_pairs`.
    """
    pairs = _bucketized_shingle_pairs(
        df, text_col, id_col, block_col, max_id_gap, shingle_n
    )
    return (
        pairs.select(
            "doc_id_a",
            "doc_id_b",
            F.round(jaccard_words(F.col("__sh_a"), F.col("__sh_b")), 6).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    max_id_gap: int | None = None,
    shingle_n: int = 1,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact pairwise shingle CONTAINMENT — the asymmetric measure
    Jaccard misses: ``containment_a = |A∩B| / |A|`` is 1.0 when doc A
    is wholly inside doc B even if B is 100× longer (quoted articles,
    boilerplate-wrapped reposts, chunk-of-other-doc leakage), while
    their Jaccard ≈ |A|/|B| ≈ 0 sails under every dedup threshold
    (the Broder 1997 resemblance-vs-containment distinction).

    Emits both directions plus ``containment = greatest(a, b)``;
    ``threshold`` filters on the max — a pair is interesting when
    EITHER document mostly lives inside the other. Same bounded join
    economics as :func:`ngram_jaccard_pairs` (shared
    :func:`_bucketized_shingle_pairs` stage); empty shingle sets
    report 0.0, never null/NaN.

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [(1, "a b"), (2, "a b c d e f g h")], ["doc_id", "text"])
        >>> r = ngram_containment_pairs(df, shingle_n=1).first()
        >>> (r["containment_a"], r["containment_b"], r["containment"])
        (1.0, 0.25, 1.0)
    """
    pairs = _bucketized_shingle_pairs(
        df, text_col, id_col, block_col, max_id_gap, shingle_n
    )
    inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))

    def contain(n: Column, d: Column) -> Column:
        return F.when(d == 0, F.lit(0.0)).otherwise(
            F.round(n.cast("double") / d.cast("double"), 6)
        )

    scored = pairs.select(
        "doc_id_a",
        "doc_id_b",
        contain(inter, F.size(F.col("__sh_a"))).alias("containment_a"),
        contain(inter, F.size(F.col("__sh_b"))).alias("containment_b"),
    ).withColumn(
        "containment", F.greatest(F.col("containment_a"), F.col("containment_b"))
    )
    return scored.where(F.col("containment") >= threshold)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.95,
    impl: str = "numpy",
    chunk_rows: int = 2048,
    salt: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key.

    - ``impl="numpy"`` (default): one ``applyInPandas`` per block
      computing the cosine matrix with BLAS matmuls — the scale path
      (measured ~20× on 1000-vector blocks). The matmul is CHUNKED
      over row-blocks of ``chunk_rows``: peak memory per task is
      O(chunk_rows × n) for the similarity slab plus O(n × dim) for
      the block's own vectors — a hot cluster no longer materializes
      the n² matrix, so one oversized block degrades to more compute,
      not an executor OOM. (Compute is still O(n²·dim) within a
      block — all-pairs is the semantics; choose the blocking key so
      clusters stay in the thousands.) Values can differ from the sql
      fold in the last float ulp (pairwise vs sequential summation).
    - ``salt=s`` (numpy path): additionally SPLITS every block into
      ``s`` hash sub-groups and runs each of the s(s+1)/2 sub-group
      pairs as its own task — the straggler fix for ONE pathologically
      hot cluster, whose all-pairs compute would otherwise serialize
      into a single task even with bounded memory. Each vector ships
      ``s`` copies through the shuffle (the standard replicated-salt
      trade); results are identical to unsalted (pinned by pytest:
      every intra-cluster pair lands in exactly one sub-group task).
    - ``impl="sql"``: pairwise self-join with a sequential-fold dot
      product — exact, engine-portable values. Use this explicit
      oracle mode when hash-comparing against another engine; the
      fold is interpreted (O(pairs × dim) expression evals), so keep
      it off production paths.
    """
    cols = [F.col(id_col), F.col(vec_col)] + (
        [F.col(block_col)] if block_col else []
    )
    base = df.select(*cols)
    if impl == "numpy":
        if block_col is None:
            raise ValueError("impl='numpy' requires a blocking column")
        thr = threshold
        step = max(1, int(chunk_rows))

        def _self_pairs(ids, V):
            """Upper-triangle near-dup pairs within one vector set
            (ids pre-sorted), chunked over row slabs."""
            out_a, out_b, out_s = [], [], []
            jj = np.arange(len(ids))[None, :]
            for c0, Sr, hit in cosine_slabs(V, V, thr, step):
                # strict upper triangle in GLOBAL indices: col > row
                hit &= jj > (c0 + np.arange(len(Sr)))[:, None]
                r, c = np.nonzero(hit)
                out_a.append(ids[c0 + r])
                out_b.append(ids[c])
                out_s.append(Sr[r, c])
            return out_a, out_b, out_s

        def _cross_pairs(ids_a, Va, ids_b, Vb):
            """Near-dup pairs across two DISJOINT vector sets, chunked;
            output ids ordered (min, max) to match the self case."""
            out_a, out_b, out_s = [], [], []
            for c0, Sr, hit in cosine_slabs(Va, Vb, thr, step):
                r, c = np.nonzero(hit)
                ia = ids_a[c0 + r]
                ib = ids_b[c]
                out_a.append(np.minimum(ia, ib))
                out_b.append(np.maximum(ia, ib))
                out_s.append(Sr[r, c])
            return out_a, out_b, out_s

        def _empty(ids):
            return pd.DataFrame({"id_a": ids[:0], "id_b": ids[:0], "cosine": []})

        def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(id_col)
            ids = pdf[id_col].to_numpy()
            if len(ids) < 2:
                return _empty(ids)
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            out_a, out_b, out_s = _self_pairs(ids, V)
            return pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "cosine": np.concatenate(out_s),
                }
            )

        id_type = df.schema[id_col].dataType.simpleString()
        out_schema = f"id_a {id_type}, id_b {id_type}, cosine double"

        if salt is not None and int(salt) > 1:
            s = int(salt)
            g = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(s))
            # explode over all s partner groups: x == g is the one
            # diagonal copy, each x != g meets that group's task once —
            # (id, __pa, __pb) is already unique, no dedup needed
            rep = (
                base.withColumn("__g", g)
                .withColumn(
                    "__x", F.explode(F.sequence(F.lit(0), F.lit(s - 1)))
                )
                .withColumn("__pa", F.least("__g", "__x"))
                .withColumn("__pb", F.greatest("__g", "__x"))
            )

            def per_salted(pdf: pd.DataFrame) -> pd.DataFrame:
                pa = int(pdf["__pa"].iat[0])
                pb = int(pdf["__pb"].iat[0])
                if pa == pb:
                    return per_block(pdf[[id_col, vec_col]])
                a = pdf[pdf["__g"] == pa].sort_values(id_col)
                b = pdf[pdf["__g"] == pb].sort_values(id_col)
                ids_a = a[id_col].to_numpy()
                ids_b = b[id_col].to_numpy()
                if len(ids_a) == 0 or len(ids_b) == 0:
                    return _empty(ids_a)
                Va = np.stack(a[vec_col].to_numpy()).astype(np.float64)
                Vb = np.stack(b[vec_col].to_numpy()).astype(np.float64)
                out_a, out_b, out_s = _cross_pairs(ids_a, Va, ids_b, Vb)
                return pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cosine": np.concatenate(out_s),
                    }
                )

            return rep.groupBy(block_col, "__pa", "__pb").applyInPandas(
                per_salted, out_schema
            )

        return base.groupBy(block_col).applyInPandas(per_block, out_schema)

    left = base.alias("l")
    right = base.alias("r")
    cond = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    if block_col:
        cond = cond & (F.col(f"l.{block_col}") == F.col(f"r.{block_col}"))
    return (
        left.join(right, cond)
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.round(
                cosine(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}")), 6
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_id_a",
    dst_col: str = "doc_id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Transitive duplicate clusters: connected components over a
    candidate-pair edge list by distributed min-label propagation.

    Returns ``(node, component)`` for every node that appears in an
    edge, where ``component`` is the minimum node id reachable from
    ``node``. Pair generators (minhash/simhash/jaccard/embedding)
    emit *edges*; real dedup needs the transitive closure — A~B and
    B~C must place A,B,C in one cluster even if A~C never banded
    together.

    Scale design:
    - each round is one shuffle join (labels re-keyed by neighbor) +
      a min-aggregate; rounds needed = graph diameter. Near-dup
      clusters are near-cliques, so 2-4 rounds in practice; the
      O(log n) alternating large-star/small-star variant only pays
      off on long-chain graphs.
    - ``localCheckpoint`` truncates the per-round lineage; without it
      the plan doubles every iteration and the optimizer, not the
      data, becomes the bottleneck. On a cluster prefer
      ``spark.sparkContext.setCheckpointDir`` + ``checkpoint()`` for
      fault tolerance.
    - convergence is detected with a count of changed labels — one
      extra cheap action per round on the (small) label table.

    Examples
    --------
        >>> edges = spark.createDataFrame(
        ...     [(1, 2), (2, 3), (7, 9)], ["doc_id_a", "doc_id_b"])
        >>> sorted((r.node, r.component)
        ...        for r in connected_components(edges).collect())
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)]
    """
    edges = pairs.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    edges = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist()
    )
    edges.count()

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )

    def _step(lbl: DataFrame) -> DataFrame:
        neigh_min = (
            edges.join(
                lbl.withColumnRenamed("node", "dst2"),
                edges.dst == F.col("dst2"),
            )
            .groupBy("src")
            .agg(F.min("component").alias("neigh_component"))
        )
        return lbl.join(
            neigh_min, lbl.node == neigh_min.src, "left"
        ).select(
            "node",
            "component",
            F.least(
                F.col("component"),
                F.coalesce(F.col("neigh_component"), F.col("component")),
            ).alias("new_component"),
        )

    # TWO propagation steps per driver round (r12): label propagation
    # is monotone toward one fixed point, so batching steps between
    # convergence checks never changes the converged labels — it only
    # halves the blocking driver actions (the leakage-split CC tail is
    # ~24 driver-gap-bound jobs at sf0.1; each count is a round trip).
    # Convergence still means "one full step changed nothing": the
    # count compares the round's LAST step against its input, and a
    # converged table makes the extra mid-round step a no-op join on
    # the (small) label table. The step budget stays exactly
    # ``max_iter`` (a non-converged adversarial graph returns the same
    # labels-after-25-steps as before).
    # LAZY checkpoint + count: the convergence count is the round's
    # first action, so it materializes the checkpoint as a side
    # effect — one job per round (r11), now one per TWO steps.
    checkpoint = labels
    steps_left = max_iter
    while steps_left > 0:
        u1 = _step(labels)
        if steps_left >= 2:
            l1 = u1.select("node", F.col("new_component").alias("component"))
            updated = _step(l1).localCheckpoint(eager=False)
            steps_left -= 2
        else:
            updated = u1.localCheckpoint(eager=False)
            steps_left -= 1
        changed = updated.where(
            F.col("new_component") != F.col("component")
        ).count()
        caching.release_checkpoint(checkpoint)
        checkpoint = updated
        labels = updated.select(
            "node", F.col("new_component").alias("component")
        )
        if changed == 0:
            break
    edges.unpersist()
    return labels


def minhash_dedup_transitive(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify_threshold: float | None = None,
    **kwargs,
) -> DataFrame:
    """Drop near-duplicates with full transitive clustering: one
    survivor (min id) per connected component of the near-dup graph.
    Compare :func:`minhash_dedup`, which only drops direct pair
    losers and can keep two docs that are both near-dups of a third.
    ``verify_threshold`` re-checks every candidate edge with exact
    shingle Jaccard before clustering, like :func:`minhash_dedup` —
    especially important transitively, where one false edge merges
    two whole clusters."""
    if verify_threshold is not None:
        kwargs = dict(kwargs, threshold=0.0)
        cand = minhash_lsh_pairs(df, text_col, id_col, **kwargs)
        pairs = verify_pairs_jaccard(
            cand,
            df,
            text_col=text_col,
            id_col=id_col,
            shingle_n=kwargs.get("shingle_n", 3),
            threshold=verify_threshold,
            hashed=True,  # cluster membership is threshold-only
        )
    else:
        pairs = minhash_lsh_pairs(df, text_col, id_col, **kwargs)
    comp = connected_components(pairs, "doc_id_a", "doc_id_b")
    losers = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")

def incremental_exact_dedup(
    new_batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact incremental dedup: the shape a production ingest actually
    runs — a new batch arrives and must be deduplicated *against the
    already-accepted corpus* without rewriting the corpus.

    A new document is dropped if its normalized fingerprint (md5 of
    lowercased, whitespace-collapsed text) already exists in the
    corpus, or if a lower-id document in the same batch shares it.

    Scale shape: the corpus contributes only its distinct fingerprint
    column to a ``left_anti`` hash join (key-only, payload pruned at
    the scan); the within-batch pass is one ``groupBy(fingerprint)``
    shuffle over the (small) batch. Neither side ever shuffles the
    corpus text.

    Examples
    --------
        >>> corpus = spark.createDataFrame(
        ...     [(1, "seen before")], ["doc_id", "text"])
        >>> batch = spark.createDataFrame(
        ...     [(10, "Seen  Before"), (11, "brand new"), (12, "brand new")],
        ...     ["doc_id", "text"])
        >>> sorted(r.doc_id
        ...        for r in incremental_exact_dedup(batch, corpus).collect())
        [11]
    """
    fp = F.md5(normalize_text(text_col))
    corpus_fp = corpus.select(fp.alias("__fp")).distinct()
    batch = new_batch.withColumn("__fp", fp)
    fresh = batch.join(corpus_fp, on="__fp", how="left_anti")
    keep = (
        fresh.groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return new_batch.join(keep, on=id_col, how="inner")


def incremental_minhash_dedup(
    new_batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    verify_threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Fuzzy incremental dedup: drop new documents that are
    near-duplicates (exact shingle Jaccard >= ``verify_threshold``)
    of any corpus document. Ids must be unique across both tables.

    LSH proposes, exact Jaccard decides (same contract as
    :func:`minhash_dedup`): banding recall bounds what can be found,
    the verification stage guarantees nothing is dropped below the
    threshold.

    Scale shape: signatures are computed in one map-only pass over
    ``new ∪ corpus`` (one scan of the compute-dense stage instead of
    two); the band join is new-side × corpus-side within each
    (band, band_hash) bucket — never a corpus self-join, so cost
    scales with the *batch*, not the corpus. Candidate verification
    and the final anti-join touch only candidate ids.
    """
    rows_per_band = num_perm // bands
    tagged = (
        new_batch.select(id_col, text_col)
        .withColumn("__is_new", F.lit(True))
        .unionByName(
            corpus.select(id_col, text_col).withColumn(
                "__is_new", F.lit(False)
            )
        )
    )
    src = tagged.repartition(
        tagged.sparkSession.sparkContext.defaultParallelism
    )
    # Short docs drop on the kernel's null signature (see
    # minhash_lsh_pairs for why this beats a scan-side pre-filter).
    sig = (
        with_minhash_signature(
            src,
            text_col=text_col,
            out_col="__sig",
            num_perm=num_perm,
            shingle_n=shingle_n,
            seed=seed,
        )
        .select(id_col, "__is_new", "__sig")
        .where(F.col("__sig").isNotNull())
    )
    banded = sig.select(
        id_col,
        "__is_new",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.hash(
                    F.slice(
                        F.col("__sig"), b * rows_per_band + 1, rows_per_band
                    )
                ),
            )
        ).alias("band", "band_hash"),
    )
    new_side = banded.where(F.col("__is_new")).alias("l")
    corp_side = banded.where(~F.col("__is_new")).alias("r")
    cand = (
        new_side.join(
            corp_side,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash")),
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_id_a"),
            F.col(f"r.{id_col}").alias("doc_id_b"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    confirmed = verify_pairs_jaccard(
        cand,
        tagged,
        text_col=text_col,
        id_col=id_col,
        shingle_n=shingle_n,
        threshold=verify_threshold,
        hashed=True,  # survivor set is threshold-only: fast path
    )
    losers = confirmed.select(F.col("doc_id_a").alias(id_col)).distinct()
    return new_batch.join(losers, on=id_col, how="left_anti")


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 16,
) -> DataFrame:
    """Span-level (sub-document) dedup: remove n-token spans that are
    duplicated ANYWHERE in the corpus, keeping the first occurrence
    (min doc id, then earliest position). The C4-style complement to
    document-level dedup — boilerplate headers, license blocks, and
    copy-pasted passages repeat across otherwise-distinct documents
    that no whole-document comparison will pair up.

    Documents split into NON-overlapping ``span``-token windows over
    normalized text; the trailing partial window never participates
    (always kept), so docs shorter than ``span`` pass through intact
    — whole-doc dedup is :func:`exact_dedup`'s job.

    Returns one row per input doc: ``(id, n_spans, n_kept,
    text_dedup)`` where ``text_dedup`` is the surviving spans plus
    remainder, original order, single-spaced.

    Scale shape — the document text NEVER shuffles: the wide stage
    carries only ``(span_hash, id, window_idx)`` (8+8+4 bytes per
    span); duplicate-span positions (small by nature) come back via a
    groupBy(id) and the text is rebuilt in a second map pass over the
    scan. Survivor choice is a single min-struct aggregate per hash —
    no windows, no skew pivot on a hot span beyond one (hash, count)
    cell, and AQE is free to broadcast the loser list.
    """
    from ..plans import ensure_min_parallelism

    # both map passes (span hashing, text rebuild) are CPU-bound:
    # widen an under-partitioned scan first (no-op on wide inputs)
    df = ensure_min_parallelism(df, key=id_col)
    toks = tokens(normalize_text(text_col))

    # Guarded: sequence(0, -1) would generate a DESCENDING [0, -1]
    # for sub-span docs, not an empty array. The token array binds
    # once per row (text.bind_once) in BOTH map passes — per-window
    # lambdas referencing the raw tokenize tree would re-run it per
    # window (the 16× interpreted-HOF trap).
    def _win_idx(tk: Column) -> Column:
        n_w = F.floor(F.size(tk) / span).cast("int")
        return F.when(
            n_w > 0, F.sequence(F.lit(0), n_w - 1)
        ).otherwise(F.array().cast("array<int>"))

    def _win_text(tk: Column, i: Column) -> Column:
        return F.concat_ws(" ", F.slice(tk, i * span + 1, span))

    spans = df.select(
        F.col(id_col),
        F.posexplode(
            bind_once(
                toks,
                lambda tk: F.transform(
                    _win_idx(tk), lambda i: F.xxhash64(_win_text(tk, i))
                ),
            )
        ).alias("__widx", "__h"),
    )

    first = spans.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col), F.col("__widx"))).alias("__first"),
        F.count(F.lit(1)).alias("__n"),
    )
    losers = (
        spans.join(first.where(F.col("__n") > 1), "__h")
        .where(
            (F.col(id_col) != F.col("__first")[id_col])
            | (F.col("__widx") != F.col("__first.__widx"))
        )
        .groupBy(id_col)
        .agg(F.collect_set("__widx").alias("__drop"))
    )

    def _rebuild(tk: Column) -> Column:
        n_w = F.floor(F.size(tk) / span).cast("int")
        kept_wins = F.filter(
            F.transform(_win_idx(tk), lambda i: _win_text(tk, i)),
            lambda w, i: ~F.coalesce(
                F.array_contains(F.col("__drop"), i), F.lit(False)
            ),
        )
        return F.struct(
            n_w.alias("nw"),
            F.trim(  # either part may be empty; trim the stray separator
                F.concat_ws(
                    " ",
                    F.concat_ws(" ", kept_wins),
                    F.concat_ws(" ", F.slice(tk, n_w * span + 1, span)),
                )
            ).alias("txt"),
        )

    # stage the struct through a column: three field references on
    # the raw expression would evaluate the rebuild three times
    rebuilt = (
        df.join(losers, on=id_col, how="left")
        .withColumn("__rb", bind_once(toks, _rebuild))
        .select(
            F.col(id_col),
            F.col("__rb.nw").cast("bigint").alias("n_spans"),
            (
                F.col("__rb.nw") - F.coalesce(F.size("__drop"), F.lit(0))
            ).cast("bigint").alias("n_kept"),
            F.col("__rb.txt").alias("text_dedup"),
        )
    )
    return rebuilt


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    min_chars: int = 1,
    normalize: bool = True,
) -> DataFrame:
    """Cross-document duplicated-line removal (the FineWeb /
    RefinedWeb line-dedup stage): a line whose normalized form
    appears in at least ``min_docs`` DISTINCT documents is boilerplate
    (cookie banners, nav bars, footers) and is removed from EVERY
    document; each document's surviving lines are rejoined in their
    original order. Complements :func:`span_dedup` (which removes
    *within*-corpus verbatim token spans): line dedup is the cheap
    structural pass that runs first in real web pipelines.

    Lines whose normalized form is shorter than ``min_chars`` (blank
    lines by default) never count and are never removed — removing
    blank lines would silently reflow every document.

    Returns ``(id_col, text_dedup, n_lines, n_removed)`` — join back
    on ``id_col`` for the full rows.

    Scale shape: the frequency pass groups on ``md5`` of the
    normalized line (32-byte fixed key — raw line text stays out of
    the counting exchange; md5 rather than xxhash64 so any SQL engine
    replays the key, and a collision merely double-counts one line
    shape); the removal join carries (id, pos, line-hash); the
    rebuild groups by document id. Nothing quadratic, no driver-side
    state.

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [(1, "keep me\\nSHARED FOOTER"), (2, "other\\nSHARED FOOTER")],
        ...     ["doc_id", "text"])
        >>> out = line_dedup(df).orderBy("doc_id").collect()
        >>> [(r.text_dedup, r.n_removed) for r in out]
        [('keep me', 1), ('other', 1)]
    """
    key_src = F.col("__line")
    key = normalize_text(key_src) if normalize else key_src
    # posexplode_outer, not posexplode: a NULL text must keep its row
    # (null line → null text_dedup, 0 lines) instead of silently
    # dropping the document from the output
    lines = df.select(
        F.col(id_col),
        F.posexplode_outer(
            F.split(F.col(text_col), "\n")
        ).alias("__pos", "__line"),
    ).withColumn(
        "__h",
        F.when(F.length(key) >= min_chars, F.md5(key)),
    )
    frequent = (
        lines.where(F.col("__h").isNotNull())
        .groupBy("__h")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__h", F.lit(True).alias("__rm"))
    )
    marked = lines.join(frequent, on="__h", how="left")
    keep_struct = F.when(
        F.col("__rm").isNull(),
        F.struct(F.col("__pos"), F.col("__line")),
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.when(
                F.count(F.col("__line")) > 0,
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(F.collect_list(keep_struct)),
                        lambda s: s.getField("__line"),
                    ),
                ),
            ).alias("text_dedup"),
            F.count(F.col("__line")).alias("n_lines"),
            F.sum(
                F.coalesce(F.col("__rm"), F.lit(False)).cast("long")
            ).alias("n_removed"),
        )
    )
