"""Corpus-curation operators for pretraining-data pipelines.

Extensions beyond the reference surface (BASELINE.json north star),
covering the selection stages a 100 TB training-data build runs after
dedup: rule-based quality gates (Gopher-style), a linear
quality-classifier scorer (FastText/FineWeb-Edu-shaped, fixed
weights), unigram language-model surprise scoring, DSIR importance
resampling, per-domain caps, temperature-based mixture sampling,
deterministic global training order, cross-document sequence packing,
semantic dedup over embeddings, and the per-source corpus data card.

Scale posture (see SCALE.md): every per-document metric is a pure
Column expression (map-only, whole-stage codegen, cost = the scan);
the corpus-level statistics these operators need (vocabulary, source
counts, shard offsets) are tiny aggregates that broadcast back —
no operator here shuffles document text.

Engine-parity rules shared with the DuckDB oracles: whitespace
tokenization via ``text.tokens``, md5-bucket hashing via
``text.md5_bucket``, natural ``ln`` + ``round(x, 6)`` for scores
(the doc_tfidf pattern), and explicit ``sqrt`` for the temperature
exponent so both engines hit the correctly-rounded IEEE path.
"""

from __future__ import annotations

import re as _re

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import _col, md5_bucket, tokens

# Marker words whose presence Gopher requires (>= 2 of them) — kept
# lowercase and engine-neutral.
REQUIRED_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# Symbols Gopher counts against the word count: hash marks and
# ellipses (both the three-dot and the single-char form).
_SYMBOL_RE = r"#|\.\.\.|…"
_BULLET_RE = r"^\s*[-*•]"
_ELLIPSIS_END_RE = r"(\.\.\.|…)\s*$"

# Blocklist match normalization: anything that is not a letter,
# number, or whitespace becomes a space BEFORE whitespace collapse,
# so punctuation-adjacent occurrences ("fox,", "word!") still match
# whole-word probes. \p{L}\p{N} works identically in Java regex
# (Spark) and RE2 (the DuckDB oracle); the Python mirror below is
# applied to the phrase list.
_PUNCT_RE = r"[^\p{L}\p{N}\s]"
_PUNCT_PY = _re.compile(r"[^\w\s]|_", _re.UNICODE)


def lines(text: Column | str) -> Column:
    """Lines of a document (split on newline; no trailing trim so the
    line count matches DuckDB's ``str_split``)."""
    return F.split(_col(text), r"\n")


def gopher_struct(text: Column | str) -> Column:
    """All Gopher rule metrics as ONE struct from one tokenize pass
    and one line-split pass (``text.bind_once``; see the interpreted-
    HOF re-evaluation note in SCALE.md). Field expressions are
    identical to :func:`gopher_metrics` (pinned by pytest).

    Fields: ``n_words``, ``mean_word_len``, ``alpha_word_ratio``,
    ``symbol_ratio``, ``bullet_line_ratio``, ``ellipsis_line_ratio``,
    ``stopword_hits``. Ratios are 0.0 on empty documents.
    """
    from .text import bind_once

    c = _col(text)

    def build(tk: Column) -> Column:
        n_words = F.size(tk)
        nw_d = n_words.cast("double")
        total_len = F.aggregate(
            tk, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        )
        mean_word_len = F.when(n_words == 0, F.lit(0.0)).otherwise(
            F.round(total_len.cast("double") / nw_d, 6)
        )
        alpha_hits = F.size(F.filter(tk, lambda t: t.rlike("[A-Za-z]")))
        alpha_word_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(
            F.round(alpha_hits.cast("double") / nw_d, 6)
        )
        symbol_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(
            F.round(
                F.regexp_count(c, F.lit(_SYMBOL_RE)).cast("double") / nw_d, 6
            )
        )
        lowered = F.array_distinct(F.transform(tk, F.lower))
        stopword_hits = F.size(
            F.array_intersect(
                lowered, F.array(*[F.lit(w) for w in REQUIRED_STOPWORDS])
            )
        )

        def build_lines(ls: Column) -> Column:
            n_lines = F.size(ls).cast("double")
            return F.struct(
                F.round(
                    F.size(F.filter(ls, lambda l: l.rlike(_BULLET_RE))).cast(
                        "double"
                    )
                    / n_lines,
                    6,
                ).alias("b"),
                F.round(
                    F.size(
                        F.filter(ls, lambda l: l.rlike(_ELLIPSIS_END_RE))
                    ).cast("double")
                    / n_lines,
                    6,
                ).alias("e"),
            )

        lp = bind_once(lines(c), build_lines)
        return F.struct(
            n_words.alias("n_words"),
            mean_word_len.alias("mean_word_len"),
            alpha_word_ratio.alias("alpha_word_ratio"),
            symbol_ratio.alias("symbol_ratio"),
            lp["b"].alias("bullet_line_ratio"),
            lp["e"].alias("ellipsis_line_ratio"),
            stopword_hits.alias("stopword_hits"),
        )

    return bind_once(tokens(c), build)


def gopher_metrics(text: Column | str) -> dict[str, Column]:
    """The per-document metrics behind the Gopher quality rules, as
    named Column expressions (map-only, no UDFs).

    Keys match :func:`gopher_struct`'s fields. Each dict entry is an
    independent Column (its own tokenize pass when evaluated alone);
    when selecting SEVERAL metrics at once, stage
    ``gopher_struct(text)`` through a column instead — one pass for
    all of them.
    """
    gs = gopher_struct(text)
    return {
        k: gs[k]
        for k in [
            "n_words",
            "mean_word_len",
            "alpha_word_ratio",
            "symbol_ratio",
            "bullet_line_ratio",
            "ellipsis_line_ratio",
            "stopword_hits",
        ]
    }


def gopher_pass(
    text: Column | str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> Column:
    """Gopher-style rule gate as ONE boolean Column.

    Defaults follow the published Gopher ranges; callers tune them to
    the corpus (the registered query uses bounds fitted to the
    synthetic documents table so the gate splits it non-trivially).

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [("the cat sat on the warm mat today",), ("zzz !!!",)],
        ...     ["text"])
        >>> gate = gopher_pass("text", min_words=5, min_stopword_hits=1)
        >>> [r.ok for r in df.select(gate.alias("ok")).collect()]
        [True, False]
    """
    from .text import bind_once

    # bind the metrics struct once so the nine rule terms reference a
    # materialized value, not nine copies of the metric subtree
    return bind_once(
        gopher_struct(text),
        lambda m: (
            (m["n_words"] >= min_words)
            & (m["n_words"] <= max_words)
            & (m["mean_word_len"] >= min_mean_word_len)
            & (m["mean_word_len"] <= max_mean_word_len)
            & (m["symbol_ratio"] <= max_symbol_ratio)
            & (m["bullet_line_ratio"] <= max_bullet_line_ratio)
            & (m["ellipsis_line_ratio"] <= max_ellipsis_line_ratio)
            & (m["alpha_word_ratio"] >= min_alpha_word_ratio)
            & (m["stopword_hits"] >= min_stopword_hits)
        ),
    )


# Default linear-model weights for the classifier scorer: a stand-in
# for a trained FastText/regression quality model (the container has
# no model artifacts). The *shape* is the real contract: a fixed
# weight vector over cheap per-doc features, applied map-only.
DEFAULT_CLASSIFIER_WEIGHTS: dict[str, float] = {
    "stopword_ratio": 4.0,
    "mean_word_len_centered": -0.5,  # |mean_word_len - 5| penalty
    "punct_ratio": -3.0,
    "digit_ratio": -2.0,
    "log_n_words": 0.25,
}
DEFAULT_CLASSIFIER_BIAS = -0.5


def classifier_score(
    text: Column | str,
    weights: dict[str, float] | None = None,
    bias: float | None = None,
) -> Column:
    """Linear quality-classifier score ``sigmoid(w . x + b)`` in
    [0, 1], rounded to 6 decimals.

    Features are pure Column expressions (see
    ``DEFAULT_CLASSIFIER_WEIGHTS`` for the names); swapping in real
    trained weights changes only the dict. Map-only — at 100 TB this
    scores at scan speed, which is exactly why production pipelines
    distill big quality models into linear scorers.
    """
    from . import text as T
    from .text import bind_once

    w = DEFAULT_CLASSIFIER_WEIGHTS if weights is None else weights
    b = DEFAULT_CLASSIFIER_BIAS if bias is None else bias
    c = _col(text)

    def build(tk: Column) -> Column:
        # one tokenize pass for all token-derived features
        n_words = F.size(tk).cast("double")
        feats: dict[str, Column] = {
            "stopword_ratio": T._stopword_ratio_tk(tk),
            "mean_word_len_centered": F.abs(
                T._mean_token_length_tk(tk) - F.lit(5.0)
            ),
            "punct_ratio": T.punct_ratio(c),
            "digit_ratio": T.digit_ratio(c),
            "log_n_words": F.log(n_words + F.lit(1.0)),
        }
        z = F.lit(float(b))
        for name, weight in sorted(w.items()):
            if name not in feats:
                raise KeyError(f"unknown classifier feature: {name}")
            z = z + F.lit(float(weight)) * feats[name]
        return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)

    return bind_once(T.tokens(c), build)


def unigram_surprise(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
    oov_scale: float = 0.5,
) -> DataFrame:
    """Per-document mean unigram surprise (-ln p(token)) under the
    corpus's own unigram LM — the cheap stand-in for perplexity-based
    quality filtering (high surprise = unusual/noisy text).

    Two aggregates over the exploded token stream, both scale-safe:

    - vocabulary: ``groupBy(token)`` with map-side partial counts,
      then top-``vocab_size`` via TakeOrderedAndProject (count desc,
      token asc — deterministic); the vocab and the total token count
      are tiny and BROADCAST back, so the scoring join never shuffles
      the corpus.
    - scoring: explode -> broadcast-join vocab -> ``groupBy(doc_id)``
      whose shuffle carries one partial row per doc per partition
      (tokens of a doc are partition-local), not per token.

    Out-of-vocabulary tokens cost ``-ln(oov_scale / N)``. Returns
    ``(id_col, n_tokens, surprise)`` with surprise rounded to 6.
    Per-token costs are rounded to 9 decimals and summed as DECIMAL
    (the repo's order-independent-aggregate rule), so the result is
    bitwise identical under any partitioning and across engines.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(F.transform(tokens(text_col), F.lower)).alias("token"),
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    vocab = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(vocab_size)
    total = counts.agg(F.sum("cnt").cast("double").alias("__n_total"))
    cost = F.when(
        F.col("cnt").isNotNull(),
        -F.log(F.col("cnt").cast("double") / F.col("__n_total")),
    ).otherwise(-F.log(F.lit(float(oov_scale)) / F.col("__n_total")))
    scored = (
        toks.join(F.broadcast(vocab), "token", "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.round(cost, 9).cast("decimal(20,9)").alias("cost9"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.round(
            F.sum("cost9").cast("double") / F.count("*"), 6
        ).alias("surprise"),
    )


def blocklist_hits(
    text: Column | str, phrases: list[str], impl: str = "column"
) -> Column:
    """Number of distinct blocklist phrases present in the document —
    the C4-style bad-word gate. Matching is whole-word on normalized
    text (lowercase, punctuation stripped to spaces, collapsed
    whitespace), so multi-word phrases work, ``"class"`` never
    matches inside ``"classification"``, and sentence-final
    occurrences (``"fox,"``, ``"bad word!"``) DO match — punctuation
    adjacency must not under-filter real prose. Phrases normalize
    through the same pipeline, so a listed ``"word!"`` matches a
    document's ``"word"``.

    Two implementations, identical results (pinned by pytest):

    - ``impl="column"`` (default): k ``contains`` probes against the
      once-normalized padded text (map-only; codegen CSE shares the
      normalization across probes; engine-portable — this is what the
      DuckDB oracle replays). Right for curated lists in the hundreds
      (C4's list is ~400 entries); cost and plan size grow linearly
      in k.
    - ``impl="kernel"``: one Arrow-batched pass whose cost is
      independent of the list size — tokenize once per document, then
      C-speed set intersections (exact single-word lookups plus one
      n-gram set per distinct multi-word phrase length). The phrase
      sets ship by value in the closure; a 50k-entry list costs the
      same scan as 50. The scale path for real blocklists.

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [(1, "the Quick  brown fox, runs.")], ["id", "text"])
        >>> df.select(blocklist_hits(
        ...     "text", ["quick brown", "fox", "class"]).alias("n")
        ... ).first()["n"]
        2
    """
    norm_phrases = sorted(
        {
            " ".join(_PUNCT_PY.sub(" ", str(p).lower()).split())
            for p in phrases
        }
        - {""}
    )
    if impl == "kernel":
        return _blocklist_hits_kernel(_col(text), norm_phrases)
    if impl != "column":
        raise ValueError(f"unknown impl: {impl}")
    if not norm_phrases:
        return F.lit(0)
    normed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(_col(text)), _PUNCT_RE, " "),
            r"^\s+|\s+$",
            "",
        ),
        r"\s+",
        " ",
    )
    padded = F.concat(F.lit(" "), normed, F.lit(" "))
    hit = None
    for p in norm_phrases:
        term = padded.contains(f" {p} ").cast("int")
        hit = term if hit is None else hit + term
    return hit


def _blocklist_hits_kernel(c: Column, norm_phrases: list[str]) -> Column:
    r"""Arrow kernel behind ``blocklist_hits(impl="kernel")``: distinct
    whole-word phrase hits via set intersection — one normalization +
    tokenize per document, then a hash-set probe per n-gram length
    present in the list (almost always 1-3). Python-side
    normalization mirrors the Column/oracle pipeline (lowercase,
    punctuation → space, whitespace collapse); exotic codepoints
    outside ``\w`` may classify differently from Java's ``\p{L}`` —
    ASCII/letter text is identical (pinned by pytest against the
    Column impl on the real corpus)."""
    import re

    from pyspark.sql.pandas.functions import pandas_udf

    singles = frozenset(p for p in norm_phrases if " " not in p)
    multis_raw: dict[int, set[str]] = {}
    for p in norm_phrases:
        n = p.count(" ") + 1
        if n > 1:
            multis_raw.setdefault(n, set()).add(p)
    multis = {n: frozenset(s) for n, s in sorted(multis_raw.items())}
    punct = re.compile(r"[^\w\s]|_", re.UNICODE)
    empty = not norm_phrases

    @pandas_udf("integer")
    def _hits(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                # parity with the Column impl: null text -> null hits
                out.append(None)
                continue
            if empty:
                out.append(0)
                continue
            toks = punct.sub(" ", t.lower()).split()
            n_hit = len(singles.intersection(toks))
            for n, ps in multis.items():
                if len(toks) >= n:
                    grams = {
                        " ".join(toks[i : i + n])
                        for i in range(len(toks) - n + 1)
                    }
                    n_hit += len(ps & grams)
            out.append(n_hit)
        return pd.Series(out, dtype="object")

    return _hits(c)


def blocklist_pass(
    text: Column | str,
    phrases: list[str],
    max_hits: int = 0,
    impl: str = "column",
) -> Column:
    """Boolean gate: at most ``max_hits`` distinct blocklist phrases
    (default: zero tolerance, the C4 rule). ``impl`` as in
    :func:`blocklist_hits`.

    Examples
    --------
        >>> df = spark.createDataFrame([(1, "a clean doc")], ["id", "text"])
        >>> df.select(blocklist_pass("text", ["bad word"]).alias("ok")
        ... ).first()["ok"]
        True
    """
    return blocklist_hits(text, phrases, impl=impl) <= int(max_hits)


def bigram_surprise(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
    bigram_vocab_size: int = 4000,
    lam: float = 0.5,
    oov_scale: float = 0.5,
) -> DataFrame:
    """Per-document mean surprise under a Jelinek-Mercer interpolated
    bigram LM — one rung up the CCNet ladder from
    :func:`unigram_surprise` toward the KenLM 5-gram scorer:
    ``p(w_i | w_{i-1}) = lam * p_bigram + (1 - lam) * p_unigram``,
    with the first token of each doc scored by the unigram model
    alone. Bigram probabilities come from the corpus's own
    top-``bigram_vocab_size`` bigram table (count over context
    count); unseen bigrams back off entirely to the unigram term.

    Scale shape: the corpus explodes into a ``(cur, prev)`` token
    stream map-side (the token array binds once per row — no
    re-tokenize per position); both LM tables are bounded
    (``vocab_size`` / ``bigram_vocab_size`` rows, ties broken
    lexicographically) and BROADCAST, so scoring never shuffles the
    corpus — the per-doc aggregate's shuffle carries one partial row
    per doc per partition. Per-token costs round to 9 decimals and
    sum as DECIMAL (partitioning- and engine-exact).

    ``lam`` defaults to 0.5 deliberately: 0.5 is exactly
    representable in both binary doubles and SQL decimal literals, so
    the Spark expression and the DuckDB oracle compute bit-identical
    mixtures. Returns ``(id_col, n_tokens, surprise)``.

    Examples
    --------
        >>> docs = spark.createDataFrame(
        ...     [(1, "a b " * 8), (2, "b a a b b a a a b b a b " + "a b ")],
        ...     ["doc_id", "text"])   # same unigrams; 1 is predictable
        >>> out = {r.doc_id: r.surprise for r in bigram_surprise(
        ...     docs, vocab_size=4, bigram_vocab_size=8).collect()}
        >>> out[1] < out[2]
        True
    """
    from .text import bind_once

    low = F.transform(tokens(text_col), F.lower)
    stream = docs.select(
        F.col(id_col),
        F.explode(
            bind_once(
                low,
                lambda a: F.transform(
                    a,
                    lambda x, i: F.struct(
                        x.alias("cur"),
                        F.when(i > 0, F.element_at(a, i))
                        .otherwise(F.lit(None).cast("string"))
                        .alias("prev"),
                    ),
                ),
            )
        ).alias("__t"),
    ).select(id_col, "__t.cur", "__t.prev")

    # ONE pair-count pass feeds all four LM tables. unigram counts,
    # the total, bigram counts and context counts are all sums of the
    # (prev, cur) pair-count table (ucnt(cur) = sum over prev;
    # ctx(prev) = sum over non-null-prev cur; total = sum of all), so
    # aggregating pairs once and re-aggregating the bounded pair table
    # replaces four independent explode+shuffle passes over the corpus
    # with one — and because every consumer reads the IDENTICAL
    # partial-aggregate subtree (same keys, same count buffer, same
    # pruned scan), Catalyst's ReuseExchange computes the exploded
    # shuffle once (plan: 5 Generate scans -> 2; guide §2.4). Counts
    # are exact integers, so every derived table is cell-identical to
    # the per-pass originals.
    pair_counts = stream.groupBy("prev", "cur").agg(
        F.count("*").alias("pcnt")
    )
    counts = pair_counts.groupBy("cur").agg(F.sum("pcnt").alias("ucnt"))
    vocab = counts.orderBy(F.desc("ucnt"), F.asc("cur")).limit(vocab_size)
    total = counts.agg(F.sum("ucnt").cast("double").alias("__n_total"))

    # Context counts ride along as a window sum over the SAME pair
    # table (ctx(prev) = sum of pair counts sharing the context), so
    # the old bigrams⋈ctx join disappears — and with it the
    # ``isnotnull(prev)`` filter that join would infer and push below
    # the aggregate, splitting the shared exchange. The top-k filter
    # must still exclude the prev=NULL group (doc-first tokens); a
    # plain ``prev IS NOT NULL`` is a partition/grouping-key predicate
    # that Catalyst would push below both the window and the
    # aggregate, so the condition references the aggregate output
    # ``pcnt`` inside one non-splittable conjunct (pcnt >= 1 always:
    # the value is exactly "prev is not null"), pinning it above.
    w_ctx = Window.partitionBy("prev")
    bmodel = (
        pair_counts.withColumn("ctx", F.sum("pcnt").over(w_ctx))
        .where(
            F.when(F.col("prev").isNotNull(), F.col("pcnt") > 0).otherwise(
                F.lit(False)
            )
        )
        .select("prev", "cur", F.col("pcnt").alias("bcnt"), "ctx")
        .orderBy(F.desc("bcnt"), F.asc("prev"), F.asc("cur"))
        .limit(bigram_vocab_size)
    )  # stays <= bigram_vocab_size rows

    p_uni = F.when(
        F.col("ucnt").isNotNull(),
        F.col("ucnt").cast("double") / F.col("__n_total"),
    ).otherwise(F.lit(float(oov_scale)) / F.col("__n_total"))
    p_big = F.when(
        F.col("bcnt").isNotNull(),
        F.col("bcnt").cast("double") / F.col("ctx").cast("double"),
    ).otherwise(F.lit(0.0))
    p = F.when(F.col("prev").isNull(), p_uni).otherwise(
        F.lit(float(lam)) * p_big + F.lit(1.0 - float(lam)) * p_uni
    )
    scored = (
        stream.join(F.broadcast(vocab), "cur", "left")
        .join(F.broadcast(bmodel), ["prev", "cur"], "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.round(-F.log(p), 9).cast("decimal(20,9)").alias("cost9"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.round(
            F.sum("cost9").cast("double") / F.count("*"), 6
        ).alias("surprise"),
    )


def ccnet_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
    oov_scale: float = 0.5,
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
) -> DataFrame:
    """CCNet-style perplexity bucketing: split the corpus into
    ``head`` / ``middle`` / ``tail`` thirds by language-model
    surprise (CCNet buckets documents by Wikipedia-LM perplexity and
    trains preferentially on the head; here the LM is the corpus's
    own top-V unigram model via :func:`unigram_surprise`).

    Thresholds are EXACT interpolated percentiles of the per-doc
    surprise (``F.percentile``, the linearly-interpolated definition
    both Spark and DuckDB's ``quantile_cont`` implement), computed in
    one one-row aggregate and broadcast back — no global sort, no
    second corpus pass. Surprise values are DECIMAL-summed and
    rounded (engine/partitioning exact), so the rounded thresholds
    and therefore the bucket labels are reproducible cell-for-cell.
    Docs with zero tokens carry no LM evidence and are excluded
    (matching :func:`unigram_surprise`).

    Returns ``(id_col, n_tokens, surprise, bucket)``.

    Examples
    --------
        >>> docs = spark.createDataFrame(
        ...     [(i, "the " * 10 + "x%d " % i * i) for i in range(1, 7)],
        ...     ["doc_id", "text"])   # more OOV words -> higher surprise
        >>> out = {r.doc_id: r.bucket for r in
        ...        ccnet_buckets(docs, vocab_size=1).collect()}
        >>> [out[i] for i in range(1, 7)]
        ['head', 'head', 'middle', 'middle', 'tail', 'tail']
    """
    scored = unigram_surprise(
        docs, text_col=text_col, id_col=id_col,
        vocab_size=vocab_size, oov_scale=oov_scale,
    )
    th = scored.agg(
        F.round(F.percentile("surprise", F.lit(float(cuts[0]))), 6).alias("__t1"),
        F.round(F.percentile("surprise", F.lit(float(cuts[1]))), 6).alias("__t2"),
    )
    return scored.crossJoin(F.broadcast(th)).select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("surprise"),
        F.when(F.col("surprise") <= F.col("__t1"), F.lit("head"))
        .when(F.col("surprise") <= F.col("__t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def budget_mix(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    token_count: Column,
    default_budget: int,
    budgets: dict[str, int] | None = None,
    seed: str = "budget0",
    shard_hex_chars: int = 2,
    cum_col: str = "cum_tokens",
) -> DataFrame:
    """Token-budget-constrained mixing: the "data recipe" stage where
    each source contributes AT MOST a fixed token budget to the
    training set. Within each stratum, docs are ordered by
    ``md5(seed:key)`` (deterministic shuffle) and the prefix whose
    cumulative token count fits the stratum's budget is kept — no
    document is split, no budget is exceeded.

    ``budgets`` overrides ``default_budget`` per stratum. Scale shape
    is :func:`training_order`'s shard trick applied per stratum: the
    within-stratum cumulative sum runs as per-(stratum, shard)
    window partitions (the md5 prefix is a PREFIX of the sort key,
    so shard order == stratum order) plus a tiny per-stratum
    shard-offset aggregate broadcast back — a hot stratum never
    serializes into one window task. New ``seed`` = a different
    deterministic prefix.

    Returns the kept rows plus ``cum_col`` (the stratum-cumulative
    token count through this doc, auditable against the budget).

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [(i, "s", 10) for i in range(6)],
        ...     ["doc_id", "src", "n_tok"])
        >>> out = budget_mix(df, "src", "doc_id", F.col("n_tok"),
        ...                  default_budget=30)
        >>> sorted(r.cum_tokens for r in out.collect())
        [10, 20, 30]
    """
    budgets = budgets or {}
    tc = token_count.cast("long")
    h = F.md5(F.concat_ws(":", F.lit(seed), F.col(key_col).cast("string")))
    base = df.withColumn("__tc", tc).withColumn("__h", h).withColumn(
        "__shard", F.substring(F.col("__h"), 1, int(shard_hex_chars))
    )
    w = (
        Window.partitionBy(strata_col, "__shard")
        .orderBy(F.col("__h"), F.col(key_col))
    )
    within = F.sum("__tc").over(w)  # inclusive within-shard cumsum
    shard_totals = base.groupBy(strata_col, "__shard").agg(
        F.sum("__tc").alias("__st")
    )
    offs = shard_totals.withColumn(
        "__off",
        F.coalesce(
            F.sum("__st").over(
                Window.partitionBy(strata_col)
                .orderBy("__shard")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("long"),
    ).select(strata_col, "__shard", "__off")
    budget = F.lit(int(default_budget))
    for s, b in sorted(budgets.items()):
        budget = F.when(F.col(strata_col) == s, F.lit(int(b))).otherwise(budget)
    keep = (
        base.withColumn("__within", within)
        .join(F.broadcast(offs), [strata_col, "__shard"])
        .withColumn(cum_col, (F.col("__off") + F.col("__within")).cast("long"))
        .where(F.col(cum_col) <= budget)
    )
    return keep.drop("__tc", "__h", "__shard", "__within", "__off")


#: Largest component table :func:`leakage_safe_split` broadcasts;
#: past it the join runs unhinted and AQE picks the strategy.
SPLIT_BROADCAST_MAX_ROWS = 5_000_000


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_id_a",
    dst_col: str = "doc_id_b",
    train_pct: int = 90,
    seed: str = "split0",
) -> DataFrame:
    """Train/validation split where near-duplicates can never
    straddle the boundary — the leakage guard every eval pipeline
    needs: splitting by document id leaks whenever train doc A is a
    near-dup of val doc B, silently inflating eval scores.

    The unit of assignment is the near-duplicate CLUSTER, not the
    document: ``pairs`` (from any pair generator — minhash-verified,
    simhash, embedding-cosine) resolve to transitive components via
    :func:`dedup.connected_components`; unpaired docs are their own
    singleton component. Each component lands in train/val by the
    engine-portable md5-bucket rule on ``seed:component`` — a pure
    function of the key, so re-runs, other engines, and any
    partitioning produce the identical split, and a new ``seed``
    produces a fresh (still leakage-safe) split.

    Scale: the component table is pairs-sized (normally tiny next to
    the corpus), so the join is map-side broadcast — but only under a
    measured gate: the table is already materialized (checkpointed)
    by ``connected_components``, so one cheap count decides. Past
    :data:`SPLIT_BROADCAST_MAX_ROWS` (a boilerplate-heavy corpus can
    put a large fraction of all docs into components) the hint is
    DROPPED and the plain shuffled join runs, letting AQE pick the
    strategy from runtime sizes instead of a forced broadcast OOMing
    the driver.

    Returns ``(id_col, component, split)``.

    Examples
    --------
        >>> docs = spark.createDataFrame([(i,) for i in range(5)], ["doc_id"])
        >>> pairs = spark.createDataFrame([(1, 3)], ["doc_id_a", "doc_id_b"])
        >>> out = {r.doc_id: (r.component, r.split) for r in
        ...        leakage_safe_split(docs, pairs).collect()}
        >>> out[1] == out[3] and out[1][0] == 1  # 1 and 3 share a side
        True
        >>> sorted(out[i][0] for i in range(5))  # singletons stay solo
        [0, 1, 1, 2, 4]
    """
    from .dedup import connected_components

    comp = connected_components(pairs, src_col=src_col, dst_col=dst_col)
    comp = comp.withColumnRenamed("node", id_col)
    # size-gated broadcast: comp is checkpointed by
    # connected_components, so this count re-reads the materialized
    # table (no recompute). Small → map-side join; big → unhinted
    # join, AQE decides from runtime stats.
    if comp.count() <= SPLIT_BROADCAST_MAX_ROWS:
        comp = F.broadcast(comp)
    out = docs.select(F.col(id_col)).join(comp, id_col, "left")
    comp_id = F.coalesce(F.col("component"), F.col(id_col))
    bucket = md5_bucket(
        F.concat_ws(":", F.lit(seed), comp_id.cast("string")), 100
    )
    return out.select(
        F.col(id_col),
        comp_id.cast("long").alias("component"),
        F.when(bucket < int(train_pct), F.lit("train"))
        .otherwise(F.lit("val"))
        .alias("split"),
    )


def dsir_sample(
    corpus: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
    oov_scale: float = 0.5,
    seed: str = "dsir0",
) -> DataFrame:
    """DSIR-style importance resampling: select ``k`` corpus docs
    whose unigram distribution looks most like the ``target`` set,
    sampled (not just top-k ranked) via deterministic Gumbel top-k.

    Per-doc importance: ``logw = sum over tokens of
    ln p_target(tok) - ln p_corpus(tok)`` — the document's log
    importance weight under top-``vocab_size`` unigram LMs (OOV floor
    ``oov_scale/N``), the published DSIR estimator (a product over
    token probabilities, in log space). Per-token log-ratios are
    rounded to 9 decimals and DECIMAL-summed (order-independent).
    Sampling: Gumbel noise ``-ln(-ln(u))`` with ``u`` derived from
    ``md5(seed:id)`` — a pure function of the key, so the selected
    set reproduces across runs, engines, and partitionings (the
    md5-bucket rule applied to Gumbel top-k); selection is
    ``ORDER BY logw + g DESC, id LIMIT k`` — a distributed
    TakeOrdered, no global sort.

    Scale: both LMs are tiny (top-V) broadcasts; the corpus is
    scanned for tokens and reduced to one partial row per doc in the
    scoring aggregate. Docs with zero tokens carry no evidence and
    are excluded. Returns the selected corpus rows plus ``logw``
    (rounded 6).
    """
    ctoks = corpus.select(
        F.col(id_col),
        F.explode(F.transform(tokens(text_col), F.lower)).alias("token"),
    )
    ttoks = target.select(
        F.explode(F.transform(tokens(text_col), F.lower)).alias("token")
    )

    def lm(toks_df: DataFrame, tag: str):
        counts = toks_df.groupBy("token").agg(F.count("*").alias(f"cnt_{tag}"))
        vocab = counts.orderBy(
            F.desc(f"cnt_{tag}"), F.asc("token")
        ).limit(vocab_size)
        total = counts.agg(
            F.sum(f"cnt_{tag}").cast("double").alias(f"n_{tag}")
        )
        return vocab, total

    tv, tn = lm(ttoks, "t")
    cv, cn = lm(ctoks, "c")
    oov = F.lit(float(oov_scale))
    lnp_t = F.when(
        F.col("cnt_t").isNotNull(),
        F.log(F.col("cnt_t").cast("double") / F.col("n_t")),
    ).otherwise(F.log(oov / F.col("n_t")))
    lnp_c = F.when(
        F.col("cnt_c").isNotNull(),
        F.log(F.col("cnt_c").cast("double") / F.col("n_c")),
    ).otherwise(F.log(oov / F.col("n_c")))
    scored = (
        ctoks.join(F.broadcast(tv), "token", "left")
        .join(F.broadcast(cv), "token", "left")
        .crossJoin(F.broadcast(tn))
        .crossJoin(F.broadcast(cn))
        .select(
            F.col(id_col),
            F.round(lnp_t - lnp_c, 9).cast("decimal(20,9)").alias("lr9"),
        )
        .groupBy(id_col)
        .agg(F.sum("lr9").cast("double").alias("__logw"))
    )
    u = (
        md5_bucket(
            F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")),
            1_000_000,
        ).cast("double")
        + 0.5
    ) / 1_000_000.0
    keyed = scored.withColumn("__g", -F.log(-F.log(u))).withColumn(
        "__key", F.col("__logw") + F.col("__g")
    )
    picked = keyed.orderBy(F.desc("__key"), F.asc(id_col)).limit(int(k))
    return (
        corpus.join(
            F.broadcast(
                picked.select(
                    id_col, F.round("__logw", 6).alias("logw")
                )
            ),
            id_col,
        )
    )


def corpus_divergence(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    text_col: str = "text",
    vocab_size: int = 1000,
    alpha: float = 0.5,
) -> DataFrame:
    """Distribution drift between two corpora: KL and Jensen-Shannon
    divergence of their unigram LMs — the monitoring signal a
    training-data pipeline watches when a new crawl/source lands.

    Vocabulary = union of each corpus's top-``vocab_size`` tokens;
    probabilities use add-``alpha`` smoothing over that vocabulary so
    both distributions are positive everywhere (KL finite). Per-token
    contributions round to 9 decimals and DECIMAL-sum, so the scalar
    result is partitioning- and engine-exact. Both count aggregates
    are the corpus-scale stages; the union vocabulary (small) joins
    and reduces to ONE row: ``(n_vocab, kl_ab, kl_ba, js)`` nats,
    rounded to 6.
    """

    def counts(df: DataFrame, tag: str):
        toks = df.select(
            F.explode(F.transform(tokens(text_col), F.lower)).alias("token")
        )
        c = toks.groupBy("token").agg(F.count("*").alias(f"cnt_{tag}"))
        top = c.orderBy(F.desc(f"cnt_{tag}"), F.asc("token")).limit(
            int(vocab_size)
        )
        total = c.agg(
            F.sum(f"cnt_{tag}").cast("double").alias(f"n_{tag}")
        )
        return c, top, total

    ca, ta, na = counts(corpus_a, "a")
    cb, tb, nb = counts(corpus_b, "b")
    vocab = (
        ta.select("token").unionByName(tb.select("token")).distinct()
    )
    joined = (
        vocab.join(ca, "token", "left")
        .join(cb, "token", "left")
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
    )
    v_size = vocab.count()  # driver scalar: |V| is needed as a literal
    al = float(alpha)
    p = (F.coalesce(F.col("cnt_a"), F.lit(0)).cast("double") + al) / (
        F.col("n_a") + al * v_size
    )
    q = (F.coalesce(F.col("cnt_b"), F.lit(0)).cast("double") + al) / (
        F.col("n_b") + al * v_size
    )
    m = (p + q) / 2.0
    terms = joined.select(
        F.round(p * F.log(p / q), 9).cast("decimal(20,9)").alias("kl_ab_t"),
        F.round(q * F.log(q / p), 9).cast("decimal(20,9)").alias("kl_ba_t"),
        F.round(
            0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m), 9
        ).cast("decimal(20,9)").alias("js_t"),
    )
    return terms.agg(
        F.lit(int(v_size)).cast("long").alias("n_vocab"),
        F.round(F.sum("kl_ab_t").cast("double"), 6).alias("kl_ab"),
        F.round(F.sum("kl_ba_t").cast("double"), 6).alias("kl_ba"),
        F.round(F.sum("js_t").cast("double"), 6).alias("js"),
    )


def cap_per_key(
    df: DataFrame,
    key_col: str,
    order_by: list[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Keep the top-``k`` rows per key (per-domain caps: no single
    source may dominate the corpus).

    One hash-partitioned window per key — the standard distributed
    top-k-per-group. ``order_by`` MUST be a total order (add the id
    as the last tiebreak) or the kept set is nondeterministic. At
    scale a pathologically hot key serializes into one task; cap such
    keys upstream (mixture_sample) or pre-aggregate a per-key
    threshold first — documented rather than hidden, because the
    window is exact and AQE cannot split a window partition.
    """
    w = Window.partitionBy(key_col).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= int(k))
    )


def mixture_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    target_rows: int,
    temperature_sqrt: bool = True,
    weight_expr: Column | None = None,
) -> DataFrame:
    """Temperature-based source mixing: deterministically sample each
    stratum so the output approximates ``target_rows`` rows allocated
    proportionally to ``weight^alpha`` (alpha=0.5, the sqrt
    temperature — flattens head sources, boosts tail sources).

    The per-stratum statistics (row count and weight basis, default
    the row count itself) are ONE tiny aggregate that broadcasts back;
    acceptance is the md5-bucket rule (``text.hash_stratified_sample``
    semantics) so the selected set is a pure function of the key —
    re-runs, other engines, and any partitioning agree. The exponent
    is an explicit ``sqrt`` (not ``pow(x, 0.5)``) because IEEE sqrt is
    correctly rounded in every engine, keeping the driver's
    hash-compare exact.

    Returns the sampled rows with a ``__rate10k`` integer column (the
    acceptance threshold out of 10000) so callers can audit rates.
    """
    if not temperature_sqrt:
        raise NotImplementedError(
            "only the sqrt temperature is engine-parity-safe; "
            "use hash_stratified_sample for explicit fractions"
        )
    wexpr = F.count(F.lit(1)).cast("double") if weight_expr is None else weight_expr
    stats = df.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("__n_s"),
        wexpr.cast("double").alias("__w_s"),
    )
    # sqrt rounded to 6 and summed as DECIMAL: the denominator is
    # order-independent, so acceptance thresholds can't flip on a
    # repartition or an engine's summation order.
    stats = stats.withColumn("__sw", F.round(F.sqrt(F.col("__w_s")), 6))
    denom = stats.agg(
        F.sum(F.col("__sw").cast("decimal(20,6)"))
        .cast("double")
        .alias("__sw_total")
    )
    rates = (
        stats.crossJoin(F.broadcast(denom))
        .select(
            F.col(strata_col),
            F.floor(
                F.least(
                    F.lit(1.0),
                    F.lit(float(target_rows))
                    * F.col("__sw")
                    / F.col("__sw_total")
                    / F.col("__n_s").cast("double"),
                )
                * 10000.0
                + 0.5
            )
            .cast("long")
            .alias("__rate10k"),
        )
    )
    bucket = md5_bucket(F.col(key_col), 10000)
    return (
        df.join(F.broadcast(rates), strata_col)
        .where(bucket < F.col("__rate10k"))
    )


def training_order(
    df: DataFrame,
    key_col: str,
    seed: str = "epoch0",
    shard_hex_chars: int = 2,
    pos_col: str = "pos",
    shard_col: str = "shard",
) -> DataFrame:
    """Deterministic global training order WITHOUT a single-task
    global sort: every row gets a dense position 0..n-1 ordered by
    ``md5(seed || ':' || key)``.

    The md5 hex's first ``shard_hex_chars`` chars are the shard (a
    PREFIX of the sort key, so shard order == global order). Within a
    shard, position comes from a hash-partitioned window; shard row
    counts (256 rows for 2 hex chars) aggregate tiny, take a
    cumulative sum, and broadcast back as offsets:
    ``pos = offset[shard] + rank_within_shard``. Writing shards in
    order yields a globally shuffled, reproducible epoch — the q15
    lesson (never ``Window.partitionBy()`` over everything) applied
    to ordering.

    Epoch reshuffles = new ``seed``. Collision tiebreak is the key
    itself, so the order is total even if md5 prefixes collide.
    """
    h = F.md5(F.concat_ws(":", F.lit(seed), F.col(key_col).cast("string")))
    base = df.withColumn("__h", h).withColumn(
        shard_col, F.substring(F.col("__h"), 1, int(shard_hex_chars))
    )
    w = Window.partitionBy(shard_col).orderBy(F.col("__h"), F.col(key_col))
    ranked = base.withColumn("__r", F.row_number().over(w))
    counts = base.groupBy(shard_col).agg(F.count(F.lit(1)).alias("__c"))
    offs = counts.withColumn(
        "__off",
        F.coalesce(
            F.sum("__c").over(
                Window.orderBy(shard_col).rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select(shard_col, "__off")
    return (
        ranked.join(F.broadcast(offs), shard_col)
        .withColumn(pos_col, (F.col("__off") + F.col("__r") - 1).cast("long"))
        .drop("__h", "__r", "__off")
    )


def quality_funnel(
    df: DataFrame,
    stages: list[tuple[str, Column]],
) -> DataFrame:
    """Per-stage attribution for an ordered filter chain: which gate
    removed each document, computed in ONE scan.

    After a curation run over 100 TB the operative question is not
    "how many rows survived" but "which filter ate the data" —
    re-running the corpus once per gate to answer it costs
    O(stages) full scans. This is the single-pass version: every row
    is labeled with the FIRST stage whose keep-predicate rejects it
    (a null predicate rejects, matching ``WHERE`` semantics), the
    (k+1)-way label aggregates once (k+1 groups — a shuffle of k+1
    rows, not of documents), and the funnel table is derived from
    those counts with a window over k rows. Stages that remove
    nothing still appear (n_removed = 0) — zero-impact gates are a
    finding, not a gap in the report.

    Returns one row per stage, ordered by position in the chain:
    ``stage_idx`` (0-based), ``stage``, ``n_in`` (rows reaching the
    gate), ``n_removed`` (first-rejected here), ``n_out``. The last
    row's ``n_out`` is the surviving-corpus size.
    """
    if not stages:
        raise ValueError("stages must be a non-empty ordered list")
    names = [n for n, _ in stages]
    if len(set(names)) != len(names):
        raise ValueError("stage names must be unique")
    if "__kept__" in names:
        raise ValueError("'__kept__' is a reserved stage name")
    label: Column = F.lit("__kept__")
    for name, pred in reversed(stages):
        label = F.when(
            ~F.coalesce(pred, F.lit(False)), F.lit(name)
        ).otherwise(label)
    counts = (
        df.select(label.alias("__first_fail"))
        .groupBy("__first_fail")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    spark = df.sparkSession
    # the __kept__ sentinel rides along so the grand total (and hence
    # n_in) derives from the SAME aggregate — one scan of df, not a
    # second lineage branch for a separate total agg
    stage_rows = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)] + [(len(names), "__kept__")],
        "stage_idx int, stage string",
    )
    per_stage = stage_rows.join(
        counts, stage_rows.stage == counts["__first_fail"], "left"
    ).select(
        "stage_idx",
        "stage",
        F.coalesce(F.col("__cnt"), F.lit(0)).cast("long").alias("n_removed"),
    )
    # windows over a (k+1)-row frame: total + exclusive running sum
    w_all = Window.orderBy("stage_idx").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_before = Window.orderBy("stage_idx").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        per_stage.withColumn("__total", F.sum("n_removed").over(w_all))
        .withColumn(
            "n_in",
            (
                F.col("__total")
                - F.coalesce(F.sum("n_removed").over(w_before), F.lit(0))
            ).cast("long"),
        )
        .where(F.col("stage") != "__kept__")
        .withColumn("n_out", (F.col("n_in") - F.col("n_removed")).cast("long"))
        .select("stage_idx", "stage", "n_in", "n_removed", "n_out")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: Column | str,
    key_col: str,
    k: int,
    resolution: int = 1_000_000,
    scale: int = 1_000_000_000,
    priority_col: str = "priority",
    strata_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling without replacement: priority
    sampling (Duffield–Lund–Thorup, JACM 2007) with a hash-derived
    uniform, in pure integer arithmetic.

    Each row gets ``priority = (w * scale) div u`` where
    ``u = md5_bucket(key, resolution) + 1`` — i.e. ``w / Uniform(0,1]``
    with the uniform a pure function of the key. The top-k rows by
    priority are a weighted sample without replacement (inclusion
    probability ∝ weight, the Efraimidis–Spirakis family), and
    because the whole computation is integer (bigint multiply +
    integer ``div``) the selected set is bit-identical across
    engines, runs, partitionings and row order — no transcendental
    (``ln``/``pow``) whose last-ulp disagreement between libm
    implementations could flip the k-th rank. Ties (same weight AND
    same hash bucket) break on the key, so the sample is total-order
    deterministic.

    Top-k executes as TakeOrderedAndProject (per-partition heads,
    driver merge of k rows) — no global sort, no shuffle of the
    corpus; cost is the scan. Weights must be non-negative integers
    (cast upstream; at ``scale`` = 1e9 and weights ≤ ~9e9 the product
    stays inside int64).

    With ``strata_col``, the top-k is taken PER STRATUM (a balanced
    weighted pick per source/language) via one hash-partitioned
    window on the slim priority column — the ``cap_per_key`` shape,
    including its documented hot-stratum caveat.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    wexpr = _col(weight_col).cast("long")
    u = (md5_bucket(F.col(key_col), int(resolution)) + F.lit(1)).cast("long")
    staged = df.withColumn("__wn", wexpr * F.lit(int(scale))).withColumn(
        "__u", u
    )
    prio = staged.withColumn(priority_col, F.expr("__wn div __u")).drop(
        "__wn", "__u"
    )
    if strata_col is not None:
        w = Window.partitionBy(strata_col).orderBy(
            F.col(priority_col).desc(), F.col(key_col)
        )
        return (
            prio.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= int(k))
            .drop("__r")
        )
    return prio.orderBy(F.col(priority_col).desc(), F.col(key_col)).limit(
        int(k)
    )


def pack_sequences(
    docs: DataFrame,
    token_count_col: str,
    seq_len: int,
    key_col: str = "doc_id",
    seed: str = "pack0",
    shard_hex_chars: int = 2,
) -> DataFrame:
    """Cross-document sequence packing (GPT-style concat-and-split):
    order the corpus deterministically, concatenate the token
    streams, and cut fixed ``seq_len`` windows — every token lands in
    exactly one slot of one training sequence, reproducibly.

    The global token cumsum reuses the ``training_order`` shard
    trick: per-shard window prefix-sums plus a broadcast cumulative
    shard-offset join — no single-task global window. A doc spanning
    k sequences explodes into k rows (``sequence()`` on its first/
    last sequence id — map-only). Docs with zero tokens are dropped
    (they occupy no slots).

    Returns one row per (sequence, document-span):
    ``(seq_id, key, pos, tok_start, start_in_seq, n_toks)`` where
    ``start_in_seq + n_toks <= seq_len`` and per-sequence slot spans
    tile [0, seq_len) exactly (the final sequence may be partial).
    New ``seed`` = new epoch packing.

    Examples
    --------
        >>> docs = spark.createDataFrame([(1, 3), (2, 5)], ["doc_id", "n_tok"])
        >>> out = pack_sequences(docs, "n_tok", seq_len=4)
        >>> out.agg(F.sum("n_toks")).collect()[0][0]  # every token placed once
        8
        >>> out.agg(F.max(F.col("start_in_seq") + F.col("n_toks"))).collect()[0][0] <= 4
        True
    """
    tc = F.col(token_count_col)
    ordered = training_order(
        docs.where(tc > 0), key_col, seed=seed, shard_hex_chars=shard_hex_chars
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.coalesce(F.sum(tc).over(w), F.lit(0)).cast("long")
    shard_toks = ordered.groupBy("shard").agg(
        F.sum(tc).cast("long").alias("__st")
    )
    offs = shard_toks.withColumn(
        "__toff",
        F.coalesce(
            F.sum("__st").over(
                Window.orderBy("shard").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).cast("long"),
    ).select("shard", "__toff")
    spans = (
        ordered.withColumn("__within", within)
        .join(F.broadcast(offs), "shard")
        .withColumn("tok_start", F.col("__toff") + F.col("__within"))
        .withColumn("__tok_end", F.col("tok_start") + tc.cast("long"))
        .withColumn("__seq_first", F.expr(f"tok_start DIV {int(seq_len)}"))
        .withColumn(
            "__seq_last", F.expr(f"(__tok_end - 1) DIV {int(seq_len)}")
        )
    )
    exploded = spans.withColumn(
        "seq_id", F.explode(F.sequence("__seq_first", "__seq_last"))
    )
    seq_base = F.col("seq_id") * int(seq_len)
    return exploded.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        F.col(key_col),
        F.col("pos"),
        F.col("tok_start"),
        F.greatest(F.col("tok_start") - seq_base, F.lit(0))
        .cast("long")
        .alias("start_in_seq"),
        (
            F.least(F.col("__tok_end") - seq_base, F.lit(int(seq_len)))
            - F.greatest(F.col("tok_start") - seq_base, F.lit(0))
        )
        .cast("long")
        .alias("n_toks"),
    )


def incremental_semantic_dedup(
    new_batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    threshold: float = 0.97,
    impl: str = "numpy",
    chunk_rows: int = 2048,
) -> DataFrame:
    """Batch-vs-corpus semantic dedup: drop new vectors whose cosine
    to any ACCEPTED corpus vector in the same cluster reaches
    ``threshold`` — the production ingest shape for embeddings,
    mirroring :func:`dedup.incremental_minhash_dedup`'s contract
    (ids unique across both tables; within-batch dedup is
    :func:`semantic_dedup` on the survivors).

    Never computes corpus x corpus pairs: ``impl="numpy"`` runs BLAS
    matmuls per cluster block of ``new-rows x corpus-rows``,
    CHUNKED over the new side in row-blocks of ``chunk_rows`` so the
    similarity slab is O(chunk_rows × n_corpus) — a hot cluster costs
    more passes, not an executor OOM (the cluster's own vectors,
    O(n × dim), are the groupBy payload and the remaining term).
    Per-ingest cost scales with the batch; the corpus contributes a
    scan. ``impl="sql"`` is the engine-portable fold join for oracle
    comparison. Returns the surviving ``new_batch`` rows.
    """
    import numpy as np
    import pandas as pd

    from ._vectors import cosine_slabs
    from .similarity import cosine

    if impl == "numpy":
        tagged = new_batch.select(
            F.col(id_col), F.col(vec_col), F.col(cluster_col),
            F.lit(True).alias("__is_new"),
        ).unionByName(
            corpus.select(
                F.col(id_col), F.col(vec_col), F.col(cluster_col),
                F.lit(False).alias("__is_new"),
            )
        )
        thr = float(threshold)
        step = max(1, int(chunk_rows))

        def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
            new_mask = pdf["__is_new"].to_numpy()
            if not new_mask.any() or new_mask.all():
                return pd.DataFrame({"loser": pdf[id_col].to_numpy()[:0]})
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Vn = V[new_mask]
            hit = np.zeros(Vn.shape[0], dtype=bool)
            for c0, _, h in cosine_slabs(Vn, V[~new_mask], thr, step):
                hit[c0 : c0 + len(h)] = h.any(axis=1)
            return pd.DataFrame(
                {"loser": pdf[id_col].to_numpy()[new_mask][hit]}
            )

        id_type = new_batch.schema[id_col].dataType.simpleString()
        losers = tagged.groupBy(cluster_col).applyInPandas(
            per_block, f"loser {id_type}"
        ).withColumnRenamed("loser", id_col)
        return new_batch.join(F.broadcast(losers), id_col, "left_anti")

    n = new_batch.alias("n")
    c = corpus.alias("c")
    pairs = n.join(
        c,
        (F.col(f"n.{cluster_col}") == F.col(f"c.{cluster_col}"))
        & (
            F.round(
                cosine(F.col(f"n.{vec_col}"), F.col(f"c.{vec_col}")), 6
            )
            >= threshold
        ),
    )
    losers = pairs.select(F.col(f"n.{id_col}").alias(id_col)).distinct()
    return new_batch.join(F.broadcast(losers), id_col, "left_anti")


def corpus_report(
    docs: DataFrame,
    strata_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    gate: Column | None = None,
) -> DataFrame:
    """Per-source corpus "data card": the governance summary a
    training-data release ships — document/token counts, mean quality
    score, quality-gate pass rate, and exact-duplicate rate, one row
    per stratum.

    Two aggregates total: a corpus-wide duplicate marking (groupBy on
    the md5 fingerprint of normalized text — the shuffle carries
    (fingerprint, id), never the text) and the per-stratum rollup
    (map-side partial agg, one row per source). Mean quality uses the
    rounded-DECIMAL-sum rule so the report is partitioning/engine
    exact. ``gate`` defaults to :func:`gopher_pass` with its
    published bounds.
    """
    from .text import normalize_text, quality_score

    g = gopher_pass(text_col) if gate is None else gate
    base = docs.select(
        F.col(strata_col),
        F.col(id_col),
        F.md5(normalize_text(text_col)).alias("__fp"),
        tokens(text_col).alias("__toks"),
        F.round(quality_score(text_col), 6).alias("__q"),
        g.alias("__gate"),
    )
    firsts = base.groupBy("__fp").agg(F.min(id_col).alias("__first_id"))
    marked = base.join(firsts, "__fp").withColumn(
        "__is_dup", F.col(id_col) != F.col("__first_id")
    )
    n = F.count(F.lit(1))
    return (
        marked.groupBy(strata_col)
        .agg(
            n.alias("n_docs"),
            F.sum(F.size("__toks")).cast("bigint").alias("total_tokens"),
            F.round(
                F.sum(F.col("__q").cast("decimal(16,6)")).cast("double") / n,
                6,
            ).alias("mean_quality"),
            F.round(
                F.sum(F.when(F.col("__gate"), 1).otherwise(0)) / n, 6
            ).alias("gate_pass_rate"),
            F.sum(F.when(F.col("__is_dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("dup_docs"),
            F.round(
                F.sum(F.when(F.col("__is_dup"), 1).otherwise(0)) / n, 6
            ).alias("dup_rate"),
        )
    )


def semantic_dedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    threshold: float = 0.97,
    impl: str = "numpy",
    salt: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup: within each cluster, drop every
    vector whose cosine to another cluster member exceeds
    ``threshold``, keeping one deterministic representative (min id)
    per near-duplicate component. ``salt=s`` splits each cluster's
    pair generation into s(s+1)/2 sub-group tasks (identical results;
    the straggler fix for one pathologically hot cluster — see
    :func:`dedup.embedding_neardup_pairs`).

    The cluster column is the blocking key — any assignment works
    (a label, an IVF k-means cell from ``similarity.ivf_topk``'s
    quantizer, an LSH bucket); clusters bound the pairwise work to
    intra-cluster, which is the entire reason SemDeDup clusters
    first. Pairs come from ``dedup.embedding_neardup_pairs`` (BLAS
    per-block matmul by default, exact fold for oracle runs);
    transitive closure via ``dedup.connected_components`` so chains
    A~B~C collapse to one survivor even when A~C is under threshold.

    Returns the surviving rows of ``vectors`` (all original columns).

    Examples
    --------
        >>> vecs = spark.createDataFrame(
        ...     [(1, [1.0, 0.0], 0), (2, [1.0, 0.001], 0), (3, [0.0, 1.0], 0)],
        ...     "vec_id long, embedding array<double>, label int")
        >>> kept = semantic_dedup(vecs, threshold=0.99)
        >>> sorted(r.vec_id for r in kept.collect())
        [1, 3]
    """
    from .dedup import connected_components, embedding_neardup_pairs

    pairs = embedding_neardup_pairs(
        vectors,
        id_col=id_col,
        vec_col=vec_col,
        block_col=cluster_col,
        threshold=threshold,
        impl=impl,
        salt=salt,
    )
    comp = connected_components(pairs, src_col="id_a", dst_col="id_b")
    losers = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return vectors.join(F.broadcast(losers), id_col, "left_anti")
