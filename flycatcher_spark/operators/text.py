"""Text-analysis operators for large-scale document pipelines.

Extensions beyond the reference surface (per BASELINE.json north star):
language identification, quality scoring, token counting, and document
fingerprinting over a ``documents``-shaped table. Every operator is a
pure Column expression — no UDFs, no shuffles — so it runs row-local
inside whole-stage codegen and scales linearly with input splits: at
100 TB these are map-only stages whose cost is the parquet scan
itself.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Whitespace tokenizer pattern shared by all operators (and by the
# DuckDB oracle SQL — keep dialect-neutral: \s and \W only).
_WS = r"\s+"

# BPE-ish word/punctuation segmentation: a run of word chars OR a
# single non-word non-space char approximates subword token counts
# within a few percent for latin text.
_BPE_ISH = r"[0-9A-Za-z_]+|[^0-9A-Za-z_\s]"

# Tiny per-language marker lexicons for the n-gram/stopword heuristic
# language ID. Deterministic and dialect-neutral so the same logic is
# expressible in the oracle SQL.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "los", "las", "es", "una"],
    "zh": ["de", "shi", "le", "zai", "you"],
}

STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "at", "by",
]


def _col(c: Column | str) -> Column:
    """A column name or a Column, as a Column."""
    return F.col(c) if isinstance(c, str) else c


def tokens(text: Column | str) -> Column:
    """Whitespace tokens of trimmed text (empty string -> empty array)."""
    c = _col(text)
    trimmed = F.regexp_replace(c, r"^\s+|\s+$", "")
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, _WS)
    )


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Subword-ish token estimate: word runs + individual punctuation."""
    c = _col(text)
    return F.regexp_count(c, F.lit(_BPE_ISH))


def char_count(text: Column | str) -> Column:
    c = _col(text)
    return F.length(c)


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of whitespace tokens that are (lowercased) stopwords."""
    return _stopword_ratio_tk(tokens(text))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are punctuation (non-word, non-space)."""
    c = _col(text)
    n = F.length(c)
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^0-9A-Za-z_\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct.cast("double") / n)


def digit_ratio(text: Column | str) -> Column:
    c = _col(text)
    n = F.length(c)
    digits = F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(digits.cast("double") / n)


def mean_token_length(text: Column | str) -> Column:
    return _mean_token_length_tk(tokens(text))


def quality_score(text: Column | str) -> Column:
    """Composite document-quality heuristic in [0, 1].

    Rewards natural stopword density and 3-8 char mean token length;
    penalizes punctuation/digit noise and degenerate length. The exact
    formula is arbitrary but deterministic — its value is that it is
    cheap (one codegen stage) and monotone in the usual LLM-data
    heuristics (C4/Gopher-style length + symbol filters).

    Examples
    --------
        >>> df = spark.createDataFrame([("the cat sat on the mat",)], ["text"])
        >>> df.select(quality_score("text").alias("q")).collect()
        [Row(q=0.75)]
    """
    c = _col(text)
    # one tokenize pass instead of three (token_count +
    # mean_token_length + stopword_ratio each re-tokenizing)
    return bind_once(
        tokens(c),
        lambda tk: _quality_tk(
            tk, _mean_token_length_tk(tk), _stopword_ratio_tk(tk), c
        ),
    )


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language marker-hit counts over lowercased tokens."""
    return _lang_scores_tk(tokens(text))


def lang_id(text: Column | str) -> Column:
    """Argmax language over marker-hit counts; ties break by language
    code order; no hits at all -> 'und' (undetermined).

    This is the zero-training heuristic (a handful of stopword
    markers per language). For curation-grade language ID use
    :mod:`..langid` — char-n-gram profiles learned from a labeled
    sample, with a pytest-pinned accuracy floor above this heuristic.

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [("the cat is on the mat",), ("el gato es una mascota",)],
        ...     ["text"])
        >>> [r.lang for r in df.select(lang_id("text").alias("lang")).collect()]
        ['en', 'es']
    """
    c = _col(text)
    # one tokenize pass instead of one per language's marker filter
    return bind_once(tokens(c), _lang_id_tk)


def _mean_token_length_tk(tk: Column) -> Column:
    """mean_token_length over a token array."""
    total = F.aggregate(
        tk, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return F.when(F.size(tk) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(tk)
    )


def _stopword_ratio_tk(tk: Column) -> Column:
    """stopword_ratio over a token array."""
    hits = F.size(F.filter(tk, lambda t: F.lower(t).isin(STOPWORDS)))
    return F.when(F.size(tk) == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / F.size(tk)
    )


def _lang_scores_tk(tk: Column) -> dict[str, Column]:
    """lang_scores over a token array."""
    lowered = F.transform(tk, F.lower)
    return {
        lang: F.size(F.filter(lowered, lambda t: t.isin(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def _lang_id_tk(tk: Column) -> Column:
    """lang_id over a token array: argmax of its marker scores."""
    scores = _lang_scores_tk(tk)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(scores):
        s = scores[lang]
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_lang


def _quality_tk(tk: Column, mtl: Column, sw: Column, text: Column) -> Column:
    """quality_score's formula over a token array, its mean token
    length and stopword ratio, and the raw text (for the character
    ratios)."""
    n_tok = F.size(tk).cast("double")
    length_ok = F.when((n_tok >= 10) & (n_tok <= 5000), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    mtl_ok = F.when((mtl >= 3.0) & (mtl <= 8.0), F.lit(1.0)).otherwise(F.lit(0.5))
    sw_ok = F.least(sw * 4.0, F.lit(1.0))
    noise = punct_ratio(text) + digit_ratio(text)
    noise_ok = F.greatest(F.lit(0.0), F.lit(1.0) - noise * 2.0)
    return F.round((length_ok + mtl_ok + sw_ok + noise_ok) / 4.0, 6)


def profile_struct(text: Column | str) -> Column:
    """Every token-derived profile metric from ONE tokenize pass.

    The standalone metric functions (``token_count``,
    ``mean_token_length``, ``stopword_ratio``, ``quality_score``,
    ``lang_id``) each tokenize independently — fine for one metric,
    ~6 redundant tokenize passes per row when a profile computes them
    all. This binds the token array once (``bind_once``) and emits a
    struct ``(n_tokens, mean_token_len, stopword_ratio, quality,
    lang_pred)`` with expressions IDENTICAL to the standalone
    functions (pinned by pytest), so oracle-compared queries can swap
    it in without value drift. Character-level ratios (punct/digit)
    evaluate once inside the same struct.
    """
    c = _col(text)

    def build(tk: Column) -> Column:
        mtl = _mean_token_length_tk(tk)
        sw = _stopword_ratio_tk(tk)
        return F.struct(
            F.size(tk).alias("n_tokens"),
            mtl.alias("mean_token_len"),
            sw.alias("stopword_ratio"),
            _quality_tk(tk, mtl, sw, c).alias("quality"),
            _lang_id_tk(tk).alias("lang_pred"),
        )

    return bind_once(tokens(c), build)


def bind_once(value: Column, build) -> Column:
    """Evaluate ``value`` once per row and hand it to ``build`` as a
    bound lambda variable.

    Array higher-order functions run interpreted (CodegenFallback),
    and an outer expression referenced inside a lambda is RE-EVALUATED
    per element — ``transform(sequence(...), i -> slice(toks, ...))``
    recomputes the whole tokenize/normalize chain for every n-gram,
    turning shingling O(text_len × n_grams) per row (measured 16× on
    the sf0.1 corpus). A lambda VARIABLE, by contrast, is a
    materialized value, so wrapping the expression as the single
    element of an outer ``transform`` binds it once:
    ``transform(array(value), v -> build(v))[0]``.
    """
    return F.transform(F.array(value), build)[0]


def normalize_text(text: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, trim, collapse
    internal whitespace to single spaces."""
    c = _col(text)
    return F.regexp_replace(
        F.regexp_replace(F.lower(c), r"^\s+|\s+$", ""), _WS, " "
    )


def normalize_unicode(text: Column | str, form: str = "NFC") -> Column:
    """Unicode-normalize a string column (NFC by default) — the very
    first step of a real web-text pipeline: combining sequences
    (``e`` + U+0301) and their precomposed forms (U+00E9) must
    collapse to one representation BEFORE any hashing, dedup, or
    tokenization, or visually identical documents fingerprint apart.

    Spark has no built-in Unicode normalizer, so this is an
    Arrow-batched ``pandas_udf`` over :func:`unicodedata.normalize` —
    a deliberate, documented exception to the pure-Column rule
    (UAX #15 is not expressible in Catalyst). Engine-portable: DuckDB
    replays NFC via ``nfc_normalize`` (the ``unicode_normalize``
    oracle query pins planted combining-sequence payloads
    cell-for-cell).

    Examples
    --------
        >>> decomposed = spark.createDataFrame(
        ...     [("cafe\u0301",)], ["t"])  # e + combining acute
        >>> out = decomposed.select(F.length("t").alias("raw"),
        ...     F.length(normalize_unicode("t")).alias("nfc"))
        >>> r = out.first(); (r["raw"], r["nfc"])
        (5, 4)
    """
    import unicodedata

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form: {form}")

    @F.pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: unicodedata.normalize(form, x) if x is not None else None
        )

    c = _col(text)
    return _norm(c)


def unique_lines(text: Column | str) -> Column:
    """Within-document duplicate-line removal (the C4-style page
    cleanup: navigation chrome and boilerplate repeat INSIDE a page):
    the text with every line dropped after its first occurrence,
    order preserved.

    Map-only higher-order fold — no shuffle, no UDF, cost rides the
    scan. The fold is O(lines²) ``array_contains`` per document,
    which is fine at real per-page line counts (hundreds); cross-
    document boilerplate is the separate ``dedup.line_dedup``
    shuffle. Empty text passes through; NULL propagates.

    Examples
    --------
        >>> df = spark.createDataFrame([("nav\\nbody\\nnav\\nfooter",)], ["t"])
        >>> df.select(unique_lines("t").alias("u")).first()["u"]
        'nav\\nbody\\nfooter'
    """
    c = _col(text)
    uniq = F.aggregate(
        F.split(c, "\n"),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(F.array_contains(acc, x), acc).otherwise(
            F.concat(acc, F.array(x))
        ),
    )
    return F.array_join(uniq, "\n")


#: Sentence terminator: a run of terminal punctuation followed by
#: whitespace or end-of-text. Identical in Java regex and RE2 (the
#: readability oracle).
_SENT_END = r"[.!?]+(\s|$)"


def sentence_count(text: Column | str) -> Column:
    """Sentence count: terminator runs (``[.!?]+`` before whitespace
    or end-of-text); non-empty text without a terminator counts as
    ONE sentence (a fragment is still a sentence — the convention
    readability formulas assume)."""
    c = _col(text)
    n = F.regexp_count(c, F.lit(_SENT_END))
    return (
        F.when(F.length(F.trim(c)) == 0, F.lit(0))
        .otherwise(F.greatest(n, F.lit(1)))
        .cast("long")
    )


def syllable_count(text: Column | str) -> Column:
    """Syllable estimate: lowercase vowel-group runs (``[aeiouy]+``)
    per whitespace token, floored at 1 per token (every spoken word
    has at least one syllable — covers digits and vowel-less
    tokens). The standard cheap estimator behind readability
    scores; within a few percent on latin prose."""
    c = _col(text)
    return F.aggregate(
        F.transform(
            tokens(c),
            lambda t: F.greatest(
                F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+")), F.lit(1)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def fk_grade(text: Column | str) -> Column:
    """Flesch–Kincaid grade level:
    ``0.39*(words/sentences) + 11.8*(syllables/words) - 15.59``,
    rounded to 6 — the quality-filter feature the readability gates
    use (e.g. "keep grade 3-12 prose"). Empty text → NULL.

    Engine parity: the inputs are integer counts and the arithmetic
    is one IEEE divide/multiply/add chain — deterministic in every
    engine (no transcendental), so the rounded grade hash-matches
    the DuckDB oracle cell-for-cell.
    """
    c = _col(text)

    def build(tk: Column) -> Column:
        n_words = F.size(tk).cast("double")
        n_sents = sentence_count(c).cast("double")
        n_syll = F.aggregate(
            F.transform(
                tk,
                lambda t: F.greatest(
                    F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+")), F.lit(1)
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
        grade = (
            F.lit(0.39) * (n_words / n_sents)
            + F.lit(11.8) * (n_syll / n_words)
            - F.lit(15.59)
        )
        return F.when(
            (n_words > 0) & (n_sents > 0), F.round(grade, 6)
        ).otherwise(F.lit(None).cast("double"))

    return bind_once(tokens(c), build)


def split_sentences(text: Column | str) -> Column:
    """Array of sentences: the text split AFTER terminator runs
    (``[.!?]`` followed by whitespace), terminators kept with their
    sentence, inter-sentence whitespace dropped.

    No lookbehind (RE2, the oracle engine, has none): the boundary
    whitespace is rewritten to ``\\x01`` with a backreference, then
    split — the identical two-step replays in DuckDB."""
    c = _col(text)
    return F.split(
        F.regexp_replace(c, r"([.!?])\s+", "$1\u0001"), "\u0001"
    )


def chunk_by_sentences(
    df: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sentence-aware chunking: cut each document into chunks of at
    most ``max_tokens`` whitespace tokens WITHOUT ever splitting a
    sentence — the retrieval/RAG prep step where mid-sentence cuts
    poison embeddings (the token-window cutter is
    ``functions.chunk_documents``; this is the semantic-boundary
    variant). Greedy: each sentence joins the current chunk if it
    fits, else starts a new one; a single sentence longer than
    ``max_tokens`` becomes its own over-long chunk (never split).
    Sentences are rejoined with single spaces.

    One pure-Column fold per document (``F.aggregate`` over the
    sentence array carrying (running-token-count, chunks) — map-only,
    no UDF, no shuffle; the row explosion happens after scan-level
    filtering, so cost scales with surviving documents). Returns one
    row per chunk: ``id_col``, ``chunk_idx``, ``chunk_text``,
    ``n_tokens``.
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    c = F.col(text_col)
    sents = split_sentences(c)

    def _tok(s: Column) -> Column:
        trimmed = F.regexp_replace(s, r"^\s+|\s+$", "")
        return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
            F.size(F.split(trimmed, _WS))
        ).cast("long")

    zero = F.struct(
        F.lit(0).cast("long").alias("run"),
        F.array().cast("array<string>").alias("chunks"),
    )

    def step(acc: Column, s: Column) -> Column:
        n = _tok(s)
        run, chunks = acc["run"], acc["chunks"]
        start_new = (F.size(chunks) == 0) | (run + n > F.lit(int(max_tokens)))
        appended = F.concat(
            F.slice(chunks, 1, F.size(chunks) - 1),
            F.array(F.concat(F.element_at(chunks, -1), F.lit(" "), s)),
        )
        return F.struct(
            F.when(start_new, n).otherwise(run + n).alias("run"),
            F.when(start_new, F.concat(chunks, F.array(s)))
            .otherwise(appended)
            .alias("chunks"),
        )

    folded = F.aggregate(sents, zero, step)["chunks"]
    return (
        df.select(F.col(id_col), F.posexplode(folded).alias("chunk_idx", "chunk_text"))
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            "chunk_text",
            _tok(F.col("chunk_text")).alias("n_tokens"),
        )
    )


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of normalized text.

    md5 (not xxhash64) so external systems — including the DuckDB
    oracle — produce the identical value from the identical bytes.
    """
    return F.md5(normalize_text(text))


def profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full text-analysis profile as columns (map-only).

    The metric expressions are interpreted array HOFs (CodegenFallback)
    — CPU-bound per row — so an under-partitioned scan is widened
    first (no-op on wide inputs; see plans.ensure_min_parallelism) and
    all token-derived metrics come from ONE tokenize pass
    (:func:`profile_struct`; staged through a real column so the
    struct evaluates once, not once per field reference).
    """
    from ..plans import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    c = F.col(text_col)
    p = F.col("__prof")
    return (
        df.withColumn("__prof", profile_struct(c))
        .withColumns(
            {
                "n_chars_computed": char_count(c),
                "n_tokens": p["n_tokens"],
                "n_bpe_ish_tokens": bpe_ish_token_count(c),
                "mean_token_len": F.round(p["mean_token_len"], 6),
                "stopword_ratio": F.round(p["stopword_ratio"], 6),
                "punct_ratio": F.round(punct_ratio(c), 6),
                "digit_ratio": F.round(digit_ratio(c), 6),
                "quality": p["quality"],
                "lang_pred": p["lang_pred"],
                "fingerprint": fingerprint(c),
            }
        )
        .drop("__prof")
    )


# ---------------------------------------------------------------------------
# repetition metrics (Gopher-style quality filters)
# ---------------------------------------------------------------------------
def _gram_metrics(
    df: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """Per-document word n-gram repetition metrics.

    Definitions (documented so the DuckDB oracle can mirror them
    exactly):

    - ``top{n}_gram``: the most frequent n-gram, ties broken to the
      lexicographically smallest;
    - ``top{n}_char_frac``: occurrences x len(gram) of that gram over
      the normalized text length, capped at 1.0;
    - ``dup{n}_char_frac``: the same numerator summed over every
      n-gram occurring more than once.

    Shape: one map-side explode, a partial-aggregated
    ``groupBy(id, gram)``, then a per-doc aggregate — two shuffles on
    (id, gram)/(id), both combiner-friendly. Documents shorter than
    ``n`` tokens contribute null metrics.
    """
    # stage the token array through a real column — the per-position
    # lambda would re-run the tokenize tree per n-gram otherwise
    staged = df.withColumn("__toks", tokens(normalize_text(text_col)))
    tk = F.col("__toks")
    grams = F.when(
        F.size(tk) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - n),
            lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = staged.select(
        F.col(id_col),
        F.length(normalize_text(text_col)).alias("__nc"),
        F.explode(grams).alias("__gram"),
    )
    counted = exploded.groupBy(id_col, "__nc", "__gram").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    # min(struct(-count, gram)) == (max count, lex-min gram)
    top = F.min(F.struct((-F.col("__cnt")).alias("negc"), F.col("__gram").alias("g")))
    dup_chars = F.sum(
        F.when(F.col("__cnt") > 1, F.col("__cnt") * F.length("__gram")).otherwise(0)
    )
    frac = lambda chars: F.round(
        F.least(F.lit(1.0), chars.cast("double") / F.col("__nc")), 6
    )
    return counted.groupBy(id_col, "__nc").agg(
        top.alias("__top"), dup_chars.alias("__dup")
    ).select(
        F.col(id_col),
        F.col("__top.g").alias(f"top{n}_gram"),
        (-F.col("__top.negc")).alias(f"top{n}_count"),
        frac(-F.col("__top.negc") * F.length(F.col("__top.g"))).alias(
            f"top{n}_char_frac"
        ),
        frac(F.col("__dup")).alias(f"dup{n}_char_frac"),
    )


def _gram_list_from_tokens(tk: Column, n: int) -> Column:
    """Full (non-distinct) word n-gram list from a MATERIALIZED token
    array column; null for docs shorter than one shingle.

    ``tk`` must be an attribute (a real column), not a raw tokenize
    expression: the per-position lambda references it, and interpreted
    HOFs re-evaluate expression references per element (16× measured).
    A nested ``bind_once`` wrapper is NOT usable here because this
    feeds a pandas UDF, and Catalyst cannot evaluate a Python UDF
    whose input contains nested lambda functions — so callers stage
    the token array through ``withColumn`` instead.
    """
    if n == 1:
        grams = tk
    else:
        grams = F.transform(
            F.sequence(F.lit(0), F.size(tk) - n),
            lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
        )
    return F.when(F.size(tk) >= n, grams).otherwise(
        F.lit(None).cast("array<string>")
    )


def _make_gram_stats_kernel():
    """Arrow kernel for per-row n-gram stats: (most-frequent gram with
    lex-min tie-break, its count, total chars inside duplicated
    grams). ``np.unique`` returns lexicographically sorted uniques, so
    the first argmax IS the lex-min tie-break — matching the SQL
    path's ``min(struct(-count, gram))`` (UTF-8 byte order equals
    codepoint order). Null gram lists (short docs) yield null stats.

    Built lazily (session-free imports) as a closure so cloudpickle
    ships it by value to executors, like the MinHash kernel."""

    def gram_stats(grams: pd.Series) -> pd.DataFrame:
        g_out, c_out, d_out = [], [], []
        for arr in grams:
            if arr is None or len(arr) == 0:
                g_out.append(None)
                c_out.append(None)
                d_out.append(None)
                continue
            uniq, counts = np.unique(
                np.asarray(arr, dtype=object), return_counts=True
            )
            top = int(np.argmax(counts))
            lens = np.fromiter(
                (len(u) for u in uniq), dtype=np.int64, count=len(uniq)
            )
            dup = counts > 1
            g_out.append(uniq[top])
            c_out.append(int(counts[top]))
            d_out.append(int((counts[dup] * lens[dup]).sum()))
        return pd.DataFrame({"g": g_out, "c": c_out, "d": d_out})

    return F.pandas_udf(gram_stats, "g string, c bigint, d bigint")


def repetition_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = (2, 3),
    impl: str = "pandas",
) -> DataFrame:
    """Gopher-style repetition quality filters: for each n in ``ns``,
    the most-frequent word n-gram's character share and the character
    share of all duplicated n-grams. High values flag boilerplate and
    degenerate repetition — standard pretraining-corpus filters.

    A document's n-grams live in one row, so the counting is
    row-local. ``impl="pandas"`` (default) runs one Arrow kernel over
    the JVM-built gram list — map-only, ZERO shuffles, no joins;
    measured ~30x over the explode path at 100k docs, and the gap
    widens with corpus size since the explode path shuffles every
    gram occurrence twice. ``impl="sql"`` keeps the explode +
    two-shuffle aggregation as the pure-Catalyst parity path (pytest
    pins output equality)."""
    from ..plans import ensure_min_parallelism

    # gram building + the Arrow kernel are CPU-bound: widen an
    # under-partitioned scan first (no-op on wide inputs)
    df = ensure_min_parallelism(df, key=id_col)
    if impl == "pandas":
        kernel = _make_gram_stats_kernel()
        # stage the token array through a REAL column: gram lambdas
        # referencing the raw tokenize tree re-run it per n-gram
        staged = df.withColumn("__toks", tokens(normalize_text(text_col)))
        out = staged.select(
            F.col(id_col),
            F.length(normalize_text(text_col)).cast("long").alias("n_chars_norm"),
            *[
                _gram_list_from_tokens(F.col("__toks"), n).alias(f"__g{n}")
                for n in ns
            ],
        )
        for n in ns:
            out = out.withColumn(f"__m{n}", kernel(F.col(f"__g{n}")))
        frac = lambda chars: F.round(
            F.least(F.lit(1.0), chars.cast("double") / F.col("n_chars_norm")), 6
        )
        cols = [F.col(id_col), F.col("n_chars_norm")]
        for n in ns:
            m = F.col(f"__m{n}")
            cols += [
                m["g"].alias(f"top{n}_gram"),
                m["c"].alias(f"top{n}_count"),
                frac(m["c"] * F.length(m["g"])).alias(f"top{n}_char_frac"),
                frac(m["d"]).alias(f"dup{n}_char_frac"),
            ]
        return out.select(*cols)
    base = df.select(
        F.col(id_col),
        F.length(normalize_text(text_col)).cast("long").alias("n_chars_norm"),
    )
    out = base
    for n in ns:
        out = out.join(_gram_metrics(df, n, text_col, id_col), id_col, "left")
    return out


# ---------------------------------------------------------------------------
# PII / URL redaction
# ---------------------------------------------------------------------------
# Dialect-neutral patterns (identical semantics in Java regex and
# RE2): no backrefs, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
PHONE_RE = r"\+[0-9]{7,15}"


def pii_counts(text: Column | str) -> Column:
    """Struct of match counts per PII class (map-only)."""
    c = _col(text)
    return F.struct(
        F.regexp_count(c, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(c, F.lit(URL_RE)).alias("n_urls"),
        F.regexp_count(c, F.lit(PHONE_RE)).alias("n_phones"),
    )


def redact_pii(text: Column | str, repl: str = "[PII]") -> Column:
    """Replace emails, URLs, and international-format phone numbers
    with ``repl``. Order matters: emails before URLs so ``mailto:``-
    like forms can't leave partial addresses behind; all three are
    plain ``regexp_replace`` chains — JVM-side, codegen, map-only.

    Examples
    --------
        >>> df = spark.createDataFrame(
        ...     [("mail me at bob@example.com now",)], ["text"])
        >>> df.select(redact_pii("text").alias("t")).collect()[0].t
        'mail me at [PII] now'
    """
    c = _col(text)
    out = F.regexp_replace(c, EMAIL_RE, repl)
    out = F.regexp_replace(out, URL_RE, repl)
    return F.regexp_replace(out, PHONE_RE, repl)


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------
def md5_bucket(key: Column, mod: int) -> Column:
    """Engine-portable deterministic bucket: the first 8 hex chars of
    md5(key) as an integer, mod ``mod``. The SAME expression is
    reproducible in DuckDB as ``CAST(concat('0x', substr(md5(CAST(key
    AS VARCHAR)), 1, 8)) AS BIGINT) % mod`` — the single definition
    behind splits, stratified sampling, and the split/sample oracle
    queries (keep them in sync through this helper)."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
        .cast("long") % int(mod)
    )


def hash_stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum sampling that is reproducible across runs, engines,
    partitionings, and row order: a row survives iff
    ``md5(key) % 10000 < fraction * 10000``.

    The property a training-data pipeline needs from domain mixing:
    re-running the job (or running it on another engine) selects the
    SAME rows, so downstream caches/joins stay consistent. ``sample``/
    ``sampleBy`` cannot promise that across partitionings. Map-only;
    the fraction table is a literal CASE chain, no join.
    """
    bucket = md5_bucket(F.col(key_col), 10000)
    # Thresholds resolve to integer literals ON THE DRIVER with
    # round-half-up, matching SQL engines' CAST(f * 10000 AS BIGINT)
    # rounding; a runtime float multiply + truncating cast would keep
    # e.g. 0.35 * 10000.0 = 3499.999... and silently drop bucket 3499.
    def _thresh(f: float) -> int:
        return int(math.floor(float(f) * 10000 + 0.5))

    expr = F.lit(_thresh(default_fraction))
    for value, frac in sorted(fractions.items()):
        expr = F.when(
            F.col(strata_col) == value, F.lit(_thresh(frac))
        ).otherwise(expr)
    return df.where(bucket < expr)
