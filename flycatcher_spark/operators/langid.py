"""Data-driven language identification: char-n-gram profile model.

``text.lang_id`` is a stopword-marker heuristic — fine as a demo
signal, not curation-grade. This module implements the classic
character-n-gram profile approach (Cavnar & Trenkle's "N-Gram-Based
Text Categorization" direction, scored as a per-gram log-likelihood
instead of rank distance so both engines can replay it exactly):

- :func:`train_langid_profiles` learns, from a LABELED sample, each
  language's top-k character trigram table with per-gram cost
  ``-ln(count/total)`` (and an out-of-vocabulary cost
  ``-ln(0.5/total)``, the same OOV convention as
  ``quality.unigram_surprise``).
- :func:`langid_predict` scores every document against every profile
  and takes the cheapest language (naive-Bayes argmax).

Scale shape (the ``unigram_surprise`` pattern): documents explode
into ``(id, gram)`` map-side; the profile table is bounded
(``langs × top_k`` rows) and BROADCAST; the per-(doc, lang) aggregate
shuffles partial rows only — document text never enters an exchange.
The full score matrix is ``docs × langs`` rows (langs is single
digits), built by broadcasting the tiny language list.

Engine parity: per-gram costs round to 9 decimals and sum as
DECIMAL (partitioning- and engine-exact, the ``bigram_surprise``
convention), so the argmax — including its ``(cost, lang)``
lexicographic tie-break — is deterministic and DuckDB-replayable
cell-for-cell (the ``langid_profiles`` oracle query).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import _col

__all__ = [
    "char_ngram_count",
    "char_ngrams",
    "train_langid_profiles",
    "langid_predict",
]


def char_ngrams(text: Column | str, n: int = 3) -> Column:
    """Character n-grams (with multiplicity) of normalized text:
    lowercase, trimmed, internal whitespace collapsed, padded with a
    single leading/trailing space so word boundaries become features
    (`` th``/``he ``). Texts shorter than ``n`` after padding yield
    an empty array.

    Examples
    --------
        >>> df = spark.createDataFrame([("Hi",)], ["t"])
        >>> df.select(char_ngrams("t").alias("g")).first()["g"]
        [' hi', 'hi ']
    """
    norm = F.concat(
        F.lit(" "),
        F.regexp_replace(
            F.regexp_replace(F.lower(_col(text)), r"^\s+|\s+$", ""),
            r"\s+",
            " ",
        ),
        F.lit(" "),
    )

    def grams(s: Column) -> Column:
        out = F.transform(
            F.sequence(F.lit(1), F.length(s) - (n - 1)),
            lambda i: s.substr(i, F.lit(n)),
        )
        return F.when(F.length(s) >= n, out).otherwise(
            F.array().cast("array<string>")
        )

    from .text import bind_once

    return bind_once(norm, grams)


def char_ngram_count(text: Column | str, n: int = 3) -> Column:
    """``size(char_ngrams(text, n))`` in closed form — the gram count
    of normalized text is ``length - (n-1)`` (0 when shorter than
    ``n``), so counting never builds the gram array. This is what
    :func:`langid_predict` uses for its per-document denominator: the
    interpreted per-position ``transform`` array build is the corpus
    scan's dominant per-row cost, and the counting pass needs only
    the string length.

    Examples
    --------
        >>> df = spark.createDataFrame([("Hi",), ("",)], ["t"])
        >>> [r.c for r in df.select(char_ngram_count("t").alias("c")).collect()]
        [2, 0]
    """
    norm = F.concat(
        F.lit(" "),
        F.regexp_replace(
            F.regexp_replace(F.lower(_col(text)), r"^\s+|\s+$", ""),
            r"\s+",
            " ",
        ),
        F.lit(" "),
    )
    from .text import bind_once

    return bind_once(
        norm,
        lambda s: F.when(
            F.length(s) >= n, F.length(s) - (n - 1)
        ).otherwise(F.lit(0)),
    )


def train_langid_profiles(
    sample: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    n: int = 3,
    top_k: int = 200,
) -> DataFrame:
    """Learn per-language character-n-gram profiles from a labeled
    sample. Returns ``(lang, gram, cost9, oov9)`` — at most ``top_k``
    rows per language (ties broken by count desc, gram asc), where
    ``cost9 = round(-ln(count/total), 9)`` over the language's TOTAL
    gram occurrences (not just the kept top-k) and ``oov9`` is the
    language's unseen-gram cost ``round(-ln(0.5/total), 9)``.

    One explode + two slim aggregations over the sample; the result
    is a ``langs × top_k`` side table, small enough to broadcast into
    every scoring join at any corpus scale.
    """
    g = sample.select(
        F.col(lang_col).alias("lang"),
        F.explode(char_ngrams(text_col, n)).alias("gram"),
    )
    counts = g.groupBy("lang", "gram").agg(F.count("*").alias("cnt"))
    totals = counts.groupBy("lang").agg(F.sum("cnt").alias("total"))
    w = Window.partitionBy("lang").orderBy(
        F.col("cnt").desc(), F.col("gram").asc()
    )
    kept = counts.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= top_k
    )
    return kept.join(totals, "lang").select(
        "lang",
        "gram",
        F.round(-F.ln(F.col("cnt") / F.col("total")), 9)
        .cast("decimal(20,9)")
        .alias("cost9"),
        F.round(-F.ln(F.lit(0.5) / F.col("total")), 9)
        .cast("decimal(20,9)")
        .alias("oov9"),
    )


def langid_predict(
    docs: DataFrame,
    profiles: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Predict each document's language as the profile with the
    lowest total gram cost (matched grams cost their ``cost9``,
    unmatched grams the language's ``oov9``); ties break to the
    lexicographically smallest language code, and documents with no
    grams at all (shorter than ``n``) predict ``'und'``.

    Returns ``(id_col, lang_pred, n_grams, total_cost)`` where
    ``total_cost`` is the winning language's DECIMAL-exact summed
    cost cast to double (null for gramless docs) — deliberately NOT a
    rounded mean: the exact decimal converts to the identical double
    in every engine, while rounding a double quotient at a fixed
    scale can land on a half-way boundary where engines disagree.
    Divide by ``n_grams`` downstream if a per-gram score is needed.
    """
    grams = docs.select(
        F.col(id_col), F.explode(char_ngrams(text_col, n)).alias("gram")
    )
    base = docs.select(
        F.col(id_col), char_ngram_count(text_col, n).alias("n_grams")
    )
    matched = (
        grams.join(F.broadcast(profiles.select("lang", "gram", "cost9")), "gram")
        .groupBy(id_col, "lang")
        .agg(
            F.sum("cost9").alias("mcost"),
            F.count("*").alias("n_matched"),
        )
    )
    langs = profiles.select("lang", "oov9").distinct()
    full = base.join(F.broadcast(langs)).join(
        matched, [id_col, "lang"], "left"
    )
    # the OOV multiplier is cast to DECIMAL(10,0) so the product stays
    # DECIMAL(31,9): a bare long operand would push Spark past
    # precision 38 and its overflow rule silently TRIMS THE SCALE to 6
    # (engine-divergent values)
    n_oov = (
        F.col("n_grams") - F.coalesce(F.col("n_matched"), F.lit(0))
    ).cast("decimal(10,0)")
    score9 = F.coalesce(
        F.col("mcost"), F.lit(0).cast("decimal(30,9)")
    ) + n_oov * F.col("oov9")
    best = (
        full.withColumn("score9", score9)
        .groupBy(id_col)
        .agg(
            F.min(F.struct(F.col("score9"), F.col("lang"))).alias("__b"),
            F.first("n_grams").alias("n_grams"),
        )
    )
    return best.select(
        F.col(id_col),
        F.when(F.col("n_grams") == 0, F.lit("und"))
        .otherwise(F.col("__b.lang"))
        .alias("lang_pred"),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.when(
            F.col("n_grams") > 0, F.col("__b.score9").cast("double")
        ).alias("total_cost"),
    )
