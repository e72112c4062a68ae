"""Tests for the scale-extension operators (SURVEY.md §7.1 step 7):
dedup, similarity search, text analysis, multimodal plumbing.

Hand-computed expectations on tiny inline frames, mirroring the
reference's per-operator unit-test pattern
(/root/reference/tests/test_validators.py style)."""

from __future__ import annotations

import math

import numpy as np

import pytest
from pyspark.sql import functions as F

from flycatcher_spark import plans
from flycatcher_spark.operators import dedup, multimodal, quality, similarity, text


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat"),          # exact dup of 1
        (3, "  The  cat sat on the MAT  "),     # dup of 1 after normalize
        (4, "der hund und die katze und das haus"),
        (5, "le chat et le chien et les oiseaux"),
        (6, "12345 !!! ??? 678"),
        (7, ""),
        (8, "one"),
        (9, "completely different words entirely unrelated tokens here"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _one(df, col):
    return {r["doc_id"]: r[col] for r in df.collect()}


class TestText:
    def test_token_count(self, spark, docs):
        got = _one(docs.select("doc_id", text.token_count("text").alias("n")), "n")
        assert got[1] == 6
        assert got[3] == 6  # leading/trailing/multiple spaces collapse
        assert got[7] == 0
        assert got[8] == 1

    def test_bpe_ish_count(self, spark, docs):
        got = _one(
            docs.select("doc_id", text.bpe_ish_token_count("text").alias("n")), "n"
        )
        assert got[6] == 2 + 6  # two number runs + six punctuation chars
        assert got[7] == 0

    def test_stopword_ratio(self, spark, docs):
        got = _one(
            docs.select("doc_id", text.stopword_ratio("text").alias("r")), "r"
        )
        # "the" x2 + "on" of 6 tokens
        assert got[1] == pytest.approx(3 / 6)
        assert got[7] == 0.0

    def test_punct_digit_ratio(self, spark, docs):
        p = _one(docs.select("doc_id", text.punct_ratio("text").alias("r")), "r")
        d = _one(docs.select("doc_id", text.digit_ratio("text").alias("r")), "r")
        s = "12345 !!! ??? 678"
        assert p[6] == pytest.approx(6 / len(s))
        assert d[6] == pytest.approx(8 / len(s))
        assert p[7] == 0.0 and d[7] == 0.0

    def test_lang_id(self, spark, docs):
        got = _one(docs.select("doc_id", text.lang_id("text").alias("l")), "l")
        assert got[1] == "en"
        assert got[3] == "en"
        assert got[4] == "de"
        assert got[5] == "fr"
        assert got[7] == "und"
        assert got[9] == "und"

    def test_fingerprint_normalizes(self, spark, docs):
        got = _one(docs.select("doc_id", text.fingerprint("text").alias("f")), "f")
        assert got[1] == got[2] == got[3]
        assert got[1] != got[4]

    def test_mean_token_length(self, spark, docs):
        got = _one(
            docs.select("doc_id", text.mean_token_length("text").alias("m")), "m"
        )
        assert got[1] == pytest.approx((3 + 3 + 3 + 2 + 3 + 3) / 6)
        assert got[7] == 0.0

    def test_profile_schema(self, spark, docs):
        prof = text.profile(docs)
        expected = {
            "n_chars_computed", "n_tokens", "n_bpe_ish_tokens", "mean_token_len",
            "stopword_ratio", "punct_ratio", "digit_ratio", "quality",
            "lang_pred", "fingerprint",
        }
        assert expected <= set(prof.columns)
        assert prof.count() == docs.count()


class TestNormalizeUnicode:
    def test_decomposed_collapses_to_precomposed(self, spark):
        df = spark.createDataFrame(
            [(1, "cafe\u0301"), (2, "caf\u00e9"), (3, "plain")],
            ["id", "t"],
        )
        out = {
            r["id"]: (r["n"], r["l"])
            for r in df.select(
                "id",
                text.normalize_unicode("t").alias("n"),
                F.length(text.normalize_unicode("t")).alias("l"),
            ).collect()
        }
        assert out[1] == out[2] == ("café", 4)
        assert out[3] == ("plain", 5)

    def test_null_passthrough_and_forms(self, spark):
        df = spark.createDataFrame([(1, None)], "id long, t string")
        assert df.select(text.normalize_unicode("t").alias("n")).first()["n"] is None
        # NFKD decomposes the ligature; NFC keeps it
        df2 = spark.createDataFrame([(1, "\ufb01le")], ["id", "t"])  # fi ligature
        nfkc = df2.select(
            text.normalize_unicode("t", form="NFKC").alias("n")
        ).first()["n"]
        assert nfkc == "file"
        with pytest.raises(ValueError, match="normalization form"):
            text.normalize_unicode("t", form="NFX")


class TestBlocklist:
    def test_whole_word_and_multiword(self, spark):
        df = spark.createDataFrame(
            [(1, "the Quick  brown fox"), (2, "classification story")],
            ["id", "t"],
        )
        got = {
            r["id"]: r["n"]
            for r in df.select(
                "id",
                quality.blocklist_hits(
                    "t", ["quick brown", "fox", "class"]
                ).alias("n"),
            ).collect()
        }
        assert got == {1: 2, 2: 0}  # no substring match inside words

    def test_punctuation_adjacent_hits(self, spark):
        # sentence-final / punctuation-adjacent occurrences must match
        # (the C4 gate would otherwise under-filter real prose), and
        # punctuation in the PHRASE list normalizes away too.
        df = spark.createDataFrame(
            [
                (1, "A quick brown fox, ran."),
                (2, 'He said "bad word!" twice'),
                (3, "don't say bad-word here"),
            ],
            ["id", "t"],
        )
        got = {
            r["id"]: r["n"]
            for r in df.select(
                "id",
                quality.blocklist_hits("t", ["fox", "bad word!"]).alias("n"),
            ).collect()
        }
        # doc 3: "bad-word" normalizes to "bad word" -> hits
        assert got == {1: 1, 2: 1, 3: 1}

    def test_pass_gate_and_normalized_phrases(self, spark):
        df = spark.createDataFrame([(1, "a BAD   word here")], ["id", "t"])
        # phrase list normalizes the same way as the text
        passed = df.select(
            quality.blocklist_pass("t", ["  Bad WORD "]).alias("p")
        ).first()["p"]
        assert passed is False
        assert df.select(
            quality.blocklist_pass("t", ["bad word"], max_hits=1).alias("p")
        ).first()["p"] is True
        # empty list -> zero hits, always passes
        assert df.select(
            quality.blocklist_hits("t", []).alias("n")
        ).first()["n"] == 0

    def test_map_only(self, spark):
        df = spark.createDataFrame([(1, "x")], ["id", "t"])
        out = df.select(quality.blocklist_hits("t", ["x", "y z"]))
        plans.assert_no_shuffle(out)
        plans.assert_jvm_only(out)

    def test_kernel_equals_column_on_real_corpus(self, spark):
        """The Arrow kernel (list-size-independent scale path) must
        equal the Column/oracle impl cell-for-cell — real corpus +
        punctuation/null/multi-word fixtures."""
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", F.col("text").alias("t"))
        extra = spark.createDataFrame(
            [
                (100001, 'He said "bad word!" and the fox, ran.'),
                (100002, None),
                (100003, ""),
                (100004, "batch stream batch stream dup"),
            ],
            "doc_id long, t string",
        )
        df = docs.unionByName(extra)
        phrases = ["slow", "dup", "batch stream", "bad word!", "fox",
                   "the small row", "never-present"]
        got = df.select(
            "doc_id",
            quality.blocklist_hits("t", phrases).alias("col_n"),
            quality.blocklist_hits("t", phrases, impl="kernel").alias(
                "ker_n"
            ),
            quality.blocklist_pass("t", phrases, max_hits=1).alias("col_p"),
            quality.blocklist_pass(
                "t", phrases, max_hits=1, impl="kernel"
            ).alias("ker_p"),
        ).collect()
        assert len(got) == 504
        for r in got:
            assert r["col_n"] == r["ker_n"], r
            assert r["col_p"] == r["ker_p"], r
        null_row = [r for r in got if r["doc_id"] == 100002][0]
        assert null_row["col_n"] is None and null_row["ker_n"] is None

    def test_kernel_handles_huge_list(self, spark):
        """50k phrases: the Column impl would inline 50k contains
        probes; the kernel's cost is list-size independent."""
        phrases = [f"zz{i} yy{i}" for i in range(25000)] + [
            f"qq{i}" for i in range(24999)
        ] + ["slow"]
        df = spark.createDataFrame(
            [(1, "a slow day"), (2, "zz7 yy7 here"), (3, "clean")],
            "id long, t string",
        )
        got = {
            r["id"]: r["n"]
            for r in df.select(
                "id",
                quality.blocklist_hits("t", phrases, impl="kernel").alias(
                    "n"
                ),
            ).collect()
        }
        assert got == {1: 1, 2: 1, 3: 0}

    def test_unknown_impl_raises(self):
        with pytest.raises(ValueError, match="unknown impl"):
            quality.blocklist_hits("t", ["x"], impl="nope")


class TestProfileStruct:
    def test_struct_matches_standalone_metrics(self, spark):
        """profile_struct (one tokenize pass) must equal the standalone
        metric functions cell-for-cell on real data — the parity pin
        that lets oracle-compared queries swap it in."""
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        c = F.col("text")
        p = F.col("__p")
        merged = docs.withColumn("__p", text.profile_struct(c)).select(
            "doc_id",
            p["n_tokens"].alias("s_ntok"),
            text.token_count(c).alias("f_ntok"),
            p["mean_token_len"].alias("s_mtl"),
            text.mean_token_length(c).alias("f_mtl"),
            p["stopword_ratio"].alias("s_sw"),
            text.stopword_ratio(c).alias("f_sw"),
            p["quality"].alias("s_q"),
            text.quality_score(c).alias("f_q"),
            p["lang_pred"].alias("s_lang"),
            text.lang_id(c).alias("f_lang"),
        )
        bad = merged.where(
            (F.col("s_ntok") != F.col("f_ntok"))
            | (F.col("s_mtl") != F.col("f_mtl"))
            | (F.col("s_sw") != F.col("f_sw"))
            | (F.col("s_q") != F.col("f_q"))
            | (F.col("s_lang") != F.col("f_lang"))
        )
        assert bad.count() == 0


class TestRepetition:
    def test_kernel_matches_sql_on_corpus(self, spark):
        """The row-local Arrow kernel and the explode-aggregate SQL
        path must agree cell-for-cell on the real corpus (mirrors the
        MinHash/LSH kernel parity pins)."""
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = text.repetition_profile(docs, ns=(2, 3), impl="pandas")
        b = text.repetition_profile(docs, ns=(2, 3), impl="sql")
        cols = sorted(a.columns)
        ar = sorted(tuple(r) for r in a.select(cols).collect())
        br = sorted(tuple(r) for r in b.select(cols).collect())
        assert ar == br

    def test_top_and_dup_fracs(self, spark):
        # "a b a b a b": bigrams a b (x3), b a (x2); norm len 11
        df = spark.createDataFrame([(1, "a b a b a b")], ["doc_id", "text"])
        [r] = text.repetition_profile(df, ns=(2,)).collect()
        assert r["top2_gram"] == "a b" and r["top2_count"] == 3
        assert r["top2_char_frac"] == round(min(1.0, 3 * 3 / 11), 6)
        # both grams duplicated: 3*3 + 2*3 = 15 chars -> capped at 1.0
        assert r["dup2_char_frac"] == 1.0

    def test_tie_breaks_lexicographically(self, spark):
        df = spark.createDataFrame([(1, "z q z q")], ["doc_id", "text"])
        [r] = text.repetition_profile(df, ns=(2,)).collect()
        assert r["top2_gram"] == "z q" and r["top2_count"] == 2

    def test_short_doc_null_metrics(self, spark):
        df = spark.createDataFrame([(1, "one"), (2, "")], ["doc_id", "text"])
        rows = {r["doc_id"]: r for r in text.repetition_profile(df, ns=(2,)).collect()}
        assert rows[1]["top2_gram"] is None
        assert rows[2]["top2_gram"] is None and rows[2]["n_chars_norm"] == 0


class TestPII:
    def test_redacts_and_counts(self, spark):
        df = spark.createDataFrame(
            [
                (
                    1,
                    "mail a.b+c@x-corp.io or visit https://x.io/p?q=1 "
                    "call +15551234567 now",
                )
            ],
            ["doc_id", "text"],
        )
        [r] = df.select(
            text.pii_counts("text").alias("c"),
            text.redact_pii("text").alias("red"),
        ).collect()
        assert (r["c"]["n_emails"], r["c"]["n_urls"], r["c"]["n_phones"]) == (1, 1, 1)
        assert r["red"] == "mail [PII] or visit [PII] call [PII] now"

    def test_clean_text_untouched(self, spark):
        df = spark.createDataFrame([(1, "no pii here at all")], ["doc_id", "text"])
        [r] = df.select(text.redact_pii("text").alias("red")).collect()
        assert r["red"] == "no pii here at all"


class TestUniqueLines:
    def test_first_occurrence_order(self, spark):
        df = spark.createDataFrame(
            [(1, "nav\nbody\nnav\nfooter\nbody\nfooter")], ["doc_id", "t"]
        )
        [r] = df.select(text.unique_lines("t").alias("u")).collect()
        assert r["u"] == "nav\nbody\nfooter"

    def test_no_duplicates_untouched_and_edges(self, spark):
        df = spark.createDataFrame(
            [(1, "a\nb\nc"), (2, ""), (3, "solo"), (4, None)],
            "doc_id long, t string",
        )
        got = [r["u"] for r in df.orderBy("doc_id").select(
            text.unique_lines("t").alias("u")).collect()]
        assert got == ["a\nb\nc", "", "solo", None]

    def test_blank_lines_dedup_too(self, spark):
        # repeated empty lines collapse to the first one
        df = spark.createDataFrame([(1, "a\n\nb\n\nc")], ["doc_id", "t"])
        [r] = df.select(text.unique_lines("t").alias("u")).collect()
        assert r["u"] == "a\n\nb\nc"

    def test_fuzz_matches_python_fold(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        line = st.text(alphabet="ab ", min_size=0, max_size=4)

        @given(
            docs=st.lists(
                st.lists(line, min_size=1, max_size=12),
                min_size=1,
                max_size=8,
            )
        )
        @settings(
            max_examples=15,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        def check(docs):
            df = spark.createDataFrame(
                [("\n".join(ls),) for ls in docs], ["t"]
            )
            got = [
                r["u"]
                for r in df.select(text.unique_lines("t").alias("u")).collect()
            ]
            want = [
                "\n".join(dict.fromkeys(ls)) for ls in docs
            ]
            assert got == want

        check()


class TestReadability:
    def test_sentence_count(self, spark):
        cases = [
            ("One. Two! Three?", 3),
            ("fragment with no terminator", 1),
            ("Ends mid... no wait.", 2),
            ("", 0),
            ("   ", 0),
        ]
        df = spark.createDataFrame(cases, "t string, want long")
        for r in df.select(
            text.sentence_count("t").alias("n"), "want"
        ).collect():
            assert r["n"] == r["want"]

    def test_syllable_count_vowel_groups(self, spark):
        # "readable" -> ea|a|e = 3 groups; "text" -> 1; "42" -> clamp 1
        df = spark.createDataFrame([(1, "readable text 42")], ["i", "t"])
        [r] = df.select(text.syllable_count("t").alias("s")).collect()
        assert r["s"] == 3 + 1 + 1

    def test_fk_grade_known_answer(self, spark):
        # 7 words, 2 sentences, 10 syllables (the|cat|sat|down.|a = 1
        # each, readable = ea/a/e = 3, story! = o/y = 2)
        t = "the cat sat down. a readable story!"
        df = spark.createDataFrame([(t,)], ["t"])
        [r] = df.select(text.fk_grade("t").alias("g")).collect()
        n_words, n_sents, n_syll = 7, 2, 10
        want = round(0.39 * (n_words / n_sents) + 11.8 * (n_syll / n_words) - 15.59, 6)
        assert r["g"] == pytest.approx(want, abs=1e-9)

    def test_fk_grade_empty_is_null(self, spark):
        df = spark.createDataFrame([("",), ("   ",)], ["t"])
        got = [r["g"] for r in df.select(text.fk_grade("t").alias("g")).collect()]
        assert got == [None, None]


class TestStratifiedSample:
    def test_deterministic_and_stratified(self, spark):
        rows = [(i, "a" if i % 2 == 0 else "b") for i in range(400)]
        df = spark.createDataFrame(rows, ["id", "src"])

        def pick():
            return {
                r["id"]
                for r in text.hash_stratified_sample(
                    df, "src", {"a": 0.5, "b": 0.0}, "id"
                ).collect()
            }

        s1, s2 = pick(), pick()
        assert s1 == s2  # reproducible
        assert all(i % 2 == 0 for i in s1)  # stratum b fully excluded
        assert 60 <= len(s1) <= 140  # ~50% of the 200 'a' rows

    def test_default_fraction(self, spark):
        df = spark.createDataFrame([(i, "c") for i in range(200)], ["id", "src"])
        got = text.hash_stratified_sample(df, "src", {"a": 1.0}, "id").count()
        assert got == 0  # default 0.0 drops unlisted strata

    def test_non_dyadic_fraction_matches_duckdb(self, spark):
        """0.35 * 10000.0 is 3499.999... in doubles; a truncating cast
        would drop bucket 3499 while SQL engines' rounding cast keeps
        it. The selected row sets must agree exactly."""
        import duckdb

        rows = [(i, "a") for i in range(2000)]
        df = spark.createDataFrame(rows, ["id", "src"])
        got = {
            r["id"]
            for r in text.hash_stratified_sample(
                df, "src", {"a": 0.35}, "id"
            ).collect()
        }
        want = {
            r[0]
            for r in duckdb.sql(
                """
                SELECT i FROM range(2000) t(i)
                WHERE CAST(concat('0x', substr(md5(CAST(i AS VARCHAR)), 1, 8))
                           AS BIGINT) % 10000
                      < CAST(0.35 * 10000 AS BIGINT)
                """
            ).fetchall()
        }
        assert got == want and len(want) > 0


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------
class TestExactDedup:
    def test_keeps_min_id(self, spark, docs):
        kept = dedup.exact_dedup(docs, subset=["text"], id_col="doc_id")
        ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
        assert 1 in ids and 2 not in ids  # doc 2 is an exact dup of 1
        assert 3 in ids  # differs before normalization

    def test_normalized(self, spark, docs):
        kept = dedup.exact_dedup(
            docs, subset=["text"], id_col="doc_id", normalize=True
        )
        ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
        assert 1 in ids and 2 not in ids and 3 not in ids


class TestShingles:
    def test_trigram(self, spark):
        df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
        [row] = df.select(dedup.word_shingles("text", 3).alias("s")).collect()
        assert sorted(row["s"]) == ["a b c", "b c d"]

    def test_short_docs_empty(self, spark):
        df = spark.createDataFrame(
            [(1, "a b"), (2, ""), (3, "x")], ["doc_id", "text"]
        )
        rows = df.select(dedup.word_shingles("text", 3).alias("s")).collect()
        assert all(r["s"] == [] for r in rows)


class TestMinHash:
    def test_pandas_sql_impl_agree(self, spark, docs):
        a = dedup.with_minhash_signature(docs, impl="pandas").select(
            "doc_id", F.col("__sig").alias("a")
        )
        b = dedup.with_minhash_signature(docs, impl="sql").select(
            "doc_id", F.col("__sig").alias("b")
        )
        diff = a.join(b, "doc_id").where(F.expr("NOT (a <=> b)")).count()
        assert diff == 0

    def test_verified_dedup_gates_on_exact_jaccard(self, spark):
        """verify_threshold: banding proposes, exact Jaccard decides —
        a strict threshold must keep docs the estimate alone would
        have dropped."""
        base = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            (1, base),
            (2, base),  # exact dup of 1 -> jaccard 1.0, always dropped
            (3, base.replace("dog", "cat").replace("quick", "slow")),
            (4, "completely different words entirely unrelated tokens here now"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        kept_loose = {
            r["doc_id"]
            for r in dedup.minhash_dedup(
                df, num_perm=64, bands=32, verify_threshold=0.3
            ).collect()
        }
        kept_strict = {
            r["doc_id"]
            for r in dedup.minhash_dedup(
                df, num_perm=64, bands=32, verify_threshold=1.0
            ).collect()
        }
        assert 2 not in kept_loose and 1 in kept_loose and 4 in kept_loose
        # at threshold 1.0 only the exact dup goes; doc 3 survives
        assert kept_strict == {1, 3, 4}

    def test_near_dups_found(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again today"
        rows = [
            (1, base),
            (2, base + " extra"),               # near dup of 1
            (
                3,
                "completely different text about spark dataframes and shuffles "
                "at scale",
            ),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        pairs = dedup.minhash_lsh_pairs(
            df, num_perm=64, bands=16, shingle_n=3, threshold=0.3
        ).collect()
        got = {(r["doc_id_a"], r["doc_id_b"]) for r in pairs}
        assert (1, 2) in got
        assert all(3 not in p for p in got)

    def test_dedup_drops_later_dup(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again today"
        df = spark.createDataFrame(
            [(1, base), (2, base), (3, "something else entirely different here")],
            ["doc_id", "text"],
        )
        kept = dedup.minhash_dedup(df, threshold=0.9)
        ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
        assert ids == {1, 3}


class TestVerifyPairsPrefilter:
    def test_shingle_after_join_preserves_output(self, spark):
        """r12: the join-then-shingle rewrite (shingles computed on
        the candidate-joined rows instead of a corpus-wide shingle
        table joined in twice) must leave the verify output identical
        — including pairs whose ids are absent from docs (dropped by
        the inner joins, before and after) and docs absent from every
        pair (never shingled now, never in the output either way)."""
        rows = [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy cat today"),
            (3, "an entirely different document about spark shuffles"),
            (4, "another unrelated document never proposed as a pair"),
            (5, "the quick brown fox jumps over the lazy dog today"),
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        pairs = spark.createDataFrame(
            [(1, 2), (1, 5), (2, 3), (1, 99)], ["doc_id_a", "doc_id_b"]
        )
        for hashed in (False, True):
            got = sorted(
                map(
                    tuple,
                    dedup.verify_pairs_jaccard(
                        pairs, docs, threshold=0.0, hashed=hashed
                    ).collect(),
                )
            )
            # brute-force expected values from python shingle sets
            texts = dict(rows)
            def sh(t):
                tk = t.split()
                return {tuple(tk[i : i + 3]) for i in range(len(tk) - 2)}
            want = []
            for a, b in [(1, 2), (1, 5), (2, 3)]:
                sa, sb = sh(texts[a]), sh(texts[b])
                j = round(len(sa & sb) / len(sa | sb), 6)
                want.append((a, b, j))
            assert got == sorted(want), (hashed, got)


class TestSimHash:
    def test_identical_zero_distance(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
            ["doc_id", "text"],
        )
        pairs = dedup.simhash_pairs(df, max_distance=0).collect()
        assert [(p["doc_id_a"], p["doc_id_b"], p["hamming"]) for p in pairs] == [
            (1, 2, 0)
        ]

    def test_signature_deterministic(self, spark):
        df = spark.createDataFrame([(1, "alpha beta gamma")], ["doc_id", "text"])
        s1 = dedup.with_simhash(df).select("__sim").collect()[0][0]
        s2 = dedup.with_simhash(df).select("__sim").collect()[0][0]
        assert s1 == s2 and s1 >= 0


class TestBandedHotBucketSalting:
    """VERDICT r5 #1: (band, band_hash) buckets above bucket_cap split
    into salted sub-group join tasks — salted output must equal
    unsalted CELL-FOR-CELL on a planted hot-bucket corpus (the same
    exactness pin the r4 embedding-dedup salting carries)."""

    def _hot_corpus(self, spark):
        # 40 near-identical templated docs — every band puts them in
        # one hot bucket — plus distinct docs for cold buckets
        base = (
            "lorem ipsum dolor sit amet consectetur adipiscing elit"
            " standard boilerplate footer text"
        )
        rows = [(i, base + f" page {i % 2}") for i in range(40)]
        rows += [
            (100 + i, f"unique document number {i} about topic {i} entirely")
            for i in range(5)
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_minhash_salted_equals_unsalted(self, spark):
        from flycatcher_spark import caching

        df = self._hot_corpus(spark)
        kw = dict(num_perm=32, bands=8, threshold=0.3)
        with caching.scope():
            plain = {
                (r.doc_id_a, r.doc_id_b, r.est_jaccard)
                for r in dedup.minhash_lsh_pairs(
                    df, bucket_cap=10**9, **kw
                ).collect()
            }
            salted = {
                (r.doc_id_a, r.doc_id_b, r.est_jaccard)
                for r in dedup.minhash_lsh_pairs(
                    df, bucket_cap=8, **kw
                ).collect()
            }
        assert salted == plain and len(plain) > 100

    def test_simhash_salted_equals_unsalted(self, spark):
        from flycatcher_spark import caching

        df = self._hot_corpus(spark)
        with caching.scope():
            plain = {
                (r.doc_id_a, r.doc_id_b, r.hamming)
                for r in dedup.simhash_pairs(
                    df, max_distance=6, bucket_cap=10**9
                ).collect()
            }
            salted = {
                (r.doc_id_a, r.doc_id_b, r.hamming)
                for r in dedup.simhash_pairs(
                    df, max_distance=6, bucket_cap=8
                ).collect()
            }
        assert salted == plain and len(plain) > 100

    def test_every_pair_exactly_once(self, spark):
        # one bucket of 23 ids with cap 5 → s=5 sub-groups exercising
        # diagonal AND cross-group tasks; BEFORE any dedup the helper
        # must emit each unordered pair exactly once, ordered a < b
        banded = spark.createDataFrame(
            [(i, 0, 0) for i in range(23)], ["id", "band", "band_hash"]
        )
        out = dedup.banded_self_pairs(
            banded, "id", ["band", "band_hash"], bucket_cap=5
        ).collect()
        pairs = [(r.id_a, r.id_b) for r in out]
        assert len(pairs) == len(set(pairs)) == 23 * 22 // 2
        assert all(a < b for a, b in pairs)

    def test_payload_follows_id_order(self, spark):
        banded = spark.createDataFrame(
            [(i, 0, 0, f"sig{i}") for i in range(12)],
            ["id", "band", "band_hash", "s"],
        )
        out = dedup.banded_self_pairs(
            banded, "id", ["band", "band_hash"],
            payload_cols=["s"], bucket_cap=4,
        ).collect()
        for r in out:
            assert r.s_a == f"sig{r.id_a}" and r.s_b == f"sig{r.id_b}"


class TestJaccard:
    def test_exact_value(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
            ["doc_id", "text"],
        )
        pairs = dedup.ngram_jaccard_pairs(df, shingle_n=1, threshold=0.0)
        got = {
            (r["doc_id_a"], r["doc_id_b"]): r["jaccard"] for r in pairs.collect()
        }
        assert got[(1, 2)] == pytest.approx(3 / 5)
        assert got[(1, 3)] == 0.0

    def test_id_gap_blocks(self, spark):
        df = spark.createDataFrame(
            [(1, "a b"), (2, "a b"), (100, "a b")], ["doc_id", "text"]
        )
        pairs = dedup.ngram_jaccard_pairs(df, shingle_n=1, max_id_gap=10)
        got = {(r["doc_id_a"], r["doc_id_b"]) for r in pairs.collect()}
        assert got == {(1, 2)}  # 100 is out of gap range for both

    def test_block_col(self, spark):
        df = spark.createDataFrame(
            [(1, "a b", "en"), (2, "a b", "en"), (3, "a b", "de")],
            ["doc_id", "text", "lang"],
        )
        pairs = dedup.ngram_jaccard_pairs(df, shingle_n=1, block_col="lang")
        got = {(r["doc_id_a"], r["doc_id_b"]) for r in pairs.collect()}
        assert got == {(1, 2)}


class TestContainment:
    def test_doc_in_doc_asymmetry(self, spark):
        # doc 1 is wholly inside doc 2 (plus 6 extra words): Jaccard
        # sinks to 2/8 while containment_a pins the inclusion at 1.0
        df = spark.createDataFrame(
            [(1, "a b"), (2, "a b c d e f g h")], ["doc_id", "text"]
        )
        got = dedup.ngram_containment_pairs(df, shingle_n=1).collect()[0]
        assert got["containment_a"] == 1.0
        assert got["containment_b"] == pytest.approx(2 / 8)
        assert got["containment"] == 1.0
        jac = dedup.ngram_jaccard_pairs(df, shingle_n=1).collect()[0]
        assert jac["jaccard"] == pytest.approx(2 / 8)

    def test_threshold_on_max_direction(self, spark):
        df = spark.createDataFrame(
            [(1, "a b"), (2, "a b c d e f g h"), (10, "x y"), (11, "p q")],
            ["doc_id", "text"],
        )
        pairs = dedup.ngram_containment_pairs(df, shingle_n=1, threshold=0.9)
        got = {(r["doc_id_a"], r["doc_id_b"]) for r in pairs.collect()}
        assert got == {(1, 2)}  # disjoint pairs filtered by the max

    def test_empty_doc_reports_zero(self, spark):
        df = spark.createDataFrame(
            [(1, "   "), (2, "a b c")], ["doc_id", "text"]
        )
        got = dedup.ngram_containment_pairs(df, shingle_n=1).collect()[0]
        assert got["containment_a"] == 0.0 and got["containment"] == 0.0

    def test_shares_gap_bucketing(self, spark):
        df = spark.createDataFrame(
            [(1, "a b"), (2, "a b"), (100, "a b")], ["doc_id", "text"]
        )
        pairs = dedup.ngram_containment_pairs(df, shingle_n=1, max_id_gap=10)
        got = {(r["doc_id_a"], r["doc_id_b"]) for r in pairs.collect()}
        assert got == {(1, 2)}


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.9, 0.1, 0.0], 0),   # close to 1
        (3, [0.0, 1.0, 0.0], 0),   # orthogonal to 1
        (4, [0.0, 0.0, 1.0], 1),
        (5, [0.0, 0.0, -1.0], 1),  # opposite of 4
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


class TestSimilarity:
    def test_dot_norm_cosine(self, spark, vecs):
        row = (
            vecs.filter(F.col("vec_id") == 2)
            .select(
                similarity.dot(
                    F.col("embedding"), F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0))
                ).alias("d"),
                similarity.norm(F.col("embedding")).alias("n"),
            )
            .collect()[0]
        )
        assert row["d"] == pytest.approx(0.9)
        assert row["n"] == pytest.approx(math.sqrt(0.81 + 0.01))

    def test_topk_ranking(self, spark, vecs):
        q = vecs.filter(F.col("vec_id") == 1)
        res = similarity.brute_force_topk(vecs, q, k=2)
        rows = sorted(
            [(r["vec_id"], r["rank"]) for r in res.collect()], key=lambda x: x[1]
        )
        assert rows[0][0] == 2  # nearest is vec 2
        assert len(rows) == 2

    def test_cosine_zero_vector_null(self, spark):
        df = spark.createDataFrame([(1, [0.0, 0.0], [1.0, 0.0])], ["i", "a", "b"])
        [row] = df.select(
            similarity.cosine(F.col("a"), F.col("b")).alias("c")
        ).collect()
        assert row["c"] is None

    def test_neardup_blocked(self, spark, vecs):
        pairs = dedup.embedding_neardup_pairs(
            vecs, id_col="vec_id", vec_col="embedding", block_col="label",
            threshold=0.5,
        )
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert got == {(1, 2)}  # 4/5 are opposite; cross-label blocked

    def test_ivf_probe_all_equals_exact(self, spark, vecs):
        """Probing every cell makes IVF exhaustive — must equal the
        brute-force baseline exactly (same ranking, same sims). The
        default 16 cells over 5 vectors also pins k-means clamping its
        cell count to the training sample size."""
        q = vecs.filter(F.col("vec_id") <= 2)
        exact = similarity.brute_force_topk(vecs, q, k=3)
        key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["sim"])
        e = sorted(map(key, exact.collect()))
        for n_cells in (2, 16):
            ivf = similarity.ivf_topk(
                vecs, q, k=3, n_cells=n_cells, n_probe=n_cells, seed=7
            )
            assert sorted(map(key, ivf.collect())) == e, n_cells

    def test_ivf_partial_probe_subset(self, spark, vecs):
        q = vecs.filter(F.col("vec_id") == 1)
        res = similarity.ivf_topk(vecs, q, k=2, n_cells=2, n_probe=1, seed=7)
        rows = res.collect()
        assert 1 <= len(rows) <= 2
        assert all(r["query_id"] == 1 and r["vec_id"] != 1 for r in rows)

    def test_lsh_topk_finds_close_pair(self, spark, vecs):
        res = similarity.lsh_bucketed_topk(
            vecs, k=2, dim=3, n_bits=2, seed=7
        ).collect()
        pairs = {(r["query_id"], r["vec_id"]) for r in res}
        # recall is approximate, but an identical-direction pair in the
        # same bucket must find each other
        assert (1, 2) in pairs or (2, 1) in pairs

    def test_lsh_multi_table_amplifies_recall(self, spark):
        """OR-ing independent signature tables must find at least the
        union of what each table finds alone (classic amplification),
        and scored pairs must be unique per (query, neighbor)."""
        em = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        single = similarity.lsh_bucketed_topk(em, k=3, dim=64, n_bits=4, seed=42)
        multi = similarity.lsh_bucketed_topk(
            em, k=3, dim=64, n_bits=4, seed=42, n_tables=8
        )
        ns, nm = single.count(), multi.count()
        assert nm >= ns  # more tables -> more (or equal) found pairs
        # no duplicate scored pairs despite multi-table collisions
        dup = (
            multi.groupBy("query_id", "vec_id")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dup == 0

    def test_signature_kernel_matches_sql(self, spark):
        """The Arrow matmul signature must be bit-identical to the
        Catalyst fold on real embeddings (mirrors the MinHash
        pandas≡sql pin)."""
        em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        dim = len(em.select("embedding").first()[0])
        both = em.select(
            "vec_id",
            similarity.signature_bits(
                F.col("embedding").cast("array<double>"), dim, 16, 42
            ).alias("sql_sig"),
            similarity.signature_bits_kernel(
                F.col("embedding").cast("array<double>"), dim, 16, 42
            ).alias("np_sig"),
        )
        bad = both.filter(F.col("sql_sig") != F.col("np_sig")).count()
        assert bad == 0

    def test_signature_kernel_null_and_short(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, [0.5]), (3, [0.5, -0.5, 0.25])],
            "vec_id long, embedding array<double>",
        )
        rows = {
            r["vec_id"]: (r["s"], r["k"])
            for r in df.select(
                "vec_id",
                similarity.signature_bits(F.col("embedding"), 3, 4, 7).alias("s"),
                similarity.signature_bits_kernel(
                    F.col("embedding"), 3, 4, 7
                ).alias("k"),
            ).collect()
        }
        for vid, (s, k) in rows.items():
            assert s == k, (vid, s, k)

    def test_ivf_numpy_tolerates_null_vectors(self, spark):
        """A null/ragged embedding must not crash any caller of the
        shared valid-vector stack (IVF cell assignment, PQ encode, the
        fused IVF-PQ encode+assign, the LSH signature kernel); the row
        silently drops, matching the SQL fold, and is never returned as
        a query or a neighbour."""
        rows = [
            (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]),
            (4, None), (5, [0.5]),  # null + ragged
            (6, [0.1, 0.9]), (7, [0.8, 0.2]), (8, [0.2, 0.8]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.filter(F.col("vec_id") == 1)
        searches = {
            "ivf_topk": similarity.ivf_topk(
                df, q, k=3, n_cells=2, n_probe=2, seed=7, impl="numpy"
            ),
            "pq_topk": similarity.pq_topk(df, q, k=3, m=2, n_codes=4, seed=7),
            # given centroids: ivf_topk above already trains its
            # k-means through the same null-dropping filter
            "ivf_pq_topk": similarity.ivf_pq_topk(
                df, q, k=3, n_probe=2, m=2, n_codes=4, seed=7,
                centroids=[[1.0, 0.0], [0.0, 1.0]],
            ),
            "lsh_bucketed_topk": similarity.lsh_bucketed_topk(
                df, k=3, dim=2, n_bits=2, seed=7, n_tables=3
            ),
        }
        for name, res in searches.items():
            got = res.collect()
            assert len(got) >= 1, name
            assert all(
                r["vec_id"] not in (4, 5) and r["query_id"] not in (4, 5)
                for r in got
            ), (name, got)

    def test_ivf_impls_agree(self, spark):
        """numpy and sql cell assignment produce identical top-k."""
        em = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        q = em.filter(F.col("vec_id") < 5)
        key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["sim"])
        a = sorted(map(key, similarity.ivf_topk(
            em, q, k=3, n_cells=4, n_probe=2, seed=7, impl="numpy").collect()))
        b = sorted(map(key, similarity.ivf_topk(
            em, q, k=3, n_cells=4, n_probe=2, seed=7, impl="sql").collect()))
        assert a == b

    def test_rerank_recovers_exact_topk(self, spark):
        """When the shortlist contains the true neighbors, rerank_exact
        must reproduce exact brute-force top-k — ranking AND sims."""
        em = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        q = em.filter(F.col("vec_id") < 5)
        exact10 = similarity.brute_force_topk(em, q, k=10)
        rr = similarity.rerank_exact(exact10, em, q, k=5)
        exact5 = similarity.brute_force_topk(em, q, k=5)
        key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["sim"])
        assert sorted(map(key, rr.collect())) == sorted(map(key, exact5.collect()))

    def test_pq_rerank_sims_are_exact_cosine(self, spark):
        """pq_topk(rerank=c): output sims must equal the exact cosine
        of the raw vectors (the ADC approximation only chooses the
        shortlist, never the reported score)."""
        em = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        q = em.filter(F.col("vec_id") < 3)
        got = similarity.pq_topk(
            em, q, k=5, m=32, n_codes=16, seed=42, rerank=3
        )
        raw = {(r["query_id"], r["vec_id"]): r["sim"] for r in got.collect()}
        pairs = spark.createDataFrame(
            [(a, b) for a, b in raw], "query_id long, vec_id long"
        )
        truth = {
            (r["query_id"], r["vec_id"]): r["sim"]
            for r in similarity.rerank_exact(pairs, em, q, k=5).collect()
        }
        for key_, sim in truth.items():
            assert raw[key_] == sim

    def test_ivf_pq_full_probe_rerank_equals_exact(self, spark):
        """The production composite (IVF cells + PQ ADC + exact
        re-rank) with every cell probed and a wide shortlist must
        equal brute force exactly — the oracle-configuration pin."""
        em = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        q = em.filter(F.col("vec_id") < 5)
        exact = similarity.brute_force_topk(em, q, k=5)
        got = similarity.ivf_pq_topk(
            em, q, k=5, n_cells=4, n_probe=4, m=32, n_codes=16, seed=7, rerank=10
        )
        key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["sim"])
        assert sorted(map(key, got.collect())) == sorted(map(key, exact.collect()))

    def test_reranked_ann_recall_floor(self, spark):
        """The shipped-ANN bar (VERDICT r5 #1): the production search
        paths must hold recall@5 >= 0.9 against exact brute force on
        the fixture corpus (ann_recall reports the exact numbers;
        this pins a floor so a regression cannot ship silently)."""
        em = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        q = em.filter(F.col("vec_id") < 20)
        exact = {
            (r["query_id"], r["vec_id"])
            for r in similarity.brute_force_topk(em, q, k=5).collect()
        }
        paths = {
            "pq_rerank": similarity.pq_topk(
                em, q, k=5, m=32, n_codes=16, seed=42, rerank=4
            ),
            "ivfpq_rerank": similarity.ivf_pq_topk(
                em, q, k=5, n_cells=8, n_probe=6, m=32, n_codes=16,
                seed=7, rerank=8,
            ),
        }
        for name, df in paths.items():
            got = {(r["query_id"], r["vec_id"]) for r in df.collect()}
            recall = len(got & exact) / len(exact)
            assert recall >= 0.9, (name, recall)

    def test_ivf_pq_full_probe_equals_pq_rerank(self, spark, tmp_path):
        """Probing every cell, ivf_pq_topk scores the same candidates
        as pq_topk's cross join; given the same codebooks and the same
        rerank factor, both run one ADC -> shortlist -> rerank_exact
        tail and must agree row for row. rerank=1 keeps the shortlist
        at k, so the ADC ranking (not exact cosine) picks the rows."""
        vecs = np.random.default_rng(3).normal(size=(200, 8))
        # one parquet split, like the fixture tables: a local frame
        # would run every stage as 8 tiny tasks
        spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        ).coalesce(1).write.parquet(str(tmp_path / "em"))
        em = spark.read.parquet(str(tmp_path / "em"))
        q = em.filter(F.col("vec_id") < 5)
        books = similarity.train_pq_codebooks(em, m=4, n_codes=16, seed=7)
        key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["sim"])
        for r in (1, 3):
            pq = similarity.pq_topk(em, q, k=5, codebooks=books, rerank=r)
            ivf = similarity.ivf_pq_topk(
                em, q, k=5, n_cells=4, n_probe=4, seed=7, codebooks=books,
                rerank=r,
            )
            assert sorted(map(key, ivf.collect())) == sorted(
                map(key, pq.collect())
            ), r

    def test_index_training_is_a_bounded_sample(self, spark):
        """Training an index is a dimension probe, a count and one
        sample collect, not a job per k-means iteration: both the IVF
        trainer and building an untrained IVF-PQ search stay within a
        handful of jobs."""
        em = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        q = em.filter(F.col("vec_id") < 3)
        sc = spark.sparkContext
        builds = {
            "train_ivf_centroids": lambda: similarity.train_ivf_centroids(
                em, n_cells=8, seed=7
            ),
            "ivf_pq_topk": lambda: similarity.ivf_pq_topk(
                em, q, k=5, n_cells=8, n_probe=6, m=32, n_codes=16, seed=7
            ),
        }
        for name, build in builds.items():
            sc.setJobGroup(f"index_training_{name}", name)
            try:
                build()
                jobs = sc.statusTracker().getJobIdsForGroup(
                    f"index_training_{name}"
                )
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert len(jobs) <= 5, (name, len(jobs))

    def test_ivf_pq_pretrained_equals_inline(self, spark):
        """Passing pre-trained centroids+codebooks (the train-free
        production search job) must equal inline training."""
        em = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        q = em.filter(F.col("vec_id") < 3)
        cents = similarity.train_ivf_centroids(em, n_cells=4, seed=7)
        books = similarity.train_pq_codebooks(em, m=32, n_codes=16, seed=7)
        kwargs = dict(k=5, n_cells=4, n_probe=2, m=32, n_codes=16, seed=7, rerank=4)
        inline = similarity.ivf_pq_topk(em, q, **kwargs)
        pre = similarity.ivf_pq_topk(
            em, q, centroids=cents, codebooks=books, **kwargs
        )
        key = lambda r: (r["query_id"], r["rank"], r["vec_id"], r["sim"])
        assert sorted(map(key, pre.collect())) == sorted(map(key, inline.collect()))


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------
class TestMultimodal:
    def test_decode_meta(self, spark):
        df = spark.createDataFrame([(1, "abcd"), (2, "")], ["doc_id", "text"])
        with_payload = multimodal.attach_payload(df)
        meta = {
            r["doc_id"]: r.asDict()
            for r in multimodal.decode_meta(with_payload).collect()
        }
        assert meta[1]["n_bytes"] == 4
        assert meta[1]["width"] == 4 % 1024
        assert meta[1]["height"] == (4 * 7) % 768
        assert meta[1]["fmt"] == "fake"
        assert meta[2]["n_bytes"] == 0

    def test_decode_meta_custom_fn(self, spark):
        df = spark.createDataFrame([(1, "xyz")], ["doc_id", "text"])
        with_payload = multimodal.attach_payload(df)

        def decoder(payloads):
            return {
                "n_bytes": [len(p) for p in payloads],
                "width": [7 for _ in payloads],
                "height": [9 for _ in payloads],
                "fmt": ["png" for _ in payloads],
            }

        [row] = multimodal.decode_meta(with_payload, decode_fn=decoder).collect()
        assert (row["width"], row["height"], row["fmt"]) == (7, 9, "png")

    def test_frame_sample(self, spark):
        df = spark.createDataFrame([(1, "x" * 130)], ["doc_id", "text"])
        with_payload = multimodal.attach_payload(df)
        frames = multimodal.frame_sample_plan(
            with_payload, every_n_bytes=64
        ).collect()
        assert [(f["frame_idx"], f["byte_offset"]) for f in frames] == [
            (0, 0), (1, 64), (2, 128),
        ]

    def test_embed_payload_known_answer(self, spark):
        # "abcd" bytes 97,98,99,100 with dim=2: buckets [97+99, 98+100]
        df = spark.createDataFrame([(1, "abcd")], ["doc_id", "text"])
        with_payload = multimodal.attach_payload(df)
        [row] = multimodal.embed_payload(with_payload, dim=2).collect()
        assert row["embedding"] == [196.0, 198.0]

    def test_embed_payload_non_ascii_matches_byte_oracle(self, spark):
        """Regression (ADVICE r3): the kernel buckets UTF-8 BYTES at
        byte positions; a codepoint-at-char-position oracle agrees
        only on pure ASCII. Pin the kernel against a DuckDB oracle
        computed over the encoded blob's bytes, on non-ASCII text."""
        import duckdb

        texts = ["héllo wörld", "naïve café", "数据 処理", "emoji 🙂 ok"]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        with_payload = multimodal.attach_payload(df)
        got = {
            r["doc_id"]: r["embedding"]
            for r in multimodal.embed_payload(with_payload, dim=8).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
        con.executemany(
            "INSERT INTO d VALUES (?, ?)", [(i, t) for i, t in enumerate(texts)]
        )
        oracle = {
            doc_id: v
            for doc_id, v in con.sql("""
                SELECT doc_id,
                       list_transform(range(0, 8), i ->
                           CAST(COALESCE(list_sum(list_transform(
                               range(0, nb),
                               j -> CASE WHEN j % 8 = i
                                   THEN (strpos('0123456789ABCDEF',
                                                substr(h, 2*j + 1, 1)) - 1) * 16
                                        + (strpos('0123456789ABCDEF',
                                                  substr(h, 2*j + 2, 1)) - 1)
                                   ELSE 0 END)), 0) AS DOUBLE)) AS v
                FROM (SELECT doc_id, hex(encode(text)) AS h,
                             octet_length(encode(text)) AS nb FROM d)
            """).fetchall()
        }
        assert got == oracle

    def test_embed_payload_null_and_custom_fn(self, spark):
        df = spark.createDataFrame(
            [(1, bytearray(b"xy")), (2, None)],
            "doc_id long, payload binary",
        )
        rows = {
            r["doc_id"]: r["embedding"]
            for r in multimodal.embed_payload(df, dim=2).collect()
        }
        assert rows[1] == [120.0, 121.0] and rows[2] is None
        rows = {
            r["doc_id"]: r["embedding"]
            for r in multimodal.embed_payload(
                df, dim=3, embed_fn=lambda p, d: None if p is None else [1.0] * d
            ).collect()
        }
        assert rows[1] == [1.0, 1.0, 1.0] and rows[2] is None

    def test_pnm_build_decode_roundtrip(self, spark):
        """make_pnm_payload emits REAL P6 bytes; decode_image_meta
        must parse dims/maxval/raster back out exactly (known-answer
        against the generator formula)."""
        df = spark.createDataFrame([(0,), (42,), (100,)], "doc_id long")
        meta = {
            r["doc_id"]: r.asDict()
            for r in multimodal.decode_image_meta(
                multimodal.make_pnm_payload(df)
            ).collect()
        }
        import numpy as np

        for i in (0, 42, 100):
            w, h = 4 + i % 13, 3 + i % 7
            px = (i * 7 + np.arange(w * h * 3) * 13) % 256
            m = meta[i]
            assert (m["fmt"], m["width"], m["height"]) == ("ppm", w, h)
            assert (m["maxval"], m["n_channels"]) == (255, 3)
            assert m["n_pixel_bytes"] == w * h * 3
            assert m["mean_pixel"] == pytest.approx(px.mean(), abs=0)

    def test_pgm_grayscale_decodes(self, spark):
        df = spark.createDataFrame([(7,)], "doc_id long")
        [m] = multimodal.decode_image_meta(
            multimodal.make_pnm_payload(df, fmt="pgm")
        ).collect()
        assert m["fmt"] == "pgm" and m["n_channels"] == 1
        assert m["n_pixel_bytes"] == m["width"] * m["height"]

    def test_image_decode_rejects_corrupt(self, spark):
        """Corrupt / truncated / non-PNM payloads must yield null
        metadata, not crash the Arrow stage."""
        df = spark.createDataFrame(
            [
                (1, bytearray(b"JUNKJUNKJUNK")),
                (2, bytearray(b"P6\n4 4\n255\nxx")),  # truncated raster
                (3, None),
                (4, bytearray(b"P6\n-3 2\n255\n")),   # bad dims
            ],
            "doc_id long, payload binary",
        )
        rows = {r["doc_id"]: r for r in multimodal.decode_image_meta(df).collect()}
        for i in (1, 2, 3, 4):
            assert rows[i]["width"] is None and rows[i]["fmt"] is None

    def test_wav_build_decode_roundtrip(self, spark):
        import numpy as np

        df = spark.createDataFrame([(3,), (8,)], "doc_id long")
        meta = {
            r["doc_id"]: r.asDict()
            for r in multimodal.decode_wav_meta(
                multimodal.make_wav_payload(df)
            ).collect()
        }
        for i in (3, 8):
            nch, nfr = 1 + i % 2, 50 + i % 100
            s = ((i * 31 + np.arange(nfr * nch) * 17) % 4096) - 2048
            m = meta[i]
            assert (m["sample_rate"], m["n_channels"]) == (8000, nch)
            assert (m["bits_per_sample"], m["n_frames"]) == (16, nfr)
            assert m["duration_sec"] == pytest.approx(nfr / 8000, abs=0)
            assert m["rms"] == pytest.approx(
                float(np.sqrt(np.mean(s.astype(float) ** 2))), abs=0
            )

    def test_wav_decode_rejects_corrupt(self, spark):
        df = spark.createDataFrame(
            [(1, bytearray(b"RIFF\x00\x00\x00\x00AVI ")), (2, None)],
            "doc_id long, payload binary",
        )
        rows = {r["doc_id"]: r for r in multimodal.decode_wav_meta(df).collect()}
        assert all(rows[i]["sample_rate"] is None for i in (1, 2))

    def test_png_build_decode_roundtrip(self, spark):
        """make_png_payload emits a REAL PNG (CRC'd chunks, deflated
        scanlines mixing None and Up filters); parse_png must inflate
        and filter-reverse the exact planted raster back out."""
        import numpy as np

        df = spark.createDataFrame([(0,), (9,), (77,)], "doc_id long")
        meta = {
            r["doc_id"]: r.asDict()
            for r in multimodal.decode_image_meta(
                multimodal.make_png_payload(df, color="rgb")
            ).collect()
        }
        for i in (0, 9, 77):
            w, h = 4 + i % 13, 3 + i % 7
            px = (i * 7 + np.arange(w * h * 3) * 13) % 256
            m = meta[i]
            assert (m["fmt"], m["width"], m["height"]) == ("png", w, h)
            assert (m["maxval"], m["n_channels"]) == (255, 3)
            assert m["mean_pixel"] == pytest.approx(px.mean(), abs=0)
        # grayscale arm
        [g] = multimodal.decode_image_meta(
            multimodal.make_png_payload(
                spark.createDataFrame([(7,)], "doc_id long"), color="gray"
            )
        ).collect()
        assert g["fmt"] == "png" and g["n_channels"] == 1

    def test_png_all_filter_types_reverse_exactly(self):
        """Driver-side known-answer: encode one 3x3 RGB image five
        times, each row set using filters 0-4, and parse_png must
        reconstruct the identical raster every time."""
        import struct
        import zlib

        import numpy as np

        rng = np.random.RandomState(7)
        img = rng.randint(0, 256, size=(3, 9), dtype=np.uint8)  # 3x3 rgb
        bpp = 3

        def encode(filter_type: int) -> bytes:
            raw = bytearray()
            prev = np.zeros(9, dtype=np.int32)
            for y in range(3):
                line = img[y].astype(np.int32)
                if filter_type == 0:
                    enc = line
                elif filter_type == 1:  # Sub
                    enc = line.copy()
                    enc[bpp:] = (line[bpp:] - line[:-bpp]) & 0xFF
                elif filter_type == 2:  # Up
                    enc = (line - prev) & 0xFF
                elif filter_type == 3:  # Average
                    enc = line.copy()
                    for x in range(9):
                        a = int(line[x - bpp]) if x >= bpp else 0
                        enc[x] = (line[x] - ((a + int(prev[x])) >> 1)) & 0xFF
                else:  # Paeth
                    enc = line.copy()
                    for x in range(9):
                        a = int(line[x - bpp]) if x >= bpp else 0
                        b = int(prev[x])
                        c = int(prev[x - bpp]) if x >= bpp else 0
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pr = (
                            a
                            if (pa <= pb and pa <= pc)
                            else (b if pb <= pc else c)
                        )
                        enc[x] = (line[x] - pr) & 0xFF
                raw += bytes([filter_type]) + enc.astype(np.uint8).tobytes()
                prev = line
            ihdr = struct.pack(">IIBBBBB", 3, 3, 8, 2, 0, 0, 0)

            def chunk(t, b):
                return (
                    struct.pack(">I", len(b))
                    + t + b
                    + struct.pack(">I", zlib.crc32(t + b))
                )

            return (
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(raw)))
                + chunk(b"IEND", b"")
            )

        for ft in range(5):
            m = multimodal.parse_png(encode(ft))
            assert m is not None, f"filter {ft} failed to parse"
            assert np.array_equal(m["pixels"], img.reshape(-1)), (
                f"filter {ft} raster mismatch"
            )

    def test_png_palette_expands_to_rgb(self):
        """Color type 3: indices resolve through PLTE to RGB; a
        missing PLTE or out-of-range index is corrupt, not a crash."""
        import struct
        import zlib

        import numpy as np

        def chunk(t, b):
            return (
                struct.pack(">I", len(b))
                + t + b
                + struct.pack(">I", zlib.crc32(t + b))
            )

        sig = b"\x89PNG\r\n\x1a\n"
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)  # 2x2 palette
        plte = bytes([255, 0, 0,  0, 255, 0,  0, 0, 255])    # R,G,B
        idat = zlib.compress(b"\x00" + bytes([0, 1]) + b"\x00" + bytes([2, 0]))
        buf = (sig + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
               + chunk(b"IDAT", idat) + chunk(b"IEND", b""))
        m = multimodal.parse_png(buf)
        assert m["n_channels"] == 3
        assert np.array_equal(
            m["pixels"].reshape(2, 2, 3),
            np.array([[[255, 0, 0], [0, 255, 0]],
                      [[0, 0, 255], [255, 0, 0]]]),
        )
        # no PLTE -> corrupt
        assert multimodal.parse_png(
            sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
            + chunk(b"IEND", b"")
        ) is None
        # index beyond the palette -> corrupt
        bad = zlib.compress(b"\x00" + bytes([0, 9]) + b"\x00" + bytes([0, 0]))
        assert multimodal.parse_png(
            sig + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
            + chunk(b"IDAT", bad) + chunk(b"IEND", b"")
        ) is None
        # malformed PLTE (not a multiple of 3)
        assert multimodal.parse_png(
            sig + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte[:4])
            + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
        ) is None

    def test_png_rejects_corrupt_and_unsupported(self):
        import struct
        import zlib

        import numpy as np

        def chunk(t, b):
            return (
                struct.pack(">I", len(b))
                + t + b
                + struct.pack(">I", zlib.crc32(t + b))
            )

        sig = b"\x89PNG\r\n\x1a\n"
        good_ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0)
        good_idat = zlib.compress(b"\x00" + bytes([1, 2]))
        assert multimodal.parse_png(None) is None
        assert multimodal.parse_png(b"nope") is None
        # signature but no chunks / no IDAT
        assert multimodal.parse_png(sig) is None
        assert multimodal.parse_png(sig + chunk(b"IHDR", good_ihdr)) is None
        # depth/color combinations the spec forbids are rejected
        bad_combo = struct.pack(">IIBBBBB", 2, 1, 4, 2, 0, 0, 0)  # 4-bit RGB
        assert (
            multimodal.parse_png(
                sig + chunk(b"IHDR", bad_combo) + chunk(b"IDAT", good_idat)
            )
            is None
        )
        # 16-bit / interlaced headers whose IDAT is the wrong size
        # are corrupt, not misdecoded (r8: both are now SUPPORTED
        # when well-formed — see TestPngExtendedFormats)
        deep = struct.pack(">IIBBBBB", 2, 1, 16, 0, 0, 0, 0)
        assert (
            multimodal.parse_png(
                sig + chunk(b"IHDR", deep) + chunk(b"IDAT", good_idat)
            )
            is None
        )
        # corrupted deflate stream; wrong decompressed size
        assert (
            multimodal.parse_png(
                sig + chunk(b"IHDR", good_ihdr) + chunk(b"IDAT", b"\x00bad")
            )
            is None
        )
        short = zlib.compress(b"\x00" + bytes([1]))
        assert (
            multimodal.parse_png(
                sig + chunk(b"IHDR", good_ihdr) + chunk(b"IDAT", short)
            )
            is None
        )
        # RGBA decodes with 4 channels
        rgba_ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 6, 0, 0, 0)
        rgba_idat = zlib.compress(b"\x00" + bytes([9, 8, 7, 255]))
        m = multimodal.parse_png(
            sig + chunk(b"IHDR", rgba_ihdr) + chunk(b"IDAT", rgba_idat)
        )
        assert m["n_channels"] == 4 and list(m["pixels"]) == [9, 8, 7, 255]
        # mixed-format corpus dispatches per row
        import numpy as np  # noqa: F811

        pnm = multimodal.parse_image(b"P5\n1 1\n255\n\x05")
        assert pnm["fmt"] == "pgm"

    def test_real_media_embeddings_via_embed_payload(self, spark):
        """The real pixel/sample embedders plug into the existing
        embed_payload plumbing (same schema/batching) and produce
        decode-derived features."""
        import numpy as np

        df = spark.createDataFrame([(5,)], "doc_id long")
        img = multimodal.make_pnm_payload(df)
        [r] = multimodal.embed_payload(
            img, dim=8, embed_fn=multimodal.image_pixel_embedding
        ).collect()
        assert len(r["embedding"]) == 8
        assert sum(r["embedding"]) == pytest.approx(1.0)  # normalized hist

        wav = multimodal.make_wav_payload(df)
        [r] = multimodal.embed_payload(
            wav, dim=4, embed_fn=multimodal.audio_sample_embedding
        ).collect()
        i, nch, nfr = 5, 1 + 5 % 2, 50 + 5 % 100
        s = (((i * 31 + np.arange(nfr * nch) * 17) % 4096) - 2048).astype(float)
        segs = np.array_split(s, 4)
        expected = [float(np.sqrt(np.mean(seg**2))) for seg in segs]
        assert r["embedding"] == pytest.approx(expected)


class TestConnectedComponents:
    def test_chain_resolves_transitively(self, spark):
        # 8-9-10-11 is a chain: 8~11 never appear as a pair
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (10, 11)],
            "doc_id_a long, doc_id_b long",
        )
        got = {
            (r.node, r.component)
            for r in dedup.connected_components(pairs).collect()
        }
        assert got == {
            (1, 1), (2, 1), (3, 1),
            (5, 5), (6, 5),
            (8, 8), (9, 8), (10, 8), (11, 8),
        }

    def test_edge_direction_irrelevant(self, spark):
        pairs = spark.createDataFrame(
            [(7, 3), (3, 9)], "doc_id_a long, doc_id_b long"
        )
        got = {
            (r.node, r.component)
            for r in dedup.connected_components(pairs).collect()
        }
        assert got == {(3, 3), (7, 3), (9, 3)}

    def test_superseded_checkpoints_released(self, spark):
        # a 12-edge chain needs 12 steps, i.e. 6 rounds of checkpoints
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(12)], "doc_id_a long, doc_id_b long"
        )
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keySet())
        labels = dedup.connected_components(pairs)
        left = set(jsc.getPersistentRDDs().keySet()) - before
        assert len(left) <= 1
        assert {r.component for r in labels.collect()} == {0}

    def test_transitive_dedup_keeps_one_per_cluster(self, spark):
        rows = [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "alpha beta gamma delta epsilon eta"),   # near-dup of 1/2
            (10, "one two three four five six"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        kept = {
            r.doc_id
            for r in dedup.minhash_dedup_transitive(
                df, threshold=0.3, shingle_n=2
            ).collect()
        }
        assert 10 in kept and 1 in kept
        assert 2 not in kept  # exact dup of 1


class TestEmbeddingNeardupImpls:
    def test_numpy_matches_sql_pairs(self, spark):
        em = (
            spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
            .selectExpr(
                "vec_id", "CAST(embedding AS array<double>) AS embedding", "label"
            )
        )
        a = dedup.embedding_neardup_pairs(em, threshold=0.3, impl="sql")
        b = dedup.embedding_neardup_pairs(em, threshold=0.3, impl="numpy")
        j = a.alias("a").join(b.alias("b"), ["id_a", "id_b"], "full").selectExpr(
            "a.cosine AS ca", "b.cosine AS cb"
        )
        assert j.where("ca IS NULL OR cb IS NULL").count() == 0
        assert j.where("abs(ca - cb) > 1e-9").count() == 0

    def test_chunked_matmul_single_huge_cluster(self, spark):
        """Memory-bounding regression (VERDICT r3): one oversized
        cluster must not require the full n×n similarity matrix. Run
        every vector in ONE block with chunk_rows far below the block
        size (forcing many row-slab passes, including a ragged final
        chunk) and pin the result against the unchunked shape via the
        exact sql fold."""
        em = (
            spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
            .selectExpr(
                "vec_id",
                "CAST(embedding AS array<double>) AS embedding",
                "'all' AS label",  # one giant cluster (500 vectors)
            )
        )
        a = dedup.embedding_neardup_pairs(em, threshold=0.3, impl="sql")
        b = dedup.embedding_neardup_pairs(
            em, threshold=0.3, impl="numpy", chunk_rows=37
        )
        j = a.alias("a").join(b.alias("b"), ["id_a", "id_b"], "full").selectExpr(
            "a.cosine AS ca", "b.cosine AS cb"
        )
        assert j.where("ca IS NULL OR cb IS NULL").count() == 0
        assert j.where("abs(ca - cb) > 1e-9").count() == 0

    def test_salted_equals_unsalted_hot_cluster(self, spark):
        """Straggler fix (VERDICT r3): salt=s splits a hot cluster's
        pair generation into s(s+1)/2 sub-group tasks. Every
        intra-cluster pair must land in EXACTLY one task — salted
        output equals unsalted cell-for-cell, on one giant cluster
        with a salt that forces diagonal AND cross-group tasks."""
        em = (
            spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
            .selectExpr(
                "vec_id",
                "CAST(embedding AS array<double>) AS embedding",
                "'all' AS label",  # one hot cluster (500 vectors)
            )
        )
        plain = {
            (r.id_a, r.id_b, r.cosine)
            for r in dedup.embedding_neardup_pairs(
                em, threshold=0.3, impl="numpy"
            ).collect()
        }
        salted = {
            (r.id_a, r.id_b, r.cosine)
            for r in dedup.embedding_neardup_pairs(
                em, threshold=0.3, impl="numpy", salt=4, chunk_rows=37
            ).collect()
        }
        assert salted == plain and len(plain) > 0

    def test_numpy_zero_vector_excluded(self, spark):
        rows = [
            (1, [0.0, 0.0], "x"),
            (2, [1.0, 0.0], "x"),
            (3, [1.0, 0.01], "x"),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label string"
        )
        got = dedup.embedding_neardup_pairs(
            df, threshold=0.5, impl="numpy"
        ).collect()
        assert [(r.id_a, r.id_b) for r in got] == [(2, 3)]

    def test_numpy_requires_block(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="blocking"):
            dedup.embedding_neardup_pairs(df, block_col=None, impl="numpy")


class TestContrastiveMining:
    @pytest.fixture(scope="class")
    def cloud(self, spark):
        # anchor 0 at e0; near-dup at cos~0.995 (positive band);
        # mid-sim ring cos in [0.5, 0.8) (hard negatives); far
        # orthogonal points (dropped)
        import math

        rows = [(0, [1.0, 0.0, 0.0]), (1, [0.995, 0.0998, 0.0])]
        for i, c in enumerate([0.78, 0.7, 0.6, 0.52]):
            s = math.sqrt(1 - c * c)
            rows.append((10 + i, [c, s, 0.0]))
        rows += [(50, [0.0, 0.0, 1.0]), (51, [0.0, 0.0, -1.0])]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_roles_and_caps(self, cloud):
        res = similarity.mine_contrastive_pairs(
            cloud, cloud.where("vec_id = 0"), k=10,
            pos_threshold=0.9, neg_lo=0.5, n_pos=2, n_neg=3,
        ).collect()
        roles = {(r["role"], r["vec_id"]): r["role_rank"] for r in res}
        assert roles == {
            ("positive", 1): 1,
            # hardest negatives first, capped at n_neg=3 of the 4 in band
            ("hard_negative", 10): 1,
            ("hard_negative", 11): 2,
            ("hard_negative", 12): 3,
        }
        # orthogonal points never appear in any band
        assert all(r["vec_id"] not in (50, 51) for r in res)

    def test_gap_band_drops_ambiguous(self, cloud):
        # neg_hi below pos_threshold leaves a moat: cos~0.78 falls in
        # (neg_hi, pos_threshold) and is dropped
        res = similarity.mine_contrastive_pairs(
            cloud, cloud.where("vec_id = 0"), k=10,
            pos_threshold=0.9, neg_lo=0.5, neg_hi=0.75, n_neg=4,
        ).collect()
        ids = {r["vec_id"] for r in res if r["role"] == "hard_negative"}
        assert ids == {11, 12, 13}

    def test_ivf_arm_runs_and_is_subset_of_bands(self, cloud):
        # production arm: shortlist from the IVF probe; every mined
        # pair still lands in its declared band
        res = similarity.mine_contrastive_pairs(
            cloud, cloud.where("vec_id = 0"), k=10,
            pos_threshold=0.9, neg_lo=0.5, impl="ivf",
            n_cells=2, n_probe=2,
        ).collect()
        assert res
        for r in res:
            if r["role"] == "positive":
                assert r["sim"] >= 0.9
            else:
                assert 0.5 <= r["sim"] < 0.9

    def test_band_validation(self, cloud):
        with pytest.raises(ValueError, match="neg_lo < neg_hi"):
            similarity.mine_contrastive_pairs(
                cloud, cloud, pos_threshold=0.5, neg_lo=0.6
            )
        with pytest.raises(ValueError, match="unknown impl"):
            similarity.mine_contrastive_pairs(
                cloud, cloud, impl="hnsw"
            )


class TestProductQuantization:
    @pytest.fixture(scope="class")
    def em(self, spark):
        return spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )

    @pytest.fixture(scope="class")
    def books(self, em):
        return similarity.train_pq_codebooks(
            em, m=8, n_codes=16, seed=42, max_train_rows=500
        )

    def test_codebook_shape_and_determinism(self, em, books):
        assert books.shape == (8, 16, 8)
        again = similarity.train_pq_codebooks(
            em, m=8, n_codes=16, seed=42, max_train_rows=500
        )
        assert np.array_equal(books, again)

    def test_encode_is_m_bytes_and_deterministic(self, em, books):
        codes = {
            r["vec_id"]: r["pq_code"]
            for r in similarity.pq_encode(em, books).select(
                "vec_id", "pq_code"
            ).collect()
        }
        assert all(len(c) == 8 for c in codes.values())
        again = {
            r["vec_id"]: r["pq_code"]
            for r in similarity.pq_encode(em, books).select(
                "vec_id", "pq_code"
            ).collect()
        }
        assert codes == again

    def test_adc_equals_cosine_of_reconstruction(self, em, books):
        """The PQ guarantee that makes a seed-dependent operator
        checkable: ADC similarity IS the exact cosine between the
        query and the decoded corpus vector."""
        q = em.filter(F.col("vec_id") < 3)
        res = similarity.pq_topk(
            em, q, k=10, m=8, n_codes=16, codebooks=books
        ).collect()
        enc = similarity.pq_encode(em, books).select(
            "vec_id", "embedding", "pq_code"
        ).collect()
        recon = {
            r["vec_id"]: similarity.pq_decode_np(
                books, np.frombuffer(r["pq_code"], dtype=np.uint8)[None, :]
            )[0]
            for r in enc
        }
        vecs = {r["vec_id"]: np.asarray(r["embedding"]) for r in enc}
        assert len(res) == 30
        for r in res:
            qv = vecs[r["query_id"]]
            rx = recon[r["vec_id"]]
            exact = float(
                qv @ rx / (np.linalg.norm(qv) * np.linalg.norm(rx))
            )
            assert abs(round(exact, 6) - r["sim"]) <= 2e-6

    def test_recall_floor_vs_brute_force(self, em):
        """m=32 x 16 codes (8x compression) on the deterministic
        corpus: seeded, so recall is a constant — pin a floor under
        the measured 0.68."""
        q = em.filter(F.col("vec_id") < 5)
        exact = {
            (r["query_id"], r["vec_id"])
            for r in similarity.brute_force_topk(em, q, k=5).collect()
        }
        approx = {
            (r["query_id"], r["vec_id"])
            for r in similarity.pq_topk(
                em, q, k=5, m=32, n_codes=16, seed=42
            ).collect()
        }
        assert len(exact & approx) / len(exact) >= 0.5

    def test_null_and_ragged_vectors_excluded(self, spark, books):
        bad = spark.createDataFrame(
            [(1, [1.0] * 64), (2, None), (3, [1.0] * 10)],
            "vec_id long, embedding array<double>",
        )
        codes = {
            r["vec_id"]: r["pq_code"]
            for r in similarity.pq_encode(bad, books).collect()
        }
        assert codes[2] is None and codes[3] is None
        assert codes[1] is not None

    def test_dim_not_divisible_raises(self, em):
        with pytest.raises(ValueError, match="not divisible"):
            similarity.train_pq_codebooks(em, m=7, n_codes=8)


class TestSpanDedup:
    def test_known_answers(self, spark):
        rows = [
            (1, "a b c d e f g h"),        # both spans original
            (2, "a b c d x y z w extra"),  # span0 dups doc1 span0
            (3, "short doc"),              # sub-span: passes intact
            (4, ""),                       # empty doc
            (5, "e f g h a b c d"),        # both spans dup doc1's
        ]
        out = {
            r["doc_id"]: r
            for r in dedup.span_dedup(
                spark.createDataFrame(rows, "doc_id long, text string"),
                span=4,
            ).collect()
        }
        assert len(out) == 5  # every input doc reported
        assert (out[1]["n_spans"], out[1]["n_kept"]) == (2, 2)
        assert out[1]["text_dedup"] == "a b c d e f g h"
        # first occurrence wins: doc2 keeps its remainder + unique span
        assert (out[2]["n_spans"], out[2]["n_kept"]) == (2, 1)
        assert out[2]["text_dedup"] == "x y z w extra"
        # sub-span docs never participate
        assert (out[3]["n_spans"], out[3]["text_dedup"]) == (0, "short doc")
        assert out[4]["text_dedup"] == ""
        # reordered spans still dedup individually
        assert (out[5]["n_spans"], out[5]["n_kept"]) == (2, 0)
        assert out[5]["text_dedup"] == ""

    def test_within_doc_repetition_collapses(self, spark):
        rows = [(1, "x y z w x y z w x y z w tail")]
        out = dedup.span_dedup(
            spark.createDataFrame(rows, "doc_id long, text string"), span=4
        ).collect()[0]
        assert (out["n_spans"], out["n_kept"]) == (3, 1)
        assert out["text_dedup"] == "x y z w tail"

    def test_normalization_applies(self, spark):
        rows = [(1, "A  b C d"), (2, "a b c d")]
        out = {
            r["doc_id"]: r
            for r in dedup.span_dedup(
                spark.createDataFrame(rows, "doc_id long, text string"),
                span=4,
            ).collect()
        }
        assert out[1]["n_kept"] == 1 and out[2]["n_kept"] == 0


class TestCosineKernel:
    def test_numpy_matches_fold_and_ranking(self, spark):
        em = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        q = em.filter(F.col("vec_id") < 3)
        sql_res = similarity.brute_force_topk(em, q, k=5, impl="sql").collect()
        np_res = similarity.brute_force_topk(em, q, k=5, impl="numpy").collect()
        key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
        a = {key(r): r for r in sql_res}
        b = {key(r): r for r in np_res}
        assert set(a) == set(b)
        for kk in a:
            assert a[kk]["vec_id"] == b[kk]["vec_id"]
            assert abs(a[kk]["sim"] - b[kk]["sim"]) <= 1e-6

    def test_null_and_ragged_score_nan(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 0.0], [1.0, 0.0]), (2, None, [1.0, 0.0]),
             (3, [1.0], [1.0, 0.0])],
            "id long, a array<double>, b array<double>",
        )
        rows = {
            r["id"]: r["s"]
            for r in df.select(
                "id", similarity.cosine_kernel(F.col("a"), F.col("b")).alias("s")
            ).collect()
        }
        assert rows[1] == pytest.approx(1.0)
        import math
        assert rows[2] is None or math.isnan(rows[2])
        assert rows[3] is None or math.isnan(rows[3])


class TestScalarQuantization:
    """SQ8 (r6): per-vector affine int8 codes, 4x storage, near-exact
    search over dequantized vectors."""

    def _em(self, spark):
        return spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )

    def test_roundtrip_error_bounded_by_half_step(self, spark):
        em = self._em(spark).limit(100)
        q = similarity.quantize_embeddings(em)
        rows = q.select(
            "embedding",
            F.col("sq8.scale").alias("s"),
            similarity.dequantize_embedding(F.col("sq8")).alias("deq"),
        ).collect()
        for r in rows:
            step = r["s"] / 255.0
            err = max(
                abs(a - b) for a, b in zip(r["embedding"], r["deq"])
            )
            assert err <= step / 2 + 1e-12

    def test_constant_vector_zero_scale(self, spark):
        df = spark.createDataFrame(
            [(1, [2.5, 2.5, 2.5])], "vec_id long, embedding array<double>"
        )
        q = similarity.quantize_embeddings(df)
        r = q.select(
            "sq8", similarity.dequantize_embedding(F.col("sq8")).alias("d")
        ).first()
        assert r["sq8"]["scale"] == 0.0
        assert list(r["sq8"]["codes"]) == [0, 0, 0]
        assert r["d"] == [2.5, 2.5, 2.5]  # mn restores the constant

    def test_search_over_sq8_storage_is_near_exact(self, spark):
        """Brute-force top-5 over DEQUANTIZED vectors vs exact: SQ8
        keeps enough precision that recall is ~1.0 (the reason to
        pick it over PQ when the 4x-compressed corpus still fits)."""
        em = self._em(spark)
        queries = em.where(F.col("vec_id") < 10)
        exact = similarity.brute_force_topk(em, queries, k=5)
        deq = similarity.quantize_embeddings(em).select(
            "vec_id",
            similarity.dequantize_embedding(F.col("sq8")).alias("embedding"),
        )
        approx = similarity.brute_force_topk(deq, queries, k=5)
        a = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
        b = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
        recall = len(a & b) / len(a)
        assert recall >= 0.95, recall

    def test_quantize_is_map_only(self, spark):
        out = similarity.quantize_embeddings(self._em(spark))
        plans.assert_no_shuffle(out)
        plans.assert_jvm_only(out)


class TestAnnIndexPersistence:
    def test_pq_codebooks_roundtrip_bit_exact(self, spark, tmp_path):
        em = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).selectExpr("vec_id", "CAST(embedding AS array<double>) AS embedding")
        books = similarity.train_pq_codebooks(em, m=8, n_codes=16)
        path = str(tmp_path / "pq_books")
        similarity.save_pq_codebooks(spark, books, path)
        loaded = similarity.load_pq_codebooks(spark, path)
        import numpy as np

        assert loaded.shape == books.shape
        assert np.array_equal(loaded, books)   # float64 round-trip exact

    def test_ivf_pretrained_equals_inline(self, spark, tmp_path):
        """Search with saved+loaded centroids == inline training with
        the same seed (the production train-once/search-many shape)."""
        em = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).selectExpr("vec_id", "CAST(embedding AS array<double>) AS embedding")
        queries = em.where("vec_id < 3")
        cents = similarity.train_ivf_centroids(em, n_cells=4, seed=7)
        path = str(tmp_path / "ivf_cents")
        similarity.save_ivf_centroids(spark, cents, path)
        loaded = similarity.load_ivf_centroids(spark, path)
        assert loaded == cents
        a = {
            (r.query_id, r.vec_id, r.rank)
            for r in similarity.ivf_topk(
                em, queries, k=3, n_cells=4, n_probe=2, seed=7
            ).collect()
        }
        b = {
            (r.query_id, r.vec_id, r.rank)
            for r in similarity.ivf_topk(
                em, queries, k=3, n_cells=4, n_probe=2, centroids=loaded
            ).collect()
        }
        assert a == b and len(a) > 0


class TestRandomProjection:
    """similarity.random_projection — pure-Column JL projection."""

    def test_matches_numpy_replica(self, spark):
        import numpy as np

        rng = np.random.default_rng(3)
        vecs = [[float(x) for x in rng.normal(size=16)] for _ in range(20)]
        df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)],
                                   ["vec_id", "v"])
        got = {
            r.vec_id: r.p
            for r in df.select(
                "vec_id",
                similarity.random_projection("v", 4).alias("p"),
            ).collect()
        }
        def sign(k, j):
            x = ((k + 1) * (j + 17) * 2654435761) % 4294967296
            return 1.0 if (x // 65536) % 2 == 0 else -1.0

        for i, v in enumerate(vecs):
            want = [
                round(
                    sum(v[k] * sign(k, j) for k in range(16)) / 2.0, 6
                )
                for j in range(4)
            ]
            assert got[i] == pytest.approx(want, abs=1e-9)

    def test_norm_preservation_loose(self, spark):
        # JL sanity: a ±1/sqrt(d) projection is an unbiased estimator
        # of the squared norm; at out_dim=16 the relative error is
        # ~25% typical, so bound generously per vector. (Pairwise
        # DISTANCE correlation is NOT a usable check here: iid
        # gaussian pairs are near-equidistant, so distance spread is
        # pure noise.)
        import numpy as np

        rng = np.random.default_rng(5)
        vecs = rng.normal(size=(8, 64))
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            ["vec_id", "v"],
        )
        proj = {
            r.vec_id: np.array(r.p)
            for r in df.select(
                "vec_id", similarity.random_projection("v", 16).alias("p")
            ).collect()
        }
        for i, v in enumerate(vecs):
            ratio = np.sum(proj[i] ** 2) / np.sum(v**2)
            assert 0.2 < ratio < 5.0

    def test_map_only_plan(self, spark):
        df = spark.createDataFrame([([1.0, 2.0],)], ["v"])
        out = df.select(similarity.random_projection("v", 2))
        plans.assert_no_shuffle(out)
        plans.assert_jvm_only(out)


class TestSniffFormat:
    """r8 decode-coverage instrument: magic-byte classification with
    JPEG frame-type subdivision — no decoding."""

    def test_all_fixture_formats(self):
        from flycatcher_spark.operators.jpeg import (
            encode_jpeg,
            encode_jpeg_progressive,
        )
        from flycatcher_spark.operators.flac import encode_flac

        blocks = [[[10] + [0] * 63]]
        assert multimodal.sniff_format(encode_jpeg(8, 8, blocks)) == (
            "jpeg_baseline"
        )
        assert multimodal.sniff_format(
            encode_jpeg_progressive(8, 8, blocks)
        ) == "jpeg_progressive"
        assert multimodal.sniff_format(encode_flac([1, 2, 3])) == "flac"
        assert multimodal.sniff_format(b"\x89PNG\r\n\x1a\n1234") == "png"
        assert multimodal.sniff_format(b"P6 1 1 255 x") == "ppm"
        assert multimodal.sniff_format(b"P5 1 1 255 x") == "pgm"
        assert multimodal.sniff_format(b"\x1f\x8b\x08rest") == "gzip"
        assert multimodal.sniff_format(b"no magic here") == "unknown"
        assert multimodal.sniff_format(None) is None
        assert multimodal.sniff_format(b"") is None

    def test_jpeg_frame_subtypes_by_marker_rewrite(self):
        from flycatcher_spark.operators.jpeg import encode_jpeg

        base = bytearray(encode_jpeg(8, 8, [[[10] + [0] * 63]]))
        i = bytes(base).index(b"\xff\xc0")
        for marker, want in [
            (0xC1, "jpeg_extended"),
            (0xC3, "jpeg_lossless"),
            (0xC9, "jpeg_arithmetic"),
        ]:
            b = bytearray(base)
            b[i + 1] = marker
            assert multimodal.sniff_format(bytes(b)) == want

    def test_riff_family_distinguished(self, spark):
        docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
        wav = multimodal.make_wav_payload(docs).first()["payload"]
        assert multimodal.sniff_format(wav) == "wav"
        from flycatcher_spark.operators import video

        avi = video.make_avi_payload(docs).first()["payload"]
        assert multimodal.sniff_format(avi) == "avi"

    def test_payload_format_column(self, spark):
        from flycatcher_spark.operators import webdataset

        docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
        shards = webdataset.make_webdataset_payload(docs)
        got = {
            r.doc_id: r.payload_fmt
            for r in multimodal.payload_format(shards).collect()
        }
        assert got == {1: "tar", 2: "tar"}


class TestPngExtendedFormats:
    """r8: Adam7 interlacing, 16-bit samples, and 1/2/4-bit depths —
    the rest of the static-PNG matrix a real web corpus contains."""

    @staticmethod
    def _png(w, h, depth, color, interlace, raw, plte=None):
        import struct
        import zlib

        def chunk(t, b):
            return (struct.pack(">I", len(b)) + t + b
                    + struct.pack(">I", zlib.crc32(t + b)))

        ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    def test_16bit_gray_and_maxval(self):
        import numpy as np

        px = np.array([[300, 40000], [0, 65535]], dtype=np.uint16)
        raw = b"".join(b"\x00" + row.astype(">u2").tobytes() for row in px)
        m = multimodal.parse_png(self._png(2, 2, 16, 0, 0, raw))
        assert m["maxval"] == 65535
        assert list(m["pixels"]) == [300, 40000, 0, 65535]

    def test_low_bit_depth_gray(self):
        m = multimodal.parse_png(
            self._png(5, 2, 4, 0, 0,
                      b"\x00" + bytes([0x1F, 0x70, 0x90])
                      + b"\x00" + bytes([0x33, 0x33, 0x30]))
        )
        assert m["maxval"] == 15
        assert list(m["pixels"]) == [1, 15, 7, 0, 9, 3, 3, 3, 3, 3]

    def test_1bit_palette(self):
        plte = bytes([255, 0, 0, 0, 255, 0])
        m = multimodal.parse_png(
            self._png(9, 1, 1, 3, 0,
                      b"\x00" + bytes([0b10110010, 0b10000000]),
                      plte=plte)
        )
        want = []
        for b in [1, 0, 1, 1, 0, 0, 1, 0, 1]:
            want += [0, 255, 0] if b else [255, 0, 0]
        assert m["n_channels"] == 3 and list(m["pixels"]) == want

    @staticmethod
    def _interlaced_raw(full, to_bytes):
        raw = b""
        for rs, cs, ri, ci in multimodal._ADAM7:
            sub = full[rs::ri, cs::ci]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            for row in sub:
                raw += b"\x00" + to_bytes(row)
        return raw

    def test_adam7_8bit_gray_matches_raster(self):
        import numpy as np

        W, H = 10, 7
        full = ((np.arange(W * H).reshape(H, W) * 3 + 1) % 256).astype(
            np.uint8
        )
        raw = self._interlaced_raw(full, lambda r: r.tobytes())
        m = multimodal.parse_png(self._png(W, H, 8, 0, 1, raw))
        assert np.array_equal(np.asarray(m["pixels"]).reshape(H, W), full)

    def test_adam7_16bit_rgb(self):
        import numpy as np

        W, H = 5, 5
        full = ((np.arange(W * H * 3).reshape(H, W, 3) * 1234) % 65536
                ).astype(np.uint16)
        raw = self._interlaced_raw(full, lambda r: r.astype(">u2").tobytes())
        m = multimodal.parse_png(self._png(W, H, 16, 2, 1, raw))
        assert m["maxval"] == 65535
        assert np.array_equal(
            np.asarray(m["pixels"]).reshape(H, W, 3), full
        )

    def test_adam7_fixture_arm_same_oracle_stats(self, spark):
        # ids 3 and 7 hit the interlaced arm: decoded stats must equal
        # the sequential arm's closed forms (same pixel formula)
        import pyspark.sql.functions as F

        df = spark.createDataFrame([(3,), (7,), (4,)], "doc_id long")
        meta = multimodal.decode_image_meta(
            multimodal.make_png_payload(df, color="rgb")
        ).collect()
        for m in meta:
            i = m["doc_id"]
            w, h = 4 + i % 13, 3 + i % 7
            n = w * h * 3
            import numpy as np

            px = (i * 7 + np.arange(n) * 13) % 256
            assert (m["width"], m["height"]) == (w, h)
            assert m["mean_pixel"] == pytest.approx(px.mean(), abs=1e-6)

    def test_adam7_wrong_length_is_corrupt(self):
        m = multimodal.parse_png(
            self._png(2, 1, 8, 0, 1, b"\x00" + bytes([1, 2]))
        )
        assert m is None


class TestChunkBySentences:
    def test_greedy_known_answer(self, spark):
        df = spark.createDataFrame(
            [(1, "aa bb. cc dd ee. ff. gg hh ii jj.")], ["doc_id", "text"]
        )
        out = text.chunk_by_sentences(df, max_tokens=4)
        got = [
            (r["chunk_idx"], r["chunk_text"], r["n_tokens"])
            for r in out.orderBy("chunk_idx").collect()
        ]
        assert got == [
            (0, "aa bb.", 2),
            (1, "cc dd ee. ff.", 4),
            (2, "gg hh ii jj.", 4),
        ]

    def test_overlong_sentence_never_split(self, spark):
        df = spark.createDataFrame(
            [(1, "one two three four five six. x.")], ["doc_id", "text"]
        )
        out = text.chunk_by_sentences(df, max_tokens=3).orderBy("chunk_idx")
        got = [(r["chunk_text"], r["n_tokens"]) for r in out.collect()]
        assert got == [("one two three four five six.", 6), ("x.", 1)]

    def test_no_terminator_single_chunk(self, spark):
        df = spark.createDataFrame(
            [(1, "no punctuation here at all")], ["doc_id", "text"]
        )
        out = text.chunk_by_sentences(df, max_tokens=2).collect()
        assert len(out) == 1 and out[0]["n_tokens"] == 5

    def test_rejects_bad_max(self, spark):
        df = spark.createDataFrame([(1, "a.")], ["doc_id", "text"])
        with pytest.raises(ValueError):
            text.chunk_by_sentences(df, max_tokens=0)

    def test_fuzz_matches_python_greedy(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        sentence = st.lists(
            st.text(alphabet="ab", min_size=1, max_size=3),
            min_size=1,
            max_size=6,
        ).map(lambda ws: " ".join(ws) + ".")

        def ref(sents, max_tokens):
            chunks = []
            run = 0
            for s in sents:
                n = len(s.split())
                if not chunks or run + n > max_tokens:
                    chunks.append(s)
                    run = n
                else:
                    chunks[-1] += " " + s
                    run += n
            return chunks

        @given(
            docs=st.lists(
                st.lists(sentence, min_size=1, max_size=8),
                min_size=1,
                max_size=6,
            ),
            mx=st.integers(min_value=1, max_value=10),
        )
        @settings(
            max_examples=15,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        def check(docs, mx):
            df = spark.createDataFrame(
                [(i, " ".join(ls)) for i, ls in enumerate(docs)],
                ["doc_id", "text"],
            )
            out = text.chunk_by_sentences(df, max_tokens=mx)
            got = {}
            for r in out.collect():
                got.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r["chunk_text"]
            want = {
                i: dict(enumerate(ref(ls, mx))) for i, ls in enumerate(docs)
            }
            assert got == want

        check()
