"""Corpus-curation operator tests (operators/quality): known-answer
fixtures for the rule gate / classifier / unigram LM, determinism
checks for sampling and training order, transitive-closure semantics
for semantic dedup, and plan-shape assertions (map-only metrics)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from flycatcher_spark import plans
from flycatcher_spark.operators import quality


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            # clean prose: passes every rule
            (1, "the cat sat on the mat and it was happy to be there with food"),
            # bullet list: every line starts with '-'
            (2, "- first item\n- second item\n- third item"),
            # ellipsis-heavy: both lines end with ...
            (3, "teaser one...\nteaser two…"),
            # symbol noise: hash marks
            (4, "# # # header # # # and # more # hashes #"),
            # numeric: words carry no alpha chars
            (5, "12 34 56 78 90 11 22 33"),
            # empty
            (6, ""),
        ],
        "doc_id long, text string",
    )


class TestGopherRules:
    def test_metrics_known_answers(self, docs):
        m = quality.gopher_metrics("text")
        rows = {
            r["doc_id"]: r
            for r in docs.select(
                "doc_id", *[v.alias(k) for k, v in m.items()]
            ).collect()
        }
        r1 = rows[1]
        assert r1["n_words"] == 15
        assert r1["alpha_word_ratio"] == 1.0
        assert r1["symbol_ratio"] == 0.0
        assert r1["bullet_line_ratio"] == 0.0
        # 'the','and','be','to','with' present -> 5 required hits
        assert r1["stopword_hits"] == 5
        # bullets: 3 of 3 lines
        assert rows[2]["bullet_line_ratio"] == 1.0
        # ellipses: both forms counted, 2 of 2 lines
        assert rows[3]["ellipsis_line_ratio"] == 1.0
        # '...' and '…' also count as symbols: 2 symbols / 4 words
        # (the newline is a token separator)
        assert rows[3]["symbol_ratio"] == 0.5
        # 9 hashes / 13 words
        assert rows[4]["symbol_ratio"] == round(9 / 13, 6)
        assert rows[5]["alpha_word_ratio"] == 0.0
        # empty doc: zero words, zero ratios (no NaNs/nulls)
        r6 = rows[6]
        assert r6["n_words"] == 0 and r6["mean_word_len"] == 0.0
        assert r6["alpha_word_ratio"] == 0.0 and r6["symbol_ratio"] == 0.0

    def test_gate_decisions(self, docs):
        got = {
            r["doc_id"]: r["ok"]
            for r in docs.select(
                "doc_id",
                quality.gopher_pass(
                    "text", min_words=3, min_stopword_hits=1
                ).alias("ok"),
            ).collect()
        }
        assert got[1] is True  # clean prose
        assert got[2] is False  # bullet ratio 1.0 > 0.9
        assert got[3] is False  # ellipsis ratio 1.0 > 0.3
        assert got[4] is False  # symbol ratio > 0.1
        assert got[5] is False  # alpha ratio 0 < 0.8
        assert got[6] is False  # below min_words

    def test_metrics_are_map_only(self, docs):
        m = quality.gopher_metrics("text")
        out = docs.select("doc_id", *[v.alias(k) for k, v in m.items()])
        plans.assert_no_shuffle(out)
        plans.assert_jvm_only(out)


class TestClassifierScore:
    def test_known_value(self, spark):
        # one word 'hello': stop=0, mtl=5 (centered term 0), punct=0,
        # digit=0, log_n_words=ln(2) -> z = -0.5 + 0.25*ln(2)
        df = spark.createDataFrame([(1, "hello")], "id long, text string")
        z = -0.5 + 0.25 * math.log(2.0)
        want = round(1.0 / (1.0 + math.exp(-z)), 6)
        got = df.select(quality.classifier_score("text").alias("s")).first()["s"]
        assert got == want

    def test_monotone_in_stopwords(self, spark):
        df = spark.createDataFrame(
            [(1, "xxxxx yyyyy zzzzz"), (2, "the and of")],
            "id long, text string",
        )
        s = {
            r["id"]: r["s"]
            for r in df.select(
                "id", quality.classifier_score("text").alias("s")
            ).collect()
        }
        assert s[2] > s[1]

    def test_unknown_feature_raises(self, spark):
        df = spark.createDataFrame([(1, "x")], "id long, text string")
        with pytest.raises(KeyError):
            df.select(quality.classifier_score("text", weights={"nope": 1.0}))

    def test_map_only(self, docs):
        out = docs.select(quality.classifier_score("text").alias("s"))
        plans.assert_no_shuffle(out)
        plans.assert_jvm_only(out)


class TestUnigramSurprise:
    def test_known_answer(self, spark):
        # corpus: a:3 b:1 c:1, N=5. vocab_size=2 keeps a(3) and b(1)
        # (count desc, token asc beats c); c is OOV at 0.5/5.
        df = spark.createDataFrame(
            [(1, "a a b"), (2, "a c")], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r
            for r in quality.unigram_surprise(df, vocab_size=2).collect()
        }
        c_a, c_b, c_oov = -math.log(3 / 5), -math.log(1 / 5), -math.log(0.5 / 5)
        d9 = lambda x: round(x, 9)
        assert out[1]["n_tokens"] == 3
        assert out[1]["surprise"] == round((2 * d9(c_a) + d9(c_b)) / 3, 6)
        assert out[2]["n_tokens"] == 2
        assert out[2]["surprise"] == round((d9(c_a) + d9(c_oov)) / 2, 6)

    def test_lowercases_before_counting(self, spark):
        df = spark.createDataFrame(
            [(1, "The the THE")], "doc_id long, text string"
        )
        out = quality.unigram_surprise(df, vocab_size=10).first()
        # all three tokens are one vocab entry with p=1 -> surprise 0
        assert out["surprise"] == 0.0

    def test_partitioning_invariant(self, spark):
        df = spark.createDataFrame(
            [(i, f"tok{i % 7} tok{i % 3} shared") for i in range(60)],
            "doc_id long, text string",
        )
        a = {
            (r["doc_id"], r["surprise"])
            for r in quality.unigram_surprise(df, vocab_size=5).collect()
        }
        b = {
            (r["doc_id"], r["surprise"])
            for r in quality.unigram_surprise(
                df.repartition(7), vocab_size=5
            ).collect()
        }
        assert a == b


class TestBigramSurprise:
    def test_known_answer(self, spark):
        # corpus "a b a b": unigrams a:2 b:2 N=4; bigrams (a,b):2
        # (b,a):1, contexts a:2 b:1. First token: unigram only.
        df = spark.createDataFrame(
            [(1, "a b a b")], "doc_id long, text string"
        )
        out = quality.bigram_surprise(
            df, vocab_size=10, bigram_vocab_size=10, lam=0.5
        ).first()
        d9 = lambda x: round(x, 9)
        p_uni = 2 / 4
        c_first = d9(-math.log(p_uni))
        c_ab = d9(-math.log(0.5 * (2 / 2) + 0.5 * p_uni))  # p_big = 1
        c_ba = d9(-math.log(0.5 * (1 / 1) + 0.5 * p_uni))
        assert out["n_tokens"] == 4
        assert out["surprise"] == round(
            (c_first + 2 * c_ab + c_ba) / 4, 6
        )

    def test_unseen_bigram_backs_off_to_unigram(self, spark):
        # tiny bigram table (size 1) keeps only the top bigram; the
        # rest score 0.5 * 0 + 0.5 * p_uni — strictly more surprise
        # than the kept bigram's tokens.
        df = spark.createDataFrame(
            [(1, "x y x y x z")], "doc_id long, text string"
        )
        full = quality.bigram_surprise(
            df, vocab_size=10, bigram_vocab_size=10
        ).first()["surprise"]
        tiny = quality.bigram_surprise(
            df, vocab_size=10, bigram_vocab_size=1
        ).first()["surprise"]
        assert tiny > full

    def test_predictable_text_beats_scrambled(self, spark):
        # same token multiset => identical unigram surprise, but the
        # repetitive bigram structure must score lower than the
        # scrambled order under the bigram model.
        rep = "the cat sat " * 8
        scr = "the the cat sat sat cat the sat cat the sat cat " * 2
        df = spark.createDataFrame(
            [(1, rep), (2, scr)], "doc_id long, text string"
        )
        uni = {
            r["doc_id"]: r["surprise"]
            for r in quality.unigram_surprise(df, vocab_size=10).collect()
        }
        assert uni[1] == uni[2]
        big = {
            r["doc_id"]: r["surprise"]
            for r in quality.bigram_surprise(
                df, vocab_size=10, bigram_vocab_size=20
            ).collect()
        }
        assert big[1] < big[2]

    def test_partitioning_invariant(self, spark):
        df = spark.createDataFrame(
            [(i, f"tok{i % 7} tok{i % 3} shared end") for i in range(60)],
            "doc_id long, text string",
        )
        a = {
            (r["doc_id"], r["surprise"])
            for r in quality.bigram_surprise(df, vocab_size=5).collect()
        }
        b = {
            (r["doc_id"], r["surprise"])
            for r in quality.bigram_surprise(
                df.repartition(7), vocab_size=5
            ).collect()
        }
        assert a == b


class TestDsirSample:
    @pytest.fixture(scope="class")
    def split(self, spark):
        # target talks about cats; half the corpus does too, the
        # other half is about engines.
        target = spark.createDataFrame(
            [(100 + i, "cat cat feline purr") for i in range(3)],
            "doc_id long, text string",
        )
        corpus = spark.createDataFrame(
            [(i, "cat feline purr soft") for i in range(5)]
            + [(10 + i, "engine piston torque oil") for i in range(5)],
            "doc_id long, text string",
        )
        return corpus, target

    def test_prefers_target_like_docs(self, split):
        corpus, target = split
        out = quality.dsir_sample(corpus, target, k=5, vocab_size=50)
        picked = sorted(r["doc_id"] for r in out.collect())
        # importance gap is huge (every engine token is target-OOV),
        # so even with Gumbel noise all 5 cat docs win.
        assert picked == [0, 1, 2, 3, 4]
        logw = {r["doc_id"]: r["logw"] for r in out.collect()}
        assert all(v > 0 for v in logw.values())

    def test_deterministic_across_partitionings(self, split):
        corpus, target = split
        a = sorted(
            r["doc_id"]
            for r in quality.dsir_sample(corpus, target, k=7).collect()
        )
        b = sorted(
            r["doc_id"]
            for r in quality.dsir_sample(
                corpus.repartition(5), target.repartition(3), k=7
            ).collect()
        )
        assert a == b

    def test_seed_varies_tail_selection(self, spark):
        # identical docs -> logw ties; the Gumbel noise (seeded)
        # decides, and different seeds pick different subsets.
        corpus = spark.createDataFrame(
            [(i, "same words here") for i in range(40)],
            "doc_id long, text string",
        )
        target = spark.createDataFrame(
            [(99, "same words here")], "doc_id long, text string"
        )
        a = sorted(r["doc_id"] for r in
                   quality.dsir_sample(corpus, target, k=10, seed="s1").collect())
        b = sorted(r["doc_id"] for r in
                   quality.dsir_sample(corpus, target, k=10, seed="s2").collect())
        assert len(a) == len(b) == 10
        assert a != b


class TestCapPerKey:
    def test_known_answer(self, spark):
        df = spark.createDataFrame(
            [("s1", 1, 0.9), ("s1", 2, 0.8), ("s1", 3, 0.7), ("s1", 4, 0.6),
             ("s2", 5, 0.5)],
            "source string, doc_id long, q double",
        )
        kept = quality.cap_per_key(
            df, "source", [F.desc("q"), F.asc("doc_id")], 2
        )
        got = sorted((r["source"], r["doc_id"], r["rank"]) for r in kept.collect())
        assert got == [("s1", 1, 1), ("s1", 2, 2), ("s2", 5, 1)]

    def test_tiebreak_deterministic(self, spark):
        df = spark.createDataFrame(
            [("s", i, 1.0) for i in range(10)],
            "source string, doc_id long, q double",
        )
        kept = quality.cap_per_key(
            df.repartition(5), "source", [F.desc("q"), F.asc("doc_id")], 3
        )
        assert sorted(r["doc_id"] for r in kept.collect()) == [0, 1, 2]


class TestMixtureSample:
    @pytest.fixture(scope="class")
    def skewed(self, spark):
        rows = [(f"d{i}", "head") for i in range(90)] + [
            (f"t{i}", "tail") for i in range(10)
        ]
        return spark.createDataFrame(rows, "key string, source string")

    def test_rates_follow_sqrt_temperature(self, skewed):
        out = quality.mixture_sample(skewed, "source", "key", target_rows=40)
        rates = {
            r["source"]: r["__rate10k"]
            for r in out.select("source", "__rate10k").distinct().collect()
        }
        sw_head, sw_tail = round(math.sqrt(90), 6), round(math.sqrt(10), 6)
        t = sw_head + sw_tail
        want_head = math.floor(min(1.0, 40 * sw_head / t / 90) * 10000 + 0.5)
        want_tail = math.floor(min(1.0, 40 * sw_tail / t / 10) * 10000 + 0.5)
        assert rates == {"head": want_head, "tail": want_tail}
        # sqrt temperature: the tail stratum is sampled at a HIGHER
        # rate than the head (that's the point of flattening).
        assert rates["tail"] > rates["head"]

    def test_deterministic_and_partition_invariant(self, skewed):
        a = {r["key"] for r in quality.mixture_sample(
            skewed, "source", "key", target_rows=40).collect()}
        b = {r["key"] for r in quality.mixture_sample(
            skewed.repartition(13), "source", "key", target_rows=40).collect()}
        assert a == b and len(a) > 0

    def test_rate_capped_at_one(self, spark):
        df = spark.createDataFrame(
            [(f"k{i}", "only") for i in range(5)], "key string, source string"
        )
        out = quality.mixture_sample(df, "source", "key", target_rows=1000)
        assert out.count() == 5  # rate clamps to 10000/10000


class TestTrainingOrder:
    def test_dense_permutation(self, spark):
        df = spark.createDataFrame(
            [(i,) for i in range(200)], "doc_id long"
        )
        out = quality.training_order(df, "doc_id", seed="e0")
        pos = sorted(r["pos"] for r in out.collect())
        assert pos == list(range(200))

    def test_matches_global_md5_sort(self, spark):
        df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
        out = quality.training_order(df.repartition(7), "doc_id", seed="e0")
        got = [r["doc_id"] for r in out.orderBy("pos").collect()]
        import hashlib

        want = sorted(
            range(50),
            key=lambda i: hashlib.md5(f"e0:{i}".encode()).hexdigest(),
        )
        assert got == want

    def test_seed_changes_order(self, spark):
        df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
        a = [r["doc_id"] for r in
             quality.training_order(df, "doc_id", seed="e0").orderBy("pos").collect()]
        b = [r["doc_id"] for r in
             quality.training_order(df, "doc_id", seed="e1").orderBy("pos").collect()]
        assert a != b and sorted(a) == sorted(b)


class TestCorpusReport:
    def test_known_answer(self, spark):
        df = spark.createDataFrame(
            [
                ("s1", 1, "the cat sat on the mat"),
                ("s1", 2, "THE  cat sat on the MAT"),  # normalized dup of 1
                ("s1", 3, "dogs bark loudly at night"),
                ("s2", 4, "one single doc here"),
            ],
            "source string, doc_id long, text string",
        )
        gate = quality.gopher_pass(
            "text",
            min_words=4,
            min_mean_word_len=2.0,
            min_stopword_hits=0,
            min_alpha_word_ratio=0.5,
        )
        rows = {
            r["source"]: r
            for r in quality.corpus_report(df, gate=gate).collect()
        }
        s1 = rows["s1"]
        assert s1["n_docs"] == 3 and s1["total_tokens"] == 6 + 6 + 5
        assert s1["dup_docs"] == 1 and s1["dup_rate"] == round(1 / 3, 6)
        assert s1["gate_pass_rate"] == 1.0
        assert rows["s2"]["n_docs"] == 1 and rows["s2"]["dup_docs"] == 0
        # mean quality equals the per-doc mean, decimal-summed
        from flycatcher_spark.operators.text import quality_score
        import pyspark.sql.functions as F

        qs = [
            r["q"]
            for r in df.where(F.col("source") == "s1")
            .select(F.round(quality_score("text"), 6).alias("q"))
            .collect()
        ]
        assert s1["mean_quality"] == round(sum(qs) / 3, 6)

    def test_partitioning_invariant(self, spark):
        df = spark.createDataFrame(
            [("s%d" % (i % 3), i, f"doc number {i} with the words") for i in range(60)],
            "source string, doc_id long, text string",
        )
        a = sorted(map(tuple, quality.corpus_report(df).collect()))
        b = sorted(map(tuple, quality.corpus_report(df.repartition(13)).collect()))
        assert a == b


class TestPackSequences:
    def test_tiles_exactly(self, spark):
        df = spark.createDataFrame(
            [(i, 10 + i % 7) for i in range(50)], "doc_id long, ntc long"
        )
        out = quality.pack_sequences(df, "ntc", seq_len=64).collect()
        total = sum(r["ntc"] for r in df.collect())
        # every doc's spans sum to its token count
        per_doc = {}
        for r in out:
            per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["n_toks"]
        assert per_doc == {r["doc_id"]: r["ntc"] for r in df.collect()}
        # sequences tile [0,64) exactly; the last may be partial
        per_seq = {}
        for r in out:
            per_seq.setdefault(r["seq_id"], []).append(
                (r["start_in_seq"], r["n_toks"])
            )
        last = max(per_seq)
        for sid, sl in per_seq.items():
            sl.sort()
            cursor = 0
            for start, n in sl:
                assert start == cursor and n > 0
                cursor += n
            assert cursor == 64 or (sid == last and cursor == total % 64)

    def test_zero_token_docs_dropped(self, spark):
        df = spark.createDataFrame(
            [(1, 5), (2, 0), (3, 3)], "doc_id long, ntc long"
        )
        out = quality.pack_sequences(df, "ntc", seq_len=4)
        assert 2 not in {r["doc_id"] for r in out.collect()}

    def test_partitioning_invariant(self, spark):
        df = spark.createDataFrame(
            [(i, 1 + i % 13) for i in range(80)], "doc_id long, ntc long"
        )
        key = lambda r: (r["seq_id"], r["doc_id"], r["start_in_seq"], r["n_toks"])
        a = sorted(map(key, quality.pack_sequences(df, "ntc", 32).collect()))
        b = sorted(map(key, quality.pack_sequences(
            df.repartition(11), "ntc", 32).collect()))
        assert a == b


class TestCorpusDivergence:
    def test_identical_corpora_zero(self, spark):
        df = spark.createDataFrame(
            [(i, "the same words again") for i in range(20)],
            "doc_id long, text string",
        )
        row = quality.corpus_divergence(df, df, vocab_size=50).first()
        assert row["kl_ab"] == 0.0 and row["kl_ba"] == 0.0 and row["js"] == 0.0

    def test_disjoint_corpora_positive_and_symmetric_js(self, spark):
        a = spark.createDataFrame(
            [(1, "cats cats felines")], "doc_id long, text string"
        )
        b = spark.createDataFrame(
            [(2, "engines pistons torque")], "doc_id long, text string"
        )
        ab = quality.corpus_divergence(a, b, vocab_size=50).first()
        ba = quality.corpus_divergence(b, a, vocab_size=50).first()
        assert ab["js"] > 0.1
        assert ab["js"] == ba["js"]  # JS is symmetric
        assert ab["kl_ab"] == ba["kl_ba"]

    def test_partitioning_invariant(self, spark):
        rows = [(i, f"tok{i % 11} shared words here") for i in range(80)]
        a = spark.createDataFrame(rows[:40], "doc_id long, text string")
        b = spark.createDataFrame(rows[40:], "doc_id long, text string")
        x = quality.corpus_divergence(a, b).first()
        y = quality.corpus_divergence(
            a.repartition(7), b.repartition(5)
        ).first()
        assert tuple(x) == tuple(y)


class TestIncrementalSemanticDedup:
    @pytest.fixture(scope="class")
    def split(self, spark):
        corpus = spark.createDataFrame(
            [
                (1, [1.0, 0.0, 0.0], 0),
                (2, [0.0, 1.0, 0.0], 0),
                (3, [1.0, 0.0, 0.0], 1),
            ],
            "vec_id long, embedding array<double>, label int",
        )
        new = spark.createDataFrame(
            [
                (10, [1.0, 0.01, 0.0], 0),   # dup of corpus 1
                (11, [0.0, 0.0, 1.0], 0),    # orthogonal: survives
                (12, [0.0, 1.0, 0.0], 1),    # same dir as corpus 2 but
                                             # DIFFERENT cluster: survives
                (13, [0.5, 0.5, 0.0], 2),    # cluster with no corpus rows
            ],
            "vec_id long, embedding array<double>, label int",
        )
        return new, corpus

    @pytest.mark.parametrize("impl", ["sql", "numpy"])
    def test_corpus_dups_dropped_cluster_scoped(self, split, impl):
        new, corpus = split
        out = quality.incremental_semantic_dedup(
            new, corpus, threshold=0.95, impl=impl
        )
        assert sorted(r["vec_id"] for r in out.collect()) == [11, 12, 13]

    def test_impls_agree_on_real_data(self, spark):
        em = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
            "label",
        )
        new = em.where(F.col("vec_id") % 10 == 3)
        corpus = em.where(F.col("vec_id") % 10 != 3)
        a = sorted(r["vec_id"] for r in quality.incremental_semantic_dedup(
            new, corpus, threshold=0.35, impl="sql").collect())
        b = sorted(r["vec_id"] for r in quality.incremental_semantic_dedup(
            new, corpus, threshold=0.35, impl="numpy").collect())
        assert a == b and len(a) > 0

    def test_chunked_matmul_single_huge_cluster(self, spark):
        """Memory-bounding regression (VERDICT r3): a hot cluster must
        not build the full new×corpus similarity matrix in one task.
        Force all vectors into ONE cluster with chunk_rows far below
        the new-batch size (many row-slab passes + ragged final chunk)
        and pin against the exact sql fold."""
        em = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
            F.lit(0).alias("label"),  # one giant cluster
        )
        new = em.where(F.col("vec_id") % 3 == 0)
        corpus = em.where(F.col("vec_id") % 3 != 0)
        a = sorted(r["vec_id"] for r in quality.incremental_semantic_dedup(
            new, corpus, threshold=0.35, impl="sql").collect())
        b = sorted(r["vec_id"] for r in quality.incremental_semantic_dedup(
            new, corpus, threshold=0.35, impl="numpy", chunk_rows=29
        ).collect())
        assert a == b and 0 < len(a) < new.count()


class TestSemanticDedup:
    @pytest.fixture(scope="class")
    def vectors(self, spark):
        # cluster 0: chain a~b (cos 1.0), b~c (cos≈0.995), a~c lower;
        # d orthogonal. cluster 1: copy of a — must NOT be compared
        # across clusters.
        rows = [
            (1, [1.0, 0.0, 0.0], 0),
            (2, [1.0, 0.0, 0.0], 0),
            (3, [1.0, 0.1, 0.0], 0),
            (4, [0.0, 1.0, 0.0], 0),
            (5, [1.0, 0.0, 0.0], 1),
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        )

    @pytest.mark.parametrize("impl", ["sql", "numpy"])
    def test_transitive_min_id_survivor(self, vectors, impl):
        out = quality.semantic_dedup(
            vectors, threshold=0.99, impl=impl, cluster_col="label"
        )
        kept = sorted(r["vec_id"] for r in out.collect())
        # 1~2 exact, 2~3 cos=1/sqrt(1.01)≈0.995 -> component {1,2,3}
        # keeps 1; 4 orthogonal survives; 5 isolated in cluster 1.
        assert kept == [1, 4, 5]

    def test_threshold_keeps_everything(self, vectors):
        out = quality.semantic_dedup(vectors, threshold=1.1, impl="sql")
        assert out.count() == 5


class TestCcnetBuckets:
    def test_thirds_and_monotonic(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = quality.ccnet_buckets(docs, vocab_size=100).collect()
        n = len(out)
        counts = {"head": 0, "middle": 0, "tail": 0}
        by_bucket = {"head": [], "middle": [], "tail": []}
        for r in out:
            counts[r["bucket"]] += 1
            by_bucket[r["bucket"]].append(r["surprise"])
        # thirds within interpolation slack
        for b in counts:
            assert abs(counts[b] - n / 3) < n * 0.05, counts
        # buckets are ordered by surprise: head <= middle <= tail
        assert max(by_bucket["head"]) <= min(by_bucket["middle"])
        assert max(by_bucket["middle"]) <= min(by_bucket["tail"])

    def test_deterministic_under_repartition(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = {(r["doc_id"], r["bucket"])
             for r in quality.ccnet_buckets(docs, vocab_size=100).collect()}
        b = {(r["doc_id"], r["bucket"])
             for r in quality.ccnet_buckets(
                 docs.repartition(7), vocab_size=100).collect()}
        assert a == b


class TestBudgetMix:
    def test_budget_respected_no_overflow(self, spark):
        rows = [(i, "s%d" % (i % 2), "w " * 10) for i in range(40)]
        docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
        from flycatcher_spark.operators.text import token_count

        out = quality.budget_mix(
            docs, "source", "doc_id", token_count("text"),
            default_budget=55, budgets={"s1": 100},
        ).collect()
        per = {}
        for r in out:
            per.setdefault(r["source"], []).append(r["cum_tokens"])
        # each doc is 10 tokens: s0 fits 5 docs in 55, s1 fits 10 in 100
        assert max(per["s0"]) <= 55 and len(per["s0"]) == 5
        assert max(per["s1"]) <= 100 and len(per["s1"]) == 10
        # cumulative sums are a clean prefix 10,20,...
        assert sorted(per["s0"]) == [10, 20, 30, 40, 50]

    def test_deterministic_and_partition_invariant(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        from flycatcher_spark.operators.text import token_count

        kw = dict(strata_col="source", key_col="doc_id",
                  token_count=token_count("text"), default_budget=800)
        a = {(r["doc_id"], r["cum_tokens"]) for r in
             quality.budget_mix(docs, **kw).collect()}
        b = {(r["doc_id"], r["cum_tokens"]) for r in
             quality.budget_mix(docs.repartition(13), **kw).collect()}
        assert a == b and len(a) > 0

    def test_new_seed_changes_selection(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        from flycatcher_spark.operators.text import token_count

        kw = dict(strata_col="source", key_col="doc_id",
                  token_count=token_count("text"), default_budget=800)
        a = {r["doc_id"] for r in quality.budget_mix(docs, **kw).collect()}
        b = {r["doc_id"] for r in
             quality.budget_mix(docs, seed="budget1", **kw).collect()}
        assert a != b


class TestLeakageSafeSplit:
    def test_cluster_never_straddles(self, spark):
        docs = spark.createDataFrame(
            [(i,) for i in range(20)], ["doc_id"]
        )
        # chain 1-2-3 plus pair 7-9: whole chain must share a side
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 9)], ["doc_id_a", "doc_id_b"]
        )
        out = {r["doc_id"]: (r["component"], r["split"])
               for r in quality.leakage_safe_split(docs, pairs).collect()}
        assert len(out) == 20
        assert out[1] == out[2] == out[3]          # same component+side
        assert out[7] == out[9]
        assert out[1][0] == 1 and out[7][0] == 7   # min-id component
        # singletons are their own component
        assert out[5][0] == 5

    def test_split_rate_and_seed(self, spark):
        docs = spark.createDataFrame([(i,) for i in range(500)], ["doc_id"])
        pairs = spark.createDataFrame([], "doc_id_a long, doc_id_b long")
        out = quality.leakage_safe_split(docs, pairs, train_pct=90)
        frac = out.where("split = 'train'").count() / 500
        assert 0.85 < frac < 0.95
        out2 = quality.leakage_safe_split(docs, pairs, train_pct=90,
                                          seed="split1")
        diff = out.alias("a").join(
            out2.alias("b"), "doc_id"
        ).where("a.split <> b.split").count()
        assert diff > 0  # new seed reshuffles the assignment

    def test_broadcast_gate_paths_identical(self, spark, monkeypatch):
        # r9 verdict: the component-table broadcast must be
        # size-gated. Both sides of the gate must produce the exact
        # same split, and the over-threshold path must not carry a
        # forced broadcast hint in its plan.
        docs = spark.createDataFrame([(i,) for i in range(50)], ["doc_id"])
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 9), (10, 11)], ["doc_id_a", "doc_id_b"]
        )
        small = quality.leakage_safe_split(docs, pairs)
        monkeypatch.setattr(quality, "SPLIT_BROADCAST_MAX_ROWS", 0)
        big = quality.leakage_safe_split(docs, pairs)
        a = sorted(map(tuple, small.collect()))
        b = sorted(map(tuple, big.collect()))
        assert a == b
        small_plan = small._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in small_plan
        # the ungated plan may still broadcast (AQE's call at runtime)
        # but the LOGICAL plan must not force it
        assert "UnresolvedHint" not in big._jdf.queryExecution().logical().toString()
        big_plan = big._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in big_plan


class TestQualityFunnel:
    @pytest.fixture(scope="class")
    def staged(self, spark):
        # x: None fails 'pos' (null predicate rejects), -1 fails
        # 'pos', 20 passes 'pos' but fails 'small', 5 and 7 survive
        return spark.createDataFrame(
            [(1, None), (2, -1), (3, 20), (4, 5), (5, 7)],
            "doc_id long, x long",
        )

    def stages(self):
        return [
            ("pos", F.col("x") > 0),
            ("small", F.col("x") < 10),
        ]

    def test_known_answer(self, staged):
        out = quality.quality_funnel(staged, self.stages())
        got = [
            (r["stage_idx"], r["stage"], r["n_in"], r["n_removed"], r["n_out"])
            for r in out.orderBy("stage_idx").collect()
        ]
        assert got == [(0, "pos", 5, 2, 3), (1, "small", 3, 1, 2)]

    def test_first_fail_attribution(self, spark):
        # a row failing BOTH gates is charged only to the first
        df = spark.createDataFrame([(1, -100)], "doc_id long, x long")
        out = quality.quality_funnel(df, self.stages())
        got = {r["stage"]: r["n_removed"] for r in out.collect()}
        assert got == {"pos": 1, "small": 0}

    def test_zero_removal_stage_present(self, spark):
        df = spark.createDataFrame([(1, 5)], "doc_id long, x long")
        out = quality.quality_funnel(
            df, [("never", F.lit(True)), ("also_never", F.col("x") < 10)]
        )
        rows = out.orderBy("stage_idx").collect()
        assert [(r["stage"], r["n_removed"], r["n_out"]) for r in rows] == [
            ("never", 0, 1), ("also_never", 0, 1)
        ]

    def test_partitioning_invariant(self, staged):
        a = quality.quality_funnel(staged, self.stages()).collect()
        b = quality.quality_funnel(
            staged.repartition(7), self.stages()
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_rejects_bad_stage_lists(self, staged):
        with pytest.raises(ValueError):
            quality.quality_funnel(staged, [])
        with pytest.raises(ValueError):
            quality.quality_funnel(
                staged, [("a", F.lit(True)), ("a", F.lit(False))]
            )


class TestWeightedSample:
    @pytest.fixture(scope="class")
    def weighted(self, spark):
        return spark.createDataFrame(
            [(i, (i % 7) * 100 + 1) for i in range(1, 101)],
            "doc_id long, w long",
        )

    def test_priority_formula_known_answer(self, spark):
        import hashlib

        df = spark.createDataFrame([(42, 1000)], "doc_id long, w long")
        out = quality.weighted_sample(df, "w", "doc_id", k=1)
        row = out.collect()[0]
        bucket = int(hashlib.md5(b"42").hexdigest()[:8], 16) % 1_000_000
        assert row["priority"] == (1000 * 1_000_000_000) // (bucket + 1)

    def test_partitioning_invariant(self, weighted):
        a = quality.weighted_sample(weighted, "w", "doc_id", k=10)
        b = quality.weighted_sample(
            weighted.repartition(13), "w", "doc_id", k=10
        )
        assert sorted(r["doc_id"] for r in a.collect()) == sorted(
            r["doc_id"] for r in b.collect()
        )

    def test_exactly_k_and_weight_bias(self, weighted):
        out = quality.weighted_sample(weighted, "w", "doc_id", k=30).collect()
        assert len(out) == 30
        # heavier rows (w=601) should be over-represented vs w=1:
        # every sampled-set membership is deterministic, so this is a
        # fixed property of the md5 stream, not a flaky statistic
        heavy = sum(1 for r in out if r["w"] == 601)
        light = sum(1 for r in out if r["w"] == 1)
        assert heavy > light

    def test_zero_weight_never_beats_positive(self, spark):
        df = spark.createDataFrame(
            [(1, 0), (2, 0), (3, 5), (4, 5), (5, 5)],
            "doc_id long, w long",
        )
        out = quality.weighted_sample(df, "w", "doc_id", k=3).collect()
        assert sorted(r["doc_id"] for r in out) == [3, 4, 5]

    def test_rejects_bad_k(self, weighted):
        with pytest.raises(ValueError):
            quality.weighted_sample(weighted, "w", "doc_id", k=0)

    def test_per_stratum_topk(self, spark):
        df = spark.createDataFrame(
            [(i, 10 + i % 3, f"s{i % 2}") for i in range(1, 21)],
            "doc_id long, w long, src string",
        )
        out = quality.weighted_sample(
            df, "w", "doc_id", k=4, strata_col="src"
        )
        rows = out.collect()
        by_src: dict = {}
        for r in rows:
            by_src.setdefault(r["src"], []).append(r)
        assert set(by_src) == {"s0", "s1"} and all(
            len(v) == 4 for v in by_src.values()
        )
        # per-stratum picks are the stratum's global top-4 by the
        # same (priority desc, key) order the unstratified path uses
        for src, picked in by_src.items():
            whole = quality.weighted_sample(
                df.where(F.col("src") == src), "w", "doc_id", k=4
            ).collect()
            assert sorted(r["doc_id"] for r in picked) == sorted(
                r["doc_id"] for r in whole
            )
