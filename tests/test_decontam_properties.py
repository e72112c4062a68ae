"""Property-based tests for decontamination and incremental dedup.

Each property is checked against a plain-Python reference computed on
the generated documents — the model-based pattern the sessionizer
tests use, applied to the new round-3 operators. Document classes are
generated so expectations are *exact* (identical texts or
trigram-disjoint texts for the LSH path — identical signatures always
band together, so recall is 1 by construction, not probabilistically).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flycatcher_spark.operators import decontam, dedup

# Disjoint vocabularies: benchmark-flavored tokens vs fresh tokens.
# Single-character tokens keep docs short and cases readable.
BENCH_TOKENS = ["b0", "b1", "b2", "b3", "b4", "b5"]
FRESH_TOKENS = ["f0", "f1", "f2", "f3", "f4", "f5"]


def _trigrams(text: str) -> set[str]:
    toks = " ".join(text.lower().split()).split()
    if len(toks) < 3:
        return set()
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


@st.composite
def corpus_and_benchmark(draw):
    bench_text = " ".join(
        draw(
            st.lists(
                st.sampled_from(BENCH_TOKENS), min_size=3, max_size=8
            )
        )
    )
    docs = []
    for i in range(draw(st.integers(1, 6))):
        kind = draw(st.sampled_from(["copy", "mixed", "fresh", "short"]))
        if kind == "copy":
            text = bench_text
        elif kind == "short":
            tokens = st.lists(st.sampled_from(FRESH_TOKENS), min_size=0, max_size=2)
            text = " ".join(draw(tokens))
        elif kind == "fresh":
            tokens = st.lists(st.sampled_from(FRESH_TOKENS), min_size=3, max_size=10)
            text = " ".join(draw(tokens))
        else:
            text = bench_text + " " + " ".join(
                draw(st.lists(st.sampled_from(FRESH_TOKENS), min_size=3, max_size=10))
            )
        docs.append((i, text))
    return bench_text, docs


class TestContaminationProperties:
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(corpus_and_benchmark())
    def test_counts_match_python_reference(self, spark, case):
        bench_text, docs = case
        bench_grams = _trigrams(bench_text)
        corpus = spark.createDataFrame(docs, "doc_id long, text string")
        bench = spark.createDataFrame(
            [(1000, bench_text)], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: r
            for r in decontam.contamination_report(corpus, bench).collect()
        }
        assert set(got) == {i for i, _ in docs}
        for i, text in docs:
            grams = _trigrams(text)
            r = got[i]
            assert r["n_grams"] == len(grams)
            assert r["n_matched"] == len(grams & bench_grams)
            expect_frac = (
                round(len(grams & bench_grams) / len(grams), 6)
                if grams
                else 0.0
            )
            assert r["contamination_frac"] == pytest.approx(
                expect_frac, abs=1e-9
            )
            assert r["is_contaminated"] == (expect_frac >= 0.5)


@st.composite
def batch_vs_corpus(draw):
    # Texts are either exact replicas of a corpus doc (jaccard 1 —
    # identical minhash signatures, banding recall exactly 1) or
    # trigram-disjoint from every corpus doc (jaccard 0 — the exact
    # verifier kills any stray band collision), so the expected
    # survivor set is deterministic.
    n_corp = draw(st.integers(1, 4))
    corp = []
    for i in range(n_corp):
        toks = draw(st.lists(st.sampled_from(BENCH_TOKENS), min_size=3, max_size=8))
        corp.append((i, " ".join(toks)))
    new = []
    expected_kept = []
    for j in range(draw(st.integers(1, 5))):
        nid = 100 + j
        if draw(st.booleans()):
            src = draw(st.sampled_from(corp))
            new.append((nid, src[1]))  # replica -> dropped
        else:
            toks = draw(st.lists(st.sampled_from(FRESH_TOKENS), min_size=3, max_size=8))
            new.append((nid, " ".join(toks)))
            expected_kept.append(nid)
    return corp, new, expected_kept


class TestIncrementalMinhashProperties:
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(batch_vs_corpus())
    def test_survivors_match_reference(self, spark, case):
        corp_rows, new_rows, expected = case
        corpus = spark.createDataFrame(corp_rows, "doc_id long, text string")
        new = spark.createDataFrame(new_rows, "doc_id long, text string")
        kept = sorted(
            r["doc_id"]
            for r in dedup.incremental_minhash_dedup(
                new, corpus, num_perm=16, bands=4, verify_threshold=0.5
            ).collect()
        )
        assert kept == sorted(expected)


class TestIncrementalExactProperties:
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.tuples(
                st.sampled_from(
                    ["a b c", "A  b C", " a b c ", "d e f", "x", ""]
                ),
            ),
            min_size=1,
            max_size=6,
        ),
        st.sampled_from(["a b c", "unrelated corpus text"]),
    )
    def test_normalization_equivalence_classes(self, spark, texts, corp_text):
        """Exact incremental dedup groups by normalized text: the
        Python reference recomputes the same normalization and min-id
        rule; whitespace/case variants must collapse."""
        new_rows = [(i, t[0]) for i, t in enumerate(texts)]
        corpus = spark.createDataFrame(
            [(999, corp_text)], "doc_id long, text string"
        )
        kept = sorted(
            r["doc_id"]
            for r in dedup.incremental_exact_dedup(
                spark.createDataFrame(new_rows, "doc_id long, text string"),
                corpus,
            ).collect()
        )
        norm = lambda t: " ".join(t.lower().split())  # noqa: E731
        corp_norm = {norm(corp_text)}
        seen: dict[str, int] = {}
        for i, t in new_rows:
            n = norm(t)
            if n in corp_norm:
                continue
            seen.setdefault(n, i)
        assert kept == sorted(seen.values())
