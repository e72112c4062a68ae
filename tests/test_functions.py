"""Function-library tests: SQL registration parity + chunker semantics.

The SQL temp functions must agree exactly with their Column-API
sources (same Catalyst expressions, declared twice), and the two
chunker implementations (Catalyst and UDTF) must be row-identical.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flycatcher_spark import functions as fn

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registered(spark):
    fn.register_sql(spark)
    spark.read.parquet(f"{SF}/documents.parquet").createOrReplaceTempView(
        "fn_documents"
    )
    return spark


class TestSqlRegistration:
    def test_register_returns_all_names(self, registered):
        names = fn.register_sql(registered)  # idempotent (OR REPLACE)
        assert "fc_cosine" in names and "chunk_text" in names

    def test_scalars_match_column_api(self, registered):
        mism = (
            registered.table("fn_documents")
            .select(
                (
                    F.expr("fc_tok_count(text)")
                    != fn.token_count("text").cast("bigint")
                ).alias("a"),
                (
                    F.expr("fc_char_count(text)")
                    != fn.char_count("text").cast("bigint")
                ).alias("b"),
                (F.expr("fc_norm_text(text)") != fn.normalize_text("text")).alias("c"),
                (F.expr("fc_fingerprint(text)") != fn.fingerprint("text")).alias("d"),
                (
                    F.abs(F.expr("fc_digit_ratio(text)") - fn.digit_ratio("text"))
                    > 1e-12
                ).alias("e"),
                (
                    F.abs(F.expr("fc_punct_ratio(text)") - fn.punct_ratio("text"))
                    > 1e-12
                ).alias("f"),
            )
            .filter("a OR b OR c OR d OR e OR f")
            .count()
        )
        assert mism == 0

    def test_vector_functions(self, registered):
        row = registered.sql(
            "SELECT fc_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d, "
            "fc_l2norm(array(3.0D, 4.0D)) AS n, "
            "fc_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c, "
            "fc_cosine(array(0.0D, 0.0D), array(1.0D, 0.0D)) AS z"
        ).collect()[0]
        assert row.d == 11.0 and row.n == 5.0 and row.c == pytest.approx(1.0)
        assert row.z is None  # zero vector -> null, matches similarity.cosine

    def test_sql_scalars_are_catalyst_not_python(self, registered):
        plan = (
            registered.sql("SELECT fc_tok_count(text) AS n FROM fn_documents")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestChunking:
    def test_catalyst_and_udtf_identical(self, registered):
        docs = registered.table("fn_documents").select("doc_id", "text")
        cat = fn.chunk_documents(docs, size=16, overlap=4)
        ud = registered.sql(
            "SELECT doc_id, c.chunk_idx, c.chunk_text, c.n_chunk_tokens "
            "FROM fn_documents, LATERAL chunk_text(text, 16, 4) c"
        )
        assert cat.exceptAll(ud).count() == 0
        assert ud.exceptAll(cat).count() == 0

    def test_every_token_covered_and_strides(self, registered, spark):
        df = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(10)))], ["doc_id", "text"]
        )
        rows = (
            fn.chunk_documents(df, size=4, overlap=2)
            .orderBy("chunk_idx")
            .collect()
        )
        # n=10, size=4, step=2 -> 1 + ceil(6/2) = 4 chunks
        assert [r.chunk_idx for r in rows] == [0, 1, 2, 3]
        assert rows[0].chunk_text == "t0 t1 t2 t3"
        assert rows[1].chunk_text == "t2 t3 t4 t5"
        assert rows[3].chunk_text == "t6 t7 t8 t9"
        covered = set()
        for r in rows:
            covered.update(r.chunk_text.split())
        assert covered == {f"t{i}" for i in range(10)}

    def test_short_doc_single_chunk(self, spark):
        df = spark.createDataFrame([(1, "a b"), (2, "")], ["doc_id", "text"])
        rows = fn.chunk_documents(df, size=32, overlap=8).collect()
        assert len(rows) == 1  # empty doc emits nothing
        assert rows[0].chunk_text == "a b" and rows[0].n_chunk_tokens == 2

    def test_overlap_validation(self, spark):
        df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
        with pytest.raises(ValueError):
            fn.chunk_documents(df, size=8, overlap=8)

    def test_no_python_in_catalyst_chunker(self, registered):
        plan = (
            fn.chunk_documents(
                registered.table("fn_documents").select("doc_id", "text")
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "EvalPython" not in plan
