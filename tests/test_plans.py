"""Plan-inspection tests: the report must see what explain() shows."""

from __future__ import annotations

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flycatcher_spark import Field, Schema, plans

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


class TestPlanReport:
    def test_validation_is_shuffle_free_with_pushdown(self, lineitem):
        class L(Schema):
            l_orderkey: int = Field(ge=1)
            l_quantity: float = Field(gt=0)

        good = L.to_spark_validator().validate(lineitem, strict=False)
        r = plans.assert_no_shuffle(good)
        plans.assert_pushed_filters(good)
        plans.assert_jvm_only(good)
        assert r.codegen_stages >= 1
        assert r.scans and r.scans[0]["format"] == "parquet"

    def test_groupby_counts_a_shuffle(self, lineitem):
        agg = lineitem.groupBy("l_returnflag").count()
        r = plans.plan_report(agg)
        assert r.n_shuffles >= 1

    def test_broadcast_join_detected(self, lineitem, orders):
        j = lineitem.join(
            F.broadcast(orders.select("o_orderkey")),
            lineitem.l_orderkey == orders.o_orderkey,
        )
        r = plans.plan_report(j)
        assert r.broadcast_hash_joins == 1 and r.n_broadcasts == 1
        assert r.sort_merge_joins == 0

    def test_nested_loop_join_flagged(self, lineitem, orders):
        j = lineitem.limit(10).join(
            orders.limit(10),
            lineitem.l_extendedprice > orders.o_totalprice,
        )
        r = plans.plan_report(j)
        assert r.nested_loop_joins >= 1

    def test_python_node_detected(self, lineitem, spark):
        def ident(it):
            for pdf in it:
                yield pdf

        mapped = lineitem.select("l_orderkey").mapInPandas(
            ident, "l_orderkey bigint"
        )
        r = plans.plan_report(mapped)
        assert r.python_nodes
        with pytest.raises(AssertionError):
            plans.assert_jvm_only(mapped)

    def test_assert_no_shuffle_raises_on_agg(self, lineitem):
        with pytest.raises(AssertionError, match="shuffle-free"):
            plans.assert_no_shuffle(lineitem.groupBy("l_returnflag").count())

    def test_summary_readable(self, lineitem):
        s = plans.plan_report(lineitem.filter("l_orderkey = 3")).summary()
        assert "scan parquet" in s and "pushed=" in s


class TestQueryPlanQuality:
    """Scale guarantees of the registered queries: the properties the
    100 TB design depends on must be visible in the physical plan."""

    def test_pii_and_sampling_are_map_only(self, spark):
        import __spark_entry__ as E

        for q in ("pii_redaction", "stratified_sample"):
            df = E.queries()[q](spark, SF)
            plans.assert_no_shuffle(df)
            plans.assert_jvm_only(df)

    def test_q15_has_no_unpartitioned_window(self, spark):
        import __spark_entry__ as E

        df = E.queries()["q15_top_supplier"](spark, SF)
        pl = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in pl  # scalar max is a broadcast join

    def test_repetition_kernel_is_shuffle_free(self, spark):
        import __spark_entry__ as E

        # default impl: row-local Arrow kernel — no joins, and no
        # gram-keyed shuffles. The ONE allowed exchange is the
        # ensure_min_parallelism widening repartition (r4), which
        # exists only because the test corpus is a single parquet
        # split; it is a repartition of the scan, not aggregation.
        rep = plans.plan_report(E.queries()["doc_repetition"](spark, SF))
        assert rep.n_shuffles <= 1
        assert rep.broadcast_hash_joins + rep.sort_merge_joins == 0

    def test_repetition_sql_path_joins_broadcast(self, spark):
        from flycatcher_spark.operators import text

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        rep = plans.plan_report(
            text.repetition_profile(docs, ns=(2,), impl="sql")
        )
        assert rep.nested_loop_joins == 0
        # gram pipeline re-joins the base on id: broadcast, not SMJ
        assert rep.broadcast_hash_joins >= 1

    def test_lsh_signature_stage_is_arrow(self, spark):
        from flycatcher_spark.operators import similarity

        em = spark.read.parquet(f"{SF}/embeddings.parquet").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        res = similarity.lsh_bucketed_topk(em, k=2, dim=64, n_bits=8)
        rep = plans.plan_report(res)
        # numpy default: signatures via ArrowEvalPython, not interpreted folds
        assert any("Arrow" in n for n in rep.python_nodes)


class TestEnsureMinParallelism:
    def test_aggregated_input_runs_no_job(self, spark, lineitem):
        """An aggregate's partition count exists only after AQE runs
        its shuffle; the guard must not run that shuffle in a job of
        its own (the caller's action would run it again)."""
        agg = lineitem.groupBy("l_returnflag").count()
        sc = spark.sparkContext
        sc.setJobGroup("ensure_min_parallelism", "guard probe")
        try:
            out = plans.ensure_min_parallelism(agg, min_partitions=64)
            jobs = sc.statusTracker().getJobIdsForGroup("ensure_min_parallelism")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(jobs) == []
        assert out is agg  # post-shuffle width is AQE's to choose

    def test_scan_input_keeps_widening(self, lineitem):
        n = lineitem.rdd.getNumPartitions()
        assert plans.ensure_min_parallelism(lineitem, min_partitions=n) is lineitem
        widened = plans.ensure_min_parallelism(
            lineitem, min_partitions=n + 3, key="l_orderkey"
        )
        rep = plans.plan_report(widened)
        assert rep.n_shuffles == 1
        assert re.search(rf"hashpartitioning\(l_orderkey#\d+L?, {n + 3}\)", rep.plan)
