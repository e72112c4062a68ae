"""The workloads. Each drives the library only through public
calls, wraps every call in a ``<layer>.<call>`` span, and checks every
op's output against the generator's ground truth.

A workload has two phases: ``generate`` (inputs from the seed, to
parquet) and ``op`` (one timed pipeline invocation), followed by an
untimed ``check`` of the op's output.
"""

from __future__ import annotations

import glob
import shutil

from pydantic import ValidationError
from pyspark.sql import functions as F

from flycatcher_spark.generators import ddl
from flycatcher_spark.generators.pydantic import create_pydantic_model
from flycatcher_spark.operators import dedup, quality, retrieval, similarity

from . import inputs
from .inputs import LineitemSchema


class Workload:
    name = ""
    #: input rows one op processes
    rows_per_op = 0
    #: ops run untimed during setup
    warmup_ops = 1

    def __init__(self, spark, tracer, work: str, seed: int, smoke: bool) -> None:
        self.spark = spark
        self.t = tracer
        self.work = work
        self.seed = seed
        self.smoke = smoke
        self.counts: dict[str, float] = {}

    def generate(self, path: str) -> int:
        """Write inputs under ``path``; returns rows generated."""
        raise NotImplementedError

    def train(self) -> None:
        """Build, once per run, the index the ops search; none by default."""

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, result) -> bool:
        raise NotImplementedError

    def out(self, i: int, name: str) -> str:
        return f"{self.work}/out/op{i}/{name}"


# ----------------------------------------------------------------------
def compile_schema(t):
    """The schema's compile steps, as a caller runs them per pipeline."""
    with t.span("base.to_spark_schema"):
        LineitemSchema.to_spark_schema()
    with t.span("base.to_ddl"):
        LineitemSchema.to_ddl()
    with t.span("base.to_spark_validator"):
        return LineitemSchema.to_spark_validator()


def quarantine(t, v, df, path: str) -> None:
    """Route the rows that fail any check to ``path``."""
    with t.span("validate.flag_violations"):
        flagged = v.flag_violations(df)
        with t.span("ddl.write"):
            ddl.write(flagged.where(F.size("_violations") > 0), path, mode="overwrite")


def recheck_samples(t, v, counts: dict) -> tuple[int, int]:
    """Re-check the violation sample rows with the schema's pydantic
    model; returns (rows checked, rows rejected)."""
    samples = [r for c in v.last_violations for r in c["rows"] or []]
    with t.span("pydantic.create_model"):
        model = create_pydantic_model(LineitemSchema)
    rejected = 0
    with t.span("pydantic.validate_rows"):
        for row in samples:
            try:
                model(**row.asDict())
            except ValidationError:
                rejected += 1
    counts["pydantic.rows"] = len(samples)
    return len(samples), rejected


def count_rows(spark, path: str) -> int:
    return spark.read.parquet(path).count()


# ----------------------------------------------------------------------
class ValidateBulk(Workload):
    name = "validate_bulk"
    #: the first few ops after session start keep speeding up (JIT)
    warmup_ops = 4


    def generate(self, path: str) -> int:
        rows = 20_000 if self.smoke else 150_000
        self.path = f"{path}/lineitem"
        parts = self.spark.sparkContext.defaultParallelism
        self.truth = inputs.lineitem_bulk(self.seed, self.path, rows, parts)
        self.rows_per_op = rows
        return rows

    def op(self, i: int):
        t = self.t
        with t.span("ddl.read"):
            df = ddl.read(self.spark, LineitemSchema, self.path)
        v = compile_schema(t)
        with t.span("validate.call"):
            kept = v.validate(df, strict=False, show_violations=True)
        with t.span("validate.action"), t.span("ddl.write"):
            ddl.write(kept, self.out(i, "kept"), mode="overwrite")
        quarantine(t, v, df, self.out(i, "quarantine"))
        with t.span("validate.check_unique"):
            dups = v.check_unique(kept)
        samples = recheck_samples(t, v, self.counts)
        return {c["constraint"]: c["count"] for c in v.last_violations}, dups, samples

    def check(self, i: int, result) -> bool:
        violations, dups, (samples, rejected) = result
        kept = count_rows(self.spark, self.out(i, "kept"))
        bad = count_rows(self.spark, self.out(i, "quarantine"))
        self.counts["validate.kept_ratio"] = kept / self.truth["rows"]
        self.counts["ddl.files_written"] = sum(
            len(glob.glob(self.out(i, f"{d}/*.parquet"))) for d in ("kept", "quarantine")
        )
        return (
            violations == self.truth["violations"]
            and kept == self.truth["kept"]
            and bad == self.truth["quarantined"]
            and kept + bad == self.truth["rows"]
            and dups == {"l_id": self.truth["duplicate_ids"]}
            and 0 < samples == rejected
        )


# ----------------------------------------------------------------------
class CurateSearch(Workload):
    """The LLM-data chain over one seeded corpus: curation (exact dedup,
    MinHash candidates, exact-Jaccard verification, leakage-safe split,
    Gopher gate), then one batch of hybrid search over an index whose
    PQ codebooks are trained in setup. Every stage writes its output to
    parquet and the next reads it back, as a staged pipeline does; each
    stage's jobs then belong to its own call."""

    name = "curate_search"
    #: recall@k of the reranked PQ search against brute force
    RECALL_FLOOR = 0.9
    K = 10

    def generate(self, path: str) -> int:
        n_base, n_junk, n_clusters = (300, 20, 30) if self.smoke else (1000, 60, 100)
        self.path = path
        self.truth = inputs.corpus(self.seed, path, n_base, n_junk, n_clusters, 20,
                                   k=self.K)
        self.index = self.spark.read.parquet(f"{path}/index.parquet")
        self.rows_per_op = self.truth["docs"]
        return self.truth["docs"] + n_base

    def train(self) -> None:
        # 64 codes per subspace: 256 would leave most codes near-empty
        # over a thousand vectors
        self.books = similarity.train_pq_codebooks(self.index, n_codes=64, seed=self.seed)

    def op(self, i: int):
        t, spark = self.t, self.spark

        def stage(span: str, name: str, build):
            with t.span(span):
                df = build()
                df.write.mode("overwrite").parquet(self.out(i, name))
                # the known schema spares a schema-inference job per read
                return spark.read.schema(df.schema).parquet(self.out(i, name))

        docs = spark.read.parquet(f"{self.path}/docs.parquet")
        kept = stage("dedup.exact_dedup", "survivors",
                     lambda: dedup.exact_dedup(docs, subset=["text"]))
        cands = stage("dedup.minhash_lsh_pairs", "candidates",
                      lambda: dedup.minhash_lsh_pairs(kept))
        pairs = stage("dedup.verify_pairs_jaccard", "verified",
                      lambda: dedup.verify_pairs_jaccard(cands, kept, hashed=True))
        stage("quality.leakage_safe_split", "split",
              lambda: quality.leakage_safe_split(kept, pairs))
        stage("quality.gate", "gated",
              lambda: kept.where(quality.gopher_pass("text")).select("doc_id"))

        queries = spark.read.parquet(f"{self.path}/queries.parquet")
        vec = stage("similarity.pq_topk", "pq", lambda: similarity.pq_topk(
            self.index, queries, k=self.K, id_col="doc_id", query_id_col="query_id",
            codebooks=self.books, rerank=4))
        lex = stage("retrieval.bm25_topk", "bm25",
                    lambda: retrieval.bm25_topk(self.index, queries, k=self.K))
        stage("retrieval.rrf_fuse", "fused", lambda: retrieval.rrf_fuse(
            [r.select("query_id", "doc_id", "rank") for r in (vec, lex)], k=self.K))

    def check(self, i: int, result) -> bool:
        truth = self.truth

        def rows(name: str) -> list:
            return self.spark.read.parquet(self.out(i, name)).collect()

        def ranked(name: str) -> dict[int, set[int]]:
            out: dict[int, set[int]] = {}
            for r in rows(name):
                out.setdefault(r.query_id, set()).add(r.doc_id)
            return out

        survivors = sorted(r.doc_id for r in rows("survivors"))
        n_cands, n_pairs = (len(rows(n)) for n in ("candidates", "verified"))
        split = rows("split")
        components: dict[int, list[int]] = {}
        for r in split:
            components.setdefault(r.component, []).append(r.doc_id)
        side = {r.doc_id: r.split for r in split}
        near = truth["near_clusters"]
        gated = len(rows("gated"))
        vec, lex, fused = ranked("pq"), ranked("bm25"), ranked("fused")
        recall = sum(len(vec.get(q, set()) & top) for q, top in truth["topk"].items()) / (
            self.K * len(truth["topk"]))
        self.counts.update({
            "dedup.candidate_pairs": n_cands,
            "dedup.verified_pairs": n_pairs,
            "dedup.verify_yield": n_pairs / n_cands if n_cands else 0.0,
            "quality.kept_ratio": gated / len(survivors),
            "similarity.recall_at_k": recall,
        })
        return (
            survivors == truth["survivors"]
            and sorted(sorted(c) for c in components.values() if len(c) > 1) == near
            and all(len({side[d] for d in c}) == 1 for c in near)
            and gated == truth["gate_kept"]
            and recall >= self.RECALL_FLOOR
            and all(truth["target"][q] in lex.get(q, set()) for q in truth["target"])
            and all(truth["target"][q] in fused.get(q, set()) for q in truth["target"])
        )


WORKLOADS = {w.name: w for w in (ValidateBulk, CurateSearch)}


def clear_outputs(work: str) -> None:
    shutil.rmtree(f"{work}/out", ignore_errors=True)
