"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload validate_bulk --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(every end-to-end metric of ``BENCHMARK.json`` with ``--trace 0``, every
per-layer metric with ``--trace 1``). The run writes only under
``.perfbench_work/`` in the current directory; a traced run leaves its
spans there as ``trace-<workload>-<seed>.json``. ``--smoke`` shrinks
every input for a quick functional check.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shlex
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()

#: driver memory for a shared 15 GB host (the older bench.py asks for 16g)
DRIVER_MEMORY = "3g"
#: input generation runs this many times per run and setup_s takes the
#: median; session start, index training and warm-up run once
SETUP_REPEATS = 3


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the timed phase (BENCHMARK.json run_seconds)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs")
    return p.parse_args(argv)


def session_confs(work: str, trace: bool) -> dict[str, str]:
    """Confs added to ``get_spark``'s own: paths inside the work
    directory, and the event log for traced runs."""
    confs = {
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return confs


def start_session(work: str, trace: bool):
    """Session through the library's factory with cores = nproc. Extra
    confs go in as submit arguments: ``get_spark`` takes none."""
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    # executor Python workers import flycatcher_spark too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = f"{work}/tmp"
    for d in ("tmp", "eventlog"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}"
        for k, v in session_confs(work, trace).items()
    ) + " pyspark-shell"
    from flycatcher_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    # show_violations=True logs every violation; keep the run's output clean
    lib_log = logging.getLogger("flycatcher_spark")
    lib_log.addHandler(logging.NullHandler())
    lib_log.propagate = False
    return spark, cpus


def stop_session(spark) -> None:
    """Stop Spark, then wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    from perfbench import meter

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while meter.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def drop_storage(spark) -> int:
    """Count what an op left persisted, then drop it all (bench.py's
    ``drop_all_storage`` plus the library's tracked handles)."""
    from flycatcher_spark import caching

    rdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    leaked = len(rdds) + caching.tracked_count()
    caching.release()
    spark.catalog.clearCache()
    for r in rdds:
        r.unpersist(False)
    return leaked


def new_results() -> dict[str, list]:
    return {"latency": [], "cpu": [], "ok": []}


def run_op(w, i: int, res: dict) -> None:
    """Run op ``i`` into ``res``. The timed region is the op alone; the
    output check and the storage drop run after it."""
    from perfbench import meter
    from perfbench.workloads import clear_outputs

    w.t.op = i
    w.counts = {}
    c0, t0 = meter.tree_cpu_seconds(), time.perf_counter()
    try:
        with w.t.span("op"):
            out = w.op(i)
        dt, cpu = time.perf_counter() - t0, meter.tree_cpu_seconds() - c0
        ok = w.check(i, out)
    except Exception as e:  # an op that raises counts as failed
        print(f"op {i} raised {type(e).__name__}: {e}"[:2000], file=sys.stderr)
        dt, cpu, ok = time.perf_counter() - t0, 0.0, False
    for k, v in w.counts.items():
        res.setdefault(k, []).append(v)
    res.setdefault("caching.leaked_blocks", []).append(drop_storage(w.spark))
    clear_outputs(w.work)
    res["latency"].append(dt)
    res["cpu"].append(cpu)
    res["ok"].append(ok)


def run_loop(w, seconds: float, res: dict, first_op: int) -> int:
    """Closed loop, one client: run ops until ``seconds`` have passed,
    at least one. Returns the next op index."""
    t_stop = time.perf_counter() + seconds
    i = first_op
    while i == first_op or time.perf_counter() < t_stop:
        run_op(w, i, res)
        i += 1
    return i


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "flycatcher_spark")):
        print("run from the repository root: flycatcher_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import meter
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark, cpus = start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        tracer = tr.Tracer(spark.sparkContext)
        w = WORKLOADS[args.workload](spark, tracer, work, args.seed, args.smoke)

        gen_times = []
        for rep in range(SETUP_REPEATS):
            if rep:
                shutil.rmtree(f"{work}/input{rep - 1}")
            g0 = time.perf_counter()
            rows = w.generate(f"{work}/input{rep}")
            gen_times.append(time.perf_counter() - g0)
        gen_s = statistics.median(gen_times)
        t0 = time.perf_counter()
        w.train()
        train_s = time.perf_counter() - t0
        w0 = time.perf_counter()
        warm = new_results()
        for i in range(-w.warmup_ops, 0):
            run_op(w, i, warm)
        warm_s = time.perf_counter() - w0
        setup_s = session_s + gen_s + train_s + warm_s
        print(f"# setup: session {session_s:.2f} s, generate "
              f"{[round(g, 2) for g in gen_times]} s, train {train_s:.2f} s, "
              f"warm-up {warm_s:.2f} s "
              f"(ops {[round(x, 2) for x in warm['latency']]} s)", file=sys.stderr)

        res = new_results()
        steal0 = meter.host_steal_seconds()
        if args.trace:
            with meter.RssSampler() as rss:
                # an untraced half first: the traced run's own overhead
                plain = new_results()
                nxt = run_loop(w, args.seconds / 2, plain, 0)
                tracer.enabled = True
                run_loop(w, args.seconds / 2, res, nxt)
                tracer.enabled = False
        else:
            run_loop(w, args.seconds, res, 0)

        lat = res["latency"]
        print(f"# {args.workload}: cpus={cpus}, rows/op={w.rows_per_op}, "
              f"latencies {[round(x, 3) for x in lat]}, host steal "
              f"{meter.host_steal_seconds() - steal0:.1f} CPU-s", file=sys.stderr)
        if args.trace:
            stop_session(spark)
            spark = None
            metrics = layer_metrics(tracer, res, plain, f"{work}/eventlog")
            metrics.update({
                "process.peak_rss_mb": (rss.peak_mb or meter.tree_rss_mb(), "MB"),
                "session.start_s": (session_s, "s"),
                "sources.generate_s": (gen_s, "s"),
                "sources.rows": (float(rows), "count"),
                "similarity.train_s": (train_s, "s"),
            })
            with open(f"{base}/trace-{args.workload}-{args.seed}.json", "w") as f:
                self_t = tr.self_times(tracer.spans)
                json.dump([dict(vars(s), self_s=self_t[s.id]) for s in tracer.spans], f)
            oks = res["ok"] + plain["ok"]
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "rows_per_s": (w.rows_per_op * len(lat) / sum(lat), "rows/s"),
                "latency_p50_s": (statistics.median(lat), "s"),
                "cpu_s_per_op": (statistics.median(res["cpu"]), "s"),
            }
            oks = res["ok"]
        print(json.dumps({
            "correct": all(oks),
            "attempted": len(oks),
            "failed": len(oks) - sum(oks),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


# ----------------------------------------------------------------------
# traced run: per-layer metrics
# ----------------------------------------------------------------------
#: call-time metric -> span name; a call's time is its span's wall,
#: nested calls included
CALL_METRICS = {
    "base.to_spark_schema_s": "base.to_spark_schema",
    "base.to_spark_validator_s": "base.to_spark_validator",
    "base.to_ddl_s": "base.to_ddl",
    "validate.call_s": "validate.call",
    "validate.action_s": "validate.action",
    "validate.flag_violations_s": "validate.flag_violations",
    "validate.check_unique_s": "validate.check_unique",
    "ddl.read_s": "ddl.read",
    "ddl.write_s": "ddl.write",
    "pydantic.create_model_s": "pydantic.create_model",
    "dedup.exact_dedup_s": "dedup.exact_dedup",
    "dedup.minhash_lsh_pairs_s": "dedup.minhash_lsh_pairs",
    "dedup.verify_pairs_jaccard_s": "dedup.verify_pairs_jaccard",
    "quality.leakage_safe_split_s": "quality.leakage_safe_split",
    "quality.gate_s": "quality.gate",
    "similarity.pq_topk_s": "similarity.pq_topk",
    "retrieval.bm25_topk_s": "retrieval.bm25_topk",
    "retrieval.rrf_fuse_s": "retrieval.rrf_fuse",
}
#: counts a workload reports per op -> unit
COUNT_METRICS = {
    "validate.kept_ratio": "ratio",
    "ddl.files_written": "count",
    "caching.leaked_blocks": "count",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "quality.kept_ratio": "ratio",
    "similarity.recall_at_k": "ratio",
}
_COUNT_UNITS = ("spark.jobs", "spark.stages", "spark.tasks",
                "spark.single_task_stages")


def layer_metrics(tracer, res, plain, log_dir) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the traced ops, each the median over ops of
    its per-op value; a call's time and the bytes written are medians
    over the ops that make the call. A metric no traced op produced
    reports 0."""
    from perfbench import trace as tr

    jobs, stages = tr.read_event_log(log_dir)
    spans = tracer.spans
    self_t = tr.self_times(spans)
    per_op: dict[str, list[float]] = {}

    def add(name: str, value: float) -> None:
        per_op.setdefault(name, []).append(value)

    pyd_s = 0.0
    for root in (s for s in spans if s.name == "op"):
        ids = tr.subtree(spans, root.id)
        mine = [s for s in spans if s.id in ids]
        for metric, name in CALL_METRICS.items():
            calls = [s.wall for s in mine if s.name == name]
            if calls:  # ops that make the call
                add(metric, sum(calls))
        for k, v in tr.engine_metrics(jobs, stages, ids, root.start, root.end).items():
            add(k, v)

        def under(prefix: str) -> set[int]:
            out: set[int] = set()
            for s in mine:
                if s.name.startswith(prefix):
                    out |= tr.subtree(spans, s.id)
            return out

        v = tr.engine_metrics(jobs, stages, under("validate."), root.start, root.end)
        add("validate.jobs", v["spark.jobs"])
        add("validate.input_scans", v["_input_scans"])
        writes = under("ddl.write")
        if writes:
            d = tr.engine_metrics(jobs, stages, writes, root.start, root.end)
            add("ddl.bytes_written", d["spark.output_mb"] * 1e6)
        add("trace.self_coverage", 1.0 - self_t[root.id] / root.wall)
        pyd_s += sum(s.wall for s in mine if s.name == "pydantic.validate_rows")
    pyd_rows = sum(res.get("pydantic.rows", []))

    med = {k: statistics.median(v) for k, v in per_op.items()}
    traced_p50 = statistics.median(res["latency"])
    plain_p50 = statistics.median(plain["latency"])
    out: dict[str, tuple[float, str]] = {
        k: (v, "count" if k in _COUNT_UNITS else "MB" if k.endswith("_mb") else "s")
        for k, v in med.items()
        if k.startswith(("spark.", "python."))
    }
    out.update({m: (med.get(m, 0.0), "s") for m in CALL_METRICS})
    for k, unit in COUNT_METRICS.items():
        vals = res.get(k, [])
        out[k] = (statistics.median(vals) if vals else 0.0, unit)
    out.update({
        "validate.jobs": (med["validate.jobs"], "count"),
        "validate.input_scans": (med["validate.input_scans"], "count"),
        "ddl.bytes_written": (med.get("ddl.bytes_written", 0.0), "bytes"),
        "pydantic.rows_per_s": (pyd_rows / pyd_s if pyd_s else 0.0, "rows/s"),
        "trace.latency_p50_s": (traced_p50, "s"),
        "trace.untraced_latency_p50_s": (plain_p50, "s"),
        "trace.overhead_ratio": (traced_p50 / plain_p50 - 1.0, "ratio"),
        "trace.self_coverage": (med["trace.self_coverage"], "ratio"),
    })
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
