"""Per-query job/stage profiler: runs headline queries with the Spark
event log enabled, then reports wall time, #jobs, #stages, #tasks and
the per-job breakdown — the measurement layer for the optimization
rounds (guide §1: decide whether time goes to job-round overhead,
shuffle rounds, or per-task compute before touching anything).

Usage: python tools/profile_queries.py [sf_dir] query [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")


def main() -> int:
    args = list(sys.argv[1:])
    sf_dir = args.pop(0) if args and args[0].startswith("/") else "/root/testdata/sf0.1"
    if not args:
        raise SystemExit("usage: profile_queries.py [sf_dir] query ...")

    evdir = tempfile.mkdtemp(prefix="spark-ev-")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    from flycatcher_spark.session import CODEGEN_CACHE_ENTRIES

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", evdir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .appName("profile_queries")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    import __spark_entry__ as E
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.functions import pandas_udf

    _warm = pandas_udf(lambda s: s, "long")
    spark.range(1000).repartition(int(cpus)).select(_warm(F.col("id"))).count()
    qs = E.queries()

    def run_full(df):
        df.write.format("noop").mode("overwrite").save()

    def drop_all_storage():
        spark.catalog.clearCache()
        for r in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            r.unpersist(False)

    spans = []
    for name in args:
        # warm once (codegen/plan compile), then time
        try:
            run_full(qs[name](spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"{name}: warm FAILED {e}")
            continue
        drop_all_storage()
        t0 = time.time()
        run_full(qs[name](spark, sf_dir))
        t1 = time.time()
        drop_all_storage()
        spans.append((name, t0 * 1000, t1 * 1000, t1 - t0))

    spark.stop()

    # parse the event log
    evfile = os.path.join(evdir, app_id)
    if not os.path.exists(evfile):
        cand = [p for p in os.listdir(evdir)]
        if not cand:
            raise SystemExit(f"no event log in {evdir} (app {app_id})")
        evfile = os.path.join(evdir, sorted(cand)[0])
    if os.path.isdir(evfile):
        # Spark 4 rolling event log: eventlog_v2_<appid>/events_*
        parts = sorted(
            os.path.join(evfile, p)
            for p in os.listdir(evfile)
            if p.startswith("events_")
        )
    else:
        parts = [evfile]
    jobs = {}     # id -> (t_submit, t_end)
    stages = {}   # id -> (submit, complete, ntasks, name)
    import itertools

    def _lines():
        for p in parts:
            with open(p) as f:
                yield from f

    for line in _lines():
        if True:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            k = ev.get("Event")
            if k == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = [ev["Submission Time"], None]
            elif k == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][1] = ev["Completion Time"]
            elif k == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = (
                    si.get("Submission Time"),
                    si.get("Completion Time"),
                    si.get("Number of Tasks"),
                    si.get("Stage Name", ""),
                )

    for name, t0, t1, wall in spans:
        js = {j: v for j, v in jobs.items() if v[0] and t0 <= v[0] <= t1}
        st = {
            s: v for s, v in stages.items()
            if v[0] and t0 <= v[0] <= t1
        }
        ntasks = sum(v[2] or 0 for v in st.values())
        jspan = sum((v[1] - v[0]) / 1000 for v in js.values() if v[1])
        gaps = 0.0
        prev_end = t0
        for j, v in sorted(js.items(), key=lambda kv: kv[1][0]):
            gaps += max(0.0, (v[0] - prev_end) / 1000)
            prev_end = max(prev_end, v[1] or v[0])
        print(
            f"{name}: wall={wall:.2f}s jobs={len(js)} stages={len(st)} "
            f"tasks={ntasks} in-job={jspan:.2f}s driver-gaps={gaps:.2f}s"
        )
        for j, v in sorted(js.items(), key=lambda kv: kv[1][0]):
            dur = (v[1] - v[0]) / 1000 if v[1] else -1
            jst = [
                (s, x) for s, x in st.items()
                if v[0] <= (x[0] or 0) <= (v[1] or v[0])
            ]
            det = "; ".join(
                f"s{s}:{(x[1]-x[0])/1000:.2f}s/{x[2]}t[{(x[3] or '').splitlines()[0][:70]}]"
                for s, x in sorted(jst)
            )
            print(f"    job{j}: {dur:.2f}s  [{det}]")
    print(f"# event log: {evfile}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
