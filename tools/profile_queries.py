"""Per-query job/stage profiler: runs registered queries with the Spark
event log enabled, then reports wall time, jobs, stages, tasks, in-job
vs driver-gap time, executor CPU, shuffle and spill per query, and the
per-job breakdown (duration, tasks per stage). It decides whether a
query's time goes to job-round overhead, shuffle rounds or per-task
compute before anything is optimized. ``py4j=<n>`` is the number of
Python→JVM commands the driver sent during the timed run, a part of
its driver gaps; the tool counts them by wrapping py4j's
``ClientServerConnection.send_command`` for the run, not the library.

The session, span tracer and event-log reader are ``perfbench``'s: each
query gets one untimed warm run, then one timed noop-sink run inside a
span, and the jobs carrying that span's id are its jobs.

Usage: python tools/profile_queries.py [sf_dir] query [query ...]
"""

from __future__ import annotations

import contextlib
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_full(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def counting_py4j(counts: list[int]):
    """Append the number of Python→JVM commands sent inside the block."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    sent = 0

    def counting(self, command, *args, **kwargs):
        nonlocal sent
        sent += 1
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        yield
    finally:
        ClientServerConnection.send_command = send
        counts.append(sent)


def main() -> int:
    # perfbench.run puts the working directory on the Python workers' path
    os.chdir(REPO)
    args = list(sys.argv[1:])
    sf_dir = args.pop(0) if args and args[0].startswith("/") else "/root/testdata/sf0.1"
    if not args:
        raise SystemExit("usage: profile_queries.py [sf_dir] query ...")

    import __spark_entry__ as E
    from perfbench import run
    from perfbench import trace as tr

    qs = E.queries()
    with tempfile.TemporaryDirectory(prefix="profile-queries-") as work:
        spark, _ = run.start_session(work, trace=True)
        tracer = tr.Tracer(spark.sparkContext)
        tracer.enabled = True
        py4j: list[int] = []  # commands per timed run, in span order
        try:
            for name in args:
                try:  # warm once: codegen and plan compile
                    run_full(qs[name](spark, sf_dir))
                except Exception as e:  # noqa: BLE001 - profile the rest
                    print(f"{name}: warm FAILED {e}")
                    continue
                run.drop_storage(spark)
                with tracer.span(name), counting_py4j(py4j):
                    run_full(qs[name](spark, sf_dir))
                run.drop_storage(spark)
        finally:
            run.stop_session(spark)
        jobs, stages = tr.read_event_log(f"{work}/eventlog")

    for s, commands in zip(tracer.spans, py4j):
        m = tr.engine_metrics(jobs, stages, {s.id}, s.start, s.end)
        print(
            f"{s.name}: wall={s.wall:.2f}s jobs={m['spark.jobs']:.0f} "
            f"stages={m['spark.stages']:.0f} tasks={m['spark.tasks']:.0f} "
            f"in-job={m['spark.job_s']:.2f}s "
            f"driver-gaps={m['spark.driver_gap_s']:.2f}s py4j={commands} "
            f"executor-cpu={m['spark.executor_cpu_s']:.2f}s "
            f"shuffle-write={m['spark.shuffle_write_mb']:.1f}MB "
            f"shuffle-read={m['spark.shuffle_read_mb']:.1f}MB "
            f"spill={m['spark.spill_mb']:.1f}MB"
        )
        mine = [j for j in jobs.values() if j.span == s.id]
        for j in sorted(mine, key=lambda j: j.start):
            det = "; ".join(
                f"s{sid}:{stages[sid].tasks}t"
                for sid in sorted(j.stages)
                if sid in stages
            )
            print(f"    job{j.id}: {j.end - j.start:.2f}s  [{det}]")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
