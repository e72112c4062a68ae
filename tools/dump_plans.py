"""Dump ``.explain("formatted")`` for headline queries to a plans directory.

Usage: python tools/dump_plans.py <suffix> [query ...]

``suffix`` is ``before`` or ``after``; with no query names, every
bench HEADLINE query is dumped. Output: <plans dir>/<query>_<suffix>.txt,
on-demand evidence for a plan claim. The plans directory is
$SPARK_GRAFT_PLANS_DIR, default the untracked ``plans/`` at the repo
root; the plan-shape tests use ``flycatcher_spark.plans``'s
assertions instead.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
OUT_DIR = os.environ.get("SPARK_GRAFT_PLANS_DIR", os.path.join(REPO, "plans"))


def main() -> int:
    args = [a for a in sys.argv[1:]]
    if not args or args[0] not in ("before", "after"):
        raise SystemExit("usage: dump_plans.py before|after [query ...]")
    suffix = args.pop(0)
    only = set(args)

    import __spark_entry__ as E
    import bench
    from flycatcher_spark.session import get_spark

    spark = get_spark(app_name="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")

    os.makedirs(OUT_DIR, exist_ok=True)
    names = [q for q in bench.HEADLINE if not only or q in only]
    # allow non-headline registry queries when named explicitly
    names += [q for q in only if q not in names and q in E.queries()]
    qs = E.queries()
    for name in names:
        try:
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 - keep dumping the rest
            plan = f"ERROR {type(e).__name__}: {e}\n"
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
