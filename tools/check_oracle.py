"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and the matching
``oracle_sql()`` on DuckDB over the same parquet tables, then
compares row count, column names, and exact cell values
(column-name-sorted, row-sorted) — a stricter stand-in for the
driver's order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def frame_to_rows(df_pandas):
    cols = sorted(df_pandas.columns)
    rows = []
    for t in df_pandas[cols].itertuples(index=False, name=None):
        rows.append(tuple(norm_cell(v) for v in t))
    rows.sort(key=lambda r: tuple((x is None, str(type(x)), x) for x in r))
    return cols, rows


def compare(name, spark_pdf, duck_pdf):
    sc, sr = frame_to_rows(spark_pdf)
    dc, dr = frame_to_rows(duck_pdf)
    problems = []
    if sc != dc:
        problems.append(f"columns differ: spark={sc} duck={dc}")
    else:
        # The driver's value hash is dtype-strict (int64 3 != float64
        # 3.0, and int32 != int64). Replicate that: numeric columns
        # must match on EXACT dtype, not just kind.
        for c in sc:
            sd = spark_pdf[c].dtype
            dd = duck_pdf[c].dtype
            if sd != dd and (sd.kind in "iufb" or dd.kind in "iufb"):
                problems.append(
                    f"dtype differs on {c}: spark={sd} duck={dd}"
                )
    if len(sr) != len(dr):
        problems.append(f"row count: spark={len(sr)} duck={len(dr)}")
    if not problems:
        n_diff = 0
        first = None
        for a, b in zip(sr, dr):
            if a != b:
                # tolerate nothing, but report magnitude for floats
                n_diff += 1
                if first is None:
                    first = (a, b)
        if n_diff:
            problems.append(
                f"{n_diff}/{len(sr)} rows differ; "
                f"first: spark={first[0]} duck={first[1]}"
            )
    return problems


def main():
    args = [a for a in sys.argv[1:]]
    sf_dir = (
        args.pop(0)
        if args and args[0].startswith("/")
        else "/root/testdata/sf0.01"
    )
    only = set(args)

    from flycatcher_spark.session import get_spark

    spark = get_spark(app_name="check_oracle")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    import __spark_entry__ as E

    qs = E.queries()
    oracles = E.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:400]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(spdf)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            dpdf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:400]}")
            n_fail += 1
            continue
        problems = compare(name, sppdf := spdf, dpdf)
        if problems:
            print(f"FAIL {name} ({len(spdf)} spark rows): " + " | ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(spdf)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
