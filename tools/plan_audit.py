"""Physical-plan audit across every registered query.

Prints one line per query — shuffles, join strategies, Python eval
nodes, scan pushdown — and flags the scale anti-patterns the repo
bans: BroadcastNestedLoopJoin, unpartitioned windows, row-at-a-time
Python UDFs (BatchEvalPython; Arrow kernels are allowed and listed),
and scans with no column pruning. Writes the table to PLANS.md when
run with --write.

Usage: python tools/plan_audit.py [--write] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"

# BroadcastNestedLoopJoin is banned by default; these queries use it
# deliberately, in the two benign shapes: a broadcast 1-row scalar
# (subquery threshold / corpus size / bounds) joined onto a big side
# (linear, not quadratic), or an intentionally-broadcast small dim
# for an exact-baseline n^2 on bounded data.
KNOWN_BNLJ = {
    "knn_topk": (
        "broadcast query set vs corpus: exact brute-force baseline (linear in corpus)"
    ),
    "contrastive_pairs": (
        "knn_topk's broadcast-anchors brute scan (oracle arm; production mines from "
        "the IVF shortlist, impl='ivf')"
    ),
    "pq_topk": (
        "broadcast query set vs compressed code scan: ADC is linear in corpus (same "
        "shape as knn_topk, 8-32x less data)"
    ),
    "pq_rerank_topk": (
        "pq_topk's broadcast-queries ADC scan + broadcast shortlist rerank (r10 oracle"
        " arm; linear in corpus)"
    ),
    "ann_recall": (
        "recall report joins the brute-force baseline (same shape as knn_topk)"
    ),
    "nearest_centroid": "one-row broadcast of all centroids",
    "doc_tfidf_top3": "one-row broadcast corpus-size aggregate",
    "events_gapfill": "one-row broadcast min/max bounds for the time spine",
    "q11_important_parts": "one-row broadcast scalar threshold (value fraction)",
    "q22_dormant_customers": "one-row broadcast scalar avg(acctbal) subquery",
    "name_editdist_pairs": (
        "documented broadcast n^2 on the small supplier dim (short-key fuzzy dedup)"
    ),
    "unigram_surprise": "one-row broadcast corpus token total (LM denominator)",
    "bm25_search": (
        "one-row broadcast corpus stats (N, avgdl — the BM25 normalizers; same shape "
        "as unigram_surprise)"
    ),
    "hybrid_search": (
        "one-row broadcast BM25 corpus stats + the knn_topk broadcast-queries exact "
        "baseline (both whitelisted shapes, composed)"
    ),
    "bigram_surprise": (
        "one-row broadcast corpus token total (unigram backoff denominator; same shape"
        " as unigram_surprise)"
    ),
    "ccnet_buckets": (
        "one-row broadcasts: LM token total (unigram_surprise stage) + the percentile-"
        "threshold row"
    ),
    "mixture_sample": "one-row broadcast temperature-weight denominator",
    "curated_corpus": (
        "one-row broadcasts inherited from unigram/mixture stages (LM total, rate "
        "denominator)"
    ),
    "dsir_sample": "one-row broadcast LM token totals (target + corpus denominators)",
    "payload_embed_knn": (
        "broadcast query set vs corpus: exact brute-force baseline (same shape as "
        "knn_topk)"
    ),
    "corpus_divergence": (
        "one-row broadcast token totals (both corpora's LM denominators)"
    ),
    "langid_profiles": (
        "broadcast of the tiny language list (docs x langs score matrix; langs is "
        "single digits)"
    ),
}


def audit():
    from flycatcher_spark import plans
    from flycatcher_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark(app_name="plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    only = {a for a in sys.argv[1:] if not a.startswith("-")}
    rows = []
    for name, fn in E.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, SF_DIR)
            rep = plans.plan_report(df)
        except Exception as e:  # noqa: BLE001 - audit must not die mid-table
            rows.append((name, None, f"ERROR {type(e).__name__}: {str(e)[:80]}"))
            continue
        flags = []
        if rep.nested_loop_joins:
            flags.append(
                "bnlj-known" if name in KNOWN_BNLJ else "BNLJ-UNEXPECTED"
            )
        if any("BatchEvalPython" in n for n in rep.python_nodes):
            flags.append("ROW-PYTHON")
        partitioned = r"Window \[[^\]]*\bwindowspecdefinition\(\s*[a-z]"
        if re.search(partitioned, rep.plan) is None and "Window" in rep.plan:
            # Window node with an empty partition spec = single task
            if re.search(r"windowspecdefinition\([^,)]*\bORDER\b", rep.plan):
                flags.append("GLOBAL-WINDOW?")
        arrow = sum(
            "Arrow" in n or "MapInPandas" in n or "FlatMapGroupsInPandas" in n
            for n in rep.python_nodes
        )
        rows.append(
            (
                name,
                rep,
                " ".join(flags) if flags else "ok",
                arrow,
            )
        )
    spark.stop()
    return rows


def main() -> int:
    rows = audit()
    lines = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        f"Generated by `python tools/plan_audit.py --write` at sf0.001; "
        f"{len(rows)} queries. `arrow` counts Arrow-batched Python "
        "kernels (allowed); `bnlj-known` marks the deliberate "
        "1-row-scalar / broadcast-baseline nested-loop joins listed "
        "with justifications in tools/plan_audit.py; banned shapes "
        "would show BNLJ-UNEXPECTED / ROW-PYTHON / GLOBAL-WINDOW?.",
        "",
        "| query | shuffles | bhj | smj | bnlj | arrow | flags |",
        "|---|---|---|---|---|---|---|",
    ]
    bad = 0
    for row in rows:
        if row[1] is None:
            lines.append(f"| {row[0]} | - | - | - | - | - | {row[2]} |")
            bad += 1
            continue
        name, rep, flags, arrow = row
        if flags not in ("ok", "bnlj-known"):
            bad += 1
        lines.append(
            f"| {name} | {rep.n_shuffles} | {rep.broadcast_hash_joins} "
            f"| {rep.sort_merge_joins} | {rep.nested_loop_joins} "
            f"| {arrow} | {flags} |"
        )
    out = "\n".join(lines) + "\n"
    print(out)
    if "--write" in sys.argv:
        with open(os.path.join(REPO, "PLANS.md"), "w") as f:
            f.write(out)
        print(f"wrote PLANS.md ({bad} flagged)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
