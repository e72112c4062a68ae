"""Measured scaling curves for flagship operators (VERDICT r5 #7).

The 100 TB claims in SCALE.md are design arguments; this tool adds
the measured side: each tracked query runs at sf0.001 / sf0.01 /
sf0.1 under the frozen bench protocol (bench.py: untimed warm run at
the target SF, min over clean noop-sink runs across separated passes
with the r8 external-load sentinel, storage isolation) and
the large-end scaling exponent is recorded:

    alpha = log10( t(sf0.1) / t(sf0.01) )

Reading alpha: 1.0 = linear in data volume; ~0 = fixed overhead
(JVM/plan/stage launch) dominates, common at these tiny SFs; > 1 =
superlinear — shuffle-volume growth explains up to ~1.2, anything
beyond that flags a quadratic corner. The small-end ratio
(sf0.001 -> sf0.01) is recorded too but is almost pure overhead and
not gated.

Run on a QUIET machine (residual executor load inflates the first
half of a run by up to 2x — see the bench-protocol notes in
COVERAGE.md).

Usage:
    python tools/scaling_curves.py            # measure + compare
    python tools/scaling_curves.py --update   # measure + rewrite
                                              #   scaling_curves.json

``tools/gate.py`` compares a fresh measurement against the
checked-in ``scaling_curves.json`` only when SPARK_GRAFT_SCALING=1
(three full bench passes are too heavy for the default gate) and
WARNS when a tracked alpha regresses by more than +0.35.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CURVES_PATH = os.path.join(REPO, "scaling_curves.json")

# Flagship operators spanning the engine's families: LSH banding,
# positional-gram span dedup, iterative clustering, the composed
# curation pipeline, and the ANN composite (train + encode + scan +
# re-rank).
TRACKED = [
    "minhash_pairs",
    "span_dedup",
    "kmeans_clusters",
    "curated_corpus",
    "ivf_rerank_topk",
    # r7 additions: the cross-doc line-frequency shape and the
    # heaviest Arrow decode stage (AVI walk + sampled JPEG decode)
    "line_dedup",
    "video_frames",
    # r8 additions: the iterative graph shape with the per-iteration
    # dangling-mass aggregate, and the write loop (md5-order shard
    # assignment + tar pack + ingest read-back)
    "pagerank_redistribute",
    "webdataset_roundtrip",
    # r9 additions (VERDICT r8 #4/#7): the retrieval stack's two new
    # shuffle-heavy shapes, BOTH robots-gate implementations (the
    # dynamic-vs-compiled pair IS the measured crossover record the
    # r8 verdict asked for), and the two new decode/tokenize stages
    "bm25_search",
    "hybrid_search",
    "robots_gate",
    "robots_gate_compiled",
    "pdf_extract",
    "bpe_bytes_apply",
    # late-r9 additions: the WAT pack-and-read-back shuffle shape and
    # the HTTP envelope-strip hot path (tiff/bmp decode share
    # video_frames' tracked Arrow-decode shape and are not duplicated)
    "wat_roundtrip",
    "http_payloads",
    # r10 additions (VERDICT r9 #2/#6): the mixed video/animation
    # dispatch stage, the full-recall LSH split whose component
    # broadcast is now size-gated, and the new VP8L decode stage
    "media_frames",
    "leakage_safe_split",
    "webp_decode",
    # r11 additions (VERDICT r10 #4): the four uncovered headline
    # families — animated WebP canvas composition, ZIP-shard ingest,
    # and the two >=3s iterative graph queries (measured exponents,
    # not just plan arguments) — plus the new ZIP write loop
    "webp_frames",
    "zip_samples",
    "hits_hosts",
    "pagerank_hosts",
    "zip_roundtrip",
    # late-r11 additions: the single-pass funnel (scan-bound by
    # design — the report must stay O(scan), not O(gates x scan))
    # and the integer priority-sampling TakeOrdered shape
    "quality_funnel",
    "weighted_sample",
    # latest-r11 additions: the sketch shuffle-bound shapes (sketch
    # size is constant, so alpha should track the SCAN, not the
    # register/counter count), the shared bucketized pair join under
    # its new second consumer, and the one-shuffle transcript stats
    "hll_distinct",
    "cms_heavy_hitters",
    "containment_pairs",
    "chat_stats",
]
SFS = ["0.001", "0.01", "0.1"]
ALPHA_REGRESSION = 0.35


def measure() -> dict:
    times: dict[str, dict[str, float]] = {q: {} for q in TRACKED}
    for sf in SFS:
        env = dict(
            os.environ,
            SPARK_GRAFT_SF_DIR=f"/root/testdata/sf{sf}",
            SPARK_GRAFT_BENCH_ONLY=",".join(TRACKED),
        )
        proc = subprocess.run(
            [sys.executable, "bench.py"],
            cwd=REPO,
            env=env,
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr)
            raise SystemExit(f"bench failed at sf{sf} rc={proc.returncode}")
        line = next(
            ln for ln in proc.stdout.strip().splitlines() if ln.startswith("{")
        )
        got = json.loads(line)["queries"]
        for q in TRACKED:
            times[q][sf] = got[q]
    out = {
        "protocol": "bench.py warm + min-of-clean-runs noop-sink (r8 noise-proof)",
        "queries": {},
    }
    for q in TRACKED:
        t = times[q]
        out["queries"][q] = {
            "sec": t,
            "alpha_large": round(math.log10(t["0.1"] / t["0.01"]), 3),
            "ratio_small": round(t["0.01"] / t["0.001"], 3),
        }
    return out


def compare(fresh: dict, base: dict) -> list[str]:
    """Tracked-exponent regressions vs the checked-in curves."""
    bad = []
    for q, rec in fresh["queries"].items():
        b = base.get("queries", {}).get(q)
        if b is None:
            continue
        if rec["alpha_large"] > b["alpha_large"] + ALPHA_REGRESSION:
            bad.append(
                f"{q}: alpha {rec['alpha_large']} vs baseline "
                f"{b['alpha_large']} (+{ALPHA_REGRESSION} allowed)"
            )
    return bad


def main() -> int:
    fresh = measure()
    print(json.dumps(fresh, indent=1))
    if "--update" in sys.argv:
        with open(CURVES_PATH, "w") as f:
            json.dump(fresh, f, indent=1)
            f.write("\n")
        print(f"wrote {CURVES_PATH}")
        return 0
    if os.path.exists(CURVES_PATH):
        with open(CURVES_PATH) as f:
            base = json.load(f)
        bad = compare(fresh, base)
        if bad:
            print(f"SCALING WARNING: {bad}")
            return 1
        print("scaling exponents OK vs scaling_curves.json")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
