"""Compute-bound scaling measurement (optimization round 16, verdict
item 2): time a query list on a SCALED multi-file fixture (see
tools/make_scale_fixture.py) at two core counts in separate processes
(local[N] is static per JVM), and record the per-query low/high-core
ratio.  At sf0.1's single-file fixtures the r15 driver measured EVERY
query FASTER on 8 cores than 32 (scheduler-bound); this artifact is
the measurement point where parallelism must pay: ratio_8_over_32 > 1.

    python tools/scale_cpu_ab.py --sf /root/scaledata/x8 \
        --out SCALE_r16_c32_vs_c8.json [--reps 3] [q ...]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_QUERIES = [
    # the r15/r16 touched families (LSH/verify, funnel, IVF, BPE,
    # genomics, sketch) plus two untouched controls
    "q_minhash_lsh",
    "q_ngram_jaccard",
    "q_dedup_keep",
    "q_drop_reasons",
    "q_ann_ivf",
    "q_semdedup_keep",
    "q_bpe_encode",
    "q_bpe_encode_chars",
    "q_gx_cohort",
    "q_kmv_rollup_incremental",
    "q_lm_perplexity",
    "q_dsir_weights",
    "q01_pricing_summary",
    "q_token_topk",
]

def run_at(cpus: int, sf: str, queries: list[str], reps: int) -> dict:
    """One process at `cpus` cores: tools/qbench.py's noop-sink reps of
    every query, read back as {query: [rep seconds]}."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_SF_DIR=sf)
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "reps.jsonl")
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "qbench.py"),
             "--reps", str(reps), "--sf", sf, "--json", out, *queries],
            env=env, capture_output=True, text=True,
        )
        if proc.returncode != 0 or not os.path.exists(out):
            raise RuntimeError(
                f"qbench cpus={cpus} failed:\n{proc.stdout[-2000:]}\n"
                f"{proc.stderr[-2000:]}"
            )
        with open(out) as fh:
            results = json.loads(fh.readline())["results"]
    return {name: results[name]["reps"] for name in queries}


def med(xs: list[float]) -> float:
    return sorted(xs)[len(xs) // 2]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--sf", default="/root/scaledata/x8")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--high", type=int, default=32)
    ap.add_argument("--low", type=int, default=8)
    ap.add_argument("--out", default="SCALE_r16_c32_vs_c8.json")
    args = ap.parse_args()
    queries = args.queries or DEFAULT_QUERIES

    # interleave the two core counts at process grain: high, low,
    # low, high — so slow box drift cancels at the pair level
    runs = {"high": [], "low": []}
    for label, cpus in (
        ("high", args.high), ("low", args.low),
        ("low", args.low), ("high", args.high),
    ):
        runs[label].append(run_at(cpus, args.sf, queries, args.reps))
        print(f"pass done: {label} ({cpus} cores)", flush=True)

    report = {
        "sf_dir": args.sf,
        "cpus_high": args.high,
        "cpus_low": args.low,
        "reps_per_pass": args.reps,
        "passes_per_arm": 2,
        "per_query": {},
    }
    n_parallel_wins = 0
    for name in queries:
        hi = [r for p in runs["high"] for r in p[name]]
        lo = [r for p in runs["low"] for r in p[name]]
        ratio = round(med(lo) / med(hi), 3)
        n_parallel_wins += ratio > 1
        report["per_query"][name] = {
            f"c{args.high}_secs": hi,
            f"c{args.low}_secs": lo,
            f"c{args.high}_median": med(hi),
            f"c{args.low}_median": med(lo),
            "ratio_low_over_high": ratio,
        }
    report["n_queries"] = len(queries)
    report["n_parallel_wins"] = n_parallel_wins
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({k: v for k, v in report.items() if k != "per_query"}))
    for name, d in report["per_query"].items():
        print(name, d["ratio_low_over_high"])


if __name__ == "__main__":
    main()
