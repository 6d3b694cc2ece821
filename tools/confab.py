"""Interleaved A/B of a runtime SQL conf over the query registry.

For each query, alternate reps between the baseline conf value (arm A)
and the candidate value (arm B) INSIDE one session — same JVM warmth,
same box state, so session drift cancels (the methodology the round-15
per-operator A/Bs use).  Each rep is a query-runner run (build +
execute) with the noop sink as its action (guide §1.4).

Usage:
  python tools/confab.py --conf spark.sql.join.preferSortMergeJoin \
      --a true --b false [--cycles 2] [--sf DIR] [--queries q1 q2 ...]

Prints per-query (A-reps, B-reps, medians, delta) and arm totals, and
appends JSON to --json if given.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--conf", required=True)
    ap.add_argument("--a", required=True, help="baseline value (arm A)")
    ap.add_argument("--b", required=True, help="candidate value (arm B)")
    ap.add_argument("--cycles", type=int, default=2,
                    help="AB pairs per query (2 -> ABAB)")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", nargs="*", default=None)
    ap.add_argument("--json", help="append results to this JSON-lines file")
    args = ap.parse_args()

    from vcf_pg_loader_spark import runner
    from vcf_pg_loader_spark.queries import all_queries
    from vcf_pg_loader_spark.session import get_spark

    spark = get_spark(app_name="confab")
    registry = all_queries()
    names = args.queries or list(registry)
    runner.warm(spark, args.sf)

    med = lambda xs: sorted(xs)[len(xs) // 2]
    out, tot_a, tot_b = {}, 0.0, 0.0
    for name in names:
        build = lambda: registry[name](spark, args.sf)  # noqa: E731
        a_reps, b_reps = [], []
        for _c in range(args.cycles):
            for val, reps in ((args.a, a_reps), (args.b, b_reps)):
                spark.conf.set(args.conf, val)
                rec, _ = runner.run(spark, build, runner.noop)
                reps.append(round(runner.seconds(rec), 3))
        spark.conf.set(args.conf, args.a)
        ma, mb = med(a_reps), med(b_reps)
        tot_a += ma
        tot_b += mb
        out[name] = {"a": a_reps, "b": b_reps, "med_a": ma, "med_b": mb}
        print(f"{name}: A={a_reps} B={b_reps} medA={ma} medB={mb} "
              f"d={round(mb - ma, 3)}", flush=True)
    print(f"TOTAL med: A={round(tot_a, 2)} B={round(tot_b, 2)} "
          f"delta={round(tot_b - tot_a, 2)}")
    if args.json:
        with open(args.json, "a") as fh:
            fh.write(json.dumps({
                "conf": args.conf, "a": args.a, "b": args.b, "sf": args.sf,
                "total_med_a": round(tot_a, 2),
                "total_med_b": round(tot_b, 2), "results": out,
            }) + "\n")


if __name__ == "__main__":
    main()
