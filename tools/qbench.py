"""Per-query isolation bench: time N runs of selected queries with the
noop sink (computes every column, discards output — guide §1.4) and
optionally dump .explain("formatted") to plans/<tag>/<query>_<suffix>.txt.

Usage:
  python tools/qbench.py [--reps 3] [--sf DIR] [--plans TAG SUFFIX] q1 q2 ...

Prints one line per query: name, per-rep seconds, median.  Each rep is
a run of the query runner (build + execute; what it cached released);
--json also carries each rep's run record with its jobs and stages.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans", nargs=2, metavar=("TAG", "SUFFIX"),
                    help="dump explain(formatted) to plans/TAG/<q>_SUFFIX.txt")
    ap.add_argument("--json", help="append results to this JSON-lines file")
    args = ap.parse_args()

    from vcf_pg_loader_spark import runner
    from vcf_pg_loader_spark.queries import all_queries
    from vcf_pg_loader_spark.session import get_spark

    spark = get_spark(app_name="qbench")
    registry = all_queries()
    names = list(registry) if args.queries == ["ALL"] else args.queries
    runner.warm(spark, args.sf)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = {}
    for name in names:
        build = lambda: registry[name](spark, args.sf)  # noqa: E731
        if args.plans:
            tag, suffix = args.plans
            pdir = os.path.join(repo, "plans", tag)
            os.makedirs(pdir, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                runner.run(
                    spark, build, lambda df: df.explain(mode="formatted")
                )
            with open(os.path.join(pdir, f"{name}_{suffix}.txt"), "w") as fh:
                fh.write(buf.getvalue())
        runs = [
            runner.run(spark, build, runner.noop)[0] for _ in range(args.reps)
        ]
        reps = [round(runner.seconds(r), 3) for r in runs]
        med = sorted(reps)[len(reps) // 2] if reps else None
        out[name] = {"reps": reps, "median": med, "runs": runs}
        print(f"{name}: {reps} median={med}", flush=True)
    if args.json:
        with open(args.json, "a") as fh:
            fh.write(json.dumps({"sf": args.sf, "results": out}) + "\n")


if __name__ == "__main__":
    main()
