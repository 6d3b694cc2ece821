"""Scale rehearsal for bpe_train's driver bound (operators/bpe.py
LOCAL_MAX_TYPES; optimization round 16, verdict item 1).

Builds an ADVERSARIALLY WIDE type table — a synthetic corpus whose
word-type count far exceeds the bound (every word unique, the
100 TB singleton-tail shape) — and trains with LOCAL_MAX_TYPES set
well below it.  Records:

  - that the probe collected at most bound+1 rows (DataFrame.collect
    instrumented),
  - that the trainer took its batched path,
  - driver peak RSS before/after (the collect must not scale with the
    type table),
  - that the merges equal the in-memory path's on the same table
    (identical-model pin at rehearsal scale; that run collects the
    whole type table, after the RSS reading),
  - wall times, Spark jobs and stages for both paths (one runner run
    each).

Writes one JSON blob (default SCALE_r16_bpe_guard.json).

    python tools/bpe_guard_rehearsal.py [--types 2000000] [--bound 100000]
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--types", type=int, default=2_000_000,
                    help="distinct word types in the adversarial corpus")
    ap.add_argument("--bound", type=int, default=100_000,
                    help="LOCAL_MAX_TYPES for the bounded run "
                         "(must be << --types)")
    ap.add_argument("--n-merges", type=int, default=8)
    ap.add_argument("--out", default="SCALE_r16_bpe_guard.json")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from vcf_pg_loader_spark import runner
    from vcf_pg_loader_spark.operators import bpe as B
    from vcf_pg_loader_spark.session import get_spark

    spark = get_spark(app_name="bpe-guard-rehearsal")

    # Adversarial corpus: every document is 20 words; all but two words
    # per document are GLOBALLY UNIQUE (the singleton tail), while two
    # planted words repeat corpus-wide so training has real merges to
    # find.  base36 ids keep the alphabet small and realistic.
    n_docs = args.types // 18  # 18 unique words per doc
    docs = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.lit("lowest"),
                F.lit("newest"),
                *[
                    F.concat(
                        F.lit("u"),
                        F.conv(
                            (F.col("id") * 18 + i).cast("string"), 10, 36
                        ),
                    )
                    for i in range(18)
                ],
            ).alias("text"),
        )
    )

    report: dict = {
        "types_target": args.types,
        "n_docs": n_docs,
        "bound": args.bound,
        "n_merges": args.n_merges,
    }

    counted, n_types = runner.run(
        spark, lambda: B.word_counts(docs), runner.count
    )
    report["n_types_actual"] = n_types
    report["type_count_sec"] = round(runner.seconds(counted), 2)
    assert n_types > args.bound, "corpus not adversarial enough"

    # instrument the collect path
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover
        from pyspark.sql import DataFrame

    def train(name: str):
        # one runner run: the training's jobs are counted and what it
        # cached is released
        rec, result = runner.run(
            spark,
            lambda: B.bpe_train(B.word_counts(docs), args.n_merges),
            lambda trained: trained,
        )
        report[f"{name}_wall_sec"] = round(runner.seconds(rec), 2)
        report[f"{name}_jobs"] = rec["build_jobs"] + rec["exec_jobs"]
        report[f"{name}_stages"] = rec["build_stages"] + rec["exec_stages"]
        return result

    real_collect = DataFrame.collect
    collect_sizes: list[int] = []

    def spy(self):
        rows = real_collect(self)
        collect_sizes.append(len(rows))
        return rows

    B.LOCAL_MAX_TYPES = args.bound
    DataFrame.collect = spy
    rss_before = peak_rss_mb()
    try:
        merges_guarded, path = train("guarded")
    finally:
        DataFrame.collect = real_collect
    report["fallback_engaged"] = path == "batched"
    report["probe_collect_rows"] = collect_sizes[0] if collect_sizes else None
    report["max_collect_rows"] = max(collect_sizes) if collect_sizes else None
    report["driver_peak_rss_mb_before"] = round(rss_before, 1)
    report["driver_peak_rss_mb_after"] = round(peak_rss_mb(), 1)
    report["merges_guarded"] = [list(m) for m in merges_guarded]

    # pin: the in-memory path learns the identical model
    B.LOCAL_MAX_TYPES = n_types
    merges_local, path = train("local")
    assert path == "local"
    report["merges_identical_to_local"] = merges_guarded == merges_local

    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(report, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
