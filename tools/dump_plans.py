"""Write docs/PLANS.md: the physical plans of flagship queries.

The 100 TB argument lives in the plans — broadcasts where dimension
tables join, single exchanges where the union-sort as-of runs, pushed
filters at the scans, no Python in the hot paths.  This dump makes the
evidence reviewable without a Spark session; regenerate after plan-
shaping changes (`python tools/dump_plans.py`).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FLAGSHIPS = [
    ("q05_local_supplier", "six-way join: every dimension broadcast"),
    ("q06_forecast_revenue", "pushdown: filters reach the parquet scan"),
    ("q_asof_join", "as-of union-sort: ONE exchange, no join node"),
    ("q_range_join", "broadcast theta-join for interval assignment"),
    ("q_minhash_lsh", "LSH banding: equi-join on band buckets"),
    ("q_ann_ivf", "IVF: centroids broadcast, corpus never shuffles to assign"),
    ("q_token_rarity", "vocabulary broadcast against exploded tokens"),
    ("q_epoch_shuffle", "epoch order: hash exchange + per-shard sort only"),
    ("q_rollup_incremental", "partial-merge rollup on the bucket keyspace"),
    ("q_kmv_distinct", "KMV sketch: JVM-side hashing + order statistics"),
    ("q_bm25_topk", "BM25: postings pruned by the term list, TakeOrdered top-k"),
    ("q_bloom_join", "bloom prefilter: 1-row bitmap broadcast, filter before exchange"),
    ("q_dedup_keep_served", "served keep-decision: ONE broadcast anti-join, no LSH/CC"),
    ("q_hdr_quantiles", "HDR sketch: map-side partials, O(buckets) serve"),
    ("q_cms_tokens", "count-min: fixed 4x1024 sketch, probes broadcast"),
    ("q_substring_dedup", "ExactSubstr spans: gram hashes shuffle, gaps-and-islands windows"),
    ("q_grouped_topk", "skew-safe grouped top-k: WindowGroupLimit k-bounded accumulator"),
    ("q_dsir_weights", "DSIR: broadcast bucket log-ratios, one keyed score aggregation"),
    ("q_semdedup_served", "served SemDeDup: ONE broadcast anti-join from the cluster table"),
    ("q_drop_reasons_served", "served drop attribution: plain pruned scan of the materialized funnel report"),
    ("q_training_shards", "shard manifest: ONE exchange (hash by shard), window + agg reuse its partitioning"),
    ("q_bpe_pairs", "BPE pair stats: map-side-combined aggs, TakeOrderedAndProject top-k"),
]


def _explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="simple")
    return buf.getvalue().rstrip()


def main() -> None:
    from vcf_pg_loader_spark import runner
    from vcf_pg_loader_spark.queries import all_queries
    from vcf_pg_loader_spark.session import get_spark

    spark = get_spark(app_name="dump-plans", shuffle_partitions=8)
    qs = all_queries()
    sf = "/root/testdata/sf0.001"
    out = [
        "# Physical plans of flagship queries",
        "",
        "Generated by `python tools/dump_plans.py` at sf0.001 "
        "(plan SHAPE is scale-invariant; AQE re-plans sizes at runtime).",
        "",
    ]
    for name, why in FLAGSHIPS:
        # one runner run per flagship: its build's eager work is
        # counted and what the query cached is released
        _rec, plan = runner.run(
            spark, lambda: qs[name](spark, sf), _explain
        )
        out.append(f"## {name}\n\n*{why}*\n")
        out.append("```")
        out.append(plan)
        out.append("```\n")
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "PLANS.md",
    )
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
