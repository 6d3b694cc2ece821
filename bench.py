"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {slowest few}, "sf": ...}.

The stdout contract line is kept deliberately small (well under 2 KB):
the driver stores only a bounded tail of stdout and failed to parse
round 4's 87-query line (`parsed: null` despite rc=0).  The full
per-query timing map, per-query errors, parse-throughput detail, and the
skew-join rehearsal metrics are written to BENCH_DETAIL.json instead.
Every timed frame is a run of the query runner (vcf_pg_loader_spark/
runner.py); each query's cold run record, build and execute apart with
their jobs and stages, is `queries.<name>.cold_run` there.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vcf_pg_loader_spark import runner  # noqa: E402

_TOP_N_IN_CONTRACT_LINE = 8


def _drain_task_metrics(df):
    """Materialize `df` and measure, per output partition (= per reducer
    task), the drain wall-time and row count; returns their maxima.

    The drain runs Python-side so the absolute seconds include pickle
    transfer — use them RELATIVELY (plain vs salted on identical data),
    which is exactly the straggler comparison salting exists to win.
    """
    from pyspark import AccumulatorParam

    class _Max(AccumulatorParam):
        def zero(self, value):
            return value

        def addInPlace(self, a, b):
            return a if a >= b else b

    sc = df.sparkSession.sparkContext
    acc_sec = sc.accumulator(0.0, _Max())
    acc_rows = sc.accumulator(0.0, _Max())

    def drain(it):
        t0 = time.perf_counter()
        n = 0
        for _ in it:
            n += 1
        acc_sec.add(time.perf_counter() - t0)
        acc_rows.add(float(n))
        yield n

    df.rdd.mapPartitions(drain).count()  # rdd-ok (bench introspection)
    return acc_sec.value, int(acc_rows.value)


def skew_rehearsal(spark, sf_dir: str) -> dict:
    """Skewed-key join rehearsal: half of lineitem lands on ONE key, the
    other half spreads; compare a plain shuffle join vs the salted join
    (operators/skew.py).

    Auto-broadcast AND adaptive execution are disabled for the rehearsal:
    AQE's skew-join splitting already rescues this shape at runtime (that
    is why session.py enables it), so the vanilla sort-merge path — the
    one a cluster without AQE, or a skewed aggregation AQE cannot split,
    would run — is the honest baseline salting exists to fix.  Two
    metrics per variant: wall time of a join+agg, and the max per-task
    drain time / row count of the join output (the straggler metric —
    wall time on local[32] hides a 1-of-32 straggler almost entirely;
    max-task is what collapses on a 1000-executor cluster).
    """
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.operators.skew import salted_join
    from vcf_pg_loader_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    big = li.select(
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(0))
        .otherwise(F.col("l_partkey"))
        .alias("k"),
        "l_quantity",
    )
    small = (
        li.select(F.col("l_partkey").alias("k")).distinct()
        .union(spark.range(1).select(F.lit(0).alias("k")))
        .distinct()
        .withColumn("w", F.col("k") % 97)
    )
    out: dict = {}
    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.enabled",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        variants = {
            "plain": lambda: big.join(small, "k"),
            "salted": lambda: salted_join(big, small, ["k"]),
        }
        for name, build in variants.items():
            rec, _ = runner.run(
                spark,
                lambda: build().agg(F.sum("l_quantity"), F.sum("w")),
                lambda df: df.collect(),
            )
            max_sec, max_rows = _drain_task_metrics(build().select("k"))
            out[name] = {
                "wall_sec": round(runner.seconds(rec), 3),
                "max_task_drain_sec": round(max_sec, 3),
                "max_task_rows": max_rows,
            }
    except Exception as exc:  # pragma: no cover - defensive bench path
        out["error"] = f"{type(exc).__name__}: {exc}"[:500]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    return out


def scaling_curve(spark, sf_dir: str, factors=(1, 2)) -> dict:
    """Empirical scale check: the headline pipeline queries re-run on a
    GENERATED 2× corpus (originals + id-offset, text-perturbed copies —
    growth-stable: new doc ids / new users, per-key sizes unchanged, the
    way a corpus actually grows).  Wall-time ratio at 2× data ≈ 2 means
    the plan scales linearly; a ratio blowing past ~2.5 would expose an
    accidental all-pairs / driver bottleneck that plan-shape assertions
    alone can miss.  Fixtures are written to a temp dir and deleted —
    nothing under /root/testdata is touched.

    Both factor variants are read from freshly written parquet (factor 1
    too) so layout effects cancel; each timing is best-of-two to shed
    first-run compilation noise.
    """
    import shutil
    import tempfile
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.queries import core as QC
    from vcf_pg_loader_spark.queries import pipeline as QP
    from vcf_pg_loader_spark.sources.tables import load_table

    headline = [
        ("q_minhash_lsh", QP.QUERIES["q_minhash_lsh"]),
        ("q_ngram_jaccard", QP.QUERIES["q_ngram_jaccard"]),
        ("q_dedup_clusters", QP.QUERIES["q_dedup_clusters"]),
        ("q_winnow_overlap", QP.QUERIES["q_winnow_overlap"]),
        ("q_pipeline_funnel", QP.QUERIES["q_pipeline_funnel"]),
        ("q_events_sessions", QC.QUERIES["q_events_sessions"]),
        ("q_training_shards", QP.QUERIES["q_training_shards"]),
    ]
    docs = load_table(spark, sf_dir, "documents")
    events = load_table(spark, sf_dir, "events")
    doc_stride = docs.agg(F.max("doc_id")).first()[0] + 1
    ev = events.agg(F.max("event_id"), F.max("user_id")).first()
    ev_stride, user_stride = ev[0] + 1, ev[1] + 1

    out: dict = {"factors": list(factors), "queries": {}}
    tmp_root = tempfile.mkdtemp(prefix="bench_scale_")
    dirs: dict[int, str] = {}
    try:
        for f in factors:
            d = os.path.join(tmp_root, f"x{f}")
            os.makedirs(d)
            d_parts, e_parts = [docs], [events]
            for i in range(1, f):
                # The copy must NOT be a near-dup of its original, or the
                # corpus dup-rate jumps from ~1% to >50% and the dedup
                # queries measure a different WORKLOAD, not scale.  The
                # earlier token ROTATION failed at this (round-8
                # finding): shingles are order-free SETS of contiguous
                # triples, and a rotation breaks only the ~2 seam
                # triples, so every copy verified as a J≈0.9 near-dup of
                # its original (499 planted pairs at 2x — the real cause
                # of the r7 scaling-ratio drift).  A deterministic
                # per-doc token PERMUTATION preserves the token MULTISET
                # exactly (token/stopword/distinct statistics identical,
                # so the quality-gate workload is unchanged) while
                # sharing no contiguous triple at all.
                toks = F.split(F.col("text"), " ")
                keyed = F.transform(
                    toks,
                    lambda x, j: F.struct(
                        F.xxhash64(
                            F.concat_ws(
                                "#",
                                x,
                                (F.col("doc_id") + i).cast("string"),
                                j.cast("string"),
                            )
                        ).alias("h"),
                        x.alias("t"),
                    ),
                )
                permuted = F.concat_ws(
                    " ", F.transform(F.array_sort(keyed), lambda s: s["t"])
                )
                d_parts.append(
                    docs.select(
                        (F.col("doc_id") + doc_stride * i).alias("doc_id"),
                        permuted.alias("text"),
                        "lang",
                        "source",
                        "n_chars",
                    )
                )
                e_parts.append(
                    events.select(
                        (F.col("event_id") + ev_stride * i).alias("event_id"),
                        "ts",
                        (F.col("user_id") + user_stride * i).alias("user_id"),
                        "event_type",
                        "value",
                        "props",
                    )
                )
            for table, parts in (("documents", d_parts), ("events", e_parts)):
                reduce(DataFrame.unionByName, parts).write.parquet(
                    os.path.join(d, f"{table}.parquet")
                )
            dirs[f] = d
        for name, fn in headline:
            times: dict[str, float] = {}
            for f in factors:
                best, _ = runner.best_of_two(
                    spark, lambda: fn(spark, dirs[f]), runner.count
                )
                times[str(f)] = round(best, 3)
            lo, hi = times[str(factors[0])], times[str(factors[-1])]
            entry = {
                "sec": times,
                "ratio": round(hi / lo, 2) if lo else None,
            }
            if name == "q_minhash_lsh":
                # wall time alone cannot distinguish an LSH candidate-
                # pair blow-up from compile noise (r7 watch-list #1):
                # record the band-bucket candidate-pair count at each
                # factor so superlinear growth is attributable.  The 2x
                # corpus doubles docs without adding near-dups, so the
                # pair count should scale ~linearly; a quadratic jump
                # would mean the banding parameters stopped pruning.
                from vcf_pg_loader_spark.operators import dedup as D2

                pair_counts: dict[str, int] = {}
                for f in factors:
                    docs_f = load_table(spark, dirs[f], "documents")
                    sets_f = D2.shingle_sets(
                        docs_f, "doc_id", "text", QP.NGRAM
                    )
                    banded = D2.lsh_band_table(
                        D2.minhash_signatures(sets_f, QP.MINHASH_K),
                        QP.MINHASH_K,
                        QP.MINHASH_BANDS,
                    )
                    cand, _ = D2.lsh_bucket_pairs(banded)
                    pair_counts[str(f)] = cand.count()
                p_lo = pair_counts[str(factors[0])]
                p_hi = pair_counts[str(factors[-1])]
                entry["candidate_pairs"] = pair_counts
                entry["pair_ratio"] = (
                    round(p_hi / p_lo, 2) if p_lo else None
                )
            out["queries"][name] = entry
    except Exception as exc:  # pragma: no cover - defensive bench path
        out["error"] = f"{type(exc).__name__}: {exc}"[:500]
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
    return out


def served_paths(spark, sf_dir: str) -> dict:
    """Build-vs-serve split for the persisted-structure queries.  The
    main timing loop charges q_*_served their one-time build on a cold
    cache (fresh container each round); this section shows what the
    serve ACTUALLY costs once the structure exists — the number that
    amortizes over every downstream consumer.  The structures are
    already on disk here (the main loop built them), so each timing is
    a pure serve."""
    from vcf_pg_loader_spark.queries import all_queries

    registry = all_queries()
    out: dict = {}
    for name in (
        "q_dedup_keep_served",
        "q_ann_ivf_served",
        "q_bm25_served",
        "q_semdedup_served",
        "q_drop_reasons_served",
        # retraction-maintained twins: serve-from-state after the
        # interleaved insert+delete sequence, no rebuild
        "q_dedup_keep_retract",
        "q_bm25_retract",
        "q_drop_reasons_retract",
        "q_semdedup_retract",
        "q_ann_retract",
        "q_rollup_retract",
        # snapshot-CDC and maintained-card paths (round 10): serve from
        # the synced state, no re-diff and no rebuild
        "q_cdc_snapshot",
        "q_cdc_funnel",
        "q_cdc_ann",
        "q_cdc_bm25",
        "q_cdc_winnow",
        "q_cdc_semdedup",
        "q_dataset_card_retract",
    ):
        try:
            build = lambda: registry[name](spark, sf_dir)  # noqa: E731
            runner.run(spark, build, runner.count)  # ensure built + warm
            best, _ = runner.best_of_two(spark, build, runner.count)
            out[name] = {"serve_sec": round(best, 3)}
        except Exception as exc:  # pragma: no cover - defensive bench path
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
    return out


def ivf_kernel_compare(spark, sf_dir: str) -> dict:
    """Decimal-oracle vs production-double IVF search timing: the benched
    ANN queries pay the `kernel="exact"` decimal fold for bit-exact
    oracle parity (docs/SCALE.md "exactness tax"); this records what the
    production `kernel="fast"` path costs on the same search so the
    swap's payoff is a measured number, not a claim.  Best-of-two each.
    """
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.operators import similarity as S
    from vcf_pg_loader_spark.queries.pipeline import (
        IVF_CENTROIDS,
        IVF_ITER,
        IVF_NPROBE,
        N_QUERY_VECS,
        TOP_K,
    )
    from vcf_pg_loader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    out: dict = {}
    try:
        for kernel in ("exact", "fast"):
            best, _ = runner.best_of_two(
                spark,
                lambda: S.ivf_topk(
                    emb, queries, TOP_K, IVF_CENTROIDS, IVF_ITER, IVF_NPROBE,
                    kernel=kernel,
                ),
                runner.count,
            )
            out[kernel] = round(best, 3)
        if out.get("fast"):
            out["exact_over_fast"] = round(out["exact"] / out["fast"], 2)
    except Exception as exc:  # pragma: no cover - defensive bench path
        out["error"] = f"{type(exc).__name__}: {exc}"[:500]
    return out


def ann_aging_evidence(spark, sf_dir: str) -> dict:
    """Cell-occupancy balance of the DRIFTED index (new snapshot routed
    under old-snapshot centroids — the frozen-quantizer maintenance
    shape) vs the REINDEXED one: the measured payoff of
    VectorIndex.reindex, so 'reindex restores balance' ships as numbers
    beside the recall/serve timings, not as a claim.  max/mean
    occupancy over the occupied cells, plus the occupied-cell counts
    (drift can also empty cells entirely)."""
    out: dict = {}
    try:
        from vcf_pg_loader_spark.queries import pipeline as P
        from vcf_pg_loader_spark.sources.vector_index import VectorIndex

        def balance(idx):
            occ = [r.n_vecs for r in idx.cell_stats().collect()]
            return {
                "cells": len(occ),
                "max_over_mean": round(
                    max(occ) / (sum(occ) / len(occ)), 3
                ),
            }

        drifted, _new = P._cdc_ann_index(spark, sf_dir)
        P.q_ann_reindex(spark, sf_dir).count()  # idempotent state build
        reindexed = VectorIndex(
            spark,
            P._served_root(sf_dir, "ann_reindex", "embeddings.parquet"),
        )
        out = {
            "drifted": balance(drifted),
            "reindexed": balance(reindexed),
        }
    except Exception as exc:  # pragma: no cover - defensive bench path
        out["error"] = f"{type(exc).__name__}: {exc}"[:500]
    return out


def _inode_size_map(table_dir: str) -> dict:
    """partition dir -> {data file: (inode, size)}"""
    m = {}
    for d in os.listdir(table_dir):
        p = os.path.join(table_dir, d)
        if "=" in d and os.path.isdir(p):
            files = [f for f in os.listdir(p) if not f.startswith(("_", "."))]
            stats = {f: os.stat(os.path.join(p, f)) for f in files}
            m[d] = {f: (st.st_ino, st.st_size) for f, st in stats.items()}
    return m


def _revised(rows, col: str, value):
    """The Z-set delta that sets `col` of `rows` to `value`: the revised
    rows inserted, the current ones retracted."""
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.operators.ivm import MULT

    return rows.withColumn(col, value).withColumn(
        MULT, F.lit(1).cast("bigint")
    ).unionByName(rows.withColumn(MULT, F.lit(-1).cast("bigint")))


def _pruned_split(apply, delta, table_dir: str) -> dict:
    """Apply one maintenance delta and split the table's partition
    directories into those the swap linked unchanged and those it
    rewrote, with their bytes and the apply's wall seconds."""
    before = _inode_size_map(table_dir)
    t0 = time.perf_counter()
    apply(delta)
    wall = time.perf_counter() - t0
    split = dict.fromkeys(
        ("dirs_linked", "dirs_rewritten", "bytes_linked", "bytes_rewritten"), 0
    )
    for d, files in _inode_size_map(table_dir).items():
        kind = "linked" if before.get(d) == files else "rewritten"
        split[f"dirs_{kind}"] += 1
        split[f"bytes_{kind}"] += sum(sz for _, sz in files.values())
    split["delta_wall_sec"] = round(wall, 3)
    return split


def pruned_maintenance_evidence(spark, sf_dir: str) -> dict:
    """Measured write amplification of one maintenance delta against two
    pruned-swap structures: the CELL-partitioned semantic store (a
    vector touches exactly one cell, so pruning is intrinsic) and a
    BUCKET-partitioned posting index at a production-shaped bucket
    count (posting pruning helps exactly when bucket count >> delta
    postings — the 64-bucket test default is deliberately coarse; a
    real deployment sizes buckets to state the way shuffle partitions
    are sized).  The round-10 claim ('maintenance writes are O(touched
    partitions), not O(state)') as numbers — the linked fraction is
    state that never re-shuffles, recomputes, or rewrites."""
    import shutil as _sh
    import tempfile as _tf

    out: dict = {}
    root = _tf.mkdtemp(prefix="bench_pruned_")
    try:
        from pyspark.sql import functions as F

        from vcf_pg_loader_spark.sources.tables import load_table
        from vcf_pg_loader_spark.sources.vector_index import VectorIndex
        from vcf_pg_loader_spark.streaming.dedup_ingest import (
            SemDeDupIngestSink,
        )
        from vcf_pg_loader_spark.streaming.retract import (
            DedupClusterMaintSink,
            WinnowIndexSink,
        )
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        def sink_delta(sink, boot, delta, table: str) -> dict:
            sink.apply_batch(boot, 0)
            return _pruned_split(
                lambda d: sink.apply_batch(d, 1),
                delta,
                os.path.join(sink.target, table),
            )

        vecs = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        vec_delta = _revised(
            vecs.limit(5), "embedding", F.reverse(F.col("embedding"))
        )
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .limit(2000)
        )
        revised_text = F.concat(F.col("text"), F.lit(" revised"))
        # orderBy before limit: an unordered limit(1) is evaluated
        # independently in the two union branches of the delta and can
        # pick two DIFFERENT documents, turning the claimed 1-doc delta
        # into an update+delete pair (round-11 advice item 5)
        doc_delta = _revised(
            docs.orderBy("doc_id").limit(1), "text", revised_text
        )

        # -- cell-partitioned vectors --------------------------------
        out["vectors_cell_partitioned"] = {
            "delta_vecs": 5,
            "cells": 64,
            **sink_delta(
                SemDeDupIngestSink(os.path.join(root, "v"), k_centroids=64),
                vecs, vec_delta, "vectors",
            ),
        }

        # -- bucket-partitioned postings ------------------------------
        class WideWinnow(WinnowIndexSink):
            N_FP_BUCKETS = 1024

        out["postings_bucket_partitioned"] = {
            "delta_docs": 1,
            "buckets": 1024,
            **sink_delta(
                WideWinnow(os.path.join(root, "w")), docs, doc_delta, "fps"
            ),
        }

        # -- id-bucketed corpus (the headline: document TEXT no longer
        # rewrites whole per batch) ------------------------------------
        out["corpus_id_bucketed"] = {
            "delta_docs": 5,
            "buckets": 64,
            **sink_delta(
                DedupClusterMaintSink(os.path.join(root, "c")),
                docs,
                _revised(docs.limit(5), "text", revised_text),
                "corpus",
            ),
        }

        # -- shard-partitioned training layout -------------------------
        out["shards_layout_partitioned"] = {
            "delta_docs": 1,
            "shards": 16,
            **sink_delta(
                TrainingShardSink(os.path.join(root, "s")),
                docs, doc_delta, "layout",
            ),
        }

        # -- cell-pruned VectorIndex delta (apply_zset) -----------------
        idx = VectorIndex(spark, os.path.join(root, "ix"))
        idx.build(vecs, k_centroids=64, m=4)
        out["index_cell_pruned"] = {
            "delta_vecs": 5,
            "cells": 64,
            **_pruned_split(
                idx.apply_zset, vec_delta, os.path.join(idx.root, "vectors")
            ),
        }
    except Exception as exc:  # pragma: no cover - defensive bench path
        out["error"] = f"{type(exc).__name__}: {exc}"[:500]
    finally:
        _sh.rmtree(root, ignore_errors=True)
    return out


# Box-drift control (round-10 verdict item 5): two rounds running, the
# bench's absolute numbers moved for non-code reasons (r9 one-time
# rebuilds, r10 environment).  These two queries' code paths have been
# untouched since round 7, so their wall time measures the BOX, not the
# round's changes; round-over-round comparisons should use
# warm_total / control — a code regression moves the ratio, a slow box
# moves numerator and denominator together and cancels.
_CONTROL_QUERIES = ("q01_pricing_summary", "q06_forecast_revenue")


def bpe_encode_throughput(spark, sf_dir: str) -> dict:
    """Tokenizer-path throughput: learn a 64-merge vocab (in-memory
    trainer over the distributed word-count collapse) and measure the
    whole-document Arrow encoder's tokens/sec over the documents table
    — the parse-rate analogue for the training-data story's one
    Python seam.  Timed on the second pass (the first pays Python
    worker bring-up, like the parse benchmarks' warm protocol)."""
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.operators.bpe import (
        bpe_encode_doc_arrow,
        bpe_train,
        word_counts,
    )
    from vcf_pg_loader_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with runner.phase(spark, "bpe_learn") as learn:
        merges, _ = bpe_train(word_counts(docs), 64)

    def encode():
        return bpe_encode_doc_arrow(docs, merges).agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.size("pieces")).alias("tokens"),
        )

    def collect(df):
        return df.collect()

    runner.run(spark, encode, collect)  # worker bring-up
    rec, rows = runner.run(spark, encode, collect)
    row, wall = rows[0], rec["exec_sec"]
    return {
        "merges_learned": len(merges),
        "learn_sec": round(learn["sec"], 3),
        "docs": int(row["docs"]),
        "tokens": int(row["tokens"]),
        "encode_sec": round(wall, 3),
        "tokens_per_sec": round(row["tokens"] / wall) if wall else None,
    }


def _previous_detail() -> dict | None:
    """The last COMMITTED BENCH_DETAIL.json (git HEAD), falling back to
    the on-disk file — the baseline the drifter re-measure compares
    against.  Must be read BEFORE this run overwrites the file."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        out = subprocess.run(
            ["git", "show", "HEAD:BENCH_DETAIL.json"],
            cwd=here,
            capture_output=True,
            timeout=30,
        )
        if out.returncode == 0:
            return json.loads(out.stdout)
    except Exception:
        pass
    try:
        with open(os.path.join(here, "BENCH_DETAIL.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


DRIFT_RATIO = 1.5  # warm slower than last round by this much = drifter
DRIFT_FLOOR_SEC = 0.5  # ignore sub-noise-floor queries
DRIFT_ABS_SEC = 1.0  # round-13 verdict item 3: absolute-seconds gate
DRIFT_TOP_N = 5
DRIFT_REPS = 3
# serve-path latencies pinned every round regardless of drift (round-13
# verdict item 6: q_ann_reindex moved 2.13x unmeasured; SCALE.md cites
# these medians as the reindex-cost claim)
DRIFT_PINNED = ("q_ann_reindex", "q_ann_cell_stats")


def drifter_remeasures(
    spark,
    sf_dir: str,
    timings: dict,
    prev: dict | None,
    control_ratio: float = 1.0,
) -> dict:
    """Round-11 verdict item 6: two rounds running, spike 'regressions'
    in the sweep were hand-re-measured idle and found to be transient
    (single-JVM 180-query sessions accumulate cleanup pressure).  This
    folds that protocol into the bench itself: drifting queries re-run
    DRIFT_REPS times after the sweep (the idle tail of the session),
    and the medians land in BENCH_DETAIL as `drifter_remeasures` so
    round docs cite an artifact instead of ad-hoc shell runs.

    Round-14 (verdict item 3): selection is the UNION of the top-N
    RATIO spikes and the top-N ABSOLUTE regressions (warm exceeding
    the control-adjusted previous warm by DRIFT_ABS_SEC), both
    normalized by `control_ratio` (this round's control pair over last
    round's) so box drift neither masks real regressions nor
    manufactures fake ones — a +5 s regression at 1.48x no longer
    slips under the ratio-only top-5.  DRIFT_PINNED queries re-measure
    every round regardless."""
    prev_q = (prev or {}).get("queries") or {}
    from vcf_pg_loader_spark.queries import all_queries

    registry = all_queries()
    norm = max(float(control_ratio or 1.0), 1e-6)
    scored = []
    for name, t in timings.items():
        warm = t.get("warm_sec")
        p = prev_q.get(name)
        prev_warm = p.get("warm_sec") if isinstance(p, dict) else None
        if not warm or not prev_warm or name not in registry:
            continue
        if warm < DRIFT_FLOOR_SEC:
            continue
        adj_prev = prev_warm * norm  # prev warm at today's box speed
        ratio = warm / adj_prev
        excess = warm - adj_prev
        scored.append((name, prev_warm, warm, ratio, excess))
    by_ratio = sorted(scored, key=lambda s: -s[3])
    by_abs = sorted(scored, key=lambda s: -s[4])
    selected: dict[str, tuple] = {}
    for s in by_ratio[:DRIFT_TOP_N]:
        if s[3] >= DRIFT_RATIO:
            selected[s[0]] = s
    for s in by_abs[:DRIFT_TOP_N]:
        if s[4] >= DRIFT_ABS_SEC:
            selected[s[0]] = s
    for name in DRIFT_PINNED:
        if name in selected or name not in registry:
            continue
        t = timings.get(name) or {}
        warm = t.get("warm_sec")
        p = prev_q.get(name)
        prev_warm = p.get("warm_sec") if isinstance(p, dict) else None
        if warm:
            adj = (prev_warm or warm) * norm
            selected[name] = (
                name, prev_warm, warm, warm / adj if adj else None,
                warm - adj if prev_warm else None,
            )
    out: dict[str, dict] = {}
    for name, prev_warm, warm, ratio, excess in selected.values():
        reps = []
        for _ in range(DRIFT_REPS):
            try:
                rec, _ = runner.run(
                    spark, lambda: registry[name](spark, sf_dir), runner.count
                )
            except Exception:
                break
            reps.append(round(runner.seconds(rec), 3))
        med = sorted(reps)[len(reps) // 2] if reps else None
        adj_prev = prev_warm * norm if prev_warm else None
        out[name] = {
            "prev_warm_sec": prev_warm,
            "sweep_warm_sec": warm,
            "control_ratio": round(norm, 3),
            "sweep_ratio": round(ratio, 2) if ratio else None,
            "sweep_abs_excess_sec": (
                round(excess, 3) if excess is not None else None
            ),
            "pinned": name in DRIFT_PINNED,
            "remeasure_secs": reps,
            "remeasure_median_sec": med,
            "transient": bool(
                med is not None
                and adj_prev is not None
                and med / adj_prev < DRIFT_RATIO
                and med - adj_prev < DRIFT_ABS_SEC
            ),
        }
    return out


def bench_control(spark, sf_dir: str, reps: int = 5) -> dict:
    from vcf_pg_loader_spark.queries import all_queries

    q = all_queries()
    walls = []
    for _ in range(reps):
        wall = 0.0
        for name in _CONTROL_QUERIES:
            rec, _ = runner.run(
                spark, lambda: q[name](spark, sf_dir), runner.count
            )
            wall += runner.seconds(rec)
        walls.append(wall)
    walls.sort()
    return {
        "queries": list(_CONTROL_QUERIES),
        "reps": reps,
        "median_wall_sec": round(walls[len(walls) // 2], 3),
        "walls_sec": [round(w, 3) for w in walls],
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from vcf_pg_loader_spark.queries import all_queries
    from vcf_pg_loader_spark.session import get_spark

    spark = get_spark(app_name="vcf-pg-loader-spark-bench")

    # capture the last committed detail BEFORE this run overwrites it
    prev_detail = _previous_detail()

    runner.warm(spark, sf_dir)

    # Each query is timed twice: `cold_sec` (first run — carries JIT /
    # codegen / compile-order noise that masquerades as regression in
    # round-over-round diffs) and `warm_sec` (second run; the runner
    # released the first run's caches, so it measures warm-JVM
    # execution, not cached data).  Each is the run's build + execute.
    # Warm is the number doc claims should cite (tools/sync_docs.py
    # guards this); cold is what a fresh container pays and still sums
    # into the contract line's total for continuity with prior rounds.
    # The count executes the full plan; result sizes vary, and a count
    # avoids driver-collect skew for the large window outputs.
    timings: dict[str, dict] = {}
    errors: dict[str, str] = {}
    total = 0.0
    for name, fn in all_queries().items():
        build = lambda: fn(spark, sf_dir)  # noqa: E731
        try:
            cold_run, n = runner.run(spark, build, runner.count)
        except Exception as exc:  # one bad query must not zero the round
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
            continue
        cold = runner.seconds(cold_run)
        total += cold
        try:
            warm_run, _ = runner.run(spark, build, runner.count)
            warm = round(runner.seconds(warm_run), 3)
        except Exception:  # warm timing is best-effort
            warm = None
        timings[name] = {
            "cold_sec": round(cold, 3),
            "warm_sec": warm,
            "cold_run": {
                k: round(v, 3) if isinstance(v, float) else v
                for k, v in cold_run.items()
            },
        }
        print(
            f"# {name}: {cold:.3f}s cold / {warm}s warm ({n} rows)",
            file=sys.stderr,
        )

    def guarded(key: str, error_key: str, measure, fallback: dict) -> dict:
        try:
            out = measure()
        except Exception as exc:
            errors[error_key] = f"{type(exc).__name__}: {exc}"[:500]
            out = fallback
        print(f"# {key}: {out}", file=sys.stderr)
        return out

    from vcf_pg_loader_spark import parse_bench as PB

    parse_n = int(os.environ.get("SPARK_GRAFT_PARSE_N", "2000000"))
    # VCF parse throughput (BASELINE.md row 1: reference claims 106k/s
    # single-process) — measured every round so the one directly
    # comparable reference number is tracked.  Reports the default
    # ("auto"-feature) scan and the full-featured scan separately.
    parse = guarded(
        "vcf_parse", "_vcf_parse",
        lambda: PB.parse_throughput(spark, parse_n),
        {"variants_per_sec": None, "variants": None,
         "rows_after_decomposition": None,
         "full_features_variants_per_sec": None},
    )
    # Same parse over ONE monolithic bgzipped file — the shape that is a
    # one-core scan on vanilla Spark; the BGZF range reader keeps it wide.
    parse_gz = guarded(
        "vcf_parse_bgzf", "_vcf_parse_bgzf",
        lambda: PB.parse_throughput_bgzf(spark, parse_n),
        {"variants_per_sec": None, "scan_tasks": None},
    )
    # GIAB-shaped parse (reference benchmark.py:379-447 benchmarks on a
    # GIAB v4.2.1-distribution generator): 83/16/1 SNP/indel/multiallelic
    # mix with long callset INFO strings — the shape that stresses the
    # normalizer and INFO tokenizer, reported beside the uniform rate.
    parse_giab = guarded(
        "vcf_parse_giab_shape", "_vcf_parse_giab",
        lambda: PB.parse_throughput_giab(
            spark, int(os.environ.get("SPARK_GRAFT_PARSE_GIAB_N", "1000000"))
        ),
        {"variants_per_sec": None},
    )

    evidence = {}
    for key, measure in {
        "skew_rehearsal": skew_rehearsal,
        "scaling_curve": scaling_curve,
        "ivf_kernel_compare": ivf_kernel_compare,
        "ann_aging": ann_aging_evidence,
        "pruned_maintenance": pruned_maintenance_evidence,
        "served_paths": served_paths,
        "bpe_encode": bpe_encode_throughput,
    }.items():
        evidence[key] = measure(spark, sf_dir)
        print(f"# {key}: {evidence[key]}", file=sys.stderr)
    skew, curve = evidence["skew_rehearsal"], evidence["scaling_curve"]
    kernels = evidence["ivf_kernel_compare"]

    # control BEFORE the drifter pass: its ratio vs last round's
    # committed control normalizes drift selection (box-speed changes
    # must neither mask real regressions nor manufacture fake ones)
    control = bench_control(spark, sf_dir)
    print(f"# control: {control}", file=sys.stderr)
    prev_ctrl = ((prev_detail or {}).get("control") or {}).get(
        "median_wall_sec"
    )
    control_ratio = (
        control["median_wall_sec"] / prev_ctrl if prev_ctrl else 1.0
    )
    drifters = drifter_remeasures(
        spark, sf_dir, timings, prev_detail, control_ratio
    )
    print(f"# drifter_remeasures: {drifters}", file=sys.stderr)
    warm_total = round(
        sum(t["warm_sec"] for t in timings.values() if t.get("warm_sec")), 3
    )
    ctrl = control["median_wall_sec"]
    warm_over_control = round(warm_total / ctrl, 2) if ctrl else None

    detail = {
        "control": control,
        "warm_total_sec": warm_total,
        "warm_over_control": warm_over_control,
        "sf": sf,
        "sf_dir": sf_dir,
        "total_sec": round(total, 3),
        "queries": timings,
        "errors": errors,
        "vcf_parse": parse,
        "vcf_parse_bgzf": parse_gz,
        "vcf_parse_giab_shape": parse_giab,
        "drifter_remeasures": drifters,
        **evidence,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    print(f"# full detail -> {detail_path}", file=sys.stderr)

    slowest = {
        k: v["cold_sec"]
        for k, v in sorted(
            timings.items(), key=lambda kv: kv[1]["cold_sec"], reverse=True
        )[:_TOP_N_IN_CONTRACT_LINE]
    }
    plain = skew.get("plain", {})
    salted = skew.get("salted", {})
    # ONE compact line for the driver (it parses stdout and keeps only a
    # bounded tail — keep this well under 2 KB; detail lives in
    # BENCH_DETAIL.json).
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_time",
                "value": round(total, 3),
                "unit": "sec",
                "sf": sf,
                "queries": slowest,
                "queries_total": len(timings),
                "queries_failed": len(errors),
                "vcf_parse_variants_per_sec": parse["variants_per_sec"],
                "vcf_parse_full_features_variants_per_sec": parse.get(
                    "full_features_variants_per_sec"
                ),
                "vcf_parse_bgzf_single_file_variants_per_sec": parse_gz[
                    "variants_per_sec"
                ],
                "vcf_parse_giab_shape_variants_per_sec": parse_giab.get(
                    "variants_per_sec"
                ),
                "skew_max_task_rows_plain": plain.get("max_task_rows"),
                "skew_max_task_rows_salted": salted.get("max_task_rows"),
                "scaling_2x_max_ratio": max(
                    (
                        q["ratio"]
                        for q in curve.get("queries", {}).values()
                        if q.get("ratio")
                    ),
                    default=None,
                ),
                "ivf_exact_over_fast": kernels.get("exact_over_fast"),
                "control_sec": control["median_wall_sec"],
                "warm_total_sec": warm_total,
                "warm_over_control": warm_over_control,
                "detail": "BENCH_DETAIL.json",
            }
        )
    )


if __name__ == "__main__":
    main()
