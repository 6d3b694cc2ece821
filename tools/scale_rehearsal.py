"""sf1-scale rehearsal of the maintained-state headline path
(round-12 verdict stretch item 8): the first measured point on the
curve toward the 100 TB design claims.

Generates a deterministic synthetic corpus 10x the sf0.1 documents
fixture (50k docs, same Zipfian word shape and length distribution),
then runs the EXACT trainer-facing loop the engine advertises:

  1. sync-corpus        — cluster state bootstrap + BPE-packed shard
                          layout + maintained vocabulary, one epoch
                          stamp over all states
  2. train-vocab        — corpus-pass BPE training (in memory, or
                          batched rounds past the driver bound)
  3. train-vocab --counts-state
                        — the no-corpus-pass retrain off the
                          maintained vocabulary
  4. export-shard --epoch
                        — epoch-pinned export of a shard subset
                          (reads O(requested shards))
  5. delta sync         — +1% new docs; the O(|delta|) claim measured,
                          including how many shard partitions rewrote
  6. pre-diffed delta   — the same small change via sync-corpus
                          --delta (the CDC feed path, no snapshot
                          self-diff, XOR-folded epoch stamp)

Round 14 adds per-stage ATTRIBUTION of the bootstrap's near-dup gate
(lsh_profile: band-bucket skew, candidate pairs, verify-join input
rows, verified pairs, CC rounds — the counters that localized the
round-13 "5.1x wall at 2x docs" to LSH false-candidate density) and
the collision-density knobs (--minhash-k/--bands/--threshold),
forwarded to every sync so the profile describes exactly the
parameters the sync ran.  --profile-only runs just the corpus gen +
profile.

Writes one JSON blob (default SCALE_r14.json at the repo root) with
per-step wall times, corpus/token totals, and the max per-shard row
count (the skew the hash assignment must bound).  Run on an idle box:

    python tools/scale_rehearsal.py [--docs 50000] [--out SCALE_r14.json]
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from vcf_pg_loader_spark import runner  # noqa: E402


def gen_corpus(spark, n_docs: int, seed: int, start_id: int = 0,
               mode: str = "zipf"):
    """Zipfian word corpus matching the documents fixture's shape
    (vocab ~2k types, 10-100 tokens/doc, 20 sources).

    mode="onekey" is the ADVERSARIAL shape for the bucket-size safety
    valve (round-14 verdict item 6): 90% of docs are the same
    boilerplate sentence (one hyper-dup LSH key — every band bucket it
    lands in is O(0.9·n) and the uncapped pairwise join is
    O(0.81·n²)), 10% normal Zipf docs."""
    vocab_size = 2000
    sc = spark.sparkContext
    boiler = ("click here to accept all cookies and continue to the "
              "requested site content today")

    def make_part(idx_iter):
        for i in idx_iter:
            rng = random.Random(seed * 1_000_003 + i)
            if mode == "onekey" and i % 10 != 0:
                yield (start_id + i, boiler, f"src{i % 20}")
                continue
            n = rng.randint(10, 100)
            words = [
                f"w{min(int(rng.paretovariate(1.1)), vocab_size)}"
                for _ in range(n)
            ]
            yield (start_id + i, " ".join(words), f"src{i % 20}")

    rdd = sc.parallelize(range(n_docs), 64).mapPartitions(
        lambda it: make_part(it)
    )
    return spark.createDataFrame(
        rdd, "doc_id bigint, text string, source string"
    ).select("doc_id", "text", "source")


def lsh_profile(spark, snap: str, ngram: int, k: int, bands: int,
                threshold: float, recall_sample_mod: int = 0,
                bucket_cap: int | None = None) -> dict:
    """Per-stage attribution of the bootstrap sync's near-dup gate
    (round-13 verdict item 1): the SAME operator pipeline the
    DedupClusterMaintSink bootstrap runs (shingle sets -> MinHash ->
    band -> candidate pairs -> exact-Jaccard verify -> connected
    components), instrumented with row counts and, per stage, the wall
    seconds, Spark jobs and stages of a `runner.phase` (`<stage>_sec`,
    `<stage>_jobs`, `<stage>_stages`), so superlinear growth can be
    localized rather than suspected.  Counts:

      band_bucket_max / candidate_pairs_pre_distinct — bucket-size skew
          and sum C(size,2) over band buckets, the pair volume the
          bucket join MUST emit before distinct (pure aggregate over
          bucket sizes, no join)
      candidate_pairs — |distinct (d1,d2)| entering verification
      verify_input_rows — sum over pairs of both sides' shingle counts
          (the set elements the verify joins bring to the pairs),
          computed from aggregates, not by materializing the join
      verified_pairs / cc_edges / cc_rounds — true near-dup edges and
          the label-propagation round count

    Every frame the profile persists is released before it returns.
    """
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from vcf_pg_loader_spark.operators import dedup as D

    prof: dict = {"ngram": ngram, "k": k, "bands": bands,
                  "threshold": threshold}
    docs = spark.read.parquet(snap).select("doc_id", "text")
    mem = StorageLevel.MEMORY_AND_DISK
    held: list = []

    def persist(df):
        held.append(df.persist(mem))
        return df

    try:
        with _stage(spark, prof, "shingle"):
            sets = persist(D.shingle_sets(docs, "doc_id", "text", ngram))
            prof["shingle_rows"] = int(
                sets.agg(F.sum("n_sh")).collect()[0][0] or 0
            )

        with _stage(spark, prof, "signature"):
            sig = persist(D.minhash_signatures(sets, k))
            prof["signature_rows"] = sig.count()

        with _stage(spark, prof, "bucket_stats"):
            banded = persist(D.lsh_band_table(sig, k, bands))
            buckets = (
                banded.groupBy("band_id", "band_key")
                .agg(F.count(F.lit(1)).alias("sz"))
                .agg(
                    F.count(F.lit(1)).alias("n_buckets"),
                    F.max("sz").alias("max_sz"),
                    F.sum(
                        (F.col("sz") * (F.col("sz") - 1) / 2).cast("bigint")
                    ).alias("pairs_pre"),
                )
                .collect()[0]
            )
        prof["band_buckets"] = int(buckets["n_buckets"])
        prof["band_bucket_max"] = int(buckets["max_sz"])
        prof["candidate_pairs_pre_distinct"] = int(buckets["pairs_pre"])

        with _stage(spark, prof, "candidate_pairs"):
            cands, routed = D.lsh_bucket_pairs(banded, bucket_cap)
            cands = persist(cands)
            prof["candidate_pairs"] = cands.count()
        if bucket_cap is not None:
            r = routed.agg(
                F.count(F.lit(1)).alias("nb"),
                F.coalesce(F.sum("sz"), F.lit(0)).alias("nr"),
            ).collect()[0]
            prof["bucket_cap"] = bucket_cap
            prof["routed_buckets"] = int(r["nb"])
            prof["routed_rows"] = int(r["nr"])

        with _stage(spark, prof, "verify"):
            sizes = sets.select("doc_id", "n_sh")
            vin = 0
            for side in ("d1", "d2"):
                vin += (
                    cands.groupBy(side)
                    .agg(F.count(F.lit(1)).alias("np"))
                    .join(sizes, F.col(side) == F.col("doc_id"))
                    .agg(F.sum(F.col("np") * F.col("n_sh")))
                    .collect()[0][0]
                    or 0
                )
            prof["verify_input_rows"] = int(vin)
            verified = persist(
                D.verify_candidate_jaccard(cands, sets, threshold)
            )
            prof["verified_pairs"] = verified.count()

        with _stage(spark, prof, "cc"):
            cc_stats: dict = {}
            D.connected_components(
                verified.select("d1", "d2"), stats=cc_stats
            ).count()
        prof.update(cc_stats)
    finally:
        for df in held:
            df.unpersist()

    if recall_sample_mod:
        # the recall side of the cost/recall trade (round-14 verdict
        # item 2): sampled exact-Jaccard truth vs banded-candidate
        # coverage under THESE (k, bands) — recorded per scale point so
        # an operator raising --minhash-k can read what the tightened
        # s-curve misses, not just what it saves.  One runner.run:
        # it releases the sample's persisted sets and band table.
        rec, rs = runner.run(
            spark,
            lambda: D.lsh_recall_sample(
                docs, "doc_id", "text", ngram, k, bands, threshold,
                sample_mod=recall_sample_mod,
            ),
            lambda df: df.collect()[0],
        )
        prof["recall_sample"] = {
            "sample_mod": recall_sample_mod,
            "n_sample_docs": int(rs["n_sample_docs"]),
            "n_true_pairs": int(rs["n_true_pairs"]),
            "n_banded_pairs": int(rs["n_banded_pairs"]),
            "recall": float(rs["recall"]),
        }
        prof["recall_sample_sec"] = round(runner.seconds(rec), 2)
        prof["recall_sample_jobs"] = rec["build_jobs"] + rec["exec_jobs"]
        prof["recall_sample_stages"] = (
            rec["build_stages"] + rec["exec_stages"]
        )
    return prof


@contextlib.contextmanager
def _stage(spark, prof: dict, name: str):
    """A `runner.phase` that records its seconds, jobs and stages into
    `prof` as `<name>_sec`, `<name>_jobs` and `<name>_stages`."""
    with runner.phase(spark, name) as rec:
        yield
    prof[f"{name}_sec"] = round(rec["sec"], 2)
    prof[f"{name}_jobs"] = rec["jobs"]
    prof[f"{name}_stages"] = rec["stages"]


def run_cli(*argv) -> tuple[float, str]:
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    # 100k-doc syncs hit JVM GCLocker alloc stalls at the 8g default
    # (heavy parallel Arrow allocation during the cluster-state cache
    # build); the rehearsal box has headroom — use it
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    # the child's Spark jobs run in its own JVM, which no phase of this
    # session can count: its wall is the one figure to record
    t0 = time.monotonic()
    r = subprocess.run(
        [sys.executable, "-m", "vcf_pg_loader_spark.cli", *argv],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
    )
    wall = time.monotonic() - t0
    if r.returncode != 0:
        raise RuntimeError(
            f"cli {argv[0]} rc={r.returncode}\n{r.stdout[-2000:]}\n"
            f"{r.stderr[-2000:]}"
        )
    return wall, r.stdout.strip().splitlines()[-1]


def main() -> int:
    from vcf_pg_loader_spark.queries.pipeline import (
        JACCARD_T,
        MINHASH_BANDS,
        MINHASH_K,
        NGRAM,
    )

    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=50_000)
    ap.add_argument("--out", default=os.path.join(REPO, "SCALE_r14.json"))
    ap.add_argument("--n-merges", type=int, default=512)
    ap.add_argument("--keep-workdir", action="store_true")
    # LSH collision-density knobs (round-13 verdict item 1): forwarded
    # to every sync-corpus call AND to the attribution profile, so the
    # measured pair counts describe exactly the parameters the sync ran
    ap.add_argument("--ngram", type=int, default=NGRAM)
    ap.add_argument("--minhash-k", type=int, default=MINHASH_K)
    ap.add_argument("--bands", type=int, default=MINHASH_BANDS)
    ap.add_argument("--threshold", type=float, default=JACCARD_T)
    ap.add_argument("--profile-only", action="store_true",
                    help="generate the corpus and run the per-stage LSH "
                         "attribution profile, skipping the timed "
                         "sync/train/export steps")
    ap.add_argument("--recall-sample", type=int, default=4,
                    metavar="MOD",
                    help="sample modulus for the LSH recall estimate "
                         "recorded in lsh_profile (docs with "
                         "h60(doc_id) %% MOD == 0; 0 disables)")
    ap.add_argument("--bucket-cap", type=int,
                    help="per-band bucket-size safety valve (round-14 "
                         "verdict item 6): forwarded to the profile "
                         "and to every sync-corpus call; routed "
                         "bucket/row counts recorded")
    ap.add_argument("--corpus",
                    help="use this parquet (doc_id, text[, source]) as "
                         "the rehearsal corpus instead of the "
                         "synthetic generator — lets the density/"
                         "recall numbers be reproduced on realistic "
                         "text (round-14 verdict stretch item 8); "
                         "--docs is ignored for the base corpus")
    ap.add_argument("--corpus-mode", default="zipf",
                    choices=("zipf", "onekey"),
                    help="synthetic corpus shape: zipf (default) or "
                         "the adversarial one-key hyper-dup corpus "
                         "(90%% identical boilerplate) the bucket cap "
                         "is designed for")
    ap.add_argument("--seq-index", action="store_true",
                    help="also maintain the sequence-shingle posting "
                         "index through the bootstrap sync and record "
                         "its storage: posting rows, on-disk bytes, "
                         "and the EXACT raw-string payload the "
                         "round-15 h60 representation replaced "
                         "(sum of shingle string lengths, recomputed "
                         "from the same packed stream)")
    ap.add_argument("--serve-syncs", type=int, default=0, metavar="N",
                    help="after the timed steps, generate N successive "
                         "5-doc pre-diffed feeds and apply them via "
                         "ONE sync-serve session; records per-sync "
                         "wall and the marginal warm sync cost "
                         "(round-14 verdict item 5)")
    args = ap.parse_args()

    from vcf_pg_loader_spark.session import get_spark

    spark = get_spark(app_name="scale-rehearsal")
    work = tempfile.mkdtemp(prefix="scale_rehearsal_")
    lsh_args = [
        "--ngram", str(args.ngram), "--minhash-k", str(args.minhash_k),
        "--bands", str(args.bands), "--threshold", str(args.threshold),
    ]
    if args.bucket_cap is not None:
        lsh_args += ["--bucket-cap", str(args.bucket_cap)]
    report: dict = {
        "n_docs": args.docs,
        "n_merges": args.n_merges,
        "corpus_mode": args.corpus_mode,
        "lsh_params": {
            "ngram": args.ngram, "k": args.minhash_k,
            "bands": args.bands, "threshold": args.threshold,
            "bucket_cap": args.bucket_cap,
        },
    }
    try:
        snap = os.path.join(work, "snap.parquet")
        with _stage(spark, report, "gen"):
            if args.corpus:
                from pyspark.sql import functions as F

                ext = spark.read.parquet(args.corpus)
                if "source" not in ext.columns:
                    ext = ext.withColumn("source", F.lit("external"))
                ext = ext.select("doc_id", "text", "source")
                ext.write.parquet(snap)
                report["corpus"] = args.corpus
                report["n_docs"] = ext.count()
            else:
                gen_corpus(
                    spark, args.docs, seed=13, mode=args.corpus_mode
                ).write.parquet(snap)

        report["lsh_profile"] = lsh_profile(
            spark, snap, args.ngram, args.minhash_k, args.bands,
            args.threshold, recall_sample_mod=args.recall_sample,
            bucket_cap=args.bucket_cap,
        )
        if args.profile_only:
            with open(args.out, "w") as fh:
                json.dump(report, fh, indent=1, sort_keys=True)
            print(json.dumps(report, sort_keys=True))
            if not args.keep_workdir:
                shutil.rmtree(work, ignore_errors=True)
            return 0

        vocab = os.path.join(work, "vocab.json")
        w, out = run_cli(
            "train-vocab", "--corpus", snap, "--out", vocab,
            "--n-merges", str(args.n_merges),
        )
        report["train_vocab_sec"] = round(w, 2)
        report["train_vocab"] = json.loads(out)

        state = os.path.join(work, "cluster")
        shards = os.path.join(work, "shards")
        vstate = os.path.join(work, "vstate")
        kept = os.path.join(work, "kept.parquet")
        seqidx = os.path.join(work, "seqidx")
        seq_args = ["--seq-index-state", seqidx] if args.seq_index else []
        w, out = run_cli(
            "sync-corpus", "--state", state, "--snapshot", snap,
            "--batch-id", "0", "--shards-state", shards,
            "--shards-merges", vocab, "--vocab-state", vstate,
            "--out", kept, *lsh_args, *seq_args,
        )
        report["sync_bootstrap_sec"] = round(w, 2)
        sync_rep = json.loads(out)
        report["sync_bootstrap"] = sync_rep

        if args.seq_index:
            # storage accounting for the h60 posting representation
            # (round-14 verdict item 4): posting rows + on-disk bytes
            # vs the EXACT raw-string payload those rows would carry
            # under the pre-round-15 representation, recomputed from
            # the same packed stream with the same window arithmetic
            from pyspark.sql import functions as F

            from vcf_pg_loader_spark.cli import (
                _load_merges_artifact,
                _sink_kwargs_from_state,
            )
            from vcf_pg_loader_spark.operators.shards import (
                shard_sequences,
            )
            from vcf_pg_loader_spark.streaming.seqdecontam import (
                sequence_shingle_table,
            )
            from vcf_pg_loader_spark.streaming.shards import (
                TrainingShardSink,
            )

            post_dir = os.path.join(seqidx, "post")
            disk = 0
            for root, _dirs, files in os.walk(post_dir):
                for f in files:
                    disk += os.stat(os.path.join(root, f)).st_size
            kw, _p = _sink_kwargs_from_state(shards)
            tok_kw, _art = _load_merges_artifact(vocab)
            kw.update(tok_kw)
            shard_sink = TrainingShardSink(shards, **kw)
            corpus_df = spark.read.parquet(kept).select("doc_id", "text")
            seqs = shard_sink.materialize_sequences(spark, corpus_df)
            spans = shard_sequences(
                shard_sink.layout(spark), shard_sink.seq_len
            )
            sep = "\x1f"  # BPE piece space: the rehearsal packs --shards-merges
            sh = sequence_shingle_table(seqs, spans, args.ngram, sep)
            agg = sh.agg(
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(
                    F.sum(F.length("shingle")), F.lit(0)
                ).alias("raw_bytes"),
            ).collect()[0]
            report["seq_index"] = {
                "post_rows": int(agg["rows"]),
                "post_bytes_disk": disk,
                "hashed_payload_bytes": int(agg["rows"]) * 8,
                "raw_shingle_payload_bytes": int(agg["raw_bytes"]),
                "payload_ratio": round(
                    int(agg["raw_bytes"])
                    / max(int(agg["rows"]) * 8, 1), 2
                ),
            }

        w, out = run_cli(
            "train-vocab", "--counts-state", vstate,
            "--out", os.path.join(work, "vocab2.json"),
            "--n-merges", str(args.n_merges),
        )
        report["retrain_counts_state_sec"] = round(w, 2)

        w, out = run_cli(
            "export-shard", "--state", shards, "--corpus", kept,
            "--merges", vocab, "--out", os.path.join(work, "export"),
            "--shards", "0,1", "--epoch", str(sync_rep["epoch_fp"]),
        )
        report["export_two_shards_sec"] = round(w, 2)
        report["export"] = json.loads(out)

        # shard balance: the hash assignment's skew at this scale
        from pyspark.sql import functions as F

        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        man = TrainingShardSink(shards).manifest(spark)
        bal = man.agg(
            F.max("n_docs").alias("max_docs"),
            F.min("n_docs").alias("min_docs"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("total_tokens"),
        ).collect()[0]
        report["shard_max_docs"] = int(bal["max_docs"])
        report["shard_min_docs"] = int(bal["min_docs"])
        report["shard_max_tokens"] = int(bal["max_tokens"])
        report["total_tokens"] = int(bal["total_tokens"])

        # +1% delta: the O(|delta|) sync — and how much actually rewrote
        lay_dir = os.path.join(shards, "layout")

        def file_inodes():
            out = {}
            for d in os.listdir(lay_dir):
                if d.startswith("shard="):
                    out[d] = sorted(
                        os.stat(os.path.join(lay_dir, d, f)).st_ino
                        for f in os.listdir(os.path.join(lay_dir, d))
                        if f.endswith(".parquet")
                    )
            return out

        before = file_inodes()
        delta_docs = gen_corpus(
            spark, args.docs // 100, seed=29, start_id=10_000_000
        )
        snap2 = os.path.join(work, "snap2.parquet")
        spark.read.parquet(snap).unionByName(delta_docs).write.parquet(
            snap2
        )
        w, out = run_cli(
            "sync-corpus", "--state", state, "--snapshot", snap2,
            "--batch-id", "1", "--shards-state", shards,
            "--shards-merges", vocab, "--vocab-state", vstate,
            *lsh_args,
        )
        report["sync_delta_1pct_sec"] = round(w, 2)
        after = file_inodes()
        rewritten = sum(
            1 for d in before if after.get(d) != before[d]
        )
        report["delta_shard_dirs_rewritten"] = rewritten
        report["delta_shard_dirs_total"] = len(before)
        report["delta_ratio_wall"] = round(
            report["sync_delta_1pct_sec"] / report["sync_bootstrap_sec"], 3
        )

        # a SMALL delta (5 docs): with n_shards=16 a uniform 1% delta
        # legitimately touches every shard, so the touched-shards-only
        # write pruning only shows on deltas smaller than the shard
        # count — the common steady-state shape (a few documents
        # corrected between snapshots)
        before = file_inodes()
        tiny = gen_corpus(spark, 5, seed=31, start_id=20_000_000)
        snap3 = os.path.join(work, "snap3.parquet")
        spark.read.parquet(snap2).unionByName(tiny).write.parquet(snap3)
        w, out = run_cli(
            "sync-corpus", "--state", state, "--snapshot", snap3,
            "--batch-id", "2", "--shards-state", shards,
            "--shards-merges", vocab, "--vocab-state", vstate,
            *lsh_args,
        )
        report["sync_delta_5doc_sec"] = round(w, 2)
        after = file_inodes()
        report["tiny_delta_shard_dirs_rewritten"] = sum(
            1 for d in before if after.get(d) != before[d]
        )

        # the same 5-doc-scale change as a PRE-DIFFED CDC feed
        # (sync-corpus --delta, round-13 verdict item 2): no snapshot
        # self-diff scan, epoch fingerprint folded forward in XOR
        # algebra — the O(|delta|) end-to-end path
        tiny2 = gen_corpus(spark, 5, seed=41, start_id=30_000_000)
        feed_pq = os.path.join(work, "delta_feed.parquet")
        tiny2.withColumn(
            "_mult", F.lit(1).cast("bigint")
        ).write.parquet(feed_pq)
        w, out = run_cli(
            "sync-corpus", "--state", state, "--delta", feed_pq,
            "--batch-id", "3", "--shards-state", shards,
            "--shards-merges", vocab, "--vocab-state", vstate,
            *lsh_args,
        )
        report["sync_delta_5doc_prediffed_sec"] = round(w, 2)

        if args.serve_syncs:
            # the session-reuse loop (round-14 verdict item 5): the
            # 5-doc sync's 36-43 s was measured to be 100% fixed
            # JVM/session startup + DAG scheduling — apply N successive
            # 5-doc feeds through ONE sync-serve session and record
            # what a warm sync actually costs at the margin
            feeds = os.path.join(work, "serve_feeds")
            os.makedirs(feeds, exist_ok=True)
            for i in range(args.serve_syncs):
                gen_corpus(
                    spark, 5, seed=61 + i, start_id=40_000_000 + i * 100
                ).withColumn(
                    "_mult", F.lit(1).cast("bigint")
                ).write.parquet(os.path.join(feeds, str(100 + i)))
            w, out = run_cli(
                "sync-serve", "--feeds", feeds, "--",
                "--state", state, "--shards-state", shards,
                "--shards-merges", vocab, "--vocab-state", vstate,
                *lsh_args,
            )
            serve_rep = json.loads(out)
            report["sync_serve"] = {
                "total_wall_sec": round(w, 2),
                "n_syncs": serve_rep["n_syncs"],
                "session_init_sec": serve_rep["session_init_sec"],
                "warm_marginal_median_sec":
                    serve_rep["warm_marginal_median_sec"],
                "sync_walls_sec": [
                    s["wall_sec"] for s in serve_rep["syncs"]
                ],
            }
    finally:
        if not args.keep_workdir:
            shutil.rmtree(work, ignore_errors=True)
        else:
            report["workdir"] = work

    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(json.dumps(report, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
