"""CLI mirroring the reference's command surface (cli.py:245-1502) on the
Spark engine.  A user of `vcf-pg-loader <cmd>` finds the same commands
here: `python -m vcf_pg_loader_spark.cli <cmd>` — Postgres becomes a
Parquet store rooted at --store (plus an optional JDBC sink).

Commands: load, validate, import-gwas, import-pgs, load-reference,
annotate-ld-blocks, compute-sample-qc, refresh-views, annotate,
annotation-query, export-{plink,prs-cs,ldpred2,prsice}, benchmark,
import-frequencies, ld-block-stats, compact, build-rsid-index — plus
the pipeline extensions `profile` (sketch-composed ANALYZE) and
`dedup-corpus` (near-dup dedup with a persisted cluster table).

HIPAA/auth/PHI subcommands (reference cli.py:2419-7005) are compliance
tooling, not analytics — out of scope (SURVEY §7.0)."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _spark():
    from vcf_pg_loader_spark.session import get_spark

    return get_spark(app_name="vcf-pg-loader-spark-cli")


def _sink_kwargs_from_state(state_dir: str):
    """Read a shard state's persisted `_params.json` once and return
    (sink_kwargs, persisted_params_or_None).  Every verb that rebuilds
    a TrainingShardSink against an existing layout goes through here so
    a new packing parameter added to the sink is picked up by ALL of
    them (round-12 advice: the block was copy-pasted in four commands
    with hardcoded 16/512 defaults; a key added in one place but not
    the others silently rebuilt sinks with defaults).  Defaults come
    from the shared operators.shards constants, not literals."""
    from vcf_pg_loader_spark.durable import read_json
    from vcf_pg_loader_spark.operators.shards import N_SHARDS, SEQ_LEN

    persisted = read_json(os.path.join(state_dir, "_params.json"))
    if persisted is None:
        return {}, None
    kw = {
        "n_shards": persisted.get("n_shards", N_SHARDS),
        "seq_len": persisted.get("seq_len", SEQ_LEN),
        "doc_sep": persisted.get("doc_sep", 0),
        "max_doc_tokens": persisted.get("max_doc_tokens"),
    }
    if "token_mode" in persisted:
        kw["token_mode"] = persisted["token_mode"]
    if "max_chars" in persisted:
        kw["max_chars"] = persisted["max_chars"]
    if "curriculum" in persisted:
        kw["curriculum"] = persisted["curriculum"]
    return kw, persisted


def _load_merges_artifact(path: str) -> tuple[dict, dict]:
    """Read a train-vocab artifact into (TrainingShardSink kwargs, the
    raw artifact): the merge table, the TOKENIZER fingerprint
    downstream state refuses on, and the pre-segmentation mode the
    merges were learned under (chars mode changes every token length,
    so a sink built from this dict fingerprints it too).  vocab_fp is
    tokenizer identity — merges + mode + max_chars — NOT corpus_fp:
    retraining the same corpus with a different --n-merges must refuse
    against a layout packed under the old merges (round-13 advice
    item 2).  Artifacts stamped before tokenizer_fp existed get it
    recomputed from their own contents, so old files keep loading.
    The raw artifact rides along for consumers that need more than the
    sink does (e.g. the id-assignment alphabet for --emit-ids)."""
    from vcf_pg_loader_spark.operators.bpe import tokenizer_fingerprint

    with open(path) as fh:
        art = json.load(fh)
    merges = [tuple(m) for m in art["merges"]]
    mode = art.get("mode", "words")
    max_chars = art.get("max_chars")
    kw = {
        "merges": merges,
        "vocab_fp": art.get(
            "tokenizer_fp", tokenizer_fingerprint(merges, mode, max_chars)
        ),
        "token_mode": mode,
        # pre-round-14 layouts were stamped vocab_fp=corpus_fp; passing
        # the artifact's corpus_fp lets TrainingShardSink recognize its
        # own legacy stamp and restamp in place instead of refusing
        "legacy_vocab_fp": art.get("corpus_fp"),
    }
    if max_chars is not None:
        kw["max_chars"] = max_chars
    return kw, art


def cmd_load(args) -> int:
    from vcf_pg_loader_spark.sources.store import VariantStore
    from vcf_pg_loader_spark.sources.vcf import read_vcf

    spark = _spark()
    store = VariantStore(spark, args.store)
    features = (
        args.features
        if args.features in ("auto", "all")
        else tuple(f for f in args.features.split(",") if f)
    )
    df = read_vcf(
        spark,
        args.vcf,
        normalize=args.normalize,
        human_genome=not args.non_human,
        min_info_score=args.min_info_score,
        features=features,
    )
    res = store.load(df, args.vcf, force=args.force)
    print(
        json.dumps(
            {
                "batch_id": res.batch_id,
                "variants_loaded": res.variants_loaded,
                "skipped": res.skipped,
                "file_hash": res.file_hash,
                "duration_sec": round(res.duration_sec, 3),
            }
        )
    )
    return 0


def cmd_validate(args) -> int:
    """Duplicate detection + counts (reference cli.py:552-561)."""
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.sources.vcf import read_vcf

    spark = _spark()
    df = read_vcf(spark, args.vcf).cache()
    n = df.count()
    dups = (
        df.groupBy("chrom", "pos", "ref", "alt")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    by_type = {
        r.variant_type: r["count"]
        for r in df.groupBy("variant_type").count().collect()
    }
    print(json.dumps({"records": n, "duplicate_sites": dups, "by_type": by_type}))
    return 0 if dups == 0 else 1


def cmd_import_gwas(args) -> int:
    from vcf_pg_loader_spark.operators.matching import match_gwas_to_variants
    from vcf_pg_loader_spark.sources.store import VariantStore
    from vcf_pg_loader_spark.sources.tsv import read_gwas_ssf

    spark = _spark()
    stats = read_gwas_ssf(spark, args.tsv)
    from pyspark.sql import functions as F

    variants = (
        VariantStore(spark, args.store)
        .read()
        .withColumn("variant_id", F.monotonically_increasing_id())
    )
    matched = match_gwas_to_variants(stats, variants).cache()
    n_match = matched.filter(F.col("variant_id").isNotNull()).count()
    n_total = matched.count()
    matched.write.mode("overwrite").parquet(f"{args.store}/gwas_summary_stats")
    print(json.dumps({"imported": n_total, "matched": n_match,
                      "unmatched": n_total - n_match}))
    return 0


def cmd_import_pgs(args) -> int:
    from vcf_pg_loader_spark.sources.tsv import read_pgs_catalog, read_pgs_header

    spark = _spark()
    meta = read_pgs_header(args.file)
    weights = read_pgs_catalog(spark, args.file)
    n = weights.count()
    weights.write.mode("overwrite").parquet(f"{args.store}/prs_weights")
    print(json.dumps({"pgs_id": meta.get("pgs_id"), "weights": n}))
    return 0


def cmd_load_reference(args) -> int:
    from vcf_pg_loader_spark.sources.tsv import read_hapmap3

    spark = _spark()
    panel = read_hapmap3(spark, args.tsv, build=args.build)
    n = panel.count()
    panel.write.mode("overwrite").parquet(f"{args.store}/reference_panels")
    print(json.dumps({"panel": f"hapmap3_{args.build.lower()}", "variants": n}))
    return 0


def cmd_annotate_ld_blocks(args) -> int:
    from vcf_pg_loader_spark.operators.matching import assign_ld_blocks
    from vcf_pg_loader_spark.sources.store import VariantStore
    from vcf_pg_loader_spark.sources.tsv import read_ld_blocks

    spark = _spark()
    blocks = read_ld_blocks(spark, args.bed, population=args.population,
                            build=args.build)
    store = VariantStore(spark, args.store)
    out = assign_ld_blocks(store.read(), blocks)
    from pyspark.sql import functions as F

    n = out.filter(F.col("ld_block_id").isNotNull()).count()
    out.write.mode("overwrite").parquet(f"{args.store}/variants_ld")
    print(json.dumps({"assigned": n}))
    return 0


def cmd_compute_sample_qc(args) -> int:
    from vcf_pg_loader_spark.qc.sample_qc import sample_qc
    from vcf_pg_loader_spark.sources.vcf import read_genotypes

    spark = _spark()
    from pyspark.sql import functions as F

    gts = read_genotypes(spark, args.vcf)
    gts = gts.withColumn("alt", F.element_at(F.col("alts"), 1)).drop("alts")
    out = sample_qc(gts)
    out.write.mode("overwrite").parquet(f"{args.store}/sample_qc")
    for r in out.collect():
        print(
            json.dumps(
                {
                    "sample_id": r.sample_id,
                    "call_rate": r.call_rate,
                    "ti_tv_ratio": r.ti_tv_ratio,
                    "sex_inferred": r.sex_inferred,
                    "qc_pass": r.qc_pass,
                }
            )
        )
    return 0


def cmd_refresh_views(args) -> int:
    from vcf_pg_loader_spark.plans.views import (
        chromosome_variant_counts,
        refresh_view,
        variant_qc_summary,
    )
    from vcf_pg_loader_spark.sources.store import VariantStore

    spark = _spark()
    variants = VariantStore(spark, args.store).read()
    from pyspark.sql import functions as F

    # columns the QC views need may be absent pre-QC — default them
    for col, typ in [("in_hapmap3", "boolean"), ("call_rate", "double"),
                     ("hwe_p", "double"), ("maf", "double")]:
        if col not in variants.columns:
            variants = variants.withColumn(col, F.lit(None).cast(typ))
    t0 = time.time()
    refresh_view(variant_qc_summary(variants), f"{args.store}/views/variant_qc_summary",
                 "variant_qc_summary")
    refresh_view(chromosome_variant_counts(variants),
                 f"{args.store}/views/chromosome_variant_counts",
                 "chromosome_variant_counts")
    print(json.dumps({"refreshed": 2, "sec": round(time.time() - t0, 3)}))
    return 0


def cmd_annotation_query(args) -> int:
    """Raw SQL passthrough over the store (reference cli.py:1454-1502)."""
    from vcf_pg_loader_spark.sources.store import VariantStore

    spark = _spark()
    VariantStore(spark, args.store).read().createOrReplaceTempView("variants")
    rows = spark.sql(args.sql)
    out = [r.asDict(recursive=True) for r in rows.limit(args.limit).collect()]
    print(json.dumps(out, default=str))
    return 0


def cmd_annotate(args) -> int:
    from vcf_pg_loader_spark.operators.annotate import AnnotationRegistry, annotate
    from vcf_pg_loader_spark.sources.store import VariantStore

    spark = _spark()
    registry = AnnotationRegistry()
    for spec in args.source or []:
        name, path = spec.split("=", 1)
        registry.register(name, spark.read.parquet(path))
    out = annotate(
        VariantStore(spark, args.store).read(),
        registry,
        filter_expr=args.filter,
        limit=args.limit,
    )
    for r in out.collect():
        print(json.dumps(r.asDict(recursive=True), default=str))
    return 0


def _export(args, fmt: str) -> int:
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.prs import export as E
    from vcf_pg_loader_spark.sources.store import VariantStore

    spark = _spark()
    stats = spark.read.parquet(f"{args.store}/gwas_summary_stats")
    variants = (
        VariantStore(spark, args.store)
        .read()
        .withColumn("variant_id", F.monotonically_increasing_id())
    )
    vfilter = E.VariantFilter(
        hapmap3_only=args.hapmap3_only,
        min_info_score=args.min_info,
        min_maf=args.min_maf,
    )
    frame = {
        "plink": E.plink_score_frame,
        "prs-cs": E.prs_cs_frame,
        "ldpred2": E.ldpred2_frame,
        "prsice": E.prsice2_frame,
    }[fmt](stats, variants, vfilter=vfilter)
    E.write_tsv(frame, args.out)
    print(json.dumps({"format": fmt, "rows": frame.count(), "path": args.out}))
    return 0


def cmd_score(args) -> int:
    """Compute per-sample PRS from a VCF's genotypes + imported weights
    (docs/prs-workflows.md:174-181, 291-296)."""
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.prs.scoring import score_samples, standardize
    from vcf_pg_loader_spark.sources.vcf import read_genotypes

    spark = _spark()
    gts = read_genotypes(spark, args.vcf)
    gts = gts.withColumn("alt", F.element_at(F.col("alts"), 1)).drop("alts")
    # weights keyed on (canonical chrom, pos, effect allele as ALT)
    weights = spark.read.parquet(f"{args.store}/prs_weights").select(
        F.concat(F.lit("chr"), F.regexp_replace("chrom", "^chr", "")).alias(
            "chrom"
        ),
        "pos",
        F.col("effect_allele").alias("alt"),
        "effect_weight",
    )
    scores = standardize(
        score_samples(gts, weights, key=["chrom", "pos", "alt"])
    )
    for r in scores.collect():
        print(
            json.dumps(
                {
                    "sample_id": r.sample_id,
                    "prs_raw": r.prs_raw,
                    "prs_z": r.prs_z,
                    "n_variants_used": r.n_variants_used,
                }
            )
        )
    return 0


def cmd_import_frequencies(args) -> int:
    """Population-frequency import from a gnomAD-annotated VCF
    (reference cli.py:1194-1341): per-population AF/AC/AN/nhomalt into a
    long-format population_frequencies table, plus popmax (ASJ/FIN
    excluded) unless --no-update-popmax."""
    from vcf_pg_loader_spark.operators.popfreq import (
        gnomad_frequencies_long,
        popmax,
    )
    from vcf_pg_loader_spark.sources.vcf import read_vcf

    spark = _spark()
    variants = read_vcf(spark, args.vcf, normalize=True)
    freqs = gnomad_frequencies_long(variants, source=args.source)
    freq_path = f"{args.store}/population_frequencies"
    freqs.write.mode("overwrite").parquet(freq_path)
    loaded = spark.read.parquet(freq_path)
    summary = {"frequency_rows": loaded.count(), "source": args.source}
    if args.update_popmax:
        pm_path = f"{args.store}/popmax"
        popmax(loaded).write.mode("overwrite").parquet(pm_path)
        summary["popmax_variants"] = spark.read.parquet(pm_path).count()
    print(json.dumps(summary))
    return 0


def cmd_ld_block_stats(args) -> int:
    """Rollup of a loaded LD-block BED (references/ld_blocks.py:221-268)."""
    from vcf_pg_loader_spark.operators.matching import ld_block_stats
    from vcf_pg_loader_spark.sources.tsv import read_ld_blocks

    spark = _spark()
    blocks = read_ld_blocks(
        spark, args.bed, population=args.population, build=args.build
    )
    rows = ld_block_stats(blocks, population=None).collect()
    print(json.dumps([r.asDict() for r in rows]))
    return 0


def cmd_benchmark(args) -> int:
    """Synthetic parse benchmark (reference benchmark.py shape;
    --giab switches to the GIAB v4.2.1-distribution generator the
    reference's `giab=True` flag produces — benchmark.py:379-447)."""
    from vcf_pg_loader_spark.parse_bench import (
        parse_throughput,
        parse_throughput_giab,
    )

    spark = _spark()
    fn = parse_throughput_giab if args.giab else parse_throughput
    print(json.dumps(fn(spark, args.variants)))
    return 0


def cmd_build_rsid_index(args) -> int:
    """Materialize the rsid-sorted secondary copy for point lookups
    (rebuild after loads, like the reference's index recreation)."""
    from vcf_pg_loader_spark.sources.store import VariantStore

    store = VariantStore(_spark(), args.store)
    store.build_rsid_index(files=args.files)
    print(json.dumps({"rsid_index": store.rsid_index_path}))
    return 0


def cmd_compact(args) -> int:
    """Rewrite append-fragmented store partitions into pos-sorted
    target-size files (small-files maintenance; row identity preserved)."""
    from vcf_pg_loader_spark.sources.store import VariantStore

    store = VariantStore(_spark(), args.store)
    before = store.file_count()
    res = store.compact(target_rows_per_file=args.target_rows)
    print(
        json.dumps(
            {**res, "files_before": before, "files_after": store.file_count()}
        )
    )
    return 0


def cmd_profile(args) -> int:
    """ANALYZE-style profile of any parquet table: row count, per-key
    exact + KMV cardinality, HDR quantiles for a numeric column, null
    rates — the engine's sketches composed into one report (the
    q_profile_events pattern, generalized)."""
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.operators import histogram as H
    from vcf_pg_loader_spark.operators import sketch as SK

    spark = _spark()
    df = spark.read.parquet(args.path).withColumn("_g", F.lit(1))
    out: dict = {"path": args.path, "n_rows": df.count()}
    if args.key:
        out[f"{args.key}_distinct_exact"] = (
            df.agg(F.countDistinct(args.key)).first()[0]
        )
        est = SK.kmv_estimate(SK.kmv_sketch(df, ["_g"], args.key)).first()
        out[f"{args.key}_distinct_kmv"] = est["n_distinct_est"]
    if args.column:
        qs = [0.5, 0.9, 0.99]
        rows = H.hdr_quantiles(
            H.hdr_partial(df, ["_g"], args.column), ["_g"], qs
        ).collect()
        for r in rows:
            out[f"{args.column}_p{int(r.q * 100)}_est"] = r.quantile_est
        out[f"{args.column}_null_rate"] = df.agg(
            F.avg(F.col(args.column).isNull().cast("int"))
        ).first()[0]
    print(json.dumps(out, sort_keys=True))
    return 0


def cmd_dedup_corpus(args) -> int:
    """Near-dup dedup a (doc_id, text) parquet corpus: MinHash-LSH +
    connected components, persist the cluster table
    (sources/cluster_store.py), write the kept corpus.  Re-running
    serves keep-decisions from the materialized clusters."""
    from vcf_pg_loader_spark.operators import dedup as D
    from vcf_pg_loader_spark.sources.cluster_store import DedupClusterStore

    spark = _spark()
    docs = spark.read.parquet(args.corpus)
    store = DedupClusterStore(spark, args.clusters)
    if args.rebuild or not store.exists():
        pairs = D.minhash_lsh_dedup(
            docs, "doc_id", "text",
            args.ngram, args.minhash_k, args.bands, args.threshold,
            bucket_cap=getattr(args, "bucket_cap", None),
        )
        cc = D.connected_components(pairs.select("d1", "d2"), "d1", "d2")
        store.write(cc)
    kept = store.serve_keep(docs, "doc_id")
    kept.write.mode("overwrite").parquet(args.out)
    n_in, n_out = docs.count(), spark.read.parquet(args.out).count()
    print(
        json.dumps(
            {
                "docs_in": n_in,
                "docs_kept": n_out,
                "docs_dropped": n_in - n_out,
                "clusters": args.clusters,
                "out": args.out,
            }
        )
    )
    return 0


def cmd_retract_corpus(args) -> int:
    """Apply one Z-set batch to the retraction-maintained cluster state
    (streaming/retract.py DedupClusterMaintSink) — the takedown/GDPR
    path: a parquet batch carries inserts (_mult=+1, with text) and
    retractions (_mult=-1), or --delete-ids names a parquet of doc ids
    to retract.  Deletions drop the docs, their LSH band rows, and
    their incident verified pairs, then re-run connected components
    over the remaining PAIR table only — no re-shingling of survivors,
    ever.  Exactly-once per --batch-id (replays are no-ops), so a retry
    after a crash converges."""
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.operators.ivm import MULT
    from vcf_pg_loader_spark.streaming.retract import DedupClusterMaintSink

    spark = _spark()
    sink = DedupClusterMaintSink(
        args.state, args.ngram, args.minhash_k, args.bands, args.threshold,
        getattr(args, "bucket_cap", None),
    )
    if args.batch:
        batch = spark.read.parquet(args.batch)
    else:
        ids = spark.read.parquet(args.delete_ids)
        batch = (
            ids.select(F.col(ids.columns[0]).cast("long").alias("doc_id"))
            .withColumn("text", F.lit(None).cast("string"))
            .withColumn(MULT, F.lit(-1).cast("bigint"))
        )
    sink.apply_batch(batch, args.batch_id)
    kept = sink.keep(spark)
    n_docs = sink._table(spark, "corpus").count()
    n_kept = kept.count()
    if args.out:
        corpus = sink._table(spark, "corpus")
        corpus.join(kept, "doc_id", "left_semi").write.mode(
            "overwrite"
        ).parquet(args.out)
    print(
        json.dumps(
            {
                "state": args.state,
                "batch_id": args.batch_id,
                "docs_in_state": n_docs,
                "docs_kept": n_kept,
                "out": args.out,
            }
        )
    )
    return 0


def _epoch_fingerprint(has_source: bool):
    """(aggregate `fp`, fp_cols label) of the corpus-epoch fingerprint,
    an order-independent XOR of per-row h60 hashes: verify-consistency
    proves N lockstep states views of the SAME corpus without reading
    them, and --delta folds a feed forward over the prior stamp (bit_xor
    is self-inverse).  source rides in when the input carries it — a
    source-only move is a delta (round-11 advice item 2) — while
    sourceless inputs keep the two-part formula, so their stamps stay
    comparable across engine versions; the label lets --delta refuse a
    feed that would fold a DIFFERENT formula forward."""
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.functions.hashing import h60

    cols = [F.col("doc_id").cast("string"), F.md5("text")]
    if has_source:
        cols.append(F.coalesce(F.col("source").cast("string"), F.lit("")))
    fp = F.coalesce(
        F.bit_xor(h60(F.concat_ws(":", *cols), "epoch:")), F.lit(0)
    )
    return fp.alias("fp"), "id:md5:source" if has_source else "id:md5"


def _source_col(df):
    """A frame's per-doc source, "unknown" where it carries none."""
    from pyspark.sql import functions as F

    if "source" not in df.columns:
        return F.lit("unknown")
    return F.coalesce(F.col("source"), F.lit("unknown"))


def _mult_tally(delta) -> dict:
    """Rows of a Z-set batch per _mult (the report's retracted and
    upserted counts)."""
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.operators.ivm import MULT

    return {
        r[MULT]: r["n"]
        for r in delta.groupBy(MULT).agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def _in_lockstep(stamp: dict | None, prior_epoch: dict | None) -> bool:
    """Whether a sibling state's stamp describes the corpus the cluster
    state held before this sync."""
    return (
        stamp is not None
        and prior_epoch is not None
        and stamp.get("epoch_fp") == prior_epoch.get("epoch_fp")
    )


def _with_component_mates(ids, clusters):
    """`ids` (doc_id) plus every member of a (node, comp) `clusters`
    component that holds one: the keep-decision is a GLOBAL function of
    the cluster state, but moves only inside such components.  The
    table holds only CLUSTERED docs, so this is small by construction."""
    from pyspark.sql import functions as F

    if clusters is None:
        return ids
    comps = (
        clusters.join(
            ids.select(F.col("doc_id").alias("node")), "node", "left_semi"
        )
        .select("comp")
        .distinct()
    )
    return ids.unionByName(
        clusters.join(comps, "comp", "left_semi").select(
            F.col("node").alias("doc_id")
        )
    )


def _fingerprint_self_diff(old, new, fp: str, held: list):
    """A state's Z-set batch: its OWN persisted (doc_id, compared
    columns) `old` — None before bootstrap — diffed against `new`
    (doc_id, text, compared columns), so a state that fell behind its
    lockstep siblings heals instead of drifting.  Deleted docs' -1
    tuples need only doc_id downstream: the old side's text is a typed
    null, never a state read.  The fingerprint `fp` is dropped and the
    batch checkpointed, since the sink's swap replaces the very files
    the lazy diff plan reads."""
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.operators.ivm import zset_snapshot_delta
    from vcf_pg_loader_spark.streaming.sink import _checkpointed

    cmp_cols = [c for c in new.columns if c not in ("doc_id", "text")]
    if old is None:
        old = new.limit(0)
    else:
        old = old.withColumn("text", F.lit(None).cast("string")).select(
            *new.columns
        )
    return _checkpointed(
        zset_snapshot_delta(old, new, "doc_id", cmp_cols=cmp_cols).drop(fp),
        held,
    )


def cmd_sync_corpus(args) -> int:
    """Synchronize the retraction-maintained cluster state with new
    corpus content — the CDC bridge, with two input shapes:

    --snapshot: a whole re-crawl arrives; diff it against the state's
    current corpus with zset_snapshot_delta (operators/ivm.py) and
    apply the resulting Z-set batch.  Removed docs retract, new docs
    insert, CHANGED docs upsert (both ±1 tuples ride the batch; the
    sink rebuilds their state from the arriving text), and unchanged
    docs cost nothing in the SINKS — but deriving the delta costs one
    O(|snapshot|) self-diff scan per sync.

    --delta (round 14): the caller already knows which documents
    changed — a pre-diffed (doc_id, text, _mult[, source]) Z-set
    parquet.  The self-diff and the full-snapshot epoch aggregation
    are both skipped; the epoch fingerprint folds forward in XOR
    algebra from the state's prior stamp (bit-equal to the snapshot
    path's recomputation — h60 per-row hashes under bit_xor are
    self-inverse), so verify-consistency still holds across lockstep
    states.  -1 tuples must carry each doc's current text, verified
    against the state with id-bucket-pruned reads; changed docs ride
    as ±1 pairs.  End-to-end cost is O(|delta| + touched buckets) —
    at 100 TB the difference between minutes and hours per sync.

    Exactly-once per --batch-id, like retract-corpus; every sibling
    state applies and stamps through one `apply_and_stamp`.  Every
    frame the sync checkpoints is released when it returns or raises,
    so a sync-serve loop holds no blocks across syncs.  Reference
    analogue: idempotent delete-then-reload (loader.py:230-252),
    generalized to diff-then-apply."""
    from vcf_pg_loader_spark.streaming.sink import _released

    with _released() as held:
        return _sync_step(args, held)


def _sync_step(args, held: list) -> int:
    """The body of cmd_sync_corpus; `held` is its release scope."""
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.operators.ivm import MULT, zset_snapshot_delta
    from vcf_pg_loader_spark.streaming.retract import DedupClusterMaintSink
    from vcf_pg_loader_spark.streaming.sink import _checkpointed

    use_delta = bool(getattr(args, "delta", None))
    if bool(args.snapshot) == use_delta:
        print("sync-corpus needs exactly one of --snapshot or --delta",
              file=sys.stderr)
        return 2
    if use_delta and args.mix_budget:
        print(
            "--mix-budget needs --snapshot: the per-source quotas are a "
            "function of the FULL kept corpus's source map, which a "
            "pre-diffed delta does not carry",
            file=sys.stderr,
        )
        return 2
    if use_delta and args.shards_state:
        # a layout last synced under --snapshot --mix-budget holds a
        # QUOTA selection (its epoch stamp carries the mix_budget
        # marker); a --delta sync would self-diff against the full
        # kept corpus — restricted or not, the result is neither the
        # old quota nor a coherent new one, then restamped without the
        # marker (round-14 advice item 4).  Refuse up front, before
        # any sibling applies: the transition out of (or within) a
        # quota selection needs --snapshot.
        from vcf_pg_loader_spark.streaming.sink import ParquetUpsertSink

        sh_probe = ParquetUpsertSink(
            args.shards_state, key=["doc_id"]
        ).read_epoch()
        if sh_probe is not None and "mix_budget" in sh_probe:
            print(
                f"the shards state at {args.shards_state} was last "
                f"synced under --mix-budget "
                f"{sh_probe['mix_budget']} (a per-source quota "
                f"selection over the full kept corpus); --delta "
                f"cannot maintain a quota — re-sync with --snapshot "
                f"--mix-budget N (keep the quota) or --snapshot "
                f"(drop it), then resume --delta",
                file=sys.stderr,
            )
            return 2
    spark = _spark()
    sink = DedupClusterMaintSink(
        args.state, args.ngram, args.minhash_k, args.bands, args.threshold,
        getattr(args, "bucket_cap", None),
    )
    # the cluster state's stamp BEFORE this sync: --delta folds its
    # fingerprint forward from it, and the shard self-diff below uses
    # it to prove the layout is in lockstep (enabling the dfp carry)
    prior_epoch = sink.read_epoch()
    if use_delta:
        # Pre-diffed CDC input (round-13 verdict item 2): the caller
        # already knows WHICH documents changed — a (doc_id, text,
        # _mult[, source]) Z-set parquet — so the O(|snapshot|)
        # self-diff scan and the full-snapshot epoch aggregation are
        # both skipped.  The epoch fingerprint folds forward in XOR
        # algebra (bit_xor is self-inverse: retracting a row's h60
        # removes exactly what stamping it added), so the stamp equals
        # the snapshot path's recomputation bit-for-bit — pinned by
        # tests.  Per-sync cost is O(|delta| + touched id-buckets),
        # end to end.
        old = sink._table(spark, "corpus")
        if old is None or prior_epoch is None:
            print(
                "--delta needs an existing, epoch-stamped cluster state: "
                "bootstrap (and stamp) with --snapshot first",
                file=sys.stderr,
            )
            return 2
        if "fp_cols" not in prior_epoch:
            print(
                "the state's epoch stamp predates incremental "
                "fingerprinting (no fp_cols field): run one --snapshot "
                "sync to upgrade the stamp, then use --delta",
                file=sys.stderr,
            )
            return 2
        feed_raw = spark.read.parquet(args.delta)
        has_source = "source" in feed_raw.columns
        want_source = prior_epoch["fp_cols"] == "id:md5:source"
        if want_source != has_source:
            print(
                f"epoch fingerprint column mismatch: the state was "
                f"stamped over {prior_epoch['fp_cols']!r} but the delta "
                f"{'carries no' if want_source else 'carries a'} source "
                f"column — a fold-forward would diverge from the "
                f"snapshot-path fingerprint",
                file=sys.stderr,
            )
            return 2
        fp_agg = _epoch_fingerprint(has_source)[0]
        cols = ["doc_id", "text"] + (["source"] if has_source else [])
        feed = _checkpointed(
            feed_raw.select(*cols, F.col(MULT).cast("bigint").alias(MULT)),
            held,
        )
        # structural validation — all aggregates over the (small) feed
        n_rows = feed.count()
        if feed.select("doc_id", MULT).distinct().count() != n_rows:
            print("--delta rows must be unique per (doc_id, _mult)",
                  file=sys.stderr)
            return 2
        if feed.filter(~F.col(MULT).isin(1, -1)).count():
            print("--delta _mult must be +1 or -1", file=sys.stderr)
            return 2
        dels_feed = feed.filter(F.col(MULT) == -1)
        ins_feed = feed.filter(F.col(MULT) == 1)
        from vcf_pg_loader_spark.streaming.sink import (
            id_bucket,
            isin_values,
        )

        # every verification read below is touched-id-bucket-pruned —
        # never a full corpus scan
        tb = {
            r[0]
            for r in feed.select(
                id_bucket(F.col("doc_id")).alias("b")
            ).distinct().collect()
        }
        corpus_slice = (
            sink._table_raw(spark, "corpus")
            .filter(isin_values(F.col("ib"), tb))
            .select("doc_id", F.col("text").alias("_state_text"))
        )
        delta = feed.select("doc_id", "text", MULT)

        def vs_state(rows):
            return rows.join(corpus_slice, "doc_id", "left")

        # a feed row's text is missing from or differs from the
        # maintained corpus
        differs = F.col("_state_text").isNull() | (
            F.md5("text") != F.md5("_state_text")
        )

        def fold_epoch() -> dict:
            """XOR-fold this feed forward over the persisted stamp —
            the delta path's epoch arithmetic, also used to HEAL a
            stamp left one batch behind by a crash between
            apply_batch's swap and stamp_epoch (round-14 advice
            item 1: the ledger records the batch, the stamp file is
            written after — the stale stamp would otherwise propagate
            the pre-batch fingerprint to every sibling sink and every
            later fold, permanently and undetectably)."""
            fold = feed.agg(
                fp_agg, F.coalesce(F.sum(MULT), F.lit(0)).alias("dn")
            ).collect()[0]
            return {
                "epoch_fp": int(prior_epoch["epoch_fp"]) ^ int(fold.fp),
                "n_docs": int(prior_epoch["n_docs"]) + int(fold.dn),
                "batch_id": args.batch_id,
                "fp_cols": prior_epoch["fp_cols"],
            }
        if sink.applied(args.batch_id):
            # REPLAYED batch id: the cluster state and stamp already
            # contain this delta, so the fold must NOT run again (XOR
            # is self-inverse — refolding would back the stamp out).
            # Verify the feed matches the applied one against the
            # post-state: every +1 tuple is live with identical text,
            # every -1 tuple's old content is gone.  The sibling sinks
            # below still consume the delta — each no-ops or catches
            # up via its own ledger (the partial-failure recovery).
            drift = (
                vs_state(ins_feed).filter(differs).count()
                + vs_state(dels_feed).filter(~differs).count()
            )
            if drift:
                raise ValueError(
                    f"batch {args.batch_id} was already applied at "
                    f"{sink.target} but {drift} row(s) of this delta "
                    f"contradict the maintained corpus — a reused "
                    f"batch id under a different delta would leave the "
                    f"state at the old data; use a fresh batch id"
                )
            if (
                prior_epoch.get("batch_id") != args.batch_id
                and args.batch_id == max(sink.applied_ids())
            ):
                # crash window: the ledger says this batch is IN the
                # cluster state (and the drift check above just proved
                # the feed is that batch), but the stamp predates it —
                # fold the batch forward so the healed stamp, not the
                # stale pre-batch fingerprint, propagates to the
                # sibling sinks and every later --delta fold.  Only
                # the LATEST applied batch can be the stale-stamp
                # culprit: replaying an OLDER batch (a resumed
                # sync-serve loop re-walking its feed list) also sees
                # stamp.batch_id != args.batch_id, but its XOR term is
                # already inside the stamp — re-folding it would back
                # the term OUT and corrupt every later fold, so that
                # case keeps the current stamp untouched.
                epoch = fold_epoch()
            else:
                epoch = dict(prior_epoch)
            stats = {}
        else:
            # -1 rows must carry the doc's CURRENT text (the XOR fold
            # and the vocab decrement both depend on it)
            bad = vs_state(dels_feed).filter(differs).count()
            if bad:
                print(
                    f"{bad} retraction row(s) are missing from or "
                    f"differ in content from the maintained corpus — "
                    f"-1 tuples must carry each document's current "
                    f"text (a changed doc rides as its -1 old tuple "
                    f"plus its +1 new tuple)",
                    file=sys.stderr,
                )
                return 2
            unpaired = (
                ins_feed.join(corpus_slice.select("doc_id"), "doc_id",
                              "left_semi")
                .join(dels_feed.select("doc_id"), "doc_id", "left_anti")
                .count()
            )
            if unpaired:
                print(
                    f"{unpaired} insert row(s) target documents "
                    f"already in the state without a paired -1 tuple "
                    f"— changed docs must ride as +/-1 pairs or the "
                    f"folded fingerprint would diverge",
                    file=sys.stderr,
                )
                return 2
            if has_source and args.card_state:
                # -1 tuples' SOURCE folds into the epoch fingerprint
                # but the cluster corpus stores no source to check it
                # against — the card state does (per-doc source in its
                # stats table).  Verify retractions carry each doc's
                # current source, or a wrong historical source would
                # silently corrupt the stamp and break the
                # bit-equal-to-snapshot invariant (round-14 advice
                # item 3).  Without --card-state the -1 source is the
                # caller's unverified obligation (documented on the
                # --delta flag).  Touched-bucket-pruned read.
                from vcf_pg_loader_spark.streaming.retract import (
                    DatasetCardSink,
                )

                card_stats = DatasetCardSink(args.card_state)._table_raw(
                    spark, "stats"
                )
                if card_stats is not None:
                    if "ib" in card_stats.columns:
                        card_stats = card_stats.filter(
                            isin_values(F.col("ib"), tb)
                        )
                    wrong_src = (
                        dels_feed.select(
                            "doc_id", _source_col(dels_feed).alias("_feed_src")
                        )
                        .join(
                            card_stats.select(
                                "doc_id",
                                F.col("source").alias("_card_src"),
                            ),
                            "doc_id",
                        )
                        .filter(F.col("_feed_src") != F.col("_card_src"))
                        .count()
                    )
                    if wrong_src:
                        print(
                            f"{wrong_src} retraction row(s) carry a "
                            f"source that differs from the maintained "
                            f"card state's per-doc source — -1 tuples "
                            f"must carry each document's CURRENT "
                            f"source or the folded epoch fingerprint "
                            f"diverges from the snapshot path",
                            file=sys.stderr,
                        )
                        return 2
            stats = _mult_tally(delta)
            epoch = fold_epoch()
    else:
        snap = spark.read.parquet(args.snapshot)
        old = sink._table(spark, "corpus")
        if old is None:
            # no state yet: the whole snapshot is the delta (bootstrap)
            old = spark.createDataFrame([], "doc_id long, text string")
        # materialize the delta BEFORE any apply: the cluster sink's
        # swap replaces the very corpus files the lazy delta plan
        # reads, so a second consumer (the funnel sink) re-executing
        # the plan would hit deleted files.  localCheckpoint is
        # distributed — the delta never lands on the driver.
        delta = _checkpointed(
            zset_snapshot_delta(old, snap.select("doc_id", "text"), "doc_id"),
            held,
        )
        stats = _mult_tally(delta)
        # the epoch every lockstep sink is about to be synced to,
        # stamped beside each state after its apply: one narrow agg
        # over the already-loaded snapshot
        fp_agg, fp_label = _epoch_fingerprint("source" in snap.columns)
        ep = snap.agg(F.count(F.lit(1)).alias("n_docs"), fp_agg).collect()[0]
        epoch = {
            "epoch_fp": int(ep.fp),
            "n_docs": int(ep.n_docs),
            "batch_id": args.batch_id,
            "fp_cols": fp_label,
        }

    def apply_and_stamp(s, stamp, apply, proof):
        """Run `apply` (this batch into state `s`) and stamp the epoch
        ONLY when the batch actually applies this run.  apply_batch is
        a silent no-op on a replayed batch id; stamping unconditionally
        would re-stamp the state with a NEW snapshot's epoch_fp while
        its data stays at the old snapshot — after which
        verify-consistency (whose whole purpose is catching divergence)
        vouches for genuinely diverged states (round-11 advice item 1).
        A replay under the SAME snapshot is a clean no-op; a reused
        batch id under a DIFFERENT snapshot refuses.

        One exception (round-14 advice item 1): stamp_epoch writes a
        separate file AFTER apply_batch's swap, so a crash in that
        window leaves the ledger one batch ahead of the stamp.  The
        stamp records its batch_id, which makes the window detectable:
        on replay, a stamp whose batch_id is NOT args.batch_id is
        stale — heal it forward, but only when `proof()` shows that the
        stamp target matches the state's data.  Otherwise the replayed
        id is a reused batch id over different data — refuse, never
        vouch."""
        replay = s.applied(args.batch_id)
        apply()
        if not replay:
            s.stamp_epoch(stamp)
            return
        prior = s.read_epoch()
        if prior is None or prior.get("batch_id") != args.batch_id:
            if proof():
                s.stamp_epoch(stamp)
                return
            raise ValueError(
                f"batch {args.batch_id} is in {s.target}'s ledger but "
                f"its epoch stamp records batch "
                f"{None if prior is None else prior.get('batch_id')} "
                f"and this run's recomputed delta is non-empty: the "
                f"state holds different data than this snapshot — a "
                f"crash-window heal is only safe for the exact batch "
                f"that was applied; use a fresh batch id"
            )
        if prior.get("epoch_fp") != stamp["epoch_fp"]:
            raise ValueError(
                f"batch {args.batch_id} was already applied at "
                f"{s.target} under epoch_fp {prior.get('epoch_fp')}, but "
                f"this snapshot fingerprints as {stamp['epoch_fp']}: a "
                f"reused batch id with a different snapshot would leave "
                f"the state at the old data while stamping the new epoch "
                f"— use a fresh batch id for the new snapshot"
            )

    def apply_delta(s, batch_delta, verified: bool, stamp=None):
        """apply_and_stamp of a Z-set batch.  Its stale stamp heals when
        this run verified the feed against the post-state (`verified`:
        the --delta drift check) or the recomputed delta is empty (the
        state already equals the snapshot, so the stamp describes
        exactly what's on disk)."""
        apply_and_stamp(
            s, stamp or epoch,
            lambda: s.apply_batch(batch_delta, args.batch_id),
            lambda: verified or batch_delta.limit(1).count() == 0,
        )

    affected_pre = None
    if use_delta and args.shards_state and not sink.applied(args.batch_id):
        # (The replay/recovery guard: when the batch is ALREADY in the
        # cluster state at entry — a crash between its apply and the
        # sibling syncs — this "pre-apply" capture would really be a
        # POST-apply read: deleted docs are gone from the clusters
        # table, their former comp-mates are missed, and the
        # restricted self-diff could skip a keep-flip (round-14
        # advice item 2).  Leave affected_pre None so the shard sync
        # below runs the FULL self-diff — the healing pass.)
        #
        # capture the touched docs' component members from the
        # PRE-apply cluster table (the swap below replaces its files —
        # eager checkpoint), so the shard self-diff can restrict
        # itself to touched ∪ component-mates instead of re-diffing
        # the whole kept corpus
        affected_pre = _checkpointed(
            _with_component_mates(
                delta.select("doc_id"), sink._table(spark, "clusters")
            ).distinct(),
            held,
        )
    apply_delta(sink, delta, use_delta)
    if args.funnel_state:
        # the funnel's own corpus/ holds quality+LM SURVIVORS only, so
        # it cannot self-diff — it consumes the delta computed against
        # the cluster state's full corpus, which is correct exactly when
        # the two states have been synced in lockstep (same snapshots,
        # same batch ids); exactly-once per state via each sink's ledger
        from vcf_pg_loader_spark.streaming.retract import FunnelReportSink

        funnel_sink = FunnelReportSink(
            args.funnel_state, args.nll_max, args.ngram, args.minhash_k,
            args.bands, args.threshold,
            getattr(args, "bucket_cap", None),
        )
        apply_delta(funnel_sink, delta, use_delta)
    if args.decontam_state:
        # same lockstep rule as --funnel-state: the decontamination
        # index consumes the delta computed against the cluster state's
        # corpus, exactly-once via its own ledger
        from vcf_pg_loader_spark.streaming.retract import DecontamIndexSink

        dec_sink = DecontamIndexSink(args.decontam_state, args.ngram)
        apply_delta(dec_sink, delta, use_delta)
    if getattr(args, "vocab_state", None):
        # maintained (word, n) table: same lockstep delta, counts merge
        # additively inside the touched word-hash buckets — after which
        # `train-vocab --counts-state` trains without a corpus pass
        from vcf_pg_loader_spark.streaming.vocab import VocabSink

        vkw = {"mode": getattr(args, "vocab_mode", "words") or "words"}
        if getattr(args, "vocab_max_chars", None) is not None:
            vkw["max_chars"] = args.vocab_max_chars
        vocab_sink = VocabSink(args.vocab_state, **vkw)
        apply_delta(vocab_sink, delta, use_delta)
    if args.card_state:
        # The release card diffs ITS OWN state against the snapshot, on
        # (content-fingerprint, source) — NOT the text-keyed delta the
        # other sinks consume: a snapshot row whose text is unchanged
        # but whose source moved still re-syncs (per-source card
        # tallies must follow the snapshot; reference analogue:
        # ON CONFLICT DO UPDATE, gwas/loader.py:467-491 — an attribute
        # change updates, never no-ops), while the text-keyed
        # cluster/funnel/decontam states correctly see no delta for
        # it.  Self-contained on the card's stats/fp tables (doc_fp is
        # a pure function of the text, so no text payload is re-read
        # from state).
        from vcf_pg_loader_spark.operators.text import fingerprint
        from vcf_pg_loader_spark.streaming.retract import DatasetCardSink

        card_sink = DatasetCardSink(args.card_state)
        if use_delta:
            # pre-diffed feed: it IS the card's delta (source rides
            # along when the stamp says so; a source-only move arrives
            # as a +/-1 pair).  The snapshot path's self-diff healing
            # needs a full snapshot and is deliberately not available
            # here — a card that fell behind heals on the next
            # --snapshot sync.
            card_delta = feed.select(
                "doc_id", "text", _source_col(feed).alias("source"),
                F.col(MULT),
            )
            apply_delta(card_sink, card_delta, True)
        else:
            new_card = snap.select(
                "doc_id", "text", _source_col(snap).alias("source")
            )
            new_card = new_card.join(
                fingerprint(new_card.select("doc_id", "text")).select(
                    "doc_id", "doc_fp"
                ),
                "doc_id",
            ).select("doc_id", "text", "source", "doc_fp")
            stats_old = card_sink._table(spark, "stats")
            fp_old = card_sink._table(spark, "fp")
            old_card = None
            if stats_old is not None and fp_old is not None:
                old_card = stats_old.select("doc_id", "source").join(
                    fp_old.select("doc_id", "doc_fp"), "doc_id"
                )
            card_delta = _fingerprint_self_diff(
                old_card, new_card, "doc_fp", held
            )
            apply_delta(card_sink, card_delta, False)
    kept = sink.keep(spark)
    if args.shards_state:
        # The training-shard layout packs the CURATED corpus — the
        # near-dup keep-decision's survivors — not the raw snapshot: a
        # trainer streams what curation kept.  The keep set is a
        # GLOBAL function of the cluster state (an arriving near-dup
        # can flip an EXISTING doc's keep with no change to that doc's
        # row), so the shard sink cannot consume the text-keyed
        # snapshot delta; instead it self-diffs its own layout against
        # the fresh kept corpus on (doc_id, content-fingerprint) — the
        # DatasetCardSink pattern.  Per-sync cost stays
        # O(|kept-set delta|): the fingerprints come from the persisted
        # layout, no text is stored or re-read from shard state.
        from vcf_pg_loader_spark.operators.shards import doc_fp
        from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

        tok_kw = {}
        if getattr(args, "shards_merges", None):
            tok_kw, _vocab_art = _load_merges_artifact(args.shards_merges)
        curriculum = getattr(args, "curriculum", None)
        shard_sink = TrainingShardSink(
            args.shards_state,
            doc_sep=getattr(args, "shards_doc_sep", 0) or 0,
            max_doc_tokens=getattr(args, "shards_max_doc_tokens", None),
            curriculum=curriculum,
            **tok_kw,
        )
        if shard_sink.curriculum and shard_sink.curriculum[0] == "quality":
            # quality buckets come from the MAINTAINED per-doc scores:
            # the card state's frozen-LM nll, applied just above in
            # the same lockstep sync — no text re-read, and the score
            # is a pure function of the text under the frozen LM, so
            # an unchanged doc's bucket (and shard file) never moves
            if not args.card_state:
                print(
                    "--curriculum quality:K needs --card-state (the "
                    "maintained per-doc quality scores)",
                    file=sys.stderr,
                )
                return 2
            shard_sink.quality_frame = (
                card_sink._table(spark, "stats")
                .select("doc_id", F.col("nll").alias("score"))
            )
        kept_docs = (
            sink._table(spark, "corpus")
            .join(kept.select("doc_id"), "doc_id", "left_semi")
            .select("doc_id", "text")
        )
        sel_docs = kept_docs
        if args.mix_budget:
            # Temperature-mixed quota per source (w_s ∝ sqrt(n_s), the
            # q_mix_temperature arithmetic) over the KEPT corpus, each
            # quota filled by deterministic hash rank — a pure function
            # of (kept set, budget), so the self-diff below keeps the
            # layout synced to the CURRENT selection: corpus growth
            # shifts quotas, and displaced docs retract from their
            # shards on the next sync like any other membership change.
            # Source rides in from the snapshot (the shard state stays
            # text-free and the cluster corpus carries no source).
            from pyspark.sql import Window

            from vcf_pg_loader_spark.functions.hashing import h60

            kd = kept_docs.join(
                snap.select("doc_id", _source_col(snap).alias("source")),
                "doc_id",
            )
            counts = kd.groupBy("source").agg(
                F.count(F.lit(1)).alias("n_docs")
            )
            scaled = counts.withColumn("_s", F.sqrt(F.col("n_docs")))
            tot = scaled.agg(
                F.sum(F.col("_s").cast("decimal(20,12)"))
                .cast("double")
                .alias("_tot")
            )
            plan = scaled.crossJoin(F.broadcast(tot)).select(
                "source",
                F.floor(
                    F.lit(args.mix_budget) * (F.col("_s") / F.col("_tot"))
                )
                .cast("bigint")
                .alias("pd"),
            )
            w = Window.partitionBy("source").orderBy(
                h60(F.col("doc_id").cast("string"), "mix:"),
                F.col("doc_id"),
            )
            sel_docs = (
                kd.withColumn("_rn", F.row_number().over(w))
                .join(F.broadcast(plan), "source")
                .filter(F.col("_rn") <= F.col("pd"))
                .select("doc_id", "text")
            )
        old_layout = shard_sink._table(spark, "layout")
        # dfp carry (round-14): recomputing the content fingerprint
        # over EVERY kept doc's text each sync is the self-diff's one
        # O(|corpus|) md5 pass — but a doc's text changes only via the
        # delta, so when the layout is provably in LOCKSTEP with the
        # cluster state (its epoch stamp equals the cluster's
        # pre-sync stamp, i.e. both states describe the same corpus
        # content), every untouched doc's persisted dfp is current and
        # carries verbatim; md5 runs only for arriving/changed/new
        # docs.  A layout that fell behind (stamps differ) falls back
        # to the full recompute, which is exactly the healing pass.
        in_lockstep = old_layout is not None and _in_lockstep(
            shard_sink.read_epoch(), prior_epoch
        )
        touched_ids = delta.select("doc_id").distinct()
        restrict = None
        if in_lockstep and affected_pre is not None and not args.mix_budget:
            # comp-mates restriction (round 14, --delta only): a doc's
            # keep-decision can flip ONLY if its cluster component
            # gained or lost a touched member — union the touched ids'
            # component members from the pre-apply table (captured
            # above) and the post-apply table (a new edge may have
            # pulled an existing component in), and self-diff ONLY
            # those docs.  Everything else is provably unchanged in
            # both membership (lockstep + untouched component) and
            # content fingerprint (lockstep + untouched doc), so the
            # O(|kept corpus|) diff becomes O(|delta| + affected
            # components) — the end-to-end O(|delta|) sync.  The
            # snapshot path keeps the full self-diff: it doubles as
            # the healing pass for a layout that fell behind.
            restrict = affected_pre.unionByName(
                _with_component_mates(
                    touched_ids, sink._table(spark, "clusters")
                )
            ).distinct()
            sel_docs = sel_docs.join(restrict, "doc_id", "left_semi")
        if in_lockstep:
            carried = sel_docs.join(
                old_layout.select(
                    "doc_id", F.col("dfp").alias("_old_dfp")
                ),
                "doc_id",
                "left",
            ).join(
                touched_ids.withColumn("_touched", F.lit(True)),
                "doc_id",
                "left",
            )
            new_sh = carried.select(
                "doc_id",
                "text",
                F.when(
                    F.col("_old_dfp").isNotNull()
                    & F.col("_touched").isNull(),
                    F.col("_old_dfp"),
                )
                .otherwise(doc_fp(F.col("text")))
                .alias("dfp"),
            )
        else:
            new_sh = sel_docs.withColumn("dfp", doc_fp(F.col("text")))
        old_sh = None
        if old_layout is not None:
            old_sh = old_layout.select("doc_id", "dfp")
            if restrict is not None:
                # restricted diff: rows outside the affected set are
                # identical on both sides by the lockstep argument —
                # exclude them from the old side too or the diff would
                # retract every unchanged doc
                old_sh = old_sh.join(restrict, "doc_id", "left_semi")
        shard_delta = _fingerprint_self_diff(old_sh, new_sh, "dfp", held)
        apply_delta(
            shard_sink,
            shard_delta,
            False,
            {**epoch, "mix_budget": args.mix_budget}
            if args.mix_budget
            else epoch,
        )
        if getattr(args, "seq_index_state", None):
            # maintained sequence-shingle postings, lockstep with the
            # layout just synced (streaming/seqdecontam.py): the
            # touched shards are exactly the layout delta's shards
            # (packing shifts a whole shard wholesale); the index
            # recomputes those and hard-links the rest.  A state out
            # of lockstep (stamp mismatch) or absent rebuilds whole —
            # the healing pass.  Exactly-once via its own ledger.
            from vcf_pg_loader_spark.operators.shards import shard_of
            from vcf_pg_loader_spark.streaming.seqdecontam import (
                SeqShingleIndexSink,
            )

            idx_sink = SeqShingleIndexSink(
                args.seq_index_state,
                ngram=getattr(args, "seq_index_ngram", None) or args.ngram,
                sep="\x1f" if tok_kw.get("merges") else " ",
            )
            touched_shards = None
            if _in_lockstep(idx_sink.read_epoch(), prior_epoch):
                touched_shards = {
                    r[0]
                    for r in shard_delta.select(
                        shard_of(
                            F.col("doc_id"), shard_sink.n_shards
                        ).alias("s")
                    ).distinct().collect()
                }
            apply_and_stamp(
                idx_sink, epoch,
                lambda: idx_sink.sync(
                    spark, shard_sink, kept_docs, args.batch_id,
                    touched_shards,
                ),
                # its stale-stamp proof: the layout the index was built
                # from already carries this run's stamp
                lambda: all(
                    (shard_sink.read_epoch() or {}).get(k) == epoch[k]
                    for k in ("batch_id", "epoch_fp")
                ),
            )
    if args.out:
        corpus = sink._table(spark, "corpus")
        corpus.join(kept, "doc_id", "left_semi").write.mode(
            "overwrite"
        ).parquet(args.out)
    report = {
        "state": args.state,
        "batch_id": args.batch_id,
        "rows_retracted": stats.get(-1, 0),
        "rows_upserted": stats.get(1, 0),
        "docs_in_state": sink._table(spark, "corpus").count(),
        "docs_kept": kept.count(),
        "out": args.out,
        "epoch_fp": epoch["epoch_fp"],
    }
    if getattr(args, "bucket_cap", None) is not None:
        # no silent truncation: what the bucket-size valve routed this
        # sync (None routing counters on a replayed/no-op batch)
        report["bucket_cap_routing"] = sink.last_cap_routing or {
            "bucket_cap": args.bucket_cap,
            "routed_buckets": 0,
            "routed_rows": 0,
        }
    if getattr(args, "recall_sample", 0):
        # sampled recall of the banded LSH at THIS state's fingerprinted
        # parameters over the post-sync corpus — the counter that makes
        # the rows-per-band cost/recall trade visible per sync (the
        # bucket-density counters watch cost; this watches what the
        # tightened s-curve misses).  q_lsh_recall_sample pins the
        # arithmetic against the DuckDB oracle.
        from vcf_pg_loader_spark.operators.dedup import lsh_recall_sample

        rs = lsh_recall_sample(
            sink._table(spark, "corpus"),
            "doc_id",
            "text",
            args.ngram,
            args.minhash_k,
            args.bands,
            args.threshold,
            sample_mod=args.recall_sample,
        ).collect()[0]
        report["recall_sample"] = {
            "sample_mod": args.recall_sample,
            "n_sample_docs": int(rs["n_sample_docs"]),
            "n_true_pairs": int(rs["n_true_pairs"]),
            "n_banded_pairs": int(rs["n_banded_pairs"]),
            "recall": float(rs["recall"]),
        }
    print(json.dumps(report))
    return 0


def cmd_sync_serve(args) -> int:
    """Session-reuse CDC loop (round-14 verdict item 5): apply N
    successive pre-diffed delta feeds to the same maintained states in
    ONE Spark session.

    SCALE_r14 measured a 5-doc --delta sync at a flat 36-43 s across a
    4x corpus — 100% fixed JVM/session startup plus ~15-stage DAG
    scheduling, zero data dependence — because every sync was its own
    cold spark-submit.  A long-running sync service amortizes that
    floor to one payment: this verb IS that service's inner loop, and
    the scale rehearsal's serve mode records the marginal warm sync
    wall it buys (SCALE_r15 sync_serve).

    ``--feeds DIR`` holds one subdirectory per batch, named by its
    integer batch id and applied in ascending numeric order; each
    subdir is a --delta parquet feed.  Everything after the serve
    flags is the EXACT sync-corpus flag surface, forwarded verbatim
    per batch with --delta/--batch-id filled in — refusal, replay,
    crash-window healing, and lockstep semantics are inherited from
    cmd_sync_corpus, not re-implemented.  Each sync runs in a
    `runner.phase` of its own, so its report entry carries its jobs
    and stages beside its wall, and releases what it checkpointed.  A
    non-zero child exit (a refusal) or an exception stops the loop and
    is recorded in the report; already-applied batch ids replay as
    no-ops, so the loop is resumable from the top after any crash."""
    from vcf_pg_loader_spark import runner

    entries = []
    for name in sorted(os.listdir(args.feeds)):
        p = os.path.join(args.feeds, name)
        if not os.path.isdir(p):
            continue
        try:
            entries.append((int(name), p))
        except ValueError:
            print(
                f"feed subdirectory {name!r} is not an integer batch id",
                file=sys.stderr,
            )
            return 2
    if not entries:
        print(f"no batch feed subdirectories under {args.feeds}",
              file=sys.stderr)
        return 2
    entries.sort()
    # argparse REMAINDER keeps the leading "--" separator (the form
    # `sync-serve --feeds DIR -- --state ...` is the only one argparse
    # routes correctly) — drop it before forwarding
    rest = [a for i, a in enumerate(args.rest) if not (i == 0 and a == "--")]
    args.rest = rest
    for banned in ("--delta", "--snapshot", "--batch-id"):
        if banned in args.rest:
            print(
                f"{banned} is filled in per feed by sync-serve; pass "
                f"only the other sync-corpus flags",
                file=sys.stderr,
            )
            return 2
    # pay the JVM/session floor once, before the loop; no Spark context
    # exists to count jobs in until it returns, so this is wall only
    t0 = time.perf_counter()
    spark = _spark()
    session_init = time.perf_counter() - t0
    parser = build_parser()
    syncs = []
    rc_final = 0
    for bid, path in entries:
        argv = ["sync-corpus", *args.rest,
                "--delta", path, "--batch-id", str(bid)]
        child = parser.parse_args(argv)
        err = {}
        with runner.phase(spark, f"sync-{bid}") as rec:
            try:
                rc = child.fn(child)
            except Exception as e:  # refusals raise too (reused batch ids)
                rc, err = 1, {"error": str(e)[:500]}
        syncs.append({
            "batch_id": bid,
            "wall_sec": round(rec["sec"], 3),
            "jobs": rec["jobs"],
            "stages": rec["stages"],
            "rc": rc,
            **err,
        })
        if rc != 0:
            rc_final = rc
            break
    ok_walls = [s["wall_sec"] for s in syncs if s["rc"] == 0]
    # marginal warm cost = median over syncs AFTER the first (the first
    # warm sync still pays one-time reads of the existing state tables)
    marginal = sorted(ok_walls[1:]) or sorted(ok_walls)
    report = {
        "feeds": args.feeds,
        "session_init_sec": round(session_init, 3),
        "n_syncs": len(syncs),
        "n_ok": len(ok_walls),
        "warm_marginal_median_sec": (
            marginal[len(marginal) // 2] if marginal else None
        ),
        "syncs": syncs,
    }
    print(json.dumps(report))
    return rc_final


def cmd_train_vocab(args) -> int:
    """Learn a BPE merge table (operators/bpe.py bpe_train) and write
    it as a JSON artifact: the merge list in application order plus a
    fingerprint of the training inputs, so an encode job can refuse a
    merges file from a different corpus/parameters the same way
    maintained state refuses mismatched fingerprints.  With
    --encode-out, also materialize the tokenized corpus via the Arrow
    rank-priority encoder (one pass, O(unique words)).

    --corpus collapses the corpus to (word, count) distributed — the
    only corpus-scale step — and the trainer learns the merges in
    memory on that vocabulary-sized table, or in batched Spark rounds
    past its driver bound; the artifact's `strategy` records which
    (`local` or `batched`; the merges are identical either way).

    --counts-state trains from a MAINTAINED vocabulary (streaming/
    vocab.py VocabSink, kept current by sync-corpus --vocab-state)
    instead of a corpus pass, under the same driver bound, and the
    artifact's identity is the state's corpus-epoch stamp — so a merges
    file trained this way still refuses a mismatched corpus downstream.
    Vocab refresh + retrain after a snapshot sync is then O(|delta| +
    vocab), with no document text read at all."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.functions.hashing import h60
    from vcf_pg_loader_spark.operators.bpe import (
        bpe_encode_arrow,
        bpe_train,
        tokenizer_fingerprint,
        word_counts,
    )
    from vcf_pg_loader_spark.operators.dedup import release_checkpoint
    from vcf_pg_loader_spark.operators.tokenids import alphabet_from_counts

    counts_state = getattr(args, "counts_state", None)
    if not counts_state and not args.corpus:
        print("train-vocab needs --corpus or --counts-state",
              file=sys.stderr)
        return 2
    if args.encode_out and not args.corpus:
        print("--encode-out needs --corpus (the documents to encode)",
              file=sys.stderr)
        return 2
    spark = _spark()
    mode = getattr(args, "mode", "words") or "words"
    max_chars = getattr(args, "max_chars", None)
    seg_kw = {"mode": mode}
    if max_chars is not None:
        seg_kw["max_chars"] = max_chars
    if counts_state:
        from vcf_pg_loader_spark.streaming.vocab import VocabSink

        sink = VocabSink(counts_state, **seg_kw)
        # the READ path must refuse a mode/max_chars mismatch exactly
        # like apply_batch does: training words-mode merges over a
        # chars-mode state's chunk counts would silently learn the
        # wrong unit statistics and stamp the wrong mode into the
        # artifact (round-13 advice item 1)
        sink._validate_params()
        counts_df = sink.counts(spark)
        stamp = sink.read_epoch() or {}
        fp_val = stamp.get("epoch_fp")
        n_docs = stamp.get("n_docs")
        if fp_val is None:
            # unstamped state (built outside sync-corpus): fingerprint
            # the counts table itself so the artifact still has an
            # identity a downstream consumer can refuse on
            fp_val = int(
                counts_df.agg(
                    F.coalesce(
                        F.bit_xor(
                            h60(
                                F.concat_ws(
                                    ":",
                                    F.col("w"),
                                    F.col("n").cast("string"),
                                ),
                                "vocab:",
                            )
                        ),
                        F.lit(0),
                    )
                )
                .collect()[0][0]
            )
    else:
        docs = spark.read.parquet(args.corpus).select("doc_id", "text")
        # one pass over the corpus: the fingerprint is observed on the
        # scan that counts its words, and the counts are materialized
        # once for the alphabet, the trainer's probe and (past the
        # driver bound) its batched rounds
        fp = Observation()
        counts_df = word_counts(
            docs.observe(
                fp,
                F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(
                    F.bit_xor(
                        h60(
                            F.concat_ws(
                                ":", F.col("doc_id").cast("string"),
                                F.md5("text"),
                            ),
                            "vocab:",
                        )
                    ),
                    F.lit(0),
                ).alias("fp"),
            ),
            **seg_kw,
        )
        counts_df = counts_df.localCheckpoint(eager=True)
        fp_val, n_docs = int(fp.get["fp"]), int(fp.get["n_docs"])
    try:
        # alphabet from the UNFILTERED counts: min_count bounds the
        # trainer's table, not the id space — a character that only
        # occurs in rare types still needs an id
        alphabet = alphabet_from_counts(counts_df, mode)
        trained = counts_df
        if args.min_count > 1:
            trained = counts_df.filter(F.col("n") >= args.min_count)
        merges, strategy = bpe_train(trained, args.n_merges, mode)
    finally:
        if not counts_state:
            release_checkpoint(counts_df)
    if counts_state:
        strategy = "counts-state"

    artifact = {
        "merges": [list(m) for m in merges],
        "n_merges_requested": args.n_merges,
        "strategy": strategy,
        "corpus_fp": fp_val,
        # tokenizer IDENTITY (merges + pre-segmentation), distinct from
        # corpus_fp (training-corpus identity): downstream packed state
        # refuses on THIS — two vocabs off the same corpus with
        # different --n-merges share corpus_fp but tokenize differently
        "tokenizer_fp": tokenizer_fingerprint(merges, mode, max_chars),
        "n_docs": n_docs,
        # sorted training alphabet (+END in words mode): with the
        # merge list this makes the piece->id assignment
        # (operators/tokenids.py) a pure function of the artifact
        "alphabet": alphabet,
    }
    if mode != "words":
        # pre-segmentation is part of the tokenizer's identity: every
        # downstream consumer (_load_merges_artifact) reads it back and
        # the shard fingerprint refuses a mode mismatch
        from vcf_pg_loader_spark.operators.bpe import MAX_CHARS

        artifact["mode"] = mode
        artifact["max_chars"] = (
            int(max_chars) if max_chars is not None else MAX_CHARS
        )
    with open(args.out, "w") as fh:
        json.dump(artifact, fh)
    if args.encode_out:
        docs = spark.read.parquet(args.corpus).select("doc_id", "text")
        bpe_encode_arrow(docs, merges, **seg_kw).write.mode(
            "overwrite"
        ).parquet(args.encode_out)
    print(
        json.dumps(
            {
                "out": args.out,
                "merges_learned": len(merges),
                "n_docs": artifact["n_docs"],
                "corpus_fp": artifact["corpus_fp"],
                "tokenizer_fp": artifact["tokenizer_fp"],
                "encode_out": args.encode_out,
            }
        )
    )
    return 0


def cmd_export_shard(args) -> int:
    """Materialize training shards: join the maintained shard layout
    (streaming/shards.py TrainingShardSink — text-free) against a
    corpus parquet (e.g. sync-corpus --out, the kept corpus) and write
    each requested shard's documents in packed order with offsets —
    the files a dataloader streams.  Reads O(requested shards), never
    O(corpus).

    A layout packed in tokenizer space (sync-corpus --shards-merges)
    must be exported with the SAME vocab artifact via --merges: the
    vocab corpus_fp joins the parameter fingerprint and a mismatch
    refuses before anything is written.

    Integrity (round-11 advice item 4): materialize inner-joins layout
    x corpus, so doc_ids missing from --corpus (stale or wrong corpus
    for this epoch) would silently vanish from the export while the
    manifest-derived stats still looked right.  The written rows are
    re-read (doc_id/n_tokens columns only) and cross-checked against
    the manifest; any shortfall exits nonzero."""
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

    if getattr(args, "emit_pieces", False) and not getattr(
        args, "merges", None
    ):
        print("--emit-pieces needs --merges (the tokenizer)",
              file=sys.stderr)
        return 2
    spark = _spark()
    tok_kw, _art = {}, None
    if getattr(args, "merges", None):
        tok_kw, _art = _load_merges_artifact(args.merges)
    kw, _persisted = _sink_kwargs_from_state(args.state)
    kw.update(tok_kw)  # the artifact IS the tokenizer; fp validates
    if getattr(args, "eos_token", None):
        kw["eos_token"] = args.eos_token
    sink = TrainingShardSink(args.state, **kw)
    sink._validate_params()  # refuse a layout packed under another vocab
    corpus = spark.read.parquet(args.corpus)
    shards = (
        [int(s) for s in args.shards.split(",")] if args.shards else None
    )
    epoch = getattr(args, "epoch", None)
    out_df = sink.materialize(spark, corpus, shards, epoch=epoch)
    if getattr(args, "emit_pieces", False):
        from vcf_pg_loader_spark.operators.bpe import bpe_encode_doc_arrow

        # narrow Arrow map: the packed per-partition order carries
        # through, so the written files stay in layout order with the
        # token stream attached
        out_df = bpe_encode_doc_arrow(
            out_df,
            sink.merges,
            keep_all=True,
            mode=sink.token_mode,
            max_chars=sink.max_chars,
        )
        if sink.max_doc_tokens is not None:
            # slice to the truncation cap BEFORE the separator append,
            # mirroring materialize_sequences — the manifest budgeted
            # capped lengths, so an unsliced stream would overrun
            # n_tokens and trip the integrity check with a misleading
            # wrong-corpus error (round-12 advice)
            out_df = out_df.withColumn(
                "pieces", F.slice("pieces", 1, sink.max_doc_tokens)
            )
        if sink.doc_sep:
            # an EOS-budgeted layout counts the separators in its
            # manifest — emit them so the attached stream IS the
            # training stream and the integrity sums stay exact
            out_df = out_df.withColumn(
                "pieces",
                F.concat(
                    F.col("pieces"),
                    F.array_repeat(F.lit(sink.eos_token), sink.doc_sep),
                ),
            )
    (
        out_df.write.mode("overwrite")  # materialize already packs order
        .partitionBy("shard")
        .parquet(args.out)
    )
    man = sink.manifest(spark, epoch=epoch)
    if shards is not None:
        from vcf_pg_loader_spark.streaming.sink import isin_values

        man = man.filter(isin_values(F.col("shard"), set(shards)))
    stats = man.agg(
        F.count(F.lit(1)).alias("shards"),
        F.sum("n_docs").alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        F.sum("n_seqs").alias("seqs"),
    ).collect()[0]
    written_df = spark.read.parquet(args.out)
    w_aggs = [
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_tokens").alias("tokens"),
    ]
    if "pieces" in written_df.columns:
        # token-stream integrity: the emitted pieces must sum to the
        # layout's packed lengths EXACTLY (same vocab by fingerprint)
        w_aggs.append(
            F.sum(F.size("pieces")).cast("bigint").alias("piece_tokens")
        )
    written = written_df.agg(*w_aggs).collect()[0]
    report = {
        "state": args.state.rstrip("/"),
        "out": args.out,
        "shards": stats["shards"],
        "docs": int(stats["docs"] or 0),
        "tokens": int(stats["tokens"] or 0),
        "seqs": int(stats["seqs"] or 0),
        "written_docs": int(written["docs"] or 0),
        "written_tokens": int(written["tokens"] or 0),
    }
    if "pieces" in written_df.columns:
        report["written_piece_tokens"] = int(written["piece_tokens"] or 0)
    if (
        report["written_docs"] != report["docs"]
        or report["written_tokens"] != report["tokens"]
        or report.get("written_piece_tokens", report["tokens"])
        != report["tokens"]
    ):
        report["error"] = (
            "export is missing documents the layout expects — the "
            "--corpus does not match this layout's epoch (stale or "
            "wrong corpus); nothing about the written files should be "
            "trusted"
        )
        print(json.dumps(report))
        return 1
    print(json.dumps(report))
    return 0


def cmd_export_sequences(args) -> int:
    """Materialize the ACTUAL training sequences — (shard, seq_id,
    tokens) at seq_len tokens each — from the maintained layout's span
    recipe and a corpus parquet: the file a dataloader memory-maps.
    Token space follows the state (BPE with --merges, validated by
    fingerprint; whitespace otherwise); --epoch pins a retained
    snapshot like export-shard.  Integrity: the written sequence count
    and token sum must equal the manifest exactly — n_seqs and
    n_tokens are redundant encodings of the same packing, so any
    corpus/layout mismatch surfaces as a nonzero exit, never as a
    silently short training set."""
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

    spark = _spark()
    tok_kw, _art = {}, None
    if getattr(args, "merges", None):
        tok_kw, _art = _load_merges_artifact(args.merges)
    kw, _persisted = _sink_kwargs_from_state(args.state)
    kw.update(tok_kw)  # the artifact IS the tokenizer; fp validates
    if getattr(args, "eos_token", None):
        kw["eos_token"] = args.eos_token
    sink = TrainingShardSink(args.state, **kw)
    sink._validate_params()
    corpus = spark.read.parquet(args.corpus)
    shards = (
        [int(s) for s in args.shards.split(",")] if args.shards else None
    )
    epoch = getattr(args, "epoch", None)
    seqs = sink.materialize_sequences(spark, corpus, shards, epoch=epoch)
    emit_ids = bool(getattr(args, "emit_ids", False)) or bool(
        getattr(args, "bin_out", None)
    )
    if emit_ids:
        if _art is None or "alphabet" not in _art:
            print(
                "--emit-ids/--bin-out need a --merges artifact that "
                "records the training alphabet (re-run train-vocab; "
                "older artifacts predate id assignment)",
                file=sys.stderr,
            )
            return 2
        from vcf_pg_loader_spark.operators.tokenids import ids_col_arrow

        seqs = ids_col_arrow(
            seqs, _art["alphabet"], [tuple(m) for m in _art["merges"]]
        )
    if getattr(args, "mask_schedule", False):
        # the deterministic span-corruption plan, attached as data:
        # pure (shard, seq_id, position) hashing (operators/masking.py
        # — the same arithmetic q_mask_schedule pins), a per-row array
        # expression that adds ZERO shuffles to the export
        from vcf_pg_loader_spark.operators.masking import (
            mask_positions_col,
        )

        seqs = seqs.withColumn(
            "masked_positions",
            mask_positions_col(
                F.col("shard"), F.col("seq_id"), F.size("tokens")
            ),
        )
    order_cols = ["shard", "seq_id"]
    train_epoch = getattr(args, "train_epoch", None)
    if train_epoch is not None:
        # write in the epoch's read schedule: join the (tiny) per-epoch
        # permutation and sort by it within each shard file — the
        # dataloader then streams sequentially, no shuffling client-side
        from vcf_pg_loader_spark.operators.shards import (
            epoch_sequence_order,
        )

        sched = epoch_sequence_order(
            sink.manifest(spark, epoch=epoch), int(train_epoch)
        )
        seqs = seqs.join(F.broadcast(sched), ["shard", "seq_id"])
        order_cols = ["shard", "epoch_pos"]
    (
        seqs.repartition(F.col("shard"))
        .sortWithinPartitions(*order_cols)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(args.out)
    )
    man = sink.manifest(spark, epoch=epoch)
    if shards is not None:
        from vcf_pg_loader_spark.streaming.sink import isin_values

        man = man.filter(isin_values(F.col("shard"), set(shards)))
    stats = man.agg(
        F.sum("n_seqs").alias("seqs"),
        F.sum("n_tokens").alias("tokens"),
    ).collect()[0]
    written = (
        spark.read.parquet(args.out)
        .agg(
            F.count(F.lit(1)).alias("seqs"),
            F.sum(F.size("tokens")).alias("tokens"),
        )
        .collect()[0]
    )
    report = {
        "state": args.state.rstrip("/"),
        "out": args.out,
        "seqs": int(stats["seqs"] or 0),
        "tokens": int(stats["tokens"] or 0),
        "written_seqs": int(written["seqs"] or 0),
        "written_tokens": int(written["tokens"] or 0),
    }
    if getattr(args, "mask_schedule", False):
        # mask integrity from the span recipe alone (TEXT-FREE): the
        # layout's per-sequence lengths re-derive the schedule, and
        # every written row's masked_positions must match — a corpus
        # that drifted from the layout shows up here even when the
        # token counts happen to sum right
        from vcf_pg_loader_spark.operators.masking import (
            mask_positions_col,
        )
        from vcf_pg_loader_spark.operators.shards import shard_sequences

        lay = sink.layout(spark, epoch=epoch)
        if shards is not None:
            from vcf_pg_loader_spark.streaming.sink import isin_values

            lay = lay.filter(isin_values(F.col("shard"), set(shards)))
        expect = (
            shard_sequences(lay, sink.seq_len)
            .groupBy("shard", "seq_id")
            .agg(F.sum("tok_len").cast("bigint").alias("n"))
        )
        expect = expect.select(
            "shard",
            "seq_id",
            mask_positions_col(
                F.col("shard"), F.col("seq_id"), F.col("n")
            ).alias("want_mp"),
        )
        bad_mask = (
            spark.read.parquet(args.out)
            .select("shard", "seq_id", "masked_positions")
            .join(expect, ["shard", "seq_id"], "full")
            .filter(
                F.col("masked_positions").isNull()
                | F.col("want_mp").isNull()
                | (F.col("masked_positions") != F.col("want_mp"))
            )
            .count()
        )
        report["masked_seqs_checked"] = int(
            expect.count()
        )
        if bad_mask:
            report["error"] = (
                f"{bad_mask} sequence(s) carry a mask schedule that "
                "does not match the layout's span recipe — the "
                "export must not be trained on"
            )
            print(json.dumps(report))
            return 1
    if getattr(args, "bin_out", None):
        # the mmap-able artifact: per-shard int32 files in seq_id
        # order + a byte-level manifest.  Cross-check the bin
        # manifest's per-shard seq/token counts against the LAYOUT
        # manifest — the bin is only trustworthy if it carries
        # exactly the packing the state promised.
        from vcf_pg_loader_spark.operators.tokenids import (
            write_id_shards,
        )

        bin_man = write_id_shards(
            spark.read.parquet(args.out), args.bin_out, sink.seq_len
        )
        expect = {
            int(r["shard"]): (int(r["n_seqs"]), int(r["n_tokens"]))
            for r in man.collect()
        }
        got = {
            int(k): (v["n_seqs"], v["n_tokens"])
            for k, v in bin_man["shards"].items()
        }
        report["bin_out"] = args.bin_out
        report["bin_shards"] = len(got)
        report["bin_pad_tokens"] = sum(
            v["n_pad"] for v in bin_man["shards"].values()
        )
        if got != {k: v for k, v in expect.items() if v[0] > 0}:
            report["error"] = (
                "binary shards do not reproduce the manifest's "
                "packing — do not train on this export"
            )
            print(json.dumps(report))
            return 1
    if (
        report["written_seqs"] != report["seqs"]
        or report["written_tokens"] != report["tokens"]
    ):
        report["error"] = (
            "written sequences do not reproduce the manifest's packing "
            "— the --corpus does not match this layout's epoch; the "
            "export is short or mis-sliced and must not be trained on"
        )
        print(json.dumps(report))
        return 1
    print(json.dumps(report))
    return 0


def cmd_export_epoch_order(args) -> int:
    """Write ONLY a training epoch's read schedule — (shard, seq_id,
    epoch_pos), one partition per shard — against a maintained shard
    state's manifest.  The 100 TB multi-epoch pattern: export the
    sequence BYTES once (export-sequences, seq_id order) and ship this
    control-plane-sized schedule per epoch; `export-sequences
    --train-epoch` (which physically reorders the bytes) is for when a
    storage layer can't seek.  Schedule rows = total_tokens / seq_len;
    at any corpus size this is a rounding error next to the bytes.
    Deterministic: same state + epoch → identical files."""
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.operators.shards import epoch_sequence_order
    from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

    spark = _spark()
    kw, _persisted = _sink_kwargs_from_state(args.state)
    sink = TrainingShardSink(args.state, **kw)
    man = sink.manifest(spark, epoch=getattr(args, "epoch", None))
    sched = epoch_sequence_order(man, int(args.train_epoch))
    (
        sched.repartition(F.col("shard"))
        .sortWithinPartitions("shard", "epoch_pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(args.out)
    )
    stats = spark.read.parquet(args.out).agg(
        F.count(F.lit(1)).alias("seqs"),
        F.countDistinct("shard").alias("shards"),
    ).collect()[0]
    expected = man.agg(F.sum("n_seqs").alias("s")).collect()[0]["s"]
    report = {
        "state": args.state.rstrip("/"),
        "out": args.out,
        "train_epoch": int(args.train_epoch),
        "seqs": int(stats["seqs"] or 0),
        "shards": int(stats["shards"] or 0),
    }
    if report["seqs"] != int(expected or 0):
        report["error"] = (
            "schedule rows do not cover the manifest's sequences"
        )
        print(json.dumps(report))
        return 1
    print(json.dumps(report))
    return 0


def cmd_seq_decontam(args) -> int:
    """Sequence-level decontamination against a MAINTAINED shard state:
    slide n-gram windows over the packed training streams (assembled
    from the persisted layout — no repack) and join them against an
    eval corpus's shingle vocabulary; report contaminated sequences
    with their crossing-boundary breakdown and write the full report
    as parquet.  The check only packing makes necessary: an eval
    n-gram can materialize ACROSS a document boundary inside a
    sequence even when no single train document contains it (an
    EOS-budgeted layout, --shards-doc-sep, interrupts such windows —
    crossing hits there indicate a separator-free pack).  Exit 1 when
    any contaminated sequence is found and --fail-on-hit is set."""
    from pyspark.sql import functions as F

    from vcf_pg_loader_spark.operators.dedup import shingles
    from vcf_pg_loader_spark.operators.shards import shard_sequences
    from vcf_pg_loader_spark.streaming.shards import TrainingShardSink

    spark = _spark()
    kw, _persisted = _sink_kwargs_from_state(args.state)
    if _persisted is None:
        # a pre-fingerprint legacy state carries no _params.json, so
        # its token space is unknowable — scanning it in whitespace
        # space against a BPE-packed layout's offsets would produce
        # wrong shingles silently.  Refuse rather than assume.
        print(
            "state has no _params.json — its token space is unknown; "
            "re-run sync-corpus to stamp parameters before "
            "seq-decontam",
            file=sys.stderr,
        )
        return 2
    bpe_state = _persisted.get("token_space") == "bpe"
    if bpe_state and not getattr(args, "merges", None):
        print(
            "this state is BPE-packed: pass --merges (the state's vocab "
            "artifact) to decontaminate in TOKEN space — eval n-grams "
            "are encoded with the same tokenizer and slid over the "
            "packed piece streams",
            file=sys.stderr,
        )
        return 2
    sep = " "
    if bpe_state:
        tok_kw, _art = _load_merges_artifact(args.merges)
        kw.update(tok_kw)
        # pieces may contain spaces in chars mode; join windows on a
        # unit separator so shingle equality is piece-exact
        sep = "\x1f"
    sink = TrainingShardSink(args.state, **kw)
    sink._validate_params()  # wrong artifact for this state refuses
    n = args.ngram
    corpus = spark.read.parquet(args.corpus)
    evals = spark.read.parquet(args.eval)
    if bpe_state:
        # eval shingles in PIECE space under the state's tokenizer
        from vcf_pg_loader_spark.operators.bpe import (
            bpe_encode_doc_arrow,
        )

        ev_enc = bpe_encode_doc_arrow(
            evals.select("doc_id", "text"),
            sink.merges,
            mode=sink.token_mode,
            max_chars=sink.max_chars,
        )
        ev_sh = (
            ev_enc.filter(F.size("pieces") >= n)
            .select(
                "pieces",
                F.explode(
                    F.sequence(
                        F.lit(0).cast("bigint"),
                        (F.size("pieces") - n).cast("bigint"),
                    )
                ).alias("p"),
            )
            .select(
                F.concat_ws(
                    sep,
                    F.slice(
                        F.col("pieces"), (F.col("p") + 1).cast("int"), n
                    ),
                ).alias("shingle")
            )
            .distinct()
        )
    else:
        ev_sh = (
            shingles(evals, "doc_id", "text", n)
            .select("shingle")
            .distinct()
        )
    if getattr(args, "index_state", None):
        # served path (round 14): the maintained sequence-shingle
        # postings already hold every window — one broadcast join, no
        # re-assembly, no corpus read.  The index must prove it
        # describes the SAME corpus as the shard state (lockstep epoch
        # stamps), else refuse — serving stale postings as a
        # decontamination verdict is the one unforgivable failure here.
        if getattr(args, "epoch", None):
            print(
                "--index-state serves the CURRENT state; epoch-pinned "
                "scans need the assembly path (drop --index-state)",
                file=sys.stderr,
            )
            return 2
        from vcf_pg_loader_spark.streaming.seqdecontam import (
            SeqShingleIndexSink,
        )

        idx = SeqShingleIndexSink(args.index_state, ngram=n, sep=sep)
        idx._validate_params()
        idx_stamp = idx.read_epoch()
        st_stamp = sink.read_epoch()
        if (
            idx_stamp is None
            or st_stamp is None
            or idx_stamp.get("epoch_fp") != st_stamp.get("epoch_fp")
        ):
            print(
                "the sequence index is not in lockstep with the shard "
                "state (epoch stamps differ or missing) — re-run "
                "sync-corpus with --seq-index-state before serving",
                file=sys.stderr,
            )
            return 2
        report_df = idx.serve(spark, ev_sh)
    else:
        lay = sink.layout(spark, epoch=getattr(args, "epoch", None))
        spans = shard_sequences(lay, sink.seq_len)
        seqs = sink.materialize_sequences(
            spark, corpus, epoch=getattr(args, "epoch", None)
        )
        from vcf_pg_loader_spark.streaming.seqdecontam import (
            sequence_shingle_table,
        )

        sh = sequence_shingle_table(seqs, spans, n, sep)
        report_df = (
            sh.join(F.broadcast(ev_sh), "shingle")
            .groupBy("shard", "seq_id")
            .agg(
                F.count(F.lit(1)).alias("n_hits"),
                F.sum(F.col("crosses").cast("bigint")).alias(
                    "n_cross_boundary"
                ),
            )
        )
    report_df.write.mode("overwrite").parquet(args.out)
    agg = spark.read.parquet(args.out).agg(
        F.count(F.lit(1)).alias("seqs"),
        F.sum("n_hits").alias("hits"),
        F.sum("n_cross_boundary").alias("cross"),
    ).collect()[0]
    report = {
        "state": args.state.rstrip("/"),
        "out": args.out,
        "ngram": n,
        "token_space": "bpe" if bpe_state else "whitespace",
        "contaminated_seqs": int(agg["seqs"] or 0),
        "hits": int(agg["hits"] or 0),
        "cross_boundary_hits": int(agg["cross"] or 0),
    }
    print(json.dumps(report))
    if args.fail_on_hit and report["contaminated_seqs"]:
        return 1
    return 0


def cmd_verify_consistency(args) -> int:
    """Prove (or refute) that N maintained states are views of the SAME
    corpus snapshot: every state must carry an epoch stamp (written by
    sync-corpus after its apply) with the same content fingerprint and
    batch id, and that batch id must be in the state's exactly-once
    ledger.  A partial lockstep sync — crash between sinks, a sink
    added later, an operator syncing one state out of band — shows up
    as a mismatched or missing stamp here instead of as silently
    diverged reports.  Reads only the small JSON artifacts beside each
    state, never the data."""
    from vcf_pg_loader_spark.streaming.sink import ParquetUpsertSink

    states = []
    for root in args.states:
        sink = ParquetUpsertSink(root, key=[])
        ep = sink.read_epoch()
        states.append(
            {
                "state": root.rstrip("/"),
                "epoch": ep,
                "epoch_applied": (
                    ep is not None and ep["batch_id"] in sink.applied_ids()
                ),
            }
        )
    fps = {
        (s["epoch"]["epoch_fp"], s["epoch"]["batch_id"])
        for s in states
        if s["epoch"] is not None
    }
    consistent = (
        len(states) > 0
        and all(s["epoch"] is not None for s in states)
        and all(s["epoch_applied"] for s in states)
        and len(fps) == 1
    )
    print(json.dumps({"consistent": consistent, "states": states}))
    return 0 if consistent else 1


def cmd_compact_ledger(args) -> int:
    """Roll a maintained state's per-batch exactly-once ledger files
    into one `_compacted.json` (streaming/sink.py compact_ledger) —
    the ledger otherwise grows one tiny file per micro-batch forever.
    Crash-safe and idempotent; replay guarantees are unchanged because
    `applied` consults the union of both ledger forms.  The only
    state-stats field this changes is how the same batch ids are
    stored."""
    from vcf_pg_loader_spark.streaming.sink import ParquetUpsertSink

    out = ParquetUpsertSink(args.state, key=[]).compact_ledger()
    print(json.dumps({"state": args.state.rstrip("/"), **out}))
    return 0


def cmd_rebucket(args) -> int:
    """Grow (or shrink) a maintained state's hash-bucket layout in
    place (streaming/sink.py rebucket_state): exactly one full rewrite
    of the tables carrying the layout column, everything else
    hard-links through the atomic swap, and the parameter fingerprint
    restamps with the new count — the migration path when a layout
    constant changes in config, instead of a from-scratch rebuild via
    a semantic-version bump."""
    from vcf_pg_loader_spark.streaming.sink import rebucket_state

    spark = _spark()
    out = rebucket_state(
        spark, args.state, args.key, args.n, id_col=args.id_col
    )
    print(json.dumps({"state": args.state.rstrip("/"), **out}))
    return 0


def cmd_reshard(args) -> int:
    """Migrate a TrainingShardSink state to a new n_shards and/or
    seq_len in place (streaming/shards.py reshard_state): one full
    rewrite of layout+manifest rebuilt from the persisted per-doc
    facts — doc_id, n_tokens, dfp — so no documents table is scanned
    and no text is re-tokenized (a BPE-packed layout keeps its token
    space without the vocab artifact).  The sibling of `rebucket` for
    the two shard parameters that are assignments, not bucket
    layouts."""
    from vcf_pg_loader_spark.streaming.shards import reshard_state

    spark = _spark()
    out = reshard_state(
        spark, args.state, n_shards=args.n_shards, seq_len=args.seq_len
    )
    print(json.dumps({"state": args.state.rstrip("/"), **out}))
    return 0


def cmd_repack(args) -> int:
    """Migrate a TrainingShardSink state to a NEW tokenizer in place
    (streaming/shards.py repack_merges) — the recovery verb for a
    merges/vocab change, which previously refused (correctly) and then
    required a by-hand rebuild.  One corpus re-encode derives the new
    lengths (the only thing a vocab change moves); doc_id, shard
    assignment, okey, and dfp carry verbatim from the persisted
    layout, and the corpus is verified content-identical to the state
    (per-doc fingerprints) before anything is written.  After the
    swap, maintenance and exports run under the new artifact; the old
    artifact refuses."""
    from vcf_pg_loader_spark.streaming.shards import repack_merges

    spark = _spark()
    tok_kw, _art = _load_merges_artifact(args.merges)
    corpus = spark.read.parquet(args.corpus)
    out = repack_merges(
        spark,
        args.state,
        corpus,
        tok_kw["merges"],
        tok_kw["vocab_fp"],
        token_mode=tok_kw.get("token_mode", "words"),
        max_chars=tok_kw.get("max_chars"),
    )
    print(json.dumps({"state": args.state.rstrip("/"), **out}))
    return 0


def cmd_export_vocab(args) -> int:
    """Write the id-assignment vocabulary a dataloader pairs with the
    binary shards: (id, piece) parquet in dense id order, derived
    purely from the train-vocab artifact (operators/tokenids.py —
    specials, sorted alphabet, merge products).  The JSON report
    carries vocab_size and the artifact's corpus_fp so a consumer can
    cross-check the manifest it maps against."""
    from vcf_pg_loader_spark.operators.tokenids import (
        piece_ids,
        vocab_pieces,
    )

    tok_kw, art = _load_merges_artifact(args.merges)
    if art is None or "alphabet" not in art:
        print(
            "the --merges artifact records no alphabet (pre-round-13); "
            "re-run train-vocab to stamp one",
            file=sys.stderr,
        )
        return 2
    merges = tok_kw["merges"]
    pieces = vocab_pieces(art["alphabet"], merges)
    ids = piece_ids(art["alphabet"], merges)
    spark = _spark()
    rows = [(i, p, ids[p] == i) for i, p in enumerate(pieces)]
    (
        spark.createDataFrame(
            rows, "id int, piece string, canonical boolean"
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(args.out)
    )
    print(
        json.dumps(
            {
                "out": args.out,
                "vocab_size": len(pieces),
                "n_alphabet": len(art["alphabet"]),
                "n_merges": len(merges),
                "corpus_fp": art["corpus_fp"],
                "mode": art.get("mode", "words"),
                # duplicate pieces (merge product == earlier piece):
                # non-canonical rows decode, never encode
                "n_collisions": sum(1 for r in rows if not r[2]),
            }
        )
    )
    return 0


def cmd_state_stats(args) -> int:
    """Operational audit of a maintained state directory (any
    ParquetUpsertSink-family target): per-table row counts and on-disk
    bytes, the embedded applied-batch marker, the persisted parameter
    fingerprint, and the exactly-once ledger's batch ids — what an
    operator checks before trusting a state, syncing a snapshot into
    it, or deciding a structure needs compaction/reindexing.  Pure
    read; never touches the state."""
    import os

    spark = _spark()
    root = args.state.rstrip("/")
    tables = {}
    for name in sorted(os.listdir(root)) if os.path.isdir(root) else []:
        full = os.path.join(root, name)
        if not os.path.isdir(full) or name.startswith("_"):
            continue
        nbytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _dirs, files in os.walk(full)
            for f in files
        )
        try:
            rows = spark.read.parquet(full).count()
        except Exception:
            # non-parquet sidecar (e.g. a VectorIndex meta/ json table)
            rows = None
        tables[name] = {"rows": rows, "bytes": nbytes}

    from vcf_pg_loader_spark.durable import read_json
    from vcf_pg_loader_spark.streaming.sink import ParquetUpsertSink

    sink = ParquetUpsertSink(root, key=[])
    batches = sorted(sink.applied_ids())
    print(
        json.dumps(
            {
                "state": root,
                "tables": tables,
                "applied_batch": read_json(
                    os.path.join(root, "_applied_batch.json")
                ),
                "params": read_json(os.path.join(root, "_params.json")),
                "ledger_batches": batches,
                # corpus-epoch stamp (sync-corpus lockstep identity);
                # None for states maintained outside snapshot syncs
                "epoch": sink.read_epoch(),
                # retained epoch snapshots a pinned reader can still
                # serve (TrainingShardSink stamp_epoch retention)
                "retained_epochs": sorted(
                    e
                    for e in (
                        os.listdir(f"{root}_epochs")
                        if os.path.isdir(f"{root}_epochs")
                        else []
                    )
                    if not e.endswith(".tmp")
                ),
            },
            sort_keys=True,
        )
    )
    return 0


def build_parser() -> argparse.ArgumentParser:
    # the dedup/retract defaults ARE the pipeline constants: a CLI batch
    # applied with different parameters against pipeline-built state is
    # refused by the sink's persisted fingerprint, so the defaults must
    # never drift from queries/pipeline.py (test_cli pins the equality)
    from vcf_pg_loader_spark.queries.pipeline import (
        JACCARD_T,
        MINHASH_BANDS,
        MINHASH_K,
        NGRAM,
        NLL_MAX,
    )

    p = argparse.ArgumentParser(prog="vcf-pg-loader-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add(name, fn, **kwargs):
        sp = sub.add_parser(name, **kwargs)
        sp.set_defaults(fn=fn)
        return sp

    sp = add("load", cmd_load, help="load a VCF into the variant store")
    sp.add_argument("vcf")
    sp.add_argument("--store", required=True)
    sp.add_argument("--normalize", action="store_true")
    sp.add_argument("--non-human", action="store_true")
    sp.add_argument("--min-info-score", type=float)
    sp.add_argument(
        "--features",
        default="auto",
        help="derived-column groups: 'auto' (header-gated, default), "
        "'all', '' (minimal), or a comma list of "
        "annotation,imputation,clinvar,info_extras",
    )
    sp.add_argument("--force", action="store_true")

    sp = add("validate", cmd_validate, help="duplicate/type report for a VCF")
    sp.add_argument("vcf")

    sp = add("import-gwas", cmd_import_gwas, help="import GWAS-SSF stats")
    sp.add_argument("tsv")
    sp.add_argument("--store", required=True)

    sp = add("import-pgs", cmd_import_pgs, help="import PGS Catalog weights")
    sp.add_argument("file")
    sp.add_argument("--store", required=True)

    sp = add("load-reference", cmd_load_reference, help="load HapMap3 panel")
    sp.add_argument("tsv")
    sp.add_argument("--store", required=True)
    sp.add_argument("--build", default="grch38")

    sp = add("annotate-ld-blocks", cmd_annotate_ld_blocks)
    sp.add_argument("bed")
    sp.add_argument("--store", required=True)
    sp.add_argument("--population", required=True)
    sp.add_argument("--build", default="grch37")

    sp = add("compute-sample-qc", cmd_compute_sample_qc)
    sp.add_argument("vcf")
    sp.add_argument("--store", required=True)

    sp = add("refresh-views", cmd_refresh_views)
    sp.add_argument("--store", required=True)

    sp = add("annotation-query", cmd_annotation_query, help="raw SQL over the store")
    sp.add_argument("sql")
    sp.add_argument("--store", required=True)
    sp.add_argument("--limit", type=int, default=100)

    sp = add("annotate", cmd_annotate, help="echtvar-filter annotation join")
    sp.add_argument("--store", required=True)
    sp.add_argument("--source", action="append", metavar="name=path")
    sp.add_argument("--filter")
    sp.add_argument("--limit", type=int)

    for fmt in ("plink", "prs-cs", "ldpred2", "prsice"):
        sp = add(f"export-{fmt}", lambda a, f=fmt: _export(a, f))
        sp.add_argument("--store", required=True)
        sp.add_argument("--out", required=True)
        sp.add_argument("--hapmap3-only", action="store_true")
        sp.add_argument("--min-info", type=float)
        sp.add_argument("--min-maf", type=float)

    sp = add("score", cmd_score, help="per-sample PRS from genotypes + weights")
    sp.add_argument("vcf")
    sp.add_argument("--store", required=True)

    sp = add("import-frequencies", cmd_import_frequencies,
             help="import gnomAD population frequencies + popmax")
    sp.add_argument("vcf")
    sp.add_argument("--store", required=True)
    sp.add_argument("--source", default="gnomAD_v3")
    sp.add_argument("--update-popmax", action="store_true", default=True)
    sp.add_argument(
        "--no-update-popmax", dest="update_popmax", action="store_false"
    )

    sp = add("ld-block-stats", cmd_ld_block_stats,
             help="per-population/build LD block rollup")
    sp.add_argument("bed")
    sp.add_argument("--population", required=True)
    sp.add_argument("--build", default="grch37")

    sp = add("benchmark", cmd_benchmark)
    sp.add_argument("--variants", type=int, default=10000)
    sp.add_argument("--giab", action="store_true",
                    help="GIAB v4.2.1-shaped distribution")

    sp = add("compact", cmd_compact,
             help="compact store partitions into target-size sorted files")
    sp.add_argument("--store", required=True)
    sp.add_argument("--target-rows", type=int, default=1_000_000)

    sp = add("profile", cmd_profile,
             help="sketch-composed ANALYZE report for a parquet table")
    sp.add_argument("path")
    sp.add_argument("--key", help="column for cardinality (exact + KMV)")
    sp.add_argument("--column", help="numeric column for HDR quantiles")

    sp = add("dedup-corpus", cmd_dedup_corpus,
             help="near-dup dedup a (doc_id, text) corpus; "
                  "persist + serve the cluster table")
    sp.add_argument("corpus")
    sp.add_argument("--out", required=True)
    sp.add_argument("--clusters", required=True,
                    help="cluster-table dir (reused unless --rebuild)")
    sp.add_argument("--rebuild", action="store_true")
    sp.add_argument("--ngram", type=int, default=NGRAM)
    sp.add_argument("--minhash-k", type=int, default=MINHASH_K)
    sp.add_argument("--bands", type=int, default=MINHASH_BANDS)
    sp.add_argument("--threshold", type=float, default=JACCARD_T)
    sp.add_argument("--bucket-cap", type=int,
                    help="per-band bucket-size safety valve (see sync-corpus --bucket-cap)")

    sp = add("retract-corpus", cmd_retract_corpus,
             help="apply a Z-set insert/retraction batch to the "
                  "maintained cluster state (takedown path)")
    sp.add_argument("--state", required=True,
                    help="DedupClusterMaintSink state dir")
    sp.add_argument("--batch",
                    help="parquet Z-set batch (doc_id, text, _mult)")
    sp.add_argument("--delete-ids",
                    help="parquet of doc ids to retract (first column)")
    sp.add_argument("--batch-id", type=int, required=True,
                    help="exactly-once batch id (replays are no-ops)")
    sp.add_argument("--out", help="write the kept corpus here")
    sp.add_argument("--ngram", type=int, default=NGRAM)
    sp.add_argument("--minhash-k", type=int, default=MINHASH_K)
    sp.add_argument("--bands", type=int, default=MINHASH_BANDS)
    sp.add_argument("--threshold", type=float, default=JACCARD_T)
    sp.add_argument("--bucket-cap", type=int,
                    help="per-band bucket-size safety valve (see sync-corpus --bucket-cap)")

    sp = add("sync-corpus", cmd_sync_corpus,
             help="diff a new corpus snapshot against the maintained "
                  "cluster state and apply the Z-set delta (CDC path)")
    sp.add_argument("--state", required=True,
                    help="DedupClusterMaintSink state dir")
    sp.add_argument("--snapshot",
                    help="parquet of the NEW corpus snapshot (doc_id, "
                         "text); the delta is derived by self-diffing "
                         "the state (one of --snapshot/--delta)")
    sp.add_argument("--delta",
                    help="parquet of a PRE-DIFFED Z-set feed (doc_id, "
                         "text, _mult[, source]) — the CDC input path: "
                         "skips the O(|snapshot|) self-diff and folds "
                         "the epoch fingerprint forward in XOR algebra, "
                         "so a small delta syncs in O(|delta|) end to "
                         "end.  -1 tuples must carry each doc's current "
                         "text (verified against the state, id-bucket-"
                         "pruned); changed docs ride as +/-1 pairs; the "
                         "state must already be epoch-stamped (bootstrap "
                         "with --snapshot).  Lockstep sibling states "
                         "consume the same feed; the card/shards "
                         "self-diff HEALING passes need --snapshot.  "
                         "When the stamp folds source (fp_cols "
                         "id:md5:source), -1 tuples must carry each "
                         "doc's CURRENT source: verified against the "
                         "card state when --card-state is given, "
                         "otherwise the caller's unverified obligation "
                         "(the cluster corpus persists no source)")
    sp.add_argument("--batch-id", type=int, required=True,
                    help="exactly-once batch id (replays are no-ops)")
    sp.add_argument("--recall-sample", type=int, default=0,
                    metavar="MOD",
                    help="log a sampled LSH recall estimate in the sync "
                         "report: docs with h60(doc_id) %% MOD == 0 are "
                         "exact-verified against themselves "
                         "(prefix-filtered AllPairs) and checked for "
                         "band collisions under this state's (k, bands) "
                         "— the recall side of the --minhash-k "
                         "cost/recall trade (cost side: "
                         "q_lsh_bucket_stats).  0 (default) = off; "
                         "raise MOD to cap the sample at any corpus "
                         "size")
    sp.add_argument("--out", help="write the kept corpus here")
    sp.add_argument("--funnel-state",
                    help="also apply the delta to this FunnelReportSink "
                         "state (must be synced in lockstep with --state)")
    sp.add_argument("--decontam-state",
                    help="also apply the delta to this DecontamIndexSink "
                         "state (must be synced in lockstep with --state)")
    sp.add_argument("--card-state",
                    help="also apply the delta to this DatasetCardSink "
                         "state (must be synced in lockstep with --state); "
                         "the snapshot's source column rides along when "
                         "present")
    sp.add_argument("--shards-state",
                    help="also maintain this TrainingShardSink state as "
                         "the packed layout of the KEPT corpus (the "
                         "near-dup survivors); self-diffs on content "
                         "fingerprint, lockstep with --state")
    sp.add_argument("--mix-budget", type=int,
                    help="with --shards-state: pack only a temperature-"
                         "mixed selection of the kept corpus (per-source "
                         "quotas w_s ~ sqrt(n_s) over this doc budget, "
                         "filled by deterministic hash rank)")
    sp.add_argument("--vocab-state",
                    help="also maintain this VocabSink (word, n) state "
                         "from the same delta, lockstep with --state; "
                         "train-vocab --counts-state then retrains "
                         "without a corpus pass")
    sp.add_argument("--seq-index-state",
                    help="with --shards-state: also maintain this "
                         "SeqShingleIndexSink (packed-stream n-gram "
                         "postings, shard-partitioned) in lockstep — "
                         "only the layout delta's shards recompute; "
                         "seq-decontam --index-state then serves "
                         "without re-assembling any sequence")
    sp.add_argument("--seq-index-ngram", type=int,
                    help="window width for --seq-index-state (default: "
                         "--ngram); SEMANTIC — fingerprinted")
    sp.add_argument("--curriculum",
                    help="with --shards-state: pack each shard "
                         "bucket-by-bucket instead of pure hash order "
                         "— 'length:K[:STEP]' by token count, "
                         "'quality:K[:STEP]' by the card state's "
                         "maintained frozen-LM nll (needs "
                         "--card-state); K<=8 buckets, fingerprinted "
                         "as a semantic packing parameter")
    sp.add_argument("--vocab-mode", default="words",
                    choices=("words", "chars"),
                    help="unit the --vocab-state counts: whitespace "
                         "words (default) or bounded chars-mode chunks "
                         "(train-vocab --mode chars consumes those); "
                         "fingerprinted — a state maintained under one "
                         "mode refuses the other")
    sp.add_argument("--vocab-max-chars", type=int,
                    help="chars-mode chunk bound for --vocab-state "
                         "(default operators/bpe.py MAX_CHARS)")
    sp.add_argument("--shards-merges",
                    help="with --shards-state: vocab JSON from "
                         "train-vocab — pack the layout in TOKENIZER "
                         "space (per-doc n_tokens via the BPE encoder) "
                         "instead of whitespace counts; the vocab "
                         "fingerprint joins the state fingerprint so a "
                         "layout packed under one tokenizer refuses "
                         "another")
    sp.add_argument("--shards-doc-sep", type=int, default=0,
                    help="with --shards-state: budget this many "
                         "separator (EOS) tokens per document in the "
                         "packed layout — the cuts then match a "
                         "trainer that appends EOS after every doc; "
                         "a SEMANTIC packing parameter (joins the "
                         "state fingerprint)")
    sp.add_argument("--shards-max-doc-tokens", type=int,
                    help="with --shards-state: cap every document's "
                         "packed length (long-doc-skew guard); "
                         "exports slice to the cap; SEMANTIC "
                         "(fingerprinted)")
    sp.add_argument("--nll-max", type=float, default=NLL_MAX,
                    help="LM gate threshold for --funnel-state")
    sp.add_argument("--ngram", type=int, default=NGRAM)
    sp.add_argument("--minhash-k", type=int, default=MINHASH_K)
    sp.add_argument("--bands", type=int, default=MINHASH_BANDS)
    sp.add_argument("--threshold", type=float, default=JACCARD_T)
    sp.add_argument("--bucket-cap", type=int,
                    help="per-band bucket-size safety valve: intra-"
                         "batch LSH buckets larger than this route "
                         "through a verified star against the bucket "
                         "minimum instead of the pairwise self-join — "
                         "bounds the verify join on hyper-duplicated "
                         "keys (boilerplate, empty docs).  SEMANTIC "
                         "(fingerprinted: a capped state refuses an "
                         "uncapped sink and vice versa); routed "
                         "bucket/row counts are logged in the sync "
                         "report — never silent")

    sp = add("sync-serve", cmd_sync_serve,
             help="apply N pre-diffed delta feeds in ONE Spark session "
                  "(the sync service inner loop — amortizes the per-"
                  "sync JVM/session floor); forwards every flag after "
                  "--feeds verbatim to sync-corpus per batch")
    sp.add_argument("--feeds", required=True,
                    help="directory of batch feeds: one subdirectory "
                         "per batch, named by its integer batch id "
                         "(applied ascending), each a --delta parquet")
    sp.add_argument("rest", nargs=argparse.REMAINDER,
                    help="sync-corpus flags, after a literal `--` "
                         "separator (everything except --delta/"
                         "--snapshot/--batch-id, which sync-serve "
                         "fills in per feed): sync-serve --feeds DIR "
                         "-- --state S --bucket-cap 64 ...")

    sp = add("train-vocab", cmd_train_vocab,
             help="learn a BPE merge table from a corpus parquet (or a "
                  "maintained VocabSink state) and write it as a "
                  "fingerprinted JSON artifact")
    sp.add_argument("--corpus",
                    help="corpus parquet (doc_id, text)")
    sp.add_argument("--counts-state",
                    help="train from this maintained VocabSink state "
                         "(sync-corpus --vocab-state) instead of a "
                         "corpus pass; the artifact inherits the "
                         "state's corpus-epoch identity")
    sp.add_argument("--min-count", type=int, default=1,
                    help="word-frequency floor applied distributed-side "
                         "before training (--corpus and --counts-state) "
                         "— bounds the trained vocabulary on heavy "
                         "singleton tails. The standard approximation, "
                         "not exactly merge-preserving at ties; default "
                         "1 keeps training exact")
    sp.add_argument("--out", required=True, help="merges JSON path")
    sp.add_argument("--n-merges", type=int, default=64)
    sp.add_argument("--encode-out",
                    help="also write the tokenized corpus (Arrow "
                         "rank-priority encode) here")
    sp.add_argument("--mode", default="words",
                    choices=("words", "chars"),
                    help="pre-segmentation: words (whitespace split; "
                         "default) or chars (bounded raw-text chunks — "
                         "the no-space/CJK path: every BPE unit is at "
                         "most --max-chars characters, so encode cost "
                         "and driver collects stay bounded on corpora "
                         "whitespace splitting degenerates on). "
                         "Recorded in the artifact; downstream "
                         "consumers refuse a mode mismatch.")
    sp.add_argument("--max-chars", type=int,
                    help="chars-mode chunk bound (default "
                         "operators/bpe.py MAX_CHARS)")

    sp = add("export-shard", cmd_export_shard,
             help="materialize training shards: layout x corpus in "
                  "packed order, one partition dir per shard")
    sp.add_argument("--state", required=True,
                    help="TrainingShardSink state dir")
    sp.add_argument("--corpus", required=True,
                    help="corpus parquet (doc_id, text), e.g. the kept "
                         "corpus from sync-corpus --out")
    sp.add_argument("--out", required=True)
    sp.add_argument("--shards",
                    help="comma-separated shard ids (default: all)")
    sp.add_argument("--merges",
                    help="vocab JSON from train-vocab; REQUIRED when "
                         "the layout was packed in tokenizer space "
                         "(sync-corpus --shards-merges) — the vocab "
                         "fingerprint must match the state's")
    sp.add_argument("--epoch",
                    help="pin the export to a retained epoch snapshot "
                         "(an epoch_fp stamped by sync-corpus): bytes "
                         "stay identical even while later epochs "
                         "apply; pass the corpus matching that epoch")
    sp.add_argument("--emit-pieces", action="store_true",
                    help="with --merges: attach each document's BPE "
                         "token pieces (document order) to the export "
                         "via one narrow Arrow pass, and cross-check "
                         "the emitted token stream sums against the "
                         "manifest exactly")
    sp.add_argument("--eos-token",
                    help="spelling of the separator token an "
                         "EOS-budgeted layout (sync-corpus "
                         "--shards-doc-sep) emits in --emit-pieces "
                         "streams (default </s>; spelling is not part "
                         "of the packing fingerprint)")

    sp = add("export-sequences", cmd_export_sequences,
             help="materialize the actual seq_len-token training "
                  "sequences (shard, seq_id, tokens) from the "
                  "maintained layout + a corpus; manifest-checked")
    sp.add_argument("--state", required=True,
                    help="TrainingShardSink state dir")
    sp.add_argument("--corpus", required=True,
                    help="corpus parquet (doc_id, text) matching the "
                         "layout's epoch")
    sp.add_argument("--out", required=True)
    sp.add_argument("--shards",
                    help="comma-separated shard ids (default: all)")
    sp.add_argument("--merges",
                    help="vocab JSON; REQUIRED for a tokenizer-space "
                         "layout (fingerprint-checked)")
    sp.add_argument("--epoch",
                    help="pin to a retained epoch snapshot")
    sp.add_argument("--eos-token",
                    help="spelling of the separator token an "
                         "EOS-budgeted layout emits after each "
                         "document (default </s>)")
    sp.add_argument("--train-epoch", type=int,
                    help="write each shard's sequences in the "
                         "deterministic per-epoch shuffle order "
                         "(epoch_sequence_order) instead of seq_id "
                         "order, with the epoch_pos column attached — "
                         "a fresh reproducible read schedule per "
                         "training epoch, no repack (for storage that "
                         "can't seek; otherwise export bytes once and "
                         "ship export-epoch-order schedules)")
    sp.add_argument("--emit-ids", action="store_true",
                    help="attach ids: array<int> — each piece mapped "
                         "through the artifact's id assignment "
                         "(operators/tokenids.py: pad, unk, alphabet, "
                         "then merges in order); needs a --merges "
                         "artifact recording the alphabet")
    sp.add_argument("--bin-out",
                    help="also write the binary wire format here: one "
                         "little-endian int32 file per shard, seq_len "
                         "ids per row in seq_id order (tail padded), "
                         "plus manifest.json with byte lengths and "
                         "per-shard stream md5 — what a dataloader "
                         "memory-maps; implies --emit-ids")
    sp.add_argument("--mask-schedule", action="store_true",
                    help="attach masked_positions: array<bigint> — the "
                         "deterministic span-corruption schedule "
                         "(operators/masking.py, pure (shard,seq,pos) "
                         "hashing, zero extra shuffles); the written "
                         "schedule is re-derived from the text-free "
                         "span recipe and any mismatch exits nonzero")

    sp = add("export-epoch-order", cmd_export_epoch_order,
             help="write ONLY an epoch's read schedule (shard, seq_id, "
                  "epoch_pos) from the maintained manifest — the "
                  "control-plane-sized per-epoch artifact; bytes "
                  "export once via export-sequences")
    sp.add_argument("--state", required=True,
                    help="TrainingShardSink state dir")
    sp.add_argument("--train-epoch", type=int, required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--epoch",
                    help="pin to a retained corpus-epoch snapshot")

    sp = add("seq-decontam", cmd_seq_decontam,
             help="sequence-level decontamination of a maintained "
                  "shard state: eval n-grams in the packed streams, "
                  "incl. those assembled ACROSS document boundaries")
    sp.add_argument("--state", required=True,
                    help="TrainingShardSink state dir")
    sp.add_argument("--corpus", required=True,
                    help="train corpus parquet matching the layout")
    sp.add_argument("--eval", required=True,
                    help="eval corpus parquet (doc_id, text) — the "
                         "shingle vocabulary to scan for")
    sp.add_argument("--merges",
                    help="for a BPE-packed state: the state's vocab "
                         "artifact (fingerprint-checked) — the scan "
                         "then runs in TOKEN space, eval n-grams "
                         "encoded with the same tokenizer")
    sp.add_argument("--out", required=True,
                    help="per-sequence contamination report parquet")
    sp.add_argument("--ngram", type=int, default=3)
    sp.add_argument("--epoch",
                    help="pin to a retained corpus-epoch snapshot")
    sp.add_argument("--index-state",
                    help="serve from this maintained SeqShingleIndexSink "
                         "(sync-corpus --seq-index-state) instead of "
                         "re-assembling sequences: one broadcast join "
                         "against the persisted postings — O(eval) per "
                         "check.  Refuses an index whose epoch stamp "
                         "is not in lockstep with --state")
    sp.add_argument("--fail-on-hit", action="store_true",
                    help="exit 1 when any contaminated sequence exists")

    sp = add("verify-consistency", cmd_verify_consistency,
             help="check that N maintained states carry the same "
                  "corpus-epoch stamp (lockstep-sync audit); exit 1 "
                  "on mismatch")
    sp.add_argument("--states", required=True, nargs="+",
                    help="the sink state dirs that should be views of "
                         "one corpus snapshot")

    sp = add("state-stats", cmd_state_stats,
             help="audit a maintained state dir: per-table rows/bytes, "
                  "applied batch, params fingerprint, ledger")
    sp.add_argument("--state", required=True,
                    help="a sink state dir (DedupClusterMaintSink, "
                         "FunnelReportSink, DecontamIndexSink, ...)")

    sp = add("compact-ledger", cmd_compact_ledger,
             help="roll a state's per-batch ledger files into one "
                  "_compacted.json (exactly-once guarantees unchanged)")
    sp.add_argument("--state", required=True,
                    help="the sink state dir whose ledger to compact")

    sp = add("rebucket", cmd_rebucket,
             help="migrate a maintained state to a new bucket count "
                  "for one layout key and restamp its fingerprint")
    sp.add_argument("--state", required=True)
    sp.add_argument("--key", required=True,
                    help="layout fingerprint key: n_id_buckets, "
                         "n_term_buckets, or n_fp_buckets")
    sp.add_argument("--n", required=True, type=int,
                    help="the new bucket count")
    sp.add_argument("--id-col", default="doc_id",
                    help="id column the ib layout hashes (n_id_buckets "
                         "only)")

    sp = add("reshard", cmd_reshard,
             help="migrate a TrainingShardSink state to a new n_shards "
                  "and/or seq_len from its own persisted facts (no "
                  "document text re-read)")
    sp.add_argument("--state", required=True,
                    help="TrainingShardSink state dir")
    sp.add_argument("--n-shards", type=int)
    sp.add_argument("--seq-len", type=int)

    sp = add("repack", cmd_repack,
             help="migrate a TrainingShardSink state to a NEW "
                  "tokenizer (train-vocab artifact): one corpus "
                  "re-encode for the lengths, assignment/order/"
                  "fingerprints carried from the persisted layout, "
                  "fingerprint restamped — the vocab-change recovery "
                  "verb (reshard's sibling)")
    sp.add_argument("--state", required=True,
                    help="TrainingShardSink state dir")
    sp.add_argument("--merges", required=True,
                    help="NEW vocab JSON from train-vocab")
    sp.add_argument("--corpus", required=True,
                    help="the EXACT corpus this state maintains "
                         "(sync-corpus --out); verified per-doc "
                         "against the layout's content fingerprints")

    sp = add("export-vocab", cmd_export_vocab,
             help="write the (id, piece) vocabulary table a dataloader "
                  "pairs with the binary id shards, derived purely "
                  "from a train-vocab artifact")
    sp.add_argument("--merges", required=True,
                    help="vocab JSON from train-vocab (must record the "
                         "alphabet)")
    sp.add_argument("--out", required=True, help="parquet path")

    sp = add("build-rsid-index", cmd_build_rsid_index,
             help="materialize the rsid-sorted point-lookup copy")
    sp.add_argument("--store", required=True)
    sp.add_argument("--files", type=int, default=32)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
