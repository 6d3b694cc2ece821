"""Incremental view maintenance for inner-join views.

The delta-join rule: for inserts dL, dR,

    (L ∪ dL) ⋈ (R ∪ dR)  =  L⋈R  ∪  dL⋈R  ∪  L⋈dR  ∪  dL⋈dR

so a materialized join view folds a batch of inserts by joining ONLY the
deltas against the other side — cost ∝ |dL|·sel + |dR|·sel per batch,
never a recompute of |L|·|R|.  This is the classic counting-free IVM
rule for insert-only streams (Gupta & Mumick's survey).

DELETIONS need counted multiplicities — the Z-relation / Z-set form
(Gupta-Mumick counting algorithm; the algebra DBSP/Materialize build
on): every row carries an integer `_mult` (+n inserts, -n retractions),
the SAME delta rule applies with multiplicities MULTIPLYING across the
join, and consolidation sums multiplicities per distinct tuple and
drops zeros.  The `zset_*` / `*_counted` half of this module implements
that, so a maintained join view stays exact through arbitrary
interleaved insert AND delete batches (oracled by q_ivm_delete against
the plain recompute over the retained rows).

Composes with the engine's other incremental structures: the join delta
feeds rollup partials (operators/rollup.py) for incremental
aggregate-over-join views, and the foreachBatch sinks (streaming/
sink.py) give the same fold exactly-once semantics from a live stream.

Scale shape: each maintenance step is two keyed joins of a SMALL delta
against a large base — the base never re-shuffles if it is bucketed on
the join key (sources/store.py write_bucketed), and the delta side is
usually broadcastable.  Fold order does not matter (union is
commutative/associative), so k batches can fold in any order — the
property the tests pin.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


def join_delta(
    left_old: DataFrame,
    left_delta: DataFrame,
    right_old: DataFrame,
    right_delta: DataFrame,
    on: list[str] | str,
) -> DataFrame:
    """Rows the view GAINS when dL and dR arrive: dL⋈R ∪ L⋈dR ∪ dL⋈dR."""
    on = [on] if isinstance(on, str) else list(on)
    parts = [
        left_delta.join(right_old, on),
        left_old.join(right_delta, on),
        left_delta.join(right_delta, on),
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def maintain_join_view(
    view_old: DataFrame | None,
    left_old: DataFrame,
    left_delta: DataFrame,
    right_old: DataFrame,
    right_delta: DataFrame,
    on: list[str] | str,
) -> DataFrame:
    """One maintenance step: the view plus its delta.  `view_old=None`
    bootstraps from an empty view (left_old/right_old empty too)."""
    delta = join_delta(left_old, left_delta, right_old, right_delta, on)
    return delta if view_old is None else view_old.unionByName(delta)


# ---------------------------------------------------------------------------
# Counted (Z-set) form: rows carry `_mult`; deletes are negative rows.
# ---------------------------------------------------------------------------
MULT = "_mult"


def as_zset(df: DataFrame, mult: int = 1) -> DataFrame:
    """Lift a plain relation to a Z-set: every row with multiplicity
    `mult` (+1 for an insert batch, -1 for a delete batch)."""
    from pyspark.sql import functions as F

    return df.withColumn(MULT, F.lit(int(mult)).cast("bigint"))


def zset_normalize(df: DataFrame) -> DataFrame:
    """Consolidate: sum multiplicities per distinct tuple, drop zeros.
    The groupBy key is the full tuple — inherent to counting IVM; a
    production view stores tuples hash-bucketed on this key so
    consolidation shuffles only the touched buckets."""
    from pyspark.sql import functions as F

    keys = [c for c in df.columns if c != MULT]
    return (
        df.groupBy(*keys)
        .agg(F.sum(MULT).alias(MULT))
        .filter(F.col(MULT) != 0)
    )


def _zjoin(a: DataFrame, b: DataFrame, on: list[str]) -> DataFrame:
    """Z-set join: tuples pair as usual, multiplicities multiply."""
    from pyspark.sql import functions as F

    bb = b.withColumnRenamed(MULT, "_mult_r")
    return (
        a.join(bb, on)
        .withColumn(MULT, F.col(MULT) * F.col("_mult_r"))
        .drop("_mult_r")
    )


def zset_join_delta(
    left_old: DataFrame,
    left_delta: DataFrame,
    right_old: DataFrame,
    right_delta: DataFrame,
    on: list[str] | str,
) -> DataFrame:
    """Δ(L⋈R) for Z-set deltas (inserts AND deletes): the same three
    terms as the insert-only rule — negative multiplicities in a delta
    retract exactly the view rows that joined through the deleted
    tuples, including delete×delete cross terms."""
    on = [on] if isinstance(on, str) else list(on)
    parts = [
        _zjoin(left_delta, right_old, on),
        _zjoin(left_old, right_delta, on),
        _zjoin(left_delta, right_delta, on),
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def maintain_join_view_counted(
    view_old: DataFrame | None,
    left_old: DataFrame,
    left_delta: DataFrame,
    right_old: DataFrame,
    right_delta: DataFrame,
    on: list[str] | str,
) -> DataFrame:
    """One counted maintenance step; all frames are Z-sets (carry
    `_mult`), and the returned view is consolidated (no zero rows)."""
    delta = zset_join_delta(left_old, left_delta, right_old, right_delta, on)
    combined = delta if view_old is None else view_old.unionByName(delta)
    return zset_normalize(combined)


def maintain_agg_join_view_counted(
    agg_old: DataFrame | None,
    left_old: DataFrame,
    left_delta: DataFrame,
    right_old: DataFrame,
    right_delta: DataFrame,
    on: list[str] | str,
    group_cols: list[str],
    value_col: str,
    dec: str = "decimal(20,2)",
) -> DataFrame:
    """Counted IVM THROUGH an aggregate: maintain
    SELECT group_cols, COUNT(*), SUM(value) over the join directly —
    the join view itself is never materialized.  Each step aggregates
    the Z-set join delta into multiplicity-weighted partials (dn =
    Σ_mult, dsum = Σ value·_mult — Gupta-Mumick counting through
    SUM/COUNT), folds them additively into the running aggregate, and
    drops groups whose count reaches zero.  The value partial stays
    DECIMAL through every fold (associative — fold order cannot change
    the result; the property test pins this), so the maintained SUM is
    bit-identical to a recompute over the retained rows.

    Returned schema: (*group_cols, _cnt bigint, _sum decimal)."""
    from pyspark.sql import functions as F

    delta = zset_join_delta(left_old, left_delta, right_old, right_delta, on)
    part = delta.groupBy(*group_cols).agg(
        F.sum(MULT).cast("bigint").alias("_cnt"),
        F.sum((F.col(value_col) * F.col(MULT)).cast(dec)).alias("_sum"),
    )
    if agg_old is not None:
        # unionByName widens the decimal precision of _sum as folds
        # accumulate (30,2 -> 38,2 and stays there) — exactness holds
        part = agg_old.unionByName(part)
    folded = (
        part.groupBy(*group_cols)
        .agg(
            F.sum("_cnt").cast("bigint").alias("_cnt"),
            F.sum("_sum").alias("_sum"),
        )
        .filter(F.col("_cnt") != 0)
    )
    return folded


def zset_snapshot_delta(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    cmp_cols: list[str] | None = None,
) -> DataFrame:
    """Z-set delta between two corpus SNAPSHOTS — the CDC bridge: given
    the previously-ingested snapshot and a fresh one, emit exactly the
    batch that moves every retraction-maintained structure (streaming/
    retract.py sinks, VectorIndex.apply_delta) from `old` to `new`
    without a rebuild.

      removed rows  -> old tuple with _mult = -1
      added rows    -> new tuple with _mult = +1
      changed rows  -> BOTH (the -1 and +1 tuples differ, so Z-set
                       consolidation keeps them; the sinks' touched-id
                       logic then rebuilds the doc's state from the
                       arriving tuple — an UPDATE, not a delete)
      unchanged     -> nothing (the whole point: per-batch cost is
                       O(|delta|), not O(|snapshot|))

    Rows are compared by xxhash64 over `cmp_cols` (default: every
    non-id column of `new`), so only (id, hash) pairs ride the
    anti-join shuffles — never the text/payload columns.  Applying the
    result to a sink bootstrapped on `old` yields state identical to a
    fresh bootstrap on `new` — pinned by tests/test_round10.py for
    DedupClusterMaintSink and VectorIndex, and oracled end-to-end by
    q_cdc_snapshot (queries/pipeline.py) at every SF.  Consumers:
    the retract sinks take the batch as-is (their one consolidated
    `zset_delta` applies update semantics per touched id); VectorIndex must take it through
    `apply_zset`, NOT apply_delta, whose id-level delete-wins rule
    would drop the changed rows' +1 tuples.  CLI: `sync-corpus`.

    Reference analogue: idempotent delete-then-reload semantics
    (vcf-pg-loader loader.py:230-252), generalized to diff-then-apply
    so unchanged rows cost nothing."""
    from pyspark.sql import functions as F

    cols = cmp_cols or [c for c in new.columns if c != id_col]
    oh = old.withColumn("_snap_fp", F.xxhash64(*[F.col(c) for c in cols]))
    nh = new.withColumn("_snap_fp", F.xxhash64(*[F.col(c) for c in cols]))
    dead = (
        oh.join(
            nh.select(id_col, "_snap_fp"), [id_col, "_snap_fp"], "left_anti"
        )
        .drop("_snap_fp")
        .withColumn(MULT, F.lit(-1).cast("bigint"))
    )
    born = (
        nh.join(
            oh.select(id_col, "_snap_fp"), [id_col, "_snap_fp"], "left_anti"
        )
        .drop("_snap_fp")
        .withColumn(MULT, F.lit(1).cast("bigint"))
    )
    return dead.unionByName(born)
