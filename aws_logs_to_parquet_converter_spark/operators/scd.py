"""Dimension-maintenance merges: SCD1 (latest-wins upsert) and SCD2
(history-keeping) — the ETL counterpart of the compacter's fact-table
path.  A log pipeline that joins request logs against a customer /
account dimension (the reference's downstream Athena queries join
exactly such tables) needs the dimension maintained from change
batches; these operators are the standard shapes (SCD1, SCD2, and the
additive-rollup merge for incremental materialized aggregates).

Scale posture: both are ONE key-shuffle joins between the dimension
and the (usually tiny) change batch — Catalyst/AQE broadcasts the
batch side when it fits, so at 100 TB the dimension is never shuffled
more than once and never sorted.  No UDFs, no windows over the full
dimension: the latest-per-key collapse of the batch is a max_by
aggregate, not a row_number sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _latest_per_key(
    updates: DataFrame, key_cols: Sequence[str], ts_col: str
) -> DataFrame:
    """Collapse a change batch to its newest row per key via max_by
    over a struct of every non-key column (ts first, so ties within
    one batch break deterministically on the remaining columns)."""
    others = [c for c in updates.columns if c not in key_cols]
    picked = updates.groupBy(*key_cols).agg(
        F.max_by(F.struct(*others), F.struct(ts_col, *[c for c in others if c != ts_col])).alias("_u")
    )
    return picked.select(*key_cols, *[F.col(f"_u.{c}").alias(c) for c in others])


def upsert_snapshot(
    current: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
) -> DataFrame:
    """SCD1 merge: apply a change batch to a snapshot, latest row per
    key wins, new keys insert, untouched keys pass through.  Columns
    of ``current`` and ``updates`` must match (``ts_col`` included —
    the snapshot keeps the ts of the last change that produced it).

    Equivalent to ``MERGE INTO ... WHEN MATCHED UPDATE / WHEN NOT
    MATCHED INSERT`` with the batch pre-deduplicated to latest-per-key.
    """
    key_cols = list(key_cols)
    if set(current.columns) != set(updates.columns):
        raise ValueError(
            f"upsert_snapshot: column mismatch {sorted(current.columns)} "
            f"vs {sorted(updates.columns)}"
        )
    u = _latest_per_key(updates, key_cols, ts_col)
    kept = current.join(u.select(*key_cols), key_cols, "left_anti")
    return kept.unionByName(u.select(*current.columns))


def merge_additive_rollup(
    current: DataFrame,
    delta: DataFrame,
    key_cols: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """Incremental materialized-rollup maintenance for ADDITIVE
    aggregates (counts, sums): merge a new increment's rollup into the
    standing rollup — matched keys ADD (unlike the SCD1 latest-wins
    upsert), unmatched keys pass through / insert.  This is the "don't
    re-aggregate 100 TB to admit a day" pattern: the delta aggregates
    alone, and the merge is one key join between two rollup-sized
    frames.

    Only additive measures belong here — averages and distincts must
    be carried as (sum, count) / sketches and finalized at read time.
    """
    key_cols, sum_cols = list(key_cols), list(sum_cols)
    for df, side in ((current, "current"), (delta, "delta")):
        missing = set(key_cols + sum_cols) - set(df.columns)
        if missing:
            raise ValueError(f"merge_additive_rollup: {side} missing {sorted(missing)}")
    c = current.select(*key_cols, *[F.col(x).alias(f"_c_{x}") for x in sum_cols])
    d = delta.select(*key_cols, *[F.col(x).alias(f"_d_{x}") for x in sum_cols])
    j = c.join(d, key_cols, "full_outer")
    return j.select(
        *key_cols,
        *[
            (
                F.coalesce(F.col(f"_c_{x}"), F.lit(0))
                + F.coalesce(F.col(f"_d_{x}"), F.lit(0))
            ).alias(x)
            for x in sum_cols
        ],
    )


def scd2_merge(
    history: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str],
    tracked_cols: Sequence[str],
    ts_col: str = "ts",
) -> DataFrame:
    """SCD2 merge: evolve a type-2 history table from a change batch.

    ``history`` rows carry (keys, tracked attrs, valid_from, valid_to)
    with ``valid_to IS NULL`` marking the open (current) version.
    ``updates`` rows carry (keys, tracked attrs, ts).  Per key:

    * new key            -> insert an open row (valid_from = ts);
    * attrs changed      -> close the open row (valid_to = ts) AND
                            insert a new open row (valid_from = ts);
    * attrs unchanged    -> open row passes through untouched.

    Closed history rows always pass through.  The change batch is
    first collapsed to latest-per-key (one version step per merge —
    run merges in batch order to record every intermediate version).

    Plan shape: closed rows never join anything (filter + union); the
    open slice full-outer-joins the collapsed batch on the key — one
    shuffle, broadcastable when the batch is small.
    """
    key_cols, tracked_cols = list(key_cols), list(tracked_cols)
    if not tracked_cols:
        # the <=> conjunction below would degenerate to 'never changed'
        # and every update would silently no-op
        raise ValueError("scd2_merge: tracked_cols must be non-empty")
    open_rows = history.where(F.col("valid_to").isNull())
    closed_rows = history.where(F.col("valid_to").isNotNull())

    u = _latest_per_key(
        updates.select(*key_cols, *tracked_cols, ts_col), key_cols, ts_col
    )
    o = open_rows.alias("o")
    n = u.alias("n")
    j = o.join(n, key_cols, "full_outer")

    has_old = F.col("o.valid_from").isNotNull()
    has_new = F.col(f"n.{ts_col}").isNotNull()
    # null-safe attr comparison: any tracked column differing (<=> is
    # null-safe equality, so NULL -> value counts as a change)
    changed = ~F.expr(" AND ".join(f"o.{c} <=> n.{c}" for c in tracked_cols))

    null_to = F.lit(None).cast(history.schema["valid_to"].dataType)
    hist_t = {c: history.schema[c].dataType for c in tracked_cols}

    # BOTH merge outputs come from ONE pass over the join: the old
    # survivors/inserts pair of selects each consumed `j`, and Spark
    # does not share an uncached subtree across union branches — the
    # full-outer join (and the shuffle of both its inputs) executed
    # TWICE (r15 opt; the acf_stats single-lineage rule).  Each joined
    # row now emits 0-2 typed structs through one explode:
    #   * surviving old row (when an old row exists): unchanged/
    #     update-absent -> still open; changed -> closed at the update
    #     ts.  Only valid_to varies (attrs and valid_from are its own).
    #   * inserted row: new key, or changed attrs on an existing key.
    # Insert-side columns cast to the history schema's types — the
    # same coercion unionByName applied when the branches were
    # separate relations (a no-op under the operator's same-type
    # contract).
    surv_struct = F.struct(
        *[F.col(c).alias(c) for c in key_cols],
        *[F.col(f"o.{c}").alias(c) for c in tracked_cols],
        F.col("o.valid_from").alias("valid_from"),
        F.when(
            has_new & changed,
            F.col(f"n.{ts_col}").cast(history.schema["valid_to"].dataType),
        )
        .otherwise(null_to)
        .alias("valid_to"),
    )
    ins_struct = F.struct(
        *[F.col(c).alias(c) for c in key_cols],
        *[F.col(f"n.{c}").cast(hist_t[c]).alias(c) for c in tracked_cols],
        F.col(f"n.{ts_col}")
        .cast(history.schema["valid_from"].dataType)
        .alias("valid_from"),
        null_to.alias("valid_to"),
    )
    merged = j.select(
        F.explode(
            F.array_compact(
                F.array(
                    F.when(has_old, surv_struct),
                    F.when(has_new & (~has_old | changed), ins_struct),
                )
            )
        ).alias("_r")
    ).select("_r.*")
    out_cols = key_cols + tracked_cols + ["valid_from", "valid_to"]
    return closed_rows.select(*out_cols).unionByName(merged.select(*out_cols))
