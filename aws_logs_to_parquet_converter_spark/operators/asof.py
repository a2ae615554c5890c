"""As-of join: for each left row, the most recent right row at-or-before
its timestamp, per key (SURVEY §2.3 "as-of (nearest config snapshot <=
event time)").

Spark has no native ASOF JOIN.  A naive implementation is a range
self-join (quadratic blow-up) or a join + groupBy-max + re-join (three
shuffles).  This one is the single-shuffle union trick:

    union(left tagged 1, right tagged 0)
      -> window partitionBy(key) orderBy(ts, tag)
      -> last(right payload, ignorenulls) over rows unbounded preceding
      -> keep tag=1 rows

One exchange on the key, linear state, no row explosion — the shape
that survives 100 TB.  Right rows sort before left rows at equal ts
(tag 0 < 1), so an exactly-simultaneous right row IS visible to the
left row (<= semantics, matching DuckDB/Pandas ASOF backward joins).

Tie caveat: two right rows with identical (key, ts) are ordered
arbitrarily; the later one in window order wins.  Use a unique
timestamp or pre-dedupe if that matters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str | Column,
    right_on: str | Column,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Return ``left`` plus, per row, the ``right_payload`` values (named
    ``<column>_asof``) of the nearest right row with equal key (NULLs where no such row).

    ``direction='backward'`` (default): latest right row with
    ``right_ts <= left_ts``.  ``'forward'``: earliest right row with
    ``right_ts >= left_ts`` — same single-shuffle window trick with
    the ordering reversed (right rows still sort before left at equal
    ts, so the >= boundary row is visible).

    ``tolerance_seconds``: maximum |left_ts - right_ts|; the matched
    row's payload is nulled when it is farther — equivalent to
    "nearest within tolerance", since any other candidate is farther
    still.  Costs nothing: the match's timestamp rides the same
    window.

    The matched right row propagates as ONE struct (timestamp +
    payload) through a single ``last(ignorenulls)``: per-column fills
    would let a NULL payload value fall back to an older right row
    while the tolerance is judged on the nearer row's timestamp
    (round-2 advisor finding) — the struct keeps timestamp and payload
    atomically from the same row, and a matched NULL stays NULL."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"unknown direction: {direction!r}")
    lk = F.col(left_on) if isinstance(left_on, str) else left_on
    rk = F.col(right_on) if isinstance(right_on, str) else right_on

    # JOIN equality semantics, not window-grouping semantics (round-7
    # review finding): a NULL-key or NULL-ts right row can never be an
    # as-of match (DuckDB/pandas agree — NULL never equals NULL, and a
    # timeless snapshot is not "at or before" anything), yet
    # Window.partitionBy groups NULL keys together and ascending order
    # sorts NULL ts FIRST, so such rows would propagate their payload
    # to every left row ahead of any real match.  Exclude them from
    # the right side; left rows keep left-join semantics (they stay,
    # matchless — a NULL-key/-ts left row simply can never match).
    right = right.where(rk.isNotNull() & F.col(right_ts).isNotNull())

    match_type = StructType(
        [StructField("_rts", right.schema[right_ts].dataType)]
        + [StructField(f"{c}_asof", right.schema[c].dataType) for c in right_payload]
    )
    l_tag = left.select(
        lk.alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_tag"),
        *[F.col(c) for c in left.columns],
        F.lit(None).cast(match_type).alias("_match"),
    )
    r_tag = right.select(
        rk.alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_tag"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns],
        F.struct(
            F.col(right_ts).alias("_rts"),
            *[F.col(c).alias(f"{c}_asof") for c in right_payload],
        ).alias("_match"),
    )

    # NULL-ts LEFT rows must sort before every (non-NULL) right row so
    # they see no match: asc's default nulls-first already does that;
    # desc defaults to nulls-LAST, which would hand a timeless left
    # row the minimum-ts right payload — hence desc_nulls_first.
    order = [F.col("_ts").asc(), F.col("_tag").asc()]
    if direction == "forward":
        order = [F.col("_ts").desc_nulls_first(), F.col("_tag").asc()]
    w = (
        Window.partitionBy("_k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l_tag.unionByName(r_tag).select(
        "_tag",
        F.col("_ts"),
        *[F.col(c) for c in left.columns],
        F.last("_match", ignorenulls=True).over(w).alias("_match"),
    )
    out = filled.where(F.col("_tag") == 1)
    keep: Column = F.col("_match")
    if tolerance_seconds is not None:
        # cast("timestamp") makes the arithmetic type-agnostic: NTZ
        # inputs (parquet micros without tz) become session-local
        # instants — both sides cast identically, so the difference is
        # exact for any session timezone.  No-op on TIMESTAMP inputs.
        near = (
            F.abs(
                F.unix_micros(F.col("_ts").cast("timestamp"))
                - F.unix_micros(F.col("_match._rts").cast("timestamp"))
            )
            <= tolerance_seconds * 1_000_000
        )
        keep = F.when(near, F.col("_match"))
    return out.select(
        *[F.col(c) for c in left.columns],
        *[keep.getField(f"{c}_asof").alias(f"{c}_asof") for c in right_payload],
    )
