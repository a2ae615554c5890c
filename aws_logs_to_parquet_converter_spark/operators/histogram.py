"""Mergeable HDR-histogram quantile MV — the quantile sibling of the
bitmap family (`operators/bitmap.py` = exact distinct from segments;
this = bounded-relative-error quantiles from segments).

A warehouse keeps per-slice (day/week/source) bucket-count segments;
any slice range's p50/p95/p99 is then answered by summing segment
counts — no raw re-scan, no sort, no sketch merge library.  The
bucketing is HDR-style base-2 with linear sub-buckets, computed in
PURE INTEGER arithmetic (bit length + shifts) so the SAME rule runs
bit-identically on Spark and the DuckDB oracle — float ``log()``
bucketing (DDSketch's gamma form) is 1-ulp engine-divergent at bucket
boundaries and is exactly what this module avoids.

For ``m = precision_bits`` (default 5):

* values ``v < 2**m`` are their own bucket — EXACT;
* larger ``v`` with ``msb = floor(log2(v))`` bucket to
  ``(msb - m + 1) * 2**m + ((v >> (msb - m)) - 2**m)`` — ``2**m``
  linear sub-buckets per octave, so a bucket's width over its lower
  bound is at most ``2**-m`` (3.1% at m=5, 1.6% at m=6);
* bucket indexes are monotone in ``v`` and bounded: at most
  ``(64 - m) * 2**m + 2**m`` (~1,920 at m=5) distinct buckets EVER,
  so per-group ordered windows over merged buckets are bounded the
  same way the bitmap family's calendar-bounded windows are.

Quantile answers return the selected bucket's LOWER BOUND: the true
rank-``ceil(q*n)`` value lies in ``[value_lb, value_lb * (1 + 2**-m))``
(exactly ``value_lb`` below ``2**m``), and the selected bucket IS the
bucket containing the exact quantile (rank selection over counts is
exact at bucket granularity).

No reference counterpart (reference core: s3_logs_to_parquet/
compacter.py holds no sketch machinery); public algorithm (HdrHistogram
/ DDSketch bucketing, re-derived integer-only).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators.intervals import (
    _require_integral,
)


def _check_precision(precision_bits: int) -> None:
    if not isinstance(precision_bits, int) or not (1 <= precision_bits <= 16):
        raise ValueError(
            f"precision_bits must be an int in [1, 16], got {precision_bits!r}"
        )


def hdr_bucket_index(col: Column, precision_bits: int = 5) -> Column:
    """HDR bucket index of a NON-NEGATIVE long — pure integer math
    (``conv``-based bit length + shifts), monotone in the value,
    engine-portable (DuckDB: ``length(bin(v))`` + ``>>``)."""
    _check_precision(precision_bits)
    m = precision_bits
    v = col.cast("long")
    msb = (F.length(F.conv(v, 10, 2)) - F.lit(1)).cast("int")
    shift = msb - F.lit(m)
    sub = F.call_function("shiftright", v, shift) - F.lit(1 << m).cast("long")
    idx_large = (shift + F.lit(1)).cast("long") * F.lit(1 << m).cast("long") + sub
    return (
        F.when(v < F.lit(1 << m).cast("long"), v).otherwise(idx_large).cast("long")
    )


def hdr_bucket_floor(col: Column, precision_bits: int = 5) -> Column:
    """Lower bound of an HDR bucket index (inverse of
    :func:`hdr_bucket_index` up to bucket width)."""
    _check_precision(precision_bits)
    m = precision_bits
    idx = col.cast("long")
    level = F.call_function("div", idx, F.lit(1 << m).cast("long"))
    sub = idx % F.lit(1 << m).cast("long")
    rep_large = F.call_function(
        "shiftleft",
        F.lit(1 << m).cast("long") + sub,
        (level - F.lit(1)).cast("int"),
    )
    return (
        F.when(idx < F.lit(1 << m).cast("long"), idx).otherwise(rep_large)
        .cast("long")
    )


def hist_build(
    df: DataFrame,
    slice_cols: list[str],
    value_col: str,
    precision_bits: int = 5,
) -> DataFrame:
    """Build per-slice histogram segments: (slice…, bucket, cnt).
    ONE map-side-combinable aggregate — the only data-sized pass in
    the family.  ``value_col`` must be integral and non-negative
    (cents/bytes/micros; a negative value fails LOUDLY — silently
    mis-bucketing money would be worse); NULL values are dropped."""
    _check_precision(precision_bits)
    _require_integral(df, value_col, "hist_build")
    v = F.col(value_col).cast("long")
    guard = F.assert_true(
        (v >= 0) | v.isNull(),
        F.lit(
            f"hist_build: {value_col!r} must be non-negative "
            "(HDR buckets are defined for v >= 0)"
        ),
    )
    return (
        df.where(guard.isNull())  # NULL == passed; a violation throws
        .where(v.isNotNull())
        .groupBy(
            *slice_cols,
            hdr_bucket_index(v, precision_bits).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def hist_merge(
    segments: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Merge segments down to (group…, bucket, cnt) — slice columns
    not in ``group_cols`` simply sum away.  Mergeability IS the MV
    contract: any slice subset = one small aggregate."""
    return segments.groupBy(*group_cols, "bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def hist_quantiles(
    segments: DataFrame,
    group_cols: list[str],
    q_milli: list[int],
    precision_bits: int = 5,
) -> DataFrame:
    """Quantiles per group from histogram segments — ``rank =
    ceil(q * n)`` (1-based, mirroring ``ranking.exact_quantiles_disc``)
    selected over the merged buckets' cumulative counts.  Returns
    (group…, q_milli, value_lb, n); ``value_lb`` is the selected
    bucket's lower bound (see module doc for the error contract).

    The per-group ordered window here is BOUNDED by construction —
    at most ``(64 - m + 1) * 2**m`` bucket rows per group ever — the
    same boundedness argument as the bitmap family's calendar-bounded
    windows, not a data-sized funnel."""
    _check_precision(precision_bits)
    if not q_milli:
        raise ValueError("hist_quantiles: q_milli must be non-empty")
    bad = [q for q in q_milli if not isinstance(q, int) or not (1 <= q <= 1000)]
    if bad:
        raise ValueError(
            "hist_quantiles: q_milli values must be ints in [1, 1000] "
            f"(thousandths — a float would silently truncate), got {bad}"
        )
    merged = hist_merge(segments, group_cols)
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*group_cols)
    cum = merged.select(
        *group_cols,
        "bucket",
        "cnt",
        F.sum("cnt").over(w_cum).alias("_cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    qs = F.explode(F.array([F.lit(int(q)) for q in q_milli])).alias("q_milli")
    rank = F.call_function(
        "div",
        F.col("q_milli").cast("long") * F.col("n") + F.lit(999).cast("long"),
        F.lit(1000).cast("long"),
    )
    return (
        cum.select(*group_cols, "bucket", "cnt", "_cum", "n", qs)
        .where((rank <= F.col("_cum")) & (rank > F.col("_cum") - F.col("cnt")))
        .select(
            *group_cols,
            "q_milli",
            hdr_bucket_floor(F.col("bucket"), precision_bits).alias("value_lb"),
            "n",
        )
    )


def hist_rolling_quantiles(
    segments: DataFrame,
    group_cols: list[str],
    slice_col: str,
    window_slices: int,
    q_milli: list[int],
) -> DataFrame:
    """TRAILING-window quantiles from segments: for every slice s
    PRESENT in the data, the quantiles of the merged window
    [s − window_slices + 1, s] — "rolling 4-week p95" straight off the
    MV, no raw re-scan, the rolling sibling of
    :func:`hist_quantiles` exactly as ``bitmap_rolling_active`` is the
    rolling sibling of the distinct rollup.

    Shape: each segment row serves the ``window_slices`` anchors it
    participates in (a BOUNDED ×window explode over the segment table
    — segment-sized, never data-sized), ghost anchors beyond the
    observed slices are dropped by a semi-join against the distinct
    (group, slice) set, and the rank selection runs per (group,
    anchor) over the ≤ ~1,920-bucket bounded cumulative.
    ``slice_col`` must be integral (epoch weeks/days)."""
    if window_slices < 1:
        raise ValueError(
            f"hist_rolling_quantiles: window_slices must be >= 1, "
            f"got {window_slices}"
        )
    _require_integral(segments, slice_col, "hist_rolling_quantiles")
    s = F.col(slice_col).cast("long")
    serve = segments.select(
        *group_cols,
        "bucket",
        "cnt",
        F.explode(
            F.sequence(s, s + F.lit(int(window_slices) - 1))
        ).alias("_anchor"),
    )
    # NULL-SAFE semi join (the quantile stitch convention): groupBy
    # keeps a NULL group as a real group, and a name-list join would
    # silently drop its windows here
    anchors = segments.select(
        *[F.col(c).alias(f"_a_{c}") for c in group_cols], s.alias("_a_anchor")
    ).distinct()
    cond = F.col("_anchor") == F.col("_a_anchor")
    for c in group_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_a_{c}"))
    rolled = serve.join(anchors, cond, "left_semi")
    return hist_quantiles(rolled, [*group_cols, "_anchor"], q_milli).withColumnRenamed("_anchor", slice_col)
