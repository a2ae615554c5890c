"""Interval analytics: the overlap join and the sweep-line — two
operators Spark has no native form for, both expressed so the
quadratic/ordered parts are confined to bounded buckets.

* :func:`interval_join` — pairs of overlapping half-open intervals
  across two tables.  The naive form is a theta-join (O(n·m),
  BNLJ/cartesian — plan-sweep-banned here); this one replicates each
  interval to the fixed-width time buckets it spans and equi-joins on
  (keys…, bucket), so the plan is a shuffled hash/SMJ join with
  bounded per-bucket work.  The classic duplicate problem (a pair
  overlapping in k shared buckets matches k times) is solved WITHOUT a
  distinct: a pair is emitted only in the bucket holding
  ``max(l_start, r_start)`` — each overlapping pair has exactly one
  such bucket, so no dedup shuffle exists at all.

* :func:`peak_concurrency` — max simultaneously-open intervals per
  group (peak sessions, connection high-water marks).  The textbook
  sweep line is a running sum over ONE ordered stream per group — a
  single-task funnel on a hot group.  Here the prefix sum is
  SEGMENTED (the sequence-family lever): net deltas aggregate per
  (group, t) first, within-bucket running sums and per-bucket totals
  run keyed by (group, bucket), and a buckets-sized window stitches
  cumulative offsets — exact, no per-group total order anywhere.

No reference counterpart (the reference core has no interval
machinery); extends the warehouse-analytics family beside
operators/asof.py (reference: s3_logs_to_parquet/compacter.py holds
no comparable operator).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _require_integral(df: DataFrame, col: str, op: str) -> None:
    dt = df.schema[col].dataType
    if not isinstance(dt, _INTEGRAL):
        raise TypeError(
            f"{op}: {col!r} must be integral epoch units "
            f"(got {dt.simpleString()!r}); cast timestamps with unix_micros "
            "first — fractional bucket math would mis-bucket boundaries"
        )


def _payload_is_wide(df: DataFrame, exclude: set[str]) -> bool:
    """Auto-slim heuristic: payload counts as WIDE when any column
    beyond the join essentials is variable-width (string/binary/
    array/map/struct — unbounded, and incompressible payloads measured
    2–5× slower unslimmed at ~0.5 KB/row) or the fixed-width payload
    exceeds 32 bytes.  A couple of longs ride the explode cheaper than
    a distinct + join-back would cost (measured r15, PERF.md)."""
    sizes = {
        T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4,
        T.FloatType: 4, T.DateType: 4, T.LongType: 8, T.DoubleType: 8,
        T.TimestampType: 8, T.TimestampNTZType: 8, T.DecimalType: 16,
    }
    fixed = 0
    for f in df.schema.fields:
        if f.name in exclude:
            continue
        width = sizes.get(type(f.dataType))
        if width is None:  # string/binary/array/map/struct/unknown: unbounded
            return True
        fixed += width
    return fixed > 32


def exact_floordiv(col: Column, w: int) -> Column:
    """Exact floor division of a LONG column by a positive literal, in
    pure BIGINT arithmetic: ``q = c div w`` (truncate-toward-zero,
    exact) corrected by 1 when the remainder is negative.  Why not the
    obvious forms: ``F.floor(c / w)`` routes through float64 and
    mis-buckets longs past 2^53 (nanosecond epochs qualify); bare SQL
    ``div`` truncates toward zero (wrong for negative pre-1970
    epochs); and the previous decimal(38,0)/decimal(38,0) form was NOT
    exact — that division yields decimal(38,6) and Spark rounds
    HALF_UP at scale 6 *before* floor, so any value within
    ``5e-7 * w`` below a bucket boundary floored one too high once
    ``w > 2_000_000`` (r15 advisory; the shipped hour/day widths sat
    squarely in the range).  ``c % w``'s sign follows the dividend on
    both Spark and DuckDB, so the correction term is portable."""
    if w < 1:
        raise ValueError(f"exact_floordiv: w must be >= 1, got {w}")
    c = col.cast("long")
    wl = F.lit(w).cast("long")
    q = F.call_function("div", c, wl)
    return q - F.when((c % wl) < 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))


def interval_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    keys: list[str] | None = None,
    bucket_width: int = 3_600_000_000,
    max_span_buckets: int = 4096,
    slim_payload: bool | None = None,
) -> DataFrame:
    """All (left, right) pairs whose HALF-OPEN intervals overlap —
    ``l_start < r_end AND r_start < l_end`` — optionally also matching
    on equality ``keys``.  Returns left's columns + right's columns
    (names must be disjoint apart from ``keys``; a collision raises).

    Scale shape: each side replicates to the ``bucket_width``-sized
    buckets its interval touches (a bounded ``sequence`` explode, NOT
    a data-sized one — the span guard below fails loudly at
    ``max_span_buckets``), the join is a plain equi-join on
    (keys…, bucket), and the one-bucket-owns-the-pair rule
    (bucket == bucket(max(l_start, r_start))) makes output exactly-once
    with zero dedup.  Pick ``bucket_width`` near the TYPICAL interval
    length: too narrow replicates long intervals; too wide piles
    unrelated intervals into one bucket's verification.

    ``slim_payload`` (r15, verdict item 3): with payload slimming a
    side contributes only its DISTINCT (keys…, start, end) triples to
    the explode+join, and payload re-attaches AFTER the ownership
    filter by a content-key equi-join on exactly those columns — so
    wide payload never replicates per touched bucket, and duplicate
    rows re-expand to exactly the multiset the unslimmed form emits
    (the join-back is the cross product of each side's duplicates,
    which IS the pair semantics).  No surrogate id exists anywhere:
    ``monotonically_increasing_id`` is nondeterministic across
    re-evaluations of post-shuffle lineage, and Spark evaluates a
    non-persisted subtree once per use (no ReusedExchange, measured
    r13) — a content key is deterministic by construction.  Default
    ``None`` slims a side only when its payload is WIDE (any
    variable-width column, or > 32 fixed bytes beyond keys+bounds):
    at ~0.5 KB/row incompressible payload slimming measured 2–5×
    faster, while for a narrow all-numeric payload the distinct +
    join-back overhead LOSES to just carrying it (PERF.md r15 A/B).
    ``True``/``False`` force both sides.

    Empty intervals (end <= start) match nothing under half-open
    semantics and are dropped up front on both sides.
    """
    keys = list(keys or [])
    if bucket_width < 1:
        raise ValueError(f"interval_join: bucket_width must be >= 1, got {bucket_width}")
    for df_, s_, e_ in ((left, l_start, l_end), (right, r_start, r_end)):
        _require_integral(df_, s_, "interval_join")
        _require_integral(df_, e_, "interval_join")
    overlap_names = (set(left.columns) & set(right.columns)) - set(keys)
    if overlap_names:
        raise ValueError(
            f"interval_join: column names collide across sides: "
            f"{sorted(overlap_names)}; alias one side first"
        )

    def wants_slim(df: DataFrame, start: str, end: str) -> bool:
        if slim_payload is not None:
            return slim_payload
        return _payload_is_wide(df, {*keys, start, end})

    def bucketed(df: DataFrame, start: str, end: str, slim: bool) -> DataFrame:
        s = F.col(start).cast("long")
        e = F.col(end).cast("long")
        first_b = exact_floordiv(s, bucket_width)
        last_b = exact_floordiv(e - 1, bucket_width)  # e-1: end is exclusive
        guard = F.assert_true(
            last_b - first_b < F.lit(max_span_buckets),
            F.lit(
                f"interval_join: an interval in ({start!r}, {end!r}) spans "
                f">= {max_span_buckets} buckets of width {bucket_width}; "
                "raise bucket_width or max_span_buckets"
            ),
        )
        base = df.select(*keys, start, end).distinct() if slim else df
        return (
            base.where(e > s)
            .where(guard.isNull())  # NULL == passed; a violation throws
            .select("*", F.explode(F.sequence(first_b, last_b)).alias("_bkt"))
        )

    l_slim = wants_slim(left, l_start, l_end)
    r_slim = wants_slim(right, r_start, r_end)
    lb = bucketed(left, l_start, l_end, l_slim)
    rb = bucketed(right, r_start, r_end, r_slim)
    joined = lb.join(rb, [*keys, "_bkt"])
    ls, le = F.col(l_start).cast("long"), F.col(l_end).cast("long")
    rs, re_ = F.col(r_start).cast("long"), F.col(r_end).cast("long")
    out = (
        joined.where((ls < re_) & (rs < le))
        # exactly-once: only the bucket containing the later start owns
        # the pair (that bucket is always a shared bucket of an
        # overlapping pair, and there is exactly one)
        .where(F.col("_bkt") == exact_floordiv(F.greatest(ls, rs), bucket_width))
        .drop("_bkt")
    )
    # re-attach payload by content key: pairs carry non-null bounds and
    # equi-joined keys, so plain equality is exact here; each side's
    # duplicate rows multiply back in — the correct pair multiset
    if l_slim:
        out = out.join(left.where(le > ls), [*keys, l_start, l_end])
    if r_slim:
        out = out.join(right.where(re_ > rs), [*keys, r_start, r_end])
    # restore the unslimmed column order (left's columns, then right's)
    return out.select(*left.columns, *[c for c in right.columns if c not in keys])


def peak_concurrency(
    df: DataFrame,
    group_cols: list[str],
    start_col: str,
    end_col: str,
    bucket_width: int = 86_400,
) -> DataFrame:
    """Peak number of simultaneously-open half-open intervals per
    group, plus the earliest instant the peak is reached.  Returns
    (group…, peak, peak_at).

    Sweep line, segmented: (1) every interval emits (+1 at start, −1
    at end); deltas NET per (group, t) — half-open semantics fall out
    of the netting, since an end and a start at the same t cancel
    exactly as [s,e) adjacency requires; (2) within each (group,
    bucket = t div bucket_width) a keyed window computes local running
    sums and one aggregate the bucket total; (3) a buckets-sized
    window per group turns bucket totals into exclusive offsets;
    (4) max(offset + local running) with an (earliest-t) tie-break.
    No per-group total order is ever materialized — the hot-group
    single-task funnel the naive sweep line hits cannot occur; the
    only per-group-ordered window runs over per-BUCKET rows (calendar-
    bounded at any data size).

    ``start_col``/``end_col`` must be integral epoch units; empty
    intervals (end <= start) contribute nothing and are dropped.
    """
    if bucket_width < 1:
        raise ValueError(f"peak_concurrency: bucket_width must be >= 1, got {bucket_width}")
    _require_integral(df, start_col, "peak_concurrency")
    _require_integral(df, end_col, "peak_concurrency")
    s = F.col(start_col).cast("long")
    e = F.col(end_col).cast("long")
    deltas = (
        df.where(e > s)
        .select(
            *group_cols,
            F.explode(
                F.array(
                    F.struct(s.alias("_t"), F.lit(1).alias("_d")),
                    F.struct(e.alias("_t"), F.lit(-1).alias("_d")),
                )
            ).alias("_ev"),
        )
        .select(*group_cols, F.col("_ev._t").alias("_t"), F.col("_ev._d").alias("_d"))
        .groupBy(*group_cols, "_t")
        .agg(F.sum("_d").alias("_nd"))
        .withColumn("_bkt", exact_floordiv(F.col("_t"), bucket_width))
    )
    w_local = (
        Window.partitionBy(*group_cols, "_bkt")
        .orderBy("_t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = deltas.select(
        *group_cols, "_bkt", "_t", F.sum("_nd").over(w_local).alias("_run")
    )
    # per-bucket best (max local running, earliest t) and bucket total:
    # ONE aggregate serves both the stitch and the answer extraction
    per_bucket = local.groupBy(*group_cols, "_bkt").agg(
        F.max(F.struct(F.col("_run").alias("c"), (-F.col("_t")).alias("nt"))).alias("_best"),
        F.max(F.struct(F.col("_t").alias("t"), F.col("_run").alias("r"))).alias("_last"),
    )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # _last.r (the running value at the bucket's max t) IS the bucket's
    # net total, so the exclusive prefix over it is each bucket's offset
    stitched = per_bucket.select(
        *group_cols,
        F.coalesce(F.sum(F.col("_last.r")).over(w_off), F.lit(0)).alias("_off"),
        "_best",
    )
    return (
        stitched.groupBy(*group_cols)
        .agg(
            F.max(
                F.struct(
                    (F.col("_off") + F.col("_best.c")).alias("c"),
                    F.col("_best.nt").alias("nt"),
                )
            ).alias("_g")
        )
        .select(
            *group_cols,
            F.col("_g.c").cast("long").alias("peak"),
            (-F.col("_g.nt")).cast("long").alias("peak_at"),
        )
    )


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    t_col: str,
    s_col: str,
    e_col: str,
    keys: list[str] | None = None,
    bucket_width: int = 3_600_000_000,
    max_span_buckets: int = 4096,
    slim_payload: bool | None = None,
) -> DataFrame:
    """Enrich point events with every half-open interval containing
    them (``s <= t < e``) — events→sessions, requests→deployments,
    alerts→incident windows.  The containment special case of
    :func:`interval_join`, exploited: a POINT touches exactly ONE
    bucket, so the point side never replicates, and exactly-once needs
    no ownership filter at all (every containing interval is
    replicated to the point's bucket, and only there can the pair
    meet).  Returns points' columns + intervals' columns (disjoint
    apart from ``keys``; a collision raises).

    The interval side replicates exactly as in :func:`interval_join`
    (same span guard); empty intervals contain nothing and are
    dropped.  ``slim_payload`` (r15): with slimming, only the interval
    side's DISTINCT (keys…, s, e) triples replicate to buckets, and
    interval payload re-attaches after the containment filter by a
    content-key equi-join (duplicate intervals re-expand to the exact
    unslimmed multiset; see :func:`interval_join` for why a content
    key, not a surrogate id).  The POINT side never replicates, so it
    is never slimmed.  Default ``None`` slims when the interval side's
    payload is WIDE (variable-width column, or > 32 fixed bytes —
    same measured rule as :func:`interval_join`).
    """
    keys = list(keys or [])
    if bucket_width < 1:
        raise ValueError(
            f"point_in_interval_join: bucket_width must be >= 1, got {bucket_width}"
        )
    _require_integral(points, t_col, "point_in_interval_join")
    _require_integral(intervals, s_col, "point_in_interval_join")
    _require_integral(intervals, e_col, "point_in_interval_join")
    overlap_names = (set(points.columns) & set(intervals.columns)) - set(keys)
    if overlap_names:
        raise ValueError(
            f"point_in_interval_join: column names collide across sides: "
            f"{sorted(overlap_names)}; alias one side first"
        )
    t = F.col(t_col).cast("long")
    s = F.col(s_col).cast("long")
    e = F.col(e_col).cast("long")
    first_b = exact_floordiv(s, bucket_width)
    last_b = exact_floordiv(e - 1, bucket_width)
    guard = F.assert_true(
        last_b - first_b < F.lit(max_span_buckets),
        F.lit(
            f"point_in_interval_join: an interval in ({s_col!r}, {e_col!r}) "
            f"spans >= {max_span_buckets} buckets of width {bucket_width}; "
            "raise bucket_width or max_span_buckets"
        ),
    )
    if slim_payload is None:
        slim = _payload_is_wide(intervals, {*keys, s_col, e_col})
    else:
        slim = slim_payload
    pb = points.select("*", exact_floordiv(t, bucket_width).alias("_bkt"))
    iv_base = (
        intervals.select(*keys, s_col, e_col).distinct() if slim else intervals
    )
    ib = (
        iv_base.where(e > s)
        .where(guard.isNull())  # NULL == passed; a violation throws
        .select("*", F.explode(F.sequence(first_b, last_b)).alias("_bkt"))
    )
    out = (
        pb.join(ib, [*keys, "_bkt"])
        .where((t >= s) & (t < e))
        .drop("_bkt")
    )
    if slim:
        out = out.join(intervals.where(e > s), [*keys, s_col, e_col])
    return out.select(
        *points.columns, *[c for c in intervals.columns if c not in keys]
    )


_LONG_MIN = -(1 << 63)


def merge_intervals(
    df: DataFrame,
    group_cols: list[str],
    start_col: str,
    end_col: str,
    bucket_width: int = 3_600_000_000,
) -> DataFrame:
    """Merge overlapping-or-touching half-open intervals per group into
    maximal ISLANDS (gaps-and-islands): session stitching, downtime
    consolidation, covered-time analysis.  Touching intervals
    (``[a,b)``, ``[b,c)``) merge — their union ``[a,c)`` has no gap —
    and empty intervals (end <= start) are dropped.  Returns
    (group…, island_s, island_e, n_merged).

    The textbook form is ONE ordered window per group (island starts
    where ``s > max(e) over all earlier rows``) — the hot-group
    single-task funnel.  Here the running max is SEGMENTED exactly
    like :func:`peak_concurrency`'s prefix sums: each interval keys to
    the single bucket holding its START (bucket order is start order,
    so no explode, no span guard — an island may span any number of
    buckets), a (group, bucket)-keyed window computes the local
    running max-end and local island-start cumsum, a buckets-sized
    window per group turns per-bucket aggregates into carry-ins
    (exclusive ``max(e)`` = the merge carry; exclusive ``sum(starts)``
    = the island-id offset), and a final (group, island-id) aggregate
    emits each island.  An interval starts an island iff its start
    exceeds BOTH the local running max and the carry from all earlier
    buckets — identical by construction to the global rule, since
    bucket-major (bucket, s) order IS global s order.

    ``start_col``/``end_col`` must be integral epoch units.
    """
    if bucket_width < 1:
        raise ValueError(
            f"merge_intervals: bucket_width must be >= 1, got {bucket_width}"
        )
    _require_integral(df, start_col, "merge_intervals")
    _require_integral(df, end_col, "merge_intervals")
    s = F.col(start_col).cast("long")
    e = F.col(end_col).cast("long")
    base = df.where(e > s).select(
        *group_cols,
        s.alias("_s"),
        e.alias("_e"),
        exact_floordiv(s, bucket_width).alias("_bkt"),
    )
    w_prev = (
        Window.partitionBy(*group_cols, "_bkt")
        .orderBy("_s", "_e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_bucket = base.groupBy(*group_cols, "_bkt").agg(
        F.max("_e").alias("_bmax")
    )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = per_bucket.select(
        *[F.col(c).alias(f"_o_{c}") for c in group_cols],
        F.col("_bkt").alias("_o_bkt"),
        F.coalesce(F.max("_bmax").over(w_off), F.lit(_LONG_MIN)).alias("_carry"),
    )
    # NULL-SAFE join back (groupBy keeps a NULL group; plain equality
    # would drop it — same contract as exact_quantiles_disc's stitch)
    cond = F.col("_bkt") == F.col("_o_bkt")
    for c in group_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_o_{c}"))
    rows = base.join(offs, cond).select(
        *group_cols,
        "_bkt",
        "_s",
        "_e",
        F.greatest(
            F.coalesce(F.max("_e").over(w_prev), F.lit(_LONG_MIN)),
            F.col("_carry"),
        ).alias("_pmax"),
    )
    flagged = rows.withColumn(
        "_st", F.when(F.col("_s") > F.col("_pmax"), F.lit(1)).otherwise(F.lit(0))
    )
    w_cum = (
        Window.partitionBy(*group_cols, "_bkt")
        .orderBy("_s", "_e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    per_bucket_starts = flagged.groupBy(*group_cols, "_bkt").agg(
        F.sum("_st").alias("_nst")
    )
    start_offs = per_bucket_starts.select(
        *[F.col(c).alias(f"_o_{c}") for c in group_cols],
        F.col("_bkt").alias("_o_bkt"),
        F.coalesce(F.sum("_nst").over(w_off), F.lit(0)).alias("_soff"),
    )
    with_ids = flagged.join(start_offs, cond).select(
        *group_cols,
        (F.col("_soff") + F.sum("_st").over(w_cum)).alias("_isl"),
        "_s",
        "_e",
    )
    return (
        with_ids.groupBy(*group_cols, "_isl")
        .agg(
            F.min("_s").alias("island_s"),
            F.max("_e").alias("island_e"),
            F.count("*").cast("long").alias("n_merged"),
        )
        .drop("_isl")
    )


def interval_coverage(
    df: DataFrame,
    group_cols: list[str],
    start_col: str,
    end_col: str,
    bucket_width: int = 3_600_000_000,
) -> DataFrame:
    """Total COVERED time per group — the length of the UNION of the
    group's half-open intervals (utilization, uptime, active-span
    seconds) — plus the island count.  Double-counted overlap is the
    whole problem; :func:`merge_intervals` removes it, and one
    aggregate finishes.  Returns (group…, covered, n_islands)."""
    islands = merge_intervals(df, group_cols, start_col, end_col, bucket_width)
    return islands.groupBy(*group_cols).agg(
        F.sum(F.col("island_e") - F.col("island_s")).cast("long").alias("covered"),
        F.count("*").cast("long").alias("n_islands"),
    )


def interval_gaps(
    df: DataFrame,
    group_cols: list[str],
    start_col: str,
    end_col: str,
    bucket_width: int = 3_600_000_000,
) -> DataFrame:
    """Idle GAPS per group — the complement of the group's activity
    islands between the first and last covered instant (downtime
    windows, dead air, inactivity spells).  Merges the raw intervals
    first (:func:`merge_intervals`), then pairs each island with the
    next island's start.  Returns (group…, gap_s, gap_e, gap_len);
    a group with one island emits no rows.

    The textbook form is ``LEAD(island_s) OVER (PARTITION BY group
    ORDER BY island_s)`` — one ordered window per group, and a sparse
    hot group can hold millions of islands.  Here the lead is
    SEGMENTED like the merge itself: islands key to the bucket holding
    their start (islands are disjoint, so bucket-major start order is
    global start order), the lead runs per (group, bucket), and each
    bucket's LAST island takes the NEXT non-empty bucket's MIN start
    from a buckets-sized ``lead`` over the per-bucket aggregates.
    Maximal islands never touch, so every consecutive pair yields a
    strictly positive gap — no degenerate rows to filter."""
    islands = merge_intervals(df, group_cols, start_col, end_col, bucket_width)
    isl = islands.select(
        *group_cols,
        F.col("island_s").alias("_s"),
        F.col("island_e").alias("_e"),
        exact_floordiv(F.col("island_s"), bucket_width).alias("_bkt"),
    )
    per_bucket = isl.groupBy(*group_cols, "_bkt").agg(F.min("_s").alias("_bmin"))
    w_nextb = Window.partitionBy(*group_cols).orderBy("_bkt")
    nxt = per_bucket.select(
        *[F.col(c).alias(f"_o_{c}") for c in group_cols],
        F.col("_bkt").alias("_o_bkt"),
        F.lead("_bmin").over(w_nextb).alias("_next_bmin"),
    )
    cond = F.col("_bkt") == F.col("_o_bkt")
    for c in group_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_o_{c}"))
    w_lead = Window.partitionBy(*group_cols, "_bkt").orderBy("_s")
    return (
        isl.join(nxt, cond)
        .select(
            *group_cols,
            F.col("_e").alias("gap_s"),
            F.coalesce(F.lead("_s").over(w_lead), F.col("_next_bmin")).alias(
                "gap_e"
            ),
        )
        .where(F.col("gap_e").isNotNull())
        .withColumn("gap_len", (F.col("gap_e") - F.col("gap_s")).cast("long"))
    )


def interval_intersect(
    a: DataFrame,
    b: DataFrame,
    group_cols: list[str],
    start_col: str,
    end_col: str,
    bucket_width: int = 3_600_000_000,
) -> DataFrame:
    """Per-group INTERSECTION of two interval sets — the time covered
    by BOTH ``a`` and ``b`` (co-availability, overlap of uptime with
    business hours, concurrent-incident windows).  Returns disjoint
    half-open segments (group…, isect_s, isect_e).

    Pure composition of the family's scale-safe parts: each side
    merges to maximal disjoint islands (:func:`merge_intervals`), the
    bucketed overlap join (:func:`interval_join`) pairs islands
    exactly once with zero dedup exchanges, and each pair contributes
    ``[max(starts), min(ends))``.  Because each side's islands are
    disjoint, the emitted segments are disjoint by construction — no
    re-merge pass.  Group keys ride the join as ONE struct column,
    which Spark compares null-safely — a NULL group intersects like
    any other, consistent with the rest of the family."""
    def islands(df: DataFrame, s_out: str, e_out: str) -> DataFrame:
        m = merge_intervals(df, group_cols, start_col, end_col, bucket_width)
        return m.select(
            F.struct(*group_cols).alias("_g"),
            F.col("island_s").alias(s_out),
            F.col("island_e").alias(e_out),
        )

    pairs = interval_join(
        islands(a, "_as", "_ae"),
        islands(b, "_bs", "_be"),
        "_as",
        "_ae",
        "_bs",
        "_be",
        keys=["_g"],
        bucket_width=bucket_width,
    )
    return pairs.select(
        *[F.col(f"_g.{c}").alias(c) for c in group_cols],
        F.greatest("_as", "_bs").alias("isect_s"),
        F.least("_ae", "_be").alias("isect_e"),
    )
