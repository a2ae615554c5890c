"""Z-order (Morton-curve) write layout: multi-column data skipping for
100 TB scans (storage-layout lever, next to bucketing/compaction).

A single-column sort gives parquet row-group min/max stats that prune
scans filtered on THAT column only; a filter on any other column reads
everything.  Interleaving the bits of several quantized columns into
one sort key clusters rows that are close in EVERY dimension, so
row-group stats stay tight on all of them — the standard lakehouse
layout trick (public: Morton 1966; Delta/Iceberg OPTIMIZE ZORDER BY),
built here from plain Catalyst bit expressions (shiftright/and/
shiftleft/or — wholestage codegen, no UDF, no shuffle beyond the
range-partition of the write itself).

The reference has no counterpart (its sink sorts within partitions by
two columns — compacter.py:246-251 — which prunes only the leading
one); this generalizes that sink for multi-predicate scan workloads.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_value(
    ranges: "dict[str, tuple[float, float]]", bits: int = 16
) -> Column:
    """Morton code over the given columns as ONE bigint expression.

    ``ranges`` maps column name -> (lo, hi) quantization domain; values
    clamp into it, so out-of-range rows land on the curve's edge rather
    than corrupting the interleave.  NULL in any column yields NULL
    (sorts first — nulls cluster together, which is what a scan
    filtering on the column wants).  ``len(ranges) * bits`` must fit a
    signed 64-bit key.

    At scale pass domain bounds you already know (dates, status codes,
    ids); ``write_zordered`` computes them with one agg pass when you
    don't.
    """
    n = len(ranges)
    if n < 2:
        raise ValueError("z-ordering needs >= 2 columns (sort handles 1)")
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed 64-bit key")
    max_q = (1 << bits) - 1
    quantized = []
    for name, (lo, hi) in ranges.items():
        if not hi > lo:
            raise ValueError(f"{name}: range ({lo}, {hi}) is empty")
        scaled = (F.col(name).cast("double") - F.lit(float(lo))) / F.lit(hi - lo) * (max_q + 1)
        q = F.least(F.greatest(F.floor(scaled).cast("long"), F.lit(0)), F.lit(max_q))
        # greatest/least IGNORE nulls, so propagate explicitly: one
        # NULL dimension nulls the whole key (bitwiseOR then carries it)
        quantized.append(F.when(F.col(name).isNull(), F.lit(None)).otherwise(q))
    parts = [
        F.shiftleft(F.shiftright(q, j).bitwiseAND(F.lit(1)), j * n + i)
        for j in range(bits)
        for i, q in enumerate(quantized)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), parts)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: "list[str] | dict[str, tuple[float, float]]",
    num_files: int = 10,
    bits: int = 16,
) -> None:
    """Write ``df`` as parquet laid out along the Morton curve:
    range-partition by z-value into ``num_files`` files, sort within
    each — so every file covers a tight hyper-rectangle and row-group
    min/max stats prune filters on ANY of ``cols``.

    ``cols`` as a list pays ONE min/max agg pass to learn the domains;
    pass a dict of explicit ranges to skip it at scale (the convenience
    pre-scan is a full extra pass on 100 TB).

    DATE / TIMESTAMP columns are quantized on their natural number
    line (epoch days / epoch micros) automatically — z-ordering
    ``(dt, http_status)`` is the canonical log-warehouse layout and
    must not require the caller to hand-convert."""
    names = list(cols) if isinstance(cols, dict) else cols
    dtypes = dict(df.dtypes)
    converted = df
    zcols: list[str] = []
    for c in names:
        dt = dtypes.get(c, "")
        if dt == "date":
            converted = converted.withColumn(f"_zv_{c}", F.datediff(F.col(c), F.lit("1970-01-01")))
            zcols.append(f"_zv_{c}")
        elif dt.startswith("timestamp"):
            converted = converted.withColumn(
                f"_zv_{c}", F.unix_micros(F.col(c).cast("timestamp"))
            )
            zcols.append(f"_zv_{c}")
        else:
            zcols.append(c)
    if isinstance(cols, dict):
        import datetime as _dt

        def _conv(c, zc, bound):
            # explicit ranges for auto-converted date/timestamp columns
            # must arrive in the COLUMN's natural units (date/datetime
            # objects or ISO strings) and convert here — a caller
            # passing epoch-seconds against the epoch-MICROS conversion
            # would silently clamp every row to one Morton cell and
            # kill the clustering with no error (round-7 review
            # finding); raw numbers for converted columns are rejected.
            if zc == c:
                return bound  # numeric column: caller's number is the unit
            if isinstance(bound, str):
                bound = (
                    _dt.date.fromisoformat(bound)
                    if len(bound) == 10
                    else _dt.datetime.fromisoformat(bound)
                )
            if isinstance(bound, _dt.datetime):
                epoch = _dt.datetime(1970, 1, 1, tzinfo=bound.tzinfo)
                return (bound - epoch) / _dt.timedelta(microseconds=1)
            if isinstance(bound, _dt.date):
                return (bound - _dt.date(1970, 1, 1)).days
            raise ValueError(
                f"explicit range for converted column {c!r} must be a "
                f"date/datetime/ISO string (got {type(bound).__name__}); "
                "the column converts to epoch units internally"
            )

        ranges = {
            zc: tuple(_conv(c, zc, b) for b in cols[c])
            for c, zc in zip(names, zcols)
        }
    else:
        aggs = [
            f(zc).alias(f"{zc}_{tag}")
            for zc in zcols
            for tag, f in (("lo", F.min), ("hi", F.max))
        ]
        row = converted.agg(*aggs).first()
        ranges = {}
        for zc in zcols:
            lo, hi = row[f"{zc}_lo"], row[f"{zc}_hi"]
            if lo is None or hi is None:  # empty input / all-NULL column
                ranges[zc] = (0.0, 1.0)
                continue
            lo, hi = float(lo), float(hi)
            # math.nextafter, not +1e-9: an absolute epsilon is below one
            # ULP for large-magnitude domains (epoch micros ~1e18), which
            # made a constant timestamp column raise "range is empty"
            # while a constant small column silently worked.
            hi = math.nextafter(hi, math.inf)
            if hi <= lo:  # degenerate even after one ULP (shouldn't happen)
                hi = lo + 1.0
            ranges[zc] = (lo, hi)
    internal = ["_z"] + [zc for zc in zcols if zc.startswith("_zv_")]
    clash = [c for c in internal if c in df.columns]
    if clash:
        # withColumn would silently REPLACE a real user column of the
        # same name and the final drop would delete it from the output
        raise ValueError(
            f"input columns {clash} collide with z-order internals; "
            "rename them before write_zordered"
        )
    z = zorder_value(ranges, bits)
    (
        converted.withColumn("_z", z)
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", *[zc for zc in zcols if zc.startswith("_zv_")])
        .write.mode("overwrite")
        .parquet(path)
    )
