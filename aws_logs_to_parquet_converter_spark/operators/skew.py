"""Skew mitigation operators.

At 100 TB, hot keys (the reference's skewed ``requester`` ARNs and
``operation`` values — slides p.30 "carefully break cardinality") turn
a single shuffle partition into the job's critical path.

``salted_aggregate`` runs decomposable aggregates (sum/count/min/max)
in two phases: groupBy(key, salt) with a deterministic row-hash salt
spreads each hot key over N partitions; the small second agg merges
partials.  AQE's skew handling covers joins; this covers the
aggregation path AQE doesn't split.  It is a pure DataFrame
transformation with the same result as the naive form (q_salted_agg is
oracle-checked against a plain GROUP BY).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_AGG_FNS = {
    "sum": F.sum,
    "count": lambda c: F.count(c),
    "min": F.min,
    "max": F.max,
}
# how to merge partials in the final phase
_MERGE_FNS = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


def salted_aggregate(
    df: DataFrame,
    key: str,
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs``: output_name -> (fn, column) with fn in
    {sum, count, min, max} (decomposable aggregates only — avg must be
    expressed as sum/count by the caller).

    The salt is a deterministic hash of the whole row spread over
    ``salt_buckets`` (not rand(): retries/speculation must land rows in
    the same bucket for idempotent re-execution).
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets))
    partial_exprs = []
    final_exprs = []
    for name, (fn, col) in aggs.items():
        if fn not in _AGG_FNS:
            raise ValueError(f"non-decomposable aggregate: {fn}")
        partial_exprs.append(_AGG_FNS[fn](F.col(col) if col != "*" else F.lit(1)).alias(f"_p_{name}"))
        final_exprs.append(_MERGE_FNS[fn](f"_p_{name}").alias(name))

    partial = df.withColumn("_salt", salt).groupBy(F.col(key).alias("k"), "_salt").agg(*partial_exprs)
    return partial.groupBy("k").agg(*final_exprs)
