"""Data-quality validation: declarative rule checks over any table.

The generalization of the parser's dead-letter discipline (every row
is either clean or quarantined WITH its reason) to arbitrary tables:
a rule set is named boolean Column expressions ("TRUE = row passes"),
and ``validation_report`` answers how healthy the table is: one
aggregate pass, one output row per rule.

Scale shape: a global aggregate over the scan (map-side partials, zero
data shuffle).  No rule engine, no Python: a rule IS a Catalyst
expression, so predicate pushdown and codegen apply to validation
exactly as to any query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def validation_report(df: DataFrame, rules: "dict[str, Column]") -> DataFrame:
    """One row per rule: (rule, n_rows, n_violations, violation_rate).

    NULL rule results count as violations (a rule that cannot evaluate
    did not pass — same posture as ANSI filters dropping NULLs)."""
    if not rules:
        raise ValueError("rules must be non-empty")
    # intermediate aliases are POSITIONAL (_v_0, _v_1, ...): a rule name
    # interpolated into an alias and re-resolved via F.col would parse
    # dots/backticks as identifier syntax and fail analysis — rule
    # names are display strings, never column references
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, cond in enumerate(rules.values()):
        aggs.append(
            # coalesce: SUM over an EMPTY table is NULL, and the
            # maintain CLI would print 'None/0' per rule
            F.coalesce(
                F.sum(F.when(F.coalesce(cond, F.lit(False)), 0).otherwise(1)),
                F.lit(0),
            ).alias(f"_v_{i}")
        )
    row = df.agg(*aggs)
    per_rule = [
        F.struct(
            F.lit(name).alias("rule"),
            F.col("_n").alias("n_rows"),
            F.col(f"_v_{i}").alias("n_violations"),
            F.when(F.col("_n") > 0, F.round(F.col(f"_v_{i}") / F.col("_n"), 6))
            .otherwise(F.lit(0.0))
            .alias("violation_rate"),
        )
        for i, name in enumerate(rules)
    ]
    return (
        row.select(F.explode(F.array(*per_rule)).alias("_r"))
        .select("_r.rule", "_r.n_rows", "_r.n_violations", "_r.violation_rate")
        .orderBy("rule")
    )
