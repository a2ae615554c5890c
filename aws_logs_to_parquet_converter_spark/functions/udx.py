"""User-defined function surface (SURVEY §2.11), at the engine's
sanctioned seam.

The engine's doctrine (PERF.md): hot paths are native expressions; a
Python crossing must be Arrow-batched and earn its place.
``gini_udaf`` is the pattern a user would copy when native expressions
genuinely cannot express their logic: a grouped-aggregate pandas UDF
(whole-group Arrow batch in, one scalar out).  Gini needs a sort of the
full group, which no algebraic/partial-aggregatable builtin covers.

Scale note: a grouped-agg UDAF materializes each group in one
executor's memory (same contract as collect_list) — bound group sizes
before reaching for it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F  # noqa: F401  (re-export convenience)
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

# DataType instances, not DDL strings: a DDL string ("double") is parsed
# through the active SparkSession at decoration time, so importing this
# module with no session alive raises SESSION_OR_CONTEXT_NOT_EXISTS and
# aborts pytest collection.  DataType objects skip that parse entirely,
# keeping the import session-free.


@pandas_udf(DoubleType())
def gini_udaf(values: pd.Series) -> float:
    """Gini coefficient of a group's value distribution (inequality of
    e.g. bytes-per-requester — the access-log skew metric).  Grouped
    aggregate: called once per group with the whole column slice."""
    x = values.dropna().sort_values().to_numpy(dtype="float64")
    n = x.size
    if n == 0 or x.sum() == 0:
        return 0.0
    cum = x.cumsum()
    # relative mean absolute difference, via the sorted cumulative form
    return float((n + 1 - 2 * (cum / cum[-1]).sum()) / n)
