"""Cache ownership: the one place the package persists a DataFrame.

The rule every operator follows:

  * Persist only for SEPARATE actions (counts, collects, writes and
    iteration rounds that each re-read the relation) or for consumers
    that run at the same time (plan branches AQE launches
    concurrently, such as both sides of a self-join).
  * Every persisted frame has one owner that releases it:
      - a cache that only the operator's own actions read is released
        before the operator returns (``owned``);
      - a cache the returned plan still reads cannot be released by
        the operator.  It goes to the caller through ``handles`` (a
        list the caller passes; ``persist`` appends to it), and the
        caller unpersists each entry once the result is consumed.  A
        long-lived session composing such operators otherwise pins
        executor memory per call.
      - whole-query harnesses (parity, bench, plan dumps) release a
        finished query with ``spark.catalog.clearCache()``.  That also
        evicts every unrelated cache, so it is no substitute for
        ``handles`` in a composing pipeline.
  * The eager ``count()`` that materialises a cache before concurrent
    consumers launch stays at the call sites that need it: it is a
    per-site plan decision, not part of persisting.

Every cache uses the DataFrame default storage level.

Local checkpoints (``localCheckpoint``) are lineage truncation, not
caches: ``clearCache`` does not release them.  An operator releases
each checkpoint it takes once nothing reads it any more
(``release_checkpoint``): a superseded iteration round, or a staging
copy after its write.  The checkpoint an operator returns stays: the
caller's plan reads its blocks, and with the lineage cut nothing could
recompute them.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame


def persist(df: DataFrame, handles: "list[DataFrame] | None") -> DataFrame:
    """Persist ``df`` at the default storage level and append it to
    ``handles`` unless that is ``None``; returns the persisted frame."""
    df = df.persist()
    if handles is not None:
        handles.append(df)
    return df


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist the locally checkpointed RDDs ``df`` reads.  Only for
    a checkpoint no live plan reads any more: its lineage is cut, so a
    later read of a released checkpoint fails instead of recomputing."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD" and leaf.rdd().isLocallyCheckpointed():
            leaf.rdd().unpersist(False)


@contextmanager
def owned() -> Iterator[list[DataFrame]]:
    """Yield a handles list; every frame in it is unpersisted on exit,
    newest first, whether the block returns or raises."""
    handles: list[DataFrame] = []
    try:
        yield handles
    finally:
        for df in reversed(handles):
            df.unpersist()
