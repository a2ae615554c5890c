"""Link-graph analytics over crawl corpora.

``textstats.html_links`` extracts the outlink edges; this module ranks
the graph.  The classic consumer is crawl prioritization / spam-mass
scoring over the page graph a Common-Crawl-class corpus induces.

Scale shape: every iteration is ONE shuffle keyed by destination node
(the contribution aggregation) plus a 1-row dangling-mass aggregate
broadcast back — no driver-side graph, no adjacency materialization
beyond the edge list itself.  Lineage is truncated with
``localCheckpoint`` every few iterations (the ``connected_components``
idiom) so long runs don't grow an unbounded plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators.cache import owned, persist, release_checkpoint


def pagerank(
    edges: DataFrame,
    n_iters: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 4,
) -> DataFrame:
    """PageRank (Page, Brin, Motwani & Winograd 1999) over a directed
    (src, dst) edge list, dangling-aware:

        rank_{t+1}(v) = (1-d)/N
                      + d * (sum_{u->v} rank_t(u) / outdeg(u)
                             + dangling_t / N)

    where ``dangling_t`` is the rank mass sitting on nodes with no
    out-edges (redistributed uniformly — the standard teleport fix,
    without which total mass leaks every iteration).  The node set is
    the union of sources and destinations; duplicate edges count once
    (a link farm repeating the same href gains nothing).  Fixed
    iteration count — deterministic given the graph; rank sums are
    float, so compare at a rounded precision across engines.

    Returns (node, rank) with the raw double rank; callers round.
    """
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")
    # e and outdeg are re-read by EVERY nested iteration (contrib join
    # + dangling anti join), and with fewer iterations than
    # checkpoint_every the whole chain executes as ONE action — the
    # caller's edge plan (e.g. a link-extraction pass) would otherwise
    # run ~2x per iteration.  Both relations are slim (ids + a count);
    # persist them for the loop, drop them once the final ranks are
    # checkpointed (the connected_components idiom).
    with owned() as held:
        e = persist(edges.select("src", "dst").distinct(), held)
        nodes = persist(  # every iteration re-reads the node set
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct(),
            held,
        )
        outdeg = persist(e.groupBy("src").agg(F.count("*").alias("_od")), held)
        n = nodes.count()
        if n == 0:
            # (1-d)/n below would raise a bare ZeroDivisionError; match
            # the informative-ValueError convention for degenerate input
            raise ValueError("pagerank: empty edge list (no nodes)")
        ranks = nodes.select("node", (F.lit(1.0) / n).alias("rank"))
        ckpt = None  # the last checkpoint the loop took
        for it in range(n_iters):
            contrib = (
                e.join(ranks, e.src == ranks.node)
                .join(outdeg, "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.col("rank") / F.col("_od")).alias("_c"))
            )
            dangling = (
                ranks.join(outdeg, ranks.node == outdeg.src, "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang"))
            )
            ranks = (
                nodes.join(contrib, "node", "left")
                .join(F.broadcast(dangling))
                .select(
                    "node",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * (F.coalesce("_c", F.lit(0.0)) + F.col("_dang") / n)
                    ).alias("rank"),
                )
            )
            if (it + 1) % checkpoint_every == 0 and it + 1 < n_iters:
                # truncate lineage: each iteration nests two joins and
                # a broadcast; unchecked, 50 iterations build a plan
                # the analyzer chokes on (connected_components idiom)
                ranks = ranks.localCheckpoint(eager=True)
                if ckpt is not None:
                    release_checkpoint(ckpt)  # superseded by this one
                ckpt = ranks
        # Materialize the final ranks before the block drops the caches
        # they depend on — the returned frame is then a cheap
        # checkpointed scan, exactly like connected_components' labels.
        ranks = ranks.localCheckpoint(eager=True)
        if ckpt is not None:
            release_checkpoint(ckpt)
        return ranks
