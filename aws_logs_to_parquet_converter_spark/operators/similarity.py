"""Similarity search over embedding columns (array<float>).

North-star operators (no reference counterpart): brute-force cosine
top-k as the exact baseline, and a random-hyperplane LSH variant as the
100 TB path (buckets shrink the candidate set; exact re-rank inside
buckets).

Vector math has two measured tiers (PERF.md):
  * ``_dot``/``_norm``: the zip_with/aggregate HOF fold — ONE fused
    interpreted pass per pair/row.  This is the default everywhere
    since r14: the round-2 "unroll element_at for known dims" rule
    INVERTED on Spark 4.1.2 (the 64+-term generated method blows
    codegen limits and interprets per element) — r13/r14 A/Bs read
    fold 5–7× faster on joined-pair stages and ~1.6× on per-row norm
    builds, bit-identical results (both accumulate strictly
    left-to-right).
"""

from __future__ import annotations

import random
import warnings

from pyspark.sql import Column, DataFrame, Window

from aws_logs_to_parquet_converter_spark.operators import versioned
from aws_logs_to_parquet_converter_spark.operators.cache import owned, persist
from aws_logs_to_parquet_converter_spark.operators.partitioning import fan_out
from pyspark.sql import functions as F


def _warn_retired_dim(dim: int | None) -> None:
    """The unroll tier is retired (r14); a ``semantic_dedup`` caller
    still passing ``dim`` must hear that it no longer does anything —
    and that ANSI length-mismatch errors became silent 0.0 similarity
    (r15 advisory: no silent parameter black-holes)."""
    if dim is not None:
        warnings.warn(
            "dim is ignored since r14 (the unrolled element_at "
            "tier measured 5-7x slower than the HOF fold and was retired); "
            "note length-mismatched vectors now yield 0.0 similarity instead "
            "of an ANSI error — validate vector lengths upstream if you "
            "relied on that. The parameter will be removed.",
            DeprecationWarning,
            stacklevel=3,
        )


def _dot(a: Column, b: Column) -> Column:
    """Sum of elementwise products, accumulated in double — ALWAYS the
    zip_with/aggregate HOF fold (one fused interpreted pass over the
    two arrays), accumulating strictly left-to-right, bit-identical to
    the DuckDB oracle's list fold.

    No dimension-unrolled form since r14: the old "unroll element_at
    for dim <= 256" fast path measured 5–7× SLOWER on joined-pair
    stages and ~1.6× slower on per-row norm builds (PERF.md round-13/-14 A/Bs — the 64+-term generated method
    exceeds codegen limits and evaluates per element, while the fold
    is one fused pass).  Behavior note from the retirement: under ANSI
    the unrolled ``element_at(v, i)`` THREW on a shorter-than-dim
    vector, whereas the fold yields NULL for mismatched lengths
    (``zip_with`` NULL-pads the shorter side and the NULL product
    propagates through the sum) — :func:`cosine` then pins that to
    0.0 via its coalesce guard.  Callers wanting strict length
    enforcement validate upstream.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with the zero-norm guard: under ANSI mode
    (this engine's default) a zero divisor THROWS DIVIDE_BY_ZERO and
    kills the task — one failed/padded all-zero embedding would abort
    a corpus-wide job; with ANSI off it yields NaN, which Spark orders
    ABOVE every number, silently making the zero vector everyone's
    rank-1 neighbor.  try_divide + coalesce pins both failure modes to
    0.0."""
    return F.coalesce(
        F.nanvl(
            F.try_divide(_dot(a, b), _norm(a) * _norm(b)),
            F.lit(0.0),
        ),
        F.lit(0.0),
    )


# public alias (callers precomputing per-side norms use it)
norm = _norm


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    The (small) query set broadcasts; the corpus streams once; per-query
    ranking is a window over (query, sim).  Ties broken by neighbor
    id — deterministic.  Returns (query_id, neighbor_id, sim, rank).

    Vector math is the zip_with/aggregate fold (see ``_dot`` — the
    only tier since r14; the unrolled form measured slower at every
    stake: 9.3s cold / 2.5s warm vs 0.8s warm folded on 5k pairs, and
    5–7× slower on quadratic pair stages, PERF.md round-13/-14).
    """
    scored = _cosine_scored_pairs(corpus, queries, id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return scored.select("*", F.row_number().over(w).alias("rank")).where(F.col("rank") <= k)


def _cosine_scored_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The shared broadcast-queries x streamed-corpus cosine scoring
    plan of ``cosine_topk`` and ``hard_negative_pairs`` (one definition
    so a scoring fix can never miss one of them — r10 review): returns
    (query_id, neighbor_id, sim) with sim rounded to 4.

    Each side's norm hoists to a per-row column BEFORE the join: the
    per-pair cosine otherwise re-folds both self-dots for every
    (query, neighbor) pair — 3 interpreted HOF folds per pair where
    one (the cross dot) suffices.  norm_q * norm_c in the same
    order/precision as cosine()'s inline form, so results stay
    bit-identical (measured: ~3x less per-pair fold work at sf0.1).
    The corpus side spreads a one-row-group input across the cluster
    first (partitioning.fan_out; no-op at scale)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm(F.col(vec_col)).alias("_nq"),
    )
    c = fan_out(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cv"),
            _norm(F.col(vec_col)).alias("_nc"),
        ),
        "neighbor_id",
    )
    sim = F.coalesce(
        F.nanvl(
            F.try_divide(
                _dot(F.col("_qv"), F.col("_cv")),
                F.col("_nq") * F.col("_nc"),
            ),
            F.lit(0.0),
        ),
        F.lit(0.0),
    )
    return c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(sim, 4).alias("sim"),
    )


def hyperplane_signatures(
    vec_col: str, dim: int, n_planes: int = 16
) -> Column:
    """Random-hyperplane (SRP) LSH bit signature as a bigint column
    EXPRESSION — a pure column factory (it binds to whatever DataFrame
    it is selected against; the old DataFrame parameter was never used
    and only implied a binding that did not exist): bit i =
    sign(v . r_i).  cos-similar vectors collide
    with probability 1 - theta/pi per bit.  ``n_planes`` caps at 63:
    bit 64 would wrap shiftleft's shift count mod 64 and silently
    OR-collide with bit 0, corrupting every hamming distance."""
    if not 1 <= n_planes <= 63:
        raise ValueError(f"n_planes must be in [1, 63], got {n_planes}")
    rng = random.Random(42)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]
    bits = []
    for i, plane in enumerate(planes):
        # fold, not unroll: n_planes * dim unrolled terms would swamp the
        # analyzer/codegen (signatures run once per row, not per pair)
        proj = _dot(F.col(vec_col), F.array(*[F.lit(x) for x in plane]))
        bits.append(F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long")))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig.bitwiseOR(b)
    return sig


def kmeans_cell_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    sample_n: int = 2048,
    iters: int = 5,
    seed: int = 42,
    hash_fn: str = "xxhash64",
):
    """Spherical k-means centroids for IVF cell assignment, trained
    driver-side on a bounded deterministic sample (ordered by
    ``xxhash64(id, seed)`` — stable across runs and partitionings).

    ``hash_fn="md5"`` orders the sample by ``md5(cast(id as string))``
    instead, which with ``iters=0`` makes the centroid list EQUAL to
    the first ``n_cells`` md5-ordered normalized vectors — an ordering
    an external SQL engine reproduces verbatim, so cell assignment
    becomes SQL-derivable (the ``pq_train`` oracle-parity pattern;
    production paths keep the cheaper 8-byte xxhash64 ordering).

    The sample bound makes this scale-safe: at 100 TB the driver still
    collects only ``sample_n`` vectors; quality degrades gracefully
    because cells only gate candidate generation, never correctness of
    the re-rank.  Returns a row-normalized ``numpy`` array of shape
    (n_cells, dim).
    """
    import numpy as np

    if hash_fn == "md5":
        order = F.md5(F.col(id_col).cast("string"))
    elif hash_fn == "xxhash64":
        order = F.xxhash64(F.col(id_col), F.lit(seed))
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    rows = (
        # NULL embeddings would crash list(None) here and np.asarray in
        # the assignment UDF — they carry no geometry, exclude them
        corpus.where(F.col(vec_col).isNotNull())
        .select(vec_col)
        .orderBy(order)
        .limit(sample_n)
        .collect()
    )
    x = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    cents = x[:n_cells].copy()
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for j in range(len(cents)):
            members = x[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
        cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    return cents


def _cell_udf(centroids, nprobe: int):
    """Arrow-batched argmax-cosine cell assignment: one BLAS matmul per
    batch, zero shuffle — the map-side half of IVF.  Always returns
    ``array<int>`` (even for nprobe=1) so every caller can ``explode``
    unconditionally — a scalar return at nprobe=1 made the probe paths
    crash with AnalysisException (round-5 advisor finding)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n = max(1, min(nprobe, len(centroids)))

    def _cells(vs):
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ centroids.T
        if n == 1:
            top = np.argmax(sims, axis=1).astype("int32").reshape(-1, 1)
        else:
            top = np.argsort(-sims, axis=1)[:, :n].astype("int32")
        return pd.Series(list(top))

    return pandas_udf(_cells, "array<int>")


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    iters: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: corpus
    vectors are binned to their nearest spherical-k-means centroid
    map-side; each query probes its ``nprobe`` nearest cells and is
    re-ranked exactly against only those cells' vectors.

    ``iters``/``hash_fn`` pass through to ``kmeans_cell_centroids``;
    ``hash_fn='md5'`` with ``iters=0`` is the oracle-parity mode whose
    centroids an external SQL engine re-derives verbatim (see that
    function's docstring) — production keeps the defaults.

    The complementary scale path to ``cosine_topk_lsh``: data-adapted
    cells give better candidate quality on clustered corpora, at the
    cost of a (bounded, driver-side) training step.  Shuffle story at
    100 TB: the assignment is a zero-shuffle Arrow pass; the exploded
    (query, cell) list broadcasts; candidate generation is a hash join
    on the cell id, pruning ~(1 - nprobe/n_cells) of the corpus from
    the exact re-rank.  Returns (query_id, neighbor_id, sim, rank) —
    a subset of the exact result, recall grows with nprobe.
    """
    cents = kmeans_cell_centroids(
        corpus, id_col, vec_col, n_cells, iters=iters, hash_fn=hash_fn
    )
    # NULL embeddings can't be assigned or scored: exclude them from
    # the candidate path (semantic_dedup applies the same rule)
    corpus = corpus.where(F.col(vec_col).isNotNull())
    c = fan_out(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        F.element_at(_cell_udf(cents, 1)(F.col(vec_col)), 1).alias("_cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.explode(_cell_udf(cents, nprobe)(F.col(vec_col))).alias("_cell"),
    )
    scored = (
        c.join(F.broadcast(q), ["_cell"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_cv")), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return scored.select("*", F.row_number().over(w).alias("rank")).where(F.col("rank") <= k)


def prototypicality_scores(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    iters: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Cluster-distance data-pruning scores (Sorscher 2022, "Beyond
    neural scaling laws": the self-supervised prototype metric — a
    document's training value correlates with how (a)typical it is of
    its embedding cluster).  Each vector is assigned to its nearest
    spherical-k-means cell map-side; ``proto_sim`` is its cosine to
    the cell centroid and ``rnk`` its rank within the cell (most
    prototypical first).  Callers keep the prototypical head in the
    small-data regime or the atypical tail in the large-data regime —
    this operator only scores, the sampling/filters compose downstream
    (``weighted_sample``, ``stratified_sample`` on ``cell``).

    Rank is computed over the ROUNDED sim (ties at 4 decimals break on
    id): two vectors whose sims differ only at float-noise level would
    otherwise rank nondeterministically across runs and engines.

    Scale shape: bounded driver-side centroid training, zero-shuffle
    Arrow assignment, a broadcast |cells|-row centroid join, ONE
    window partitioned by cell — no corpus-vs-corpus pair space
    anywhere, so the pass is linear at any corpus size.
    ``hash_fn='md5'`` + ``iters=0`` is the oracle-parity mode (see
    ``kmeans_cell_centroids``)."""
    spark = corpus.sparkSession
    cents = kmeans_cell_centroids(
        corpus, id_col, vec_col, n_cells, iters=iters, hash_fn=hash_fn
    )
    corpus = corpus.where(F.col(vec_col).isNotNull())
    assigned = fan_out(corpus, id_col).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.element_at(_cell_udf(cents, 1)(F.col(vec_col)), 1).alias("cell"),
    )
    cent_df = spark.createDataFrame(
        [(j, [float(x) for x in cents[j]]) for j in range(len(cents))],
        "cell int, _cent array<double>",
    )
    scored = assigned.join(F.broadcast(cent_df), "cell").select(
        "_id",
        "cell",
        F.round(cosine(F.col("_v"), F.col("_cent")), 4).alias("proto_sim"),
    )
    w = Window.partitionBy("cell").orderBy(F.desc("proto_sim"), "_id")
    return scored.select(
        F.col("_id").alias(id_col),
        "cell",
        "proto_sim",
        F.row_number().over(w).alias("rnk"),
    )


def hard_negative_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    lo: float = 0.15,
    hi: float = 0.35,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    query, the top-``k`` corpus vectors whose cosine lands in
    ``[lo, hi)`` — similar enough to be informative negatives, capped
    BELOW the near-duplicate band where a "negative" is likely an
    unlabeled positive (set ``hi`` under the corpus's semantic-dedup
    threshold).  The band applies to the ROUNDED sim (same
    determinism rationale as ``prototypicality_scores``) and prunes
    BEFORE the ranking window, so the window only sorts band
    survivors.  The scoring plan IS cosine_topk's — one shared
    definition (``_cosine_scored_pairs``), so a scoring fix can never
    miss one of the two (r10 review).  NULL-embedding rows are
    excluded on BOTH sides: their sim coalesces to 0.0, so with
    lo <= 0 every geometry-less row would enter the band as a fake
    negative for every query (r10 review).
    Returns (query_id, neighbor_id, sim, rnk), rnk <= k."""
    scored = _cosine_scored_pairs(
        corpus.where(F.col(vec_col).isNotNull()),
        queries.where(F.col(vec_col).isNotNull()),
        id_col,
        vec_col,
    ).where((F.col("sim") >= lo) & (F.col("sim") < hi))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return scored.select("*", F.row_number().over(w).alias("rnk")).where(
        F.col("rnk") <= k
    )


def blocked_all_pairs(
    df: DataFrame,
    id_col: str,
    n_blocks: int = 8,
    seed: int = 42,
    key_cols: "tuple[str, ...] | list[str]" = (),
) -> DataFrame:
    """All unordered row pairs as a BOUNDED equi-join (triangle/block
    join), never a BroadcastNestedLoopJoin.

    Each row is hashed to one of ``n_blocks`` blocks; for every block
    pair (i, j), i <= j, block i's rows replicate to the left side and
    block j's to the right, joined on the (i, j) key.  Every unordered
    pair meets exactly once: cross-block pairs meet under their sorted
    block-pair key; same-block pairs meet twice and are halved by the
    id ordering filter.

    ``key_cols`` restricts the pair space to rows agreeing on those
    columns (they join as extra equi-keys alongside the block pair and
    are emitted once in the result) — the within-group form used by
    ``semantic_dedup``, where pairs only matter inside a cluster.
    Grouping composes with blocking: a skewed giant group still splits
    into bounded (group, block-pair) tasks.

    Why this shape: exact all-pairs similarity is inherently Θ(n²)
    COMPUTE, but the naive ``a.join(b, id_a < id_b)`` plans as a
    broadcast nested-loop join — one side fully materialized per
    executor, driver-OOM at corpus scale.  The block join replicates
    each row ~n_blocks/2 times, shuffles on the block-pair key, and
    bounds per-task memory to two blocks; it scales horizontally to
    however many executors the quadratic work deserves.  (For
    sub-quadratic candidate generation accept approximation:
    cosine_topk_lsh / cosine_topk_ivf.)

    Emits (id_a, id_b) with id_a < id_b; every non-id column is
    carried through twice with ``_l``/``_r`` side suffixes (side
    labels do NOT track the id ordering — see the in-body note).
    """
    keys = list(key_cols)
    payload = [c for c in df.columns if c != id_col and c not in keys]
    blk = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(n_blocks)).cast("int")
    base = fan_out(
        df.select(F.col(id_col).alias("_id"), blk.alias("_blk"), *keys, *payload),
        "_id",
    )
    left = base.select(
        F.col("_blk").alias("_bi"),
        F.explode(F.sequence(F.col("_blk"), F.lit(n_blocks - 1))).alias("_bj"),
        *keys,
        F.col("_id").alias("_id_l"),
        *[F.col(c).alias(f"{c}_l") for c in payload],
    )
    right = base.select(
        F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("_bi"),
        F.col("_blk").alias("_bj"),
        *keys,
        F.col("_id").alias("_id_r"),
        *[F.col(c).alias(f"{c}_r") for c in payload],
    )
    pairs = left.join(right, ["_bi", "_bj", *keys]).where(
        (F.col("_bi") < F.col("_bj")) | (F.col("_id_l") < F.col("_id_r"))
    )
    # Payload stays side-labeled (_l/_r), NOT reordered by id: wrapping
    # each payload column in a when(id_l > id_r) flip gets substituted
    # into every consumer term after project collapse (for an unrolled
    # dim-64 dot that is 128 copies of the conditional — blew janino's
    # 64 KB method limit).  Callers with symmetric scoring never need
    # the flip; callers that do can reorder the (small) result.
    return pairs.select(
        F.least("_id_l", "_id_r").alias("id_a"),
        F.greatest("_id_l", "_id_r").alias("id_b"),
        *keys,
        *[F.col(f"{c}_l") for c in payload],
        *[F.col(f"{c}_r") for c in payload],
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs (sim >= threshold),
    candidate space generated by ``blocked_all_pairs`` so the plan is a
    shuffled equi-join with bounded tasks — no nested-loop, no
    unbounded self-join.  Returns (id_a, id_b, sim) unrounded.

    Per-row norms are computed ONCE before the block replication and
    carried through the exchange, so the join stage evaluates a single
    dot product per pair (the full inline cosine — three folds per
    pair — measured 3× the work of the hoisted form).  Note this is the
    opposite trade from the old BNLJ formulation, where the broadcast
    side re-evaluated projections per probe and precomputing norms
    measured slower (PERF.md).  Cosine is symmetric (elementwise
    products commute; accumulation order is index order either way),
    so scoring uses the raw _l/_r sides — bit-identical to scoring in
    id order."""
    base = corpus.select(
        F.col(id_col).alias("_nid"),
        F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_nrm"),
    )
    pairs = blocked_all_pairs(base, "_nid")
    # Per-pair dot uses the HOF fold, NOT the dim-unrolled form: the
    # r2-era measurement (unroll 16s vs fold 75s) has INVERTED on this
    # engine (Spark 4.1.2, single hoisted-norm fold per pair) — r13
    # A/B on 1M joined pairs at dim 64: unroll 5.3-6.0s vs fold
    # 0.8-1.2s, identical drop sets (both accumulate strictly
    # left-to-right, so results are bit-identical by construction).
    sim = F.coalesce(  # zero-norm guard (ANSI divide-by-zero): see cosine()
        F.nanvl(
            F.try_divide(
                _dot(F.col("_v_l"), F.col("_v_r")),
                F.col("_nrm_l") * F.col("_nrm_r"),
            ),
            F.lit(0.0),
        ),
        F.lit(0.0),
    )
    return pairs.select("id_a", "id_b", sim.alias("sim")).where(F.col("sim") >= threshold)


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_cells: "int | str" = 16,
    sample_n: int = 2048,
    seed: int = 42,
    dim: int | None = None,
    target_cell_size: int = 5000,
    kmeans_iters: int = 5,
    hash_fn: str = "xxhash64",
    handles: "list[DataFrame] | None" = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with spherical k-means, then
    prune near-duplicates WITHIN each cluster only — turning the Θ(n²)
    global pair space into Θ(Σ|cell|²), the published scale path for
    embedding-level dedup of web corpora.

    Drop policy matches the public SemDeDup implementation's
    upper-triangular test: row j is dropped iff some row i with a
    smaller id in the SAME cell has cosine(i, j) >= threshold.
    Deterministic given a seed (bounded driver-side k-means sample,
    argmax-cosine assignment).

    ``n_cells=1`` degenerates to EXACT greedy dedup over all pairs —
    zero Python in the plan (the cell is a literal) and expressible in
    ANSI SQL, which is how the oracle grades it (q_semantic_dedup);
    the clustered form trades recall across cell boundaries for the
    quadratic savings, exactly as the paper does.

    The SCALE CONTRACT is cells ∝ corpus: per-cell pair work is
    Θ(|cell|²), so a FIXED n_cells degrades quadratically as the
    corpus grows (PERF.md measures it), while cells sized to a
    constant expected occupancy keep total pair work LINEAR — the
    paper runs ~10⁵ clusters at web scale for exactly this reason.
    ``n_cells="auto"`` encodes that: ceil(count / target_cell_size),
    one count() job to size the index.

    Shuffle story at 100 TB: one Arrow map-side assignment pass (no
    shuffle), the block-pair exchange (4 blocks) replicating each row
    ~2 times within its cell, and an 8-byte-id anti join.  Per-task
    memory stays bounded even for a skewed giant cell because the
    block key composes with the cell key.  Returns the KEPT rows with
    the corpus's original columns.

    With ``n_cells > 1`` the cell assignments are cached; the returned
    plan reads them, so they are released through ``handles``
    (``operators/cache.py``).
    """
    _warn_retired_dim(dim)
    # NULL embeddings can't score against anything: exclude them from
    # the pair space entirely (the anti join then keeps them, matching
    # the exact mode) and from the k-means sample/assignment, where a
    # NULL would crash the driver-side collect and the Arrow matmul.
    scorable = corpus.where(F.col(vec_col).isNotNull())
    if isinstance(n_cells, str):
        if n_cells != "auto":
            raise ValueError(f"n_cells must be an int or 'auto', got {n_cells!r}")
        n_cells = max(1, -(-scorable.count() // target_cell_size))
        # the k-means sample must grow with the cell count or the
        # centroid list gets truncated to sample_n and occupancy (and
        # the pair space) silently returns to the quadratic regime the
        # auto mode exists to prevent; ~8 sample points per centroid
        # keeps training meaningful at O(n_cells * dim) driver memory
        sample_n = max(sample_n, 8 * n_cells)
    if n_cells <= 1:
        cell = F.lit(0)
    else:
        # kmeans_iters=0 + hash_fn='md5' is the oracle-parity mode:
        # centroids degenerate to the first n_cells md5-ordered
        # normalized vectors, making the cell assignment (and thus the
        # whole clustered drop set) SQL-derivable — see
        # q_semantic_dedup_cells_md5.  Production keeps iters=5/xxhash64.
        cents = kmeans_cell_centroids(
            scorable, id_col, vec_col, n_cells, sample_n,
            iters=kmeans_iters, seed=seed, hash_fn=hash_fn,
        )
        cell = F.element_at(_cell_udf(cents, 1)(F.col(vec_col)), 1)
    # fan_out before the assignment projection: a one-split parquet
    # corpus otherwise runs the whole Arrow cell-assignment pass as ONE
    # task (measured r15: 2.5s single-task stage at sf0.1); no-op at
    # scale where inputs carry thousands of splits.
    base = fan_out(scorable, id_col).select(
        F.col(id_col).alias("_sid"),
        F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_nrm"),
        cell.alias("_cell"),
    )
    if n_cells > 1:
        # The cell assignment is the one Arrow pass in the plan, and
        # the pair self-join evaluates `base` on BOTH branches —
        # without materialization the Python crossing runs twice and
        # dominates wall-clock (measured: 2.8s/pass vs <0.1s for the
        # exact-mode literal cell at sf0.1).  ~(id + vec + norm + cell)
        # per row cached — the corpus's own width, the same trade the
        # paper's pipeline makes by writing cluster ids to disk.
        base = persist(base, handles)
        # Eager materialization: the pair self-join scans `base` on
        # both branches and AQE launches both CONCURRENTLY — two tasks
        # per cached partition racing the cache lock, the loser holding
        # a task slot for the full Arrow-assignment wall (the minhash
        # sig.count() finding, r15).  Pay the one Arrow pass in its own
        # clean stage; both join branches then read the cache.
        base.count()
    pairs = blocked_all_pairs(base, "_sid", 4, seed, key_cols=["_cell"])
    # HOF fold, not the dim unroll — see cosine_neardup_pairs: the old
    # unroll-wins measurement inverted on this engine (r13 A/B: fold
    # 5-7x faster on the joined-pair stage, bit-identical results).
    sim = F.coalesce(  # zero-norm guard (ANSI divide-by-zero): see cosine()
        F.nanvl(
            F.try_divide(
                _dot(F.col("_v_l"), F.col("_v_r")),
                F.col("_nrm_l") * F.col("_nrm_r"),
            ),
            F.lit(0.0),
        ),
        F.lit(0.0),
    )
    drops = (
        pairs.where(sim >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return corpus.join(drops, id_col, "left_anti")


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 12,
    max_hamming: int = 2,
) -> DataFrame:
    """Approximate top-k: candidates limited to corpus vectors whose
    hyperplane signature is within ``max_hamming`` bits of the query's,
    then exact cosine re-rank.  At scale this turns the all-pairs
    product into (queries x small buckets).

    Returns (query_id, neighbor_id, sim, rank) — a subset of the exact
    result; recall grows with n_planes/max_hamming.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        hyperplane_signatures(vec_col, dim, n_planes).alias("_qsig"),
    )
    c = fan_out(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        hyperplane_signatures(vec_col, dim, n_planes).alias("_csig"),
    )
    hamming = F.bit_count(F.col("_qsig").bitwiseXOR(F.col("_csig")))
    scored = (
        c.join(F.broadcast(q), (F.col("query_id") != F.col("neighbor_id")) & (hamming <= max_hamming))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_cv")), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return scored.select("*", F.row_number().over(w).alias("rank")).where(F.col("rank") <= k)


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization (the storage/serving
    compression step of an embedding pipeline): scale = max|v| / 127,
    q_i = floor(v_i/scale + 0.5) in [-127, 127].

    Cross-engine note: floor(x + 0.5) replaces round(x) deliberately —
    both engines evaluate floor and + as exact IEEE ops on identical
    doubles, while round()'s half-way tie rule is engine-dependent
    (the same class as the money-contract ROUND ban, plans/money.py).
    Math runs in float64 (float32 inputs upcast exactly).

    Array HOFs here evaluate interpreted (CodegenFallback) but run
    ONCE per row — the PERF.md HOF ban targets per-candidate-pair hot
    paths, not per-row projections.  Returns (id, scale, qvec).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = (absmax / F.lit(127.0)).alias("scale")
    qvec = F.when(
        absmax > 0,
        F.transform(v, lambda x: F.floor(x / (absmax / F.lit(127.0)) + F.lit(0.5)).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(F.col(id_col), scale, qvec.alias("qvec"))


def normalize_vectors(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Unit-normalize embeddings (cosine becomes plain dot product
    downstream — the standard pre-index step).  Norm accumulates as a
    left-to-right float64 fold, bit-identical to DuckDB's list fold
    (PERF.md vector-math note).  Zero vectors stay zero.
    Returns (id, norm, unit)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    unit = F.when(norm > 0, F.transform(v, lambda x: x / norm)).otherwise(v)
    return df.select(F.col(id_col), norm.alias("norm"), unit.alias("unit"))


# ----------------------------------------------------------------------
# Product quantization (Jegou, Douze, Schmid 2011, "Product Quantization
# for Nearest Neighbor Search", IEEE TPAMI) — the memory-compression ANN
# path: an m-byte code replaces a 4*dim-byte float vector (32x at
# dim=64/m=8), and query scoring reads ONLY codes + a broadcast
# distance table, never raw corpus vectors.  At 100 TB of embeddings
# that is the difference between an index that fits the cluster and one
# that does not.
# ----------------------------------------------------------------------


def pq_train(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    ks: int = 256,
    sample_n: int = 2048,
    iters: int = 10,
    seed: int = 42,
    hash_fn: str = "xxhash64",
):
    """Per-subspace k-means codebook, trained driver-side on the same
    bounded deterministic sample discipline as
    ``kmeans_cell_centroids`` (ordered by ``xxhash64(id, seed)``;
    at 100 TB the driver still collects only ``sample_n`` vectors).

    Vectors are L2-normalized first, so quantized L2 distance is
    monotone with cosine (||a-b||^2 = 2 - 2cos for unit vectors) and
    PQ results rank-compare directly against ``cosine_topk``.

    ``hash_fn="md5"`` orders the sample by ``md5(cast(id as string))``
    instead — an ordering an external SQL engine reproduces verbatim
    (DuckDB ``md5(id::VARCHAR)``), which with ``iters=0`` makes the
    whole codebook SQL-derivable: zero k-means steps leave the
    centroids EQUAL to the first ``ks`` sampled vectors' subspaces, so
    an oracle can rebuild codebook, codes, and ADC tables from the
    corpus alone (the q_dedup_minhash_md5 oracle-parity pattern;
    production paths keep the cheaper 8-byte xxhash64 ordering).

    Returns a numpy array of shape (m, ks, dim//m).  ``dim % m`` must
    be 0 (pad upstream otherwise); ``ks`` caps at the sample size.
    """
    import numpy as np

    if hash_fn == "md5":
        order = F.md5(F.col(id_col).cast("string"))
    elif hash_fn == "xxhash64":
        order = F.xxhash64(F.col(id_col), F.lit(seed))
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    rows = (
        corpus.where(F.col(vec_col).isNotNull())
        .select(vec_col)
        .orderBy(order)
        .limit(sample_n)
        .collect()
    )
    if not rows:
        raise ValueError("pq_train: corpus has no non-NULL vectors to sample")
    x = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    ks_eff = min(ks, len(x))
    book = np.empty((m, ks_eff, dsub), dtype=np.float64)
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        cents = sub[:ks_eff].copy()
        for _ in range(iters):
            # squared-L2 assignment via the expansion trick (one BLAS
            # matmul, no n*ks*dsub temp)
            d2 = (
                (sub * sub).sum(1, keepdims=True)
                - 2.0 * sub @ cents.T
                + (cents * cents).sum(1)
            )
            assign = np.argmin(d2, axis=1)
            for c in range(ks_eff):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        book[j] = cents
    return book


def _pq_encode_udf(codebook):
    """Arrow-batched PQ encoder: normalize, then per subspace one BLAS
    argmin-L2 against that subspace's centroids — zero shuffle, the
    same map-side posture as ``_cell_udf``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    m, _, dsub = codebook.shape

    def _codes(vs):
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        out = np.empty((len(x), m), dtype="int32")
        for j in range(m):
            sub = x[:, j * dsub : (j + 1) * dsub]
            cents = codebook[j]
            d2 = (
                (sub * sub).sum(1, keepdims=True)
                - 2.0 * sub @ cents.T
                + (cents * cents).sum(1)
            )
            out[:, j] = np.argmin(d2, axis=1)
        return pd.Series(list(out))

    return pandas_udf(_codes, "array<int>")


def pq_encode(
    df: DataFrame, vec_col: str, codebook, out_col: str = "pq_codes"
) -> DataFrame:
    """``df`` plus the m-byte PQ code of ``vec_col`` (NULL vectors
    carry no geometry and must be excluded upstream, as in IVF)."""
    return df.withColumn(out_col, _pq_encode_udf(codebook)(F.col(vec_col)))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Approximate top-k via asymmetric distance computation (ADC):
    the corpus is scored from its PQ codes alone.  Per query the
    driver precomputes the (m, ks) table of squared distances from the
    query's subvectors to every centroid (tiny: m*ks doubles), ships
    it broadcast as one flattened array column, and the per-row score
    is an m-term table lookup —
    ``dist2 = sum_j table[j*ks + code_j]`` — evaluated JVM-side with
    zip_with/aggregate over the code array.  No raw corpus vector is
    read after encoding.

    ``sim`` is the cosine implied by quantized L2 on unit vectors
    (1 - dist2/2), rounded like every other similarity path, so PQ
    results rank-compare against ``cosine_topk``.  Queries are the
    small side by contract (same as ``cosine_topk``'s broadcast); they
    are collected driver-side to build the tables.

    Returns (query_id, neighbor_id, sim, rank).
    """
    import numpy as np

    spark = corpus.sparkSession
    m, ks, _ = codebook.shape
    coded = pq_encode(
        fan_out(
            corpus.where(F.col(vec_col).isNotNull()).select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
            ),
            "neighbor_id",
        ),
        "_cv",
        codebook,
        out_col="_pq",
    ).select("neighbor_id", "_pq")

    q = _pq_query_tables(spark, queries, codebook, id_col, vec_col)
    return _adc_topk(coded, q, m, ks, k)


def _pq_query_tables(spark, queries: DataFrame, codebook, id_col: str, vec_col: str):
    """Driver-side ADC distance tables for a (small by contract) query
    set: per query the (m, ks) squared distances from its subvectors
    to every centroid, flattened into one broadcastable array column
    (query_id, _dt).  Shared by the in-memory ``pq_topk`` and the
    persisted ``query_pq_index`` so the two paths cannot score
    differently."""
    import numpy as np

    m, ks, dsub = codebook.shape
    q_rows = queries.where(F.col(vec_col).isNotNull()).select(id_col, vec_col).collect()
    cent_sq = [(codebook[j] * codebook[j]).sum(1) for j in range(m)]
    table_rows = []
    for r in q_rows:
        qv = np.asarray(list(r[1]), dtype=np.float64)
        qv /= max(np.linalg.norm(qv), 1e-12)
        dt = np.empty((m, ks), dtype=np.float64)
        for j in range(m):
            sub = qv[j * dsub : (j + 1) * dsub]
            dt[j] = (sub * sub).sum() - 2.0 * codebook[j] @ sub + cent_sq[j]
        table_rows.append((r[0], [float(v) for v in dt.ravel()]))
    # schema inferred from the queries frame: id_col is a parameter and
    # may be any orderable type (string doc ids, ints, ...) — a
    # hardcoded long broke every non-bigint corpus (round-8 review)
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    id_type = queries.schema[id_col].dataType
    return spark.createDataFrame(
        table_rows,
        StructType(
            [
                StructField("query_id", id_type),
                StructField("_dt", ArrayType(DoubleType())),
            ]
        ),
    )


def _adc_topk(
    coded: DataFrame, q: DataFrame, m: int, ks: int, k: int,
    exclude_self: bool = True,
) -> DataFrame:
    """ADC scoring over (neighbor_id, _pq) codes vs broadcast
    (query_id, _dt) distance tables: m-term table lookup-sum JVM-side,
    cosine implied by quantized L2 on unit vectors, per-query top-k.

    ``exclude_self`` drops pairs whose query and neighbor ids are
    EQUAL — right for the symmetric corpus-queries-itself shape, wrong
    for a history gate probing an index that may already hold the same
    id (a re-delivered document must match its own indexed copy, not
    be invisibly excused — the r10 review's CLI gate bypass)."""
    lookups = F.zip_with(
        F.col("_pq"),
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda c, j: F.element_at(F.col("_dt"), j * F.lit(ks) + c + F.lit(1)),
    )
    dist2 = F.aggregate(lookups, F.lit(0.0), lambda a, v: a + v)
    cond = (
        F.col("query_id") != F.col("neighbor_id") if exclude_self else F.lit(True)
    )
    scored = (
        coded.join(F.broadcast(q), cond)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.lit(1.0) - dist2 / 2, 4).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return scored.select("*", F.row_number().over(w).alias("rank")).where(F.col("rank") <= k)


def save_pq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 256,
    sample_n: int = 2048,
    iters: int = 10,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    mode: str = "overwrite",
) -> None:
    """Persist a PQ index: build once, query many — the amortized form
    of ``pq_topk`` (whose in-query encode re-runs per call).  At 100 TB
    this is the index that fits where the float corpus cannot: ~m
    bytes/vector (32x at dim=64/m=8), and queries never read a raw
    vector again.

    Layout: a versioned store (``operators/versioned.py``) with two
    data dirs per version — ``codebook``, m*ks rows (j, c, cent), tiny;
    and ``codes`` (id, pq_codes), the corpus as m one-byte codes from
    ONE zero-shuffle Arrow encode pass.  The params row pins the build
    parameters beside the live version.  The versioned commit matters
    here because a crash mid-rebuild must never mix a new codebook with
    old codes (or vice versa): code arrays have the same length either
    way, so no validator could catch the mismatch after the fact.

    ``mode='append'`` admits new vectors ENCODED WITH THE EXISTING
    CODEBOOK (read back from the live version — append can never
    retrain and silently shift every stored code's meaning); the
    codebook, params, and version only change on a full rebuild."""
    spark = corpus.sparkSession
    if mode == "append":
        live = versioned.live_dir(path, versioned.read_params(spark, path))
        book = _load_pq_codebook(spark, live)
    else:
        book = pq_train(
            corpus, id_col, vec_col, m, ks, sample_n, iters, seed, hash_fn
        )
    mm, kk, dsub = book.shape
    rows = corpus.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("_v")
    )
    if mode == "append":
        # vectors of the wrong dimension would encode into VALID-LOOKING
        # m-byte codes (each subvector just truncates/misreads), so the
        # corruption is undetectable after the fact — check length
        # against the stored codebook BEFORE encoding (r9 advisor).
        # This is a second evaluation of the corpus lineage, but
        # column-pruned to the vector column; an append fed by an
        # expensive non-parquet lineage should persist() before calling
        n_bad = rows.where(F.size("_v") != mm * dsub).count()
        if n_bad:
            raise ValueError(
                f"{n_bad} vectors have dim != codebook dim {mm * dsub} "
                f"(m={mm} x dsub={dsub}) at {path} — wrong-dimension vectors "
                "encode into plausible codes; fix the batch or rebuild the "
                "index at the new dimension"
            )
    coded = pq_encode(rows, "_v", book, out_col="pq_codes").select("id", "pq_codes")
    if mode == "append":
        coded.write.mode("append").parquet(f"{live}/codes")
        return
    book_rows = [
        (j, c, [float(x) for x in book[j][c]])
        for j in range(mm)
        for c in range(kk)
    ]

    def write(vdir: str) -> None:
        spark.createDataFrame(
            book_rows, "j int, c int, cent array<double>"
        ).write.parquet(f"{vdir}/codebook")
        coded.write.parquet(f"{vdir}/codes")

    versioned.commit(
        spark, path, write,
        values=(mm, kk, dsub, sample_n, iters, seed, hash_fn),
        ddl="m int, ks int, dsub int, sample_n int, iters int, seed long, "
        "hash_fn string",
    )


def _load_pq_codebook(spark, live: str):
    """Reconstruct the numpy (m, ks, dsub) codebook stored in the live
    version dir ``live`` — bounded driver-side collect (m*ks*dsub
    doubles, a build-time constant)."""
    import numpy as np

    rows = spark.read.parquet(f"{live}/codebook").orderBy("j", "c").collect()
    if not rows:
        raise ValueError(f"no PQ codebook at {live} — run save_pq_index first")
    m = max(r.j for r in rows) + 1
    ks = max(r.c for r in rows) + 1
    dsub = len(rows[0].cent)
    book = np.empty((m, ks, dsub), dtype=np.float64)
    for r in rows:
        book[r.j][r.c] = r.cent
    return book


def query_pq_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """ADC top-k against a persisted PQ index
    (``save_pq_index``): load the tiny codebook driver-side, build the
    per-query distance tables, and score the STORED codes — the corpus
    is one parquet scan of ~m bytes/vector, no re-encode, no raw
    vectors.  Identity with in-memory ``pq_topk`` over the same
    codebook is pinned in test_similarity."""
    live = versioned.live_dir(path, versioned.read_params(spark, path))
    book = _load_pq_codebook(spark, live)
    m, ks, _ = book.shape
    coded = (
        spark.read.parquet(f"{live}/codes")
        .select(F.col("id").alias("neighbor_id"), F.col("pq_codes").alias("_pq"))
        # tolerate duplicate code rows (an at-least-once caller
        # retrying an append): a duplicated neighbor must not occupy
        # two of the k slots — same posture as the minhash probe's
        # pair-level dropDuplicates
        .dropDuplicates(["neighbor_id"])
    )
    q = _pq_query_tables(spark, queries, book, id_col, vec_col)
    return _adc_topk(coded, q, m, ks, k, exclude_self=exclude_self)


def validate_pq_index(spark, path: str) -> dict:
    """Health report for a persisted PQ index — the PQ sibling of
    ``validate_minhash_index`` (r9 advisor: append-time debris had no
    surfacing path):

      * ``n_codes`` / ``n_ids``: duplicate code rows (an at-least-once
        caller retrying an append) show as n_codes > n_ids — harmless
        to queries (neighbor-level dropDuplicates) but dead weight;
      * ``n_conflicting_ids``: ids carrying DIFFERENT code arrays —
        real corruption (the same id re-appended with changed
        vectors); queries resolve them arbitrarily, so purge +
        re-append is the fix;
      * ``n_bad_length_ids``: code arrays whose length differs from
        the codebook's ``m`` — a foreign-codebook append.

    One aggregate pass: the codes are aggregated per id, and one
    global aggregate over that answers every count in a single action.
    """
    params = versioned.read_params(spark, path)
    m = int(params["m"])
    codes = spark.read.parquet(f"{versioned.live_dir(path, params)}/codes")
    per_id = codes.groupBy("id").agg(
        F.count("*").alias("_rows"),
        F.count_if(F.size("pq_codes") != m).alias("_badlen"),
        # more than one DISTINCT code array (a NULL one counts as one)
        (
            (F.min("pq_codes") != F.max("pq_codes"))
            | F.count("pq_codes").between(1, F.count("*") - 1)
        ).alias("_conflict"),
    )
    r = per_id.agg(
        F.sum("_rows").alias("rows"),
        F.count("id").alias("ids"),
        F.count_if("_conflict").alias("conflicting"),
        F.sum("_badlen").alias("badlen"),
    ).first()
    return {
        "version": params["version"],
        "m": m,
        "n_codes": int(r.rows or 0),
        "n_ids": int(r.ids),
        "n_conflicting_ids": int(r.conflicting),
        "n_bad_length_ids": int(r.badlen or 0),
    }


def pq_semantic_gate(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    probe_chunk_rows: int = 2048,
) -> DataFrame:
    """The semantic history gate over a persisted PQ index, with
    BOUNDED driver state: drop every ``batch`` row whose nearest
    indexed ADC-cosine neighbor (k=1, ``exclude_self=False`` — a
    re-delivered id must match its own indexed copy) reaches
    ``threshold``; NULL-embedding rows pass (no geometry to gate on).

    Why not one ``query_pq_index`` call: the ADC probe builds an
    m*ks-double distance table PER QUERY on the driver and broadcasts
    them, so probing an unbounded micro-batch/export in one shot is a
    driver OOM / broadcast failure at scale (r10 review — the text
    MinHash gate, by contrast, is fully distributed).  This helper
    hash-partitions the probe side into ``probe_chunk_rows``-sized
    chunks and probes them SEQUENTIALLY: driver memory is bounded by
    one chunk's tables (~probe_chunk_rows * m*ks doubles, ~33 MB at
    the defaults), each chunk is one bounded Spark job, total work
    stays linear, and only the duplicate IDS (8 B each, at most the
    batch size) accumulate driver-side between chunks.

    Returns ``batch`` minus the gated rows, all columns intact."""
    from pyspark.sql import types as T

    probe = batch.where(F.col(vec_col).isNotNull()).select(id_col, vec_col)
    n = probe.count()
    id_field = T.StructType([batch.schema[id_col]])
    if n == 0:
        return batch
    n_chunks = max(1, -(-n // probe_chunk_rows))
    dup_ids: list = []
    with owned() as held:
        if n_chunks > 1:
            probe = persist(
                probe.withColumn(
                    "_pc", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_chunks))
                ),
                held,
            )
        for i in range(n_chunks):
            part = (
                probe.where(F.col("_pc") == i).drop("_pc")
                if n_chunks > 1
                else probe
            )
            hits = query_pq_index(
                spark, path, part, id_col=id_col, vec_col=vec_col, k=1,
                exclude_self=False,
            )
            dup_ids.extend(
                r[0]
                for r in hits.where(F.col("sim") >= threshold)
                .select("query_id")
                .distinct()
                .collect()
            )
    if not dup_ids:
        return batch
    dup_df = spark.createDataFrame([(d,) for d in dup_ids], id_field)
    return batch.join(dup_df, id_col, "left_anti")


def pq_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVFPQ (the standard composed ANN index, Jegou 2011 §V): IVF
    cells prune WHICH rows are scored, PQ codes shrink WHAT scoring
    reads.  Corpus rows carry (cell, m-byte code); each query ships
    its probed-cell list and ADC distance table broadcast; candidate
    generation is a hash EQUI join on the cell id (no nested loop —
    tighter than plain pq_topk's non-equi broadcast join), and the
    per-candidate score is the same m-term table lookup.

    At 100 TB: ~nprobe/n_cells of the corpus is touched per query and
    none of it is raw vectors.  Returns (query_id, neighbor_id, sim,
    rank) — approximate on both axes (cell recall x quantization),
    recall-tested against the exact path in test_similarity."""
    import numpy as np

    spark = corpus.sparkSession
    m, ks, dsub = codebook.shape
    cents = kmeans_cell_centroids(corpus, id_col, vec_col, n_cells)
    corpus = corpus.where(F.col(vec_col).isNotNull())
    coded = pq_encode(
        fan_out(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
            ),
            "neighbor_id",
        ),
        "_cv",
        codebook,
        out_col="_pq",
    ).select(
        "neighbor_id",
        "_pq",
        F.element_at(_cell_udf(cents, 1)(F.col("_cv")), 1).alias("_cell"),
    )

    q_rows = queries.where(F.col(vec_col).isNotNull()).select(id_col, vec_col).collect()
    n_probe = max(1, min(nprobe, len(cents)))
    cent_sq = [(codebook[j] * codebook[j]).sum(1) for j in range(m)]
    table_rows = []
    for r in q_rows:
        qv = np.asarray(list(r[1]), dtype=np.float64)
        qv /= max(np.linalg.norm(qv), 1e-12)
        cells = np.argsort(-(cents @ qv))[:n_probe]
        dt = np.empty((m, ks), dtype=np.float64)
        for j in range(m):
            sub = qv[j * dsub : (j + 1) * dsub]
            dt[j] = (sub * sub).sum() - 2.0 * codebook[j] @ sub + cent_sq[j]
        flat = [float(v) for v in dt.ravel()]
        for c in cells:
            table_rows.append((r[0], int(c), flat))
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    q = spark.createDataFrame(
        table_rows,
        StructType(
            [
                StructField("query_id", queries.schema[id_col].dataType),
                StructField("_cell", IntegerType()),
                StructField("_dt", ArrayType(DoubleType())),
            ]
        ),
    )
    lookups = F.zip_with(
        F.col("_pq"),
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda c, j: F.element_at(F.col("_dt"), j * F.lit(ks) + c + F.lit(1)),
    )
    dist2 = F.aggregate(lookups, F.lit(0.0), lambda a, v: a + v)
    scored = (
        coded.join(F.broadcast(q), ["_cell"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.lit(1.0) - dist2 / 2, 4).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return scored.select("*", F.row_number().over(w).alias("rank")).where(F.col("rank") <= k)


def semantic_contamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-level train/eval contamination scan: every (corpus,
    eval) pair whose cosine similarity reaches ``threshold`` — the
    semantic complement of ``dedup.contamination_check`` (n-gram
    overlap misses paraphrased benchmark leakage; near-identical
    embeddings catch it).  Drop the flagged corpus ids before training
    with a left_anti join on the result.

    Scale shape: the eval set is small by contract (a benchmark) and
    BROADCASTS with its norms precomputed; the corpus streams once
    with its norm hoisted per-row — the ``cosine_topk`` posture minus
    the window: a threshold scan needs no per-query ranking, so the
    plan is scan -> broadcast join -> filter, nothing else.  Returns
    (corpus_id, eval_id, sim) with sim rounded to 4 (the similarity-
    family convention).  NULL embeddings on either side are excluded
    (no geometry)."""
    e = F.broadcast(
        eval_set.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("eval_id"),
            F.col(vec_col).alias("_ev"),
            _norm(F.col(vec_col)).alias("_ne"),
        )
    )
    c = fan_out(
        corpus.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("corpus_id"),
            F.col(vec_col).alias("_cv"),
            _norm(F.col(vec_col)).alias("_nc"),
        ),
        "corpus_id",
    )
    sim = F.coalesce(
        F.nanvl(
            F.try_divide(_dot(F.col("_cv"), F.col("_ev")), F.col("_nc") * F.col("_ne")),
            F.lit(0.0),
        ),
        F.lit(0.0),
    )
    return (
        c.join(e)
        .select("corpus_id", "eval_id", F.round(sim, 4).alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k_const: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of N per-query rankings — the standard hybrid-retrieval combiner
    (e.g. BM25 lexical + embedding-cosine semantic):

        rrf(q, d) = sum over systems s ranking d for q of
                    1 / (k_const + rank_s(q, d))

    Each input frame must carry (query_id, doc_id, rnk); systems
    that do not rank a document simply contribute nothing (union, not
    outer join).  Fusion depends only on RANK POSITIONS, never on the
    systems' incomparable raw scores — which is why it composes a
    probabilistic lexical score with a cosine without calibration.

    Scale shape: a by-name union of already-top-k'd inputs (each at
    most |queries| * k rows, tiny regardless of corpus size), one
    (query, doc) aggregation, one window partitioned by query.  With
    <= 2 systems the double sum is a single commutative addition —
    summation-order-free, so the fused score is oracle-exact.

    Returns (query_id, doc_id, n_systems, rrf_score, rnk) for
    rnk <= k, ties broken by ascending document id.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    base = None
    for r in rankings:
        sel = r.select("query_id", "doc_id", "rnk")
        base = sel if base is None else base.unionByName(sel)
    fused = base.groupBy("query_id", "doc_id").agg(
        F.count("*").alias("n_systems"),
        F.sum(F.lit(1.0) / (F.lit(k_const) + F.col("rnk"))).alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), "doc_id")
    return fused.select("*", F.row_number().over(w).alias("rnk")).where(
        F.col("rnk") <= k
    )


def retrieval_metrics(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
) -> DataFrame:
    """IR evaluation of per-query rankings against relevance judgments
    — the measurement half the retrieval family (bm25_topk,
    cosine_topk, rrf_fuse) needs before anyone tunes it.  ``results``
    carries (query_id, doc_id, rnk), ``qrels`` (query_id, doc_id).  Per query in
    ``qrels`` (binary relevance: a (query, doc) row means relevant):

      * ``recall_at_k`` — relevant docs retrieved in the top-k / n_rel;
      * ``rr`` — reciprocal rank of the FIRST relevant hit (0.0 when
        none; average over queries for MRR);
      * ``ndcg`` — binary-gain nDCG@k, DCG = sum 1/log2(rank+1) over
        hits against the ideal prefix of min(n_rel, k) ones.

    Queries present in qrels but missing from ``results`` still emit a
    row (all-zero metrics) — silently dropping unanswered queries
    would inflate every macro average.

    Scale shape: both inputs are |queries|-bounded (results already
    top-k'd), so every join and aggregate here is small-side; nothing
    touches the corpus.  Floats round to 4 (registry convention)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    res = results.where(F.col("rnk") <= k).select("query_id", "doc_id", "rnk")
    rel = qrels.select("query_id", "doc_id").dropDuplicates()
    nrel = rel.groupBy("query_id").agg(F.count("*").alias("n_rel"))
    hits = res.join(rel, ["query_id", "doc_id"]).select("query_id", "rnk")
    agg = hits.groupBy("query_id").agg(
        F.count("*").alias("_nh"),
        F.min("rnk").alias("_first"),
        F.sum(F.lit(1.0) / F.log2(F.col("rnk") + F.lit(1.0))).alias("_dcg"),
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_rel"), F.lit(k))),
        F.lit(0.0),
        lambda a, i: a + F.lit(1.0) / F.log2(i.cast("double") + F.lit(1.0)),
    )
    return nrel.join(agg, "query_id", "left").select(
        "query_id",
        "n_rel",
        F.coalesce(F.col("_nh"), F.lit(0)).cast("int").alias("n_hits"),
        F.round(
            F.coalesce(F.col("_nh"), F.lit(0)) / F.col("n_rel").cast("double"), 4
        ).alias("recall_at_k"),
        F.round(F.coalesce(F.lit(1.0) / F.col("_first"), F.lit(0.0)), 4).alias("rr"),
        F.round(F.coalesce(F.col("_dcg"), F.lit(0.0)) / idcg, 4).alias("ndcg"),
    )


def cosine_topk_lsh_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 12,
    bands: int = 3,
    probe_flips: bool = True,
) -> DataFrame:
    """Bucketed multi-probe LSH top-k — the EQUI-JOIN form of
    ``cosine_topk_lsh`` for query sets too large to broadcast (that
    broadcast form streams the corpus once per run and is the right
    shape when queries fit in memory; THIS one is the right shape when
    both sides are big): signatures split into ``bands`` bit-bands,
    the corpus explodes one (band, value) row per band, and each query
    probes its own band values PLUS every 1-bit flip within the band
    (multi-probe, Lv et al. 2007 — recall of a far bigger table count
    at ~w extra probe rows per band, probe volume grows, corpus stays
    put).  Candidates come from the (band, value) equi-join — NO
    broadcast nested loop, no corpus x queries product — then exact
    cosine re-rank takes top-k.

    Candidate-completeness floor: any pair within ``bands - 1``
    differing signature bits shares >=1 exact band (pigeonhole); with
    probe_flips the same floor holds at ``2*bands - 1`` bits.  Beyond
    the floor, recall is probabilistic via SRP collisions.

    Returns (query_id, neighbor_id, sim, rank), sims ROUND(4).
    """
    if n_planes % bands != 0:
        raise ValueError(
            f"n_planes ({n_planes}) must divide evenly into bands ({bands})"
        )
    w = n_planes // bands
    mask = (1 << w) - 1
    sig = hyperplane_signatures(vec_col, dim, n_planes)

    def banded(df: DataFrame, out_id: str) -> DataFrame:
        b = df.select(F.col(id_col).alias(out_id), sig.alias("_sig"))
        return b.select(
            out_id,
            F.explode(
                F.expr(
                    f"transform(sequence(0, {bands - 1}), "
                    f"j -> struct(j AS band, "
                    f"shiftright(_sig, j * {w}) & {mask} AS val))"
                )
            ).alias("_bv"),
        ).select(out_id, F.col("_bv.band").alias("_band"), F.col("_bv.val").alias("_val"))

    cb = banded(fan_out(corpus, id_col), "neighbor_id")
    qb = banded(queries, "query_id")
    if probe_flips:
        # each band value probes itself and its w one-bit flips
        qb = qb.select(
            "query_id",
            "_band",
            F.explode(
                F.expr(
                    f"array_union(array(_val), transform(sequence(0, {w - 1}), "
                    f"i -> _val ^ shiftleft(1L, i)))"
                )
            ).alias("_val"),
        )
    cand = qb.join(cb, ["_band", "_val"]).select("query_id", "neighbor_id").distinct()
    cand = cand.where(F.col("query_id") != F.col("neighbor_id"))

    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    scored = (
        cand.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_cv")), 4).alias("sim"),
        )
    )
    wnd = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return scored.select("*", F.row_number().over(wnd).alias("rank")).where(
        F.col("rank") <= k
    )


def gram_matrix(
    df: DataFrame,
    vec_col: str = "qvec",
) -> DataFrame:
    """Exact integer gram matrix Gᵀ = XᵀX over an INTEGER-vector
    column — the covariance/PCA/whitening building block, computed the
    only way that survives 100 TB: per-partition Arrow accumulation
    (each partition's mapInPandas emits ONE dim x dim int64 partial,
    regardless of row count) followed by an (i, j)-keyed sum of the
    |partitions| partials.  Never a row-pair join, never a per-row
    explode of dim² terms; the shuffle is |partitions| x dim(dim+1)/2
    slim rows.

    Integer vectors (e.g. :func:`quantize_int8` output) accumulate as
    EXACT int64 and emit a BIGINT ``g`` — the oracle-parity path and
    the reason PCA on quantized embeddings grades bit-for-bit where a
    float gram would drift with summation order.  Any other element
    type raises ``TypeError``.  Upper triangle only (i <= j, 0-based);
    mirror for the full matrix.

    Returns (i, j, g).
    """
    from pyspark.sql import types as T

    elem = df.schema[vec_col].dataType.elementType
    if not isinstance(elem, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        raise TypeError(
            f"gram_matrix: {vec_col!r} must be an array of integers (got "
            f"array<{elem.simpleString()}>); quantize float vectors first "
            "(quantize_int8)"
        )
    vecs = df.select(F.col(vec_col).alias("qvec"))

    def _partials(batches):
        import numpy as np
        import pandas as pd

        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf["qvec"].tolist(), dtype="int64")
            part = x.T @ x
            acc = part if acc is None else acc + part
        if acc is None:
            return
        d = acc.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {"i": iu.astype("int32"), "j": ju.astype("int32"),
             "g": acc[iu, ju]}
        )

    import pandas as pd  # noqa: F401 (mapInPandas contract)

    partials = vecs.mapInPandas(_partials, "i int, j int, g long")
    return partials.groupBy("i", "j").agg(F.sum("g").alias("g"))


def project_vectors(
    df: DataFrame,
    components: "list[list[float]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project embeddings onto PCA components (dimensionality
    reduction before ANN indexing / clustering): one Arrow-batched
    matmul per partition (X @ Wᵀ), components broadcast as a plain
    Python constant in the closure — map-only, zero shuffles.

    Returns (id, out_col: array<double>).
    """
    import pandas as pd  # noqa: F401

    w = [list(map(float, row)) for row in components]

    def _proj(batches):
        import numpy as np
        import pandas as pd

        wt = np.array(w, dtype=np.float64).T  # dim x k
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            y = x @ wt
            yield pd.DataFrame({id_col: pdf[id_col], out_col: list(map(list, y))})

    schema = f"{id_col} long, {out_col} array<double>"
    return df.select(id_col, vec_col).mapInPandas(_proj, schema)
