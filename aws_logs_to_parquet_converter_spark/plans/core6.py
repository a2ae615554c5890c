"""Round-11 ETL/analytics entries: dimension maintenance (SCD1/SCD2
merges), fuzzy entity resolution (deletion-neighborhood edit-distance
join), and robust anomaly detection (median/MAD modified z-score).

Every entry derives its inputs deterministically from the shared
testdata tables so the DuckDB oracle can re-derive them exactly; float
fragility is kept off the graded boundary per the registry convention
(integerize via FLOOR, never emit a raw or engine-rounded double —
the q_stream_profile r9/r10 lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators import anomaly, fuzzy, scd
from aws_logs_to_parquet_converter_spark.plans.registry import (
    query,
    scratch_dir,
    stage_micro_batches,
    t,
)

# ---------------------------------------------------------------------------
# Dimension maintenance (SCD) — history/updates derived from customer
# ---------------------------------------------------------------------------

# Shared derivations (Spark + DuckDB build the SAME inputs):
#   history: every customer open since 2023-01-01 on its mktsegment,
#            plus a closed LEGACY 2022 version for custkey % 10 == 0;
#   updates: custkey % 3 == 0 gets a 2024-01-01 row — segment moves to
#            'MOVED-<k%5>' for even keys, stays put for odd (the
#            no-op-update case); custkey % 50 == 0 ALSO gets an earlier
#            2023-06-01 'TRANSIENT' row, so latest-per-key collapse is
#            exercised (for % 50 keys not divisible by 3 it is the
#            ONLY update and must win).

_SCD_HIST_SQL = """
    SELECT c_custkey AS k, c_mktsegment AS seg,
           '2023-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
    FROM customer
    UNION ALL
    SELECT c_custkey, 'LEGACY', '2022-01-01', '2023-01-01'
    FROM customer WHERE c_custkey % 10 = 0
"""

_SCD_UPD_SQL = """
    SELECT c_custkey AS k,
           CASE WHEN c_custkey % 2 = 0
                THEN 'MOVED-' || CAST(c_custkey % 5 AS VARCHAR)
                ELSE c_mktsegment END AS seg,
           '2024-01-01' AS ts
    FROM customer WHERE c_custkey % 3 = 0
    UNION ALL
    SELECT c_custkey, 'TRANSIENT', '2023-06-01'
    FROM customer WHERE c_custkey % 50 = 0
"""


def _scd_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    c = t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    hist = c.select(
        k.alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("2023-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    ).unionByName(
        c.where(k % 10 == 0).select(
            k.alias("k"),
            F.lit("LEGACY").alias("seg"),
            F.lit("2022-01-01").alias("valid_from"),
            F.lit("2023-01-01").alias("valid_to"),
        )
    )
    upd = c.where(k % 3 == 0).select(
        k.alias("k"),
        F.when(k % 2 == 0, F.concat(F.lit("MOVED-"), (k % 5).cast("string")))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
        F.lit("2024-01-01").alias("ts"),
    ).unionByName(
        c.where(k % 50 == 0).select(
            k.alias("k"),
            F.lit("TRANSIENT").alias("seg"),
            F.lit("2023-06-01").alias("ts"),
        )
    )
    return hist, upd


_SCD2_ORACLE = f"""
    WITH hist AS ({_SCD_HIST_SQL}),
    upd0 AS ({_SCD_UPD_SQL}),
    upd AS (
        SELECT k, seg, ts FROM (
            SELECT k, seg, ts,
                   ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC, seg DESC) AS rn
            FROM upd0
        ) WHERE rn = 1
    ),
    o AS (SELECT * FROM hist WHERE valid_to IS NULL),
    closed AS (SELECT * FROM hist WHERE valid_to IS NOT NULL),
    j AS (
        SELECT COALESCE(o.k, n.k) AS k, o.seg AS oseg, o.valid_from AS ovf,
               n.seg AS nseg, n.ts AS nts
        FROM o FULL OUTER JOIN upd n ON o.k = n.k
    )
    SELECT k, seg, valid_from, valid_to FROM closed
    UNION ALL
    SELECT k, oseg, ovf,
           CASE WHEN nts IS NOT NULL AND oseg IS DISTINCT FROM nseg THEN nts END
    FROM j WHERE ovf IS NOT NULL
    UNION ALL
    SELECT k, nseg, nts, NULL
    FROM j WHERE nts IS NOT NULL AND (ovf IS NULL OR oseg IS DISTINCT FROM nseg)
"""


@query("q_scd2_merge", headline=True, oracle=_SCD2_ORACLE)
def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (type-2 slowly-changing dimension) merge: evolve a history
    table from a change batch — closed rows pass through, changed keys
    close-and-reopen, unchanged keys stay open, new keys insert; the
    batch collapses latest-per-key first (``operators/scd.scd2_merge``).
    Plan: the open slice full-outer-joins the batch on the key — ONE
    shuffle, broadcastable when the batch is small."""
    hist, upd = _scd_inputs(spark, sf_dir)
    return scd.scd2_merge(hist, upd, ["k"], ["seg"], ts_col="ts")


_SCD1_ORACLE = f"""
    WITH snap AS (
        SELECT c_custkey AS k, c_mktsegment AS seg, '2023-01-01' AS ts
        FROM customer
    ),
    upd0 AS ({_SCD_UPD_SQL}),
    upd AS (
        SELECT k, seg, ts FROM (
            SELECT k, seg, ts,
                   ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC, seg DESC) AS rn
            FROM upd0
        ) WHERE rn = 1
    )
    SELECT s.k, s.seg, s.ts FROM snap s ANTI JOIN upd u ON s.k = u.k
    UNION ALL
    SELECT k, seg, ts FROM upd
"""


@query("q_scd1_upsert", oracle=_SCD1_ORACLE)
def q_scd1_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD1 (latest-wins) upsert: MERGE a change batch into a snapshot
    — matched keys update to the batch's newest row, new keys insert,
    untouched keys pass through (``operators/scd.upsert_snapshot``).
    The batch collapse is a max_by aggregate (no full-dimension sort),
    and the pass-through is a single anti join on the key."""
    c = t(spark, sf_dir, "customer")
    snap = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("2023-01-01").alias("ts"),
    )
    _, upd = _scd_inputs(spark, sf_dir)
    return scd.upsert_snapshot(snap, upd, ["k"], "ts")


# ---------------------------------------------------------------------------
# Fuzzy entity resolution
# ---------------------------------------------------------------------------

# The oracle's verification is the brute-force quadratic ground truth,
# so BOTH engines cap the id range (mirrored literal): at the capped
# 2000 keys DuckDB computes <=4M bounded levenshteins in-memory, while
# the Spark side still runs the production deletion-neighborhood path.
_FUZZY_CAP = 2000

_FUZZY_ORACLE = f"""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a, customer b
    WHERE a.c_custkey < {_FUZZY_CAP} AND b.c_custkey < {_FUZZY_CAP}
      AND a.c_custkey < b.c_custkey
      AND levenshtein(a.c_name, b.c_name) <= 1
"""


@query("q_fuzzy_pairs", oracle=_FUZZY_ORACLE, headline=True)
def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance<=1 entity-resolution pairs over customer names via
    recall-exact deletion-neighborhood blocking + bounded levenshtein
    verification (``operators/fuzzy.fuzzy_self_pairs`` — SymSpell
    blocking, never a cross product; the oracle IS the cross product,
    which is exactly why the capped brute force only lives there)."""
    c = t(spark, sf_dir, "customer").where(F.col("c_custkey") < _FUZZY_CAP)
    pairs = fuzzy.fuzzy_self_pairs(c, "c_custkey", "c_name", max_dist=1)
    return pairs.select(
        F.col("id_a"), F.col("id_b"), F.col("dist").cast("long").alias("dist")
    )


# ---------------------------------------------------------------------------
# Robust anomaly detection
# ---------------------------------------------------------------------------

# Integerize value via FLOOR (not ROUND: floor of a double is exact and
# identical across engines with no half-way semantics to align), then
# median/MAD interpolation stays on power-of-two denominators => every
# intermediate double is EXACT and the z>k membership comparison cannot
# flip on an engine ulp.  The emitted score is floor-integerized too.
_MAD_ORACLE = """
    WITH v AS (
        SELECT event_id, event_type,
               CAST(FLOOR(value * 100) AS BIGINT) AS v100
        FROM events WHERE value IS NOT NULL
    ),
    med AS (
        SELECT event_type, quantile_cont(v100, 0.5) AS med FROM v GROUP BY 1
    ),
    dev AS (
        SELECT v.event_id, v.event_type, v.v100, m.med,
               ABS(v.v100 - m.med) AS absdev
        FROM v JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(absdev, 0.5) AS mad FROM dev GROUP BY 1
    ),
    scored AS (
        SELECT d.event_id, d.event_type, d.v100,
               0.6745 * (d.v100 - d.med) / s.mad AS mz
        FROM dev d JOIN mad s USING (event_type)
        WHERE s.mad > 0
    )
    SELECT event_id, event_type, v100,
           CAST(FLOOR(mz * 10000) AS BIGINT) AS mz_e4
    FROM scored WHERE ABS(mz) > 3.5
"""


@query("q_mad_outliers", headline=True, oracle=_MAD_ORACLE)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outliers: modified z-score on exact
    median/MAD (``operators/anomaly.mad_outliers``, Iglewicz-Hoaglin) —
    the log-analytics anomaly flag.  Both percentile rounds run as
    window aggregates over ONE group-key partitioning (exact percentile
    has no map-side partial, so the old agg+join-back shape shuffled
    the fact twice — r15 opt), no UDF."""
    e = t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    v = e.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("v100"),
    )
    out = anomaly.mad_outliers(v, "v100", by=["event_type"], k=3.5)
    return out.where(F.col("mad") > 0).select(
        "event_id",
        "event_type",
        "v100",
        F.floor(F.col("mz") * 10000).cast("long").alias("mz_e4"),
    )


# Composed chain: fuzzy pairs -> connected components -> cluster id.
# The sparse %7 subset keeps real cluster structure (the full id range
# under dist<=1 collapses into one giant digit-chain component); the
# oracle re-derives the clusters by recursive-CTE transitive closure
# over the brute-force pair graph — tractable only because both the
# cap and the sparsity are mirrored literals.
_FUZZY_ER_ORACLE = f"""
    WITH RECURSIVE nodes AS (
        SELECT c_custkey AS id, c_name AS name FROM customer
        WHERE c_custkey < {_FUZZY_CAP} AND c_custkey % 7 = 0
    ),
    pairs AS (
        SELECT a.id AS ida, b.id AS idb
        FROM nodes a, nodes b
        WHERE a.id < b.id AND levenshtein(a.name, b.name) <= 1
    ),
    edges AS (
        SELECT ida AS src, idb AS dst FROM pairs
        UNION
        SELECT idb, ida FROM pairs
    ),
    reach(a, b) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    )
    SELECT a AS id, MIN(b) AS cluster_id FROM reach GROUP BY a
"""


@query("q_fuzzy_entity_resolution", oracle=_FUZZY_ER_ORACLE)
def q_fuzzy_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full entity-resolution chain under ONE oracle: deletion-
    neighborhood fuzzy pairs (``operators/fuzzy``) feed min-label
    connected components (``operators/dedup``); every node reports its
    cluster (min reachable id, itself when unmatched).  The oracle is
    a recursive-CTE transitive closure over the capped brute-force
    graph — the chain-grading pattern (q_mix_bpe_budget): one hash
    gate over two composed operators."""
    from aws_logs_to_parquet_converter_spark.operators import dedup

    k = F.col("c_custkey")
    nodes = (
        t(spark, sf_dir, "customer")
        .where((k < _FUZZY_CAP) & (k % 7 == 0))
        .select(k.alias("id"), F.col("c_name").alias("name"))
    )
    pairs = fuzzy.fuzzy_self_pairs(nodes, "id", "name", max_dist=1)
    cc = dedup.connected_components(pairs)
    return nodes.join(cc, nodes.id == cc.node, "left").select(
        nodes.id.alias("id"),
        F.coalesce(cc.component, nodes.id).alias("cluster_id"),
    )


def _scd2_merge_sql(hist_cte: str, upd_cte: str, sfx: str) -> str:
    """One SCD2 merge as a DuckDB SQL fragment (CTE names suffixed so
    the two-merge chain can instantiate it twice in one WITH list).
    Mirrors operators/scd.scd2_merge exactly: latest-per-key collapse,
    closed passthrough, null-safe change detection, close-and-reopen."""
    return f"""
    upd{sfx} AS (
        SELECT k, seg, ts FROM (
            SELECT k, seg, ts,
                   ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC, seg DESC) AS rn
            FROM {upd_cte}
        ) WHERE rn = 1
    ),
    o{sfx} AS (SELECT * FROM {hist_cte} WHERE valid_to IS NULL),
    c{sfx} AS (SELECT * FROM {hist_cte} WHERE valid_to IS NOT NULL),
    j{sfx} AS (
        SELECT COALESCE(o.k, n.k) AS k, o.seg AS oseg, o.valid_from AS ovf,
               n.seg AS nseg, n.ts AS nts
        FROM o{sfx} o FULL OUTER JOIN upd{sfx} n ON o.k = n.k
    ),
    m{sfx} AS (
        SELECT k, seg, valid_from, valid_to FROM c{sfx}
        UNION ALL
        SELECT k, oseg, ovf,
               CASE WHEN nts IS NOT NULL AND oseg IS DISTINCT FROM nseg THEN nts END
        FROM j{sfx} WHERE ovf IS NOT NULL
        UNION ALL
        SELECT k, nseg, nts, NULL
        FROM j{sfx} WHERE nts IS NOT NULL AND (ovf IS NULL OR oseg IS DISTINCT FROM nseg)
    )"""


# second change batch (2025): every %4 key re-segments again — keys
# already MOVED in 2024 gain a THIRD version, so the chain proves
# merge-of-merged (close a row that the first merge itself opened)
_SCD_UPD2_SQL = """
    SELECT c_custkey AS k,
           'RESEG-' || CAST(c_custkey % 3 AS VARCHAR) AS seg,
           '2025-01-01' AS ts
    FROM customer WHERE c_custkey % 4 = 0
"""

_SCD2_CHAIN_ORACLE = (
    f"WITH hist AS ({_SCD_HIST_SQL}),\n"
    f"upd0_1 AS ({_SCD_UPD_SQL}),\n"
    + _scd2_merge_sql("hist", "upd0_1", "1")
    + f",\nupd0_2 AS ({_SCD_UPD2_SQL}),\n"
    + _scd2_merge_sql("m1", "upd0_2", "2")
    + "\nSELECT k, seg, valid_from, valid_to FROM m2"
)


@query("q_scd2_chain", oracle=_SCD2_CHAIN_ORACLE)
def q_scd2_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO sequential SCD2 merges under ONE hash gate — the multi-batch
    CDC story (streaming/dimension.py applies exactly this, one merge
    per micro-batch): batch 2 re-segments keys batch 1 itself opened,
    so close-of-reopened rows, three-version histories, and closed-row
    passthrough through a second merge all grade together."""
    hist, upd1 = _scd_inputs(spark, sf_dir)
    c = t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    upd2 = c.where(k % 4 == 0).select(
        k.alias("k"),
        F.concat(F.lit("RESEG-"), (k % 3).cast("string")).alias("seg"),
        F.lit("2025-01-01").alias("ts"),
    )
    m1 = scd.scd2_merge(hist, upd1, ["k"], ["seg"], ts_col="ts")
    return scd.scd2_merge(m1, upd2, ["k"], ["seg"], ts_col="ts")


_CDC_ORACLE = (
    f"WITH upd0_1 AS ({_SCD_UPD_SQL}),\n"
    "upd1c AS (\n"
    "    SELECT k, seg, ts FROM (\n"
    "        SELECT k, seg, ts,\n"
    "               ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC, seg DESC) AS rn\n"
    "        FROM upd0_1\n"
    "    ) WHERE rn = 1\n"
    "),\n"
    # merge into an EMPTY dimension = every collapsed update inserts open
    "m0 AS (\n"
    "    SELECT k, seg, ts AS valid_from, CAST(NULL AS VARCHAR) AS valid_to\n"
    "    FROM upd1c\n"
    "),\n"
    f"upd0_2 AS ({_SCD_UPD2_SQL}),\n"
    + _scd2_merge_sql("m0", "upd0_2", "2")
    + "\nSELECT k, seg, valid_from, valid_to FROM m2"
)


@query("q_stream_cdc_dimension", oracle=_CDC_ORACLE, headline=True)
def q_stream_cdc_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming CDC-apply pipeline END-TO-END under the oracle
    gate (the FIFTH streaming-family graded row): two change batches
    are written as separate files with ordered mtimes, replayed through
    ``streaming/dimension.stream_dimension_scd2`` with
    maxFilesPerTrigger=1 (one SCD2 merge per micro-batch, bootstrapping
    an empty dimension, versioned-commit per batch), and the LIVE
    dimension read back via the params pointer.  The oracle re-derives
    both merges as SQL CTEs and never sees the files — the grade proves
    the foreachBatch loop, the bootstrap, the commit protocol, and the
    batch ordering all compose to the batch-sequential merge semantics.
    Fixture files live in a private ``scratch_dir`` per build."""
    import os

    from aws_logs_to_parquet_converter_spark.operators import versioned
    from aws_logs_to_parquet_converter_spark.streaming.dimension import (
        stream_dimension_scd2,
    )

    _, upd1 = _scd_inputs(spark, sf_dir)
    c = t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    upd2 = c.where(k % 4 == 0).select(
        k.alias("k"),
        F.concat(F.lit("RESEG-"), (k % 3).cast("string")).alias("seg"),
        F.lit("2025-01-01").alias("ts"),
    )

    root = scratch_dir("q_stream_cdc")
    changes = stage_micro_batches(root, (upd1, upd2))

    src = (
        spark.readStream.schema("k long, seg string, ts string")
        .option("maxFilesPerTrigger", 1)
        .parquet(changes)
    )
    q = stream_dimension_scd2(
        src,
        os.path.join(root, "dim"),
        ["k"],
        ["seg"],
        "ts",
        os.path.join(root, "ckpt"),
    )
    q.awaitTermination()
    q.stop()
    return versioned.read(spark, os.path.join(root, "dim")).select(
        "k", "seg", "valid_from", "valid_to"
    )


# ---------------------------------------------------------------------------
# Incremental rollup maintenance
# ---------------------------------------------------------------------------

# Both engines split the events table at a mirrored literal date: the
# standing rollup aggregates the "history" half, the increment
# aggregates the "new day" half, and the additive merge of the two
# must equal the full-table GROUP BY — the materialized-view
# maintenance identity, graded as one hash.
_ROLLUP_CUTOFF = "2024-06-01"

_ROLLUP_ORACLE = f"""
    SELECT STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS v100
    FROM events GROUP BY 1, 2
"""


@query("q_incremental_rollup", oracle=_ROLLUP_ORACLE)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-rollup maintenance
    (``operators/scd.merge_additive_rollup``): the standing daily
    rollup (events before the cutoff) merges the increment's rollup
    (events from the cutoff on) by ADDING matched keys — and the result
    must equal the full-table GROUP BY exactly.  At 100 TB the delta
    aggregates alone; history is never re-read."""
    e = t(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("v100"),
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count("*").alias("n_events"), F.sum("v100").alias("v100")
        )

    current = rollup(e.where(F.col("day") < _ROLLUP_CUTOFF))
    delta = rollup(e.where(F.col("day") >= _ROLLUP_CUTOFF))
    return scd.merge_additive_rollup(
        current, delta, ["day", "event_type"], ["n_events", "v100"]
    )
