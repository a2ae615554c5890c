"""Streaming corpus ingest: JSONL documents -> scrub -> dedup-keyed ->
parquet, continuously.

The streaming composition of the round-2 training-data operators: the
same dead-letter JSONL parse as sources/jsonl.py (text stream +
from_json + try_parse_json probe — a streaming file source can't use
read.json's corrupt-record column either), PII scrubbing as pure
column expressions (stateless, so it adds nothing to streaming state),
and content-digest exact dedup bounded by a watermark.  Late/repeated
deliveries of the same document (multi-part uploads, retried
crawls) are dropped within the watermark horizon; state is evicted
past it — the unbounded-corpus version of q_dedup_exact.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from aws_logs_to_parquet_converter_spark.operators.cache import owned, persist
from aws_logs_to_parquet_converter_spark.operators.scrub import pii_counts, scrub_pii
from aws_logs_to_parquet_converter_spark.operators.textstats import token_rows
from aws_logs_to_parquet_converter_spark.sources.jsonl import DOCUMENT_SCHEMA


def stream_documents(
    spark: SparkSession,
    source_glob: str,
    schema: T.StructType = DOCUMENT_SCHEMA,
    max_files_per_trigger: int = 1000,
) -> DataFrame:
    """Streaming JSONL document reader with the batch reader's
    dead-letter contract (``_corrupt`` column, no row dropped)."""
    raw = (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .text(source_glob)
    )
    parsed = raw.select(
        "value",
        F.from_json("value", schema).alias("_s"),
        # SAME probe as the batch reader (sources/jsonl.py): valid-but-
        # non-object JSON lines (42, "x", [1,2], null) must dead-letter,
        # not pass as all-NULL rows — try_parse_json accepts them
        # (round-7 review finding; json_object_keys is NULL for both
        # malformed AND non-object input, a plain row expression that
        # works unchanged under streaming)
        F.json_object_keys("value").isNull().alias("_bad"),
    )
    return parsed.select(
        "_s.*",
        F.when(F.col("_bad"), F.col("value")).alias("_corrupt"),
    )


def scrub_stream(
    docs: DataFrame, text_col: str = "text", replacement: str = "[PII]"
) -> DataFrame:
    """PII-scrub a document stream: stateless column expressions, so
    the operator adds zero streaming state; clean rows only (dead
    letters should be routed before scrubbing).  Delegates to the
    batch ``scrub_corpus`` projection — ONE definition, and the
    ``replacement`` knob the batch form exposes works here too."""
    from aws_logs_to_parquet_converter_spark.operators.scrub import scrub_corpus

    return scrub_corpus(
        docs.where(F.col("_corrupt").isNull()).drop("_corrupt"),
        text_col,
        replacement,
    )


def _content_digest(text_col: str, id_col: str = "doc_id") -> Column:
    """The stream's dedup state key.  ONE definition shared by the
    plain path and the rules path's valid branch — if these diverged,
    the same document would map to different state keys depending on
    whether rules were passed, and a checkpointed stream would stop
    recognizing its own prior digests.

    MIGRATION NOTE: the key changed from bigint to the sentineled
    string form in round 7 — a checkpoint created before that treats
    every in-flight document as new ONCE on upgrade (duplicates into
    the corpus are then re-deduped by the next batch-side
    dedup_against_corpus pass); start a fresh checkpoint when exact
    continuity matters.

    NULL text gets a per-id sentinel, never a shared key: Spark's hash
    functions return the SEED (a constant) for NULL input, so an
    unsentineled xxhash64 would silently collapse every NULL-text
    document into one state entry and drop the rest (round-7 review
    finding — the batch _keep_first documents the same rule)."""
    return F.when(
        F.col(text_col).isNull(),
        F.concat(F.lit("<null>"), F.col(id_col).cast("string")),
    ).otherwise(F.xxhash64(F.col(text_col)).cast("string"))


def dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    event_time_col: str | None = None,
    watermark: str = "1 hour",
    digest: "Column | None" = None,
) -> DataFrame:
    """Streaming exact-content dedup keyed on the xxhash64 digest (the
    streaming twin of q_dedup_exact: fixed-width state key, not
    document bodies).  With an event-time column the state is bounded
    by ``dropDuplicatesWithinWatermark``; without one (the documents
    table has no timestamp) ``dropDuplicates`` keeps unbounded state —
    fine for bounded backfills via availableNow, documented trade.

    ``digest`` overrides the state key expression — used by the ingest
    to keep quarantined rows' digests in a disjoint (salted) key space
    so a rejected row can never consume a valid row's digest."""
    keyed = docs.withColumn(
        "_digest", digest if digest is not None else _content_digest(text_col)
    )
    if event_time_col is None:
        return keyed.dropDuplicates(["_digest"]).drop("_digest")
    return (
        keyed.withWatermark(event_time_col, watermark)
        .dropDuplicatesWithinWatermark(["_digest"])
        .drop("_digest")
    )


def stream_corpus_ingest(
    spark: SparkSession,
    source_glob: str,
    dest: str,
    checkpoint: str,
    trigger: dict | None = None,
    max_files_per_trigger: int = 1000,
    batch_hook: "Callable[[DataFrame, int], None] | None" = None,
    exactly_once: bool = False,
    post_write_hook: "Callable[[DataFrame, int], None] | None" = None,
    rules: "dict[str, Column] | None" = None,
    rejected_dest: "str | None" = None,
    corpus_digests: "DataFrame | None" = None,
    corpus_bloom=None,
    id_col: str = "doc_id",
    minhash_index: "str | None" = None,
    minhash_threshold: float = 0.5,
    minhash_update: bool = False,
    schema: "T.StructType | None" = None,
    pq_index: "str | None" = None,
    pq_threshold: float = 0.9,
    pq_update: bool = False,
    embedding_col: str = "embedding",
) -> StreamingQuery:
    """End-to-end continuous corpus ingest: JSONL stream -> scrub
    (drops dead letters) -> digest-dedup -> parquet sink,
    checkpointed.  The stateful dedup runs UPSTREAM of foreachBatch so
    its state spans micro-batches; quarantining dead letters is a
    separate ``stream_quarantine`` query with its own checkpoint, so
    each sink recovers independently.

    ``batch_hook`` runs before each micro-batch write (metrics/audit
    seam); a hook that raises aborts the batch BEFORE any sink output,
    so the checkpoint stays consistent.  With ``rules`` set, the hook
    receives the TAGGED frame — it includes the ``_violations`` array
    column (empty = clean), so audit hooks can see rejection reasons
    before the split.  ``post_write_hook`` runs after
    the sink write but before the checkpoint commit — the window where
    a crash forces Structured Streaming to REPLAY the batch.

    ``exactly_once=False`` (default) appends — at-least-once: a crash
    in that window duplicates the batch on replay.  ``exactly_once=
    True`` writes each batch under its own ``_batch_id=N`` partition
    with dynamic partition overwrite, so a replay OVERWRITES its own
    partition instead of appending a second copy — the canonical
    idempotent-foreachBatch upgrade; readers see one extra partition
    column to drop (or read via ``read_ingested`` below).  Both modes
    are exercised by the crash tests in test_streaming_corpus.

    ``rules`` (operators/validate.py rule set) extends the dead-letter
    discipline from parse errors to semantic errors: rows failing any
    rule divert to ``rejected_dest`` (default ``dest + "_rejected"``)
    carrying their failed-rule names — the same rule expressions a
    batch job passes to ``validation_report``, evaluated in-stream at
    zero extra state.  Violations are tagged UPSTREAM of the stateful
    dedup, and rejected rows' digests live in a disjoint salted key
    space — so a rejected row can never consume a valid duplicate's
    digest and silently block it from the corpus (rejects still dedup
    among themselves).  With ``exactly_once`` the rejected sink uses
    the same batch-id-partitioned idempotent layout as the main sink,
    so crash-replay never double-counts dead letters.

    ``corpus_digests`` closes the fresh-checkpoint gap: the stream's
    own dedup state starts EMPTY, so a new stream over an EXISTING
    corpus would re-admit content the corpus already has.  Passing the
    persisted digest set (operators/dedup.content_digests) runs each
    micro-batch through ``dedup_against_corpus`` before the sink —
    same operator, same NULL-text sentinel semantics as the batch
    path, optional ``corpus_bloom`` pre-filter and all — so only
    genuinely new content lands.  In-stream state still handles
    within-run duplicates; the digest set handles history.  Both the
    digest set and the bloom bitmap are persisted here ONCE — their
    lineages are corpus-sized aggregations, and foreachBatch would
    otherwise re-execute them on every trigger; they stay cached for
    the stream's lifetime (unpersist after stopping the query if the
    executors need the memory back).

    ``minhash_index`` extends the history gate from exact content to
    NEAR-duplicates: each micro-batch probes the persisted MinHash-LSH
    index (operators/dedup.save_minhash_index) and rows whose
    estimated Jaccard vs any indexed document reaches
    ``minhash_threshold`` are dropped before the sink — O(batch) per
    trigger, the corpus is never re-shingled.  ``minhash_update=True``
    closes the loop: each batch's ADMITTED rows append to the index
    (through ``append_to_minhash_index``, so the index's own stored
    parameters apply), making later batches dedup against earlier ones
    across restarts.  The append runs after the sink write and before
    the checkpoint commit.  Crash-replay semantics (asserted in
    test_streaming_corpus): a crash AFTER the append replays the batch
    into its own first-attempt signatures — every row est-1.0-matches
    itself and drops — so the replay writes nothing and appends
    nothing: the update gate SELF-CONVERGES where plain append mode
    duplicates.  A crash after the sink write but BEFORE the append
    keeps the default at-least-once posture for that batch.  Should
    duplicate index rows ever arise (e.g. concurrent writers), the
    probe tolerates them by construction (pair-level
    dropDuplicates).

    ``pq_index`` is the EMBEDDING-space sibling of ``minhash_index``
    (the CLI's ``--ann-index`` gate, in-stream): each micro-batch's
    rows with a non-NULL ``embedding_col`` probe the persisted PQ
    index (operators/similarity.save_pq_index) with
    ``exclude_self=False`` — a re-delivered id must match its own
    indexed copy — and rows whose nearest ADC-cosine neighbor reaches
    ``pq_threshold`` drop before the sink; NULL-embedding rows pass
    (no geometry to gate on).  ``pq_update=True`` appends admitted
    rows' embeddings (encoded with the STORED codebook) after the sink
    write.  Crash-replay: a replayed batch probes its own
    first-attempt codes and drops when sim(v, code(v)) >=
    pq_threshold — which holds for in-distribution vectors at sane
    m/ks but is NOT an identity like the MinHash est-1.0 self-match
    (quantization error subtracts from the self-sim); if a vector
    quantizes badly the replay re-appends duplicate codes, which the
    probe tolerates (neighbor-level dropDuplicates) and
    validate_pq_index reports as debris.  Ship ``schema`` including
    the embedding column (array<double>) — the default document
    schema carries none."""
    docs = stream_documents(
        spark, source_glob,
        schema=schema if schema is not None else DOCUMENT_SCHEMA,
        max_files_per_trigger=max_files_per_trigger,
    )
    scrubbed = scrub_stream(docs)
    reject_path = rejected_dest or (dest + "_rejected")
    if rules:
        from aws_logs_to_parquet_converter_spark.operators.validate import (
            violations_array,
        )

        tagged = scrubbed.withColumn("_violations", violations_array(rules))
        salted = F.when(
            F.size("_violations") > 0,
            # rejected rows: disjoint (salted) key space, same NULL
            # sentinel (xxhash64(NULL, salt) is ALSO a constant — all
            # NULL-text rejects would collapse to one audit row)
            F.when(
                F.col("text").isNull(),
                F.concat(F.lit("<null-rej>"), F.col(id_col).cast("string")),
            ).otherwise(F.concat(F.lit("rej:"), F.xxhash64(F.col("text"), F.lit(1)).cast("string"))),
        ).otherwise(_content_digest("text", id_col))
        clean = dedup_stream(tagged, digest=salted)
    else:
        clean = dedup_stream(scrubbed, digest=_content_digest("text", id_col))

    if corpus_digests is not None:
        corpus_digests = persist(corpus_digests, None)
        if corpus_bloom is not None:
            persist(corpus_bloom.bitmap, None)

    def against_corpus(batch_df: DataFrame) -> DataFrame:
        if corpus_digests is not None:
            from aws_logs_to_parquet_converter_spark.operators.dedup import (
                dedup_against_corpus,
            )

            batch_df = dedup_against_corpus(
                batch_df, corpus_digests, id_col, "text", bloom=corpus_bloom
            )
        if minhash_index is not None:
            from aws_logs_to_parquet_converter_spark.operators.dedup import (
                minhash_dedup_against_corpus,
            )

            batch_df = minhash_dedup_against_corpus(
                batch_df, id_col, "text", minhash_index, minhash_threshold
            )
        if pq_index is not None:
            from aws_logs_to_parquet_converter_spark.operators.similarity import (
                pq_semantic_gate,
            )

            # chunked probe — bounded driver state per micro-batch
            # regardless of trigger size (r10 review; see the helper)
            batch_df = pq_semantic_gate(
                spark, pq_index, batch_df,
                id_col=id_col, vec_col=embedding_col,
                threshold=pq_threshold,
            )
        return batch_df

    def write_sink(batch_df: DataFrame, path: str, batch_id: int) -> None:
        # caller persists frames whose lineage is expensive; the
        # isEmpty probe on an already-persisted frame costs one
        # cached-partition peek, not a plan re-execution
        if batch_df.isEmpty():
            return
        if exactly_once:
            (
                batch_df.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                # writer-scoped option, NOT spark.conf: a session-level
                # set would leak dynamic-overwrite semantics into every
                # later write in the session (round-7 review finding)
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(path)
            )
        else:
            batch_df.write.mode("append").parquet(path)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_hook is not None:
            batch_hook(batch_df, batch_id)
        with owned() as held:
            if rules:
                # one evaluation of the tagged frame feeds both sinks
                tagged_batch = persist(batch_df, held)
                rejected = tagged_batch.where(F.size("_violations") > 0).withColumn(
                    "_violations", F.array_join("_violations", ",")
                )
                write_sink(rejected, reject_path, batch_id)
                batch_df = tagged_batch.where(F.size("_violations") == 0).drop(
                    "_violations"
                )
            batch_df = persist(against_corpus(batch_df), held)
            write_sink(batch_df, dest, batch_id)
            if minhash_index is not None and minhash_update and not batch_df.isEmpty():
                # admitted rows enter the index so LATER batches (and
                # restarted streams) near-dedup against them; reads the
                # persisted batch_df cache, stored index params apply
                from aws_logs_to_parquet_converter_spark.operators.dedup import (
                    append_to_minhash_index,
                )

                append_to_minhash_index(batch_df, id_col, "text", minhash_index)
            if pq_index is not None and pq_update and not batch_df.isEmpty():
                from aws_logs_to_parquet_converter_spark.operators.similarity import (
                    save_pq_index,
                )

                admitted = batch_df.select(id_col, embedding_col).where(
                    F.col(embedding_col).isNotNull()
                )
                if not admitted.isEmpty():
                    save_pq_index(
                        admitted, pq_index, id_col=id_col,
                        vec_col=embedding_col, mode="append",
                    )
            if post_write_hook is not None:
                # hook runs BEFORE the final unpersist so inspecting
                # batch_df re-reads cache, not the whole corpus plan
                post_write_hook(batch_df, batch_id)

    writer = clean.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()


def read_ingested(spark: SparkSession, dest: str) -> DataFrame:
    """Read an exactly-once ingest destination without the internal
    ``_batch_id`` bookkeeping column."""
    df = spark.read.parquet(dest)
    return df.drop("_batch_id") if "_batch_id" in df.columns else df


def stream_quarantine(
    spark: SparkSession,
    source_glob: str,
    dest: str,
    checkpoint: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Companion stream routing unparseable JSONL lines to a text
    quarantine for repair (the dead-letter half of the ingest)."""
    docs = stream_documents(spark, source_glob)
    dead = docs.where(F.col("_corrupt").isNotNull()).select(
        F.col("_corrupt").alias("value")
    )
    writer = dead.writeStream.format("text").option("path", dest).option(
        "checkpointLocation", checkpoint
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()


def stream_trending_terms(
    docs: DataFrame,
    ts_col: str = "ingest_ts",
    text_col: str = "text",
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    min_token_len: int = 3,
) -> DataFrame:
    """Watermarked per-window token counts over a document stream — the
    continuous sibling of q_vocab_topk, the 'what is the crawl seeing
    right now' monitor of a live ingest.

    Shape: explode tokens (stateless fan-out) -> watermarked tumbling
    window count (state bounded: windows close and evict past the
    watermark).  The aggregate emits ALL (window, token) counts; rank
    per window in the sink's foreachBatch (window ranking
    inside a streaming agg would need a second stateful stage —
    ``rank_trending`` below does it per closed batch instead, a plain
    window function over a tiny per-trigger result).
    """
    toks = token_rows(
        docs.withWatermark(ts_col, watermark), text_col, ts_col, name="token"
    ).where(F.length("token") >= min_token_len)
    return toks.groupBy(F.window(ts_col, window_duration), "token").agg(
        F.count("*").alias("n")
    )


def rank_trending(counts: DataFrame, top_k: int = 10) -> DataFrame:
    """Top-k tokens per window — apply inside foreachBatch (micro-batch
    results are tiny) or over the complete output table."""
    from pyspark.sql import Window

    w = Window.partitionBy("window").orderBy(F.desc("n"), "token")
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_k)
        .select("window", "token", "n", "rnk")
    )
