"""Streaming corpus ingest (streaming/corpus.py): JSONL stream ->
scrub -> digest dedup -> parquet, plus the quarantine companion.
Batch-parity + incremental-pickup discipline of test_streaming."""

import json

from aws_logs_to_parquet_converter_spark.streaming import corpus


def _jsonl(path, rows):
    path.write_text("\n".join(json.dumps(r) if isinstance(r, dict) else r for r in rows))


def _doc(i, text):
    return {"doc_id": i, "text": text, "lang": "en", "source": "web", "n_chars": len(text)}


def test_ingest_scrubs_dedups_and_appends(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _jsonl(
        src / "a.jsonl",
        [
            _doc(1, "write to admin@example.com please"),
            _doc(2, "unique text two"),
            _doc(3, "unique text two"),  # exact dup of doc 2 by content
            "corrupt {line",
        ],
    )
    q = corpus.stream_corpus_ingest(
        spark,
        str(src) + "/*.jsonl",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    rows = {r.doc_id: r for r in out.collect()}
    # dup dropped (one of 2/3 survives), corrupt line dropped from clean path
    assert len(rows) == 2
    assert "[PII]" in rows[1].text and "@" not in rows[1].text
    assert rows[1].n_email == 1
    kept_dup = rows.get(2) or rows.get(3)
    assert kept_dup.text == "unique text two"

    # incremental pickup: a second file with one new + one already-seen
    # content; checkpointed restart must process only the new file and
    # still know nothing about cross-run state (dropDuplicates state
    # lives in the checkpoint, so the repeat IS dropped)
    _jsonl(src / "b.jsonl", [_doc(4, "unique text two"), _doc(5, "brand new content")])
    q2 = corpus.stream_corpus_ingest(
        spark,
        str(src) + "/*.jsonl",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    out2 = spark.read.parquet(str(tmp_path / "out"))
    ids = sorted(r.doc_id for r in out2.collect())
    assert 5 in ids and 4 not in ids  # cross-batch dedup via checkpoint state
    assert len(ids) == 3


def test_quarantine_captures_corrupt_lines(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _jsonl(src / "a.jsonl", [_doc(1, "fine"), "not json at all", '{"doc_id": broken'])
    q = corpus.stream_quarantine(
        spark,
        str(src) + "/*.jsonl",
        str(tmp_path / "dead"),
        str(tmp_path / "ckpt_dead"),
    )
    q.awaitTermination(120)
    dead = {r.value for r in spark.read.text(str(tmp_path / "dead")).collect()}
    assert dead == {"not json at all", '{"doc_id": broken'}


def test_stream_trending_terms_matches_batch(spark, tmp_path):
    """Windowed token counts over a stream == the same aggregation in
    batch, and rank_trending yields the per-window top-k."""
    import datetime

    src = tmp_path / "tin"
    src.mkdir()
    base = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows = []
    for i in range(20):
        minute = i % 2  # two 1-minute windows
        ts = (base + datetime.timedelta(minutes=minute, seconds=i)).isoformat()
        text = "alpha beta beta" if minute == 0 else "gamma gamma gamma delta"
        rows.append({"doc_id": i, "text": text, "ingest_ts": ts})
    _jsonl(src / "a.jsonl", rows)

    schema = "doc_id long, text string, ingest_ts timestamp"
    stream = (
        spark.readStream.schema(schema).json(str(src))
    )
    counts = corpus.stream_trending_terms(stream, window_duration="1 minute", watermark="5 minutes")
    q = (
        counts.writeStream.format("memory")
        .queryName("trend_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM trend_counts")
    # batch equivalent computed directly
    batch = spark.read.schema(schema).json(str(src))
    from pyspark.sql import functions as F
    toks = batch.select(
        "ingest_ts", F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
    ).where(F.length("token") >= 3)
    want_rows = {
        (str(r.window.start), r.token): r.n
        for r in toks.groupBy(F.window("ingest_ts", "1 minute"), "token")
        .agg(F.count("*").alias("n")).collect()
    }
    got_rows = {(str(r.window.start), r.token): r.n for r in got.collect()}
    assert got_rows == want_rows and len(got_rows) > 0
    top = corpus.rank_trending(got, top_k=1).collect()
    by_window = {str(r.window.start): r.token for r in top}
    assert len(by_window) == 2
    assert set(by_window.values()) == {"beta", "gamma"}


def test_crash_between_microbatches_recovers_exactly_once(spark, tmp_path):
    """Kill the ingest between micro-batches and restart from the same
    checkpoint: every surviving document lands EXACTLY once (committed
    batches are not replayed, uncommitted work is redone) and the
    cross-batch dedup state survives the restart (a content dup split
    across the crash is still dropped)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = tmp_path / "in"
    src.mkdir()
    _jsonl(src / "a.jsonl", [_doc(1, "alpha content here")])
    _jsonl(src / "b.jsonl", [_doc(2, "beta content here")])
    _jsonl(src / "c.jsonl", [_doc(3, "alpha content here"),  # dup of doc 1
                             _doc(4, "gamma content here")])

    def crash_after_first(batch_df, batch_id):
        if batch_id >= 1:
            raise RuntimeError("injected crash between micro-batches")

    q = corpus.stream_corpus_ingest(
        spark, str(src) + "/*.jsonl", str(tmp_path / "out"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, batch_hook=crash_after_first,
    )
    try:
        q.awaitTermination(120)
        raise AssertionError("query should have died on the injected crash")
    except StreamingQueryException:
        pass
    # batch 0 committed before the crash; later batches never wrote
    first = spark.read.parquet(str(tmp_path / "out"))
    assert first.count() == 1

    q2 = corpus.stream_corpus_ingest(
        spark, str(src) + "/*.jsonl", str(tmp_path / "out"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q2.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out")).collect()
    by_text = {}
    for r in out:
        by_text.setdefault(r.text, []).append(r.doc_id)
    # no loss: all three distinct contents arrived
    assert set(by_text) == {"alpha content here", "beta content here", "gamma content here"}
    # no dupes: neither batch replay nor the cross-crash content dup
    assert all(len(ids) == 1 for ids in by_text.values()), by_text


def test_crash_after_write_before_commit_replay_semantics(spark, tmp_path):
    """A crash AFTER the sink write but BEFORE the checkpoint commit
    forces a batch replay.  Default append mode duplicates the batch
    (at-least-once, asserted honestly); exactly_once=True overwrites
    the replayed batch's own partition, so the restart converges to
    one copy of every row."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    for mode, expect_dup in (("append", True), ("exactly_once", False)):
        src = tmp_path / f"in_{mode}"
        src.mkdir()
        _jsonl(src / "a.jsonl", [_doc(1, f"{mode} alpha"), _doc(2, f"{mode} beta")])
        out, ckpt = str(tmp_path / f"out_{mode}"), str(tmp_path / f"ckpt_{mode}")
        kw = dict(max_files_per_trigger=1, exactly_once=(mode == "exactly_once"))

        def crash_post(batch_df, batch_id):
            raise RuntimeError("injected crash after sink write")

        q = corpus.stream_corpus_ingest(
            spark, str(src) + "/*.jsonl", out, ckpt, post_write_hook=crash_post, **kw
        )
        try:
            q.awaitTermination(120)
            raise AssertionError("query should have died post-write")
        except StreamingQueryException:
            pass

        q2 = corpus.stream_corpus_ingest(spark, str(src) + "/*.jsonl", out, ckpt, **kw)
        q2.awaitTermination(120)
        rows = corpus.read_ingested(spark, out).collect()
        ids = sorted(r.doc_id for r in rows)
        if expect_dup:
            assert ids == [1, 1, 2, 2], f"append mode should replay-duplicate: {ids}"
        else:
            assert ids == [1, 2], f"exactly-once mode must converge: {ids}"


def test_rule_based_quarantine_in_stream(spark, tmp_path):
    """The batch rule set applies unchanged in-stream: rows failing a
    validation rule divert to the rejected sink with their reasons;
    passing rows flow to the corpus."""
    from pyspark.sql import functions as F

    src = tmp_path / "in"
    src.mkdir()
    _jsonl(src / "a.jsonl", [
        _doc(1, "good document text"),
        _doc(2, ""),                       # fails text_present
        {"doc_id": 3, "text": "x" * 5, "lang": "zz", "source": "web", "n_chars": 5},
    ])
    rules = {
        "text_present": F.length("text") > 0,
        "lang_known": F.col("lang").isin("en", "fr", "de"),
    }
    q = corpus.stream_corpus_ingest(
        spark, str(src) + "/*.jsonl", str(tmp_path / "out"), str(tmp_path / "ckpt"),
        rules=rules,
    )
    q.awaitTermination(120)
    kept = sorted(r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect())
    assert kept == [1]
    rej = {r.doc_id: r._violations
           for r in spark.read.parquet(str(tmp_path / "out_rejected")).collect()}
    assert rej == {2: "text_present", 3: "lang_known"}


def test_read_ingested_passthrough_on_append_layout(spark, tmp_path):
    """read_ingested is a no-op on the default append layout (no
    _batch_id column to hide)."""
    src = tmp_path / "in"
    src.mkdir()
    _jsonl(src / "a.jsonl", [_doc(1, "plain append doc")])
    q = corpus.stream_corpus_ingest(
        spark, str(src) + "/*.jsonl", str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    df = corpus.read_ingested(spark, str(tmp_path / "out"))
    assert df.count() == 1 and "_batch_id" not in df.columns


def test_rejected_row_never_blocks_valid_duplicate(spark, tmp_path):
    """Violation tagging runs UPSTREAM of the stateful dedup with a
    salted digest space, so a rejected carrier of some content must not
    consume the digest of a later VALID row with the same text."""
    from pyspark.sql import functions as F

    src = tmp_path / "in"
    src.mkdir()
    shared = "identical body text"
    _jsonl(src / "a.jsonl", [
        {"doc_id": 1, "text": shared, "lang": "zz", "source": "web",
         "n_chars": len(shared)},                    # fails lang_known
    ])
    rules = {"lang_known": F.col("lang").isin("en", "fr", "de")}
    kw = dict(rules=rules)
    q = corpus.stream_corpus_ingest(
        spark, str(src) + "/*.jsonl", str(tmp_path / "out"), str(tmp_path / "ckpt"), **kw
    )
    q.awaitTermination(120)
    # valid carrier of the SAME content arrives later
    _jsonl(src / "b.jsonl", [_doc(2, shared)])
    q2 = corpus.stream_corpus_ingest(
        spark, str(src) + "/*.jsonl", str(tmp_path / "out"), str(tmp_path / "ckpt"), **kw
    )
    q2.awaitTermination(120)
    kept = sorted(r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect())
    assert kept == [2], f"valid duplicate was blocked by the rejected carrier: {kept}"
    rej = sorted(r.doc_id for r in spark.read.parquet(str(tmp_path / "out_rejected")).collect())
    assert rej == [1]


def test_exactly_once_rejected_sink_is_idempotent(spark, tmp_path):
    """exactly_once extends to the rejected sink: it uses the same
    batch-id-partitioned overwrite layout, so a replayed batch
    overwrites its own dead letters instead of appending a second
    copy."""
    from pyspark.sql import functions as F

    src = tmp_path / "in"
    src.mkdir()
    _jsonl(src / "a.jsonl", [
        _doc(1, "good text"),
        {"doc_id": 2, "text": "bad", "lang": "zz", "source": "web", "n_chars": 3},
    ])
    rules = {"lang_known": F.col("lang").isin("en", "fr", "de")}
    q = corpus.stream_corpus_ingest(
        spark, str(src) + "/*.jsonl", str(tmp_path / "out"), str(tmp_path / "ckpt"),
        rules=rules, exactly_once=True,
    )
    q.awaitTermination(120)
    rej = spark.read.parquet(str(tmp_path / "out_rejected"))
    assert "_batch_id" in rej.columns  # idempotent layout, not blind append
    assert [r.doc_id for r in rej.collect()] == [2]
    # replaying the same batch id must converge, not duplicate
    import shutil
    shutil.rmtree(str(tmp_path / "ckpt"))
    q2 = corpus.stream_corpus_ingest(
        spark, str(src) + "/*.jsonl", str(tmp_path / "out"), str(tmp_path / "ckpt"),
        rules=rules, exactly_once=True,
    )
    q2.awaitTermination(120)
    assert [r.doc_id for r in spark.read.parquet(str(tmp_path / "out_rejected")).collect()] == [2]


def test_fresh_stream_respects_existing_corpus(spark, tmp_path):
    """A NEW stream (empty checkpoint) over an EXISTING corpus must not
    re-admit content the corpus already holds: corpus_digests runs each
    micro-batch through dedup_against_corpus — with the Bloom
    pre-filter engaged — before the sink."""
    from aws_logs_to_parquet_converter_spark.operators.dedup import (
        content_digests,
        digest_bloom,
    )

    existing = spark.createDataFrame(
        [(1, "already ingested text"), (2, "another known doc")],
        "doc_id long, text string",
    )
    digests = content_digests(existing, "doc_id", "text")
    src = tmp_path / "in"
    src.mkdir()
    _jsonl(src / "a.jsonl", [
        _doc(10, "already ingested text"),   # known content, new id
        _doc(11, "genuinely new content"),
    ])
    q = corpus.stream_corpus_ingest(
        spark, str(src) + "/*.jsonl", str(tmp_path / "out"), str(tmp_path / "ckpt"),
        corpus_digests=digests, corpus_bloom=digest_bloom(digests, m_bits=1 << 12),
    )
    q.awaitTermination(120)
    kept = sorted(r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect())
    assert kept == [11], f"known content re-admitted: {kept}"


def test_stream_nonobject_json_and_null_text_sentinels(spark, tmp_path):
    """Round-7 review classes: (a) valid-but-non-object JSON lines
    (42, [1,2], "x") dead-letter in the STREAM exactly as in the batch
    reader — the try_parse_json probe silently admitted them as
    all-NULL 'clean' rows; (b) NULL-text documents each keep their own
    per-id dedup state key — xxhash64(NULL) is the constant seed, so
    the old key collapsed every NULL-text doc into one."""
    import json

    src = tmp_path / "in"
    src.mkdir()
    lines = [
        json.dumps({"doc_id": 1, "text": "real one", "lang": "en",
                    "source": "web", "n_chars": 8}),
        "42",
        "[1, 2]",
        '"bare string"',
        json.dumps({"doc_id": 2, "text": None, "lang": "en",
                    "source": "web", "n_chars": 0}),
        json.dumps({"doc_id": 3, "text": None, "lang": "en",
                    "source": "web", "n_chars": 0}),
    ]
    (src / "a.jsonl").write_text("\n".join(lines))

    q = corpus.stream_corpus_ingest(
        spark, str(src / "*.jsonl"), str(tmp_path / "out"),
        str(tmp_path / "ckpt"), trigger={"availableNow": True},
    )
    q.awaitTermination()
    out = spark.read.parquet(str(tmp_path / "out"))
    ids = sorted(r.doc_id for r in out.select("doc_id").collect())
    # doc 1 plus BOTH NULL-text docs survive; the three non-object
    # lines never become rows
    assert ids == [1, 2, 3], ids

    q2 = corpus.stream_quarantine(
        spark, str(src / "*.jsonl"), str(tmp_path / "quar"),
        str(tmp_path / "qckpt"), trigger={"availableNow": True},
    )
    q2.awaitTermination()
    quarantined = {r.value for r in spark.read.text(str(tmp_path / "quar")).collect()}
    assert {"42", "[1, 2]", '"bare string"'} <= quarantined


def test_fresh_stream_near_dedups_against_minhash_index(spark, tmp_path):
    """The NEAR-dup analog of the existing-corpus gate: a new stream
    over a minhash-indexed corpus drops rows whose estimated Jaccard
    vs the index reaches the threshold — paraphrases the exact digest
    gate cannot see — and keeps novel content."""
    from aws_logs_to_parquet_converter_spark.operators.dedup import save_minhash_index

    base = (
        "the quick brown fox jumps over the lazy dog and then naps in the warm "
        "afternoon sun for hours"
    )
    existing = spark.createDataFrame([(1, base)], "doc_id long, text string")
    idx = str(tmp_path / "mhidx")
    save_minhash_index(existing, "doc_id", "text", idx)
    src = tmp_path / "in"
    src.mkdir()
    _jsonl(src / "a.jsonl", [
        _doc(10, base.replace("lazy", "sleepy")),        # near-dup of indexed doc
        _doc(11, "entirely different material with no shared phrasing whatsoever here"),
    ])
    q = corpus.stream_corpus_ingest(
        spark, str(src) + "/*.jsonl", str(tmp_path / "out"), str(tmp_path / "ckpt"),
        minhash_index=idx, minhash_threshold=0.5,
    )
    q.awaitTermination(120)
    kept = sorted(r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect())
    assert kept == [11], f"near-dup re-admitted or novel doc lost: {kept}"


def test_stream_minhash_update_dedups_across_batches(spark, tmp_path):
    """minhash_update=True: batch N's admitted rows enter the index, so
    batch N+1's near-dups of them are dropped (maxFilesPerTrigger=1
    forces file-per-batch ordering)."""
    from aws_logs_to_parquet_converter_spark.operators.dedup import save_minhash_index

    seed_text = "seed corpus document establishing the index before any stream runs"
    existing = spark.createDataFrame([(1, seed_text)], "doc_id long, text string")
    idx = str(tmp_path / "mhidx")
    save_minhash_index(existing, "doc_id", "text", idx)
    novel = (
        "a brand new paragraph arriving in the first micro batch with plenty of "
        "shingle material to sign"
    )
    src = tmp_path / "in"
    src.mkdir()
    _jsonl(src / "a_first.jsonl", [_doc(10, novel)])
    _jsonl(src / "b_second.jsonl", [
        _doc(20, novel.replace("plenty", "loads")),       # near-dup of doc 10
        _doc(21, "unrelated follow-up content that matches neither batch nor corpus"),
    ])
    q = corpus.stream_corpus_ingest(
        spark, str(src) + "/*.jsonl", str(tmp_path / "out"), str(tmp_path / "ckpt"),
        minhash_index=idx, minhash_threshold=0.5, minhash_update=True,
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    kept = sorted(r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect())
    assert kept == [10, 21], f"cross-batch near-dup handling wrong: {kept}"
    # the index now also answers batch queries: doc 10's signature is in it
    from aws_logs_to_parquet_converter_spark.operators.dedup import (
        minhash_corpus_candidates,
    )
    probe = spark.createDataFrame([(99, novel)], "doc_id long, text string")
    hits = {r.corpus_id for r in minhash_corpus_candidates(
        probe, "doc_id", "text", idx, threshold=0.5).collect()}
    assert 10 in hits


def test_minhash_update_replay_self_converges(spark, tmp_path):
    """A crash AFTER the index append but BEFORE the checkpoint commit
    replays the batch INTO ITS OWN first-attempt signatures: every row
    est-1.0-matches itself and drops, so the replay appends nothing to
    the index AND writes nothing to the sink — the update gate
    self-converges where plain append mode would duplicate."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from aws_logs_to_parquet_converter_spark.operators.dedup import (
        minhash_corpus_candidates,
        save_minhash_index,
    )

    idx = str(tmp_path / "mhidx")
    save_minhash_index(
        spark.createDataFrame(
            [(1, "seed corpus document establishing the index before the stream")],
            "doc_id long, text string",
        ),
        "doc_id", "text", idx,
    )
    novel = "fresh streaming document with abundant shingle content to fingerprint"
    src = tmp_path / "in"
    src.mkdir()
    _jsonl(src / "a.jsonl", [_doc(10, novel)])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def crash_post(batch_df, batch_id):
        raise RuntimeError("injected crash after index append")

    q = corpus.stream_corpus_ingest(
        spark, str(src) + "/*.jsonl", out, ckpt,
        minhash_index=idx, minhash_update=True, post_write_hook=crash_post,
    )
    try:
        q.awaitTermination(120)
        raise AssertionError("query should have died post-append")
    except StreamingQueryException:
        pass
    q2 = corpus.stream_corpus_ingest(
        spark, str(src) + "/*.jsonl", out, ckpt,
        minhash_index=idx, minhash_update=True,
    )
    q2.awaitTermination(120)
    # the replayed batch matched its own first-attempt signatures and
    # dropped: ONE signature row, ONE sink copy — converged, not
    # duplicated (plain append mode duplicates here, see the
    # crash_after_write test above)
    from aws_logs_to_parquet_converter_spark.operators import versioned

    vdir = versioned.live_dir(idx, versioned.read_params(spark, idx))
    sig_rows = spark.read.parquet(f"{vdir}/signatures").where("id = 10").count()
    assert sig_rows == 1, f"replay should self-converge, got {sig_rows} sig rows"
    ids = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert ids == [10], f"sink should hold exactly one copy: {ids}"
    # and the index answers probes for the admitted doc
    probe = spark.createDataFrame([(99, novel)], "doc_id long, text string")
    pairs = minhash_corpus_candidates(probe, "doc_id", "text", idx, threshold=0.5).collect()
    assert [(r.doc_id, r.corpus_id) for r in pairs] == [(99, 10)]


def test_stream_pq_gate_and_update_semantic_dedup(spark, tmp_path):
    """pq_index= is the embedding-space sibling of minhash_index=: a
    stream over a PQ-indexed corpus drops rows whose embedding
    ADC-matches the index (including a SAME-id re-delivery — the gate
    probes with exclude_self=False), keeps novel vectors and
    NULL-embedding rows, and with pq_update=True batch N's admitted
    embeddings gate batch N+1 (maxFilesPerTrigger file-per-batch
    ordering)."""
    from pyspark.sql import types as T

    from aws_logs_to_parquet_converter_spark.operators.similarity import (
        save_pq_index,
        validate_pq_index,
    )

    def one_hot(j, dim=16):
        return [1.0 if i == j else 0.0 for i in range(dim)]

    emb_schema = T.StructType(
        list(corpus.DOCUMENT_SCHEMA)
        + [T.StructField("embedding", T.ArrayType(T.DoubleType()))]
    )
    seed = spark.createDataFrame(
        [(i, [1.0 if j == i else 0.0 for j in range(16)]) for i in range(8)],
        "doc_id long, embedding array<double>",
    )
    idx = str(tmp_path / "pqidx")
    save_pq_index(seed, idx, id_col="doc_id", vec_col="embedding", m=4, ks=8,
                  sample_n=32, iters=2)

    def edoc(i, text, emb):
        d = _doc(i, text)
        d["embedding"] = emb
        return d

    import math

    mix = [0.0] * 16
    mix[1] = mix[5] = 1.0 / math.sqrt(2.0)  # inside the trained span
    src = tmp_path / "in"
    src.mkdir()
    _jsonl(src / "a_first.jsonl", [
        edoc(100, "reshipped embedding under a new id", one_hot(3)),
        edoc(3, "reshipped embedding under the SAME id", one_hot(3)),
        edoc(101, "genuinely new material one", mix),
        edoc(102, "no geometry to gate on", None),
    ])
    _jsonl(src / "b_second.jsonl", [
        edoc(200, "semantic dup of the batch-one admission", mix),
        edoc(201, "genuinely new material two", one_hot(7 - 1)),
    ])
    q = corpus.stream_corpus_ingest(
        spark, str(src) + "/*.jsonl", str(tmp_path / "out"), str(tmp_path / "ckpt"),
        schema=emb_schema, max_files_per_trigger=1,
        pq_index=idx, pq_threshold=0.8, pq_update=True,
    )
    q.awaitTermination(180)
    kept = sorted(r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect())
    # 100 (new id, indexed vector) and 3 (SAME id as its indexed copy)
    # gated by the seed index; 101 novel -> admitted; 102 NULL-embedding
    # passes; 200 gated by 101's pq_update append from batch one; 201
    # carries one_hot(6), which the seed index holds -> gated
    assert kept == [101, 102], f"unexpected admissions: {kept}"
    rep = validate_pq_index(spark, idx)
    assert rep["n_ids"] == 9  # 8 seeded + admitted doc 101 (102 had no vector)
