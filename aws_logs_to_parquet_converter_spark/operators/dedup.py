"""Deduplication operators for large text corpora.

No counterpart in the reference (its dedup notion is "re-run a day ->
overwrite the partition"); these are the LLM-training-pipeline
operators the north star calls for, built scale-first:

  * exact_duplicates / fingerprint_keep_first — one hash-groupBy
    shuffle on a 16-byte key; the canonical-id pattern keeps the
    smallest id deterministically.
  * minhash_near_duplicates — MinHash + LSH banding: shingle ->
    per-shingle 64-bit hash -> k permutation-mins per doc (one
    aggregation, signatures as a fixed-width array) -> band buckets ->
    candidate pairs only within equal buckets.  Cost is O(docs x
    shingles + candidate pairs), never O(docs^2).
  * simhash — 64-bit similarity sketch: explode tokens -> per-bit
    vote SUMs -> packed bigint (same codegen-friendly shape as
    minhash).
  * ngram_jaccard_pairs — exact pairwise Jaccard over character
    shingles via an inverted-index self-join (the oracle-checkable
    ground truth the sketch methods approximate).
  * connected_components / dedup_keep_list — the transitive-closure
    decision step turning pairwise candidates into keep/drop lists.

Hot paths are plain codegen expressions (explode/substring/xxhash64 +
hash aggregates) — no interpreted array higher-order functions, zero
Python workers (PERF.md records the measurements behind this rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators import versioned
from aws_logs_to_parquet_converter_spark.operators.cache import owned, persist, release_checkpoint
from aws_logs_to_parquet_converter_spark.operators.textstats import (
    NONWS_CLASS,
    normalized_text,
    tokens,
)

from aws_logs_to_parquet_converter_spark.operators.partitioning import fan_out as _fan_out

# Mersenne prime 2^31-1: modulus for the MinHash permutation family
# h_i(x) = (a_i * x + b_i) mod P (classic Carter-Wegman construction).
# 31-bit domain keeps a*x + b under 2^62 — no bigint overflow under
# Spark's ANSI arithmetic (a 64-bit domain would need 128-bit math).
_P = (1 << 31) - 1


def _normalized(text: Column) -> Column:
    """Lowercase, whitespace-collapsed content key — delegates to
    textstats.normalized_text (ONE definition; fingerprint parity)."""
    return normalized_text(text)


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical texts: (canonical_id, n_copies, ids).

    The shuffle key is the fixed-width ``xxhash64`` digest of the text,
    not the text itself — at 100 TB the aggregation exchange moves 8
    bytes per row instead of whole documents (round-1 advice).  A
    64-bit digest collides with probability ~n²/2⁶⁵ (0.3% somewhere in
    a 10-billion-doc corpus); callers needing certainty add
    ``md5(text)`` as a second group key or verify within groups — the
    digest only CO-LOCATES candidates, so a verification pass is a
    narrow within-group comparison, never a second full shuffle.

    NULL text is unknown content, not identical content (the module
    rule _keep_first enforces): NULL rows are excluded from the report
    — the old behavior collapsed every NULL-text row into one bogus
    'byte-identical' group whose collect_list could hold the whole
    NULL population in a single task."""
    return (
        df.where(F.col(text_col).isNotNull())
        .groupBy(F.xxhash64(F.col(text_col)).alias("_digest"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .where(F.col("n_copies") > 1)
        .drop("_digest")
    )


def exact_keep_first(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The keep-side of exact dedup: drop every row whose text is a
    byte-duplicate of a lower-id row (``exact_duplicates`` reports the
    groups; this returns the cleaned corpus).  Digest-grouped min-id +
    semi join — two digest-keyed exchanges, text never shuffles.  Uses
    md5 (not xxhash64) so the kept set is engine-reproducible for
    auditing; swap to xxhash64 for pure-Spark runs to shave digest
    bytes.

    NULL text is unknown content, not identical content: each NULL-text
    row keys on its own id-derived digest, so they all survive (the
    md5-of-NULL grouping would silently collapse them to one)."""
    return _keep_first(df, id_col, F.md5(F.col(text_col)))


def _keep_first(df: DataFrame, id_col: str, content_digest: Column) -> DataFrame:
    """Shared keep-first mechanics: NULL-content sentinel, digest-
    grouped min-id, semi join back — ONE definition so the exact and
    fingerprint variants cannot drift."""
    digest = F.coalesce(
        content_digest,
        F.concat(F.lit("<null>"), F.col(id_col).cast("string")),
    )
    keep = (
        df.groupBy(digest.alias("_d"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def fingerprint_keep_first(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``exact_keep_first`` on the NORMALIZED fingerprint (lowercased,
    whitespace-collapsed — textstats.fingerprint's key): near-exact
    variants collapse to the smallest id.  Same NULL-text sentinel
    rule — unknown content is never identical content, so NULL-text
    rows all survive instead of collapsing into one group."""
    return _keep_first(df, id_col, F.md5(_normalized(F.col(text_col))))


def corpus_diff(
    old: DataFrame, new: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Snapshot diff between two corpus versions: per id, one of
    ``added`` / ``removed`` / ``changed`` / ``unchanged`` — the audit
    every periodic corpus rebuild needs ("what did this refresh touch")
    before retraining on it.

    One digest projection per side, one co-partitioned full-outer join
    on the id: the exchange moves 32-byte md5 hex digests, never
    document text (same at-scale posture as ``exact_duplicates``; md5
    rather than xxhash64 so the digest is reproducible by any SQL
    engine auditing the same claim).

    The digest doubles as the presence marker, so it must never be
    NULL: a NULL text coalesces to a sentinel digest (NULL text is a
    present-but-empty state — two NULL texts compare unchanged, NULL
    vs non-NULL compares changed)."""
    digest = lambda c: F.coalesce(F.md5(F.col(c)), F.lit("<null-text>"))  # noqa: E731
    o = old.select(F.col(id_col).alias("_id"), digest(text_col).alias("_od"))
    n = new.select(F.col(id_col).alias("_id"), digest(text_col).alias("_nd"))
    status = (
        F.when(F.col("_od").isNull(), F.lit("added"))
        .when(F.col("_nd").isNull(), F.lit("removed"))
        .when(F.col("_od") != F.col("_nd"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        o.join(n, "_id", "full_outer")
        .select(F.col("_id").alias(id_col), status.alias("status"))
    )


def dedup_against_corpus(
    new_batch: DataFrame,
    corpus_digests: DataFrame,
    id_col: str,
    text_col: str,
    bloom: "BloomFilter | None" = None,
) -> DataFrame:
    """Incremental exact dedup: drop every new-batch row whose content
    already exists in the corpus, THEN keep-first within the batch —
    the daily-ingest shape ("only genuinely new documents enter"),
    where re-deduping the whole corpus per day would re-shuffle 100 TB
    to admit a few GB.

    ``corpus_digests`` is the persisted ``digest`` column set of the
    existing corpus — produced by ``content_digests`` below at corpus
    build time and appended incrementally afterwards; at 100 TB it is
    ~32 bytes/doc, the only state this operator ever touches.  The
    anti join shuffles batch digests against that set (or broadcasts,
    when AQE sees a small day); corpus text is never read.

    NULL text follows the ``exact_keep_first`` sentinel rule: unknown
    content is never "already present", and NULL rows don't collapse.

    ``bloom`` (a ``digest_bloom`` built over ``corpus_digests``; the
    filter carries its own parameters, so build and probe cannot
    disagree) short-circuits the verification: rows the broadcast
    bitmap rules out are definitely new — the anti-join condition is
    constant-false for them, so they stream through without matching
    corpus state; only possible-present rows (the overlap plus the
    bounded false-positive slice) pay the exact digest comparison.
    The result is IDENTICAL with or without the filter — false
    positives are caught by the anti join — so the knob prunes
    verification work for the daily case where most content is
    genuinely new.
    """
    batch_digest = F.coalesce(
        F.md5(F.col(text_col)),
        F.concat(F.lit("<null>"), F.col(id_col).cast("string")),
    )
    staged = new_batch.withColumn("_d", batch_digest)
    if bloom is not None:
        # ONE conditional anti join, not a where/where union: the
        # union form evaluated the probed batch TWICE (each branch
        # re-ran the scan and all k broadcast probe joins — the same
        # double-evaluation this function's keep-first rewrite
        # removed; measured 0.89s -> 0.56s warm at sf1).  The anti
        # condition `digest match AND maybe-present` keeps every
        # definitely-new row untouched (the condition is false for
        # all corpus rows) while maybe-rows verify exactly.
        flagged = bloom_maybe_present(staged, bloom, "_d")
        cd = corpus_digests.select(F.col("digest").alias("_cd"))
        fresh = flagged.join(
            cd, (F.col("_d") == F.col("_cd")) & F.col("_maybe"), "left_anti"
        ).drop("_maybe")
    else:
        fresh = staged.join(
            corpus_digests.select(F.col("digest").alias("_d")), "_d", "left_anti"
        )
    # keep-first in ONE pass: min-id per digest via a partitioned
    # window (no ordering, no single-partition risk).  The groupBy +
    # semi-join form shuffles less per row ((digest, id) pairs) but
    # evaluates `fresh` TWICE — and fresh's lineage carries the whole
    # bloom-probe/anti-join stage, so the double evaluation costs more
    # than the one full-row exchange on the (daily-sized) batch.
    from pyspark.sql import Window

    w = Window.partitionBy("_d")
    return (
        fresh.withColumn("_min_id", F.min(id_col).over(w))
        .where(F.col(id_col) == F.col("_min_id"))
        .drop("_min_id", "_d")
    )


# Bloom probes per digest and hash seed: fixed, so a build and a probe
# cannot disagree on them
_BLOOM_K = 4
_BLOOM_SEED = 42


def _bloom_positions(digest: Column, m_bits: int) -> "list[Column]":
    """The ``_BLOOM_K`` bit positions a digest sets/probes, via double
    hashing (Kirsch & Mitzenmacher 2006: pos_i = (h1 + i*h2) mod m needs only
    two base hashes for k independent-enough probes).  Both base hashes
    reduce mod m BEFORE combining, so i*h2 stays ~k*m << 2^63 and never
    trips ANSI bigint-overflow; h2 is forced odd so it cycles the full
    power-of-two modulus."""
    h1 = F.pmod(F.xxhash64(digest, F.lit(_BLOOM_SEED)), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(digest, F.lit(_BLOOM_SEED + 1)), F.lit(m_bits)).bitwiseOR(F.lit(1))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(_BLOOM_K)]


class BloomFilter:
    """A ``digest_bloom`` result: the sparse (word, mask) bitmap PLUS
    the ``m_bits`` it was built with.  Carrying the size makes a
    build/probe mismatch impossible — probing with a different modulus
    than the build would silently produce false negatives (the one
    failure mode a Bloom filter must never have), so it travels with
    the bitmap instead of being re-specified."""

    def __init__(self, bitmap: DataFrame, m_bits: int):
        self.bitmap = bitmap
        self.m_bits = m_bits


def digest_bloom(
    corpus_digests: DataFrame,
    m_bits: int = 1 << 22,
    handles: "list[DataFrame] | None" = None,
) -> BloomFilter:
    """Pure-Catalyst Bloom filter (Bloom 1970) over a ``digest``
    column, as a SPARSE (word, mask) bitmap: at most ``m_bits/64`` rows of
    (int, bigint), built by one explode -> ``bit_or`` aggregation —
    no Python, no driver-side bit array, mergeable across corpus
    increments by re-aggregating ``bit_or`` on word.

    Purpose: the pre-filter state for ``dedup_against_corpus`` — a
    daily batch probes the broadcast bitmap map-side and only rows the
    filter CANNOT rule out pay the exact anti join.  Size m_bits for
    ~10 bits per corpus document (<1% false positives); the bitmap is
    m_bits/8 bytes dense, so it broadcasts comfortably up to a few
    billion documents — beyond that the plain digest anti join is
    already the right plan and the filter is just skipped.  Returns a
    ``BloomFilter`` carrying its own size; its bitmap is
    persisted and released through ``handles`` (``operators/cache.py``)."""
    pos = _bloom_positions(F.col("digest"), m_bits)
    bitmap = (
        corpus_digests.select(F.explode(F.array(*pos)).alias("_pos"))
        .select(
            F.shiftright(F.col("_pos"), 6).cast("int").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))").alias("_m"),
        )
        .groupBy("word")
        .agg(F.bit_or("_m").alias("mask"))
    )
    # the probe broadcasts this bitmap k times (one join per bit
    # position); unpersisted, Catalyst re-runs the corpus-digest
    # scan + bit_or aggregation for EVERY broadcast — k full
    # corpus passes for a table bounded at m_bits/64 rows by
    # construction (round-7 measurement: 4x rebuild dominated
    # q_incremental_dedup_bloom's sf1 wall).  Bounded cache, so
    # persist unconditionally.
    return BloomFilter(persist(bitmap, handles), m_bits)


def bloom_maybe_present(
    df: DataFrame,
    bloom: BloomFilter,
    digest_col: str,
) -> DataFrame:
    """Annotate ``df`` with ``_maybe``: False means the digest is
    DEFINITELY absent from the set the bloom was built on; True means
    possibly present (verify exactly).

    Plan shape: k left broadcast-hash joins of the (tiny) bitmap on k
    inline word keys, AND-ed into one flag — ``df`` itself is NEVER
    exchanged (no distinct, no regroup, no join-back); the probe rides
    the scan map-side, which is the entire point of the pre-filter."""
    pos = _bloom_positions(F.col(digest_col), bloom.m_bits)
    out = df
    flag = F.lit(True)
    for i, p in enumerate(pos):
        pc, w, m, bm = f"_bp{i}", f"_bw{i}", f"_bm{i}", f"_bb{i}"
        out = (
            out.withColumn(pc, p)
            .withColumn(w, F.shiftright(F.col(pc), 6).cast("int"))
            .withColumn(m, F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({pc} % 64 AS INT))"))
        )
        side = bloom.bitmap.select(F.col("word").alias(w), F.col("mask").alias(bm))
        out = out.join(F.broadcast(side), w, "left")
        flag = flag & (F.coalesce(F.col(bm), F.lit(0)).bitwiseAND(F.col(m)) != 0)
    drops = [c for i in range(_BLOOM_K) for c in (f"_bp{i}", f"_bw{i}", f"_bm{i}", f"_bb{i}")]
    return out.withColumn("_maybe", flag).drop(*drops)


def content_digests(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The corpus-side state for ``dedup_against_corpus``: one distinct
    md5 digest per present content (NULL text excluded — the sentinel
    digests are per-id and must never match future batches)."""
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.md5(F.col(text_col)).alias("digest"))
        .distinct()
    )


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 5) -> DataFrame:
    """(_id, _sh) rows: one per character n-gram occurrence (with
    repeats).  explode(sequence) + substring are plain codegen
    expressions — this is the fast path the sketch operators build on.
    The under-partitioned-input fan-out (``_fan_out``) runs before the
    explode so the hash/partial-agg map work parallelizes.
    """
    norm = _normalized(F.col(text_col))
    return (
        # NULL/empty text emits NO shingles: substring(NULL)/substring('')
        # would hash to a per-class CONSTANT, giving every contentless doc
        # an identical signature — m such docs then meet in every LSH band
        # and the candidate join degenerates to the O(m^2) blowup the
        # sketch exists to avoid (round-7 review finding).  Contentless
        # docs simply have no signature (unknown content never pairs).
        # The contentless test runs on the RAW column: `text RLIKE
        # NONWS_CLASS` holds iff normalized(text) is non-NULL and
        # non-empty (both mean "has a non-whitespace char"), and keeping
        # the filter off the projected `_nt` stops Catalyst's predicate
        # pushdown from substituting the normalization regex into the
        # filter condition — which made it evaluate 3x per doc (twice in
        # the Filter, once in the Project; no cross-operator CSE).
        _fan_out(
            df.where(F.col(text_col).rlike(NONWS_CLASS)).select(
                F.col(id_col).alias("_id"), norm.alias("_nt")
            ),
            "_id",
        )
        .select(
            "_id",
            "_nt",
            F.explode(F.sequence(F.lit(1), F.greatest(F.length("_nt") - (n - 1), F.lit(1)))).alias(
                "_pos"
            ),
        )
        .select("_id", F.expr(f"substring(_nt, _pos, {n})").alias("_sh"))
    )


def distinct_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """(_id, _sh) rows: each DISTINCT character n-gram of the
    normalized text once per doc — ``exploded_shingles(...)
    .dropDuplicates(["_id", "_sh"])``'s exact row set, computed IN-ROW
    (array_distinct over the transform-built shingle array, then
    explode).  The set-based consumers (jaccard/containment/
    contamination/setsim) re-derive their shingle relation once per
    subplan — three to four times per query, deliberately uncached
    (see ngram_jaccard_pairs) — and the dropDuplicates form built a
    hash-aggregate over the full shingle-OCCURRENCE stream on every
    re-derivation (the aggregate itself was already exchange-free:
    ``_fan_out``'s _id partitioning satisfies the (_id, _sh)
    clustering — verified in the r15 plan diff, 84 → 70 operators
    with the Exchange set unchanged).  This form pays one interpreted
    (CodegenFallback) transform per doc instead of per-occurrence
    hash-map maintenance, and the generated row stream shrinks to the
    distinct set before any downstream operator sees it.  Measured
    (r15 interleaved A/B, stable control): q_ngram_jaccard 5.84 →
    4.62 s median, keep_list 9.22 → 8.40, keep_best 8.06 → 7.03.
    The trade is the OPPOSITE of the minhash/winnow one (occurrence
    consumers, where MIN/window absorbs duplicates for free and
    codegen explode wins — the module-header measurement): here the
    dedup aggregate was the only thing the early explode bought.
    Same contentless-doc contract as exploded_shingles:
    NULL/whitespace-only text emits no rows, and the filter tests the
    RAW column so predicate pushdown cannot triplicate the
    normalization regex."""
    norm = _normalized(F.col(text_col))
    return (
        _fan_out(
            df.where(F.col(text_col).rlike(NONWS_CLASS)).select(
                F.col(id_col).alias("_id"), norm.alias("_nt")
            ),
            "_id",
        )
        .select(
            "_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform("
                    f"sequence(1, greatest(length(_nt) - {n - 1}, 1)), "
                    f"i -> substring(_nt, i, {n})))"
                )
            ).alias("_sh"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_n: int = 5,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, signature array[num_hashes]) MinHash signatures.

    Shape chosen by measurement (local[32], 5000 docs x ~150 shingles):
    explode(sequence) -> substring -> xxhash64 rows feeding a 64-state
    MIN hash-aggregate — every operator wholestage-codegen.  Two
    rejected formulations: array higher-order functions
    (transform/array_min are CodegenFallback — ran 2x slower than even
    the HOF-shingling groupBy version) and per-doc arrays of 64
    re-hashes (allocation-bound).  Duplicate shingle occurrences need
    no distinct: MIN is idempotent.

    The one shuffle is the groupBy on doc id — at 100 TB that is a
    hash-partitioned pass over (id, 8B-hash) pairs with map-side
    partial mins, the minimum data movement for this sketch.

    ``hash_fn``: 'xxhash64' (the engine default — one base hash per
    shingle, ``num_hashes`` affine permutations of it, array<bigint>)
    or 'md5' (the ORACLE-PARITY mode, same trick as
    winnow_fingerprints: permutation i is ``md5('i:' || shingle)`` and
    the signature element is the lexicographic MIN hex string —
    array<string> any SQL engine reproduces byte-identically.  The
    estimator contract is the same k-independent-min-hash family;
    slower by construction, use it for differential grading, not
    production sweeps)."""
    sh = exploded_shingles(df, id_col, text_col, shingle_n)
    # The num_hashes minima are SQL strings, not chained Column
    # operators: each Column operator is a py4j round trip (~61 per
    # affine minimum, ~3,900 per call at k=64), the string is one parse
    # into the same plan.
    if hash_fn == "md5":
        mins = [
            F.expr(f"min(md5(concat('{i}:', _sh))) AS _m{i}")
            for i in range(num_hashes)
        ]
    elif hash_fn == "xxhash64":
        import random

        rng = random.Random(seed)
        coeffs = [
            (rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(num_hashes)
        ]
        # Non-negative base hash < P so the affine maps stay in-range.
        sh = sh.select("_id", F.pmod(F.xxhash64("_sh"), F.lit(_P)).alias("_h"))
        mins = [
            F.expr(f"min(pmod(_h * {a} + {b}, {_P})) AS _m{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    else:
        raise ValueError(f"unsupported hash_fn: {hash_fn}")
    agg = sh.groupBy("_id").agg(*mins)
    slots = ", ".join(f"_m{i}" for i in range(num_hashes))
    return agg.select(
        F.col("_id").alias(id_col), F.expr(f"array({slots}) AS signature")
    )


def _band_rows(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int, hash_fn: str
) -> DataFrame:
    """LSH banding of a (id, signature) relation: one (_id, signature,
    band, bucket) row per band — the ONE definition shared by the
    in-memory self-join (``minhash_near_duplicates``) and the persisted
    index (``save_minhash_index`` / probe), so build and probe can
    never bucket differently.

    Band structs are built python-side (literal slice offsets) as one
    SQL string — explode of a plain array expression, no interpreted
    higher-order function, one parse instead of a py4j round trip per
    Column operator.  md5 mode: EXACT band key (hex concat) for engine
    parity; default: fixed-width xxhash64 of the slice (cheaper
    shuffle)."""
    rows_per_band = num_hashes // bands

    def _bucket(b: int) -> str:
        sl = f"slice(signature, {b * rows_per_band + 1}, {rows_per_band})"
        return f"array_join({sl}, '|')" if hash_fn == "md5" else f"xxhash64({sl})"

    band_structs = ", ".join(
        f"struct({b} AS band, {_bucket(b)} AS bucket)" for b in range(bands)
    )
    return sig.select(
        F.col(id_col).alias("_id"),
        "signature",
        F.expr(f"explode(array({band_structs})) AS bb"),
    ).select("_id", "signature", "bb.band", "bb.bucket")


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    threshold: float = 0.5,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    handles: "list[DataFrame] | None" = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding, scored by
    estimated Jaccard (fraction of agreeing minhashes), filtered at
    ``threshold``.  Returns (id_a, id_b, est_jaccard), id_a < id_b.

    Rows x bands fan-out replaces the O(n^2) pair space; docs meet only
    inside equal (band, band-signature) buckets.

    ``hash_fn='md5'`` selects the oracle-parity signatures (see
    minhash_signatures) AND exact band keys: the bucket becomes the
    band's concatenated hex values instead of an xxhash64 of the
    slice, so the candidate set — not just the surviving pairs — is
    byte-reproducible by any SQL engine.

    Shuffle shape (r11 verdict item, A/B'd at sf1): the band self-join
    and the (id_a, id_b) dedup carry ONLY slim id/band/bucket rows —
    signatures re-attach to the deduped candidate pairs afterwards via
    two joins against the persisted signature relation.  The old shape
    (signatures riding through the join + dropDuplicates) moved ~2 x
    520 B per candidate ROW through two exchanges; slim rows are ~24 B.
    Measured sf1 (50k docs, 264k candidate pairs): 7.7s vs 14.4s warm,
    and 6.5s vs 144-218s under memory pressure; identical pair sets;
    sf0.1 unchanged (1.7s vs 1.8s).  The signature relation is
    persisted internally (it feeds the banding once and the re-attach
    twice — unpersisted it recomputes the shingle aggregation 3x,
    measured 56-80s at sf1); the returned plan reads it, so it is
    released through ``handles`` (``operators/cache.py``; ~8k B/doc)."""
    assert num_hashes % bands == 0
    sig = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, seed, hash_fn=hash_fn
    )
    sig = persist(sig, handles)
    # Materialize the cache BEFORE the consumers launch: the plan scans
    # sig four times (both band-join sides + both signature re-attach
    # broadcasts), and under AQE all four kick off CONCURRENTLY — 4x32
    # tasks racing the per-partition cache locks, blocked tasks holding
    # task slots for the full signature-computation wall (measured r15:
    # four ~0.9s 32-task stages where one compute + three cached scans
    # should run).  One eager count pays the compute exactly once in a
    # clean stage; the count itself reads nothing extra (the cache
    # materializes all columns regardless).
    sig.count()

    banded = _band_rows(sig, id_col, num_hashes, bands, hash_fn).select(
        "_id", "band", "bucket"
    )

    a = banded.alias("a")
    b = banded.alias("b")
    pair_ids = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = pair_ids.join(
        sig.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a")),
        "id_a",
    ).join(
        sig.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b")),
        "id_b",
    )
    # MEASURED EXCEPTION to the no-HOF rule: at k=64 the "obvious"
    # codegen unroll (a 64-deep chain of element_at equality adds) ran
    # 1.3-1.8x SLOWER than this single interpreted zip_with at sf1
    # (47-66s vs 36s on 37M candidate pairs, A/B'd round 7 — the
    # expression tree blows past codegen method limits and falls back
    # to interpreted eval of 128 array accesses, worse than one fused
    # HOF pass).  Round 13 found the same inversion holds for the
    # dim-64 dot product on joined-pair stages (PERF.md round-13:
    # fold 5-7x faster) — the similarity pair scorers now use the
    # fold too; no unrolled per-pair array chain survives anywhere.
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        / F.lit(num_hashes)
    ).alias("est_jaccard")
    return pairs.select("id_a", "id_b", est).where(F.col("est_jaccard") >= threshold)


# the params row after ``version``, and the data dirs a pre-versioning
# index kept at its root (a migrating refresh prunes them)
_MINHASH_PARAMS_DDL = (
    "num_hashes int, bands int, shingle_n int, seed long, hash_fn string"
)
_MINHASH_FLAT_DIRS = ("signatures", "bands")


def save_minhash_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    mode: str = "overwrite",
) -> None:
    """Persist the MinHash-LSH state of a corpus: build once, probe
    every future ingest batch — the NEAR-DUP analog of
    ``content_digests``/``dedup_against_corpus`` (which cover exact
    content only).  Re-running ``minhash_near_duplicates`` over
    corpus+batch per day would re-shingle and re-shuffle 100 TB to
    admit a few GB; this index makes the daily probe O(batch).

    Layout: a versioned store (``operators/versioned.py``) with two
    data dirs per version — ``bands`` (band, bucket, id), the LSH
    buckets the probe equi-joins against (~bands rows x ~16 B/doc),
    and ``signatures`` (id, signature), what the est-Jaccard
    verification reads (~8*num_hashes B/doc); corpus TEXT is never
    stored or re-read.  The params row pins (num_hashes, bands,
    shingle_n, seed, hash_fn) beside the live version: the probe reads
    its parameters FROM the index, so build and probe cannot disagree
    (the ``digest_bloom`` self-describing rule).  The versioned commit
    matters here because an in-place overwrite could pair NEW
    signatures with OLD band rows — an undetectable corruption, since
    ids, counts, and lengths all still match.  Indexes written before
    versioning (``signatures``/``bands`` at the root) stay readable and
    appendable; a refresh migrates them and prunes the flat dirs.  An
    empty params relation (an interrupted build) is rebuilt by an
    overwrite; every other read of it raises.

    ``mode='append'`` admits a cleaned batch into the index; the
    caller's build parameters are CHECKED against the stored params
    row and a mismatch raises — signatures written under different
    parameters than the probe reads back would silently corrupt every
    later candidate set (``append_to_minhash_index`` reads the stored
    params for you)."""
    spark = corpus.sparkSession
    given = {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "seed": seed,
        "hash_fn": hash_fn,
    }
    stored = None
    if versioned.exists(spark, path):
        try:
            stored = versioned.read_params(spark, path)
        except ValueError:
            # an empty params relation (an interrupted build): an
            # overwrite rebuilds the whole index, an append cannot
            if mode == "append":
                raise
    if stored is not None and {k: stored[k] for k in given} != given:
        # BOTH modes: appending under foreign params corrupts future
        # probes outright, and an in-place param-CHANGING rebuild has
        # an undetectable crash window (params are written last, so a
        # crash after the data writes leaves new signatures probed
        # under the old stored params — lengths match, validate can't
        # see it).  Param changes go to a fresh path.
        raise ValueError(
            f"params {given} != existing index params "
            f"{ {k: stored[k] for k in given} } at {path}; "
            + (
                "use append_to_minhash_index() to adopt the stored ones"
                if mode == "append"
                else "build a param-changing index at a NEW path (the "
                "rebuild_minhash_index dest rule)"
            )
        )
    if mode == "append" and stored is None:
        raise ValueError(f"cannot append: no index params at {path}")
    sig = minhash_signatures(
        corpus, id_col, text_col, num_hashes, shingle_n, seed, hash_fn=hash_fn
    )

    def write(vdir: str, how: str) -> None:
        # signatures BEFORE bands: a crash between the two appends
        # then leaves an unbanded signature (merely unprobed until
        # rebuild) instead of a band row whose verification join
        # silently drops every future candidate pair for that document
        sig.select(F.col(id_col).alias("id"), "signature").write.mode(
            how
        ).parquet(f"{vdir}/signatures")
        _band_rows(sig, id_col, num_hashes, bands, hash_fn).select(
            "band", "bucket", F.col("_id").alias("id")
        ).write.mode(how).parquet(f"{vdir}/bands")

    # One signature computation feeds both writes: persist beats the
    # double aggregation here (unlike the self-join case — writes are
    # sequential jobs, never scheduled concurrently).
    with owned() as held:
        persist(sig, held)
        if mode == "append":
            write(versioned.live_dir(path, stored), "append")
        else:
            versioned.commit(
                spark, path, lambda vdir: write(vdir, "overwrite"),
                values=(num_hashes, bands, shingle_n, seed, hash_fn),
                ddl=_MINHASH_PARAMS_DDL, extra_stale=_MINHASH_FLAT_DIRS,
            )


def minhash_corpus_candidates(
    batch: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs BETWEEN an ingest batch and an indexed
    corpus (``save_minhash_index``): batch signatures band with the
    index's own parameters, the band rows equi-join the persisted
    buckets, and only candidate pairs fetch corpus signatures for the
    est-Jaccard verification — batch text shingles once, corpus text
    never.  Returns (id_col, corpus_id, est_jaccard) with est >=
    ``threshold`` (the same agreeing-minhash estimator as
    ``minhash_near_duplicates``, so the pair set equals the batch x
    corpus slice of a full re-dedup by construction — differentially
    pinned in test_dedup).

    Scale shape: the batch side is daily-sized, so both the bucket
    equi-join and the signature fetch broadcast the batch under AQE;
    the corpus-side reads stream the persisted index, never the
    corpus."""
    spark = batch.sparkSession
    p = versioned.read_params(spark, index_path)
    sig = minhash_signatures(
        batch,
        id_col,
        text_col,
        p["num_hashes"],
        p["shingle_n"],
        p["seed"],
        hash_fn=p["hash_fn"],
    )
    vdir = versioned.live_dir(index_path, p)
    banded = _band_rows(sig, id_col, p["num_hashes"], p["bands"], p["hash_fn"]).select(
        F.col("_id").alias("_bid"), "band", "bucket"
    )
    idx = spark.read.parquet(f"{vdir}/bands")
    cands = (
        banded.join(idx, ["band", "bucket"])
        .select(F.col("_bid"), F.col("id").alias("corpus_id"))
        .dropDuplicates(["_bid", "corpus_id"])
    )
    corpus_sig = spark.read.parquet(f"{vdir}/signatures").select(
        F.col("id").alias("corpus_id"), F.col("signature").alias("sig_c")
    )
    batch_sig = sig.select(F.col(id_col).alias("_bid"), F.col("signature").alias("sig_b"))
    est = (
        F.size(F.filter(F.zip_with("sig_b", "sig_c", lambda x, y: x == y), lambda v: v))
        / F.lit(p["num_hashes"])
    ).alias("est_jaccard")
    return (
        cands.join(batch_sig, "_bid")
        .join(corpus_sig, "corpus_id")
        .select(F.col("_bid").alias(id_col), "corpus_id", est)
        .where(F.col("est_jaccard") >= threshold)
        # tolerate duplicate index rows (a crash-replayed streaming
        # append writes a doc's signature twice; its est is identical,
        # so the pair — not the result — is what duplicates)
        .dropDuplicates([id_col, "corpus_id"])
    )


def validate_minhash_index(spark: SparkSession, path: str) -> dict:
    """Health report for a persisted MinHash index — the index-side
    sibling of the warehouse ``maintain --validate``:

      * ``n_signatures`` / ``n_ids``: duplicate signature rows (a
        crash-replayed append) show as n_signatures > n_ids — harmless
        to probes (pair-level dropDuplicates) but dead weight;
      * ``n_conflicting_ids``: ids carrying DIFFERENT signatures —
        real corruption (e.g. an append under foreign params before
        the r9 guard); probes resolve them arbitrarily, rebuild+
        re-ingest is the fix;
      * ``n_orphan_band_ids``: band rows whose id has no signature (a
        pre-r9 crash between the two writes) — their candidates are
        silently unverifiable;
      * ``n_unbanded_ids``: signatures with no band rows (a crash
        after the signatures write) — present but unprobeable until
        ``rebuild_minhash_index``;
      * ``n_bad_length_ids``: signatures whose array length differs
        from ``params.num_hashes`` — the foreign-params corruption
        class for NEW ids (same-id conflicts are the other face);
        their band slices degenerate, so probes involving them are
        wrong until the rows are purged and re-ingested.

    One aggregate pass: each relation is aggregated per id, the two
    per-id aggregates are full-outer-joined on id, and one global
    aggregate over the join answers every count in a single action.
    """
    p = versioned.read_params(spark, path)
    vdir = versioned.live_dir(path, p)
    sig = spark.read.parquet(f"{vdir}/signatures").groupBy("id").agg(
        F.count("*").alias("_rows"),
        F.count_if(F.size("signature") != p["num_hashes"]).alias("_badlen"),
        # more than one DISTINCT signature (a NULL one counts as one)
        (
            (F.min("signature") != F.max("signature"))
            | F.count("signature").between(1, F.count("*") - 1)
        ).alias("_conflict"),
    )
    bands = spark.read.parquet(f"{vdir}/bands").groupBy("id").agg(
        F.count("*").alias("_brows")
    )
    in_sig, in_bands = F.col("_rows").isNotNull(), F.col("_brows").isNotNull()
    r = sig.join(bands, "id", "full").agg(
        F.sum("_rows").alias("rows"),
        F.count_if(in_sig & F.col("id").isNotNull()).alias("ids"),
        F.count_if("_conflict").alias("conflicting"),
        F.sum("_badlen").alias("badlen"),
        F.sum("_brows").alias("brows"),
        F.count_if(in_bands & ~in_sig).alias("orphans"),
        F.count_if(in_sig & ~in_bands).alias("unbanded"),
    ).first()
    return {
        "params": p,
        "n_signatures": int(r.rows or 0),
        "n_ids": int(r.ids),
        "n_conflicting_ids": int(r.conflicting),
        "n_bad_length_ids": int(r.badlen or 0),
        "n_band_rows": int(r.brows or 0),
        "n_orphan_band_ids": int(r.orphans),
        "n_unbanded_ids": int(r.unbanded),
    }


def rebuild_minhash_index(
    spark: SparkSession, src_path: str, dest_path: str
) -> None:
    """Compact a MinHash index into a fresh copy at ``dest_path`` FROM
    ITS STORED SIGNATURES — duplicate rows from crash-replayed appends
    drop, band rows regenerate (healing unbanded ids), and the corpus
    TEXT is never touched (the whole point of the persisted index: at
    100 TB a rebuild re-reads ~8*k B/doc of signatures, not the
    corpus).  Writes to a NEW destination rather than in place, so
    there is no crash window in which the live index is partial — the
    caller swaps paths after the rebuild returns (or simply probes
    ``dest_path`` from then on).

    Conflicting signatures for one id and wrong-length signatures
    (real corruption, see ``validate_minhash_index``) raise rather
    than silently picking a winner or re-banding degenerate slices."""
    import os

    if os.path.normpath(os.path.abspath(src_path)) == os.path.normpath(
        os.path.abspath(dest_path)
    ):
        raise ValueError("rebuild_minhash_index writes a NEW index; dest == src")
    p = versioned.read_params(spark, src_path)
    src = versioned.live_dir(src_path, p)
    sig = spark.read.parquet(f"{src}/signatures").dropDuplicates()
    with owned() as held:
        persist(sig, held)
        bad = sig.agg(
            F.count_if(F.size("signature") != p["num_hashes"]).alias("badlen"),
            (F.count("*") - F.countDistinct("id")).alias("conflicts"),
        ).first()
        if bad.conflicts:
            raise ValueError(
                f"{bad.conflicts} conflicting signature rows (beyond one per id) "
                f"in {src_path} — corrupted index; rebuild from text with "
                "save_minhash_index"
            )
        if bad.badlen:
            raise ValueError(
                f"{bad.badlen} signatures in {src_path} have length != "
                f"num_hashes={p['num_hashes']} (a foreign-params append) — "
                "re-banding them would produce degenerate buckets; rebuild "
                "from text with save_minhash_index"
            )
        # same versioned commit as save_minhash_index (a crash
        # mid-rebuild leaves dest_path paramless => unreadable, never
        # half-built-but-live); the prune keeps a re-run rebuild's dest
        # from accumulating orphan v-* dirs

        def write(vdir: str) -> None:
            sig.write.parquet(f"{vdir}/signatures")
            _band_rows(
                sig, "id", p["num_hashes"], p["bands"], p["hash_fn"]
            ).select("band", "bucket", F.col("_id").alias("id")).write.parquet(
                f"{vdir}/bands"
            )

        versioned.commit(
            spark, dest_path, write,
            values=(p["num_hashes"], p["bands"], p["shingle_n"], p["seed"],
                    p["hash_fn"]),
            ddl=_MINHASH_PARAMS_DDL, extra_stale=_MINHASH_FLAT_DIRS,
        )


def append_to_minhash_index(
    batch: DataFrame, id_col: str, text_col: str, index_path: str
) -> None:
    """Admit a batch into an existing MinHash index using the INDEX'S
    OWN stored parameters (``save_minhash_index(mode='append')`` takes
    caller args and trusts them; this helper removes that footgun —
    the streaming updater and any long-lived pipeline should append
    through here so signatures can never be written under different
    build parameters than the probe reads back)."""
    spark = batch.sparkSession
    p = versioned.read_params(spark, index_path)
    save_minhash_index(
        batch,
        id_col,
        text_col,
        index_path,
        num_hashes=p["num_hashes"],
        bands=p["bands"],
        shingle_n=p["shingle_n"],
        seed=p["seed"],
        hash_fn=p["hash_fn"],
        mode="append",
    )


def minhash_dedup_against_corpus(
    batch: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental NEAR-DUP dedup: drop every batch row whose content
    near-duplicates the indexed corpus (est Jaccard >= threshold) —
    the daily-ingest gate ``dedup_against_corpus`` provides for exact
    content, extended to near-duplicates.  Batch-internal near-dups
    are a separate concern: compose with ``minhash_near_duplicates``
    + ``dedup_keep_list`` on the survivors, then ``save_minhash_index
    (mode='append')`` admits them to the index for the next day.

    NULL text never matches (no shingles => no signature => no
    candidate), mirroring the exact path's sentinel rule."""
    dup_ids = minhash_corpus_candidates(
        batch, id_col, text_col, index_path, threshold
    ).select(id_col)
    return batch.join(dup_ids, id_col, "left_anti")


def _simhash_agg(
    df: DataFrame, id_col: str, text_col: str, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(_id, simhash) per document that has at least one token —
    tokenless docs (NULL/empty/whitespace-only text) are ABSENT from
    the output.  Callers that must keep every input row use the public
    ``simhash`` wrapper, which joins the zero default back; callers
    that pre-filter to contentful docs (the banded near-dup join) use
    this directly and skip that join's second scan of the input.

    Same shape as minhash_signatures (the measured-fast pattern):
    explode tokens -> one hash per token -> per-bit SUM aggregates of
    +/-1 bit votes (``getbit`` with literal positions) -> sign ->
    packed bigint.  One shuffle on doc id with map-side partial sums.
    Empty documents get simhash 0 (all-negative votes).

    ``hash_fn="md5"`` is the oracle-parity mode (the
    q_dedup_minhash_md5 pattern): the token hash becomes the first 15
    hex chars of md5 parsed as a 60-BIT integer — a value every SQL
    engine re-derives verbatim (``CAST('0x'||substr(md5(t),1,15) AS
    BIGINT)``), capped at 60 bits so the signed-BIGINT range is never
    left on either engine.  Production keeps the cheaper 8-byte
    xxhash64 and the full 64 bits.
    """
    if hash_fn == "md5":
        n_bits = 60
        h = F.conv(F.substring(F.md5("_tok"), 1, 15), 16, 10).cast("long")
    elif hash_fn == "xxhash64":
        n_bits = 64
        h = F.xxhash64("_tok")
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    tok = _fan_out(
        df.select(F.col(id_col).alias("_id"), _normalized(F.col(text_col)).alias("_nt")), "_id"
    ).select(
        "_id",
        F.explode(F.filter(F.split("_nt", " "), lambda x: x != "")).alias("_tok"),
    ).select("_id", h.alias("_h"))
    votes = [
        F.sum(F.getbit("_h", F.lit(i)).cast("long") * 2 - 1).alias(f"_v{i}")
        for i in range(n_bits)
    ]
    agg = tok.groupBy("_id").agg(*votes)
    packed = F.lit(0).cast("long")
    for i in range(n_bits):
        bit = F.when(F.col(f"_v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        packed = packed.bitwiseOR(bit)
    return agg.select(F.col("_id"), packed.alias("simhash"))


def simhash(
    df: DataFrame, id_col: str, text_col: str, hash_fn: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash per document (every input row kept; tokenless
    documents get simhash 0 — all-negative votes).  The aggregate
    itself lives in ``_simhash_agg``; this wrapper adds the
    keep-every-row join-back."""
    sigs = _simhash_agg(df, id_col, text_col, hash_fn)
    # keep docs with no tokens (left join back, default 0)
    return (
        df.select(F.col(id_col))
        .join(sigs.withColumnRenamed("_id", id_col), id_col, "left")
        .select(F.col(id_col), F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 5,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """EXACT Jaccard near-dup pairs via inverted-index self-join —
    the ground truth for the sketch-based methods (and the
    SQL-expressible oracle entry).  Returns (id_a, id_b, jaccard).

    ``max_shingle_df`` caps the posting-list length: shingles whose
    document frequency exceeds it are dropped from the INTERSECTION
    index before the self-join (set sizes stay exact), bounding the
    pair fan-out of any single hot shingle to max_df² instead of
    docs² — one boilerplate shingle shared by a million documents
    would otherwise emit 10¹² join rows.  Below the cap results are
    bit-identical to the uncapped oracle (nothing is dropped); above
    it, ubiquitous shingles are treated as non-discriminative
    stopwords and the score becomes a lower bound — the standard
    df-cap trick for inverted-index similarity joins.  Pass ``None``
    for the uncapped ground truth."""
    # `sh` feeds four subplans (sizes, the cold build, both join
    # sides) and is recomputed per use — DELIBERATELY: persisting it
    # was re-measured this round (r15, interleaved A/B) at 2-3x slower
    # warm, confirming the original cold measurement — materializing
    # the wide shingle stream serializes a pipeline that four
    # concurrent codegen recomputes otherwise overlap across cores.
    # A posting-list restatement (collect_list per shingle + in-row
    # slice/explode pair generation) was also measured: 6x SLOWER — a
    # df-1000 shingle's pair explode allocates O(df^2) array copies in
    # ONE task, where the self-join spreads plain hash-join rows.
    # The per-doc DISTINCT is in-row (distinct_shingles): the old
    # explode+dropDuplicates form rebuilt an occurrence-stream dedup
    # aggregate in every subplan (see the helper's docstring for the
    # plan diff and measured numbers).
    sh = distinct_shingles(df, id_col, text_col, shingle_n)
    idx = sh
    if max_shingle_df is not None:
        cold = (
            sh.groupBy("_sh")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= max_shingle_df)
            .select("_sh")
        )
        idx = sh.join(cold, "_sh")

    sizes = sh.groupBy("_id").agg(F.count("*").alias("_n"))
    a = idx.alias("a")
    b = idx.alias("b")
    common = (
        a.join(b, (F.col("a._sh") == F.col("b._sh")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count("*").alias("_common"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    jac = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("_common") / (F.col("_na") + F.col("_nb") - F.col("_common"))
            ).alias("jaccard"),
        )
    )
    return jac.where(F.col("jaccard") >= threshold)


def contamination_check(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 5,
    min_common: int = 10,
) -> DataFrame:
    """Train/eval contamination scan: for every train document, how
    many eval documents share at least ``min_common`` character
    n-grams with it (the standard benchmark-leakage check run before
    training).

    Shape: shingle both sides, equi-join on the shingle (inverted
    index — the same df-capped candidate generation as
    ``ngram_jaccard_pairs``, so one hot boilerplate shingle cannot
    explode the pair space), count common shingles per (train, eval)
    pair, keep pairs over the threshold, then roll up per train doc.
    Returns (train_id, n_eval_matches, max_common).  The df cap (1000)
    is computed over the UNION of both sides — a shingle ubiquitous in
    either corpus is non-discriminative for matching."""
    # per-doc distinct is in-row (no per-subplan occurrence-stream
    # dedup aggregate — the distinct_shingles note): each side feeds
    # the df-cap build and its join branch
    tr = distinct_shingles(train, id_col, text_col, shingle_n)
    ev = distinct_shingles(eval_set, id_col, text_col, shingle_n)
    df_all = (
        tr.select("_sh")
        .unionAll(ev.select("_sh"))
        .groupBy("_sh")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") <= 1000)
        .select("_sh")
    )
    tr = tr.join(df_all, "_sh")
    ev = ev.join(df_all, "_sh")
    common = (
        tr.select(F.col("_id").alias("train_id"), "_sh")
        .join(ev.select(F.col("_id").alias("eval_id"), "_sh"), "_sh")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("_common"))
        .where(F.col("_common") >= min_common)
    )
    return common.groupBy("train_id").agg(
        F.count("*").alias("n_eval_matches"),
        F.max("_common").alias("max_common"),
    )


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Distributed connected components over a near-duplicate
    (id_a, id_b) pair graph: (node, component) with component = min
    node id reachable.

    Iterative min-label propagation — each round joins every node's
    current label against its neighbors' and keeps the minimum;
    converges in O(graph diameter) rounds (near-dup clusters are
    shallow, typically 2-3).  This is the transitive-closure step that
    turns pairwise candidates into dedup groups; genuinely iterative,
    hence no SQL oracle (differential-tested on known graphs).

    Exhausting ``max_iter`` without converging RAISES: an unconverged
    label table is silently WRONG (a long chain would split into
    several components and dedup_keep_list would keep extra
    'canonical' duplicates with no indication anything failed — the
    round-7 review finding).  Diameter > 20 means a pathological
    chain-shaped cluster; raise ``max_iter`` explicitly for it.
    """
    # Persist + materialize the (slim, 16 B/row) edge list up front:
    # every propagation ROUND is its own action (eager localCheckpoint
    # + convergence count), and each one re-joins against `edges` —
    # without the cache the caller's whole pair plan (for the jaccard
    # entries: the full inverted-index self-join) re-executed once per
    # round plus once for the label init.  Separate actions are
    # exactly where the materialization rule pays (the
    # session_attribution lesson in reverse).  The returned labels are
    # localCheckpoint'd, so dropping the edge cache on exit cannot
    # trigger recomputation downstream.
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    with owned() as held:
        persist(edges, held)
        # Round 1 is computable as ONE aggregate over the cached edge
        # list: with init labels component=node, the min-label update
        # new(v) = min(v, min neighbor ids) needs no label relation at
        # all — this replaces the old init-distinct action PLUS a full
        # propagation round (edges are symmetric, so groupBy(src)
        # covers every node).
        labels = (
            edges.groupBy(F.col("src").alias("node"))
            .agg(F.min("dst").alias("_m"))
            .select(
                "node", F.least(F.col("node"), F.col("_m")).alias("component")
            )
            .localCheckpoint(eager=True)
        )
        # Round 1 converged iff no label moved off its init value: the
        # empty graph, or one of only (a, a) self-loops.  Both return
        # here, so max_iter=1 still counts round 1 as a checked round.
        if labels.where(F.col("component") != F.col("node")).limit(1).count() == 0:
            return labels
        # Each later round is ONE join + ONE aggregate: every node's
        # own label rides the aggregate as a flagged self-contribution
        # (one row per node, so min(when(_self)) recovers it exactly),
        # which replaces the old three joins per round — the
        # labels-vs-neighbor_min join-back AND the separate
        # changed-detection join (the flag makes convergence a filter
        # over the just-checkpointed result, not a second shuffle).
        for _ in range(max_iter - 1):
            contrib = edges.join(labels, edges.dst == labels.node).select(
                "src", "component", F.lit(False).alias("_self")
            )
            selfc = labels.select(
                F.col("node").alias("src"), "component", F.lit(True).alias("_self")
            )
            updated = (
                contrib.unionByName(selfc)
                .groupBy(F.col("src").alias("node"))
                .agg(
                    F.min("component").alias("component"),
                    F.min(F.when(F.col("_self"), F.col("component"))).alias("_old"),
                )
                .localCheckpoint(eager=True)  # truncate lineage per round
            )
            release_checkpoint(labels)  # superseded by this round's checkpoint
            changed = (
                updated.where(F.col("component") != F.col("_old")).limit(1).count()
            )
            labels = updated.select("node", "component")
            if changed == 0:
                return labels
        release_checkpoint(labels)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            "(graph diameter exceeds max_iter); the partial labels would be "
            "silently wrong — raise max_iter"
        )


def dedup_keep_list(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Final dedup decision: (id, keep, component) — keep the smallest
    id of each connected near-dup component, drop the rest.  Composes
    any (id_a, id_b) pair source (exact jaccard / MinHash / embedding
    cosine) with connected_components."""
    comps = connected_components(pairs)
    return (
        df.select(F.col(id_col).alias("node"))
        .join(comps, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", F.col("node")).alias("component"),
            (F.coalesce("component", F.col("node")) == F.col("node")).alias("keep"),
        )
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """``dedup_keep_list`` with QUALITY-AWARE canonical selection:
    within each connected near-dup component keep the member with the
    HIGHEST ``score_col`` (ties -> smallest id), not the smallest id.
    The curation-pipeline refinement of keep-first — when a cluster
    holds a clean original and a mangled scrape of it, min-id keeps
    whichever crawled first; keep-best keeps the one worth training
    on.  Composes any pair source with ``connected_components``, like
    keep_list.

    Returns (id, component, score, keep).  A NULL score ranks below
    every real score (double -inf sentinel) but still wins a
    singleton component.  A NaN score ranks below EVERYTHING —
    including NULL: negation maps NaN to NaN, which Spark's ordering
    places greatest, so min_by never picks it over any alternative
    (pinned in test_dedup; an undefined quality like a 0/0 ratio is
    the member you least want to canonicalize, so losing to the
    unknown-quality NULL is the intended order).  ``score_col`` must
    be numeric (it is negated for the composite ordering); the id
    column may be ANY orderable type — string doc ids work like the
    rest of the dedup family (round-8 advisor: the old ``-node``
    tie-break was numeric-only).
    Plan: the components loop, then ONE min_by(struct) aggregate per
    component and a component-keyed join back — no window, no extra
    shuffle beyond keep_list's.
    """
    comps = connected_components(pairs)
    labeled = (
        df.select(F.col(id_col).alias("node"), F.col(score_col).alias("score"))
        .join(comps, "node", "left")
        .select(
            "node",
            "score",
            F.coalesce("component", F.col("node")).alias("component"),
        )
    )
    # composite rank (-score, node): MIN picks highest score, then
    # smallest id — deterministic for equal scores, and only the
    # (numeric) score is negated, so node can be any orderable type
    rank = F.struct(
        (-F.coalesce(F.col("score"), F.lit(float("-inf")))).alias("negs"),
        F.col("node").alias("n"),
    )
    best = labeled.groupBy("component").agg(
        F.min_by(F.col("node"), rank).alias("_best")
    )
    return labeled.join(best, "component").select(
        F.col("node").alias(id_col),
        "component",
        "score",
        (F.col("node") == F.col("_best")).alias("keep"),
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 4,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
    handles: "list[DataFrame] | None" = None,
) -> DataFrame:
    """All document pairs whose 64-bit SimHashes differ by at most
    ``max_hamming`` bits — EXACT by construction, not probabilistic:
    with the signature split into ``bands`` equal chunks and
    ``max_hamming < bands``, the pigeonhole principle guarantees two
    qualifying signatures agree exactly on at least one chunk, so the
    banded bucket join misses nothing while never forming the O(n^2)
    pair space.

    Returns (id_a, id_b, hamming), id_a < id_b.  Shuffle story: the
    signature aggregate (inside ``simhash``), then a self-join keyed on
    (band, band_bits) — candidates only; the bit_count(xor) filter
    runs per candidate in codegen.
    """
    if not 0 < bands <= 64 or 64 % bands:
        raise ValueError("bands must divide 64")
    if max_hamming >= bands:
        raise ValueError(
            "exactness needs max_hamming < bands (pigeonhole); raise bands"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    # contentless (NULL/empty/whitespace-only) docs all carry the
    # coalesced simhash 0 — banding them would put m such docs into
    # the same bucket in EVERY band, an O(m^2) clique of bogus
    # hamming-0 pairs (round-7 review finding).  Unknown content never
    # near-dups: exclude them from the pair space (exact dedup owns
    # genuinely-identical empties).
    # RAW-column contentless test (same rule as exploded_shingles):
    # rlike(NONWS_CLASS) ⟺ normalized(text) non-NULL and non-empty,
    # without evaluating the normalization regex twice in the filter.
    scorable = df.where(F.col(text_col).rlike(NONWS_CLASS))
    # hash_fn='md5' -> 60-bit oracle-parity signatures (see simhash);
    # banding still splits the full 64-bit layout, so pigeonhole
    # exactness is untouched (the top band merely has 4 constant bits).
    # _simhash_agg, not simhash: every scorable doc has >=1 token (the
    # rlike filter above guarantees a non-whitespace char), so it is
    # present in the aggregate and the public wrapper's
    # keep-every-row join-back would only rescan the input to attach
    # nothing.  Persist + materialize the slim (id, sig) rows (16
    # B/doc) so the 64-vote token aggregate — the dominant cost — runs
    # ONCE and both band-join sides read the cache (the dedup_minhash
    # pattern; before this, the whole aggregate subtree executed twice,
    # one copy per self-join side).
    # The returned plan reads the cache, so it is released through
    # ``handles`` (``operators/cache.py``).
    sigs = _simhash_agg(scorable, id_col, text_col, hash_fn=hash_fn).select(
        "_id", F.col("simhash").alias("_sig")
    )
    sigs = persist(sigs, handles)
    sigs.count()
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned("_sig", b * width).bitwiseAND(F.lit(mask)).alias("bits"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select("_id", "_sig", F.explode(band_structs).alias("bb")).select(
        "_id", "_sig", "bb.band", "bb.bits"
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a._sig").bitwiseXOR(F.col("b._sig"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs.where(F.col("hamming") <= max_hamming)


def drop_repeated_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    line_sep: str = "\n",
) -> DataFrame:
    """Corpus-level repeated-line removal (the CCNet/RefinedWeb clean
    step): every line that occurs more than once across the corpus is
    kept ONLY at its first occurrence (document id, then position) and
    dropped everywhere else — boilerplate (headers, cookie banners,
    license stubs) disappears while its first sighting survives for
    auditability.

    Pure-Catalyst shape: posexplode lines -> digest-keyed first-
    occurrence aggregate (8-byte xxhash64 + min (id,pos) struct — the
    only exchange moves digests, never line text) -> semi-style join
    back -> ordered reassembly per document, rejoined to the input so
    a document whose every line was boilerplate survives as an empty
    string (rows are never lost — downstream length filters decide its
    fate).  Lines with no characters left after stripping ALL
    whitespace (blank/formatting lines — including CRLF remnants like
    a lone ``\r`` and tab-only lines, which ``trim()`` would NOT
    catch since it strips spaces only) are exempt: deduping them would
    strip every blank separator in the corpus after the first and
    merge paragraphs corpus-wide.  NULL text passes through untouched.

    The dedup identity is ``md5(trim(line))`` — the destructive-drop
    rule of this module (64-bit digests only CO-LOCATE; decisions that
    DELETE content use the 128-bit class, same as exact_keep_first):
    at 10^12 corpus lines an xxhash64 collision would silently delete
    a genuinely unique line.
    """
    import re

    # split() takes a REGEX but array_join() a literal — escape so both
    # sides agree for any separator (".", "||", ...), not just "\n"
    sep_pattern = re.escape(line_sep)
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), sep_pattern, -1)
        ).alias("_pos", "_line"),
    )
    digest = F.md5(F.trim(F.col("_line")))
    exempt = (
        F.length(F.regexp_replace("_line", r"[ \t\r\n\f\x0b]", "")) < 1
    )
    keyed = lines.withColumn("_d", digest).withColumn("_ex", exempt)
    first = (
        keyed.where(~F.col("_ex"))
        .groupBy("_d")
        .agg(F.min(F.struct(F.col("_id").alias("i"), F.col("_pos").alias("p"))).alias("_f"))
    )
    kept = keyed.join(first, "_d", "left").where(
        F.col("_ex")
        | F.col("_f").isNull()
        | ((F.col("_f.i") == F.col("_id")) & (F.col("_f.p") == F.col("_pos")))
    )
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
            line_sep,
        ).alias("_joined")
    )
    out = df.join(rebuilt, df[id_col] == rebuilt["_id"], "left").select(
        *[df[c] for c in df.columns if c != text_col],
        F.when(df[text_col].isNull(), F.lit(None).cast("string"))
        .otherwise(F.coalesce(F.col("_joined"), F.lit("")))
        .alias(text_col),
    )
    return out.select(*df.columns)


def winnow_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: "int | None" = 1000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate near-duplicate pairs from winnowing fingerprints
    (textstats.winnow_fingerprints): documents meet iff they share a
    selected k-gram minimum, so any common substring of length
    >= w + k - 1 is caught while the inverted index is ~1/w the size
    of the full shingle index (``ngram_jaccard_pairs``' exact-set
    sibling, traded toward scale).  Returns (id_a, id_b, n_shared),
    id_a < id_b, thresholded at ``min_shared`` shared fingerprints.

    ``max_fp_df`` drops fingerprints hotter than the cap from the
    index before the self-join — same guard as ngram_jaccard_pairs:
    one boilerplate fingerprint shared by a million docs must not emit
    10^12 join rows.  Shuffles move (fingerprint, id) pairs only."""
    from aws_logs_to_parquet_converter_spark.operators.textstats import winnow_fingerprints

    fp = winnow_fingerprints(df, id_col, text_col, k=k, w=w, hash_fn=hash_fn).select(
        F.col(id_col).alias("_id"), "fingerprint"
    )
    if max_fp_df is not None:
        hot = (
            fp.groupBy("fingerprint")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_fp_df)
            .select("fingerprint")
        )
        fp = fp.join(hot, "fingerprint", "left_anti")
    a = fp.select(F.col("_id").alias("id_a"), "fingerprint")
    b = fp.select(F.col("_id").alias("id_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def drop_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    handles: list[DataFrame] | None = None,
) -> DataFrame:
    """Corpus-level exact token-SPAN dedup (Lee et al. 2021,
    arXiv:2107.06499 "Deduplicating Training Data Makes Language
    Models Better", the ExactSubstr step; C4's three-sentence-span
    removal — Raffel et al. 2020 §2.2 — is the same shape at sentence
    granularity): every n-token span that occurs more than once across
    the corpus survives ONLY at its first occurrence (document id,
    then position); all tokens covered by a later occurrence are
    dropped and the remaining tokens reassemble in order.  The
    memorization-prone repeated passage disappears corpus-wide while
    its first sighting stays auditable — the span-level member of the
    dedup family, between line-level (``drop_repeated_lines``) and
    whole-document (``exact_keep_first``).

    Where the paper builds a suffix array (single-machine, needs the
    corpus in one address space), the Spark-native form explodes
    sliding n-grams — an n-fold row blowup, but strictly linear and
    shuffle-friendly: the gram exchange moves a 16-byte md5 + (id,
    pos) per gram, never text (md5, not xxhash64 — this operator
    DELETES content, so the module's destructive-drop digest rule
    applies); the covered-position set is bounded by n * duplicate
    occurrences.

    Tokenization is the canonical whitespace split of LOWERCASED text
    (``textstats.tokens``); the rebuilt text is that normalized token
    stream joined by single spaces — span identity and output share
    one normalization, and the DuckDB oracle reproduces both.  NULL
    text passes through as NULL; a document whose every token was
    covered survives as ''.

    Plan shape: one per-document window (partitioned — lead(n-1) over
    positions), one gram-digest aggregate, a digest join back, one
    (id, pos) anti join, one per-document reassembly.  All keys
    bounded; no pair space anywhere.

    Caches: Catalyst does not reuse the tokenize/explode/window
    subplans across the three lineage branches (toks feeds both the
    gram pipeline and the anti-join probe; grams feeds both the
    first-occurrence aggregate and the occurrence join), so toks and
    grams are persisted — uncached, the explode and the per-doc window
    each evaluate up to three times (measured 2.4s vs 3.8s warm / 3.8s
    vs 9.7s cold at sf0.1).  The returned plan reads both caches, so
    they are released through ``handles`` (``operators/cache.py``).
    """
    if n < 2:
        raise ValueError(f"span length n must be >= 2, got {n}")
    toks = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokens(F.col(text_col))).alias("_pos", "_tok"),
    )
    toks = persist(toks, handles)
    w = Window.partitionBy("_id").orderBy("_pos")
    parts = [F.col("_tok")] + [F.lead("_tok", i).over(w) for i in range(1, n)]
    grams = (
        toks.select(
            "_id",
            "_pos",
            F.concat_ws(" ", *parts).alias("_g"),
            F.lead("_tok", n - 1).over(w).alias("_last"),
        )
        # a short tail window (lead NULL) is not an n-gram; concat_ws
        # silently skips NULLs, so gate on the last lead explicitly
        .where(F.col("_last").isNotNull())
        .select("_id", "_pos", F.md5(F.col("_g")).alias("_d"))
    )
    grams = persist(grams, handles)
    first = grams.groupBy("_d").agg(
        F.min(F.struct(F.col("_id").alias("i"), F.col("_pos").alias("p"))).alias("_f")
    )
    covered = (
        grams.join(first, "_d")
        .where((F.col("_f.i") != F.col("_id")) | (F.col("_f.p") != F.col("_pos")))
        .select(
            # distinct name on the covered side: toks and covered share
            # lineage, and a same-name equality predicate makes Spark
            # warn about (and have to dataset-id-disambiguate) an
            # apparent self-comparison
            F.col("_id").alias("_cid"),
            F.explode(F.sequence(F.col("_pos"), F.col("_pos") + (n - 1))).alias("_cpos"),
        )
        .distinct()
    )
    kept = toks.join(
        covered,
        (toks["_id"] == covered["_cid"]) & (toks["_pos"] == covered["_cpos"]),
        "left_anti",
    )
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_tok"))),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias("_joined")
    )
    return df.join(rebuilt, df[id_col] == rebuilt["_id"], "left").select(
        *[df[c] for c in df.columns if c != text_col],
        F.when(df[text_col].isNull(), F.lit(None).cast("string"))
        .otherwise(F.coalesce(F.col("_joined"), F.lit("")))
        .alias(text_col),
    )


def soft_dedup_weights(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Repetition-aware sampling weights ("soft dedup"): instead of
    DROPPING duplicates, every copy of a repeated document gets weight
    1/n_copies, so each content group contributes one document's worth
    of probability mass to training-mix sampling — the soft alternative
    to ``exact_keep_first`` when repetition itself is signal (popular
    boilerplate should not be over-represented, but neither silently
    erased).

    Returns (id_col, n_copies, weight_ppm) with ``weight_ppm =
    floor(1e6 / n_copies)`` — an exact-integer parts-per-million weight
    (the repo's integer-boundary discipline: no double crosses a graded
    boundary).  Content key = xxhash64 of the normalized text (the
    shared ``normalized_text`` rule); one hash-partitioned window over
    the fixed-width digest — 8 B/row through the exchange, never whole
    documents, same envelope as ``exact_duplicates``."""
    w = Window.partitionBy(F.xxhash64(_normalized(F.col(text_col))))
    n = F.count("*").over(w)
    return df.select(
        id_col,
        n.alias("n_copies"),
        F.floor(F.lit(1_000_000) / n).cast("long").alias("weight_ppm"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 5,
    min_containment_ppm: int = 800_000,
) -> DataFrame:
    """EXACT Broder containment pairs via the same inverted-index
    self-join as :func:`ngram_jaccard_pairs` — the ASYMMETRIC near-dup
    measure Jaccard misses: a short document quoted verbatim inside a
    long one has containment(short in long) ≈ 1 while Jaccard ≈
    |short|/|long| ≈ 0, so symmetric thresholds never flag
    quote-inclusion/boilerplate-wrapping duplication.

        containment(A in B) = |A ∩ B| / |A|

    Both directions are reported per candidate pair (id_a < id_b) and
    the pair is kept when EITHER reaches ``min_containment_ppm``.
    Shares the df-cap contract of ngram_jaccard_pairs at a cap of 1000
    (hot shingles
    leave the intersection index, set sizes stay exact, scores become
    lower bounds above the cap).  Output is ALL-INTEGER
    (``c * 1_000_000 div n``), so an oracle matches bit-for-bit — no
    float rounding convention needed.

    Returns (id_a, id_b, common, c_ab_ppm, c_ba_ppm): c_ab_ppm is the
    containment of id_a's shingle set in id_b's.
    """
    # per-doc distinct is in-row (no per-subplan occurrence-stream
    # dedup aggregate — same four-subplan shape and rationale as
    # ngram_jaccard_pairs)
    sh = distinct_shingles(df, id_col, text_col, shingle_n)
    sizes = sh.groupBy("_id").agg(F.count("*").alias("_n"))

    cold = (
        sh.groupBy("_sh")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") <= 1000)
        .select("_sh")
    )
    idx = sh.join(cold, "_sh")

    a = idx.alias("a")
    b = idx.alias("b")
    common = (
        a.join(
            b,
            (F.col("a._sh") == F.col("b._sh"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    scored = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "common",
            F.expr("common * 1000000 div _na").alias("c_ab_ppm"),
            F.expr("common * 1000000 div _nb").alias("c_ba_ppm"),
        )
    )
    return scored.where(
        F.greatest("c_ab_ppm", "c_ba_ppm") >= min_containment_ppm
    )
