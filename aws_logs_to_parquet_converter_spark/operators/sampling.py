"""Corpus sampling and sequence packing for training-data pipelines
(north-star extensions; no reference counterpart).

Both operators are pure window/aggregate compositions — one shuffle on
the stratum key, no Python, deterministic across runs and engines:

  * ``stratified_sample`` — exactly n rows per stratum, chosen by a
    content-independent deterministic hash order.  The per-stratum
    ordering key is ``md5(key || seed)``: md5 is bit-identical in
    Spark and DuckDB, so the oracle can reproduce the exact sample
    (xxhash64 would be ~4x cheaper but is engine-specific; swap it in
    for production where no cross-engine oracle is needed).
  * ``pack_sequences`` — offset-based sequence packing: documents are
    concatenated in a deterministic order within each group and each
    document is assigned to the budget-sized bin its FIRST token falls
    in.  This is the "concat then chunk" packing used to build
    fixed-length training examples; bins can overflow by at most one
    document (a doc straddling a boundary belongs to its starting
    bin), which matches how a downstream tokenizer-chunker sees the
    stream.  Expressible as one cumulative-sum window — no iterative
    state, so it scales as a single shuffle on the group key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators.cache import persist


def _order_key(key: Column, seed: int) -> Column:
    return F.md5(F.concat(key.cast("string"), F.lit(f"#{seed}")))


def _hex_threshold(x: float) -> str:
    """A unit-interval value as the 8-hex-char threshold its md5
    prefix compares against — the ONE clamp both mix_sources and
    assign_splits use (clamped to 8 chars: a 9-char '100000000' would
    compare lexicographically BELOW '40000000' and invert the
    filter); >= 1.0 returns 'g', which sorts above every hex digit
    (keep-all)."""
    if x >= 1.0:
        return "g"
    return format(min(max(0, int(x * 0x1_0000_0000)), 0xFFFFFFFF), "08x")


def stratified_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n_per_group: int,
    seed: int = 42,
) -> DataFrame:
    """Exactly ``n_per_group`` rows per ``group_col`` stratum (fewer if
    the stratum is smaller), deterministic in (key, seed).

    One window over the stratum: rank rows by the md5 hash of their
    key and keep the first n.  ``key_col`` must be unique per row (an
    id) — duplicate keys tie on both sort terms and the boundary pick
    would fall to partition order, breaking the determinism contract.  At 100 TB this is a single shuffle on
    the stratum key; if one stratum dominates, AQE's skew handling
    splits it (ranking within a stratum still needs its rows together
    — same requirement as any per-group top-k)."""
    w = Window.partitionBy(group_col).orderBy(_order_key(F.col(key_col), seed), key_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_per_group)
        .drop("_rn")
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    n: int,
    seed: int = 42,
    by: str | None = None,
) -> DataFrame:
    """Weighted random sample WITHOUT replacement, exact size n
    (Efraimidis & Spirakis 2006, IPL — the A-Res priority-key
    algorithm): each row draws u = uniform(0,1) from the md5 of its
    key and is ranked by priority -ln(u)/w (ascending == descending
    u^(1/w), the paper's key, numerically stabler); the top n
    priorities ARE a weighted sample without replacement — P(row in
    sample) increases with its weight, exactly the "sample training
    docs proportional to quality/length" pass corpus mixing needs when
    per-SOURCE rates (mix_sources) are too coarse.

    Deterministic in (key, seed) — same md5-threshold discipline as
    every sampler in this module, so any SQL engine reproduces the
    exact sample (u has 48 md5 bits: ('0x'||substring(md5, 1, 12)) in
    DuckDB).  Rows with NULL or non-positive weight are excluded (no
    priority is defined for them — the paper's w > 0 domain).

    Scale shape: the priority is one per-row md5+arithmetic
    projection.  ``by=None`` takes the global top-n via orderBy+limit
    — a TakeOrderedAndProject (parallel per-partition top-n, merged on
    the driver), NEVER a single-task window; with ``by`` set it is one
    partitioned window per group, the ``stratified_sample`` shape.

    ``key_col`` must be unique per row (ties on (priority, key) would
    fall to partition order and break determinism — same contract as
    ``stratified_sample``)."""
    if n < 0:
        raise ValueError(f"n must be >= 0, got {n}")
    u = (
        (
            F.conv(F.substring(_order_key(F.col(key_col), seed), 1, 12), 16, 10).cast(
                "double"
            )
            + F.lit(1.0)
        )
        / F.lit(float(16**12 + 1))
    )
    pri = -F.log(u) / F.col(weight_col).cast("double")
    eligible = df.where(
        F.col(weight_col).isNotNull()
        & (F.col(weight_col).cast("double") > 0)
        # Spark compares NaN GREATER than everything, so NaN > 0 passes
        # — but no priority is defined for NaN weight (outside the
        # paper's w > 0 domain); in a group smaller than n such a row
        # would enter the sample (r9 advisor)
        & ~F.isnan(F.col(weight_col).cast("double"))
    ).withColumn("_pri", pri)
    if by is None:
        out = eligible.orderBy("_pri", key_col).limit(n)
    else:
        w = Window.partitionBy(by).orderBy("_pri", key_col)
        out = (
            eligible.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= n)
            .drop("_rn")
        )
    return out.drop("_pri")


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_chars: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into overlapping fixed-width character windows
    (the pre-tokenization chunker for long-context corpora): chunk i
    covers ``[i*(chunk_chars-overlap), +chunk_chars)``; the final
    chunk may be short, and every document emits at least one chunk
    (empty docs emit one empty chunk).

    Pure codegen row expansion — explode(sequence) + substring, the
    same measured-fast shape as the shingle pipeline; fan-out is
    len/(chunk-overlap) rows per doc with no shuffle at all.
    Returns (id, chunk_idx, chunk_start, chunk_text).
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    step = chunk_chars - overlap
    # NULL text would make the sequence() bound NULL and explode() drop
    # the document entirely — coalesce to the empty doc the docstring
    # promises (one empty chunk)
    n = F.length(F.coalesce(F.col(text_col), F.lit("")))
    n_chunks = F.greatest(F.ceil((n - F.lit(overlap)) / F.lit(step)), F.lit(1)).cast("int")
    return df.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("_i"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
    ).select(
        id_col,
        F.col("_i").alias("chunk_idx"),
        (F.col("_i") * step).cast("long").alias("chunk_start"),
        F.expr(f"substring(_t, _i * {step} + 1, {chunk_chars})").alias("chunk_text"),
    )


def chunk_by_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Token-budget chunking — the unit downstream tokenizers and
    sequence packers actually consume (``chunk_documents`` is the
    character-window sibling): whitespace tokens of the lowercased
    text grouped into windows of ``chunk_tokens`` with ``overlap``
    tokens shared between neighbors; chunk text re-joins with single
    spaces (the token stream is the chunk's identity, not the original
    spacing).  Token-less documents (empty/NULL text) emit nothing —
    there is no token window to cut.

    Zero-shuffle row expansion: explode(sequence) over an all-integer
    chunk count ((n - overlap + step - 1) div step — no float
    rounding ambiguity for an external engine to diverge on), ONE
    slice per output row, array_join; fan-out is ~n/step rows per
    doc.  (The tokenization itself shares ``textstats.tokens``, whose
    empty-filter is an interpreted HOF — a per-DOCUMENT constant, the
    same sanctioned seam as every tokens() consumer, not a per-chunk
    cost.)  Returns (id, chunk_idx, n_chunk_tokens, chunk_text)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    from aws_logs_to_parquet_converter_spark.operators.textstats import tokens

    step = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1), F.floor((n - F.lit(overlap) + F.lit(step - 1)) / F.lit(step))
    ).cast("int")
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), toks.alias("_toks"), n.alias("_n"), n_chunks.alias("_nc"))
        .where(F.col("_n") > 0)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_idx"),
            F.col("_toks"),
        )
        # slice once per output row, then derive both outputs from it
        # (the inline form evaluated the O(chunk_tokens) slice twice —
        # r10 review)
        .select(
            id_col,
            "chunk_idx",
            F.slice(
                F.col("_toks"), F.col("chunk_idx") * step + 1, chunk_tokens
            ).alias("_chunk"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.size("_chunk").alias("n_chunk_tokens"),
            F.array_join("_chunk", " ").alias("chunk_text"),
        )
    )


def mix_sources(
    df: DataFrame,
    source_col: str,
    key_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """Weighted corpus mixing: keep each row with its source's sampling
    rate, deterministically in (key, seed) — the multi-source blend
    step of a training-data pipeline ("2 parts web, 1 part code, ...").

    Mechanism: a row survives iff the first 8 hex chars of
    ``md5(key#seed)`` are lexicographically below the rate's 32-bit
    hex threshold.  Fixed-width lowercase hex compares exactly like
    the number it encodes, and md5 is bit-identical in Spark and
    DuckDB, so an oracle reproduces the exact sample without any
    engine-specific hash or hex->int conversion.  Zero shuffles: the
    filter is a per-row codegen expression; rates broadcast as a
    literal CASE.  Rate 1.0 keeps everything (threshold above the hex
    alphabet); rate 0.0 drops the source."""

    cond = F.lit(_hex_threshold(default_rate))
    for src, rate in sorted(rates.items()):
        cond = F.when(F.col(source_col) == src, F.lit(_hex_threshold(rate))).otherwise(cond)
    unit = F.substring(_order_key(F.col(key_col), seed), 1, 8)
    return df.where(unit < cond)


def pack_sequences(
    df: DataFrame,
    group_col: str,
    id_col: str,
    token_count_col: Column | str,
    budget: int,
) -> DataFrame:
    """Assign each document a packing ``bin_id`` within its group:
    documents are laid out in ``id_col`` order and a document belongs
    to the bin containing its first token (offset // budget).

    Returns the input plus (n_tokens, start_offset, bin_id)."""
    tok = F.col(token_count_col) if isinstance(token_count_col, str) else token_count_col
    # ROWS frame, not the default RANGE frame: under RANGE, rows with
    # DUPLICATE ids are frame peers and each would receive a cumulative
    # sum including the other's tokens — overlapping offsets that break
    # the bin-budget invariant (round-7 review finding).  With ROWS,
    # duplicate ids still pack disjointly (their relative order is then
    # input-order, so unique ids remain the determinism contract).
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(tok).over(w)
    start = (cum - tok).cast("long")
    return df.select(
        "*",
        tok.cast("long").alias("n_tokens"),
        start.alias("start_offset"),
        F.floor(start / F.lit(budget)).cast("long").alias("bin_id"),
    )


def mix_to_token_budget(
    df: DataFrame,
    source_col: str,
    key_col: str,
    token_col: str,
    targets: "dict[str, float]",
    budget: int,
    default_target: float = 0.0,
    seed: int = 42,
) -> DataFrame:
    """Budget-driven corpus mixing: sample each source at the rate that
    lands its share of a ``budget``-token corpus on the ``targets``
    fractions ("60% web, 30% code, ... into 1T tokens") — the
    data-dependent sibling of ``mix_sources``, which takes rates the
    caller already knows.

    rate(source) = min(1, target_frac * budget / total_tokens(source)),
    computed IN-PLAN: one per-source aggregate (map-side combined, k
    rows out), broadcast-joined back, then the same deterministic
    md5-threshold filter as ``mix_sources`` — no driver-side collect,
    no second pass over the data.  A source whose target demands more
    tokens than it has saturates at rate 1 (take everything; the mix
    under-fills rather than inventing data).

    Every arithmetic step (double multiply/divide, floor, 8-hex-char
    threshold) is IEEE-exact and engine-agnostic, so a SQL oracle
    reproduces the EXACT sample."""
    totals = df.groupBy(source_col).agg(F.sum(token_col).alias("_tok"))
    tgt: Column = F.lit(float(default_target))
    for s, frac in sorted(targets.items()):
        tgt = F.when(F.col(source_col) == s, F.lit(float(frac))).otherwise(tgt)
    rates = totals.select(
        source_col,
        F.least(
            F.lit(1.0), tgt * F.lit(float(budget)) / F.col("_tok").cast("double")
        ).alias("_rate"),
    )
    thresh = F.lpad(
        F.lower(
            F.hex(
                F.least(
                    F.lit(0xFFFFFFFF),
                    F.floor(F.col("_rate") * F.lit(float(1 << 32))).cast("long"),
                )
            )
        ),
        8,
        "0",
    )
    unit = F.substring(_order_key(F.col(key_col), seed), 1, 8)
    return (
        df.join(F.broadcast(rates), source_col)
        .where((F.col("_rate") >= 1.0) | (unit < thresh))
        .drop("_rate")
    )


def temperature_mix(
    df: DataFrame,
    source_col: str,
    key_col: str,
    token_col: str,
    budget: int,
    alpha: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """TEMPERATURE-based source mixing (the multinomial
    temperature-sampling mix of mT5 — Xue et al. 2021 §3.1, following
    Devlin 2019's multilingual sampling; also the data-mixing shape in
    LLaMA-style corpus reports): sample source ``s`` so its share of a
    ``budget``-token corpus is

        p_s = n_s^alpha / sum_t n_t^alpha,

    i.e. ``alpha = 1`` keeps natural proportions, ``alpha -> 0``
    approaches uniform-per-source — the standard lever for boosting
    low-resource sources without hand-writing per-source targets
    (``mix_to_token_budget`` is the explicit-targets sibling).

    Fully in-plan like the other mixers: ONE per-source token
    aggregate (k rows), a one-row powered-sum broadcast (the
    sanctioned single-row cross-join class), rate = min(1,
    budget * p_s / n_s) broadcast back, then the shared deterministic
    md5-threshold filter — no driver collect, no second data pass,
    and an oversubscribed source saturates at rate 1 (under-fill,
    never invent data).

    Cross-engine exactness: every step is a correctly-rounded IEEE
    operation EXCEPT ``pow`` — which is why ``alpha = 0.5`` (the mT5
    default region) evaluates via ``sqrt`` (correctly rounded in IEEE
    754, so DuckDB and the JVM produce bit-identical doubles).  The
    powered weights are then QUANTIZED to integers before the
    denominator sum: a double sum of irrational weights would be
    summation-ORDER dependent in its last ulp, and neither engine
    pins aggregate order — integers make the denominator exact and
    order-free, so a SQL oracle reproduces the exact sample.  The
    quantization is SCALE-INVARIANT — ``round(w / max(w) * 1e12)`` —
    so the integers are bounded by 1e12 regardless of corpus size (an
    absolute ``w * 1e6`` overflows BIGINT once a source's powered
    weight passes ~9.2e12, i.e. alpha near 1 on a ~10T-token source —
    exactly the documented 100 TB regime; the max itself rides the
    same one-row broadcast class as the denominator).  Other alphas
    go through ``pow`` and may differ from an oracle in the last ulp
    on threshold-boundary rows — differential-test those with a
    tolerance, or grade at alpha=0.5.
    """
    tok = F.col("_tok").cast("double")
    powered = F.sqrt(tok) if alpha == 0.5 else F.pow(tok, F.lit(float(alpha)))
    totals = df.groupBy(source_col).agg(F.sum(token_col).alias("_tok"))
    totals = totals.select(source_col, "_tok", powered.alias("_pw"))
    scale = totals.agg(F.max("_pw").alias("_pwmax"))
    totals = totals.join(F.broadcast(scale)).select(
        source_col,
        "_tok",
        F.round(F.col("_pw") / F.col("_pwmax") * F.lit(1e12)).cast("long").alias("_pwq"),
    )
    denom = totals.agg(F.sum("_pwq").alias("_denom"))
    rates = (
        totals.join(F.broadcast(denom))
        .select(
            source_col,
            F.least(
                F.lit(1.0),
                F.lit(float(budget))
                * (F.col("_pwq").cast("double") / F.col("_denom").cast("double"))
                / tok,
            ).alias("_rate"),
        )
    )
    thresh = F.lpad(
        F.lower(
            F.hex(
                F.least(
                    F.lit(0xFFFFFFFF),
                    F.floor(F.col("_rate") * F.lit(float(1 << 32))).cast("long"),
                )
            )
        ),
        8,
        "0",
    )
    unit = F.substring(_order_key(F.col(key_col), seed), 1, 8)
    return (
        df.join(F.broadcast(rates), source_col)
        .where((F.col("_rate") >= 1.0) | (unit < thresh))
        .drop("_rate")
    )


def quantile_band_filter(
    df: DataFrame,
    value_col: str,
    lower_q: float = 0.01,
    upper_q: float = 0.99,
) -> DataFrame:
    """Keep rows whose ``value_col`` lies within the [lower_q, upper_q]
    exact-percentile band — the winsorizing length filter of a corpus
    clean ("drop the pathological 1% shortest/longest docs") applied to
    any numeric signal (chars, tokens, quality score).

    One global two-value aggregate (exact interpolated percentiles,
    map-side partial) broadcast back over the scan; the filter itself
    is pure codegen.  The single-row broadcast nested loop is O(n),
    not a pair space.  Exact percentiles (not approx_percentile)
    because the band must be engine-reproducible; at 100 TB swap
    ``F.percentile`` for ``approx_percentile`` if the exact sort-based
    aggregate's memory bound ever bites — the operator's shape is
    unchanged."""
    if not 0.0 <= lower_q <= upper_q <= 1.0:
        raise ValueError(f"bad quantile band: [{lower_q}, {upper_q}]")
    bounds = df.agg(
        F.percentile(value_col, F.lit(lower_q)).alias("_lo"),
        F.percentile(value_col, F.lit(upper_q)).alias("_hi"),
    )
    return (
        df.join(F.broadcast(bounds))
        .where(F.col(value_col).cast("double").between(F.col("_lo"), F.col("_hi")))
        .drop("_lo", "_hi")
    )


def assign_splits(
    df: DataFrame,
    key_col: str,
    splits: "dict[str, float] | None" = None,
    seed: int = 42,
) -> DataFrame:
    """Deterministic train/val/test assignment: every row gets a ``split``
    label from the same md5 unit-interval trick as ``mix_sources``, so
    the partition is (a) stable under reshuffling/re-runs, (b) disjoint
    and exhaustive by construction, and (c) exactly reproducible by any
    SQL engine auditing the release (the oracle re-derives it).

    ``splits`` maps label -> fraction in iteration order; fractions
    must sum to 1 (±1e-9).  The LAST split takes everything above the
    penultimate cumulative threshold, so float rounding can never
    orphan a row.  Zero shuffles — one codegen CASE per row.  At 100 TB
    this is the only split mechanism that survives: random() is
    non-reproducible across retries, and a global orderBy-ntile pays a
    full sort for no additional statistical quality."""
    if splits is None:
        splits = {"train": 0.98, "val": 0.01, "test": 0.01}
    if not splits:
        raise ValueError("splits must be non-empty")
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    if any(f < 0 for f in splits.values()):
        raise ValueError("split fractions must be non-negative")
    unit = F.substring(_order_key(F.col(key_col), seed), 1, 8)
    labels = list(splits)
    expr = None
    cum = 0.0
    for lbl in labels[:-1]:
        cum += splits[lbl]
        thr = _hex_threshold(cum)
        case = F.when(unit < F.lit(thr), F.lit(lbl))
        expr = case if expr is None else expr.when(unit < F.lit(thr), F.lit(lbl))
    final = F.lit(labels[-1]) if expr is None else expr.otherwise(F.lit(labels[-1]))
    return df.withColumn("split", final)


def write_training_shards(
    df: DataFrame,
    dest: str,
    n_shards: int = 64,
    key_col: str = "doc_id",
    seed: int = 42,
    size_col: "str | None" = None,
) -> "list[dict]":
    """Export a corpus as training shards: deterministic pseudo-random
    GLOBAL order, fixed shard count, manifest returned (and written as
    ``_manifest.json``).

    Trainers want (a) documents shuffled — adjacent source documents
    must not land adjacent in the stream; (b) a stable layout — the
    same corpus + seed must produce byte-identical shard membership on
    any cluster shape or retry; (c) a manifest to size epochs without
    re-scanning.  The md5 order key gives (a)+(b) in one
    ``repartitionByRange`` + task-local sort — the range exchange is
    the single shuffle, there is no global sort barrier, and
    ``shard = hash-range`` means membership is a pure function of the
    key, never of partitioning history.  Each shard directory
    ``shard=NNNN`` holds exactly one sorted parquet file.

    ``size_col`` (e.g. a precomputed token count) adds per-shard sums
    to the manifest.  Returns the manifest: one dict per shard —
    INCLUDING empty shards (n_rows 0) so positional consumers can zip
    it with range(n_shards) — aggregated from the WRITTEN output, not
    the input lineage (describes what actually landed, costs one scan
    of the just-written columns, and stays correct even if the input
    lineage is non-deterministic).  A NULL key raises at write time
    (F.raise_error in-plan, zero extra pass): NULL has no hash, so it
    has no shard."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = F.when(
        F.col(key_col).isNull(),
        F.raise_error(F.lit(f"write_training_shards: NULL {key_col} has no shard")),
    ).otherwise(F.col(key_col))
    keyed = df.withColumn("_ord", _order_key(key, seed)).withColumn(
        "shard",
        F.least(
            F.lit(n_shards - 1),
            (F.conv(F.substring("_ord", 1, 8), 16, 10).cast("double")
             / F.lit(float(0x1_0000_0000)) * n_shards).cast("int"),
        ),
    )
    (
        keyed.repartitionByRange(n_shards, "shard")
        .sortWithinPartitions("shard", "_ord")
        .drop("_ord")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(dest)
    )
    spark = df.sparkSession
    # explicit schema: an EMPTY corpus (every gate dropped every doc)
    # writes only _SUCCESS, and schema inference would raise — the
    # manifest must instead report all-zero shards (round-6 advisor
    # finding).  The written layout's schema is the input minus the
    # order key (shard is a real column in it, partition-pruned back).
    written = spark.read.schema(keyed.drop("_ord").schema).parquet(dest)
    aggs = [F.count("*").alias("n_rows")]
    if size_col is not None:
        aggs.append(F.sum(size_col).alias("size"))
    by_shard = {
        int(r["shard"]): r
        for r in written.groupBy("shard").agg(*aggs).collect()
    }
    empty = {"n_rows": 0, **({"size": 0} if size_col is not None else {})}
    manifest = [
        {
            "shard": s,
            **(
                {k: (int(v) if v is not None else None)
                 for k, v in by_shard[s].asDict().items() if k != "shard"}
                if s in by_shard
                else empty
            ),
        }
        for s in range(n_shards)
    ]
    import json

    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{dest}/_manifest.json")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(path, True)
    out.write(bytearray(json.dumps(manifest, indent=1).encode()))
    out.close()
    return manifest


def token_stream_blocks(
    df: DataFrame,
    id_col: str,
    token_count_col: Column | str,
    block_size: int,
    *,
    handles: list[DataFrame] | None = None,
) -> DataFrame:
    """GPT-style token-stream chunking: conceptually concatenate every
    document's tokens in ``id_col`` order into ONE global stream and
    cut it into fixed ``block_size`` blocks; report where each document
    lands — (n_tokens, start_offset, first_block, last_block).  This is
    the GLOBAL form of :func:`pack_sequences` (which packs within a
    group): the standard LM-pretraining sharder, where block
    ``last_block - first_block`` spans tell the downstream example
    builder which documents straddle block boundaries.

    ``id_col`` must be a TOTAL order (unique ids).  The global prefix
    sum comes from ``ranking.global_running_sum`` — two slim shuffles
    plus a partition-count-bounded collect, never a single-task window,
    so the stream layout is computed without ever materializing the
    stream.  Empty documents occupy zero tokens: their first_block ==
    last_block == the block containing their start offset.

    The (id, n_tokens) projection is persisted BEFORE the range
    exchange: ``repartitionByRange``'s boundary-sampling job executes
    its full child plan, so without the cache the token count — the
    expensive part, typically a regex tokenization of the whole corpus
    — is computed TWICE (once for boundary sampling, once for the real
    exchange; plan-verified r15).  The cache is ~16 B/row; the
    returned plan reads it and the prefix-sum internals, so both are
    released through ``handles`` (``operators/cache.py``).
    """
    if block_size < 1:
        raise ValueError(f"token_stream_blocks: block_size must be >= 1, got {block_size}")
    from aws_logs_to_parquet_converter_spark.operators.ranking import (
        global_running_sum,
    )

    tok = F.col(token_count_col) if isinstance(token_count_col, str) else token_count_col
    base = persist(df.select("*", tok.cast("long").alias("n_tokens")), handles)
    summed = global_running_sum(
        base, [F.col(id_col)], "n_tokens", sum_col="_incl", handles=handles
    )
    start = (F.col("_incl") - F.col("n_tokens")).alias("start_offset")
    return summed.select(
        *df.columns,
        "n_tokens",
        start,
        F.expr(f"(_incl - n_tokens) div {block_size}").alias("first_block"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr(f"(_incl - 1) div {block_size}"),
        )
        .otherwise(F.expr(f"(_incl - n_tokens) div {block_size}"))
        .alias("last_block"),
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    splits: "dict[str, float] | None" = None,
    seed: int = 42,
) -> DataFrame:
    """``assign_splits`` keyed by each row's duplicate-group CANONICAL
    id (min id over the normalized-content group) instead of its own
    id: exact/near-exact copies of one document always land in the SAME
    split, closing the classic train/test leakage hole per-doc hash
    splitting leaves open (a duplicated document straddling splits
    leaks the test set into training verbatim).

    Cost over plain ``assign_splits``: ONE hash-partitioned window on
    the fixed-width content digest (8 B/row shuffle key, the
    ``exact_duplicates`` envelope) to attach the canonical id; the
    split labeling itself stays a zero-shuffle codegen CASE.  Same
    md5-interval auditability: any SQL engine re-derives the partition
    from (canonical id, seed, fractions)."""
    from aws_logs_to_parquet_converter_spark.operators.textstats import (
        normalized_text,
    )

    w = Window.partitionBy(F.xxhash64(normalized_text(F.col(text_col))))
    canon = F.min(id_col).over(w)
    return assign_splits(
        df.withColumn("_canon", canon), "_canon", splits, seed
    ).drop("_canon")
