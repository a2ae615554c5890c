"""Text analysis operators: token counting, quality scoring, language
ID, fingerprinting (north-star LLM-pipeline surface).

All native column expressions — split/filter/size/length run inside
wholestage codegen, so these scale to corpus-wide sweeps without a
Python worker.  The column builders are reused by plans/extensions.py
where each gets a DuckDB-oracle query.

Tokenization has one spelling per form: ``tokens()`` for the token
array, ``token_rows()`` for one row per token.  Both lowercase, split
on ``WS_PLUS`` and drop empty tokens.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators.cache import owned, persist

# Tiny high-frequency stopword set: enough signal for a heuristic
# language gate; a production run would swap in per-language tables.
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "it"]

# Explicit whitespace class instead of \s: Java's \s is exactly
# [ \t\n\x0B\f\r] while RE2's (the DuckDB oracle's) omits U+000B, so a
# vertical tab would make token counts disagree between the engines.
# Spelling the class out (the same trick html_to_text uses) keeps both
# sides byte-identical; Spark-side semantics are unchanged (the class
# IS Java's \s).
WS_CLASS = r"[ \t\r\n\f\x0b]"
WS_PLUS = WS_CLASS + "+"
NONWS_CLASS = r"[^ \t\r\n\f\x0b]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization of lowercased text (empty-safe), as an
    array column.

    The one spelling of the per-document token array; operators that
    need the tokens as an array call this rather than re-spell it
    (``token_rows`` is the one spelling of the same tokens as rows).

    NOTE: the filter is an interpreted higher-order function
    (CodegenFallback), evaluated once per row over ~100 short tokens —
    a per-row constant, not a pair-space multiplier (the PERF.md HOF
    ban targets hot paths evaluated per candidate pair).  Counting
    paths (``token_count``/``mean_token_len``) use the codegen regexp
    forms below instead."""
    return F.filter(F.split(F.lower(text), WS_PLUS), lambda tok: tok != "")


def token_rows(
    df: DataFrame, text: Column | str, *keep, name: str = "_tok", pos: str | None = None
) -> DataFrame:
    """The same tokens as ``tokens()``, one row each: ``keep`` columns
    plus the token as ``name`` (and its split position as ``pos``).

    The one row-form spelling; operators that aggregate per token call
    this rather than re-spell explode/split/lower.  Positions are
    ``posexplode``'s 0-based split indexes taken BEFORE the empty
    tokens drop, so a leading-whitespace text has no token at 0."""
    split = F.split(F.lower(text), WS_PLUS)
    tok = F.posexplode(split).alias(pos, name) if pos else F.explode(split).alias(name)
    return df.select(*keep, tok).where(F.col(name) != "")


def token_count(text: Column) -> Column:
    """Number of whitespace-delimited tokens — one codegen
    regexp_count of non-whitespace runs (no array materialization, no
    HOF; explicit class per the WS_CLASS note)."""
    return F.regexp_count(text, F.lit(NONWS_CLASS + "+"))


# GPT-2-style pretokenizer pattern, restricted to the Java-regex ∩ RE2
# common subset so Spark and a DuckDB oracle count IDENTICALLY: the
# published pattern's `\s+(?!\S)` lookahead is dropped (RE2 has no
# lookahead) — trailing-space runs merge into one token, a documented
# divergence that cancels in whitespace-normalized corpora.  Verified
# equal on contractions / mixed alphanumerics / punctuation runs /
# unicode letters across both engines (test_pipeline_ops).
BPE_TOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+"
    r"| ?[^ \t\r\n\f\x0b\p{L}\p{N}]+|[ \t\r\n\f\x0b]+"
)


def bpe_token_count(text: Column) -> Column:
    """Approximate BPE token count via the GPT-2 pretokenizer regex —
    the cheap budget estimator for \"how many tokens will the tokenizer
    emit\" (pretokens lower-bound BPE pieces; ~1 piece per pretoken for
    common English).  One codegen regexp_count, no Python."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_PATTERN))


def stopword_ratio(text: Column) -> Column:
    sw = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    toks = tokens(text)
    return F.when(F.size(toks) > 0, F.size(F.filter(toks, lambda tok: F.array_contains(sw, tok))) / F.size(toks)).otherwise(
        F.lit(0.0)
    )


def punct_ratio(text: Column) -> Column:
    r"""Fraction of characters that are neither word characters nor
    whitespace.  Unicode classes, NOT \w: Java's \w is ASCII-only, so
    a clean Cyrillic/Greek/accented document would count nearly every
    letter as punctuation and quality_score would cap non-Latin text
    regardless of actual quality (round-7 review finding; \p{L}\p{N}
    matches the file's other rules)."""
    n = F.length(text)
    stripped = F.length(
        F.regexp_replace(text, r"[^\p{L}\p{N}_ \t\r\n\f\x0b]", "")
    )
    return F.when(n > 0, (n - stripped) / n).otherwise(F.lit(0.0))


def mean_token_len(text: Column) -> Column:
    """Mean token length = total non-whitespace chars / token count —
    two codegen regexps, identical to summing per-token lengths."""
    tc = token_count(text)
    total = F.length(F.regexp_replace(text, WS_CLASS, ""))
    return F.when(tc > 0, total / tc).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: enough tokens, sane mean word
    length, some stopwords, low punctuation — the standard cheap
    pre-filter shape for LLM corpus cleaning."""
    tc = token_count(text)
    len_ok = F.when((tc >= 10) & (tc <= 5000), 1.0).otherwise(0.3)
    mean_ok = F.when(mean_token_len(text).between(2.0, 12.0), 1.0).otherwise(0.4)
    sw_ok = F.when(stopword_ratio(text) >= 0.05, 1.0).otherwise(0.5)
    punct_ok = F.when(punct_ratio(text) <= 0.2, 1.0).otherwise(0.5)
    return F.round((len_ok + mean_ok + sw_ok + punct_ok) / 4.0, 4)


def predict_lang(text: Column) -> Column:
    """N-gram-free heuristic language ID: English-stopword density.
    Deliberately simple (and SQL-expressible for the oracle); the
    operator seam is what matters — swap in fasttext via mapInPandas
    for production."""
    return F.when(stopword_ratio(text) >= 0.08, F.lit("en")).otherwise(F.lit("other"))


def normalized_text(text: Column) -> Column:
    """THE content-normalization key (lowercased, whitespace runs
    collapsed to single spaces, trimmed) — one definition shared by
    ``fingerprint``, ``winnow_fingerprints``, and dedup's shingle/
    fingerprint operators, so the documented "same key" parity between
    the fingerprint report and the keep-set cannot drift."""
    return F.trim(F.regexp_replace(F.lower(text), WS_PLUS, " "))


def fingerprint(text: Column) -> Column:
    """Normalized whole-document md5 fingerprint — the exact-content
    key for near-exact dedup (case/whitespace variants collapse).  For
    substring-robust fingerprinting use ``winnow_fingerprints``."""
    return F.md5(normalized_text(text))


def segment_repetition(
    df: DataFrame, id_col: str, text_col: str, delimiter: str = "\n"
) -> DataFrame:
    """Per-document duplicate-segment signals (the Gopher-style
    repetition filters): split on ``delimiter`` (newline for real
    documents -> duplicate-line fraction; space -> duplicate-token
    fraction) and measure how much of the document is repeats.

    Returns (id, n_segments, dup_fraction, dup_char_fraction):
      * dup_fraction       = (total - distinct) / total segments;
      * dup_char_fraction  = same, weighted by segment length — the
        form the Gopher rules threshold (e.g. drop > 0.3).

    Shape: explode -> two-level aggregate, one shuffle on (id, segment)
    with map-side combine, then a per-id rollup — no Python, no HOFs.
    """
    import re

    # Spark's split() takes a REGEX; DuckDB's string_split is literal —
    # escape so both sides split on the literal delimiter.
    segs = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(F.split(F.col(text_col), re.escape(delimiter))).alias("_seg"),
        )
        .where(F.trim("_seg") != "")
    )
    per_seg = segs.groupBy("_id", "_seg").agg(F.count("*").alias("_c"))
    per_doc = per_seg.groupBy("_id").agg(
        F.sum("_c").alias("_total"),
        F.count("*").alias("_distinct"),
        F.sum(F.col("_c") * F.length("_seg")).alias("_total_chars"),
        F.sum(F.length("_seg")).alias("_distinct_chars"),
    )
    return per_doc.select(
        F.col("_id").alias(id_col),
        F.col("_total").alias("n_segments"),
        ((F.col("_total") - F.col("_distinct")).cast("double") / F.col("_total").cast("double")).alias(
            "dup_fraction"
        ),
        (
            (F.col("_total_chars") - F.col("_distinct_chars")).cast("double")
            / F.col("_total_chars").cast("double")
        ).alias("dup_char_fraction"),
    )


def top_ngram_fraction(df: DataFrame, id_col: str, text_col: str, n: int = 2) -> DataFrame:
    """Fraction of a document's tokens covered by its single most
    frequent word n-gram (Gopher repetition rule: e.g. drop documents
    whose top 2-gram covers > 0.2).

    Returns (id, n_tokens, top_ngram, top_ngram_count, top_ngram_fraction)
    with fraction = n * count(top n-gram) / n_tokens (token-weighted;
    ties broken by lexicographically smallest n-gram for cross-engine
    determinism).

    Shape: posexplode tokens -> n-gram via lead() over (id, pos) — one
    window shuffle on id — then count/argmax aggregates on (id, gram).
    """
    from pyspark.sql import Window

    toks = token_rows(df, text_col, F.col(id_col).alias("_id"), pos="_pos")
    w = Window.partitionBy("_id").orderBy("_pos")
    parts = [F.col("_tok")] + [F.lead("_tok", i).over(w) for i in range(1, n)]
    grams = toks.select("_id", F.concat_ws(" ", *parts).alias("_gram"), parts[-1].alias("_last"))
    grams = grams.where(F.col("_last").isNotNull()).drop("_last")
    counts = grams.groupBy("_id", "_gram").agg(F.count("*").alias("_c"))
    # argmax with smallest-gram tiebreak, cross-engine deterministic:
    # max count per id, then MIN(gram) among the grams at that count.
    max_c = counts.groupBy("_id").agg(F.max("_c").alias("top_ngram_count"))
    top = (
        counts.join(max_c, "_id")
        .where(F.col("_c") == F.col("top_ngram_count"))
        .groupBy("_id", "top_ngram_count")
        .agg(F.min("_gram").alias("top_ngram"))
    )
    n_tok = (
        df.select(F.col(id_col).alias("_id"), token_count(F.col(text_col)).alias("n_tokens"))
    )
    return (
        n_tok.join(top, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            "top_ngram",
            F.coalesce("top_ngram_count", F.lit(0)).alias("top_ngram_count"),
            F.when(
                F.col("n_tokens") > 0,
                F.lit(n) * F.coalesce("top_ngram_count", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("top_ngram_fraction"),
        )
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic relevance/keyword
    extraction pass over a corpus.

    tf = in-document term count; idf = ln((N+1)/(df+1)) with add-one
    smoothing (N = corpus size, df = documents containing the term);
    score = tf * idf.  ln() of a ratio of exact integers is one IEEE
    op — bit-identical across engines — and ties order by term text.

    Scale shape: explode -> (doc, term) counts (one shuffle, map-side
    combine); df re-aggregates the SAME (doc, term) relation (no second
    corpus scan); the tiny N rides a broadcast scalar; top-k is one
    window over the doc id.  Returns (id, term, tf, score, rnk).
    """
    from pyspark.sql import Window

    toks = token_rows(df, text_col, F.col(id_col).alias("_id"))
    tf = toks.groupBy("_id", "_tok").agg(F.count("*").alias("tf"))
    # document frequency as a window over the SAME (doc, term) relation:
    # one exchange on term, no separate aggregate + re-join (the join
    # formulation measured 7 exchanges; this shape plans 4)
    w_tok = Window.partitionBy("_tok")
    n_docs = df.select(F.count("*").alias("_n"))
    scored = (
        tf.select("_id", "_tok", "tf", F.count("*").over(w_tok).alias("_df"))
        .join(F.broadcast(n_docs))
        .select(
            "_id",
            F.col("_tok").alias("term"),
            "tf",
            (
                F.col("tf").cast("double")
                * F.log((F.col("_n") + 1).cast("double") / (F.col("_df") + 1).cast("double"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("_id").orderBy(F.desc("score"), "term")
    return (
        scored.select(
            F.col("_id").alias(id_col), "term", "tf", "score", F.row_number().over(w).alias("rnk")
        )
        .where(F.col("rnk") <= k)
    )


def _bucket_index(tok, dim: int, hash_fn: str):
    """Token -> weight-bucket index (0..dim-1), the ONE hashing-trick
    definition shared by the trainer and the scorer so a model can
    never be applied under a different feature map than it was trained
    with."""
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(tok), F.lit(dim))
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long") % dim


def train_hashed_linear(
    df: DataFrame,
    text_col: str,
    label_col: str,
    dim: int = 64,
    lr: float = 0.5,
    iters: int = 20,
    hash_fn: str = "xxhash64",
    init_weights: "list[float] | None" = None,
    init_bias: float = 0.0,
) -> tuple[list[float], float]:
    """Distributed logistic-regression training for
    ``hashed_linear_score`` — the "train a small classifier on
    good-vs-junk text" half of the fastText-style quality filter
    (Joulin 2016; this module's scorer applies the result at corpus
    scale).  Full-batch gradient descent: per iteration, one
    distributed pass computes the exact gradient —

        per doc: p = sigmoid(b + sum(w[h(tok)]) / n_tokens), err = p-y
        grad_w[j] = mean over docs of err * tf_j / n_tokens
        grad_b    = mean err

    — as ONE token-explode aggregation keyed by bucket (<= dim rows
    collected per iteration, a model-size constant; the
    ``pq_train``/``kmeans`` bounded-driver-state discipline), then the
    driver updates the dim+1 parameters and rebuilds the literal
    weight expression for the next pass.  Deterministic: full-batch
    (no sampling), fixed iteration count, and the per-bucket gradient
    sums are integer-weighted tf ratios whose summation order only
    perturbs below float noise.

    ``label_col`` must be 0/1 (or boolean).  Rows with NULL text train
    on the bias alone (their p is sigmoid(b), their tokens contribute
    nothing) — the same degradation the scorer applies.  Returns
    (weights, bias) ready to pass to ``hashed_linear_score`` with the
    SAME dim and hash_fn.
    """
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"unsupported hash_fn: {hash_fn}")
    if iters < 1 or dim < 1:
        raise ValueError(f"iters and dim must be >= 1, got iters={iters} dim={dim}")
    # warm start (continued training / checkpoint-restart): iterating
    # N times from zero equals N one-iteration calls chained through
    # init_* — pinned in test_pipeline_ops
    if init_weights is not None and len(init_weights) != dim:
        raise ValueError(
            f"init_weights has dim {len(init_weights)}, expected {dim}"
        )
    w = [float(x) for x in init_weights] if init_weights is not None else [0.0] * dim
    b = float(init_bias)
    y = F.col(label_col).cast("double")
    toks = tokens(F.col(text_col))
    n_toks = F.size(toks)
    base = df.select(
        y.alias("_y"), toks.alias("_toks"), n_toks.cast("double").alias("_n")
    ).where(y.isNotNull())
    with owned() as held:
        base = persist(base, held)
        n_docs = base.count()
        if n_docs == 0:
            raise ValueError("train_hashed_linear: no labeled rows")
        for _ in range(iters):
            # ONE literal array node: numpy literals take the direct
            # single-Literal path, while F.lit(list)/F.array build dim
            # per-element nodes the ANALYZER must walk before constant
            # folding collapses them (r9 advisor; the r10 review caught
            # that lit(list) alone is per-element in classic PySpark) —
            # and the trainer rebuilds this every iteration
            import numpy as _np

            w_arr = F.lit(_np.asarray(w, dtype="float64"))
            wsum = F.aggregate(
                F.col("_toks"),
                F.lit(0.0),
                lambda acc, tok: acc
                + F.element_at(w_arr, (_bucket_index(tok, dim, hash_fn) + 1).cast("int")),
            )
            raw = F.lit(b) + F.when(F.col("_n") > 0, wsum / F.col("_n")).otherwise(0.0)
            err = (F.lit(1.0) / (F.lit(1.0) + F.exp(-raw)) - F.col("_y")).alias("_err")
            staged = base.select("_toks", "_n", err)
            # ONE job per iteration: grad_b rides the gradient pass as
            # an Observation collected at the pre-filter point (filters
            # cannot push through CollectMetrics, so it sees every
            # labeled doc including token-less ones), while grad_w is
            # the exploded per-bucket sum (<= dim rows to the driver).
            # Two separate actions would re-evaluate the per-token
            # sigmoid fold — the dominant cost — twice per iteration.
            from pyspark.sql import Observation

            obs = Observation()
            gw_rows = (
                staged.observe(obs, F.sum("_err").alias("s"))
                .where(F.col("_n") > 0)
                .select(
                    F.explode("_toks").alias("_tok"),
                    (F.col("_err") / F.col("_n")).alias("_g"),
                )
                .select(_bucket_index(F.col("_tok"), dim, hash_fn).alias("_j"), "_g")
                .groupBy("_j")
                .agg(F.sum("_g").alias("g"))
                .collect()
            )
            b -= lr * float(obs.get["s"]) / n_docs
            for r in gw_rows:
                w[int(r._j)] -= lr * float(r.g) / n_docs
    return w, b


def hashed_linear_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: list[float],
    bias: float = 0.0,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Hashed linear text classifier — the fastText-style quality
    filter (Joulin 2016 bag-of-features + the Weinberger 2009 hashing
    trick): each token hashes into one of ``len(weights)`` buckets,
    the document representation is the MEAN of its tokens' bucket
    weights, and

        prob = sigmoid(bias + sum(w[h(tok)]) / n_tokens)

    This is the "train a small classifier on good-vs-junk text, score
    the whole corpus" pass (CCNet / GPT-3 WebText quality filtering);
    training happens offline — this operator applies a fixed weight
    vector at corpus scale.

    Scale shape: ZERO shuffles and zero Python — the token array, the
    per-token bucket lookup (element_at on a literal weight array),
    and the left-to-right fold (F.aggregate — an interpreted JVM
    higher-order function, same seam as the cosine fold) are all
    per-row expressions, so the pass is map-only at any corpus size.
    The sequential fold also makes the sum order deterministic — the
    same order a SQL engine's list fold uses, which is what lets the
    md5 mode carry a DuckDB oracle.

    ``hash_fn``: 'xxhash64' (engine default, fastest) or 'md5'
    (first 8 hex digits as the bucket draw — reproducible in any SQL
    engine, the oracle-parity mode; same twin convention as
    ``winnow_fingerprints``).

    Returns (id, n_tokens, prob, label) with prob rounded to 4 (the
    cosine-entry convention) and label = unrounded prob >= threshold;
    empty documents score sigmoid(bias).
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"unsupported hash_fn: {hash_fn}")
    dim = len(weights)
    # single literal array node via the numpy direct path (see
    # train_hashed_linear's note; lit(list) is per-element pre-folding)
    import numpy as np

    w_arr = F.lit(np.asarray([float(x) for x in weights], dtype="float64"))

    def bucket_weight(tok):
        idx = _bucket_index(tok, dim, hash_fn)
        return F.element_at(w_arr, (idx + 1).cast("int"))

    toks = tokens(F.col(text_col))  # lowercases internally
    total = F.aggregate(toks, F.lit(0.0), lambda acc, tok: acc + bucket_weight(tok))
    raw = F.lit(float(bias)) + F.when(
        F.size(toks) > 0, total / F.size(toks).cast("double")
    ).otherwise(F.lit(0.0))
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-raw))
    # NULL text: tokens() yields NULL and size(NULL) is -1 under
    # Spark's default sizeOfNull — report NULL (matching SQL len(NULL)
    # and the oracle), never -1; prob degrades to sigmoid(bias) via
    # the size>0 guard above, same as an empty document
    n_tokens = F.when(F.col(text_col).isNull(), F.lit(None)).otherwise(
        F.size(toks)
    )
    return df.select(
        F.col(id_col),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(prob, 4).alias("prob"),
        (prob >= F.lit(float(threshold))).alias("label"),
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Sparck Jones Okapi weighting,
    the Lucene-default positive idf variant): for each query return the
    top-k documents by

        score(q, d) = sum over distinct query terms t of
            ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
            * tf_{t,d} * (k1 + 1)
            / (tf_{t,d} + k1 * (1 - b + b * dl_d / avgdl))

    with N = token-bearing corpus size, df_t = documents containing t,
    dl_d = document token length, avgdl = mean dl.  This is the
    benchmark-retrieval / decontamination-lookup pass a training-data
    pipeline runs against its corpus (e.g. "which training documents
    answer this eval question").

    Scale shape — the broadcast query-term set is the FIRST filter the
    exploded corpus tokens hit, so the big (doc, term) shuffle never
    happens: only tokens matching a query term survive to the tf
    aggregation (postings volume is proportional to the query terms'
    document frequency, not the corpus).  df is then a window over
    that already-filtered postings relation keyed by term (filtering
    by term keeps term-partitions complete, so the count is the true
    corpus df).  Document length is a per-row scalar (the doc's own
    non-empty token count) that rides the explode into the tf
    aggregation — no per-doc dl relation is ever aggregated, exchanged
    or joined (r15: the old dl pass was a second full corpus explode +
    groupBy(doc) whose output then shuffle-joined the postings); the
    corpus constants (N, avgdl) come from one explode-free projection
    scan reduced to a broadcast 1-row join (same extra-scalar-scan
    tradeoff as ``tfidf_top_terms``'s n_docs).  The final top-k is a
    window partitioned by query id.  Ties order by doc id.

    ``queries`` carries (query_id, query_text); k1 = 1.2, b = 0.75.
    Returns (query_id, doc_id-named-as-id_col, matched_terms, score,
    rnk) for rnk <= k.  Queries whose terms never occur in the corpus
    produce no rows (no match = no score, the retrieval convention).
    """
    from pyspark.sql import Window

    # Document length as a PER-ROW scalar (count of non-empty tokens),
    # not a second explode->groupBy(_id) corpus pass: it rides the
    # explode into the tf aggregation (constant within a doc, min() is
    # exact), so the corpus-wide dl relation — previously a full
    # explode + aggregation AND a postings-side shuffle join by _id —
    # never exists as an exchanged relation at all (r15 opt, guide
    # §2.3/§2.4: the dl exchange was one row per DOC at 100 TB).
    # NULL text: split(lower(NULL)) is NULL, size(NULL) = -1, so the
    # stats filter _dl > 0 excludes exactly the docs that produced no
    # token rows before.
    # Tokenize ONCE into an array, take _dl below the Generate, explode
    # the pre-filtered array: putting size() in the same projection as
    # the explode lets CollapseProject hoist it ABOVE the Generate,
    # where it re-tokenizes the whole document once per TOKEN row
    # (measured 3x wall on the corpus stage) — the two-step select pins
    # the per-doc evaluation order.
    arr_expr = tokens(F.col(text_col))
    toks = (
        docs.select(F.col(id_col).alias("_id"), arr_expr.alias("_arr"))
        .select("_id", F.size("_arr").alias("_dl"), "_arr")
        .select("_id", "_dl", F.explode("_arr").alias("_tok"))
    )
    dl_expr = F.size(arr_expr)
    qterms = token_rows(queries, "query_text", "query_id").distinct()
    qtoks = qterms.select("_tok").distinct()
    tf = (
        toks.join(F.broadcast(qtoks), "_tok")
        .groupBy("_id", "_tok")
        .agg(F.count("*").alias("_tf"), F.min("_dl").alias("_dl"))
    )
    postings = tf.select(
        "_id", "_tok", "_tf", "_dl",
        F.count("*").over(Window.partitionBy("_tok")).alias("_df"),
    )
    stats = (
        docs.select(dl_expr.alias("_dl"))
        .where(F.col("_dl") > 0)
        .agg(F.count("*").cast("double").alias("_n"), F.avg("_dl").alias("_avgdl"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
    )
    k1, b = 1.2, 0.75  # the Lucene defaults
    tf_part = (
        F.col("_tf").cast("double")
        * F.lit(k1 + 1.0)
        / (
            F.col("_tf").cast("double")
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("_dl").cast("double") / F.col("_avgdl"))
        )
    )
    scored = (
        postings.join(F.broadcast(stats))
        .join(F.broadcast(qterms), "_tok")
        .select("query_id", "_id", (idf * tf_part).alias("_w"))
        .groupBy("query_id", "_id")
        .agg(F.count("*").alias("matched_terms"), F.sum("_w").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "_id")
    return (
        scored.select(
            "query_id",
            F.col("_id").alias(id_col),
            "matched_terms",
            "score",
            F.row_number().over(w).alias("rnk"),
        )
        .where(F.col("rnk") <= k)
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the rolling-hash fingerprinting standard): hash every
    k-gram of the normalized text, slide a window of ``w`` consecutive
    k-gram hashes, keep each window's minimum; the distinct kept hashes
    are the document's fingerprint set.  Guarantee: any shared
    substring of length >= w + k - 1 contributes at least one shared
    fingerprint, while the index is ~1/w the size of the full k-gram
    inverted index — the storage/recall dial exact n-gram matching
    lacks at 100 TB.

    Pure-codegen shape: explode(sequence) -> substring -> hash -> one
    bounded window min per position (ROWS frame of w, partitioned by
    document — no cross-document state) -> distinct.  Returns
    (id, fingerprint) rows — feed to a self-join on ``fingerprint``
    for candidate pairs, same pattern as ``ngram_jaccard_pairs``.

    ``hash_fn``: 'xxhash64' (8-byte ints, fastest — the engine
    default) or 'md5' (hex strings whose lexicographic MIN any SQL
    engine reproduces — the oracle-parity mode)."""
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"unsupported hash_fn: {hash_fn}")
    from pyspark.sql import Window

    norm = normalized_text(F.col(text_col))
    grams = (
        df.select(F.col(id_col).alias("_id"), norm.alias("_t"))
        .select(
            "_id",
            "_t",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("_t") - (k - 1), F.lit(1)))
            ).alias("_pos"),
        )
        .select("_id", "_pos", F.expr(f"substring(_t, _pos, {k})").alias("_gram"))
    )
    h = F.xxhash64("_gram") if hash_fn == "xxhash64" else F.md5("_gram")
    win = Window.partitionBy("_id").orderBy("_pos").rowsBetween(0, w - 1)
    return (
        grams.select("_id", F.min(h).over(win).alias("fingerprint"))
        .distinct()
        .select(F.col("_id").alias(id_col), "fingerprint")
    )


def train_unigram_lm(
    corpus: DataFrame,
    text_col: str = "text",
    max_vocab: int = 50_000,
    alpha: float = 0.5,
) -> "tuple[DataFrame, float]":
    """Train a smoothed unigram language model on a corpus: the LM half
    of CCNet-style perplexity filtering (Wenzek et al. 2020,
    arXiv:1911.00359 — CCNet scores with a KenLM 5-gram; the unigram
    form keeps the same operational shape while staying exactly
    SQL-expressible for the oracle).

    Vocabulary is the ``max_vocab`` most frequent tokens (ties broken
    by token — deterministic); everything else folds into one OOV
    pseudo-token, exactly how fixed-vocab LMs treat unseen words.
    Smoothing: p(t) = (c(t) + alpha) / (N + alpha * (V + 1)).

    Returns ``(lm, oov_logp)``: a (token, logp) DataFrame bounded by
    ``max_vocab`` rows (a local relation — broadcastable by
    construction) and the log2 probability for OOV tokens.  The corpus
    is tokenized and counted exactly ONCE: the count table persists
    while the total and the ranked vocabulary read it, and the kept
    vocabulary is collected driver-side — O(max_vocab) rows, the same
    bound the scoring broadcast already imposes.  The vocabulary rank
    is a TakeOrderedAndProject (parallel partial top-k) — no global
    window, no single-task funnel, even at 10^8 distinct tokens.
    """
    counts = _unigram_counts(corpus, text_col, max_vocab)
    return _lm_from_counts(corpus.sparkSession, counts, alpha)


def _lm_from_counts(spark, counts, alpha: float):
    """The ONE smoothed-LM construction (shared by the unigram and
    bigram scorers so the formula cannot drift): (lm, oov_logp) from a
    ``_unigram_counts`` tuple."""
    import math

    kept_rows, n, kc, v = counts
    denom = float(n + alpha * (v + 1))
    lm = spark.createDataFrame(
        [(r.token, r.c) for r in kept_rows], "token string, c long"
    ).select("token", F.log2((F.col("c") + F.lit(alpha)) / F.lit(denom)).alias("logp"))
    oov_logp = math.log2((n - kc + alpha) / denom)
    return lm, oov_logp


def _unigram_counts(corpus: DataFrame, text_col: str, max_vocab: int):
    """One tokenize+count pass: returns (kept_rows, N, kept_sum, V)
    with the top-``max_vocab`` (token, c) rows collected driver-side
    (the vocab bound both LMs already impose on their broadcasts).

    The ranking is ``orderBy(...).limit(max_vocab)`` — Spark plans a
    TakeOrderedAndProject (parallel per-partition top-k, merged on the
    driver), NOT a global window: at web scale the distinct-token
    table is 10^8+ rows and a ``row_number`` over an unpartitioned
    ``Window.orderBy`` would funnel all of them through one task (the
    round-6 scale finding).  Tiebreak (count desc, token asc) is
    unchanged and deterministic."""
    toks = token_rows(corpus, text_col, name="token")
    with owned() as held:
        counts = persist(toks.groupBy("token").agg(F.count("*").alias("c")), held)
        n = counts.agg(F.sum("c")).first()[0] or 0
        kept_rows = _ranked_vocab(counts, max_vocab).collect()
    return kept_rows, n, sum(r.c for r in kept_rows), len(kept_rows)


def _ranked_vocab(counts: DataFrame, max_vocab: int) -> DataFrame:
    """Top-``max_vocab`` (token, c) by count desc, token asc —
    exposed so tests can pin the physical plan (must be a
    TakeOrderedAndProject, never a global WindowExec)."""
    return counts.orderBy(F.desc("c"), "token").limit(max_vocab)


def perplexity_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lm_corpus: "DataFrame | None" = None,
    max_vocab: int = 50_000,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document unigram perplexity — the CCNet quality-filter
    signal (low perplexity under a reference LM ~ fluent/common text;
    high ~ gibberish or out-of-domain).  ``lm_corpus`` is the reference
    corpus the LM trains on (CCNet uses Wikipedia); default trains on
    ``docs`` itself (self-perplexity: surfaces outlier documents).

    Scale shape: the LM is bounded by ``max_vocab`` and broadcast; the
    token->logp join is map-side; the per-doc mean is one shuffle of
    (id, partial sums) with map-side combine.  Documents with no
    tokens score NULL (nothing to average), kept via the left join.

    Returns (id, n_tokens, ppl) with ppl = 2^(-mean log2 p(token)).
    """
    lm, oov_logp = train_unigram_lm(
        lm_corpus if lm_corpus is not None else docs, text_col, max_vocab, alpha
    )
    # explode_OUTER keeps every document in the one token pass (a NULL
    # or all-whitespace text still yields one NULL/'' row), so the
    # zero-token docs need no second corpus scan + sort-merge join-back
    # — the old shape's docs∖per_doc left join cost two Exchanges and
    # two Sorts just to re-attach n_tokens=0 rows.  The placeholder
    # rows are excluded from both aggregates by the `when` guards
    # (count skips them; avg skips their NULLs), so a tokenless doc
    # still scores (0, NULL) exactly as the left join produced.
    toks = docs.select(
        F.col(id_col),
        F.explode_outer(F.split(F.lower(F.col(text_col)), WS_PLUS)).alias(
            "token"
        ),
    )
    scored = toks.join(F.broadcast(lm), "token", "left")
    valid = F.col("token").isNotNull() & (F.col("token") != "")
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.when(valid, 1)).alias("n_tokens"),
        F.avg(
            F.when(valid, F.coalesce(F.col("logp"), F.lit(oov_logp)))
        ).alias("_mlp"),
    )
    return per_doc.select(
        id_col,
        "n_tokens",
        F.pow(F.lit(2.0), -F.col("_mlp")).alias("ppl"),
    )


def html_to_text(html: Column) -> Column:
    """Extract readable text from HTML markup — the step between a
    crawl capture (sources/warc.py payloads) and the documents table.

    Chained codegen ``regexp_replace`` passes, all patterns inside the
    RE2 ∩ Java subset (no backreferences — script and style get their
    own passes — so a DuckDB oracle can run the identical program):

      1. drop <script>/<style> blocks wholesale (content is code, not
         text), and comments;
      2. every remaining tag -> one space (block boundaries must not
         glue words together);
      3. decode the entity five-plus-nbsp that dominate real pages
         (&amp; last, so "&amp;lt;" decodes to "&lt;" not "<");
      4. collapse whitespace, trim.

    Heuristic by design — a browser-grade extractor needs a DOM — but
    it is the standard first-pass shape (c4/CCNet pipelines do exactly
    this class of strip) and it rides the scan at zero extra cost.
    """
    t = F.regexp_replace(html, r"(?is)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"(?s)<[^>]+>", " ")
    for ent, rep in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(rep))
    # explicit whitespace class, NOT \s: Java's \s includes U+000B
    # (vertical tab) while RE2's does not — the one divergence in this
    # program's pattern set, sidestepped so the oracle stays identical
    return F.trim(F.regexp_replace(t, r"[ \t\r\n\f\x0b]+", " "))


def html_links(html: Column) -> Column:
    """Outlink extraction from HTML markup — the other half of a crawl
    pipeline's page processing (``html_to_text`` takes the content,
    this takes the link graph: PageRank-ish signals, frontier
    expansion, spam-cluster features all start here).  One codegen
    ``regexp_extract_all`` over href attributes, double- or
    single-quoted, case-insensitive; the pattern stays in the
    RE2 ∩ Java subset so a DuckDB oracle runs it verbatim.  Returns
    ``array<string>`` of the href values — all DOUBLE-quoted matches
    first (in document order), then all single-quoted ones (ditto):
    one regexp pass per quote style, concatenated, so global document
    order does NOT hold across the two styles (NULL html -> NULL, the
    usual quarantine signal)."""
    # two passes, one per quote style: a single alternation with two
    # capture groups would need a conditional group reference, which
    # regexp_extract_all's single-group contract can't express.  The
    # leading [^\w-] boundary keeps data-href/xhref attributes out —
    # RE2 has no lookbehind, so the boundary char is CONSUMED, which
    # only matters for two href attributes with zero separator between
    # them (malformed HTML; the second would be missed).
    # full whitespace class around '=' (HTML allows newlines there;
    # the explicit class, not \s, for the RE2/Java \x0b divergence —
    # same rationale as html_to_text's final collapse)
    ws = "[ \\t\\r\\n\\f\\x0b]*"
    dq = F.regexp_extract_all(
        html, F.lit(f'(?i)(?:^|[^\\w-])href{ws}={ws}"([^"]*)"'), F.lit(1)
    )
    sq = F.regexp_extract_all(
        html, F.lit(f"(?i)(?:^|[^\\w-])href{ws}={ws}'([^']*)'"), F.lit(1)
    )
    return F.concat(dq, sq)


def bigram_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lm_corpus: "DataFrame | None" = None,
    max_vocab: int = 50_000,
    alpha: float = 0.5,
    backoff: float = 0.4,
) -> DataFrame:
    """Bigram language-model scoring with Stupid Backoff (Brants et
    al. 2007, "Large Language Models in Machine Translation" — the
    web-scale scheme: unnormalized conditional scores, no discounting,
    backoff weight 0.4), the order-2 upgrade of ``perplexity_scores``:

      score(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1})    if seen,
                             backoff * p_unigram(w_i)        otherwise;

    tokens outside the ``max_vocab`` most-frequent map to ``<unk>``
    BEFORE counting, so the bigram table is over a closed vocabulary;
    a document's first token scores with the unigram model (no left
    context).  Returns (id, n_tokens, ppl) with
    ppl = 2^(-mean log2 score) — not a true perplexity (Stupid Backoff
    is unnormalized) but the standard comparable filter signal.

    Scale shape: vocabulary and unigram LM as in ``train_unigram_lm``
    (one corpus pass, driver-bounded vocab, broadcast); the bigram
    count table is at most vocab² but in practice corpus-bigram-bounded
    — it joins on the (w1, w2) pair key as a plain shuffled hash join
    (NOT broadcast: at web scale it is the big side), with the doc
    token stream's window-lag providing pairs at one (id) shuffle.
    """
    lm_src = lm_corpus if lm_corpus is not None else docs
    # ONE tokenize+count pass yields vocabulary, the smoothed unigram
    # LM, AND the c(w1) marginals (kept counts + the folded <unk>
    # remainder) — no cached token stream, nothing left persisted
    counts = _unigram_counts(lm_src, text_col, max_vocab)
    kept_rows, n, kc, _ = counts
    spark = docs.sparkSession
    uni_lm, oov_logp = _lm_from_counts(spark, counts, alpha)
    # merge the OOV remainder into any LITERAL '<unk>' vocabulary entry
    # — the mapped stream counts both as the same token, and two rows
    # with the same _w1 key would duplicate every joined bigram
    c1_map: "dict[str, int]" = {r.token: r.c for r in kept_rows}
    c1_map["<unk>"] = c1_map.get("<unk>", 0) + (n - kc)
    c1 = spark.createDataFrame(
        [(tok, c) for tok, c in c1_map.items()], "_w1 string, _c1 long"
    )
    inv = uni_lm.select("token", F.lit(True).alias("_inv"))

    def bigram_stream(src: DataFrame) -> DataFrame:
        """(_mid, _w1, _w2) adjacent-token pairs, built IN-ROW: the
        token array zips against itself shifted by one (NULL front-pad
        = "no left context"), so no window — the old per-doc lag()
        shuffled and sorted the FULL token stream once per consumer
        (two window Exchange+Sort pairs in the executed plan; adjacency
        is already explicit in the array, the exchange bought nothing).
        explode_outer keeps tokenless docs as one (_w1 NULL, _w2 NULL)
        placeholder row — the q_perplexity pattern — so the final
        join-back re-scan of ``docs`` disappears too.  Vocab fold-in
        happens per pair side via the same broadcast; a NULL side stays
        NULL (first-token/placeholder rows must not fold to <unk>)."""
        arr = tokens(F.col(text_col))
        src2 = src.select(F.col(id_col).alias("_mid"), arr.alias("_arr")).select(
            "_mid",
            "_arr",
            F.slice(
                F.concat(F.array(F.lit(None).cast("string")), F.col("_arr")),
                1,
                F.size("_arr"),
            ).alias("_prev"),
        )
        ex = src2.select(
            "_mid", F.explode_outer(F.arrays_zip("_prev", "_arr")).alias("_pr")
        ).select(
            "_mid",
            F.col("_pr._prev").alias("_w1raw"),
            F.col("_pr._arr").alias("_w2raw"),
        )
        inv1 = F.broadcast(
            inv.select(F.col("token").alias("_w1raw"), F.col("_inv").alias("_inv1"))
        )
        inv2 = F.broadcast(
            inv.select(F.col("token").alias("_w2raw"), F.col("_inv").alias("_inv2"))
        )
        return (
            ex.join(inv1, "_w1raw", "left")
            .join(inv2, "_w2raw", "left")
            .select(
                "_mid",
                F.when(F.col("_w1raw").isNull(), F.lit(None).cast("string"))
                .when(F.col("_inv1"), F.col("_w1raw"))
                .otherwise(F.lit("<unk>"))
                .alias("_w1"),
                F.when(F.col("_w2raw").isNull(), F.lit(None).cast("string"))
                .when(F.col("_inv2"), F.col("_w2raw"))
                .otherwise(F.lit("<unk>"))
                .alias("_w2"),
            )
        )

    # training side: corpus bigram conditionals c(w1 w2) / c(w1).  The
    # c(w1) marginals came for free from the vocabulary collection
    # above (local relation, broadcast), so this is one aggregation
    # over the pair stream — lazily recomputed rather than persisted:
    # nothing stays pinned in executor storage after the result
    # materializes (the earlier persist leaked for the SparkContext
    # lifetime).
    tb = bigram_stream(lm_src).where(F.col("_w1").isNotNull())
    big_lm = (
        tb.groupBy("_w1", "_w2")
        .agg(F.count("*").alias("_c12"))
        .join(F.broadcast(c1), "_w1")
        .select("_w1", "_w2", F.log2(F.col("_c12") / F.col("_c1")).alias("_logs"))
    )

    # scoring side
    db = bigram_stream(docs)
    uni = uni_lm.select(F.col("token").alias("_w2"), F.col("logp").alias("_ulp"))
    import math

    uni_of_w2 = F.coalesce(F.col("_ulp"), F.lit(oov_logp))
    lp = F.when(
        # placeholder row of a tokenless doc: no score contribution
        F.col("_w2").isNull(),
        F.lit(None).cast("double"),
    ).when(
        # the first token has no left context: unigram logp, no backoff
        F.col("_w1").isNull(),
        uni_of_w2,
    ).otherwise(
        F.coalesce(F.col("_logs"), F.lit(math.log2(backoff)) + uni_of_w2)
    )
    scored = (
        db.join(F.broadcast(uni), "_w2", "left")
        .join(big_lm, ["_w1", "_w2"], "left")
        .select("_mid", F.col("_w2").isNotNull().alias("_tokrow"), lp.alias("_lp"))
    )
    # explode_outer kept every doc in the stream (placeholders counted
    # out by the guards), so per-doc aggregation IS the final result —
    # no docs re-scan, no join-back
    return scored.groupBy("_mid").agg(
        F.sum(F.when(F.col("_tokrow"), 1).otherwise(0)).cast("long").alias("n_tokens"),
        F.avg("_lp").alias("_mlp"),
    ).select(
        F.col("_mid").alias(id_col),
        "n_tokens",
        F.pow(F.lit(2.0), -F.col("_mlp")).alias("ppl"),
    )


# The eight Gopher stopwords of the "has at least 2 stop words" rule
# (Rae et al. 2021, arXiv:2112.11446, Appendix A1.1) — distinct from
# the density heuristic's EN_STOPWORDS list above.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The published Gopher document-quality rules (Rae et al. 2021,
    Appendix A1.1) as per-rule boolean columns plus the conjunction —
    the canonical pre-training filter set, wired to this module's
    signal builders:

      * word_count_ok:   50 <= words <= 100,000
      * mean_word_ok:    3 <= mean word length <= 10
      * symbol_ratio_ok: # '#' / words <= 0.1 AND # '...' / words
        <= 0.1 (each symbol tested separately, per the paper)
      * bullet_ok:       <= 90% of lines start with a bullet
      * ellipsis_ok:     <= 30% of lines end with '...'
      * alpha_words_ok:  >= 80% of words contain a letter
      * stopwords_ok:    >= 2 of the 8 Gopher stop words present

    (The repetition rules of the same appendix — duplicate line/para
    fractions, top-n-gram coverage — need per-doc explodes and live in
    ``segment_repetition`` / ``top_ngram_fraction``; compose them with
    this row-local set for the full battery.)  Pure codegen column
    expressions — the filter rides the corpus scan.  Returns
    (id, each flag, keep = AND of all).  For an inline predicate (no
    extra projection or join-back), use ``gopher_keep``."""
    flags = gopher_flag_exprs(F.col(text_col))
    keep = None
    for c in flags.values():
        keep = c if keep is None else keep & c
    return df.select(
        F.col(id_col),
        *[c.alias(n) for n, c in flags.items()],
        keep.alias("keep"),
    )


def gopher_keep(text: Column) -> Column:
    """The Gopher battery as ONE boolean expression — filter-ready
    (``df.where(gopher_keep(F.col("text")))`` rides the scan with no
    join-back and no id assumptions)."""
    keep = None
    for c in gopher_flag_exprs(text).values():
        keep = c if keep is None else keep & c
    return keep


def gopher_flag_exprs(text: Column) -> "dict[str, Column]":
    """The seven rule expressions keyed by flag name — the single
    definition both the reporting and filtering forms share."""
    words = token_count(text)
    mean_len = mean_token_len(text)
    hashes = F.regexp_count(text, F.lit(r"#"))
    ellipses = F.regexp_count(text, F.lit(r"\.\.\."))
    lines = F.split(text, r"\n")
    n_lines = F.size(lines)
    bullets = F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•]")))
    # \r?$ — CRLF text split on \n leaves a trailing \r, and Java's $
    # would match before it while RE2's (the oracle) would not; the
    # explicit \r? keeps both engines identical
    ellipsis_ends = F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"\.\.\.\r?$")))
    # per-token letter test as an array filter (once per row — the
    # sanctioned HOF class): lookaround would be Java-only, RE2 (the
    # oracle) has none
    alpha_words = F.size(
        F.filter(
            F.split(text, WS_PLUS),
            lambda tok: (tok != "") & tok.rlike(r"\p{L}"),
        )
    )
    stop_hits = None
    for sw in GOPHER_STOPWORDS:
        # word boundaries = any non-alphanumeric (the published rule
        # counts tokenized words, so 'the,' or '(and' must hit);
        # \p{L}/\p{N} classes are RE2 ∩ Java
        hit = F.when(
            text.rlike(rf"(?i)(^|[^\p{{L}}\p{{N}}]){sw}([^\p{{L}}\p{{N}}]|$)"), 1
        ).otherwise(0)
        stop_hits = hit if stop_hits is None else stop_hits + hit
    flags = {
        "word_count_ok": (words >= 50) & (words <= 100_000),
        "mean_word_ok": (mean_len >= 3.0) & (mean_len <= 10.0),
        # the paper tests EACH symbol-to-word ratio separately ("#" and
        # "..." each <= 0.1), not their sum — a 0.06+0.06 document
        # passes (round-6 advisor finding)
        "symbol_ratio_ok": F.when(
            words > 0, (hashes / words <= 0.1) & (ellipses / words <= 0.1)
        ).otherwise(False),
        "bullet_ok": F.when(n_lines > 0, bullets / n_lines <= 0.9).otherwise(False),
        "ellipsis_ok": F.when(n_lines > 0, ellipsis_ends / n_lines <= 0.3).otherwise(
            False
        ),
        "alpha_words_ok": F.when(words > 0, alpha_words / words >= 0.8).otherwise(
            False
        ),
        "stopwords_ok": stop_hits >= 2,
    }
    return flags


# The C4 cleanup's demonstration blocklist.  The published filter uses
# the "List of Dirty, Naughty, Obscene or Otherwise Bad Words"; a
# production run swaps the real list in — entries are REGEX-ESCAPED at
# use (the real list contains regex metacharacters like '$'), and an
# EMPTY list legally disables the rule.
C4_BADWORDS = ["badword1", "badword2"]

# Terminal punctuation per C4: period, exclamation, question mark, or
# end quotation mark.  The explicit \r? keeps Java (Spark) and RE2
# (the oracle) identical on CRLF documents: Java's $ matches before a
# trailing \r, RE2's does not — the same divergence the Gopher
# ellipsis rule hardens against.
_C4_TERMINAL = r"[.!?\"]\r?$"


def c4_clean_lines(text: Column) -> Column:
    """The C4 line filter (Raffel et al. 2020, arXiv:1910.10683 §2.2):
    keep only lines that end in terminal punctuation AND carry at
    least 5 words; surviving lines re-join with newlines.  The
    per-line tests are a once-per-row array filter (the sanctioned
    HOF class — same as the Gopher bullet rule); the word count per
    line is the explicit-class regexp so the DuckDB oracle counts
    identically (see WS_CLASS)."""
    lines = F.split(text, r"\n")
    kept = F.filter(
        lines,
        lambda l: F.trim(l).rlike(_C4_TERMINAL)
        & (F.regexp_count(l, F.lit(NONWS_CLASS + "+")) >= 5),
    )
    return F.array_join(kept, "\n")


def c4_badword_hit(text: Column, badwords: "list[str] | None" = None) -> Column:
    """True iff any blocklist entry occurs as a whole word.  Entries
    are regex-escaped (the published list contains metacharacters —
    an unescaped '$' would silently never match); an empty list means
    no rule, i.e. constant False."""
    import re

    hit = F.lit(False)
    for w in badwords if badwords is not None else C4_BADWORDS:
        esc = re.escape(w.lower())
        hit = hit | F.lower(text).rlike(
            rf"(^|[^\p{{L}}\p{{N}}]){esc}([^\p{{L}}\p{{N}}]|$)"
        )
    return hit


def c4_page_rule_exprs(text: Column) -> "dict[str, Column]":
    """The C4 page-level rule expressions keyed by flag name — the ONE
    definition the reporting form (``c4_page_flags``) and the CLI's
    inline ``--c4`` gate share, mirroring ``gopher_flag_exprs``.  NULL
    text is treated as the empty page (coalesced once here), so both
    engines agree on NULL-bearing corpora."""
    t = F.coalesce(text, F.lit(""))
    cleaned = c4_clean_lines(t)
    flags = {
        "enough_sentences_ok": F.regexp_count(cleaned, F.lit(r"[.!?]")) >= 3,
        "no_lorem_ok": ~F.lower(t).contains("lorem ipsum"),
        "no_brace_ok": ~t.contains("{"),
        "no_badwords_ok": ~c4_badword_hit(t),
    }
    return flags


def c4_page_flags(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The C4 page-level rules as per-rule boolean columns plus the
    conjunction — the second canonical published pre-training filter
    battery next to the Gopher rules:

      * enough_sentences_ok: >= 3 sentences survive the line filter
        (fidelity note: C4 splits sentences with an NLP tokenizer;
        here a sentence is a terminal-punctuation occurrence in the
        CLEANED text — the standard SQL-expressible approximation,
        biased identically in both engines);
      * no_lorem_ok:   'lorem ipsum' absent (case-insensitive);
      * no_brace_ok:   '{' absent (the code-page heuristic);
      * no_badwords_ok: none of C4_BADWORDS present as whole words.

    The paper's remaining steps are separate operators here: the
    three-sentence-span dedup is the winnowing/boilerplate family,
    language ID is ``predict_lang`` — compose them downstream.  Pure
    codegen except the one row-local line filter.  NULL text behaves
    as the empty page.  Returns
    (id, cleaned_text, n_kept_lines, each flag, keep)."""
    cleaned = c4_clean_lines(F.coalesce(F.col(text_col), F.lit("")))
    n_lines = F.when(cleaned == "", F.lit(0)).otherwise(
        F.size(F.split(cleaned, r"\n"))
    )
    flags = c4_page_rule_exprs(F.col(text_col))
    keep = None
    for c in flags.values():
        keep = c if keep is None else keep & c
    return df.select(
        F.col(id_col),
        cleaned.alias("cleaned_text"),
        n_lines.alias("n_kept_lines"),
        *[c.alias(n) for n, c in flags.items()],
        keep.alias("keep"),
    )


def dsir_importance_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    buckets: int = 1024,
    alpha: float = 0.5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169
    "Data Selection for Language Models via Importance Resampling"):
    score every document by how much its hashed n-gram profile looks
    like a TARGET slice of the corpus rather than the corpus at large —
    the principled replacement for hand-tuned quality thresholds when
    curating pretraining mixes toward a domain.

        features  = unigrams + bigrams, hashed into ``buckets``
                    (the paper's hashing trick; md5 mode is the
                    cross-engine oracle-parity draw, xxhash64 the
                    production default — the `_bucket_index` rule)
        p_tgt[b]  = (c_tgt[b] + alpha) / (N_tgt + alpha * buckets)
        p_raw[b]  =  same over the whole corpus
        w(doc)    = sum over the doc's feature OCCURRENCES of
                    ln(p_tgt[b] / p_raw[b])

    ``target`` is a boolean Column over ``df``'s rows (e.g.
    ``F.col('lang') == 'en'``) — the in-corpus target slice.  Sample
    with Gumbel-top-k on the returned weight (``weighted_sample``) to
    complete the paper's resampling step.

    Scale: the two bucket-count aggregates collapse to <= ``buckets``
    rows each (map-side combine over the token explode); the log-ratio
    table is broadcast; the only data-sized shuffle is the per-doc
    weight aggregation.  Returns (id, n_feats, weight) with weight
    ROUND(3) — the q_perplexity convention absorbing last-ULP libm
    drift in ln().
    """
    if buckets < 2:
        raise ValueError(f"dsir_importance_weights: buckets must be >= 2, got {buckets}")
    from pyspark.sql import Window

    toks = token_rows(
        df, text_col, F.col(id_col).alias("_id"), target.alias("_tgt"), pos="_pos"
    )
    w_next = Window.partitionBy("_id").orderBy("_pos")
    with_next = toks.select(
        "_id", "_tgt", "_tok", F.lead("_tok").over(w_next).alias("_nxt")
    )
    feats = with_next.select(
        "_id",
        "_tgt",
        F.explode(
            F.array_compact(
                F.array(
                    F.col("_tok"),
                    F.when(
                        F.col("_nxt").isNotNull(),
                        F.concat_ws(" ", "_tok", "_nxt"),
                    ),
                )
            )
        ).alias("_feat"),
    ).select("_id", "_tgt", _bucket_index(F.col("_feat"), buckets, hash_fn).alias("_b"))

    counts = feats.groupBy("_b").agg(
        F.count("*").alias("_c_raw"),
        F.count_if(F.col("_tgt")).alias("_c_tgt"),
    )
    totals = counts.agg(
        F.sum("_c_raw").alias("_n_raw"), F.sum("_c_tgt").alias("_n_tgt")
    )
    ratio = counts.crossJoin(F.broadcast(totals)).select(
        "_b",
        (
            F.log((F.col("_c_tgt") + alpha) / (F.col("_n_tgt") + alpha * buckets))
            - F.log((F.col("_c_raw") + alpha) / (F.col("_n_raw") + alpha * buckets))
        ).alias("_lr"),
    )
    scored = (
        feats.join(F.broadcast(ratio), "_b")
        .groupBy("_id")
        .agg(F.count("*").alias("n_feats"), F.sum("_lr").alias("_w"))
    )
    return (
        df.select(F.col(id_col))
        .join(scored, F.col(id_col) == F.col("_id"), "left")
        .select(
            id_col,
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            # + 0.0 folds IEEE negative zero (a tiny negative weight
            # rounds to -0.0, which engines stringify differently)
            (F.round(F.coalesce("_w", F.lit(0.0)), 3) + F.lit(0.0)).alias("weight"),
        )
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
) -> DataFrame:
    """Per-group quantile (rank) normalization: map each row's score to
    its within-group rank percentile, so scores from heterogeneous
    sources become comparable before a GLOBAL threshold (a quality
    score of 0.6 means different things on wiki text vs crawl text —
    thresholding raw scores over-selects the easy source).

    Returns the input ids plus (rank, n, pct_e6): rank is the 1-based
    within-group rank under (score, id) — the id tiebreak makes it a
    total order, so results are deterministic and engine-identical —
    and pct_e6 = rank * 1_000_000 // n is the integer-arithmetic
    percentile (all-integer output; divide at read time).

    One partitioned window + one group count, both on the group key —
    hash-partitioned, never a single-task funnel; groups are assumed
    numerous (sources), so no skew beyond the largest source.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(score_col, id_col)
    counts = df.groupBy(group_col).agg(F.count("*").alias("n"))
    ranked = df.select(
        id_col, group_col, F.row_number().over(w).cast("long").alias("rank")
    )
    return ranked.join(counts, group_col).select(
        id_col,
        group_col,
        "rank",
        "n",
        # rank is already LONG: an int32 rank * 1000000 overflows at
        # groups past ~2147 rows (the sf1 sweep caught exactly this)
        F.expr("rank * 1000000 div n").alias("pct_e6"),
    )


def pmi_top_bigrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Collocation mining: the corpus' top adjacent-bigram
    collocations with their pointwise mutual information
    (Church & Hanks 1990) — the phrase/vocab-curation diagnostic
    ("new york" scores high PMI, "of the" scores low despite high
    count).

        pmi(a b) = ln( p(a b) / (p(a) p(b)) )
                 = ln( (c_ab / N_b) / ((c_a / N_u) (c_b / N_u)) )

    Ranking is by the INTEGER bigram count (desc, bigram asc
    tiebreak), so top-k membership is float-free; the pmi itself
    follows the q_perplexity float convention (ln both engines, final
    ROUND(3)).  ``min_count`` drops hapax bigrams whose PMI is pure
    noise.  Two token-explode aggregates (map-side combine), a
    broadcast unigram join, one TakeOrdered top-k — never a
    single-task window.

    Returns (bigram, n, pmi).
    """
    from pyspark.sql import Window

    toks = token_rows(df, text_col, F.col(id_col).alias("_row"), pos="_pos")
    w = Window.partitionBy("_row").orderBy("_pos")
    big = toks.select(
        "_tok", F.lead("_tok").over(w).alias("_nxt")
    ).where(F.col("_nxt").isNotNull())

    uni = toks.groupBy("_tok").agg(F.count("*").alias("_cu"))
    bi = big.groupBy("_tok", "_nxt").agg(F.count("*").alias("n"))
    # totals as in-plan one-row broadcasts (the q11 single-row class) —
    # no driver-side count actions, everything stays one Catalyst plan
    totals = uni.agg(F.sum("_cu").alias("_nu")).crossJoin(
        bi.agg(F.sum("n").alias("_nb"))
    )

    top = (
        bi.where(F.col("n") >= min_count)
        .orderBy(F.desc("n"), "_tok", "_nxt")
        .limit(top_k)
    )
    a = uni.select(F.col("_tok").alias("_a"), F.col("_cu").alias("_ca"))
    b = uni.select(F.col("_tok").alias("_b"), F.col("_cu").alias("_cb"))
    # broadcast the k-ROW side, stream the vocab: a 100 TB corpus'
    # unigram table is itself big — the tiny side here is top-k
    joined = (
        F.broadcast(top)
        .join(a, F.col("_tok") == F.col("_a"))
        .join(b, F.col("_nxt") == F.col("_b"))
        .crossJoin(F.broadcast(totals))
    )
    pmi = F.log(
        (F.col("n") / F.col("_nb").cast("double"))
        / (
            (F.col("_ca") / F.col("_nu").cast("double"))
            * (F.col("_cb") / F.col("_nu").cast("double"))
        )
    )
    return joined.select(
        F.concat_ws(" ", "_tok", "_nxt").alias("bigram"),
        F.col("n"),
        F.round(pmi, 3).alias("pmi"),
    )


_LN2 = 0.6931471805599453


def unigram_entropy(
    df: DataFrame,
    group_cols: "list[str]",
    text_col: str = "text",
) -> DataFrame:
    """Per-group Shannon entropy (bits) and type-token ratio of the
    unigram distribution — the corpus-health diagnostic that catches
    boilerplate floods and synthetic spam BEFORE training: natural
    English runs ~9-11 bits of unigram entropy; a template-stamped
    source collapses toward the entropy of its template.

        H = log2(N) - (1/N) * sum_w c_w * log2(c_w)

    computed from the per-(group, token) integer counts, so the only
    floats are the final ln/division (engine-side on both Spark and a
    SQL oracle; ROUND(3) absorbs last-ULP drift per the q_perplexity
    convention).  ``ttr_ppm`` (distinct tokens per million tokens) is
    all-integer.

    Two map-side-combine aggregates on the token key — no window, no
    all-pairs; vocab per group is the working set, never the corpus.

    Returns ``group_cols + (n_tokens, vocab, entropy_bits, ttr_ppm)``.
    """
    toks = token_rows(df, text_col, *group_cols)
    counts = toks.groupBy(*group_cols, "_tok").agg(F.count("*").alias("_c"))
    grouped = counts.groupBy(*group_cols).agg(
        F.sum("_c").alias("n_tokens"),
        F.count("*").alias("vocab"),
        F.sum(F.col("_c") * F.log(F.col("_c").cast("double"))).alias("_s"),
    )
    n = F.col("n_tokens").cast("double")
    entropy_nats = F.log(n) - F.col("_s") / n
    return grouped.select(
        *group_cols,
        "n_tokens",
        "vocab",
        # + 0.0 folds IEEE negative zero (a hair-below-zero entropy of
        # a near-degenerate group rounds to -0.0 on one engine and 0.0
        # on the other — the hashed-linear weight precedent)
        (F.round(entropy_nats / F.lit(float(_LN2)), 3) + F.lit(0.0)).alias(
            "entropy_bits"
        ),
        F.expr("vocab * 1000000 div n_tokens").alias("ttr_ppm"),
    )


def source_kl_divergence(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    handles: "list[DataFrame] | None" = None,
) -> DataFrame:
    """KL divergence (bits) of each group's unigram distribution from
    the whole-corpus distribution — the data-mixing diagnostic: a
    source whose KL is near 0 is redundant with the mix; a large KL
    marks distribution shift worth up/down-weighting (the same
    quantity DSIR's importance weights integrate per-document).

        KL(p_g || q) = sum_w p_w ln(p_w / q_w) / ln 2
                     = [ (1/N_g) sum_w c_gw (ln c_gw - ln c_w)
                         + ln N - ln N_g ] / ln 2

    with c_gw the per-(group, token) count and c_w the corpus count —
    every token of the group appears in the corpus, so q_w > 0 always
    and the sum is total.  Counts are exact integers; the ln/division
    is engine-side with a final ROUND(3) (q_perplexity convention).

    Shape: ONE tokenization pass into a persisted (group, token,
    count) relation — vocab-x-groups-bounded, the module's
    persisted-state trade — from which the corpus counts, the
    vocab-keyed equi-join, the group rollup and the scalar total all
    derive (one-row broadcasts, the q11 single-row class).  r15: the
    un-persisted form re-ran the corpus explode+aggregate three times
    (its three consumers need different partitionings, so exchange
    reuse never fired).  The returned plan reads that cache, so it is
    released through ``handles`` (``operators/cache.py``).

    Returns ``(group_col, n_tokens, kl_bits)``.
    """
    toks = token_rows(df, text_col, group_col)
    # Persist the slim (group, token, count) relation and derive
    # EVERYTHING from it: the r15 plan audit found the old "AQE
    # ReusedExchange serves the second read" claim never held — the
    # three consumers (join left, corpus re-aggregation, total) need
    # DIFFERENT partitionings, so the full corpus tokenization ran
    # three times (three Generate-over-scan subtrees in the executed
    # plan).  One explode+agg pass now feeds a vocab-x-groups-bounded
    # cache (the persisted-state trade the bloom/minhash operators
    # already make).  The eager count keeps concurrent consumers off
    # the cache lock (the minhash sig.count() finding).
    per_group = persist(
        toks.groupBy(group_col, "_tok").agg(F.count("*").alias("_cg")), handles
    )
    per_group.count()
    corpus = per_group.groupBy("_tok").agg(F.sum("_cg").alias("_cw"))
    joined = per_group.join(corpus, "_tok")
    inner = joined.groupBy(group_col).agg(
        F.sum("_cg").alias("n_tokens"),
        F.sum(
            F.col("_cg")
            * (
                F.log(F.col("_cg").cast("double"))
                - F.log(F.col("_cw").cast("double"))
            )
        ).alias("_s"),
    )
    total = corpus.agg(F.sum("_cw").cast("double").alias("_n"))
    ng = F.col("n_tokens").cast("double")
    kl_nats = F.col("_s") / ng + F.log(F.col("_n")) - F.log(ng)
    return inner.crossJoin(F.broadcast(total)).select(
        group_col,
        "n_tokens",
        (F.round(kl_nats / F.lit(float(_LN2)), 3) + F.lit(0.0)).alias(
            "kl_bits"
        ),
    )
