"""Training-data pipeline operators: PII scrubbing, stratified
sampling, sequence packing, contamination (operators/scrub.py,
sampling.py, dedup.contamination_check)."""

from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators import cache, sampling, scrub
from aws_logs_to_parquet_converter_spark.operators.dedup import contamination_check

SF = "/root/testdata/sf0.001"


def _pii_count(name):
    """Match count of one PII_PATTERNS class in ``text``."""
    return F.regexp_count(F.col("text"), F.lit(dict(scrub.PII_PATTERNS)[name]))


def test_scrub_redacts_every_pattern_class(spark):
    rows = [
        ("mail me at jane.doe+x@corp.example.org today",),
        ("server 192.168.001.254 responded",),
        ("ssn 123-45-6789 on file",),
        ("card 4111 1111 1111 1111 expires",),
        ("call +1 (415) 555-0199 now",),
    ]
    df = spark.createDataFrame(rows, "text string")
    texts = [r.text for r in df.select(scrub.scrub_pii(F.col("text")).alias("text")).collect()]
    for t in texts:
        assert "[PII]" in t
    assert not any("@" in t or "415" in t or "4111" in t for t in texts)
    # audit counts (the q_pii_scrub form): exactly one hit in its own class per row
    agg = df.agg(*[F.sum(_pii_count(name)).alias(name) for name, _ in scrub.PII_PATTERNS]).first()
    assert agg["email"] == 1 and agg["ipv4"] == 1 and agg["ssn"] == 1
    assert agg["card"] >= 1 and agg["phone"] >= 1


def test_scrub_leaves_clean_text_alone(spark):
    df = spark.createDataFrame([("perfectly ordinary sentence",)], "text string")
    row = df.select(
        scrub.scrub_pii(F.col("text")).alias("text"),
        *[_pii_count(name).alias(f"n_{name}") for name, _ in scrub.PII_PATTERNS],
    ).first()
    assert row.text == "perfectly ordinary sentence"
    assert all(row[f"n_{name}"] == 0 for name, _ in scrub.PII_PATTERNS)


def test_stratified_sample_exact_and_deterministic(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    s1 = sampling.stratified_sample(d, "lang", "doc_id", 7, seed=1)
    s2 = sampling.stratified_sample(d, "lang", "doc_id", 7, seed=1)
    got1 = sorted((r.lang, r.doc_id) for r in s1.select("lang", "doc_id").collect())
    got2 = sorted((r.lang, r.doc_id) for r in s2.select("lang", "doc_id").collect())
    assert got1 == got2  # same seed -> same sample
    counts = {r.lang: r.n for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    full = {r.lang: r.n for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in counts.items():
        assert n == min(7, full[lang])
    s3 = sampling.stratified_sample(d, "lang", "doc_id", 7, seed=2)
    got3 = sorted((r.lang, r.doc_id) for r in s3.select("lang", "doc_id").collect())
    assert got1 != got3  # different seed -> different sample


def test_pack_sequences_offset_semantics(spark):
    rows = [("a", 1, 1000), ("a", 2, 1000), ("a", 3, 500), ("a", 4, 2000), ("b", 1, 100)]
    df = spark.createDataFrame(rows, "grp string, id int, toks int")
    out = {
        (r.grp, r.id): (r.start_offset, r.bin_id)
        for r in sampling.pack_sequences(df, "grp", "id", "toks", budget=2048).collect()
    }
    assert out[("a", 1)] == (0, 0)
    assert out[("a", 2)] == (1000, 0)  # starts inside bin 0, straddles -> bin 0
    assert out[("a", 3)] == (2000, 0)
    assert out[("a", 4)] == (2500, 1)
    assert out[("b", 1)] == (0, 0)  # groups pack independently


def test_contamination_flags_planted_overlap(spark):
    base = "completely unrelated filler content block number %d with no shared phrases at all"
    shared = "the quick brown fox jumps over the lazy dog again and again tonight"
    train_rows = [(i, base % i) for i in range(10)] + [(10, shared + " extra tail")]
    eval_rows = [(100, shared), (101, "different eval text entirely unlike any train doc here")]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")
    hits = contamination_check(train, ev, "doc_id", "text", shingle_n=5, min_common=30)
    got = {r.train_id: r.n_eval_matches for r in hits.collect()}
    assert got == {10: 1}  # only the planted doc, only one eval match


def test_chunk_documents_window_arithmetic(spark):
    rows = [(1, "a" * 1000), (2, "b" * 512), (3, "c" * 513), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sampling.chunk_documents(df, "doc_id", "text", chunk_chars=512, overlap=64)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_start, len(r.chunk_text)))
    for chunks in by_doc.values():
        chunks.sort()
    # 1000 chars, step 448: chunks at 0, 448, 896 (ceil((1000-64)/448)=3)
    assert by_doc[1] == [(0, 0, 512), (1, 448, 512), (2, 896, 104)]
    assert by_doc[2] == [(0, 0, 512)]  # exactly one window
    assert by_doc[3] == [(0, 0, 512), (1, 448, 65)]  # one char past -> second chunk
    assert by_doc[4] == [(0, 0, 0)]  # empty doc still emits a chunk
    # overlap property: consecutive chunks share exactly 64 chars
    full = dict(rows)[1]
    assert full[448:448 + 64] == full[448:512]


def test_segment_repetition_known_fractions(spark):
    from aws_logs_to_parquet_converter_spark.operators.textstats import segment_repetition

    df = spark.createDataFrame(
        [(1, "aa bb aa aa"), (2, "x y z"), (3, "q q")], "doc_id int, text string"
    )
    rows = {r.doc_id: r for r in segment_repetition(df, "doc_id", "text", " ").collect()}
    # doc 1: 4 segments, 2 distinct -> dup_fraction 0.5; chars 8 total, 4 distinct
    assert rows[1].n_segments == 4 and rows[1].dup_fraction == 0.5
    assert rows[1].dup_char_fraction == 0.5
    assert rows[2].dup_fraction == 0.0
    assert rows[3].dup_fraction == 0.5


def test_segment_repetition_line_mode(spark):
    from aws_logs_to_parquet_converter_spark.operators.textstats import segment_repetition

    df = spark.createDataFrame(
        [(1, "same line\nsame line\nother")], "doc_id int, text string"
    )
    r = segment_repetition(df, "doc_id", "text", "\n").first()
    assert r.n_segments == 3
    assert abs(r.dup_fraction - 1 / 3) < 1e-12


def test_top_ngram_fraction_and_tiebreak(spark):
    from aws_logs_to_parquet_converter_spark.operators.textstats import top_ngram_fraction

    df = spark.createDataFrame(
        [
            (1, "b c b c b"),        # "b c" x2, "c b" x2 -> tie, min gram wins
            (2, "unique words only here"),
            (3, "solo"),             # no bigram at all
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in top_ngram_fraction(df, "doc_id", "text", 2).collect()}
    assert rows[1].top_ngram == "b c" and rows[1].top_ngram_count == 2
    assert abs(rows[1].top_ngram_fraction - 4 / 5) < 1e-12
    assert rows[2].top_ngram_count == 1
    assert rows[3].top_ngram is None and rows[3].top_ngram_count == 0
    assert rows[3].top_ngram_fraction == 0.0


def test_mix_sources_rates_and_determinism(spark):
    rows = [(i, f"s{i % 2}") for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, src string")
    mixed = sampling.mix_sources(df, "src", "k", {"s0": 0.0, "s1": 0.5})
    got = {r.src: r.n for r in mixed.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert "s0" not in got                   # rate 0 drops everything
    assert 400 <= got["s1"] <= 600           # ~50% of 1000
    # deterministic: same rows kept across runs and partitionings
    a = sorted(r.k for r in mixed.collect())
    b = sorted(r.k for r in sampling.mix_sources(
        df.repartition(13), "src", "k", {"s0": 0.0, "s1": 0.5}).collect())
    assert a == b
    # rate 1.0 keeps every row
    assert sampling.mix_sources(df, "src", "k", {"s0": 1.0, "s1": 1.0}).count() == 2000


def test_tfidf_rare_term_outranks_common(spark):
    from aws_logs_to_parquet_converter_spark.operators.textstats import tfidf_top_terms

    # "rare" appears once in one doc; "common" appears in every doc.
    rows = [
        (1, "common rare common"),
        (2, "common filler words"),
        (3, "common other tokens"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = tfidf_top_terms(df, "doc_id", "text", k=1).collect()
    top = {r.doc_id: r.term for r in out}
    assert top[1] == "rare"           # idf beats the doubled tf of "common"
    assert all(r.rnk == 1 for r in out)


def test_bpe_token_count_cross_engine_and_values(spark):
    """The BPE-ish pretokenizer regex must count IDENTICALLY in Spark
    and DuckDB (the oracle depends on it), including contractions,
    mixed alphanumerics, punctuation runs, and unicode letters."""
    import duckdb

    from aws_logs_to_parquet_converter_spark.operators.textstats import (
        BPE_TOKEN_PATTERN,
        bpe_token_count,
    )

    samples = [
        "it's a test-case, with 42 numbers... and   spaces",
        "don't stop; can't won't",
        "a1b2 c3", "", "   ", "!!!", "word", "3.14 plus 2,718",
        "naïve café über",  # unicode letters must stay single tokens
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], "i int, s string")
    got = [r.c for r in df.select("i", bpe_token_count(F.col("s")).alias("c")).orderBy("i").collect()]
    con = duckdb.connect()
    want = [
        con.execute("SELECT len(regexp_extract_all(?, ?))", [s, BPE_TOKEN_PATTERN]).fetchone()[0]
        for s in samples
    ]
    assert got == want
    # spot values: "it's" -> [ it][' s][ a]... ; "word" -> 1; empty -> 0
    assert got[samples.index("word")] == 1
    assert got[samples.index("")] == 0
    assert got[samples.index("naïve café über")] == 3


def test_hll_rollup_estimate_matches_exact_within_bound(spark):
    """The HLL union estimate must land within 5% of the exact distinct
    count, and merging per-group sketches must estimate the same as
    one global sketch (the mergeability contract)."""
    df = spark.range(50_000).select(
        (F.col("id") % 7).alias("g"), (F.col("id") % 9173).alias("v")
    )
    exact = df.select("v").distinct().count()
    merged = (
        df.groupBy("g").agg(F.hll_sketch_agg("v").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")).first().e
    )
    direct = df.agg(F.hll_sketch_estimate(F.hll_sketch_agg("v")).alias("e")).first().e
    assert abs(merged - exact) / exact < 0.05
    assert merged == direct  # same sketch content either way


def test_new_ops_tolerate_empty_and_degenerate_corpora(spark):
    """Empty input and whitespace-only documents must not throw or emit
    phantom rows in any of the round-3 text operators."""
    from aws_logs_to_parquet_converter_spark.operators.textstats import (
        segment_repetition,
        tfidf_top_terms,
        top_ngram_fraction,
    )

    empty = spark.createDataFrame([], "doc_id int, text string")
    assert segment_repetition(empty, "doc_id", "text", " ").count() == 0
    assert top_ngram_fraction(empty, "doc_id", "text").count() == 0
    assert tfidf_top_terms(empty, "doc_id", "text").count() == 0

    blank = spark.createDataFrame([(1, "   "), (2, "")], "doc_id int, text string")
    assert segment_repetition(blank, "doc_id", "text", " ").count() == 0  # no segments
    tn = {r.doc_id: r for r in top_ngram_fraction(blank, "doc_id", "text").collect()}
    assert tn[1].n_tokens == 0 and tn[1].top_ngram_fraction == 0.0
    assert tfidf_top_terms(blank, "doc_id", "text").count() == 0

    from aws_logs_to_parquet_converter_spark.operators import sketch

    empty_toks = spark.createDataFrame([], "tok string")
    sk = sketch.count_min_build(empty_toks, "tok")
    assert sk.count() == 0
    probes = spark.createDataFrame([("x",)], "tok string")
    est = sketch.count_min_estimate(sk, probes, "tok").collect()
    assert est[0].est_count == 0


def test_mix_to_token_budget_rates_and_saturation(spark):
    from aws_logs_to_parquet_converter_spark.operators import sampling

    rows = [(i, "small" if i < 40 else "big", 100) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    # small: 40 docs x 100 = 4k tokens; big: 1960 x 100 = 196k tokens.
    # budget 40k at 50/50: small wants 20k > 4k supply -> saturates
    # (keep all 40); big wants 20k of 196k -> rate ~0.102
    mixed = sampling.mix_to_token_budget(
        df, "source", "doc_id", "n_tokens",
        targets={"small": 0.5, "big": 0.5}, budget=40_000,
    )
    by_src = {r["source"]: r["n"] for r in
              mixed.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by_src["small"] == 40  # saturated: under-fill, never invent
    want_big = 20_000 / 196_000 * 1960
    assert abs(by_src["big"] - want_big) / want_big < 0.25, by_src
    # deterministic in (key, seed)
    again = sampling.mix_to_token_budget(
        df, "source", "doc_id", "n_tokens",
        targets={"small": 0.5, "big": 0.5}, budget=40_000,
    )
    assert sorted(r.doc_id for r in mixed.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_quantile_band_filter_exact_band(spark):
    df = spark.createDataFrame([(i, i) for i in range(1, 101)], "doc_id long, n long")
    kept = sorted(r.n for r in sampling.quantile_band_filter(df, "n", 0.10, 0.90).collect())
    # exact interpolated percentiles of 1..100: p10 = 10.9, p90 = 90.1
    assert kept[0] == 11 and kept[-1] == 90 and len(kept) == 80
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sampling.quantile_band_filter(df, "n", 0.9, 0.1)


def test_k_anonymize_suppresses_rare_combos(spark):
    rows = (
        [(i, "web", "en") for i in range(10)]      # passing combo
        + [(100, "web", "fr"), (101, "dark", "en")]  # singletons -> suppressed
        + [(200 + i, None, "en") for i in range(5)]  # NULL quasi value, passing
        + [(300, None, "fr")]                        # NULL quasi value, rare
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, lang string")
    out = {r.doc_id: (r.source, r.lang) for r in scrub.k_anonymize(
        df, ["source", "lang"], k=5).collect()}
    assert len(out) == len(rows)  # row count preserved
    for i in range(10):
        assert out[i] == ("web", "en")
    assert out[100] == ("*", "*") and out[101] == ("*", "*")
    for i in range(5):
        assert out[200 + i] == (None, "en")  # NULL combo with n>=k survives
    assert out[300] == ("*", "*")
    # release guarantee: every non-suppressed combo has >= k rows
    from collections import Counter
    combos = Counter(v for v in out.values() if v != ("*", "*"))
    assert all(n >= 5 for n in combos.values())
    import pytest as _pytest
    with _pytest.raises(ValueError):
        scrub.k_anonymize(df, ["source"], k=0)


def test_k_anonymize_shuffled_probe_matches_broadcast(spark):
    """broadcast_probe=False (the above-broadcast-limit fallback) must
    produce the identical release."""
    rows = (
        [(i, "web", "en") for i in range(7)]
        + [(100, "dark", "fr"), (101, None, "en"), (102, None, "en")]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, lang string")
    a = sorted(map(tuple, scrub.k_anonymize(df, ["source", "lang"], k=2).collect()))
    b = sorted(map(tuple, scrub.k_anonymize(
        df, ["source", "lang"], k=2, broadcast_probe=False).collect()))
    assert a == b


def test_k_anonymize_auto_probe_strategy(spark):
    """broadcast_probe='auto' (the default) picks the join strategy
    from an in-plan cardinality bound instead of making the caller
    know their quasi cardinality (round-6 verdict item): a tiny combo
    space gets the explicit broadcast hint; forcing the threshold
    below the estimate drops the hint (AQE's runtime conversion takes
    over); results are identical either way; a junk flag raises."""
    import pytest as _pytest

    rows = [(i, ["web", "app"][i % 2], "en") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, source string, lang string")

    auto = scrub.k_anonymize(df, ["source", "lang"], k=2)
    plan_auto = auto._jdf.queryExecution().toString()
    assert "broadcast" in plan_auto.lower()

    small = scrub.k_anonymize(
        df, ["source", "lang"], k=2, auto_broadcast_rows=1
    )
    # logical plan must carry NO broadcast hint (AQE may still convert
    # at runtime — that is the point of the fallback)
    assert "ResolvedHint" not in small._jdf.queryExecution().logical().toString()

    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, small.collect()))
    with _pytest.raises(ValueError, match="broadcast_probe"):
        scrub.k_anonymize(df, ["source", "lang"], k=2, broadcast_probe="maybe")


def test_assign_splits_disjoint_exhaustive_deterministic(spark):
    """Every row gets exactly one label; assignment is stable under
    repartitioning; fractions land near their targets; bad fraction
    sets are rejected."""
    import pytest as _pytest

    df = spark.range(0, 10_000).withColumnRenamed("id", "doc_id")
    labeled = sampling.assign_splits(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in labeled.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 10_000  # exhaustive + disjoint (one label per row)
    assert abs(counts["train"] / 10_000 - 0.8) < 0.02
    assert abs(counts["val"] / 10_000 - 0.1) < 0.01

    a = {r.doc_id: r.split for r in labeled.collect()}
    b = {r.doc_id: r.split
         for r in sampling.assign_splits(
             df.repartition(13), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    assert a == b  # partitioning must not change the assignment

    # a different seed reshuffles membership but keeps proportions
    c = {r.doc_id: r.split
         for r in sampling.assign_splits(
             df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7).collect()}
    assert a != c

    with _pytest.raises(ValueError):
        sampling.assign_splits(df, "doc_id", {"train": 0.5, "val": 0.1})  # sums to 0.6
    with _pytest.raises(ValueError):
        sampling.assign_splits(df, "doc_id", {})
    with _pytest.raises(ValueError):
        sampling.assign_splits(df, "doc_id", {"a": 1.5, "b": -0.5})


def test_winnow_fingerprints_guarantee_and_determinism(spark):
    from aws_logs_to_parquet_converter_spark.operators import textstats
    """Winnowing invariants: identical docs share ALL fingerprints; a
    doc sharing a long substring (>= w+k-1 chars) shares at least one;
    an unrelated doc shares none (at this fixture size); the set is
    ~1/w the size of the full k-gram set; partitioning doesn't matter."""
    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, shared + " alpha tail one"),
        (2, shared + " totally different ending here"),
        (3, "zzz qqq vvv kkk xxx yyy www uuu"),  # unrelated
        (4, shared + " alpha tail one"),          # exact copy of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = textstats.winnow_fingerprints(df, "doc_id", "text", k=5, w=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] == by_doc[4]                      # identical docs
    assert by_doc[1] & by_doc[2], "long shared substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]), "unrelated docs should not collide"
    n_grams = len(rows[0][1]) - 4
    assert len(by_doc[1]) <= n_grams / 2               # winnowed well below full set
    again = {(r.doc_id, r.fingerprint)
             for r in textstats.winnow_fingerprints(
                 df.repartition(7), "doc_id", "text", k=5, w=4).collect()}
    assert again == {(d, f) for d, fps in by_doc.items() for f in fps}
    # md5 mode: same SELECTION rule, engine-reproducible values
    md5fp = textstats.winnow_fingerprints(df, "doc_id", "text", k=5, w=4, hash_fn="md5")
    md5_by_doc = {}
    for r in md5fp.collect():
        md5_by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert md5_by_doc[1] == md5_by_doc[4] and md5_by_doc[1] & md5_by_doc[2]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        textstats.winnow_fingerprints(df, "doc_id", "text", k=0)
    with _pytest.raises(ValueError):
        textstats.winnow_fingerprints(df, "doc_id", "text", hash_fn="sha1")


def test_perplexity_ranks_fluent_below_gibberish(spark):
    """CCNet signal sanity: a document of corpus-common tokens scores
    LOWER perplexity than one of rare/unseen tokens; empty docs score
    NULL with 0 tokens; same inputs => same scores."""
    import math

    from aws_logs_to_parquet_converter_spark.operators.textstats import (
        perplexity_scores,
        train_unigram_lm,
    )

    common = "the cat sat on the mat"
    rows = [(i, common) for i in range(20)] + [
        (100, "the cat sat"),            # all common tokens
        (101, "zyx qwv jkl"),            # all OOV
        (102, ""),                       # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in perplexity_scores(df, max_vocab=5).collect()}
    assert got[100].ppl < got[101].ppl
    assert got[102].n_tokens == 0 and got[102].ppl is None
    again = {r.doc_id: r.ppl for r in perplexity_scores(df, max_vocab=5).collect()}
    assert again == {i: r.ppl for i, r in got.items()}

    # analytic check on a tiny LM: p(tok) = (c + 0.5)/(N + 0.5*(V+1))
    lm, oov = train_unigram_lm(df.where("doc_id = 100"), max_vocab=10)
    probs = {r.token: r.logp for r in lm.collect()}
    # corpus "the cat sat": N=3, V=3, denom = 3 + 0.5*4 = 5
    for tok in ("the", "cat", "sat"):
        assert abs(probs[tok] - math.log2(1.5 / 5.0)) < 1e-12
    assert abs(oov - math.log2(0.5 / 5.0)) < 1e-12


def test_perplexity_external_reference_lm(spark):
    """lm_corpus decouples training from scoring (the real CCNet setup:
    LM trained on a clean reference, applied to the crawl)."""
    from aws_logs_to_parquet_converter_spark.operators.textstats import perplexity_scores

    ref = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(10)], "doc_id long, text string"
    )
    crawl = spark.createDataFrame(
        [(1, "alpha beta"), (2, "delta epsilon")], "doc_id long, text string"
    )
    got = {r.doc_id: r.ppl for r in perplexity_scores(crawl, lm_corpus=ref).collect()}
    assert got[1] < got[2]  # in-domain text is less surprising


def test_write_training_shards_layout_determinism_manifest(spark, tmp_path):
    """Shard export: fixed shard count with one sorted file per shard
    dir, membership a pure function of (key, seed) — invariant under
    input partitioning — and a manifest whose sums match the corpus."""
    import glob

    from aws_logs_to_parquet_converter_spark.operators.sampling import (
        write_training_shards,
    )

    df = spark.createDataFrame(
        [(i, f"doc {i}", 10 + i % 7) for i in range(500)],
        "doc_id long, text string, n_tokens long",
    )
    dest = str(tmp_path / "shards")
    manifest = write_training_shards(df, dest, n_shards=8, size_col="n_tokens")
    assert [m["shard"] for m in manifest] == list(range(8))
    assert sum(m["n_rows"] for m in manifest) == 500
    assert sum(m["size"] for m in manifest) == sum(10 + i % 7 for i in range(500))
    for s in range(8):
        files = glob.glob(f"{dest}/shard={s}/*.parquet")
        assert len(files) == 1, f"shard {s}: {files}"
    back = spark.read.parquet(dest)
    assert back.count() == 500

    # membership is partitioning-invariant and seed-deterministic
    membership = {(r.doc_id, r.shard) for r in back.select("doc_id", "shard").collect()}
    dest2 = str(tmp_path / "shards2")
    write_training_shards(df.repartition(13), dest2, n_shards=8, size_col="n_tokens")
    m2 = {(r.doc_id, r.shard)
          for r in spark.read.parquet(dest2).select("doc_id", "shard").collect()}
    assert m2 == membership

    # adjacent source ids scatter: shard 0 must not hold a doc_id run
    ids_in_0 = sorted(r.doc_id for r in back.where("shard = 0").collect())
    assert ids_in_0 != list(range(len(ids_in_0)))

    # manifest file readable
    import json

    with open(f"{dest}/_manifest.json") as fh:
        assert json.load(fh) == manifest


def test_html_to_text_extraction(spark):
    """Strip program handles the crawl-reality cases: script/style
    bodies (including fake tags inside JS strings), comments, entities
    (incl. double-encoded &amp;lt;), block-boundary spacing, and
    whitespace collapse."""
    from aws_logs_to_parquet_converter_spark.operators.textstats import html_to_text

    cases = [
        ("<p>Hello <b>world</b></p>", "Hello world"),
        ('<script type="text/javascript">var s = "<p>not text</p>";</script>After', "After"),
        ("<style>p{}</style>Visible<!-- hidden -->", "Visible"),
        ("A&nbsp;B &amp; C &lt;tag&gt; &quot;q&quot; &#39;a&#39;", 'A B & C <tag> "q" \'a\''),
        ("&amp;lt;", "&lt;"),  # decode order: &amp; last
        ("<div>one</div><div>two</div>", "one two"),  # blocks don't glue
        ("  <p>\n  spaced\t text </p> ", "spaced text"),
        ("no markup at all", "no markup at all"),
        ("", ""),
    ]
    df = spark.createDataFrame([(i, h) for i, (h, _) in enumerate(cases)], "i long, html string")
    got = {r.i: r.txt for r in df.select("i", html_to_text(F.col("html")).alias("txt")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_write_training_shards_empty_shards_and_null_keys(spark, tmp_path):
    """The manifest carries one entry per shard INCLUDING empty ones
    (positional consumers may zip with range(n_shards)); a NULL key
    fails loudly at write time instead of silently pooling rows."""
    import pytest as _pytest

    from aws_logs_to_parquet_converter_spark.operators.sampling import (
        write_training_shards,
    )

    tiny = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    manifest = write_training_shards(tiny, str(tmp_path / "s"), n_shards=16)
    assert [m["shard"] for m in manifest] == list(range(16))
    assert sum(m["n_rows"] for m in manifest) == 2
    assert any(m["n_rows"] == 0 for m in manifest)

    with_null = spark.createDataFrame(
        [(1, "a"), (None, "b")], "doc_id long, text string"
    )
    with _pytest.raises(Exception, match="NULL doc_id"):
        write_training_shards(with_null, str(tmp_path / "s2"), n_shards=4)

    # a fully-filtered corpus (every gate dropped every document) must
    # still yield an all-zero manifest, not a schema-inference crash on
    # the _SUCCESS-only output dir (round-6 advisor finding — this is
    # exactly what `cli corpus` hits when quality gates reject all input)
    empty = tiny.where(F.lit(False))
    manifest = write_training_shards(empty, str(tmp_path / "s3"), n_shards=4)
    assert [m["shard"] for m in manifest] == list(range(4))
    assert all(m["n_rows"] == 0 for m in manifest)


def test_html_to_text_vertical_tab_and_semantic_dedup_arg_validation(spark):
    """Vertical tab collapses like any whitespace (the explicit class
    sidesteps the Java-vs-RE2 \\s divergence); a misspelled n_cells
    string raises a named error, not an opaque TypeError."""
    import pytest as _pytest

    from aws_logs_to_parquet_converter_spark.operators import similarity
    from aws_logs_to_parquet_converter_spark.operators.textstats import html_to_text

    df = spark.createDataFrame([("a\x0bb",)], "html string")
    assert df.select(html_to_text(F.col("html")).alias("t")).first().t == "a b"

    vecs = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="'auto'"):
        similarity.semantic_dedup(vecs, n_cells="Auto")


def test_bigram_scores_analytic_and_backoff(spark):
    """Stupid Backoff exactness on a hand-computable corpus, plus the
    two fallback layers: unseen bigram of seen words -> 0.4 * unigram;
    unseen word -> 0.4 * OOV mass."""
    import math

    from aws_logs_to_parquet_converter_spark.operators.textstats import bigram_scores

    train = [(1, "a b"), (2, "a b"), (3, "a b"), (4, "a c")]
    df = spark.createDataFrame(train, "doc_id long, text string")
    got = {r.doc_id: r.ppl for r in bigram_scores(df, max_vocab=10).collect()}
    # counts: a=4 b=3 c=1, N=8, V=3, denom=10; first-token p(a)=4.5/10
    exp1 = 2 ** -((math.log2(0.45) + math.log2(3 / 4)) / 2)
    exp4 = 2 ** -((math.log2(0.45) + math.log2(1 / 4)) / 2)
    assert abs(got[1] - exp1) < 1e-9 and abs(got[4] - exp4) < 1e-9
    assert got[4] > got[1]  # rarer continuation = higher surprise

    # score NEW docs against the trained corpus (lm_corpus seam)
    crawl = spark.createDataFrame(
        [(10, "b a"), (11, "a zzz")], "doc_id long, text string"
    )
    s = {r.doc_id: r.ppl for r in bigram_scores(
        crawl, lm_corpus=df, max_vocab=10).collect()}
    # doc 10: "b a" — bigram (b,a) unseen -> backoff to 0.4*p(a)
    exp10 = 2 ** -((math.log2(3.5 / 10) + (math.log2(0.4) + math.log2(4.5 / 10))) / 2)
    assert abs(s[10] - exp10) < 1e-9
    # doc 11: "a zzz" — zzz maps to <unk>: backoff to 0.4 * oov mass (0.5/10)
    exp11 = 2 ** -((math.log2(4.5 / 10) + (math.log2(0.4) + math.log2(0.5 / 10))) / 2)
    assert abs(s[11] - exp11) < 1e-9


def test_gopher_rules_battery(spark):
    """Each published rule flips on its own violation class; a
    well-formed document passes all seven."""
    from aws_logs_to_parquet_converter_spark.operators.textstats import (
        gopher_quality_flags,
    )

    good = ("the quick brown fox jumps over that lazy dog and it runs with "
            "great joy to have a fine day in the sunny park where children "
            "play games of chance and skill while parents watch from benches "
            "under shady trees that line the wide gravel paths of the garden "
            "and birds sing songs of summer in the warm evening air nearby")
    rows = [
        (1, good),
        (2, "too few words to pass the count rule"),        # word_count
        (3, " ".join(["supercalifragilisticexpialidocious"] * 60)),  # mean len + stopwords
        (4, good + " " + "# " * 30),                          # symbol ratio
        (5, "\n".join(["- bullet line of the list with that"] * 10)),  # bullets
        (6, "\n".join([f"{good}..."] * 10)),                  # ellipsis ends
        (7, " ".join(["12345"] * 30) + " the of and " + " ".join(["999"] * 30)),  # alpha
        # ~0.06 hash ratio + ~0.06 ellipsis ratio: the paper tests each
        # symbol separately, so this document PASSES (a summed ratio
        # would wrongly reject it — the round-6 advisor finding)
        (8, good + " # # # # ... ... ... ... end"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_quality_flags(df, "doc_id", "text").collect()}
    assert got[1].keep, got[1]
    assert not got[2].word_count_ok
    assert not got[3].mean_word_ok and not got[3].stopwords_ok
    assert not got[4].symbol_ratio_ok
    assert not got[5].bullet_ok
    assert not got[6].ellipsis_ok
    assert not got[7].alpha_words_ok
    for i in range(2, 8):
        assert not got[i].keep
    assert got[8].symbol_ratio_ok and got[8].keep, got[8]


def test_gopher_patterns_crlf_and_punctuation_cross_engine(spark):
    """The two Gopher patterns hardened for engine divergence stay
    IDENTICAL between Java regex (Spark) and RE2 (DuckDB) on hostile
    inputs: CRLF line endings (Java's $ matches before a trailing CR)
    and punctuation-adjacent stopwords."""
    import duckdb

    texts = [
        "line one...\r\nline two...\r\nline three",     # CRLF + ellipsis ends
        "bread, and butter, with it.",                   # punctuation-adjacent stopwords
        "The (and) said: 'with'!",
        "no stopwords here whatsoever",
        "ends with ellipsis...",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    eng = {
        r.i: (r.ell, r.stop)
        for r in df.select(
            "i",
            F.size(F.filter(F.split(F.col("text"), r"\n"),
                            lambda l: F.trim(l).rlike(r"\.\.\.\r?$"))).alias("ell"),
            F.when(F.col("text").rlike(r"(?i)(^|[^\p{L}\p{N}])and([^\p{L}\p{N}]|$)"), 1)
            .otherwise(0).alias("stop"),
        ).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        ell, stop = con.execute(
            """SELECT len(list_filter(string_split(?, chr(10)),
                          x -> regexp_matches(trim(x), '\\.\\.\\.\\r?$'))),
                      CASE WHEN regexp_matches(?, '(?i)(^|[^\\p{L}\\p{N}])and([^\\p{L}\\p{N}]|$)')
                           THEN 1 ELSE 0 END""",
            [t, t],
        ).fetchone()
        assert (ell, stop) == eng[i], f"text {i}: duckdb {(ell, stop)} vs spark {eng[i]}"
    # sanity on intent: CRLF ellipsis lines ARE counted, punctuation
    # stopwords ARE hits
    assert eng[0][0] == 2 and eng[1][1] == 1 and eng[3][1] == 0


def test_vertical_tab_tokenization_agrees_cross_engine(spark):
    """The round-7 explicit-whitespace-class migration's point, proven
    on hostile input: a document containing U+000B tokenizes
    IDENTICALLY in Spark (Java regex) and DuckDB (RE2) — token count,
    gopher word signals, and the BPE pretokenizer count all agree,
    where the old \\s-based forms diverged (Java's \\s includes
    vertical tab, RE2's does not)."""
    import duckdb

    from aws_logs_to_parquet_converter_spark.operators.textstats import (
        BPE_TOKEN_PATTERN,
        NONWS_CLASS,
        WS_PLUS,
        bpe_token_count,
        token_count,
        token_rows,
    )

    texts = [
        "one\x0btwo three",          # VT between words: 3 tokens both engines
        "a\x0b\x0bb",                # VT run
        "tab\tand\x0bvt mix\r\n",
        "plain words only here",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    got = {
        r.i: (r.tc, r.bpe)
        for r in df.select(
            "i", token_count(F.col("text")).alias("tc"),
            bpe_token_count(F.col("text")).alias("bpe"),
        ).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        tc, bpe = con.execute(
            f"SELECT len(regexp_extract_all(?, '{NONWS_CLASS}+')),"
            f"       len(regexp_extract_all(?, ?))",
            [t, t, BPE_TOKEN_PATTERN],
        ).fetchone()
        assert got[i] == (tc, bpe), (i, got[i], (tc, bpe))
    # and the split form used by the LM/shingle paths agrees too
    sp = {r.i: r.parts for r in df.select(
        "i", F.split(F.lower("text"), WS_PLUS).alias("parts")).collect()}
    for i, t in enumerate(texts):
        (duck,) = con.execute(
            "SELECT string_split_regex(lower(?), '[ \\t\\r\\n\\f\\x0b]+')", [t]
        ).fetchone()
        assert sp[i] == duck, (i, sp[i], duck)
    # and the row form, taken in position order, is the oracle's token list
    rows = {}
    for r in token_rows(df, "text", "i", pos="p").collect():
        rows.setdefault(r.i, []).append((r.p, r._tok))
    for i, t in enumerate(texts):
        (duck,) = con.execute(
            "SELECT list_filter(string_split_regex(lower(?), '[ \\t\\r\\n\\f\\x0b]+'),"
            " x -> x != '')",
            [t],
        ).fetchone()
        assert [tok for _, tok in sorted(rows[i])] == duck, (i, rows[i], duck)
    # NULL, empty and whitespace-only text give no rows; positions count
    # the dropped leading empty token
    edge = spark.createDataFrame(
        [(0, None), (1, ""), (2, " \t\x0b "), (3, "  a b"), (4, "a b  ")], "i long, text string"
    )
    got = sorted((r.i, r.p, r._tok) for r in token_rows(edge, "text", "i", pos="p").collect())
    assert got == [(3, 1, "a"), (3, 2, "b"), (4, 0, "a"), (4, 1, "b")]


def test_c4_rules_battery(spark):
    """Each C4 rule (Raffel et al. 2020 §2.2) flips on its own
    violation class; the line filter keeps exactly the
    terminal-punctuation + >=5-word lines."""
    from aws_logs_to_parquet_converter_spark.operators.textstats import c4_page_flags

    good_line = "this line has plenty of words and ends properly."
    good = "\n".join([good_line] * 3)
    rows = [
        (1, good),
        (2, "short line.\ntiny one.\nwee.\nnope."),          # <5 words/line
        (3, "\n".join(["no terminal punctuation here at all"] * 3)),
        (4, good + "\nlorem ipsum dolor sit amet filler."),
        (5, good + "\nfunction f() { return 1; } more words."),
        (6, good.replace("plenty", "badword1")),
        (7, "\n".join([good_line] * 2)),                      # only 2 sentences
        (8, good_line + " two. three."),                      # 1 line, 3 sentences
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in c4_page_flags(df, "doc_id", "text").collect()}
    assert got[1].keep and got[1].n_kept_lines == 3
    assert got[1].cleaned_text == good
    assert got[2].n_kept_lines == 0 and not got[2].enough_sentences_ok
    assert got[3].cleaned_text == "" and not got[3].keep
    assert not got[4].no_lorem_ok and not got[4].keep
    assert not got[5].no_brace_ok
    assert not got[6].no_badwords_ok
    assert not got[7].enough_sentences_ok  # 2 sentences < 3
    assert got[8].keep and got[8].n_kept_lines == 1  # sentences counted, not lines
    for i in range(2, 8):
        assert not got[i].keep, i


def test_c4_hardened_edges_crlf_badwords_null(spark):
    """The round-7 review's C4 edge classes: CRLF lines keep their
    terminal punctuation in BOTH engines (explicit \\r? anchor), a
    blocklist entry carrying regex metacharacters matches literally
    (escaped, never a silent no-op or a PatternSyntaxException), an
    EMPTY blocklist disables the rule instead of crashing, and NULL
    text behaves as the empty page."""
    import duckdb

    from aws_logs_to_parquet_converter_spark.operators.textstats import (
        c4_badword_hit,
        c4_page_flags,
    )

    line = "this sentence has more than five words in it."
    crlf = "\r\n".join([line] * 3)
    df = spark.createDataFrame(
        [(1, crlf), (2, None)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in c4_page_flags(df, "doc_id", "text").collect()}
    assert got[1].keep and got[1].n_kept_lines == 3
    assert got[2].keep is False and got[2].n_kept_lines == 0
    assert got[2].cleaned_text == ""

    # cross-engine: DuckDB RE2 with the same \r? anchor keeps the line
    con = duckdb.connect()
    (n,) = con.execute(
        """SELECT len(list_filter(string_split(?, chr(10)),
                  x -> regexp_matches(trim(x), '[.!?"]\\r?$')
                   AND len(regexp_extract_all(x, '[^ \\t\\r\\n\\f\\x0b]+')) >= 5))""",
        [crlf],
    ).fetchone()
    assert n == 3

    # metacharacter blocklist entry: matches literally, never compiles wrong
    hits = spark.createDataFrame(
        [(1, "he said a$$ loudly"), (2, "ordinary assessment text")],
        "i long, text string",
    ).select("i", c4_badword_hit(F.col("text"), ["a$$"]).alias("hit")).collect()
    got2 = {r.i: r.hit for r in hits}
    assert got2[1] is True and got2[2] is False
    # empty blocklist: constant-False rule, no crash
    empty = spark.createDataFrame([(1, "anything")], "i long, text string").select(
        c4_badword_hit(F.col("text"), []).alias("hit")
    ).first()
    assert empty.hit is False


def test_temperature_mix_boosts_low_resource_sources(spark):
    """alpha=0.5 up-weights small sources relative to their natural
    share (the mT5 temperature-sampling property), saturating at rate
    1; alpha=1 recovers proportional allocation."""
    rows = []
    for s, n, tok in (("big", 900, 100), ("mid", 90, 100), ("small", 9, 100)):
        rows += [(f"{s}-{i}", s, tok) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id string, source string, n_tok long")

    kept = sampling.temperature_mix(
        df, "source", "doc_id", "n_tok", budget=30_000, alpha=0.5
    )
    got = {r.source: r.n for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # small source saturates (its sqrt share of 30k exceeds its 900 toks)
    assert got["small"] == 9
    # big is downsampled well below natural share but keeps the most docs
    assert got["big"] > got["mid"] > 9
    # sampled fraction of big << its natural 90% share
    assert got["big"] / 900 < 0.9
    # boost direction: big's keep-rate is the lowest
    assert got["big"] / 900 < got["mid"] / 90 <= 1.0

    # alpha=1 => rates proportional to target budget share == natural
    # share => every source gets ~budget/total rate (here: rate<1 for
    # all, same rate value), i.e. expected counts track source sizes
    kept1 = sampling.temperature_mix(
        df, "source", "doc_id", "n_tok", budget=30_000, alpha=1.0
    )
    got1 = {r.source: r.n for r in kept1.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert got1["big"] > 2 * got1["mid"] > 2 * got1.get("small", 0)


def test_temperature_mix_deterministic_and_partition_invariant(spark):
    rows = [(f"d{i}", f"src{i % 4}", 50 + i % 7) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id string, source string, n_tok long")
    a = sorted(r.doc_id for r in sampling.temperature_mix(
        df, "source", "doc_id", "n_tok", budget=8000).collect())
    b = sorted(r.doc_id for r in sampling.temperature_mix(
        df.repartition(13), "source", "doc_id", "n_tok", budget=8000).collect())
    assert a == b and 0 < len(a) < 400


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (textstats.bm25_topk)
# ---------------------------------------------------------------------------


def _bm25_expected(docs, queries, k1=1.2, b=0.75):
    """Hand-rolled reference scorer (plain Python, one dict per doc)."""
    import math

    toks = {d: t.lower().split() for d, t in docs}
    toks = {d: t for d, t in toks.items()}
    dl = {d: len(t) for d, t in toks.items() if t}
    n = len(dl)
    avgdl = sum(dl.values()) / n
    dfreq = {}
    for d, t in toks.items():
        for term in set(t):
            dfreq[term] = dfreq.get(term, 0) + 1
    out = {}
    for qid, qtext in queries:
        scores = {}
        for term in set(qtext.lower().split()):
            if term not in dfreq:
                continue
            idf = math.log(1.0 + (n - dfreq[term] + 0.5) / (dfreq[term] + 0.5))
            for d, t in toks.items():
                tf = t.count(term)
                if tf == 0:
                    continue
                w = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl[d] / avgdl))
                scores[d] = scores.get(d, 0.0) + w
        out[qid] = scores
    return out


def test_bm25_matches_hand_scorer(spark):
    from aws_logs_to_parquet_converter_spark.operators.textstats import bm25_topk

    docs = [
        (1, "spark join window join"),
        (2, "spark filter scan scan scan scan scan scan"),
        (3, "join merge hash"),
        (4, "totally unrelated words here"),
    ]
    queries = [("qa", "spark join"), ("qb", "scan")]
    ddf = spark.createDataFrame(docs, "doc_id int, text string")
    qdf = spark.createDataFrame(queries, "query_id string, query_text string")
    got = bm25_topk(ddf, qdf, "doc_id", "text", k=10).collect()
    exp = _bm25_expected(docs, queries)
    for r in got:
        assert abs(r.score - exp[r.query_id][r.doc_id]) < 1e-12, (r, exp[r.query_id][r.doc_id])
    # per-query rank order follows descending hand score
    for qid in ("qa", "qb"):
        rows = sorted((r for r in got if r.query_id == qid), key=lambda r: r.rnk)
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    # qa matches docs 1,2,3 (not 4); qb matches only doc 2
    assert {r.doc_id for r in got if r.query_id == "qa"} == {1, 2, 3}
    assert {r.doc_id for r in got if r.query_id == "qb"} == {2}


def test_bm25_partial_match_k_bound_and_no_match(spark):
    from aws_logs_to_parquet_converter_spark.operators.textstats import bm25_topk

    docs = [(i, f"alpha beta common{i % 2}") for i in range(20)]
    ddf = spark.createDataFrame(docs, "doc_id int, text string")
    qdf = spark.createDataFrame(
        [("q1", "alpha nosuchterm"), ("q2", "neverseen missing")],
        "query_id string, query_text string",
    )
    got = bm25_topk(ddf, qdf, "doc_id", "text", k=5).collect()
    # unknown terms contribute nothing; the known term still retrieves
    q1 = [r for r in got if r.query_id == "q1"]
    assert len(q1) == 5 and all(r.matched_terms == 1 for r in q1)
    # all-tf-equal corpus: identical scores tie-break by ascending doc id
    assert [r.doc_id for r in sorted(q1, key=lambda r: r.rnk)] == [0, 1, 2, 3, 4]
    # a query with no corpus terms returns no rows at all
    assert [r for r in got if r.query_id == "q2"] == []


def test_rrf_fuse_positions_only_and_consensus_wins(spark):
    from aws_logs_to_parquet_converter_spark.operators.similarity import rrf_fuse

    # system A ranks (d1, d2, d3); system B ranks (d2, d4) — d2 is the
    # only consensus doc and must fuse above A's top hit d1:
    # rrf(d2) = 1/62 + 1/61 > rrf(d1) = 1/61.
    a = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2), ("q", 3, 3)], "query_id string, doc_id int, rnk int"
    )
    b = spark.createDataFrame([("q", 2, 1), ("q", 4, 2)], "query_id string, doc_id int, rnk int")
    got = {r.doc_id: r for r in rrf_fuse([a, b], k_const=60, k=10).collect()}
    assert got[2].rnk == 1 and got[2].n_systems == 2
    assert got[1].rnk == 2 and got[1].n_systems == 1
    assert abs(got[2].rrf_score - (1 / 62 + 1 / 61)) < 1e-15
    assert abs(got[1].rrf_score - 1 / 61) < 1e-15
    # raw scores never enter: only rank positions matter, so scaling a
    # system's scores (not part of the input at all) cannot change fusion


def test_rrf_fuse_k_bound_tie_break_and_empty_guard(spark):
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.similarity import rrf_fuse

    # every doc ranked once at the same position by one of two systems:
    # identical scores tie-break by ascending doc id, k bounds output
    a = spark.createDataFrame(
        [("q", i, 1) for i in range(6)], "query_id string, doc_id int, rnk int"
    )
    out = rrf_fuse([a], k_const=60, k=3).collect()
    assert [r.doc_id for r in sorted(out, key=lambda r: r.rnk)] == [0, 1, 2]
    with pytest.raises(ValueError):
        rrf_fuse([])


# ---------------------------------------------------------------------------
# Hashed linear classifier (textstats.hashed_linear_score)
# ---------------------------------------------------------------------------


def test_hashed_linear_score_matches_hand_scorer_md5(spark):
    import hashlib
    import math

    from aws_logs_to_parquet_converter_spark.operators.textstats import hashed_linear_score

    weights = [((i * 37) % 13 - 6) / 7.0 for i in range(16)]
    bias = 0.2
    docs = [
        (1, "Spark JOIN window join"),
        (2, "tiny"),
        (3, ""),
        (4, "   "),
        (5, "the quick brown fox jumps over the lazy dog"),
        (6, None),  # NULL text: n_tokens NULL (never -1), prob = sigmoid(bias)
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        r.doc_id: r
        for r in hashed_linear_score(
            df, "doc_id", "text", weights, bias=bias, hash_fn="md5"
        ).collect()
    }

    def expected(text):
        toks = (text or "").lower().split()
        raw = bias
        if toks:
            raw += sum(
                weights[int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % len(weights)]
                for t in toks
            ) / len(toks)
        return len(toks), 1.0 / (1.0 + math.exp(-raw))

    for doc_id, text in docs:
        n, prob = expected(text)
        assert got[doc_id].n_tokens == (None if text is None else n)
        assert abs(got[doc_id].prob - round(prob, 4)) < 1e-9, (doc_id, got[doc_id].prob, prob)
        assert got[doc_id].label == (prob >= 0.5)
    # empty and NULL docs score sigmoid(bias) exactly
    assert got[3].prob == got[4].prob == got[6].prob == round(1.0 / (1.0 + math.exp(-bias)), 4)


def test_hashed_linear_score_xxhash_mode_and_guards(spark):
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.textstats import hashed_linear_score

    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} filler") for i in range(50)], "doc_id int, text string"
    )
    w = [0.5, -0.5, 0.25, -0.25]
    a = hashed_linear_score(df, "doc_id", "text", w, hash_fn="xxhash64")
    b = hashed_linear_score(df.repartition(7), "doc_id", "text", w, hash_fn="xxhash64")
    # deterministic and partition-invariant
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # probabilities live in (0, 1); labels consistent with threshold
    rows = a.collect()
    assert all(0.0 < r.prob < 1.0 for r in rows)
    assert all(r.label == (r.prob >= 0.5) for r in rows if abs(r.prob - 0.5) > 1e-3)
    with pytest.raises(ValueError):
        hashed_linear_score(df, "doc_id", "text", [])
    with pytest.raises(ValueError):
        hashed_linear_score(df, "doc_id", "text", w, hash_fn="sha1")


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (sampling.weighted_sample)
# ---------------------------------------------------------------------------


def test_weighted_sample_exact_size_deterministic_and_weight_biased(spark):
    from aws_logs_to_parquet_converter_spark.operators.sampling import weighted_sample

    # 20 heavy rows (w=50) among 180 light rows (w=1): across seeds,
    # heavy rows must be selected far above their 10% population share
    rows = [(i, 50.0 if i < 20 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, w double")
    heavy_picks = total = 0
    for seed in range(8):
        got = weighted_sample(df, "k", "w", 20, seed=seed).collect()
        assert len(got) == 20
        heavy_picks += sum(1 for r in got if r.w == 50.0)
        total += 20
    # E[heavy share] >> 0.10; even a loose floor separates it cleanly
    assert heavy_picks / total > 0.4, heavy_picks / total
    # deterministic and partition-invariant
    a = sorted(r.k for r in weighted_sample(df, "k", "w", 20, seed=3).collect())
    b = sorted(r.k for r in weighted_sample(df.repartition(13), "k", "w", 20, seed=3).collect())
    assert a == b


def test_weighted_sample_per_group_guards_and_edge_weights(spark):
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.sampling import weighted_sample

    rows = (
        [(i, "a", 1.0) for i in range(10)]
        + [(100 + i, "b", 2.0) for i in range(3)]      # smaller than n
        + [(200, "a", 0.0), (201, "a", -5.0), (202, "a", None)]  # excluded
    )
    df = spark.createDataFrame(rows, "k long, g string, w double")
    got = weighted_sample(df, "k", "w", 5, by="g").collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r.g, []).append(r.k)
    assert len(by_g["a"]) == 5 and sorted(by_g["b"]) == [100, 101, 102]
    assert all(k < 200 for k in by_g["a"])  # non-positive/NULL weights never sampled
    # n = 0 -> empty; negative n -> loud error
    assert weighted_sample(df, "k", "w", 0).count() == 0
    with pytest.raises(ValueError):
        weighted_sample(df, "k", "w", -1)


def test_bm25_property_matches_hand_scorer_on_random_corpora(spark):
    """Property: for ANY small corpus/query set over a shared vocab,
    bm25_topk's scores equal the pure-Python reference (1e-10) and its
    per-query rank order equals sorting the reference's scores with
    the doc-id tie-break."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aws_logs_to_parquet_converter_spark.operators.textstats import bm25_topk

    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    doc_s = st.lists(st.sampled_from(vocab), min_size=1, max_size=12).map(" ".join)
    corpus_s = st.lists(doc_s, min_size=1, max_size=6)
    query_s = st.lists(st.sampled_from(vocab + ["missing"]), min_size=1, max_size=3).map(
        " ".join
    )

    @settings(max_examples=8, deadline=None)
    @given(texts=corpus_s, qtext=query_s)
    def run(texts, qtext):
        docs = list(enumerate(texts))
        queries = [("q", qtext)]
        ddf = spark.createDataFrame(docs, "doc_id int, text string")
        qdf = spark.createDataFrame(queries, "query_id string, query_text string")
        got = bm25_topk(ddf, qdf, "doc_id", "text", k=100).collect()
        exp = _bm25_expected(docs, queries)["q"]
        assert {r.doc_id for r in got} == set(exp)
        for r in got:
            assert abs(r.score - exp[r.doc_id]) < 1e-10
        want_order = sorted(exp, key=lambda d: (-exp[d], d))
        assert [r.doc_id for r in sorted(got, key=lambda r: r.rnk)] == want_order

    run()


def test_train_hashed_linear_separates_good_from_junk(spark):
    """Train on clearly separable labeled text, score the SAME docs:
    every good doc must outscore every junk doc, with the trained
    model consumed through hashed_linear_score (shared feature map)."""
    from aws_logs_to_parquet_converter_spark.operators.textstats import (
        hashed_linear_score,
        train_hashed_linear,
    )

    good_vocab = ["insightful", "thorough", "coherent", "sourced"]
    junk_vocab = ["buy", "click", "winner", "pills"]
    rows = []
    for i in range(30):
        rows.append((i, f"{good_vocab[i % 4]} {good_vocab[(i + 1) % 4]} article", 1))
        rows.append((100 + i, f"{junk_vocab[i % 4]} {junk_vocab[(i + 2) % 4]} now", 0))
    df = spark.createDataFrame(rows, "doc_id int, text string, label int")
    w, b = train_hashed_linear(df, "text", "label", dim=32, lr=1.0, iters=30)
    scored = {
        r.doc_id: r.prob
        for r in hashed_linear_score(df, "doc_id", "text", w, bias=b).collect()
    }
    good = [scored[i] for i in range(30)]
    junk = [scored[100 + i] for i in range(30)]
    assert min(good) > max(junk), (min(good), max(junk))
    assert min(good) > 0.7 and max(junk) < 0.3


def test_train_hashed_linear_deterministic_and_guards(spark):
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.textstats import (
        train_hashed_linear,
    )

    rows = [(i, f"tok{i % 5} filler words", i % 2) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id int, text string, label int")
    w1, b1 = train_hashed_linear(df, "text", "label", dim=16, iters=5)
    w2, b2 = train_hashed_linear(df.repartition(7), "text", "label", dim=16, iters=5)
    assert b1 == pytest.approx(b2, abs=1e-9)
    assert all(a == pytest.approx(c, abs=1e-9) for a, c in zip(w1, w2))
    with pytest.raises(ValueError):
        train_hashed_linear(df.where("label IS NULL"), "text", "label")
    with pytest.raises(ValueError):
        train_hashed_linear(df, "text", "label", iters=0)


def test_weighted_sample_n1_matches_theoretical_distribution(spark):
    """For n=1 the A-Res winner is item argmin -ln(u_i)/w_i, which is
    distributed EXACTLY w_i / sum(w) (the algorithm's defining
    property).  Empirical check over many seeds: the pick frequency of
    a 6x-weighted item must straddle its 6/9 theoretical share, far
    from the 1/3 a uniform sampler would give it."""
    from aws_logs_to_parquet_converter_spark.operators.sampling import weighted_sample

    rows = [(1, 6.0), (2, 2.0), (3, 1.0)]  # shares 6/9, 2/9, 1/9
    df = spark.createDataFrame(rows, "k long, w double")
    picks = {1: 0, 2: 0, 3: 0}
    n_seeds = 60
    for seed in range(n_seeds):
        (winner,) = weighted_sample(df, "k", "w", 1, seed=seed).collect()
        picks[winner.k] += 1
    share = picks[1] / n_seeds
    # binomial(60, 2/3): sd ~ 0.06 — a +-0.18 band is ~3 sd, and
    # cleanly excludes the uniform 1/3
    assert 0.49 < share < 0.85, picks
    assert picks[3] < picks[1], picks


def test_weighted_sample_nan_weight_excluded(spark):
    """Spark orders NaN greater than any number, so `w > 0` alone would
    admit NaN-weight rows — and in a group smaller than n the NaN row
    entered the sample (r9 advisor); NaN is outside the A-Res w > 0
    domain and must never be sampled."""
    from aws_logs_to_parquet_converter_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, 2.0)], "k long, w double"
    )
    got = sorted(r.k for r in weighted_sample(df, "k", "w", 10).collect())
    assert got == [1, 3]


def test_train_hashed_linear_warm_start_equals_continuous(spark):
    """N iterations from zero must equal N one-iteration calls chained
    through init_weights/init_bias (the checkpoint-restart contract the
    q_classifier_train_score chain builds on)."""
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.textstats import (
        train_hashed_linear,
    )

    rows = [(i, f"doc number {i} with shared tokens alpha beta {'gamma ' * (i % 4)}", i % 2)
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    kw = dict(dim=16, lr=0.5, hash_fn="md5")
    w3, b3 = train_hashed_linear(df, "text", "label", iters=3, **kw)
    w, b = [0.0] * 16, 0.0
    for _ in range(3):
        w, b = train_hashed_linear(
            df, "text", "label", iters=1, init_weights=w, init_bias=b, **kw
        )
    # tolerance, not exact equality: the per-bucket gradient SUMs merge
    # partials in task-scheduling order, so independent runs drift at
    # the last ulp (~1e-17) even on identical data — the same
    # cross-run freedom q_classifier_train_score's ROUND(9) pin
    # absorbs (exact equality here flaked under full-suite load)
    assert b == pytest.approx(b3, abs=1e-12)
    assert all(x == pytest.approx(y, abs=1e-12) for x, y in zip(w, w3))
    with pytest.raises(ValueError, match="init_weights has dim"):
        train_hashed_linear(df, "text", "label", iters=1, init_weights=[0.0] * 5, **kw)


def test_chunk_by_tokens_windows_and_edges(spark):
    """Token-window arithmetic: overlap shared between neighbors, short
    tail kept, single-chunk docs below the window size, token-less and
    NULL docs emit nothing, and chunks reconstruct the token stream."""
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.sampling import chunk_by_tokens

    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame(
        [(1, words), (2, "only three tokens"), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    got = chunk_by_tokens(df, "doc_id", "text", chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 2}  # empty/NULL emit nothing
    one = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    # step=3: ceil((10-1)/3) = 3 chunks at starts 0,3,6 — the last one
    # reaches w9, so no tail chunk exists and every token is covered
    assert [r.chunk_text for r in one] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9",
    ]
    assert [r.n_chunk_tokens for r in one] == [4, 4, 4]
    assert by_doc[2][0].chunk_text == "only three tokens"
    with pytest.raises(ValueError):
        chunk_by_tokens(df, "doc_id", "text", chunk_tokens=4, overlap=4)


def test_html_links_quote_styles_and_nulls(spark):
    """href extraction: both quote styles in document order, attributes
    with spacing/case variants, non-href attributes ignored, NULL html
    quarantines as NULL."""
    from pyspark.sql import functions as F

    from aws_logs_to_parquet_converter_spark.operators.textstats import html_links

    rows = [
        (1, '<a HREF="https://a.com/x">one</a> <a href = \'/rel\'>two</a>'
            '<img src="not-a-link.png"><a data-href="nope">'),
        (2, "no links at all"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {r.doc_id: r.links for r in df.select(
        "doc_id", html_links(F.col("html")).alias("links")
    ).collect()}
    assert got[1] == ["https://a.com/x", "/rel"]
    assert got[2] == []
    assert got[3] is None


def test_pagerank_hand_computed_and_mass_conserved(spark):
    """Dangling-aware PageRank against hand math: a 3-node graph
    (1->{2,3}, 2->1, node 3 dangling) whose first iteration is
    computable by hand; total rank mass stays 1.0 every iteration (the
    teleport fix), results are partitioning-invariant, and duplicate
    edges count once."""
    from aws_logs_to_parquet_converter_spark.operators.graph import pagerank

    # 1 -> 2, 1 -> 3, 2 -> 1; 3 has NO out-edges (dangling)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 1), (2, 1)],  # duplicate 2->1 must not double
        "src long, dst long",
    )
    d = 0.85
    got = {r.node: r.rank for r in pagerank(edges, n_iters=1, damping=d).collect()}
    # r0 = 1/3 each; dangling mass = 1/3 (node 3)
    base = (1 - d) / 3 + d * ((1 / 3) / 3)  # teleport + dangling share
    want = {
        1: base + d * (1 / 3),            # from 2 (outdeg 1)
        2: base + d * (1 / 6),            # from 1 (outdeg 2)
        3: base + d * (1 / 6),            # from 1
    }
    for n, w in want.items():
        assert abs(got[n] - w) < 1e-12, (n, got[n], w)
    assert abs(sum(got.values()) - 1.0) < 1e-12

    # mass conserved across more iterations; partitioning-invariant
    r5 = pagerank(edges, n_iters=5, damping=d).collect()
    assert abs(sum(r.rank for r in r5) - 1.0) < 1e-9
    r5b = pagerank(edges.repartition(7), n_iters=5, damping=d).collect()
    assert {r.node: round(r.rank, 12) for r in r5} == {
        r.node: round(r.rank, 12) for r in r5b
    }

    import pytest

    with pytest.raises(ValueError):
        pagerank(edges, n_iters=0)


def test_pmi_top_bigrams_semantics(spark):
    """Collocation beats chance: a bigram that always co-occurs gets
    higher PMI than a frequent-but-independent pair; ranking is by
    count with lexicographic tiebreak."""
    import math

    from aws_logs_to_parquet_converter_spark.operators.textstats import (
        pmi_top_bigrams,
    )

    rows = [
        (1, "new york new york new york"),
        (2, "the cat the dog the fish"),
        (3, "new york again"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.bigram: (r.n, r.pmi) for r in
           pmi_top_bigrams(df, "doc_id", "text", top_k=10, min_count=2).collect()}
    assert out["new york"][0] == 4
    # 'new york': perfectly associated; 'the cat' happens once -> filtered
    assert "the cat" not in out
    # hand-check 'new york': c_ab=4 (3 in doc1 + 1 in doc3), n_b=12
    # bigrams (5+5+2), c_new=c_york=4, n_u=15 tokens (6+6+3)
    want = round(math.log((4 / 12) / ((4 / 15) * (4 / 15))), 3)
    assert abs(out["new york"][1] - want) < 1e-9


def test_leakage_safe_split_groups_never_straddle(spark):
    from aws_logs_to_parquet_converter_spark.operators.sampling import (
        assign_splits,
        leakage_safe_split,
    )

    # 300 duplicate groups of 3 copies each (normalized-equal variants)
    rows = []
    for g in range(300):
        rows += [
            (3 * g, f"document number {g}"),
            (3 * g + 1, f"Document   NUMBER {g}"),
            (3 * g + 2, f"document number {g}"),
        ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    labeled = leakage_safe_split(
        df, "doc_id", "text", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    from pyspark.sql import functions as F

    # every group is entirely in one split
    per_group = (
        labeled.groupBy((F.col("doc_id") / 3).cast("long").alias("g"))
        .agg(F.count_distinct("split").alias("k"))
    )
    assert per_group.where("k > 1").count() == 0
    # and the split is the one the CANONICAL id would get from plain
    # assign_splits (same md5-interval rule, same seed)
    canon = df.where(F.col("doc_id") % 3 == 0)
    want = {
        r.doc_id // 3: r.split
        for r in assign_splits(
            canon, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    got = {
        r.g: r.split
        for r in labeled.select(
            (F.col("doc_id") / 3).cast("long").alias("g"), "split"
        ).distinct().collect()
    }
    assert got == want
    # plain per-doc splitting DOES straddle on this fixture (the hole
    # this operator closes) — otherwise the test proves nothing
    naive = assign_splits(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    straddled = (
        naive.groupBy((F.col("doc_id") / 3).cast("long").alias("g"))
        .agg(F.count_distinct("split").alias("k"))
        .where("k > 1")
        .count()
    )
    assert straddled > 0


def test_llm_operators_repeat_call_reuses_compiled_classes(spark):
    """A repeat round of exact / MinHash / semantic / BM25 dedup runs
    already-compiled code.  One round uses ~136 generated classes; with
    a codegen cache smaller than that (Spark's default is 100) the LRU
    cycle misses on every call and the second round recompiles them
    all.  The bound leaves room for the few byte-identical classes
    Spark's classloader-keyed cache recompiles per BM25 / MinHash call."""
    import random

    from aws_logs_to_parquet_converter_spark.operators import dedup, similarity, textstats

    rng = random.Random(3)
    words = [f"w{i}" for i in range(60)]
    texts = [" ".join(rng.choice(words) for _ in range(30)) for _ in range(24)]
    texts += texts[:4]  # exact copies
    texts += [t + " tail" for t in texts[4:8]]  # near copies
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    vecs = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(20)]
    vecs += [[x + 1e-3 for x in v] for v in vecs[:5]]
    emb = spark.createDataFrame(list(enumerate(vecs)), "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [("q1", "w1 w2 w3"), ("q2", "w7 tail")], "query_id string, query_text string"
    )

    def one_round():
        dedup.exact_duplicates(docs, "doc_id", "text").collect()
        with cache.owned() as handles:
            dedup.minhash_near_duplicates(
                docs, "doc_id", "text", threshold=0.4, handles=handles
            ).select("id_a", "id_b").collect()
        similarity.semantic_dedup(
            emb, threshold=0.4, n_cells="auto", target_cell_size=1000
        ).select("vec_id").collect()
        textstats.bm25_topk(docs, queries, "doc_id", "text", k=5).collect()

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    one_round()
    before = compiles.getCount()
    one_round()
    recompiled = compiles.getCount() - before
    assert recompiled <= 20, f"second round compiled {recompiled} classes"
