"""BPE tokenizer tests: distributed training vs a driver-side
reference, UDF-vs-expression encode differential, determinism, and
real-token-count integration with the token-budget operators."""

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators import bpe


def _reference_train(texts, num_merges, min_pair_freq=2):
    """Pure-Python reference: Counter word counts + the classic merge
    loop (independent of the Spark aggregation path)."""
    import re

    counts = Counter()
    for t in texts:
        if t is None:
            continue
        for w in re.split("[ \t\r\n\f\x0b]+", t.lower()):
            if w:
                counts[w] += 1
    vocab = [(tuple(w) + (bpe.EOW,), c) for w, c in counts.items()]
    merges = []
    for _ in range(num_merges):
        pairs = Counter()
        for syms, freq in vocab:
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += freq
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < min_pair_freq:
            break
        merges.append(best)
        a, b = best
        nv = []
        for syms, freq in vocab:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv.append((tuple(out), freq))
        vocab = nv
    return merges


TEXTS = [
    "the cat sat on the mat",
    "the cats sat on the mats",
    "a cat and a hat",
    "that hat is the cat hat",
    None,
    "",
]


def test_bpe_train_matches_reference(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    got = bpe.bpe_train(df, "text", num_merges=12)
    want = _reference_train(TEXTS, 12)
    assert got == want
    assert len(got) > 3  # actually learned something


def test_bpe_train_partitioning_invariant(spark):
    df1 = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    df8 = df1.repartition(8)
    assert bpe.bpe_train(df1, "text", num_merges=10) == bpe.bpe_train(
        df8, "text", num_merges=10
    )


def test_bpe_encode_null_and_empty(spark):
    df = spark.createDataFrame([(1, None), (2, ""), (3, "   ")], "id long, text string")
    merges = [("t", "h")]
    out = {r.id: r.toks for r in bpe.with_bpe_tokens(df, "text", merges)
           .select("id", F.col("bpe_tokens").alias("toks")).collect()}
    assert out[1] is None
    assert out[2] == []
    assert out[3] == []


def test_bpe_counts_feed_token_budget_operators(spark):
    """Real BPE counts drive pack_sequences end-to-end: bins cover the
    corpus with every document assigned by its true token offset."""
    from aws_logs_to_parquet_converter_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(i, "g", " ".join(["the cat sat"] * (i + 1))) for i in range(6)],
        "doc_id long, grp string, text string",
    )
    merges = bpe.bpe_train(df, "text", num_merges=8)
    enc = bpe.with_bpe_tokens(df, "text", merges)
    packed = pack_sequences(
        enc, "grp", "doc_id", F.size("bpe_tokens"), budget=40
    ).collect()
    n = {r.doc_id: r.n_tokens for r in packed}
    # counts are the real encoded lengths, monotone in repetitions
    assert all(n[i + 1] > n[i] for i in range(5))
    # offsets tile the corpus exactly: each starts where the previous ended
    by_doc = sorted(packed, key=lambda r: r.doc_id)
    off = 0
    for r in by_doc:
        assert r.start_offset == off
        assert r.bin_id == off // 40
        off += r.n_tokens


def test_bpe_train_min_pair_freq_stops(spark):
    df = spark.createDataFrame([("x y z",)], "text string")
    # every pair occurs once: below min_pair_freq=2, no merges learned
    assert bpe.bpe_train(df, "text", num_merges=5) == []


def test_bpe_roundtrip_decode(spark):
    """decode(encode(t)) == whitespace-normalized lowercase t for
    in-vocabulary text — the reversibility the EOW marker buys."""
    df = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    merges = bpe.bpe_train(df, "text", num_merges=12)
    enc = bpe.with_bpe_tokens(df, "text", merges).collect()
    for r in enc:
        if r.text is None:
            assert r.bpe_tokens is None
            continue
        import re

        norm = " ".join(w for w in re.split("[ \t\r\n\f\x0b]+", r.text.lower()) if w)
        assert "".join(r.bpe_tokens).replace(bpe.EOW, " ").rstrip() == norm


def test_bpe_oracle_fold_handles_paren_words(spark):
    """The DuckDB oracle restates the encoder as a paren-wrapped replace
    fold; a word containing '(' or ')' used to corrupt the wrap while
    the production encoder handled it fine (r9 advisor) — the sentinel
    remap must make both paths agree on paren-bearing text."""
    import duckdb

    from aws_logs_to_parquet_converter_spark.plans.extensions import (
        _BPE_MERGES,
        _bpe_oracle_segment,
    )

    texts = ["a(b window c)d", "(lower)", "scan(column)", "()", "er(er)er"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {
        r.doc_id: r.bpe_text
        for r in bpe.with_bpe_tokens(df, "text", _BPE_MERGES)
        .select("doc_id", F.array_join("bpe_tokens", " ").alias("bpe_text"))
        .collect()
    }
    con = duckdb.connect()
    for i, txt in enumerate(texts):
        rows = con.execute(
            f"""
            SELECT string_agg(s, ' ' ORDER BY i) FROM (
              SELECT trim({_bpe_oracle_segment('w')}) AS s, i FROM (
                SELECT unnest(ws) AS w, generate_subscripts(ws, 1) AS i
                FROM (SELECT string_split_regex(lower(?), '[ \\t\\r\\n\\f\\x0b]+') AS ws)
              ) WHERE w != ''
            )
            """,
            [txt],
        ).fetchone()
        assert rows[0] == got[i], f"doc {i} ({txt!r}): oracle {rows[0]!r} != spark {got[i]!r}"


def test_bpe_train_incremental_matches_reference_randomized(spark):
    """The incremental merge loop (pair->word index + lazy-deletion
    heap, r10) must match the naive full-rescan reference on RANDOM
    corpora, deep into vocabulary exhaustion (min_pair_freq=1 keeps
    merging until no pair repeats) — every heap-staleness and
    membership-cleanup edge exercised across many shapes, including
    overlapping-pair words like 'aaaa'."""
    rng = random.Random(23)
    alphabets = ["ab", "abc", "abcdefgh"]
    for trial in range(6):
        alpha = alphabets[trial % len(alphabets)]
        vocab = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 9)))
            for _ in range(rng.randint(5, 40))
        ]
        texts = [" ".join(rng.choices(vocab, k=rng.randint(1, 30))) for _ in range(25)]
        texts.append("aaaa aaa aa " + " ".join(vocab[:3]))  # overlap stress
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        for nm, mpf in ((7, 2), (500, 1)):
            got = bpe.bpe_train(df, "text", num_merges=nm, min_pair_freq=mpf)
            want = _reference_train(texts, nm, min_pair_freq=mpf)
            assert got == want, f"trial {trial} nm={nm} mpf={mpf}: {got} != {want}"
