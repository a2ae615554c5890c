"""setsim (operators/setsim.py): prefix-filtered exact Jaccard join —
brute-force differentials, completeness under adversarial token
frequencies, tokenizer parity with the dedup family, contracts."""

import random

import pytest
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators import setsim


def _brute_pairs(sets: dict, threshold_milli: int):
    """All (a, b, inter, uni) with a < b and 1000*inter >= thr*uni."""
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            uni = len(sets[a] | sets[b])
            if uni and 1000 * inter >= threshold_milli * uni:
                out[(a, b)] = (inter, uni)
    return out


def _got(df):
    return {
        (r["id_a"], r["id_b"]): (r["inter"], r["uni"]) for r in df.collect()
    }


def test_word_mode_brute_force_differential(spark):
    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(40)]
    docs, sets = [], {}
    for i in range(60):
        toks = rng.sample(vocab, rng.randrange(3, 15))
        docs.append((i, " ".join(toks)))
        sets[i] = set(toks)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for thr in (400, 700, 1000):
        got = _got(setsim.setsim_join(df, "doc_id", "text", thr))
        assert got == _brute_pairs(sets, thr), thr


def test_completeness_with_hot_tokens(spark):
    """Adversarial frequency profile: near-dup pairs whose ONLY rare
    token differs must still be found (the prefix filter keeps the
    first COMMON token, which here is a hot one for some pairs)."""
    # 10 docs all sharing hot tokens h0..h8, each with one unique token
    docs = [(i, " ".join([f"h{j}" for j in range(9)] + [f"u{i}"])) for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sets = {i: set(f"h{j}" for j in range(9)) | {f"u{i}"} for i in range(10)}
    # J(any two) = 9/11 = 0.818...
    got = _got(setsim.setsim_join(df, "doc_id", "text", 800))
    assert got == _brute_pairs(sets, 800)
    assert len(got) == 45  # all pairs qualify: 1000*9 >= 800*11


def test_shingle_mode_matches_ngram_family_tokenization(spark):
    """shingle mode must produce the identical pair set the capped
    inverted index (ngram_jaccard_pairs) reports when its cap is idle."""
    from aws_logs_to_parquet_converter_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog " * 3
    docs = [
        (1, base),
        (2, base + "extra tail words here"),
        (3, "completely different content with nothing shared at all"),
        (4, None),
        (5, "   "),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = _got(setsim.setsim_join(df, "doc_id", "text", 400, shingle_n=5))
    ref = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", shingle_n=5, threshold=0.4
        ).collect()
    }
    assert set(got) == ref
    assert (1, 2) in got
    # integer values agree with the float the index reports
    jacc = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", shingle_n=5, threshold=0.4
        ).collect()
    }
    for pair, (inter, uni) in got.items():
        assert abs(jacc[pair] - inter / uni) < 1e-9


def test_exact_duplicates_and_contentless_docs(spark):
    docs = [(1, "aaa bbb"), (2, "aaa bbb"), (3, "aaa bbb"), (4, ""), (5, None)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = _got(setsim.setsim_join(df, "doc_id", "text", 1000))
    assert got == {(1, 2): (2, 2), (1, 3): (2, 2), (2, 3): (2, 2)}


def test_threshold_contract(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    for bad in (0, 1001, 0.5, "600"):
        with pytest.raises(ValueError, match="threshold_milli"):
            setsim.setsim_join(df, "doc_id", "text", bad)


def test_hot_tokens_join_matches_brute_force(spark):
    """Three tokens in every document sort last in the
    frequency-ascending prefix order, so they rarely enter a prefix;
    the join must still find exactly the brute-force pairs."""
    rng = random.Random(7)
    docs = []
    for i in range(50):
        toks = {"hot1", "hot2", "hot3"} | {
            f"r{rng.randrange(200)}" for _ in range(8)
        }
        docs.append((i, " ".join(sorted(toks))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sets = {i: set(t.split()) for i, t in docs}
    got = _got(setsim.setsim_join(df, "doc_id", "text", 800))
    assert got == _brute_pairs(sets, 800)
