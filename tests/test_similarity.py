"""Similarity-search tests: brute-force vs numpy ground truth, LSH
recall vs brute force."""

import math

import pytest
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators import cache, similarity


@pytest.fixture(scope="module")
def vecs(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(100)]
    return rows, spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _cosine(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def test_cosine_topk_matches_python(spark, vecs):
    rows, df = vecs
    queries = df.where(F.col("vec_id") < 3)
    got = similarity.cosine_topk(df, queries, k=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.sim))

    data = dict(rows)
    for qid in range(3):
        sims = sorted(
            ((round(_cosine(data[qid], v), 4), -i) for i, v in data.items() if i != qid),
            reverse=True,
        )[:4]
        expect = [(-negi, s) for s, negi in sims]
        actual = [(nid, s) for _, nid, s in sorted(by_q[qid])]
        assert actual == expect, f"q{qid}: {actual} != {expect}"


def test_lsh_recall(spark, vecs):
    rows, df = vecs
    queries = df.where(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(df, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk_lsh(
            df, queries, dim=8, k=5, n_planes=12, max_hamming=5
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall {recall:.2f} below floor"


def test_lsh_results_are_subset_quality(spark, vecs):
    """Every LSH hit must carry the same similarity the exact path
    computes (the re-rank is exact; only candidate generation is
    approximate)."""
    rows, df = vecs
    data = dict(rows)
    queries = df.where(F.col("vec_id") < 3)
    for r in similarity.cosine_topk_lsh(df, queries, dim=8, k=5, n_planes=12, max_hamming=5).collect():
        assert abs(r.sim - round(_cosine(data[r.query_id], data[r.neighbor_id]), 4)) <= 1e-4


def test_ivf_recall_and_exact_rerank(spark, vecs):
    """IVF candidates re-rank exactly; recall clears the floor and
    probing every cell recovers the exact result entirely."""
    rows, df = vecs
    data = dict(rows)
    queries = df.where(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(df, queries, k=5).collect()
    }
    got = similarity.cosine_topk_ivf(df, queries, k=5, n_cells=8, nprobe=3).collect()
    approx = {(r.query_id, r.neighbor_id) for r in got}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall:.2f} below floor"
    for r in got:
        assert abs(r.sim - round(_cosine(data[r.query_id], data[r.neighbor_id]), 4)) <= 1e-4
    full = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk_ivf(df, queries, k=5, n_cells=8, nprobe=8).collect()
    }
    assert full == exact


def test_ivf_deterministic(spark, vecs):
    rows, df = vecs
    queries = df.where(F.col("vec_id") < 5)
    a = sorted(map(tuple, similarity.cosine_topk_ivf(df, queries, k=5).collect()))
    b = sorted(map(tuple, similarity.cosine_topk_ivf(df, queries, k=5).collect()))
    assert a == b


def test_quantize_int8_range_roundtrip_and_zero(spark):
    from aws_logs_to_parquet_converter_spark.operators.similarity import quantize_int8

    rows = [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in quantize_int8(df).collect()}
    q1, s1 = out[1].qvec, out[1].scale
    assert max(abs(v) for v in q1) == 127          # scale maps max|v| -> 127
    assert all(-127 <= v <= 127 for v in q1)
    # reconstruction error bounded by scale/2 per element
    orig = [1.0, -0.5, 0.25, 0.0]
    assert all(abs(q * s1 - o) <= s1 / 2 + 1e-12 for q, o in zip(q1, orig))
    assert out[2].qvec == [0, 0, 0, 0] and out[2].scale == 0.0


def test_normalize_vectors_unit_norm(spark):
    import math

    from aws_logs_to_parquet_converter_spark.operators.similarity import normalize_vectors

    rows = [(1, [3.0, 4.0]), (2, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in normalize_vectors(df).collect()}
    assert math.isclose(out[1].norm, 5.0, rel_tol=1e-12)
    assert math.isclose(sum(x * x for x in out[1].unit), 1.0, rel_tol=1e-12)
    assert out[2].unit == [0.0, 0.0]  # zero vector passes through


def test_ivf_nprobe_one_and_single_cell(spark, vecs):
    """nprobe=1 (fast probe) and a single-cell (degenerate) corpus must
    both work: _cell_udf always returns array<int>, so the explode in
    the probe path never sees a scalar (round-5 advisor finding)."""
    rows, df = vecs
    queries = df.where(F.col("vec_id") < 3)
    got = similarity.cosine_topk_ivf(df, queries, k=3, n_cells=8, nprobe=1).collect()
    assert len(got) > 0 and all(r.rank <= 3 for r in got)

    # one cell total: probing it recovers the exact result
    exact = {(r.query_id, r.rank): r.neighbor_id
             for r in similarity.cosine_topk(df, queries, k=3).collect()}
    one_cell = {(r.query_id, r.rank): r.neighbor_id
                for r in similarity.cosine_topk_ivf(
                    df, queries, k=3, n_cells=1, nprobe=1).collect()}
    assert one_cell == exact


def _greedy_drops(rows, threshold):
    """Reference SemDeDup upper-triangular policy in plain Python."""
    drops = set()
    for i, vi in rows:
        for j, vj in rows:
            if i < j and _cosine(vi, vj) >= threshold:
                drops.add(j)
    return drops


def test_semantic_dedup_exact_matches_reference_policy(spark, vecs):
    """n_cells=1 must equal the brute-force upper-triangular greedy
    drop set (the policy of the public SemDeDup implementation)."""
    rows, df = vecs
    kept = {r.vec_id for r in similarity.semantic_dedup(
        df, threshold=0.2, n_cells=1).collect()}
    expect = {i for i, _ in rows} - _greedy_drops(rows, 0.2)
    assert kept == expect
    assert kept != {i for i, _ in rows}  # threshold low enough to drop something


def test_semantic_dedup_clustered_well_separated(spark):
    """On well-separated clusters the clustered form loses nothing:
    every near-dup pair lives inside one cell, so n_cells>1 equals the
    exact n_cells=1 result — and duplicates are actually dropped."""
    import random

    rng = random.Random(7)
    centers = [[10.0, 0, 0, 0], [0, 10.0, 0, 0], [0, 0, 10.0, 0]]
    rows = []
    for i in range(120):
        c = centers[i % 3]
        rows.append((i, [x + rng.gauss(0, 0.05) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {r.vec_id for r in similarity.semantic_dedup(
        df, threshold=0.999, n_cells=1).collect()}
    jsc = spark.sparkContext._jsc
    cached_before = len(jsc.getPersistentRDDs())
    # the cached cell assignments are released through the handles
    with cache.owned() as handles:
        clustered = {r.vec_id for r in similarity.semantic_dedup(
            df, threshold=0.999, n_cells=3, sample_n=120,
            handles=handles).collect()}
    assert clustered == exact
    assert len(exact) < 120  # tight clusters => real drops happened
    assert len(jsc.getPersistentRDDs()) == cached_before


def test_semantic_dedup_deterministic_and_null_safe(spark, vecs):
    """Same seed => same keep set; rows the pair space cannot score
    (NULL embedding) are kept, never silently dropped."""
    rows, df = vecs
    a = {r.vec_id for r in similarity.semantic_dedup(
        df, threshold=0.3, n_cells=4, sample_n=64, seed=5).collect()}
    b = {r.vec_id for r in similarity.semantic_dedup(
        df, threshold=0.3, n_cells=4, sample_n=64, seed=5).collect()}
    assert a == b

    with_null = df.union(
        spark.createDataFrame([(999, None)], "vec_id long, embedding array<double>")
    )
    kept = {r.vec_id for r in similarity.semantic_dedup(
        with_null, threshold=0.2, n_cells=1).collect()}
    assert 999 in kept


def test_blocked_all_pairs_key_cols_restricts_pair_space(spark):
    """key_cols joins pairs only within equal groups and emits the key
    once; blocking still halves same-block pairs correctly."""
    rows = [(i, i % 2, float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "rid long, grp int, payload double")
    got = {(r.id_a, r.id_b, r.grp) for r in similarity.blocked_all_pairs(
        df, "rid", n_blocks=3, key_cols=["grp"]).collect()}
    expect = {(a, b, a % 2) for a in range(10) for b in range(10)
              if a < b and a % 2 == b % 2}
    assert got == expect


def test_semantic_dedup_auto_cells(spark, vecs):
    """n_cells='auto' sizes the index to ceil(n/target_cell_size) —
    the linear-total-work scale contract — and matches the explicit
    cell count it derives."""
    rows, df = vecs  # 100 vectors
    auto = {r.vec_id for r in similarity.semantic_dedup(
        df, threshold=0.3, n_cells="auto", target_cell_size=25,
        sample_n=100).collect()}
    explicit = {r.vec_id for r in similarity.semantic_dedup(
        df, threshold=0.3, n_cells=4, sample_n=100).collect()}
    assert auto == explicit  # ceil(100/25) == 4


def test_zero_norm_embedding_never_wins(spark):
    """The NaN guard: an all-zero embedding (failed/padded vector) has
    cosine 0.0 against everything — under the old unguarded 0/0 = NaN,
    Spark's NaN-sorts-largest semantics made it every query's rank-1
    neighbor and a 'near duplicate' of every row."""
    from aws_logs_to_parquet_converter_spark.operators import similarity as sim

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = sim.cosine_topk(emb, emb.where("vec_id = 0"), k=2)
    got = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in top.collect()}
    assert got[(0, 1)][0] == 1                    # the real neighbor wins
    assert got[(0, 2)] == (2, 0.0)                # zero vector scores 0.0, never NaN

    pairs = sim.cosine_neardup_pairs(emb, "vec_id", "embedding", threshold=0.5)
    pair_ids = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 2) not in pair_ids and (1, 2) not in pair_ids
    assert (0, 1) in pair_ids

    kept = sim.semantic_dedup(emb, threshold=0.5, n_cells=1)
    assert sorted(r.vec_id for r in kept.collect()) == [0, 2]  # 1 drops; 2 survives


def test_ivf_excludes_null_embeddings_and_rejects_wide_planes(spark):
    """NULL embeddings must not crash the IVF assignment UDF (they are
    excluded from index and candidates); n_planes > 63 is rejected
    instead of silently wrapping shiftleft and corrupting hamming
    distances."""
    import pytest as _pytest

    from aws_logs_to_parquet_converter_spark.operators import similarity as sim

    rows = [(i, [float(i), 1.0]) for i in range(8)] + [(99, None)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim.cosine_topk_ivf(emb, emb.where("vec_id = 0"), k=3, n_cells=2, nprobe=2)
    ids = {r.neighbor_id for r in out.collect()}
    assert 99 not in ids and len(ids) > 0

    with _pytest.raises(ValueError, match="n_planes"):
        sim.hyperplane_signatures("embedding", dim=2, n_planes=64)


# ---------------------------------------------------------------------------
# Product quantization (pq_train / pq_encode / pq_topk)
# ---------------------------------------------------------------------------


def test_pq_train_shape_and_divisibility(spark, vecs):
    rows, df = vecs
    book = similarity.pq_train(df, "vec_id", "embedding", m=4, ks=16)
    assert book.shape == (4, 16, 2)
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_train(df, "vec_id", "embedding", m=3)


def test_pq_encode_codes_in_range(spark, vecs):
    rows, df = vecs
    book = similarity.pq_train(df, "vec_id", "embedding", m=4, ks=16)
    coded = similarity.pq_encode(df, "embedding", book).collect()
    assert len(coded) == len(rows)
    for r in coded:
        assert len(r.pq_codes) == 4
        assert all(0 <= c < 16 for c in r.pq_codes)


def test_pq_adc_matches_numpy_reconstruction(spark, vecs):
    """The JVM zip_with table lookup must reproduce EXACTLY the
    distance numpy computes from the same codes and tables — pins the
    j*ks + code + 1 indexing (an off-by-one here silently scores every
    pair against the wrong centroid)."""
    import numpy as np

    rows, df = vecs
    data = {i: np.asarray(v, dtype=np.float64) for i, v in rows}
    book = similarity.pq_train(df, "vec_id", "embedding", m=4, ks=16)
    m, ks, dsub = book.shape
    codes = {
        r.vec_id: list(r.pq_codes)
        for r in similarity.pq_encode(df, "embedding", book).collect()
    }
    queries = df.where(F.col("vec_id") < 2)
    got = similarity.pq_topk(df, queries, book, k=99).collect()
    assert got, "no pq pairs returned"
    for r in got:
        qv = data[r.query_id] / max(np.linalg.norm(data[r.query_id]), 1e-12)
        dist2 = 0.0
        for j, c in enumerate(codes[r.neighbor_id]):
            sub = qv[j * dsub : (j + 1) * dsub]
            dist2 += float(((sub - book[j][c]) ** 2).sum())
        assert abs(r.sim - round(1.0 - dist2 / 2, 4)) <= 1e-9, (
            f"pair ({r.query_id},{r.neighbor_id}): {r.sim} vs analytic"
        )


def test_pq_recall_and_determinism(spark, vecs):
    rows, df = vecs
    queries = df.where(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(df, queries, k=5).collect()
    }
    book = similarity.pq_train(df, "vec_id", "embedding", m=4, ks=64)
    got1 = similarity.pq_topk(df, queries, book, k=5).collect()
    approx = {(r.query_id, r.neighbor_id) for r in got1}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"PQ recall {recall:.2f} below floor"
    # self-pairs never score; deterministic across runs
    assert all(r.query_id != r.neighbor_id for r in got1)
    got2 = similarity.pq_topk(df, queries, book, k=5).collect()
    assert sorted(map(tuple, got1)) == sorted(map(tuple, got2))


def test_pq_excludes_null_embeddings(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, None), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    book = similarity.pq_train(df, "vec_id", "embedding", m=2, ks=3)
    got = similarity.pq_topk(df, df.where(F.col("vec_id") == 0), book, k=10).collect()
    assert {r.neighbor_id for r in got} == {1, 3}


def test_pq_train_empty_corpus_raises(spark):
    df = spark.createDataFrame([(1, None)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no non-NULL vectors"):
        similarity.pq_train(df, "vec_id", "embedding", m=2)


def test_pq_topk_string_ids(spark):
    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    book = similarity.pq_train(df, "vec_id", "embedding", m=2, ks=3)
    got = similarity.pq_topk(df, df.where(F.col("vec_id") == "a"), book, k=2).collect()
    assert {r.neighbor_id for r in got} == {"b", "c"}
    assert all(r.query_id == "a" for r in got)


def test_ivfpq_recall_and_cell_pruning(spark, vecs):
    """IVFPQ: recall floor vs exact; probing every cell recovers plain
    PQ exactly (cell pruning only removes candidates, never rescores);
    no self-pairs."""
    rows, df = vecs
    queries = df.where(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(df, queries, k=5).collect()
    }
    book = similarity.pq_train(df, "vec_id", "embedding", m=4, ks=64)
    got = similarity.pq_topk_ivf(
        df, queries, book, k=5, n_cells=8, nprobe=4
    ).collect()
    approx = {(r.query_id, r.neighbor_id) for r in got}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVFPQ recall {recall:.2f} below floor"
    assert all(r.query_id != r.neighbor_id for r in got)
    # full probe == plain PQ (cells stop pruning)
    full = {
        (r.query_id, r.neighbor_id, r.sim)
        for r in similarity.pq_topk_ivf(
            df, queries, book, k=5, n_cells=8, nprobe=8
        ).collect()
    }
    plain = {
        (r.query_id, r.neighbor_id, r.sim)
        for r in similarity.pq_topk(df, queries, book, k=5).collect()
    }
    assert full == plain


def test_ivf_full_probe_equals_exact(spark, vecs):
    """nprobe == n_cells makes IVF an exact index: every (query,
    neighbor) pair is enumerated exactly once through the cell
    equi-join, so the result is IDENTICAL to brute-force cosine_topk —
    the identity the driver-graded q_embed_topk_ivf_full entry rests
    on (round-8 verdict item 1b)."""
    rows, df = vecs
    queries = df.where(F.col("vec_id") < 5)
    exact = sorted(map(tuple, similarity.cosine_topk(df, queries, k=4).collect()))
    full = sorted(map(tuple, similarity.cosine_topk_ivf(
        df, queries, k=4, n_cells=8, nprobe=8).collect()))
    assert full == exact


def test_pq_train_md5_mode_codebook_is_sql_derivable(spark, vecs):
    """hash_fn='md5' + iters=0: the codebook equals the normalized
    subspaces of the first ks md5(cast(id as string))-ordered vectors
    — the closed form the q_embed_topk_pq_exact oracle rebuilds."""
    import hashlib

    import numpy as np

    rows, df = vecs
    ks, m = 4, 2
    book = similarity.pq_train(
        df, "vec_id", "embedding", m=m, ks=ks, sample_n=ks, iters=0,
        hash_fn="md5",
    )
    order = sorted(rows, key=lambda r: hashlib.md5(str(r[0]).encode()).hexdigest())
    x = np.asarray([r[1] for r in order[:ks]], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    dsub = x.shape[1] // m
    for j in range(m):
        assert np.allclose(book[j], x[:, j * dsub : (j + 1) * dsub])


def test_pq_train_rejects_unknown_hash_fn(spark, vecs):
    _, df = vecs
    with pytest.raises(ValueError, match="hash_fn"):
        similarity.pq_train(df, "vec_id", "embedding", m=2, hash_fn="sha1")


# ---------------------------------------------------------------------------
# Persisted PQ index (save_pq_index / query_pq_index)
# ---------------------------------------------------------------------------


def _vec_df(spark, n, dim=16, seed=3):
    import random

    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_query_pq_index_identical_to_in_memory_pq_topk(spark, tmp_path):
    from aws_logs_to_parquet_converter_spark.operators.similarity import (
        pq_topk,
        pq_train,
        query_pq_index,
        save_pq_index,
    )

    corpus = _vec_df(spark, 80)
    queries = corpus.where("vec_id < 5")
    idx = str(tmp_path / "pqidx")
    kw = dict(m=4, ks=8, sample_n=32, iters=3, seed=42)
    save_pq_index(corpus, idx, **kw)
    got = sorted(map(tuple, query_pq_index(spark, idx, queries, k=5).collect()))
    book = pq_train(corpus, "vec_id", "embedding", **kw)
    want = sorted(map(tuple, pq_topk(corpus, queries, book, k=5).collect()))
    assert got == want and len(got) == 25


def test_save_pq_index_append_uses_existing_codebook(spark, tmp_path):
    """Appending must encode with the STORED codebook (never retrain):
    the appended vectors become findable, and pre-existing neighbors'
    codes/scores are untouched."""
    from aws_logs_to_parquet_converter_spark.operators.similarity import (
        query_pq_index,
        save_pq_index,
    )

    corpus = _vec_df(spark, 60)
    extra = _vec_df(spark, 80, seed=3).where("vec_id >= 60")  # disjoint ids, same draw
    idx = str(tmp_path / "pqidx")
    save_pq_index(corpus, idx, m=4, ks=8, sample_n=32, iters=3)
    before = {
        (r.query_id, r.neighbor_id): r.sim
        for r in query_pq_index(spark, idx, corpus.where("vec_id < 3"), k=60).collect()
    }
    save_pq_index(extra, idx, mode="append")
    after = query_pq_index(spark, idx, corpus.where("vec_id < 3"), k=200).collect()
    after_map = {(r.query_id, r.neighbor_id): r.sim for r in after}
    # every pre-append pair keeps its exact score; appended ids now present
    for pair, sim in before.items():
        assert after_map[pair] == sim
    assert any(r.neighbor_id >= 60 for r in after)
    # an at-least-once retry of the SAME append must not let the
    # duplicated codes occupy extra top-k slots (query-side dedup)
    save_pq_index(extra, idx, mode="append")
    again = query_pq_index(spark, idx, corpus.where("vec_id < 3"), k=200).collect()
    assert sorted((r.query_id, r.neighbor_id, r.sim) for r in again) == sorted(
        (r.query_id, r.neighbor_id, r.sim) for r in after
    )


def test_semantic_contamination_catches_paraphrase_and_excludes_nulls(spark):
    """Flags near-identical embeddings (the paraphrase-leakage case
    n-gram overlap misses), ignores dissimilar ones, excludes NULLs."""
    from aws_logs_to_parquet_converter_spark.operators.similarity import (
        semantic_contamination,
    )

    ev = [1.0] + [0.0] * 15
    near = [0.99, 0.14] + [0.0] * 14          # cos ~0.990 vs ev
    far = [0.0] * 15 + [1.0]                  # orthogonal
    corpus = spark.createDataFrame(
        [(100, near), (101, far), (102, None)],
        "vec_id long, embedding array<double>",
    )
    eval_set = spark.createDataFrame(
        [(1, ev), (2, None)], "vec_id long, embedding array<double>"
    )
    got = semantic_contamination(corpus, eval_set, threshold=0.95).collect()
    assert [(r.corpus_id, r.eval_id) for r in got] == [(100, 1)]
    assert got[0].sim >= 0.98
    # decontamination compose: anti join removes exactly the flagged row
    flagged = semantic_contamination(corpus, eval_set, threshold=0.95).select(
        F.col("corpus_id").alias("vec_id")
    )
    kept = sorted(r.vec_id for r in corpus.join(flagged, "vec_id", "left_anti").collect())
    assert kept == [101, 102]


def test_pq_index_versioned_commit_ignores_uncommitted_rebuild(spark, tmp_path):
    """The params row is the atomic pointer: data written under a NEW
    version dir without the params commit (a crashed rebuild) is
    invisible — readers stay on the previous complete version — and a
    completed rebuild prunes the superseded dir."""
    import os

    from aws_logs_to_parquet_converter_spark.operators.similarity import (
        query_pq_index,
        save_pq_index,
    )

    corpus = _vec_df(spark, 40)
    queries = corpus.where("vec_id < 3")
    idx = str(tmp_path / "pqidx")
    save_pq_index(corpus, idx, m=4, ks=8, sample_n=32, iters=2)
    before = sorted(map(tuple, query_pq_index(spark, idx, queries, k=5).collect()))
    # simulate a crashed rebuild: a new version dir with garbage codes,
    # but NO params commit
    spark.createDataFrame(
        [(0, [0, 0, 0, 0])], "id long, pq_codes array<int>"
    ).write.parquet(f"{idx}/v-deadbeefcafe/codes")
    after = sorted(map(tuple, query_pq_index(spark, idx, queries, k=5).collect()))
    assert after == before  # uncommitted version never read
    # a completed rebuild commits a new pointer and prunes stale dirs
    save_pq_index(corpus, idx, m=4, ks=8, sample_n=32, iters=2)
    vdirs = [d for d in os.listdir(idx) if d.startswith("v-")]
    assert len(vdirs) == 1 and vdirs[0] != "v-deadbeefcafe"
    assert sorted(map(tuple, query_pq_index(spark, idx, queries, k=5).collect())) == before


def test_save_pq_index_append_rejects_wrong_dim_and_validate_reports_conflicts(
    spark, tmp_path
):
    """Wrong-dimension vectors encode into plausible m-byte codes (each
    subvector just misreads), so the append must refuse them BEFORE
    encoding; and validate_pq_index must surface replay debris and
    same-id-different-codes conflicts the way validate_minhash_index
    does (r9 advisor)."""
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.similarity import (
        save_pq_index,
        validate_pq_index,
    )

    corpus = _vec_df(spark, 40)
    idx = str(tmp_path / "pqidx")
    save_pq_index(corpus, idx, m=4, ks=8, sample_n=32, iters=2)
    rep = validate_pq_index(spark, idx)
    assert rep["n_codes"] == rep["n_ids"] == 40
    assert rep["n_conflicting_ids"] == 0 and rep["n_bad_length_ids"] == 0

    wrong = _vec_df(spark, 5, dim=12).withColumn("vec_id", F.col("vec_id") + 100)
    with pytest.raises(ValueError, match="dim != codebook dim 16"):
        save_pq_index(wrong, idx, mode="append")

    # same id, different vector content => conflicting codes on re-append
    shifted = _vec_df(spark, 3, seed=99).select(
        "vec_id", F.transform("embedding", lambda x: x * 2).alias("embedding")
    )
    save_pq_index(shifted, idx, mode="append")
    rep2 = validate_pq_index(spark, idx)
    assert rep2["n_codes"] == 43
    assert rep2["n_conflicting_ids"] >= 1


def test_prototypicality_production_mode_invariants(spark):
    """Production (xxhash64, iterated k-means) prototypicality: every
    non-NULL vector scored exactly once, ranks contiguous per cell
    from 1, and each cell's rank-1 vector really is the one closest
    to that cell's centroid (cross-checked by re-ranking on the
    returned sims)."""
    from aws_logs_to_parquet_converter_spark.operators.similarity import (
        prototypicality_scores,
    )

    vecs = _vec_df(spark, 60)
    null_row = spark.createDataFrame(
        [(999, None)], "vec_id long, embedding array<double>"
    )
    got = prototypicality_scores(
        vecs.unionByName(null_row), n_cells=8, iters=3
    ).collect()
    assert len(got) == 60 and len({r.vec_id for r in got}) == 60  # NULL excluded
    by_cell = {}
    for r in got:
        by_cell.setdefault(r.cell, []).append(r)
    for cell, rows in by_cell.items():
        rows.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
        # rank order is (sim desc, id asc) over the rounded sims
        assert rows == sorted(rows, key=lambda r: (-r.proto_sim, r.vec_id))
    # determinism across partitionings
    again = prototypicality_scores(
        vecs.repartition(13), n_cells=8, iters=3
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_hard_negative_pairs_band_and_subset_of_exact(spark):
    """The mined pairs are exactly the band-filtered slice of the full
    cosine scoring, re-ranked: every returned sim is in [lo, hi), no
    self pairs, and per query the pairs equal the brute-force
    band-filtered top-k."""
    from aws_logs_to_parquet_converter_spark.operators.similarity import (
        cosine_topk,
        hard_negative_pairs,
    )

    corpus = _vec_df(spark, 80)
    queries = corpus.where("vec_id < 4")
    lo, hi, k = 0.1, 0.4, 5
    got = hard_negative_pairs(corpus, queries, k=k, lo=lo, hi=hi).collect()
    assert got and all(lo <= r.sim < hi for r in got)
    assert all(r.query_id != r.neighbor_id for r in got)
    # brute force: full ranking (k = corpus size), band filter, top-k
    full = cosine_topk(corpus, queries, k=100).collect()
    want = {}
    for r in sorted(full, key=lambda r: (r.query_id, -r.sim, r.neighbor_id)):
        if lo <= r.sim < hi and len(want.setdefault(r.query_id, [])) < k:
            want[r.query_id].append((r.neighbor_id, r.sim))
    got_by_q = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rnk)):
        got_by_q.setdefault(r.query_id, []).append((r.neighbor_id, r.sim))
    assert got_by_q == want


def test_retrieval_metrics_hand_computed(spark):
    """Metrics against a tiny hand-derived case: recall counts only
    top-k hits, rr takes the FIRST relevant rank, binary nDCG divides
    by the ideal prefix, unanswered queries emit all-zero rows, and
    duplicate qrel rows don't double-count."""
    import math

    from aws_logs_to_parquet_converter_spark.operators.similarity import (
        retrieval_metrics,
    )

    results = spark.createDataFrame(
        [("a", 10, 1), ("a", 11, 2), ("a", 12, 3),
         ("b", 20, 1), ("b", 21, 2)],
        "query_id string, doc_id long, rnk int",
    )
    qrels = spark.createDataFrame(
        [("a", 11), ("a", 11), ("a", 12), ("a", 99),   # dup row; 99 unretrieved
         ("b", 77),                                     # no hits
         ("c", 1)],                                     # query with no results
        "query_id string, doc_id long",
    )
    got = {r.query_id: r for r in retrieval_metrics(results, qrels, k=3).collect()}
    a = got["a"]
    assert (a.n_rel, a.n_hits) == (3, 2)
    assert a.recall_at_k == round(2 / 3, 4) and a.rr == 0.5
    dcg = 1 / math.log2(3) + 1 / math.log2(4)
    idcg = 1 / math.log2(2) + 1 / math.log2(3) + 1 / math.log2(4)
    assert a.ndcg == round(dcg / idcg, 4)
    assert (got["b"].n_hits, got["b"].rr, got["b"].ndcg) == (0, 0.0, 0.0)
    assert (got["c"].n_rel, got["c"].recall_at_k) == (1, 0.0)


def test_pq_semantic_gate_chunked_equals_single_shot(spark, tmp_path):
    """The chunked probe (bounded driver state, r10 review) must gate
    exactly the same rows as one query_pq_index call — chunking is an
    execution strategy, never a semantics change — and same-id
    re-deliveries must be gated (exclude_self=False)."""
    from aws_logs_to_parquet_converter_spark.operators.similarity import (
        pq_semantic_gate,
        query_pq_index,
        save_pq_index,
    )

    corpus = _vec_df(spark, 40)
    idx = str(tmp_path / "pqidx")
    save_pq_index(corpus, idx, m=4, ks=8, sample_n=32, iters=2)
    # batch: 10 exact re-deliveries (5 same-id, 5 re-labeled) + 3 novel
    redeliver_same = corpus.where("vec_id < 5")
    redeliver_newid = corpus.where("vec_id >= 5 and vec_id < 10").withColumn(
        "vec_id", F.col("vec_id") + 100
    )
    novel = _vec_df(spark, 3, seed=77).withColumn("vec_id", F.col("vec_id") + 500)
    no_vec = spark.createDataFrame([(900, None)], "vec_id long, embedding array<double>")
    batch = redeliver_same.unionByName(redeliver_newid).unionByName(novel).unionByName(no_vec)

    kept_chunked = sorted(
        r.vec_id
        for r in pq_semantic_gate(
            spark, idx, batch, threshold=0.95, probe_chunk_rows=3
        ).collect()
    )
    hits = query_pq_index(spark, idx, batch, k=1, exclude_self=False)
    gated = {r.query_id for r in hits.where("sim >= 0.95").collect()}
    kept_single = sorted(r.vec_id for r in batch.collect() if r.vec_id not in gated)
    assert kept_chunked == kept_single
    # novel vectors clear a 0.95 gate (ADC sim vs foreign codes is far
    # below it); re-deliveries sit wherever quantization error puts
    # them — sim(v, code(v)) < 1 by the PQ geometry, which is why the
    # gate semantics are pinned by the chunked==single equality above,
    # not by a universal "re-delivery always gated" claim
    assert {500, 501, 502} <= set(kept_chunked)
    assert 900 in kept_chunked  # a NULL embedding has no geometry to gate on
    # the same-id path exercises exclude_self=False end to end: at a
    # permissive threshold every same-id re-delivery must gate
    kept_loose = {
        r.vec_id
        for r in pq_semantic_gate(
            spark, idx, redeliver_same, threshold=0.5, probe_chunk_rows=2
        ).collect()
    }
    assert kept_loose == set()


def test_lsh_bucketed_multiprobe_recall_and_plan(spark, sf_dir):
    """The bucketed equi-join LSH must (a) contain no broadcast nested
    loop or cartesian (its whole point vs the broadcast form), (b) beat
    its own no-probe recall against exact top-k, and (c) validate the
    band split."""
    import pytest
    from pyspark.sql import functions as F

    from aws_logs_to_parquet_converter_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = emb.select(F.size("embedding")).first()[0]
    queries = emb.where(F.col("vec_id") < 8)

    exact = similarity.cosine_topk(emb, queries, k=5)
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}

    def recall(probe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in similarity.cosine_topk_lsh_bucketed(
                emb, queries, dim=dim, k=5, n_planes=12, bands=3,
                probe_flips=probe,
            ).collect()
        }
        return len(got & truth) / len(truth)

    r_plain, r_probe = recall(False), recall(True)
    assert r_probe >= r_plain  # multi-probe can only widen candidates
    assert r_probe >= 0.5  # sanity floor at this table count

    plan = (
        similarity.cosine_topk_lsh_bucketed(
            emb, queries, dim=dim, k=5, n_planes=12, bands=3
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    with pytest.raises(ValueError, match="divide evenly"):
        similarity.cosine_topk_lsh_bucketed(
            emb, queries, dim=dim, n_planes=12, bands=5
        )


def test_retired_dim_param_warns(spark):
    """r15 advisory: ``semantic_dedup``'s dim is retained-but-ignored
    since r14; a caller passing it must get a DeprecationWarning (and
    the kept rows must be identical with and without it)."""
    import warnings as _w

    from aws_logs_to_parquet_converter_spark.operators.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0]), (2, [3.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        kept_with = semantic_dedup(df, threshold=0.99, n_cells=1, dim=3)
    assert any(issubclass(w.category, DeprecationWarning) for w in rec)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        kept_without = semantic_dedup(df, threshold=0.99, n_cells=1)
    assert not any(issubclass(w.category, DeprecationWarning) for w in rec)
    ids = [sorted(r.vec_id for r in k.collect()) for k in (kept_with, kept_without)]
    assert ids[0] == ids[1] == [0, 2]
