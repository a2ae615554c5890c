"""Cache ownership (``operators/cache.py``): every operator whose result
plan reads its own cache hands that cache to the caller through
``handles``, so releasing the handles leaves no storage behind; and no
module but ``operators/cache.py`` persists anything."""

import random
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators import (
    cache,
    dedup,
    graph,
    ranking,
    sampling,
    setsim,
    similarity,
    textstats,
)

PACKAGE = Path(__file__).resolve().parent.parent / "aws_logs_to_parquet_converter_spark"

_TEXTS = [
    "the quick brown fox jumps over the lazy dog again and again",
    "the quick brown fox jumps over the lazy dog again and again today",
    "completely different words appear in this third document here",
    "a fourth document shares the quick brown fox jumps phrase too",
]


def _docs(spark):
    return spark.createDataFrame(
        [(i, _TEXTS[i % 4] + f" n{i // 4}", f"s{i % 3}") for i in range(12)],
        "doc_id long, text string, source string",
    )


def _vecs(spark):
    rng = random.Random(3)
    return spark.createDataFrame(
        [(i, [rng.random() for _ in range(4)]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )


def _bloom_probe(spark, handles):
    docs = _docs(spark)
    digests = dedup.content_digests(docs.where("doc_id % 2 = 0"), "doc_id", "text")
    bloom = dedup.digest_bloom(digests, m_bits=1 << 12, handles=handles)
    return dedup.dedup_against_corpus(docs, digests, "doc_id", "text", bloom=bloom)


CASES = {
    "global_row_number": lambda spark, h: ranking.global_row_number(
        _docs(spark), [F.col("doc_id")], num_partitions=4, handles=h
    ),
    "global_running_sum": lambda spark, h: ranking.global_running_sum(
        _docs(spark), [F.col("doc_id")], "doc_id", num_partitions=4, handles=h
    ),
    "token_stream_blocks": lambda spark, h: sampling.token_stream_blocks(
        _docs(spark), "doc_id", F.size(textstats.tokens(F.col("text"))), 8, handles=h
    ),
    "source_kl_divergence": lambda spark, h: textstats.source_kl_divergence(
        _docs(spark), "source", "text", handles=h
    ),
    "minhash_near_duplicates": lambda spark, h: dedup.minhash_near_duplicates(
        _docs(spark), "doc_id", "text", threshold=0.3, handles=h
    ),
    "simhash_near_duplicates": lambda spark, h: dedup.simhash_near_duplicates(
        _docs(spark), "doc_id", "text", handles=h
    ),
    "drop_repeated_spans": lambda spark, h: dedup.drop_repeated_spans(
        _docs(spark), "doc_id", "text", n=3, handles=h
    ),
    "setsim_join": lambda spark, h: setsim.setsim_join(
        _docs(spark), "doc_id", "text", threshold_milli=500, handles=h
    ),
    "semantic_dedup": lambda spark, h: similarity.semantic_dedup(
        _vecs(spark), threshold=0.99, n_cells=3, sample_n=24, handles=h
    ),
    "digest_bloom": _bloom_probe,
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_handles_release_every_cache(spark, name):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs())
    with cache.owned() as handles:
        CASES[name](spark, handles).collect()
        assert handles, "the operator persisted nothing through handles"
    assert set(jsc.getPersistentRDDs()) == before


def _checkpoint_ids(df):
    """Ids of the RDDs behind ``df``'s LogicalRDD leaves (its checkpoints)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    }


CHECKPOINT_CASES = {
    # a 7-node chain: six propagation rounds, each one checkpointed
    "connected_components": lambda spark: dedup.connected_components(
        spark.createDataFrame([(i, i + 1) for i in range(6)], "id_a long, id_b long")
    ),
    # checkpoints after iterations 2, 4 and 6, then the result's own
    "pagerank": lambda spark: graph.pagerank(
        spark.createDataFrame(
            [(i, (i + 1) % 5) for i in range(5)] + [(0, 2)], "src long, dst long"
        ),
        n_iters=7,
        checkpoint_every=2,
    ),
}


@pytest.mark.parametrize("name", sorted(CHECKPOINT_CASES))
def test_checkpointing_operators_keep_only_their_result(spark, name):
    """A superseded round's local checkpoint is released once the next
    one has materialised: after the call, the only storage left is the
    checkpoint the result reads, and releasing it leaves none."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs())
    out = CHECKPOINT_CASES[name](spark)
    out.collect()
    kept = _checkpoint_ids(out)
    assert len(kept) == 1
    assert set(jsc.getPersistentRDDs()) - before == kept
    cache.release_checkpoint(out)
    assert set(jsc.getPersistentRDDs()) == before


def test_only_the_cache_module_persists():
    offenders = [
        f"{path.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "cache.py" or path.parent.name != "operators"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\.persist\(|\.cache\(\)|StorageLevel", line)
    ]
    assert not offenders, offenders
