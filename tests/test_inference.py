"""Model-inference seam tests: the Arrow plumbing (batching, index
alignment, NULL quarantine, lazy per-worker init) is real; the model is
the deterministic logistic stub whose formula the SQL oracle re-derives
(q_quality_score closes the loop engine-side)."""

import math

import pandas as pd
import pytest

from aws_logs_to_parquet_converter_spark.operators import inference


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog"),
        (1, "a " * 200),                       # token count saturates the clip
        (2, "12345 67890 !!!"),                # zero alpha ratio
        (3, ""),                               # empty text
        (4, None),                             # NULL text -> quarantine
        (5, "Mixed CASE Words and 123 numbers here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _expected(text):
    if text is None:
        return None
    n_tokens = len(text.split())
    n_chars = len(text)
    alpha = sum(c.isascii() and c.isalpha() for c in text)
    ratio = alpha / n_chars if n_chars else 0.0
    z = inference.B0 + inference.B_TOK * min(n_tokens / 100.0, 1.0) + inference.B_ALPHA * ratio
    return 1.0 / (1.0 + math.exp(-z))


def test_batch_score_matches_formula(spark, docs):
    got = {r.doc_id: r.score for r in inference.batch_score(docs).collect()}
    want = {r.doc_id: _expected(r.text) for r in docs.collect()}
    assert got[4] is None  # NULL text quarantined
    for k in (0, 1, 2, 3, 5):
        assert got[k] == pytest.approx(want[k], abs=1e-12), k


def test_batch_rows_do_not_change_results(spark, docs):
    a = {r.doc_id: r.score for r in inference.batch_score(docs, batch_rows=2).collect()}
    b = {r.doc_id: r.score
         for r in inference.batch_score(docs.repartition(3), batch_rows=256).collect()}
    assert a == b


def test_raising_model_quarantines_not_crashes(spark, docs):
    def bad_loader():
        def model(texts: pd.Series) -> pd.Series:
            raise RuntimeError("model exploded")
        return model

    rows = inference.batch_score(docs, model_loader=bad_loader).collect()
    assert len(rows) == 6
    assert all(r.score is None for r in rows)


def test_custom_model_loader_plugs_in(spark, docs):
    def loader():
        return lambda texts: texts.fillna("").str.len().astype("float64")

    got = {r.doc_id: r.score
           for r in inference.batch_score(docs, model_loader=loader).collect()}
    want = {r.doc_id: float(len(r.text)) if r.text is not None else 0.0
            for r in docs.collect()}
    assert got == want


def test_batch_score_composes_with_structured_streaming(spark, tmp_path):
    """The inference seam must run unchanged in a stream: readStream ->
    batch_score (mapInPandas) -> parquet sink, scores identical to the
    batch path — the continuous quality-gating shape of a live corpus
    ingest."""
    import json

    src = tmp_path / "in"
    src.mkdir()
    docs = [(i, f"document number {i} with some words " * (i + 1)) for i in range(6)]
    (src / "a.jsonl").write_text(
        "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in docs)
    )
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    q = (
        inference.batch_score(stream, id_col="doc_id", text_col="text")
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {r.doc_id: r.score
                for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    batch_df = spark.createDataFrame(docs, "doc_id long, text string")
    batch = {r.doc_id: r.score for r in inference.batch_score(batch_df).collect()}
    assert streamed == batch


def test_batch_score_fresh_index_model_and_duplicate_ids(spark):
    """A real model returning a FRESH-indexed Series (0..n-1, the
    natural sklearn shape) must score positionally — the old dict
    constructor aligned on the pandas index union and corrupted every
    chunk after the first; duplicate ids score once per input row."""
    import pandas as pd

    from aws_logs_to_parquet_converter_spark.operators import inference

    def fresh_index_loader():
        def model(texts: pd.Series) -> pd.Series:
            # fresh 0..n-1 index, ignoring the incoming chunk index
            return pd.Series([float(len(t)) for t in texts.tolist()])
        return model

    rows = [(i, "x" * (i + 1)) for i in range(600)]  # > batch_rows=256
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scored = inference.batch_score(
        df, model_loader=fresh_index_loader, batch_rows=256
    ).collect()
    assert len(scored) == 600
    got = {r.doc_id: r.score for r in scored}
    assert all(got[i] == float(i + 1) for i in range(600))  # no NULL/shifted rows

    dup = spark.createDataFrame(
        [(7, "a doc"), (7, "a doc"), (8, "bb")], "doc_id long, text string"
    )
    got_dup = sorted(
        (r.doc_id, r.score)
        for r in inference.batch_score(dup, model_loader=fresh_index_loader).collect()
    )
    assert got_dup == [(7, 5.0), (7, 5.0), (8, 2.0)]  # k duplicates -> k rows


def test_calibration_bins_semantics(spark):
    """Integer-exact reliability table: bin membership, the 1.0 clamp,
    positives per bin, and the degenerate-bins guard."""
    import pytest
    from aws_logs_to_parquet_converter_spark.operators.inference import (
        calibration_bins,
    )

    rows = [
        (0.05, False), (0.08, True),   # bin 0: 1/2 positive
        (0.55, True), (0.57, True),    # bin 5: 2/2
        (1.0, True),                   # clamps into bin 9, not bin 10
        (0.95, False),                 # bin 9
    ]
    df = spark.createDataFrame(rows, "prob double, y boolean")
    out = {r.bin: (r.n, r.n_pos, r.sum_score_e4) for r in
           calibration_bins(df, "prob", "y", bins=10).collect()}
    assert out == {
        0: (2, 1, 500 + 800),
        5: (2, 2, 5500 + 5700),
        9: (2, 1, 10000 + 9500),
    }
    with pytest.raises(ValueError, match="bins"):
        calibration_bins(df, "prob", "y", bins=0)
