"""Batch model-inference seam: score documents with a (pluggable)
quality model — the plumbing between rule-based text stats and
model-based filtering in a training-data pipeline (north-star operator
set; the reference has no counterpart — this is the "run a quality
classifier over 100 TB" shape every modern corpus build needs).

The Spark mechanics are real and tested — Arrow-batched ``mapInPandas``
(ONE Python crossing), per-executor lazy model init (the load happens
once per worker process, not per batch), bounded batch sizes, NULL
quarantine for unscorable rows, and fixed-width numeric output (never
re-serialized blobs).  The default model is a deterministic logistic
stub over cheap text features so the operator carries a full SQL
oracle; a production deploy passes ``model_loader`` returning a real
scorer (sklearn/torch/onnx) at the same seam.

100 TB posture: the model loads once per executor and is O(model) in
memory; rows stream through in Arrow batches; output is (id, score) —
8 bytes of payload per row into the shuffle that follows.  No
``collect``, no driver-side scoring, no per-row Python function calls
(the stub scores a whole pandas batch vectorized).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

# Logistic quality stub coefficients — documented so the SQL oracle in
# plans/extensions.py::q_quality_score reproduces the formula exactly:
#   z = B0 + B_TOK * least(n_tokens/100, 1) + B_ALPHA * alpha_ratio
#   score = 1 / (1 + exp(-z))
# n_tokens = whitespace-separated token count, alpha_ratio = fraction
# of [A-Za-z] characters.  Both are SQL-expressible, so the full Arrow
# path is oracle-checked end to end — rare for an inference seam.
B0 = -1.5
B_TOK = 0.8
B_ALPHA = 1.2


def stub_model() -> "Callable[[pd.Series], pd.Series]":
    """Deterministic quality 'model': a logistic over two text
    features.  Vectorized over the whole pandas batch (no per-row
    Python).  Stands in for a real classifier at the same signature:
    ``model(texts: pd.Series) -> pd.Series[float]``."""

    def score(texts: pd.Series) -> pd.Series:
        s = texts.fillna("")
        n_tokens = s.str.split().str.len().astype("float64")
        n_chars = s.str.len().astype("float64")
        n_alpha = s.str.count(r"[A-Za-z]").astype("float64")
        alpha_ratio = (n_alpha / n_chars).where(n_chars > 0, 0.0)
        z = B0 + B_TOK * (n_tokens / 100.0).clip(upper=1.0) + B_ALPHA * alpha_ratio
        out = pd.Series(1.0 / (1.0 + np.exp(-z.to_numpy())), index=s.index)
        return out.where(texts.notna(), other=None)

    return score


def batch_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    model_loader: "Callable[[], Callable[[pd.Series], pd.Series]] | None" = None,
    batch_rows: int = 256,
) -> DataFrame:
    """Score every document: returns (``id_col``, score DOUBLE).

    ``model_loader`` is called lazily INSIDE the task, at most once per
    Python worker (module-level memo) — the broadcast-free pattern for
    shipping a model: the loader closure serializes with the task
    (cheap), the loaded model never does.  Unscorable rows (NULL text,
    or a batch where the model raises) come back with NULL score —
    quarantine, never a task crash.
    """
    loader = model_loader or stub_model
    out_schema = StructType(
        [df.schema[id_col], StructField("score", DoubleType(), True)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = loader()  # once per worker per task; real loaders memoize
        for pdf in batches:
            for start in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[start : start + batch_rows]
                try:
                    scores = model(chunk[text_col])
                except Exception:
                    scores = pd.Series([None] * len(chunk))
                # build POSITIONALLY: the dict constructor aligns on
                # pandas index, and a real model returning a fresh
                # 0..n-1 index against chunk.iloc[256:]'s 256..511
                # index would union to a doubled frame of NULLs
                # (round-7 review finding; the stub preserved
                # chunk.index so tests never hit it)
                yield pd.DataFrame(
                    {
                        id_col: chunk[id_col].to_numpy(),
                        "score": pd.Series(scores).to_numpy(dtype="object"),
                    }
                )

    return df.select(id_col, text_col).mapInPandas(run, schema=out_schema)


def calibration_bins(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Classifier reliability table: bucket [0,1] scores into ``bins``
    equal-width bins and report per-bin volume, positive count, and
    score mass — the calibration diagnostic you run before trusting a
    quality filter's threshold (a well-calibrated scorer has
    n_pos/n ~ mean score per bin).

    Cross-engine exactness: the score is integerized FIRST
    (e4 = round(score * 10000) as BIGINT — round-to-integer agrees
    across engines), then the bin edge is pure integer arithmetic
    (e4 * bins // 10000, clamped so score=1.0 lands in the last bin).
    Binning the raw double instead would put documents whose score
    rounds to an exact bin edge on engine-dependent sides of it.
    Outputs are all integers: (bin, n, n_pos, sum_score_e4).

    One aggregation, <= bins rows out — map-side combine does the work
    at any corpus size.
    """
    if bins < 1:
        raise ValueError(f"calibration_bins: bins must be >= 1, got {bins}")
    base = scored.select(
        F.round(F.col(score_col) * 10000).cast("long").alias("_e4"),
        F.col(label_col).cast("boolean").alias("_y"),
    )
    return (
        base.select(
            # clamp BOTH ends: score=1.0 lands in the last bin, and a
            # (contract-violating) out-of-range score degrades to the
            # edge bin instead of minting phantom bins
            F.greatest(
                F.lit(0),
                F.least(F.expr(f"_e4 * {bins} div 10000"), F.lit(bins - 1)),
            ).alias("bin"),
            "_e4",
            "_y",
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.count_if(F.col("_y")).alias("n_pos"),
            F.sum("_e4").alias("sum_score_e4"),
        )
    )
