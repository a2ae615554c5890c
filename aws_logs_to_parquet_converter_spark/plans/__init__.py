"""Query plans: the engine's analysis-query surface.

Each entry pairs a Spark-native implementation with an ANSI-SQL oracle
(DuckDB dialect) over the same tables, so the driver's differential
harness (row-count + schema + order-insensitive value-hash) can grade
it.  Modules register into ``REGISTRY`` at import time; the registry is
then REORDERED so the externally graded window (the driver grades the
first 50 entries) covers the highest-value surface first.
"""

from aws_logs_to_parquet_converter_spark.plans.registry import REGISTRY, Query, query  # noqa: F401
import aws_logs_to_parquet_converter_spark.plans.core  # noqa: E402,F401
import aws_logs_to_parquet_converter_spark.plans.core2  # noqa: E402,F401
import aws_logs_to_parquet_converter_spark.plans.core3  # noqa: E402,F401
import aws_logs_to_parquet_converter_spark.plans.core4  # noqa: E402,F401
import aws_logs_to_parquet_converter_spark.plans.core5  # noqa: E402,F401
import aws_logs_to_parquet_converter_spark.plans.core6  # noqa: E402,F401
import aws_logs_to_parquet_converter_spark.plans.log_domain  # noqa: E402,F401
import aws_logs_to_parquet_converter_spark.plans.extensions  # noqa: E402,F401

# The external correctness gate grades the FIRST 50 registry entries,
# so _PRIORITY picks them; every other entry follows in registration
# order.  Window policy, applied each round:
#   1. oracle-bearing entries never graded there outrank everything;
#   2. entries whose code or oracle changed this round re-enter;
#   3. the remaining slots backfill with the entries whose latest green
#      external grade is oldest, in registry-name order.
# Births after the window fills lead the next round's rotation.  Grade
# currency per entry is in the CORRECTNESS_r*.json artifacts; the
# per-round selections are in git history.
GRADED_WINDOW = 50

_PRIORITY = [
    # flagship (reference's days_apart_analysis.sql run verbatim)
    "q_days_apart",
    # (1) never externally graded
    "q_bitmap_growth",
    # (2) code or oracle changed this round
    "q_trend_kendall",
    "q_exact_quantiles",
    "q_interval_join",
    "q_point_in_interval",
    "q_peak_concurrency",
    "q_bucket_join",
    # (3) oldest-evidence backfill, in registry-name order
    "q01_pricing_summary",
    "q06_forecast_revenue",
    "q_agg_cube",
    "q_agg_distinct",
    "q_agg_rollup",
    "q_approx_percentiles",
    "q_bigram_lm",
    "q_bm25_topk",
    "q_boilerplate_lines",
    "q_bpe_encode",
    "q_bpe_token_count",
    "q_c4_rules",
    "q_chunk_tokens",
    "q_classifier_train_score",
    "q_classifier_train_step",
    "q_cms_vocab_counts",
    "q_contamination",
    "q_dedup_fingerprint",
    "q_embed_topk",
    "q_embed_topk_ivf_full",
    "q_embed_topk_ivf_probed",
    "q_embed_topk_ivfpq_full",
    "q_embed_topk_lsh",
    "q_event_funnel",
    "q_gini_udaf",
    "q_hard_negatives",
    "q_html_links",
    "q_hybrid_retrieval",
    "q_media_features_hist",
    "q_media_p3_decode",
    "q_mix_bpe_budget",
    "q_pagerank",
    "q_prototypicality",
    "q_quality_classifier",
    "q_retention_cohorts",
    "q_retrieval_metrics",
    "q_semantic_contamination",
    "q_simhash_md5",
    "q_simhash_neardup_md5",
    "q_temperature_mix",
    "q_tokenizer_fertility",
    "q_weighted_sample",
]


def _reorder() -> None:
    # A typo here must fail loudly, not silently drop a query out of the
    # graded window (round-2 advisor finding).
    unknown = set(_PRIORITY) - set(REGISTRY)
    assert not unknown, f"_PRIORITY names not in REGISTRY: {sorted(unknown)}"
    assert len(_PRIORITY) == len(set(_PRIORITY)), "duplicate _PRIORITY entries"
    assert len(_PRIORITY) <= GRADED_WINDOW, (
        f"_PRIORITY has {len(_PRIORITY)} entries; the driver grades only "
        f"the first {GRADED_WINDOW}"
    )
    ordered = {n: REGISTRY[n] for n in _PRIORITY}
    ordered.update({n: q for n, q in REGISTRY.items() if n not in ordered})
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder()
