"""EXACT set-similarity self-join with PREFIX FILTERING (the
AllPairs/PPJoin family: Bayardo et al., WWW'07; Xiao et al., WWW'08)
— all document pairs whose TOKEN-SET Jaccard reaches a threshold,
with completeness GUARANTEED at every scale and no frequency cap.

Why this exists next to ``dedup.ngram_jaccard_pairs``: the inverted
index there stays tractable through a ``max_shingle_df`` cap —
shingles hotter than the cap leave the index, an approximation the
oracle must mirror.  Prefix filtering removes the need for any cap
while staying EXACT:

  Order all tokens by ascending document frequency (ties broken by the
  token itself) — any GLOBAL TOTAL order works; frequency-ascending is
  the one that makes the index cheap.  For a doc with n distinct
  tokens, index only its FIRST ``p = n − ceil(τ·n) + 1`` tokens under
  that order (its "prefix" — the p RAREST tokens).  If two docs have
  Jaccard ≥ τ they must share ≥ 1 prefix token: J(A,B) ≥ τ forces
  |A∩B| ≥ ceil(τ·max(|A|,|B|)), so A shares all but at most
  |A| − ceil(τ·|A|) < p of its tokens with B — the FIRST common token
  under the global order sits inside BOTH prefixes.  Candidates from
  the prefix equi-join are thus COMPLETE; exact verification then
  keeps only true pairs.

100 TB shape: the token-df aggregate is one map-side-combinable pass;
the per-doc ordering is doc-length-bounded (array_sort inside a row,
never a shuffle); the candidate equi-join keys on the RAREST tokens
of each doc — a stopword or boilerplate shingle enters a prefix only
when a doc has almost nothing rarer, so the hot-token bucket blowup
of a naive token self-join cannot happen at any corpus size, and
UNLIKE a df cap the guarantee costs no exactness.  The size filter
(``τ·|A| ≤ |B| ≤ |A|/τ``) prunes before verification; verification
moves each doc's token array once per surviving candidate.  Quadratic
work is confined to within-candidate verification — the same
discipline as every other near-dup path in this repo (LSH bands,
SimHash bands, deletion variants, k-means cells).

Outputs are INTEGER-EXACT: (id_a, id_b, inter, uni) with the
threshold applied as ``1000·inter ≥ threshold_milli·uni`` — no float
round-trip, so a DuckDB oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators.cache import owned, persist

#: whitespace class mirrored by every text-normalization oracle in the
#: repo (dedup._normalized's convention): no \s shorthand, so the
#: Spark and DuckDB regex engines agree on the class contents.
_WS = "[ \\t\\r\\n\\f\\x0b]+"


def word_token_sets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, _tk) pairs: DISTINCT whitespace-delimited word tokens of
    the lowercased, whitespace-normalized text.  Contentless docs
    (NULL/empty after normalization) emit no rows — they cannot pair.
    """
    nt = F.trim(F.regexp_replace(F.lower(F.col(text_col)), _WS, " "))
    return (
        df.select(F.col(id_col).alias("_id"), nt.alias("_nt"))
        .where(F.col("_nt").isNotNull() & (F.col("_nt") != ""))
        .select(
            "_id", F.explode(F.array_distinct(F.split("_nt", " "))).alias("_tk")
        )
    )


def shingle_token_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 5
) -> DataFrame:
    """(_id, _tk) pairs: DISTINCT character ``shingle_n``-grams of the
    normalized text — ``dedup.exploded_shingles``' exact tokenization
    (so results line up with the MinHash/ngram_jaccard family),
    deduplicated per doc."""
    from aws_logs_to_parquet_converter_spark.operators.dedup import (
        distinct_shingles,
    )

    # per-doc distinct is in-row (dedup.distinct_shingles) — the old
    # explode + DISTINCT rebuilt an occurrence-stream dedup aggregate
    # on every re-derivation (this relation feeds the dfreq aggregate
    # and the per-doc rank join as separate subplans)
    return distinct_shingles(df, id_col, text_col, n=shingle_n).select(
        "_id", F.col("_sh").alias("_tk")
    )


def setsim_join_tokens(
    tok: DataFrame,
    threshold_milli: int,
    handles: list[DataFrame] | None = None,
) -> DataFrame:
    """Core prefix-filtered join over DISTINCT (``_id``, ``_tk``) rows: all
    pairs (id_a < id_b) with |A∩B|/|A∪B| ≥ threshold_milli/1000, as
    integer-exact (id_a, id_b, inter, uni).  Input rows MUST be
    distinct per (id, token) — both tokenizers above guarantee it.

    The per-doc ordered-token index is PERSISTED: it feeds the prefix
    explode AND both verification sides, and Spark re-evaluates a
    non-cached aggregate subtree at every reference — measured 8
    corpus FileScans without the persist, one with it.  This is the
    AllPairs index materialization every implementation pays; the
    returned plan reads it, so it is released through ``handles``
    (``operators/cache.py``)."""
    if not isinstance(threshold_milli, int) or not (0 < threshold_milli <= 1000):
        raise ValueError(
            "setsim_join_tokens: threshold_milli must be an int in "
            f"(0, 1000], got {threshold_milli!r}"
        )
    from aws_logs_to_parquet_converter_spark.operators.ranking import (
        global_row_number,
    )

    t = tok.select("_id", "_tk")
    # global document frequency per token: one map-side-combinable agg.
    # Persisted+materialized because TWO consumers follow in separate
    # passes (the rank's range-boundary sampling job executes its full
    # child — the token_stream_blocks lesson — and the per-doc join);
    # without the cache the corpus tokenize+agg would run twice.
    with owned() as vocab_caches:
        dfreq = persist(
            t.groupBy("_tk").agg(F.count("*").alias("_df")), vocab_caches
        )
        dfreq.count()
        # Dense integer token ids, ranked by the GLOBAL (df asc, token
        # asc) total order via the two-pass range-partitioned rank (no
        # single-task sort; vocab-sized input).  Ranks are injective
        # and order-preserving, so every downstream step — prefix
        # slicing, candidate equi-join, hash-set verification — runs on
        # 8-byte PRIMITIVES instead of shingle strings: measured at
        # sf0.1 the string form spent ~90% of its 252 s wall hashing
        # ~200-element string arrays per candidate pair.  Intersection
        # counts are unchanged (injectivity), so the output stays
        # integer-exact.
        vocab = global_row_number(
            dfreq,
            [F.col("_df"), F.col("_tk")],
            rank_col="_rk",
            count_col="_rkcnt",
            handles=vocab_caches,
        ).select("_tk", "_rk")
        # per-doc ascending rank array == the global total order
        per_doc = persist(
            t.join(vocab, "_tk")
            .groupBy("_id")
            .agg(
                F.array_sort(F.collect_list("_rk")).alias("_toks"),
                F.count("*").alias("_n"),
            ),
            handles,
        )
        # Materialize before the consumers launch: the plan reads
        # per_doc from THREE subtrees (prefix explode + both
        # verification sides) and AQE starts them concurrently —
        # uncached-compute races on the per-partition cache locks hold
        # task slots for the full index-build wall (the dedup_minhash
        # lesson, measured there 4.55s -> 3.35s).  One eager count pays
        # the build in a clean stage; consumers then read the cache.
        # Once it is materialized the vocab caches drop; an
        # executor-loss recompute re-derives identical ranks (the total
        # order makes the two-pass rank draw-independent).
        per_doc.count()
    # prefix length p = n - ceil(tau*n) + 1, all-integer
    p = (
        F.col("_n")
        - F.expr(f"({threshold_milli} * _n + 999) div 1000")
        + F.lit(1)
    ).cast("int")
    # 1-based position within the full ordered array rides along: the
    # PPJoin-style pruning below needs it
    prefix = per_doc.select(
        "_id", "_n", F.posexplode(F.slice("_toks", 1, p))
    ).select(
        "_id", "_n", (F.col("pos") + 1).alias("_p"), F.col("col").alias("_tk")
    )
    a = prefix.select(
        F.col("_id").alias("id_a"), F.col("_n").alias("_na"),
        F.col("_p").alias("_pa"), "_tk",
    )
    b = prefix.select(
        F.col("_id").alias("id_b"), F.col("_n").alias("_nb"),
        F.col("_p").alias("_pb"), "_tk",
    )
    # candidate pairs: shared prefix token + size filter
    # (J >= tau forces tau*|A| <= |B| <= |A|/tau); then ONE per-pair
    # aggregate (map-side combinable, replacing the old DISTINCT at the
    # same shuffle cost) that also computes an EXACT overlap upper
    # bound for positional pruning:
    #   Let s_max be the LARGEST token shared by both prefixes, at
    #   positions (pa_max, pb_max) — both arrays sort by the same
    #   global order, so max token = max position on each side,
    #   aggregable independently.  Prefixes are downward-closed in
    #   that order, so every shared token < s_max is itself in both
    #   prefixes: shared tokens <= s_max number exactly _c (the shared
    #   prefix-token count), and shared tokens > s_max lie after
    #   pa_max/pb_max in their arrays.  Hence
    #     overlap <= _c + min(_na - pa_max, _nb - pb_max).
    #   J >= tau forces overlap >= ceil(tau*(na+nb)/(1+tau)) =: alpha;
    #   candidates whose bound falls short can never verify, and skip
    #   the verification join entirely.  (This bound dominates the
    #   classic first-match positional filter: it equals it at _c = 1
    #   and is strictly tighter for _c > 1.)
    alpha = F.expr(
        f"({threshold_milli} * (_na + _nb) + {1000 + threshold_milli} - 1) "
        f"div {1000 + threshold_milli}"
    )
    # The join's raw output is the volume driver (measured sf0.1:
    # 44.9M rows into the pair aggregate for 255k surviving
    # candidates), so the sizes are PROJECTED OFF before that exchange
    # — (_na, _nb) are functions of the ids, and carrying them as
    # extra group-by keys paid 16 B on every joined row (guide §2.3:
    # project before the exchange).  The size filter still runs INSIDE
    # the join stage (map side, before any shuffle); sizes re-attach
    # from the persisted per-doc index AFTER the aggregate, on the
    # ~100x smaller candidate relation, where the positional prune
    # needs them.
    cand = (
        a.join(b, "_tk")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            (F.lit(1000) * F.col("_nb") >= F.lit(threshold_milli) * F.col("_na"))
            & (F.lit(1000) * F.col("_na") >= F.lit(threshold_milli) * F.col("_nb"))
        )
        .select("id_a", "id_b", "_pa", "_pb")
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("_c"),
            F.max("_pa").alias("_pamax"),
            F.max("_pb").alias("_pbmax"),
        )
    )
    na = per_doc.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    nb = per_doc.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    cand = (
        cand.join(na, "id_a")
        .join(nb, "id_b")
        .where(
            F.col("_c")
            + F.least(
                F.col("_na") - F.col("_pamax"), F.col("_nb") - F.col("_pbmax")
            )
            >= alpha
        )
        .select("id_a", "id_b", "_na", "_nb")
    )
    # verify: exact intersection via JVM hash-set array_intersect over
    # the PRIMITIVE rank arrays; each doc's array moves once per
    # surviving candidate (slim everything else)
    ta = per_doc.select(F.col("_id").alias("id_a"), F.col("_toks").alias("_ta"))
    tb = per_doc.select(F.col("_id").alias("id_b"), F.col("_toks").alias("_tb"))
    inter = F.size(F.array_intersect("_ta", "_tb")).cast("long")
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.alias("inter"),
            (F.col("_na") + F.col("_nb")).cast("long").alias("_sz"),
        )
        .select(
            "id_a",
            "id_b",
            "inter",
            (F.col("_sz") - F.col("inter")).alias("uni"),
        )
        .where(
            F.lit(1000) * F.col("inter")
            >= F.lit(threshold_milli) * F.col("uni")
        )
    )


def setsim_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_milli: int = 800,
    shingle_n: int | None = None,
    handles: list[DataFrame] | None = None,
) -> DataFrame:
    """Prefix-filtered exact Jaccard self-join over a text column.
    ``shingle_n=None`` tokenizes to distinct word tokens;
    ``shingle_n=k`` to distinct character k-grams (the
    MinHash-comparable mode).  See :func:`setsim_join_tokens` (incl.
    the persisted index released through ``handles``)."""
    tok = (
        word_token_sets(df, id_col, text_col)
        if shingle_n is None
        else shingle_token_sets(df, id_col, text_col, shingle_n)
    )
    return setsim_join_tokens(tok, threshold_milli, handles=handles)
