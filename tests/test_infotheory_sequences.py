"""Round-12 ops: unigram entropy / KL divergence, Markov transitions,
inter-arrival regularity, integer-exact trailing EWMA.

Every expected value below is hand-computed from the closed form in
the operator docstring, so these are analytic checks, not snapshots.
"""

import math

import pytest
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators import cache
from aws_logs_to_parquet_converter_spark.operators.anomaly import (
    interarrival_regularity,
)
from aws_logs_to_parquet_converter_spark.operators.textstats import (
    source_kl_divergence,
    unigram_entropy,
)
from aws_logs_to_parquet_converter_spark.operators.timeseries import (
    ewma_trailing,
    markov_transitions,
)


# ---------------------------------------------------------------------------
# unigram entropy
# ---------------------------------------------------------------------------


def test_unigram_entropy_analytic(spark):
    df = spark.createDataFrame(
        [("s1", "a a b"), ("s2", "c")], "source string, text string"
    )
    got = {
        r["source"]: r
        for r in unigram_entropy(df, ["source"], "text").collect()
    }
    # s1: counts {a:2, b:1}, N=3 -> H = log2(3) - (2*log2(2))/3
    h = round(math.log2(3) - 2 * math.log2(2) / 3, 3)
    assert got["s1"]["n_tokens"] == 3
    assert got["s1"]["vocab"] == 2
    assert got["s1"]["entropy_bits"] == pytest.approx(h)
    assert got["s1"]["ttr_ppm"] == 2 * 1_000_000 // 3
    # s2: a single token -> zero entropy, TTR 1
    assert got["s2"]["entropy_bits"] == 0.0
    assert got["s2"]["ttr_ppm"] == 1_000_000


def test_entropy_flags_template_flood(spark):
    """A template-stamped source must score strictly lower entropy
    than a same-size varied source."""
    rows = [("tpl", "buy now click here buy now click here")] + [
        ("var", "alpha beta gamma delta epsilon zeta eta theta")
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        r["source"]: r["entropy_bits"]
        for r in unigram_entropy(df, ["source"], "text").collect()
    }
    assert got["tpl"] < got["var"]


# ---------------------------------------------------------------------------
# KL divergence
# ---------------------------------------------------------------------------


def test_source_kl_analytic(spark):
    df = spark.createDataFrame(
        [("s1", "a a b"), ("s2", "b")], "source string, text string"
    )
    jsc = spark.sparkContext._jsc
    cached_before = len(jsc.getPersistentRDDs())
    # the cached (group, token) counts are released through the handles
    with cache.owned() as handles:
        got = {
            r["source"]: r
            for r in source_kl_divergence(df, "source", "text", handles=handles).collect()
        }
    assert len(jsc.getPersistentRDDs()) == cached_before
    # corpus: {a:2, b:2}, N=4.  s1: p=(2/3, 1/3), q=(1/2, 1/2)
    kl1 = (2 / 3 * math.log((2 / 3) / 0.5) + 1 / 3 * math.log((1 / 3) / 0.5)) / math.log(2)
    kl2 = math.log(1 / 0.5) / math.log(2)  # s2: p_b=1, q_b=1/2
    assert got["s1"]["n_tokens"] == 3
    assert got["s1"]["kl_bits"] == pytest.approx(round(kl1, 3))
    assert got["s2"]["kl_bits"] == pytest.approx(round(kl2, 3))


def test_source_kl_identical_distribution_is_zero(spark):
    df = spark.createDataFrame(
        [("s1", "a b"), ("s2", "a b")], "source string, text string"
    )
    for r in source_kl_divergence(df, "source", "text").collect():
        assert r["kl_bits"] == 0.0


# ---------------------------------------------------------------------------
# Markov transitions
# ---------------------------------------------------------------------------


def test_markov_transitions_analytic(spark):
    rows = [
        (1, 1, "A"), (1, 2, "B"), (1, 3, "A"), (1, 4, "C"),
        (2, 1, "A"), (2, 2, "B"),
    ]
    df = spark.createDataFrame(rows, "u long, seq long, state string")
    got = {
        (r["from_state"], r["to_state"]): r
        for r in markov_transitions(df, "u", ["seq"], "state").collect()
    }
    # adjacencies: u1 A->B, B->A, A->C; u2 A->B
    assert got[("A", "B")]["n"] == 2
    assert got[("A", "C")]["n"] == 1
    assert got[("B", "A")]["n"] == 1
    # from A: 3 transitions total
    assert got[("A", "B")]["prob_ppm"] == 2 * 1_000_000 // 3
    assert got[("A", "C")]["prob_ppm"] == 1_000_000 // 3
    assert got[("B", "A")]["prob_ppm"] == 1_000_000
    # no self-invented states, last event of each key emits nothing
    assert len(got) == 3


def test_markov_single_event_keys_emit_nothing(spark):
    df = spark.createDataFrame(
        [(1, 1, "A"), (2, 1, "B")], "u long, seq long, state string"
    )
    assert markov_transitions(df, "u", ["seq"], "state").count() == 0


# ---------------------------------------------------------------------------
# inter-arrival regularity
# ---------------------------------------------------------------------------


def _ts_df(spark, rows):
    return spark.createDataFrame(
        rows, "u long, eid long, ts string"
    ).select("u", "eid", F.to_timestamp("ts").alias("ts"))


def test_interarrival_cv_analytic(spark):
    base = "2024-01-01 00:00:"
    # u=1: perfectly regular 10 s gaps (6 events, 5 gaps) -> CV 0
    # u=2: gaps 5,15,5,15,10 -> mean 10, sample var 25, sd 5 -> CV 0.5
    rows = [(1, i, f"{base}{10 * i:02d}") for i in range(6)]
    offs = [0, 5, 20, 25, 40, 50]
    rows += [(2, i, f"{base}{o:02d}") for i, o in enumerate(offs)]
    df = _ts_df(spark, rows)
    got = {
        r["u"]: r
        for r in interarrival_regularity(df, "u", "ts", "eid").collect()
    }
    assert got[1]["n_gaps"] == 5
    assert got[1]["mean_gap_us"] == 10_000_000
    assert got[1]["cv_ppm"] == 0
    assert got[2]["mean_gap_us"] == 10_000_000
    assert got[2]["cv_ppm"] == 500_000


def test_interarrival_sg2_beyond_2_64(spark):
    """Σg² > 2^64 — the regime where a single wide-integer→double cast
    is not correctly rounded in every engine (r12 advisor).  The
    two-BIGINT-halves reconstruction must still match a Python-exact
    differential bit-for-bit."""
    import math

    # irregular multi-hour gaps: each ~2^33–2^34 us, squared ≈ 2^67
    gaps = [8_589_934_592 + 1_234_567_891 * i for i in range(6)]  # 6 gaps
    # build timestamps from exact microsecond offsets
    offs = [0]
    for gp in gaps:
        offs.append(offs[-1] + gp)
    df = spark.createDataFrame(
        [(1, i, off) for i, off in enumerate(offs)], "u long, eid long, us long"
    ).select("u", "eid", F.timestamp_micros("us").alias("ts"))
    row = interarrival_regularity(df, "u", "ts", "eid").collect()[0]
    n, sg, sg2 = len(gaps), sum(gaps), sum(g * g for g in gaps)
    assert sg2 > 2**64  # the regime under test
    hi, lo = divmod(sg2, 1 << 62)
    g2d = float(hi) * float(1 << 62) + float(lo)  # the shared tree
    var = max((n * g2d - float(sg) * float(sg)) / (n * (n - 1.0)), 0.0)
    want = math.floor(1000000.0 * math.sqrt(var) * n / float(sg))
    assert row["n_gaps"] == n
    assert row["mean_gap_us"] == sg // n
    assert row["cv_ppm"] == want


def test_interarrival_min_gaps_filter(spark):
    rows = [(1, i, f"2024-01-01 00:00:{10 * i:02d}") for i in range(4)]
    df = _ts_df(spark, rows)  # 3 gaps < default 5
    assert interarrival_regularity(df, "u", "ts", "eid").count() == 0


def test_interarrival_all_zero_gaps(spark):
    """Duplicate timestamps throughout: mean 0, CV reported as 0 —
    never NaN/inf at the boundary."""
    rows = [(1, i, "2024-01-01 00:00:00") for i in range(7)]
    df = _ts_df(spark, rows)
    row = interarrival_regularity(df, "u", "ts", "eid").collect()[0]
    assert row["mean_gap_us"] == 0
    assert row["cv_ppm"] == 0


# ---------------------------------------------------------------------------
# trailing EWMA
# ---------------------------------------------------------------------------


def test_ewma_trailing_analytic(spark):
    df = spark.createDataFrame(
        [("g", "d1", 4), ("g", "d2", 2), ("g", "d3", 6)],
        "k string, d string, n long",
    )
    got = {
        r["d"]: r["ewma_milli"]
        for r in ewma_trailing(df, "k", "d", "n").collect()
    }
    # d1: 64*4/64            -> 4000
    # d2: (64*2+32*4)/96     -> 256000/96  = 2666
    # d3: (64*6+32*2+16*4)/112 -> 512000/112 = 4571
    assert got == {"d1": 4000, "d2": 2666, "d3": 4571}


def test_ewma_integer_values_near_int_max(spark):
    """IntegerType values near 2^31: the 64× weight product must run
    in BIGINT, not the input type (r12 advisor) — ANSI mode would
    otherwise raise ARITHMETIC_OVERFLOW."""
    df = spark.createDataFrame(
        [("g", "d1", 2_000_000_000), ("g", "d2", 2_000_000_000)],
        "k string, d string, n int",
    )
    got = {
        r["d"]: r["ewma_milli"]
        for r in ewma_trailing(df, "k", "d", "n").collect()
    }
    assert got == {"d1": 2_000_000_000_000, "d2": 2_000_000_000_000}


def test_ewma_window_deeper_than_seven_drops_oldest(spark):
    rows = [("g", f"d{i:02d}", 0) for i in range(8)]
    rows[0] = ("g", "d00", 1000)  # only the FIRST bucket is nonzero
    df = spark.createDataFrame(rows, "k string, d string, n long")
    got = {
        r["d"]: r["ewma_milli"]
        for r in ewma_trailing(df, "k", "d", "n").collect()
    }
    # d06 still sees d00 at weight 1/127; d07 no longer sees it at all
    assert got["d06"] == 1000 * 1000 // 127
    assert got["d07"] == 0


def test_ewma_rejects_fractional_values(spark):
    df = spark.createDataFrame(
        [("g", "d1", 1.5)], "k string, d string, n double"
    )
    with pytest.raises(ValueError, match="integral"):
        ewma_trailing(df, "k", "d", "n")


# ---------------------------------------------------------------------------
# session attribution
# ---------------------------------------------------------------------------


def test_session_attribution_analytic(spark):
    from aws_logs_to_parquet_converter_spark.operators.timeseries import (
        session_attribution,
    )

    rows = [
        # u1 session A: view -> click -> purchase  (first touch: view)
        (1, 0, "2024-01-01 00:00:00", "view"),
        (1, 1, "2024-01-01 00:10:00", "click"),
        (1, 2, "2024-01-01 00:20:00", "purchase"),
        # u1 session B (2h later): click only, no conversion
        (1, 3, "2024-01-01 02:30:00", "click"),
        # u2 one session: signup -> purchase -> purchase (2 conversions)
        (2, 0, "2024-01-01 00:00:00", "signup"),
        (2, 1, "2024-01-01 00:05:00", "purchase"),
        (2, 2, "2024-01-01 00:06:00", "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "u long, eid long, ts string, etype string"
    ).select("u", "eid", F.to_timestamp("ts").alias("ts"), "etype")
    got = {
        r["first_touch"]: r
        for r in session_attribution(
            df, "u", "ts", "eid", "etype", "purchase", gap_seconds=1800
        ).collect()
    }
    assert got["view"]["n_sessions"] == 1
    assert got["view"]["n_converted_sessions"] == 1
    assert got["view"]["n_conversions"] == 1
    assert got["click"]["n_sessions"] == 1
    assert got["click"]["n_converted_sessions"] == 0
    assert got["signup"]["n_conversions"] == 2
    assert len(got) == 3


# ---------------------------------------------------------------------------
# top event paths
# ---------------------------------------------------------------------------


def test_top_event_paths_analytic(spark):
    from aws_logs_to_parquet_converter_spark.operators.timeseries import (
        top_event_paths,
    )

    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "c"), (1, 4, "d"),
        (2, 1, "a"), (2, 2, "b"), (2, 3, "c"),
        (3, 1, "x"), (3, 2, "y"),  # too short for a trigram
    ]
    df = spark.createDataFrame(rows, "u long, seq long, s string")
    got = {
        r["path"]: r["n"]
        for r in top_event_paths(df, "u", ["seq"], "s", top_k=10).collect()
    }
    assert got == {"a>b>c": 2, "b>c>d": 1}


def test_top_paths_k_cut_is_deterministic(spark):
    """At the k boundary with tied counts the (n desc, path) order must
    decide membership lexicographically."""
    from aws_logs_to_parquet_converter_spark.operators.timeseries import (
        top_event_paths,
    )

    rows = []
    for u, s in enumerate(["a", "b", "c"]):
        rows += [(u, 1, s), (u, 2, s), (u, 3, s)]  # paths a>a>a, b>b>b, c>c>c
    df = spark.createDataFrame(rows, "u long, seq long, s string")
    got = [r["path"] for r in top_event_paths(df, "u", ["seq"], "s", top_k=2).collect()]
    assert got == ["a>a>a", "b>b>b"]


# ---------------------------------------------------------------------------
# winsorization
# ---------------------------------------------------------------------------


def test_winsorized_stats_analytic(spark):
    from aws_logs_to_parquet_converter_spark.operators.anomaly import (
        winsorized_stats,
    )

    # g: values 0..4 -> p25=1, p75=3; clamped sum = 1+1+2+3+3 = 10
    df = spark.createDataFrame(
        [("g", v) for v in [0, 1, 2, 3, 4]], "src string, v long"
    )
    row = winsorized_stats(df, "src", "v").collect()[0]
    assert row["n"] == 5
    assert row["n_clamped_low"] == 1
    assert row["n_clamped_high"] == 1
    assert row["sum_clamped_x4"] == 40


def test_winsorized_stats_quarter_interpolation_exact(spark):
    from aws_logs_to_parquet_converter_spark.operators.anomaly import (
        winsorized_stats,
    )

    # n=4: p25 position = 0.75 -> 10 + 0.75*(20-10) = 17.5 (x4 = 70)
    df = spark.createDataFrame(
        [("g", v) for v in [10, 20, 30, 40]], "src string, v long"
    )
    row = winsorized_stats(df, "src", "v").collect()[0]
    # p25=17.5, p75=32.5: clamped = 17.5, 20, 30, 32.5 -> x4 sum = 400
    assert row["sum_clamped_x4"] == 400


def test_winsorized_stats_rejects_non_quarter(spark):
    from aws_logs_to_parquet_converter_spark.operators.anomaly import (
        winsorized_stats,
    )

    df = spark.createDataFrame([("g", 1)], "src string, v long")
    with pytest.raises(ValueError, match="quarter"):
        winsorized_stats(df, "src", "v", lo=0.05, hi=0.95)
    with pytest.raises(ValueError, match="lo"):
        winsorized_stats(df, "src", "v", lo=0.75, hi=0.25)


# ---------------------------------------------------------------------------
# segment_col hot-key lever
# ---------------------------------------------------------------------------


def test_markov_segmented_equals_exact_without_boundaries(spark):
    """When every key's events share one segment, segmented == exact."""
    from aws_logs_to_parquet_converter_spark.operators.timeseries import (
        markov_transitions,
    )

    rows = [(u, i, f"s{u}", st) for u in (1, 2) for i, st in enumerate("ABAB")]
    df = spark.createDataFrame(rows, "u long, seq long, seg string, state string")
    exact = sorted(map(tuple, markov_transitions(df, "u", ["seq"], "state").collect()))
    segd = sorted(map(tuple, markov_transitions(df, "u", ["seq"], "state", "seg").collect()))
    assert exact == segd


def test_markov_segmented_recovers_boundary_adjacency(spark):
    """The boundary stitch (r13): states A B | C D split across two
    segments must STILL yield B->C — segmented is lossless."""
    from aws_logs_to_parquet_converter_spark.operators.timeseries import (
        markov_transitions,
    )

    rows = [(1, 1, "d1", "A"), (1, 2, "d1", "B"), (1, 3, "d2", "C"), (1, 4, "d2", "D")]
    df = spark.createDataFrame(rows, "u long, seq long, seg string, state string")
    exact = {(r["from_state"], r["to_state"]): r["n"]
             for r in markov_transitions(df, "u", ["seq"], "state").collect()}
    segd = {(r["from_state"], r["to_state"]): r["n"]
            for r in markov_transitions(df, "u", ["seq"], "state", "seg").collect()}
    assert exact == {("A", "B"): 1, ("B", "C"): 1, ("C", "D"): 1}
    assert segd == exact


def test_interarrival_segmented_recovers_boundary_gap(spark):
    """The boundary stitch (r13): the a|b boundary gap is recovered —
    segmented is lossless, bit-for-bit."""
    from aws_logs_to_parquet_converter_spark.operators.anomaly import (
        interarrival_regularity,
    )

    rows = [(1, i, f"2024-01-01 00:{10 * i // 60:02d}:{10 * i % 60:02d}",
             "a" if i < 4 else "b")
            for i in range(8)]
    df = spark.createDataFrame(
        rows, "u long, eid long, ts string, seg string"
    ).select("u", "eid", F.to_timestamp("ts").alias("ts"), "seg")
    exact = interarrival_regularity(df, "u", "ts", "eid").collect()[0]
    segd = interarrival_regularity(
        df, "u", "ts", "eid", segment_col="seg"
    ).collect()[0]
    assert exact["n_gaps"] == 7
    assert tuple(segd) == tuple(exact)


def test_segmented_equals_exact_on_skewed_synthetic(spark):
    """Differential on the hot-key shape the lever exists for: one bot
    user holds ~50% of all events with many single-event and
    multi-event days interleaved; both operators must produce
    IDENTICAL results in segmented (day) and exact mode — including
    empty segments' worth of multi-day boundary gaps and per-day
    singleton segments (no within-segment adjacency at all)."""
    import random

    from aws_logs_to_parquet_converter_spark.operators.anomaly import (
        interarrival_regularity,
    )
    from aws_logs_to_parquet_converter_spark.operators.timeseries import (
        markov_transitions,
    )

    rng = random.Random(13)
    rows = []
    eid = 0
    for u in range(6):
        n = 400 if u == 0 else 40  # user 0 is the hot key
        t_us = rng.randrange(10**6)
        for _ in range(n):
            # jumps up to ~3 days: many day boundaries, some days with
            # a single event, some multi-day gaps
            t_us += rng.randrange(1, 3 * 86_400_000_000)
            rows.append((u, eid, t_us, rng.choice("ABC")))
            eid += 1
    df = spark.createDataFrame(
        rows, "u long, eid long, us long, state string"
    ).select(
        "u", "eid", "state",
        F.timestamp_micros("us").alias("ts"),
    ).withColumn("seg", F.date_trunc("day", "ts"))

    m_exact = sorted(map(tuple, markov_transitions(
        df, "u", ["ts", "eid"], "state").collect()))
    m_segd = sorted(map(tuple, markov_transitions(
        df, "u", ["ts", "eid"], "state", segment_col="seg").collect()))
    assert m_exact == m_segd

    i_exact = sorted(map(tuple, interarrival_regularity(
        df, "u", "ts", "eid").collect()))
    i_segd = sorted(map(tuple, interarrival_regularity(
        df, "u", "ts", "eid", segment_col="seg").collect()))
    assert i_exact == i_segd

    from aws_logs_to_parquet_converter_spark.operators.timeseries import (
        session_attribution,
        top_event_paths,
    )

    # 2h gap => multi-day gaps start new sessions, shorter runs chain
    # across day boundaries
    s_exact = sorted(map(tuple, session_attribution(
        df, "u", "ts", "eid", "state", "B", gap_seconds=7200).collect()))
    s_segd = sorted(map(tuple, session_attribution(
        df, "u", "ts", "eid", "state", "B", gap_seconds=7200,
        segment_col="seg").collect()))
    assert s_exact == s_segd

    p_exact = sorted(map(tuple, top_event_paths(
        df, "u", ["ts", "eid"], "state", top_k=30).collect()))
    p_segd = sorted(map(tuple, top_event_paths(
        df, "u", ["ts", "eid"], "state", top_k=30,
        segment_col="seg").collect()))
    assert p_exact == p_segd


def test_session_attribution_segmented_boundary_cases(spark):
    """Hand-built boundary shapes: a session SPANNING a segment
    boundary (short gap across days) must keep ONE session id; a long
    gap across the boundary must open a new session; single-event
    segments chain offsets correctly."""
    from aws_logs_to_parquet_converter_spark.operators.timeseries import (
        session_attribution,
    )

    h = 3_600_000_000  # 1h in us
    rows = [
        # key 1: d1 [A, B] --30min--> d2 [B] (same session spans days),
        # then --5h--> d2 [C] (new session)
        (1, 0, 0 * h, "A", "d1"),
        (1, 1, 1 * h, "B", "d1"),
        (1, 2, int(1.5 * h), "B", "d2"),
        (1, 3, int(6.5 * h), "C", "d2"),
        # key 2: three single-event segments, each > gap apart:
        # three sessions, first touches A, C, A
        (2, 4, 0 * h, "A", "e1"),
        (2, 5, 10 * h, "C", "e2"),
        (2, 6, 20 * h, "A", "e3"),
    ]
    df = spark.createDataFrame(
        rows, "u long, eid long, us long, state string, seg string"
    ).select("u", "eid", "state", "seg",
             F.timestamp_micros("us").alias("ts"))
    exact = sorted(map(tuple, session_attribution(
        df, "u", "ts", "eid", "state", "B", gap_seconds=3600).collect()))
    segd = sorted(map(tuple, session_attribution(
        df, "u", "ts", "eid", "state", "B", gap_seconds=3600,
        segment_col="seg").collect()))
    assert exact == segd
    got = {r[0]: r[1:] for r in segd}
    # key1: session A..B..B (converted twice), session C; key2: A, C, A
    assert got["A"] == (3, 1, 2)
    assert got["C"] == (2, 0, 0)


def test_top_paths_segmented_boundary_cases(spark):
    """Paths crossing one boundary (both offsets) and a path spanning
    THREE segments via a singleton middle segment are all recovered;
    no false path is fused across dropped interior rows."""
    from aws_logs_to_parquet_converter_spark.operators.timeseries import (
        top_event_paths,
    )

    rows = [
        # key 1: segment s1 = A B C D E (interior C dropped from the
        # stitch), segment s2 = F G.  Cross paths: D E F, E F G.
        (1, 0, "A", "s1"), (1, 1, "B", "s1"), (1, 2, "C", "s1"),
        (1, 3, "D", "s1"), (1, 4, "E", "s1"),
        (1, 5, "F", "s2"), (1, 6, "G", "s2"),
        # key 2: singleton middle segment: H | I | J -> path H I J
        (2, 7, "H", "t1"), (2, 8, "I", "t2"), (2, 9, "J", "t3"),
    ]
    df = spark.createDataFrame(rows, "u long, eid long, state string, seg string")
    exact = {r["path"]: r["n"] for r in top_event_paths(
        df, "u", ["eid"], "state", top_k=50).collect()}
    segd = {r["path"]: r["n"] for r in top_event_paths(
        df, "u", ["eid"], "state", top_k=50, segment_col="seg").collect()}
    assert exact == segd
    assert segd["D>E>F"] == 1 and segd["E>F>G"] == 1 and segd["H>I>J"] == 1
    # the dropped interior row C must not fuse B and D
    assert "B>D>E" not in segd


# ---------------------------------------------------------------------------
# integer gram matrix
# ---------------------------------------------------------------------------


def test_gram_matrix_analytic(spark):
    from aws_logs_to_parquet_converter_spark.operators.similarity import (
        gram_matrix,
    )

    df = spark.createDataFrame(
        [([1, 2, 3],), ([4, 5, 6],)], "qvec array<int>"
    ).repartition(2)  # force multiple partials
    got = {(r["i"], r["j"]): r["g"] for r in gram_matrix(df, "qvec").collect()}
    # X^T X for X = [[1,2,3],[4,5,6]]
    assert got == {
        (0, 0): 17, (0, 1): 22, (0, 2): 27,
        (1, 1): 29, (1, 2): 36,
        (2, 2): 45,
    }


def test_gram_matrix_partition_invariant(spark):
    from aws_logs_to_parquet_converter_spark.operators.similarity import (
        gram_matrix,
    )

    rows = [([i % 5 - 2, (i * 7) % 11 - 5, i % 3],) for i in range(100)]
    df = spark.createDataFrame(rows, "qvec array<int>")
    one = sorted(map(tuple, gram_matrix(df.coalesce(1), "qvec").collect()))
    many = sorted(map(tuple, gram_matrix(df.repartition(16), "qvec").collect()))
    assert one == many


def test_gram_matrix_rejects_float_vectors(spark):
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.similarity import (
        gram_matrix,
    )

    df = spark.createDataFrame([([1.5, 2.0],)], "emb array<double>")
    with pytest.raises(TypeError, match="'emb'"):
        gram_matrix(df, "emb")


def test_project_vectors_is_matmul(spark):
    import numpy as np
    from aws_logs_to_parquet_converter_spark.operators.similarity import (
        project_vectors,
    )

    x = np.arange(12, dtype=float).reshape(3, 4)
    comps = [[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r["pca"] for r in project_vectors(df, comps).collect()}
    want = x @ np.array(comps).T
    for i in range(3):
        assert got[i] == pytest.approx(list(want[i]))


def test_ewma_all_null_frame_emits_null_not_error(spark):
    """A row whose value and all lags are NULL must emit NULL (zero
    present-weight), not an ANSI divide-by-zero."""
    df = spark.createDataFrame(
        [("g", "d1", None), ("g", "d2", 3)],
        "k string, d string, n long",
    )
    got = {r["d"]: r["ewma_milli"] for r in ewma_trailing(df, "k", "d", "n").collect()}
    assert got["d1"] is None
    assert got["d2"] == 3000  # the null lag contributes neither num nor den


# ---------------------------------------------------------------------------
# Benford profile
# ---------------------------------------------------------------------------


def test_benford_digit_profile_analytic(spark):
    from aws_logs_to_parquet_converter_spark.operators.anomaly import (
        benford_digit_profile,
    )

    # digits: 1 x3, 2 x1, 9 x1; zeros and negatives excluded
    df = spark.createDataFrame(
        [(1,), (15,), (1999,), (2,), (900,), (0,), (-7,)], "v long"
    )
    got = {r["digit"]: r for r in benford_digit_profile(df, "v").collect()}
    assert got[1]["n"] == 3 and got[1]["observed_ppm"] == 600_000
    assert got[2]["n"] == 1 and got[9]["n"] == 1
    assert got[1]["benford_ppm"] == 301_029
    assert got[9]["benford_ppm"] == 45_757
    assert set(got) == {1, 2, 9}


def test_seasonal_naive_backtest_analytic(spark):
    from aws_logs_to_parquet_converter_spark.operators.timeseries import (
        seasonal_naive_backtest,
    )

    # 10 days, season 7: days 8..10 scored against days 1..3
    vals = [10, 20, 30, 40, 50, 60, 70, 13, 26, 27]
    rows = [("g", f"d{i:02d}", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, d string, n long")
    row = seasonal_naive_backtest(df, "k", "d", "n", season=7).collect()[0]
    # errors: 13-10=3, 26-20=6, 27-30=-3 -> MAE 12/3=4, bias 6/3=2
    assert row["n_scored"] == 3
    assert row["mae_milli"] == 4000
    assert row["bias_milli"] == 2000


def test_seasonal_naive_short_series_empty(spark):
    from aws_logs_to_parquet_converter_spark.operators.timeseries import (
        seasonal_naive_backtest,
    )

    rows = [("g", f"d{i}", i) for i in range(5)]
    df = spark.createDataFrame(rows, "k string, d string, n long")
    assert seasonal_naive_backtest(df, "k", "d", "n", season=7).count() == 0


def test_dow_profile_analytic(spark):
    from aws_logs_to_parquet_converter_spark.operators.timeseries import (
        dow_profile,
    )

    # 2024-01-01 was a Monday (dow 0); two Mondays and one Tuesday
    rows = (
        [("a", "2024-01-01 10:00:00")] * 3
        + [("a", "2024-01-08 09:00:00")] * 5
        + [("a", "2024-01-02 08:00:00")] * 2
    )
    df = spark.createDataFrame(rows, "g string, ts string").select(
        "g", F.to_timestamp("ts").alias("ts")
    )
    got = {r["dow"]: r for r in dow_profile(df, "g", "ts").collect()}
    assert got[0]["n_days"] == 2          # two Mondays observed
    assert got[0]["avg_milli"] == 4000    # (3+5)/2
    assert got[1]["n_days"] == 1
    assert got[1]["avg_milli"] == 2000
    assert set(got) == {0, 1}


# ---------------------------------------------------------------------------
# CUSUM changepoint + Mann-Kendall trend (round-13 births)
# ---------------------------------------------------------------------------


def test_cusum_changepoint_analytic(spark):
    from aws_logs_to_parquet_converter_spark.operators.anomaly import (
        cusum_changepoint,
    )

    # counts 1,1,1,9,9: mean shifts after day 3; |n*S_k - k*S_n| =
    # 16,32,48,24,0 -> split at d3 with stat 48
    rows = [("g", f"d{i+1}", v) for i, v in enumerate([1, 1, 1, 9, 9])]
    # a constant group: every stat is 0, argmax tie -> earliest day
    rows += [("h", f"d{i+1}", 4) for i in range(3)]
    df = spark.createDataFrame(rows, "g string, day string, n long")
    got = {r["g"]: r for r in cusum_changepoint(df, "g", "day", "n").collect()}
    assert got["g"]["split_bucket"] == "d3"
    assert got["g"]["cusum_stat"] == 48
    assert got["g"]["n_buckets"] == 5
    assert got["h"]["split_bucket"] == "d1"  # tie -> earliest
    assert got["h"]["cusum_stat"] == 0


def test_kendall_trend_analytic(spark):
    from aws_logs_to_parquet_converter_spark.operators.timeseries import (
        kendall_trend,
    )

    # counts 1,3,2,2: pairs (1,3)+ (1,2)+ (1,2)+ (3,2)- (3,2)- (2,2)0
    rows = [("g", f"d{i+1}", v) for i, v in enumerate([1, 3, 2, 2])]
    # strictly increasing group: all concordant
    rows += [("i", f"d{i+1}", v) for i, v in enumerate([1, 2, 5])]
    df = spark.createDataFrame(rows, "g string, day string, n long")
    got = {r["g"]: r for r in kendall_trend(df, "g", "day", "n").collect()}
    assert tuple(got["g"])[1:] == (4, 3, 2, 1, 1)
    assert tuple(got["i"])[1:] == (3, 3, 0, 0, 3)


def test_kendall_trend_python_differential(spark):
    """Randomized differential vs an O(n^2) Python reference."""
    import random

    from aws_logs_to_parquet_converter_spark.operators.timeseries import (
        kendall_trend,
    )

    rng = random.Random(7)
    rows = [
        (g, f"d{i:03d}", rng.randrange(0, 8))
        for g in ("a", "b") for i in range(40)
    ]
    df = spark.createDataFrame(rows, "g string, day string, n long")
    got = {r["g"]: r for r in kendall_trend(df, "g", "day", "n").collect()}
    for g in ("a", "b"):
        vals = [v for (gg, _, v) in rows if gg == g]
        conc = disc = tied = 0
        for i in range(len(vals)):
            for j in range(i + 1, len(vals)):
                d = vals[j] - vals[i]
                conc += d > 0
                disc += d < 0
                tied += d == 0
        r = got[g]
        assert (r["n_buckets"], r["concordant"], r["discordant"],
                r["tied"], r["s_stat"]) == (
            len(vals), conc, disc, tied, conc - disc)


def test_kendall_trend_single_bucket_group_emitted(spark):
    """r13 advisory: a group with one bucket has zero pairs but must
    still appear — (group, 1, 0, 0, 0, 0) — with n_buckets counted
    directly rather than reconstructed from the pair count."""
    from aws_logs_to_parquet_converter_spark.operators.timeseries import (
        kendall_trend,
    )

    rows = [("solo", "d1", 5), ("duo", "d1", 1), ("duo", "d2", 2)]
    df = spark.createDataFrame(rows, "g string, day string, n long")
    got = {r["g"]: tuple(r)[1:] for r in kendall_trend(df, "g", "day", "n").collect()}
    assert got["solo"] == (1, 0, 0, 0, 0)
    assert got["duo"] == (2, 1, 0, 0, 1)


def test_cusum_out_of_contract_overflow_fails_loudly(spark):
    """r13 advisory: values large enough that n*S_k overflows BIGINT
    must raise cusum's own message (not a generic engine overflow on
    one engine and a silent HUGEINT answer on the other)."""
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.anomaly import (
        cusum_changepoint,
    )

    # sums still fit BIGINT (S_n = 2^62) but n*S_k would not
    huge = (1 << 60)
    rows = [("g", f"d{i}", huge) for i in range(4)]
    df = spark.createDataFrame(rows, "g string, day string, n long")
    with pytest.raises(Exception, match="cusum_changepoint"):
        cusum_changepoint(df, "g", "day", "n").collect()


def test_cusum_all_null_group_keeps_null_stat(spark):
    """r14 review: a group whose values are entirely NULL must keep the
    pre-guard behavior (a NULL-stat row), not abort with the overflow
    message."""
    from aws_logs_to_parquet_converter_spark.operators.anomaly import (
        cusum_changepoint,
    )

    rows = [("g", "d1", None), ("g", "d2", None), ("h", "d1", 3), ("h", "d2", 9)]
    df = spark.createDataFrame(rows, "g string, day string, n long")
    got = {r["g"]: r for r in cusum_changepoint(df, "g", "day", "n").collect()}
    assert got["g"]["cusum_stat"] is None
    assert got["h"]["cusum_stat"] is not None


def test_kendall_trend_duplicate_order_raises(spark):
    """r15 advisory: a duplicate (group, order) row would silently
    corrupt n_buckets and the tie tallies — the contract is now
    enforced in-plan with a loud assert."""
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.timeseries import (
        kendall_trend,
    )

    df = spark.createDataFrame(
        [("a", 1, 5), ("a", 1, 7), ("a", 2, 6)], "g string, day int, n int"
    )
    with pytest.raises(Exception, match="pre-aggregated"):
        kendall_trend(df, "g", "day", "n").collect()
