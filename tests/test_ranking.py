"""Two-pass range-partitioned global ranking (operators/ranking.py):
must equal the single-window Window.orderBy ground truth on every
statistic while never planning a single-task window."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators import cache
from aws_logs_to_parquet_converter_spark.operators.ranking import (
    COUNT_COL,
    RANK_COL,
    cume_dist_from_rank,
    global_row_number,
    ntile_from_rank,
    percent_rank_from_rank,
    mann_whitney_u,
    kruskal_rank_sums,
    brown_forsythe_stats,
)


def _fixture(spark, n=257, dup_every=5):
    # duplicate values every few rows so peer groups are exercised
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % (n // dup_every)).cast("double").alias("v"),
    ).repartition(7)  # scrambled input placement


def test_global_rank_matches_single_window(spark):
    df = _fixture(spark)
    ranked = global_row_number(df, [F.col("v"), F.col("k")], num_partitions=6)
    truth = df.select(
        "k", F.row_number().over(Window.orderBy("v", "k")).alias("rn")
    )
    got = {r["k"]: r[RANK_COL] for r in ranked.collect()}
    want = {r["k"]: r["rn"] for r in truth.collect()}
    assert got == want
    assert ranked.select(COUNT_COL).distinct().collect()[0][0] == df.count()


@pytest.mark.parametrize("n,k", [(1, 4), (3, 4), (4, 4), (7, 4), (257, 4), (10, 3), (12, 5)])
def test_ntile_arithmetic_matches_sql_ntile(spark, n, k):
    df = spark.range(n).select(F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    ranked = global_row_number(df, [F.col("v"), F.col("k")], num_partitions=3)
    got = {
        r["k"]: r["t"]
        for r in ranked.select(
            "k", ntile_from_rank(F.col(RANK_COL), F.col(COUNT_COL), k).alias("t")
        ).collect()
    }
    want = {
        r["k"]: r["t"]
        for r in df.select("k", F.ntile(k).over(Window.orderBy("v", "k")).alias("t")).collect()
    }
    assert got == want


def test_cume_dist_and_percent_rank_with_peers(spark):
    df = _fixture(spark, n=100, dup_every=4)  # 25 distinct v values, 4 peers each
    ranked = global_row_number(df, [F.col("v"), F.col("k")], num_partitions=5)
    got = ranked.select(
        "k",
        cume_dist_from_rank(["v"]).alias("cd"),
        percent_rank_from_rank(["v"]).alias("pr"),
    )
    truth = df.select(
        "k",
        F.cume_dist().over(Window.orderBy("v")).alias("cd"),
        F.percent_rank().over(Window.orderBy("v")).alias("pr"),
    )
    g = {r["k"]: (r["cd"], r["pr"]) for r in got.collect()}
    w = {r["k"]: (r["cd"], r["pr"]) for r in truth.collect()}
    for key in w:
        assert g[key][0] == pytest.approx(w[key][0], abs=1e-12)
        assert g[key][1] == pytest.approx(w[key][1], abs=1e-12)


def test_descending_rank_cume_dist(spark):
    df = _fixture(spark, n=60, dup_every=3)
    ranked = global_row_number(df, [F.desc("v"), F.col("k")], num_partitions=4)
    got = {
        r["k"]: r["cd"]
        for r in ranked.select(
            "k", cume_dist_from_rank(["v"], descending_rank=True).alias("cd")
        ).collect()
    }
    want = {
        r["k"]: r["cd"]
        for r in df.select("k", F.cume_dist().over(Window.orderBy("v")).alias("cd")).collect()
    }
    for key in want:
        assert got[key] == pytest.approx(want[key], abs=1e-12)


def test_empty_input_keeps_schema(spark):
    df = spark.range(0).select(F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    ranked = global_row_number(df, [F.col("v"), F.col("k")], num_partitions=4)
    assert ranked.columns == ["k", "v", RANK_COL, COUNT_COL]
    assert ranked.count() == 0


def test_no_single_task_window_in_plan(spark):
    from tests.test_plans import _unpartitioned_ordered_windows, explain_str

    df = _fixture(spark)
    ranked = global_row_number(df, [F.col("v"), F.col("k")], num_partitions=6)
    plan = explain_str(ranked, "simple")
    assert not _unpartitioned_ordered_windows(plan)
    assert "Exchange SinglePartition" not in plan
    # the only data-sized exchange is the range partition itself (the
    # plan text can echo it again inside the InMemoryRelation display);
    # the naive pid-window form would pay a SECOND full shuffle on the
    # partition id — that shape must never come back
    assert "Exchange rangepartitioning" in plan
    assert "hashpartitioning(_pid" not in plan


def test_global_row_number_handles_targeted_unpersist(spark):
    """Unpersist contract (round-8 advisor): library callers get the
    persisted intermediate back through ``handles`` and release it
    without a session-wide clearCache."""
    df = spark.createDataFrame([(i, i % 5) for i in range(50)], "k long, v long")
    with cache.owned() as handles:
        ranked = global_row_number(
            df, [F.col("v"), F.col("k")], num_partitions=4, handles=handles
        )
        assert ranked.count() == 50
        assert len(handles) == 1
        assert handles[0].storageLevel.useMemory
    assert not handles[0].storageLevel.useMemory


# ---------------------------------------------------------------------------
# exact_quantiles_disc (r14)
# ---------------------------------------------------------------------------


def test_exact_quantiles_analytic(spark):
    from aws_logs_to_parquet_converter_spark.operators.ranking import (
        exact_quantiles_disc,
    )

    # g: values 10,20,20,30 (n=4): q500 -> rank ceil(2)=2 -> 20;
    # q250 -> rank 1 -> 10; q750 -> rank 3 -> 20; q1000 -> rank 4 -> 30
    rows = [("g", x) for x in (10, 20, 20, 30)] + [("h", 7)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {
        (r["g"], r["q_milli"]): (r["value"], r["n"])
        for r in exact_quantiles_disc(df, ["g"], "v", [250, 500, 750, 1000]).collect()
    }
    assert got[("g", 250)] == (10, 4)
    assert got[("g", 500)] == (20, 4)
    assert got[("g", 750)] == (20, 4)
    assert got[("g", 1000)] == (30, 4)
    assert got[("h", 500)] == (7, 1)


def test_exact_quantiles_python_differential(spark):
    import math
    import random

    from aws_logs_to_parquet_converter_spark.operators.ranking import (
        exact_quantiles_disc,
    )

    rng = random.Random(17)
    rows = [(f"g{rng.randrange(3)}", rng.randrange(0, 40)) for _ in range(500)]
    df = spark.createDataFrame(rows, "g string, v long")
    qs = [1, 100, 333, 500, 900, 999, 1000]
    got = {
        (r["g"], r["q_milli"]): r["value"]
        for r in exact_quantiles_disc(df, ["g"], "v", qs).collect()
    }
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vs in by_g.items():
        vs.sort()
        for q in qs:
            want = vs[math.ceil(q * len(vs) / 1000) - 1]
            assert got[(g, q)] == want, (g, q)


def test_exact_quantiles_bucket_width_invariance(spark):
    from aws_logs_to_parquet_converter_spark.operators.ranking import (
        exact_quantiles_disc,
    )

    rows = [("g", x * 37 % 101) for x in range(200)]
    df = spark.createDataFrame(rows, "g string, v long")
    outs = {
        w: sorted(
            tuple(r)
            for r in exact_quantiles_disc(df, ["g"], "v", [500, 950], bucket_width=w).collect()
        )
        for w in (1, 16, 1 << 20)
    }
    assert len(set(map(tuple, outs.values()))) == 1


def test_exact_quantiles_contracts(spark):
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.ranking import (
        exact_quantiles_disc,
    )

    df = spark.createDataFrame([("g", 1.5)], "g string, v double")
    with pytest.raises(TypeError, match="integral"):
        exact_quantiles_disc(df, ["g"], "v", [500])
    dfl = spark.createDataFrame([("g", 1)], "g string, v long")
    with pytest.raises(ValueError, match="non-empty"):
        exact_quantiles_disc(dfl, ["g"], "v", [])
    with pytest.raises(ValueError, match="1, 1000"):
        exact_quantiles_disc(dfl, ["g"], "v", [0])


def test_exact_quantiles_null_group_key_kept(spark):
    """r14 review: groupBy treats NULL group keys as a real group; the
    stitch join must be null-safe or that group silently vanishes."""
    from aws_logs_to_parquet_converter_spark.operators.ranking import (
        exact_quantiles_disc,
    )

    rows = [(None, 5), (None, 7), ("a", 1)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {
        (r["g"], r["q_milli"]): r["value"]
        for r in exact_quantiles_disc(df, ["g"], "v", [500]).collect()
    }
    assert got == {(None, 500): 5, ("a", 500): 1}


def test_exact_quantiles_bad_width_and_float_q_raise(spark):
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.ranking import (
        exact_quantiles_disc,
    )

    df = spark.createDataFrame([("g", 1)], "g string, v long")
    with pytest.raises(ValueError, match="bucket_width"):
        exact_quantiles_disc(df, ["g"], "v", [500], bucket_width=0)
    with pytest.raises(ValueError, match="ints"):
        exact_quantiles_disc(df, ["g"], "v", [999.5])


def test_exact_quantiles_adaptive_narrow_domain(spark):
    """r15 (verdict item 2): a group whose values span far less than
    the old fixed 1<<20 default must still segment into many buckets
    under the adaptive default — and the answers must match Python and
    the fixed-width path exactly, including negative values and a
    mixed-range second group."""
    import math
    import random

    from aws_logs_to_parquet_converter_spark.operators.ranking import (
        exact_quantiles_disc,
    )

    rng = random.Random(23)
    # narrow: cents of prices under $100 (span 10_000 << 1<<20)
    rows = [("narrow", rng.randrange(0, 10_000)) for _ in range(400)]
    # wide + negative: pre-1970-style offsets spanning past 2^40
    rows += [("wide", rng.randrange(-(1 << 40), 1 << 40)) for _ in range(400)]
    df = spark.createDataFrame(rows, "g string, v long")
    qs = [1, 250, 500, 750, 999, 1000]
    got = {
        (r["g"], r["q_milli"]): r["value"]
        for r in exact_quantiles_disc(df, ["g"], "v", qs).collect()
    }
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vs in by_g.items():
        vs.sort()
        for q in qs:
            assert got[(g, q)] == vs[math.ceil(q * len(vs) / 1000) - 1], (g, q)
    # adaptive == fixed-width on the same input
    fixed = {
        (r["g"], r["q_milli"]): r["value"]
        for r in exact_quantiles_disc(df, ["g"], "v", qs, bucket_width=97).collect()
    }
    assert got == fixed


def test_exact_quantiles_adaptive_buckets_actually_segment(spark):
    """The adaptive width must spread a narrow domain over many
    buckets (the whole point): reproduce the internal bucketing and
    count distinct buckets for a single-span group."""
    from pyspark.sql import functions as F

    from aws_logs_to_parquet_converter_spark.operators.ranking import (
        exact_quantiles_disc,
    )

    df = spark.range(5000).select(
        F.lit("g").alias("g"), (F.col("id") % 10_000).alias("v")
    )
    # internal contract: width = (max-min) div target + 1 = 9999 div 1024 + 1 = 10
    # -> 10_000-value span / 10 = 1000 distinct buckets
    out = exact_quantiles_disc(df, ["g"], "v", [500], target_buckets=1024)
    assert out.collect()[0]["value"] == 2499  # 1-based rank 2500 of 0..4999
    width = (10_000 - 1) // 1024 + 1
    assert 1 < (10_000 + width - 1) // width <= 1024


def test_exact_quantiles_single_value_group_and_target_contract(spark):
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.ranking import (
        exact_quantiles_disc,
    )

    df = spark.createDataFrame([("g", 42), ("g", 42)], "g string, v long")
    got = exact_quantiles_disc(df, ["g"], "v", [500, 1000]).collect()
    assert {(r["q_milli"], r["value"], r["n"]) for r in got} == {
        (500, 42, 2),
        (1000, 42, 2),
    }
    with pytest.raises(ValueError, match="target_buckets"):
        exact_quantiles_disc(df, ["g"], "v", [500], target_buckets=0)
    with pytest.raises(ValueError, match="group_cols"):
        exact_quantiles_disc(df, [], "v", [500])


# weighted quantiles (r15)


def test_weighted_quantiles_expansion_differential(spark):
    """Weighted quantiles == unweighted quantiles over the
    weight-expanded multiset (each row repeated weight times)."""
    import math
    import random

    from aws_logs_to_parquet_converter_spark.operators.ranking import (
        exact_quantiles_disc,
    )

    rng = random.Random(23)
    rows = [
        (f"g{rng.randrange(3)}", rng.randrange(0, 30), rng.randrange(1, 6))
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "g string, v long, w long")
    qs = [1, 250, 500, 750, 999, 1000]
    got = {
        (r["g"], r["q_milli"]): (r["value"], r["n"])
        for r in exact_quantiles_disc(
            df, ["g"], "v", qs, weight_col="w"
        ).collect()
    }
    by_g = {}
    for g, v, w in rows:
        by_g.setdefault(g, []).extend([v] * w)
    for g, vs in by_g.items():
        vs.sort()
        for q in qs:
            want = vs[math.ceil(q * len(vs) / 1000) - 1]
            assert got[(g, q)] == (want, len(vs)), (g, q)


def test_weighted_quantiles_unit_weight_matches_unweighted(spark):
    from aws_logs_to_parquet_converter_spark.operators.ranking import (
        exact_quantiles_disc,
    )

    rows = [("g", x * 13 % 47) for x in range(120)]
    df = spark.createDataFrame(rows, "g string, v long").withColumn(
        "w", F.lit(1).cast("long")
    )
    unw = sorted(
        tuple(r) for r in exact_quantiles_disc(df, ["g"], "v", [500, 950]).collect()
    )
    wgt = sorted(
        tuple(r)
        for r in exact_quantiles_disc(
            df, ["g"], "v", [500, 950], weight_col="w"
        ).collect()
    )
    assert unw == wgt


def test_weighted_quantiles_contracts(spark):
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.ranking import (
        exact_quantiles_disc,
    )

    df = spark.createDataFrame([("g", 1, 1.5)], "g string, v long, w double")
    with pytest.raises(TypeError, match="integral"):
        exact_quantiles_disc(df, ["g"], "v", [500], weight_col="w")

    bad = spark.createDataFrame(
        [("g", 1, 2), ("g", 2, 0)], "g string, v long, w long"
    )
    with pytest.raises(Exception, match="positive integer"):
        exact_quantiles_disc(bad, ["g"], "v", [500], weight_col="w").collect()

    withnull = spark.createDataFrame(
        [("g", 1, 2), ("g", 2, None)], "g string, v long, w long"
    )
    with pytest.raises(Exception, match="positive integer"):
        exact_quantiles_disc(
            withnull, ["g"], "v", [500], weight_col="w"
        ).collect()


# mann_whitney_u (r15)


def _mw_python(rows):
    """Reference: brute-force pair scan per group.
    rows: (g, is_a, v)."""
    from collections import Counter, defaultdict

    a_vals = defaultdict(list)
    b_vals = defaultdict(list)
    for g, is_a, v in rows:
        if is_a is None or v is None:
            continue
        (a_vals if is_a else b_vals)[g].append(v)
    out = {}
    for g in set(a_vals) | set(b_vals):
        avs, bvs = a_vals.get(g, []), b_vals.get(g, [])
        u2 = sum(
            2 if a > b else (1 if a == b else 0) for a in avs for b in bvs
        )
        ties = Counter(avs + bvs)
        tc = sum(t**3 - t for t in ties.values())
        out[g] = (len(avs), len(bvs), u2, tc)
    return out


def test_mann_whitney_hand_computed(spark):
    # A = [1, 3], B = [2]: pairs (1,2)->0, (3,2)->2; u2_a=2
    rows = [("g", True, 1), ("g", True, 3), ("g", False, 2)]
    df = spark.createDataFrame(rows, "g string, s boolean, v long")
    got = mann_whitney_u(df, ["g"], "s", "v").collect()[0]
    assert (got["n_a"], got["n_b"], got["u2_a"], got["tie_cubes"]) == (2, 1, 2, 0)


def test_mann_whitney_ties_half_credit(spark):
    # A = [5, 5], B = [5]: each pair ties -> u2_a = 2; tie_cubes = 27-3
    rows = [("g", True, 5), ("g", True, 5), ("g", False, 5)]
    df = spark.createDataFrame(rows, "g string, s boolean, v long")
    got = mann_whitney_u(df, ["g"], "s", "v").collect()[0]
    assert (got["u2_a"], got["tie_cubes"]) == (2, 24)


def test_mann_whitney_python_differential(spark):
    import random

    rng = random.Random(67)
    rows = []
    for g in ("a", "b"):
        for _ in range(rng.randrange(30, 80)):
            rows.append((g, rng.random() < 0.5, rng.randrange(0, 25)))
    rows.append(("a", None, 3))  # NULL side excluded
    df = spark.createDataFrame(rows, "g string, s boolean, v long")
    got = {
        r["g"]: (r["n_a"], r["n_b"], r["u2_a"], r["tie_cubes"])
        for r in mann_whitney_u(df, ["g"], "s", "v").collect()
    }
    assert got == _mw_python(rows)
    # identity: u2_a + u2_b == 2 * n_a * n_b (complement symmetry)
    flipped = {
        r["g"]: r["u2_a"]
        for r in mann_whitney_u(
            df.select("g", (~F.col("s")).alias("s"), "v"), ["g"], "s", "v"
        ).collect()
    }
    for g, (na, nb, u2a, _) in got.items():
        assert u2a + flipped[g] == 2 * na * nb


def test_mann_whitney_contracts(spark):
    df = spark.createDataFrame([("g", 1, 1)], "g string, s long, v long")
    with pytest.raises(TypeError, match="BOOLEAN"):
        mann_whitney_u(df, ["g"], "s", "v")
    df2 = spark.createDataFrame([("g", True, 1.5)], "g string, s boolean, v double")
    with pytest.raises(TypeError, match="integral"):
        mann_whitney_u(df2, ["g"], "s", "v")
    with pytest.raises(ValueError, match="group_cols"):
        mann_whitney_u(
            spark.createDataFrame([("g", True, 1)], "g string, s boolean, v long"),
            [], "s", "v",
        )


def test_weighted_quantiles_null_value_row_never_trips_weight_assert(spark):
    """A row excluded by its NULL value must not trip the positivity
    assert even if its weight is bad — Catalyst may reorder the merged
    filter's conjuncts, so the escape lives inside the assert."""
    from aws_logs_to_parquet_converter_spark.operators.ranking import (
        exact_quantiles_disc,
    )

    rows = [("g", 1, 2), ("g", 5, 1), ("g", None, 0), ("g", None, None)]
    df = spark.createDataFrame(rows, "g string, v long, w long")
    got = {
        r["q_milli"]: (r["value"], r["n"])
        for r in exact_quantiles_disc(
            df, ["g"], "v", [500, 1000], weight_col="w"
        ).collect()
    }
    assert got == {500: (1, 3), 1000: (5, 3)}


# kruskal_rank_sums (r15)


def test_kruskal_hand_computed_midranks(spark):
    # values 1(a), 2(a), 2(b), 3(b), 2(c): midranks 1->1, 2->3, 3->5
    rows = [("g", "a", 1), ("g", "a", 2), ("g", "b", 2), ("g", "b", 3), ("g", "c", 2)]
    df = spark.createDataFrame(rows, "g string, s string, v long")
    got = {
        r["s"]: (r["n_j"], r["r2_j"], r["n_total"], r["tie_cubes"])
        for r in kruskal_rank_sums(df, ["g"], "s", "v").collect()
    }
    assert got == {"a": (2, 8, 5, 24), "b": (2, 16, 5, 24), "c": (1, 6, 5, 24)}


def test_kruskal_python_differential_and_identity(spark):
    import random
    from collections import Counter, defaultdict

    rng = random.Random(79)
    rows = []
    for g in ("a", "b"):
        for _ in range(rng.randrange(40, 90)):
            rows.append((g, f"s{rng.randrange(4)}", rng.randrange(0, 20)))
    df = spark.createDataFrame(rows, "g string, s string, v long")
    got = {
        (r["g"], r["s"]): (r["n_j"], r["r2_j"], r["n_total"], r["tie_cubes"])
        for r in kruskal_rank_sums(df, ["g"], "s", "v").collect()
    }
    # reference: midranks from the combined sorted multiset per group
    by_g = defaultdict(list)
    for g, sm, v in rows:
        by_g[g].append((sm, v))
    want = {}
    for g, pairs in by_g.items():
        vals = sorted(v for _, v in pairs)
        ties = Counter(vals)
        # doubled midrank per value: 2*cum_lt + t + 1
        cum, two_mid = 0, {}
        for v in sorted(ties):
            two_mid[v] = 2 * cum + ties[v] + 1
            cum += ties[v]
        n_total = len(vals)
        tc = sum(t**3 - t for t in ties.values())
        per = defaultdict(lambda: [0, 0])
        for sm, v in pairs:
            per[sm][0] += 1
            per[sm][1] += two_mid[v]
        for sm, (n, r2) in per.items():
            want[(g, sm)] = (n, r2, n_total, tc)
    assert got == want
    # midrank identity per group: sum_j r2_j == N(N+1)
    for g, pairs in by_g.items():
        n = len(pairs)
        assert sum(v[1] for k, v in got.items() if k[0] == g) == n * (n + 1)


def test_kruskal_reduces_to_mann_whitney(spark):
    """With exactly two samples, u2_a falls out of the rank sums:
    u2_a = r2_a - n_a*(n_a+1)."""
    import random

    rng = random.Random(83)
    rows = [
        ("g", rng.random() < 0.5, rng.randrange(0, 15)) for _ in range(120)
    ]
    df = spark.createDataFrame(rows, "g string, s boolean, v long")
    mw = mann_whitney_u(df, ["g"], "s", "v").collect()[0]
    kw = {
        r["s"]: r
        for r in kruskal_rank_sums(
            df.select("g", F.col("s").cast("string").alias("s"), "v"),
            ["g"], "s", "v",
        ).collect()
    }
    ra = kw["true"]
    assert mw["u2_a"] == ra["r2_j"] - ra["n_j"] * (ra["n_j"] + 1)


def test_kruskal_contracts(spark):
    df = spark.createDataFrame([("g", "s", 1.5)], "g string, s string, v double")
    with pytest.raises(TypeError, match="integral"):
        kruskal_rank_sums(df, ["g"], "s", "v")
    with pytest.raises(ValueError, match="group_cols"):
        kruskal_rank_sums(
            spark.createDataFrame([("g", "s", 1)], "g string, s string, v long"),
            [], "s", "v",
        )


# brown_forsythe_stats (r15)


def test_brown_forsythe_python_differential(spark):
    import math
    import random
    from collections import defaultdict

    rng = random.Random(89)
    rows = []
    for g in ("a", "b"):
        for _ in range(rng.randrange(30, 70)):
            rows.append((g, f"s{rng.randrange(3)}", rng.randrange(-40, 40)))
    df = spark.createDataFrame(rows, "g string, s string, v long")
    got = {
        (r["g"], r["s"]): (r["n_j"], r["sum_absdev"], r["sum_absdev_sq"])
        for r in brown_forsythe_stats(df, ["g"], "s", "v").collect()
    }
    by = defaultdict(list)
    for g, sm, v in rows:
        by[(g, sm)].append(v)
    want = {}
    for k, vs in by.items():
        vs.sort()
        med = vs[math.ceil(500 * len(vs) / 1000) - 1]
        devs = [abs(v - med) for v in vs]
        want[k] = (len(vs), sum(devs), sum(d * d for d in devs))
    assert got == want


def test_brown_forsythe_scale_shift_detected(spark):
    # same median, double the spread: sum_absdev doubles exactly
    tight = [("g", "t", v) for v in (-2, -1, 0, 1, 2)]
    wide = [("g", "w", v) for v in (-4, -2, 0, 2, 4)]
    df = spark.createDataFrame(tight + wide, "g string, s string, v long")
    got = {
        r["s"]: (r["sum_absdev"], r["sum_absdev_sq"])
        for r in brown_forsythe_stats(df, ["g"], "s", "v").collect()
    }
    assert got["t"] == (6, 10)
    assert got["w"] == (12, 40)


def test_brown_forsythe_contracts(spark):
    df = spark.createDataFrame([("g", "s", 1.5)], "g string, s string, v double")
    with pytest.raises(TypeError, match="integral"):
        brown_forsythe_stats(df, ["g"], "s", "v")
    with pytest.raises(ValueError, match="group_cols"):
        brown_forsythe_stats(
            spark.createDataFrame([("g", "s", 1)], "g string, s string, v long"),
            [], "s", "v",
        )
