"""Differential tests for the probabilistic dedup operators against
their exact counterparts (the rows-only entries of the driver gate)."""

import pytest
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators import cache, dedup

WORDS = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima".split()


@pytest.fixture(scope="module")
def corpus(spark):
    """30 docs: 5 near-dup pairs (one-word edits, jaccard >~ 0.8) + 20
    distinct fillers.  Deterministic."""
    import random

    rng = random.Random(7)
    rows = []
    doc_id = 0
    for p in range(5):
        base = " ".join(rng.choice(WORDS) for _ in range(40))
        edited = base.replace(base.split()[5], "zulu", 1)
        rows.append((doc_id, base))
        rows.append((doc_id + 1, edited))
        doc_id += 2
    for _ in range(20):
        rows.append((doc_id, " ".join(rng.choice(WORDS) for _ in range(40))))
        doc_id += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other"), (4, "same text")],
        "doc_id long, text string",
    )
    groups = dedup.exact_duplicates(df, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0].canonical_id == 1
    assert groups[0].n_copies == 3
    assert groups[0].member_ids == [1, 2, 4]


def test_fingerprint_catches_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "HELLO\tWORLD"), (4, "bye")],
        "doc_id long, text string",
    )
    kept = dedup.fingerprint_keep_first(df, "doc_id", "text").collect()
    assert sorted(r.doc_id for r in kept) == [1, 4]  # 3 variants -> smallest id


def test_minhash_finds_exact_high_jaccard_pairs(spark, corpus):
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(corpus, "doc_id", "text", 5, 0.7).collect()
    }
    assert len(exact) >= 5, "fixture should contain high-jaccard pairs"
    lsh = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dedup.minhash_near_duplicates(
            corpus, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5
        ).collect()
    }
    missed = set(exact) - set(lsh)
    assert not missed, f"LSH missed high-similarity pairs: {missed}"
    for pair, j in exact.items():
        assert abs(lsh[pair] - j) < 0.25, f"estimate too far off for {pair}: {lsh[pair]} vs {j}"


def test_minhash_handles_unpersist_contract(spark, corpus):
    """The slim-join shape persists the signature relation internally;
    ``handles`` must receive exactly that DataFrame so the caller can
    unpersist deterministically, and unpersisting after consumption
    must not change results on re-run."""
    kw = dict(num_hashes=64, bands=16, threshold=0.5)
    with cache.owned() as handles:
        first = {(r.id_a, r.id_b): r.est_jaccard
                 for r in dedup.minhash_near_duplicates(
                     corpus, "doc_id", "text", handles=handles, **kw).collect()}
        assert len(handles) == 1 and handles[0].is_cached
    assert not handles[0].is_cached
    again = {(r.id_a, r.id_b): r.est_jaccard
             for r in dedup.minhash_near_duplicates(
                 corpus, "doc_id", "text", **kw).collect()}
    spark.catalog.clearCache()
    assert first == again


def test_minhash_no_gross_false_positives(spark, corpus):
    # unrelated docs (uniform random 12-word vocab) must not appear as
    # strong candidates
    lsh = dedup.minhash_near_duplicates(
        corpus, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5
    ).collect()
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(corpus, "doc_id", "text", 5, 0.35).collect()
    }
    for r in lsh:
        assert (r.id_a, r.id_b) in exact, f"false positive {(r.id_a, r.id_b)}={r.est_jaccard}"


def test_simhash_invariants(spark, corpus):
    sh = {r.doc_id: r.simhash for r in dedup.simhash(corpus, "doc_id", "text").collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # near-dup pairs (0,1), (2,3), ... must be much closer than random pairs
    near = [hamming(sh[2 * p], sh[2 * p + 1]) for p in range(5)]
    far = [hamming(sh[10 + i], sh[20 + j]) for i in range(5) for j in range(5) if 10 + i != 20 + j]
    assert max(near) < 16, f"near-dup hamming too large: {near}"
    assert sum(far) / len(far) > 16, f"random pairs unexpectedly close: {sum(far)/len(far)}"


def test_simhash_deterministic(spark):
    df = spark.createDataFrame([(1, "the quick brown fox")], "doc_id long, text string")
    a = dedup.simhash(df, "doc_id", "text").collect()[0].simhash
    b = dedup.simhash(df, "doc_id", "text").collect()[0].simhash
    assert a == b


def test_connected_components_known_graph(spark):
    # components: {1,2,3,4} (chain), {10,11}, {20} isolated via self-pair? no — nodes only from edges
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    comps = {r.node: r.component for r in dedup.connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_keep_list_end_to_end(spark, corpus):
    """Full pipeline: minhash candidates -> exact-verify -> components ->
    keep smallest per component."""
    cand = dedup.minhash_near_duplicates(corpus, "doc_id", "text", threshold=0.5)
    # exact verification on candidates only (the scale pattern)
    exact = dedup.ngram_jaccard_pairs(corpus, "doc_id", "text", 5, 0.7)
    verified = cand.join(exact, ["id_a", "id_b"], "inner").select("id_a", "id_b")
    decisions = dedup.dedup_keep_list(corpus, verified).collect()
    by_id = {r.doc_id: r for r in decisions}
    assert len(by_id) == 30
    # the 5 near-dup fixture pairs: even id kept, odd dropped
    for p in range(5):
        assert by_id[2 * p].keep is True
        assert by_id[2 * p + 1].keep is False
        assert by_id[2 * p + 1].component == 2 * p
    # fillers untouched
    assert all(by_id[i].keep for i in range(10, 30))


def test_simhash_neardup_banding_matches_brute_force(spark):
    """The banded bucket join must find EXACTLY the pairs brute-force
    hamming finds (pigeonhole exactness: max_hamming < bands)."""
    from pyspark.sql import functions as F

    from aws_logs_to_parquet_converter_spark.operators.dedup import (
        simhash,
        simhash_near_duplicates,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(0, base), (1, base + " extra"), (2, base.replace("quick", "slow")),
            (3, "completely different content about spark partitions and shuffles"),
            (4, base)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_duplicates(df, "doc_id", "text", bands=4, max_hamming=3).collect()
    }
    sigs = {r.doc_id: r.simhash for r in simhash(df, "doc_id", "text").collect()}
    want = {}
    ids = sorted(sigs)
    for i in ids:
        for j in ids:
            if i < j:
                h = bin((sigs[i] ^ sigs[j]) & (2**64 - 1)).count("1")
                if h <= 3:
                    want[(i, j)] = h
    assert got == want
    assert (0, 4) in got and got[(0, 4)] == 0  # identical docs


def test_simhash_neardup_param_validation(spark):
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.dedup import simhash_near_duplicates

    df = spark.createDataFrame([(1, "x")], "doc_id int, text string")
    with pytest.raises(ValueError):
        simhash_near_duplicates(df, "doc_id", "text", bands=4, max_hamming=4)
    with pytest.raises(ValueError):
        simhash_near_duplicates(df, "doc_id", "text", bands=7)


def test_corpus_diff_statuses(spark):
    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "beta"), (3, "gamma EDITED"), (4, "delta")], "doc_id long, text string"
    )
    got = {r.doc_id: r.status
           for r in dedup.corpus_diff(old, new, "doc_id", "text").collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_exact_keep_first(spark):
    df = spark.createDataFrame(
        [(1, "same"), (5, "same"), (3, "same"), (2, "other")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in dedup.exact_keep_first(df, "doc_id", "text").collect())
    assert kept == [1, 2]  # min id per text survives


def test_corpus_diff_null_text_is_present_not_added(spark):
    """NULL text must not erase presence: the digest doubles as the
    join's presence marker, so it coalesces to a sentinel."""
    old = spark.createDataFrame(
        [(1, None), (2, "beta"), (3, None)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, None), (2, None), (4, None)], "doc_id long, text string"
    )
    got = {r.doc_id: r.status
           for r in dedup.corpus_diff(old, new, "doc_id", "text").collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_exact_keep_first_null_text_not_collapsed(spark):
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "same"), (4, "same")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in dedup.exact_keep_first(df, "doc_id", "text").collect())
    assert kept == [1, 2, 3]  # both NULL-text rows survive; dup text deduped


def test_dedup_against_corpus_incremental(spark):
    """Only genuinely new content enters: already-present content is
    dropped via the digest anti join, batch-internal dups keep-first,
    and NULL text is never 'already present' (sentinel rule)."""
    corpus = spark.createDataFrame(
        [(1, "existing alpha"), (2, "existing beta"), (3, None)],
        "doc_id long, text string",
    )
    digests = dedup.content_digests(corpus, "doc_id", "text")
    assert digests.count() == 2  # NULL text contributes no corpus state

    batch = spark.createDataFrame(
        [
            (10, "existing alpha"),   # already in corpus -> dropped
            (11, "brand new one"),    # new -> kept
            (12, "brand new one"),    # batch-internal dup -> dropped (keep-first)
            (13, None),               # NULL: unknown content -> kept
            (14, None),               # second NULL: also kept (no collapse)
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id
        for r in dedup.dedup_against_corpus(batch, digests, "doc_id", "text").collect()
    )
    assert kept == [11, 13, 14]


def test_drop_repeated_lines_keeps_first_occurrence(spark):
    """Boilerplate lines survive only at their first (doc, position)
    sighting; blank lines are exempt; NULL text passes through; unique
    lines and document order are untouched."""
    rows = [
        (1, "COOKIE BANNER\nunique alpha\n\nunique beta"),
        (2, "COOKIE BANNER\nunique gamma\n\nCOOKIE BANNER"),
        (3, None),
        (4, "unique delta\nCOOKIE BANNER"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.text for r in
           dedup.drop_repeated_lines(df, "doc_id", "text").collect()}
    assert out[1] == "COOKIE BANNER\nunique alpha\n\nunique beta"  # first sighting kept
    assert out[2] == "unique gamma\n"  # both banner copies dropped, blank kept
    assert out[3] is None
    assert out[4] == "unique delta"
    # determinism under repartitioning
    again = {r.doc_id: r.text for r in
             dedup.drop_repeated_lines(df.repartition(5), "doc_id", "text").collect()}
    assert out == again


def test_drop_repeated_lines_all_boilerplate_doc_survives_empty(spark):
    """A document consisting entirely of corpus-repeated lines must
    survive as an empty string, never vanish (round-6 self-found row
    loss)."""
    rows = [(1, "BANNER"), (2, "BANNER"), (3, "BANNER")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.text for r in
           dedup.drop_repeated_lines(df, "doc_id", "text").collect()}
    assert out == {1: "BANNER", 2: "", 3: ""}


def test_drop_repeated_lines_properties(spark):
    """Property sweep on random corpora: row count conserved, no
    non-exempt line repeats afterwards, no line invented, regex-special
    separators behave literally."""
    import random

    rng = random.Random(99)
    vocab = [f"line{i}" for i in range(6)] + ["", " "]
    rows = [
        (i, "\n".join(rng.choice(vocab) for _ in range(rng.randint(0, 6))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.drop_repeated_lines(df, "doc_id", "text")
    got = {r.doc_id: r.text for r in out.collect()}
    assert len(got) == 40
    seen = set()
    src_lines = {l for _, t in rows for l in t.split("\n")}
    for t in got.values():
        for l in t.split("\n") if t else [""]:
            assert l in src_lines or l == ""  # nothing invented
            if l.strip():
                assert l not in seen, f"residual duplicate line {l!r}"
                seen.add(l)

    # regex-special separator must be treated literally
    df2 = spark.createDataFrame(
        [(1, "dup.unique1"), (2, "dup.unique2")], "doc_id long, text string"
    )
    out2 = {r.doc_id: r.text
            for r in dedup.drop_repeated_lines(df2, "doc_id", "text", line_sep=".").collect()}
    assert out2 == {1: "dup.unique1", 2: "unique2"}


def test_winnow_candidate_pairs_catch_and_prune(spark):
    """Docs sharing a long substring become candidates; unrelated docs
    do not; the hot-fingerprint cap prunes a fingerprint present in
    every doc without killing genuine pairs."""
    shared = "the quick brown fox jumps over the lazy dog and keeps running"
    rows = [
        (1, shared + " alpha ending"),
        (2, shared + " beta conclusion"),
        (3, "completely unrelated content qqq zzz vvv kkk"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.n_shared
           for r in dedup.winnow_candidate_pairs(df, "doc_id", "text").collect()}
    assert (1, 2) in got and got[(1, 2)] >= 2
    assert not any(3 in pair for pair in got)

    # every doc shares one boilerplate sentence -> its fingerprints are
    # corpus-hot; cap excludes them, genuine (1,2) overlap remains
    boiler = " COMMON FOOTER SENTENCE APPEARING EVERYWHERE"
    df2 = spark.createDataFrame(
        [(i, t + boiler) for i, t in rows], "doc_id long, text string"
    )
    capped = {(r.id_a, r.id_b)
              for r in dedup.winnow_candidate_pairs(
                  df2, "doc_id", "text", max_fp_df=2).collect()}
    assert (1, 2) in capped and not any(3 in p for p in capped)


def test_bloom_prefilter_identity_pruning_and_bounds(spark):
    """digest_bloom + dedup_against_corpus(bloom=...): (1) results are
    IDENTICAL to the plain anti join — including under a deliberately
    tiny (false-positive-saturated) filter, since FPs fall through to
    exact verification; (2) at a healthy size the filter actually rules
    out new content (no membership false negatives ever, measured
    pruning); (3) the sparse bitmap respects its m/64 row bound."""
    from aws_logs_to_parquet_converter_spark.operators.dedup import (
        _BLOOM_K,
        bloom_maybe_present,
        content_digests,
        dedup_against_corpus,
        digest_bloom,
    )

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i}") for i in range(50)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100, "corpus doc 7"), (101, "fresh one"), (102, "fresh two"),
         (103, "fresh one"), (104, None)],
        "doc_id long, text string",
    )
    digests = content_digests(corpus, "doc_id", "text")

    plain = {r.doc_id for r in dedup_against_corpus(batch, digests, "doc_id", "text").collect()}
    for m_bits in (1 << 16, 64):  # healthy and FP-saturated
        bl = digest_bloom(digests, m_bits=m_bits)
        got = {r.doc_id for r in dedup_against_corpus(
            batch, digests, "doc_id", "text", bloom=bl).collect()}
        assert got == plain, f"m_bits={m_bits}: bloom changed the result"
        assert bl.bitmap.count() <= max(1, m_bits // 64)
        assert bl.m_bits == m_bits  # probe params travel with the filter

    # no false negatives: every corpus digest must flag maybe-present
    bl = digest_bloom(digests, m_bits=1 << 16)
    flags = bloom_maybe_present(digests, bl, "digest")
    assert all(r._maybe for r in flags.collect())
    # measured pruning: unseen digests overwhelmingly ruled out
    fresh = spark.createDataFrame(
        [(i, f"unseen {i}") for i in range(200)], "doc_id long, text string"
    )
    ff = bloom_maybe_present(content_digests(fresh, "doc_id", "text"), bl, "digest")
    pruned = sum(0 if r._maybe else 1 for r in ff.collect())
    assert pruned >= 190, f"filter pruned only {pruned}/200 unseen digests"
    # the probe itself must not shuffle the batch: k broadcast-hash
    # joins, never a sort-merge join (the bitmap BUILD side has its own
    # bit_or aggregation exchange — that is corpus-side, paid once)
    plan = ff._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both
    assert "SortMergeJoin" not in final, final
    assert final.count("BroadcastHashJoin") == _BLOOM_K, final


def test_fingerprint_keep_first_normalizes_and_keeps_nulls(spark):
    """Near-exact variants (case/whitespace) collapse to the smallest
    id; NULL-text rows are unknown content and ALL survive."""
    from aws_logs_to_parquet_converter_spark.operators.dedup import (
        fingerprint_keep_first,
    )

    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "HELLO\tWORLD"),
         (4, "different"), (5, None), (6, None)],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in fingerprint_keep_first(df, "doc_id", "text").collect())
    assert kept == [1, 4, 5, 6]


def test_contentless_docs_never_pair_in_sketches(spark):
    """The round-7 review's quadratic-clique classes: NULL/empty/
    whitespace-only docs must produce NO minhash or simhash pairs
    (their degenerate constant signatures used to put m such docs
    into the same bucket in every band — an O(m^2) blowup of bogus
    perfect matches), and exact/fingerprint duplicate REPORTS must
    not collapse the NULL population into one group."""
    rows = (
        [(i, None) for i in range(5)]
        + [(10 + i, "") for i in range(5)]
        + [(20 + i, "   \t ") for i in range(3)]
        + [(30, "a real document with words"), (31, "a real document with words")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")

    mh = dedup.minhash_near_duplicates(df, "doc_id", "text", num_hashes=16,
                                       bands=4, threshold=0.1)
    pairs = {(r.id_a, r.id_b) for r in mh.collect()}
    assert pairs == {(30, 31)}, pairs

    sh = dedup.simhash_near_duplicates(df, "doc_id", "text", bands=8, max_hamming=7)
    spairs = {(r.id_a, r.id_b) for r in sh.collect()}
    assert spairs == {(30, 31)}, spairs

    # empty/whitespace-only texts ARE present identical content and
    # legitimately group; the NULL rows (ids 0-4) must form NO group
    groups = dedup.exact_duplicates(df, "doc_id", "text").collect()
    grouped_ids = {i for g in groups for i in g.member_ids}
    assert grouped_ids.isdisjoint(range(5)), groups
    assert {tuple(g.member_ids) for g in groups} == {
        (10, 11, 12, 13, 14), (20, 21, 22), (30, 31)
    }
    fkept = {r.doc_id for r in dedup.fingerprint_keep_first(df, "doc_id", "text").collect()}
    assert set(range(5)) <= fkept  # no NULL-group: every NULL row survives


def test_drop_repeated_lines_crlf_blanks_exempt(spark):
    """CRLF corpora: a blank separator line survives as '\\r' after the
    \\n split — it must be EXEMPT from corpus-level dedup (trim() only
    strips spaces, so the old rule deleted every blank separator in
    the corpus after the first and merged paragraphs)."""
    a = "para one line.\r\n\r\npara two line.\r"
    b = "other first para.\r\n\r\nother second para.\r"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    out = {r.doc_id: r.text for r in
           dedup.drop_repeated_lines(df, "doc_id", "text").collect()}
    # both docs keep their blank separator (the '\r' line)
    assert out[1] == a and out[2] == b


def test_connected_components_raises_on_nonconvergence(spark):
    """A chain whose diameter exceeds max_iter must FAIL LOUDLY — the
    partial labels would silently split one component into several and
    dedup would keep extra 'canonical' duplicates."""
    import pytest as _pytest

    chain = [(i, i + 1) for i in range(30)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=2)
    # with enough iterations the same chain converges to one component
    labels = dedup.connected_components(pairs, max_iter=40).collect()
    assert {r.component for r in labels} == {0}


def test_connected_components_round_semantics(spark):
    """Pins the r15 loop restructure's round accounting: round 1 is
    computed as one aggregate over the edge list (no label relation),
    later rounds fold the old label into the propagation aggregate as
    a flagged self-contribution.  max_iter still counts PROPAGATION
    ROUNDS exactly as before the restructure."""
    import pytest as _pytest

    # empty pair graph: returns empty without raising, even at the
    # minimum budget (the old loop converged on its first check; the
    # new one exits on the post-round-1 emptiness probe)
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(empty, max_iter=1).collect() == []

    # a graph of only self-loops does not change in round 1 either:
    # max_iter=1 converges, each node its own component
    loops = spark.createDataFrame([(4, 4), (2, 2)], "id_a long, id_b long")
    labels = {
        r.node: r.component
        for r in dedup.connected_components(loops, max_iter=1).collect()
    }
    assert labels == {2: 2, 4: 4}

    # a single edge needs round 1 (propagate) + round 2 (confirm):
    # max_iter=2 must converge, and the labels are the min id
    one = spark.createDataFrame([(7, 3)], "id_a long, id_b long")
    labels = {
        r.node: r.component
        for r in dedup.connected_components(one, max_iter=2).collect()
    }
    assert labels == {3: 3, 7: 3}

    # a path with the min id at one END (1-5-9) needs TWO propagation
    # rounds to reach the far node plus one confirming round:
    # max_iter=2 must raise (round 2 still changes node 9's label),
    # max_iter=3 must converge — the exact budget the pre-restructure
    # loop required for the same graph
    path = spark.createDataFrame([(1, 5), (5, 9)], "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(path, max_iter=2)
    labels = {
        r.node: r.component
        for r in dedup.connected_components(path, max_iter=3).collect()
    }
    assert labels == {1: 1, 5: 1, 9: 1}


def test_contentless_docs_oracle_parity(spark, tmp_path):
    """ADVICE r7: the DuckDB oracles of the shingle-graded queries
    (q_ngram_jaccard, q_dedup_minhash_md5, q_dedup_keep_list) must
    mirror the engine's contentless-doc exclusion.  Plant empty and
    whitespace-only docs into a fixture corpus: before the oracle-side
    guard, two such docs shared the degenerate '' shingle and the
    oracle emitted a jaccard-1.0 pair the engine no longer produces."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_logs_to_parquet_converter_spark.testing import compare_query, duckdb_connection

    src = "/root/testdata/sf0.001"
    for f in os.listdir(src):
        os.symlink(os.path.join(src, f), tmp_path / f)
    base = pq.read_table(f"{src}/documents.parquet")
    top = 1 + max(base.column("doc_id").to_pylist())
    extra = pa.table(
        {
            "doc_id": pa.array([top, top + 1, top + 2, top + 3], pa.int64()),
            "text": pa.array(["", "", "   \t ", None], pa.string()),
            "lang": pa.array(["en"] * 4, pa.string()),
            "source": pa.array(["planted"] * 4, pa.string()),
            "n_chars": pa.array([0, 0, 5, 0], pa.int64()),
        }
    )
    (tmp_path / "documents.parquet").unlink()
    pq.write_table(
        pa.concat_tables([base.cast(extra.schema), extra]), tmp_path / "documents.parquet"
    )

    con = duckdb_connection(str(tmp_path))
    for name in ("q_ngram_jaccard", "q_dedup_minhash_md5", "q_dedup_keep_list"):
        status, detail = compare_query(spark, con, name, str(tmp_path))
        assert status == "ok", f"{name}: {detail}"


# ---------------------------------------------------------------------------
# drop_repeated_spans (exact token-span dedup, Lee et al. 2021)
# ---------------------------------------------------------------------------


def _span_clean(spark, rows, n=3):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.drop_repeated_spans(df, "doc_id", "text", n=n)
    return {r.doc_id: r.text for r in out.collect()}


def test_span_dedup_cross_doc_keep_first(spark):
    got = _span_clean(
        spark,
        [(1, "a b c d e"), (2, "x a b c y")],
    )
    # "a b c" first occurs in doc 1 (lower id): doc 2's copy is removed
    assert got[1] == "a b c d e"
    assert got[2] == "x y"


def test_span_dedup_same_doc_repeat(spark):
    got = _span_clean(spark, [(1, "p q r s p q r")])
    assert got[1] == "p q r s"


def test_span_dedup_overlapping_occurrences(spark):
    # "a a a a a" n=3: grams at 0,1,2 all identical; first is pos 0,
    # dups at 1 and 2 cover positions 1..4 -> only token 0 survives
    got = _span_clean(spark, [(1, "a a a a a")])
    assert got[1] == "a"


def test_span_dedup_edge_docs(spark):
    got = _span_clean(
        spark,
        [(1, "a b"), (2, None), (3, "m n o"), (4, "m n o")],
    )
    assert got[1] == "a b"  # shorter than n: untouched
    assert got[2] is None  # NULL passes through
    assert got[3] == "m n o"  # first occurrence keeps its tokens
    assert got[4] == ""  # fully covered later copy -> empty


def test_span_dedup_normalizes_case_and_whitespace(spark):
    got = _span_clean(spark, [(1, "A  B\tC"), (2, "a b c x")])
    # identity and output share one normalization: doc 1 (lower id)
    # keeps the span, doc 2's normalized copy is removed
    assert got[1] == "a b c"
    assert got[2] == "x"


def test_span_dedup_rejects_short_n(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="span length"):
        dedup.drop_repeated_spans(df, "doc_id", "text", n=1)


# ---------------------------------------------------------------------------
# dedup_keep_best (quality-aware canonical selection)
# ---------------------------------------------------------------------------


def test_keep_best_prefers_high_score_then_min_id(spark):
    docs = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0), (4, None), (5, None), (6, 1.0)],
        "doc_id long, q double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    got = {
        r.doc_id: (r.component, r.keep)
        for r in dedup.dedup_keep_best(docs, pairs, "q").collect()
    }
    # component {1,2,3}: scores 5,9,9 -> tie between 2 and 3 -> min id 2
    assert got[1] == (1, False)
    assert got[2] == (1, True)
    assert got[3] == (1, False)
    # singleton with NULL score still keeps itself
    assert got[4] == (4, True)
    # NULL ranks below any real score
    assert got[5] == (5, False)
    assert got[6] == (5, True)


def test_keep_best_exactly_one_keeper_per_component(spark):
    docs = spark.createDataFrame(
        [(i, float(i % 3)) for i in range(10)], "doc_id long, q double"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (5, 6), (6, 7), (7, 8)], "id_a long, id_b long"
    )
    out = dedup.dedup_keep_best(docs, pairs, "q").collect()
    by_comp = {}
    for r in out:
        by_comp.setdefault(r.component, []).append(r.keep)
    for comp, keeps in by_comp.items():
        assert sum(keeps) == 1, f"component {comp}: {keeps}"


def test_keep_best_string_ids(spark):
    """The composite tie-break negates only the (numeric) score, so the
    id column may be any orderable type (round-8 advisor: the old
    ``-node`` form raised AnalysisException on string ids)."""
    docs = spark.createDataFrame(
        [("a", 5.0), ("b", 9.0), ("c", 9.0), ("z", 1.0)],
        "doc_id string, q double",
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "id_a string, id_b string"
    )
    got = {
        r.doc_id: (r.component, r.keep)
        for r in dedup.dedup_keep_best(docs, pairs, "q").collect()
    }
    # scores 5,9,9 -> tie between b and c -> min id "b"
    assert got["a"] == ("a", False)
    assert got["b"] == ("a", True)
    assert got["c"] == ("a", False)
    assert got["z"] == ("z", True)


def test_span_dedup_handles_targeted_unpersist(spark):
    """Unpersist contract (round-8 verdict): the operator exposes its
    persisted intermediates through ``handles`` so a composing pipeline
    can release exactly them — an UNRELATED cache held by the caller
    must survive the cleanup (clearCache would evict it)."""
    with cache.owned() as unrelated:
        other = cache.persist(
            spark.createDataFrame([(1, "unrelated")], "k long, v string"), unrelated
        )
        other.count()  # materialize the unrelated cache
        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "x a b c y")], "doc_id long, text string"
        )
        with cache.owned() as handles:
            out = dedup.drop_repeated_spans(df, "doc_id", "text", n=3, handles=handles)
            out.collect()
            assert len(handles) == 2  # toks + grams
            assert all(h.storageLevel.useMemory for h in handles)
        assert all(not h.storageLevel.useMemory for h in handles)
        # the unrelated cache is untouched by the targeted cleanup
        assert other.storageLevel.useMemory


def test_simhash_md5_mode_rejects_unknown_and_matches_reference(spark):
    """hash_fn='md5' (the oracle-parity twin mode): 60-bit token hash
    re-derived in pure Python must reproduce the packed signature."""
    import hashlib

    with pytest.raises(ValueError, match="hash_fn"):
        dedup.simhash(spark.range(1).selectExpr("id", "'x' t"), "id", "t", hash_fn="crc")

    df = spark.createDataFrame(
        [(1, "The  cat sat"), (2, ""), (3, None)], "doc_id long, text string"
    )
    got = {r.doc_id: r.simhash for r in dedup.simhash(df, "doc_id", "text", hash_fn="md5").collect()}

    votes = [0] * 60
    for tok in "the cat sat".split():
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        for i in range(60):
            votes[i] += 1 if (h >> i) & 1 else -1
    want = sum((1 << i) for i in range(60) if votes[i] > 0)
    assert got[1] == want
    assert got[2] == 0 and got[3] == 0


# ---------------------------------------------------------------------------
# Incremental MinHash index (save_minhash_index / minhash_corpus_candidates /
# minhash_dedup_against_corpus)
# ---------------------------------------------------------------------------


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_index_probe_equals_full_rededup_cross_slice(spark, tmp_path):
    """The index probe must produce EXACTLY the corpus x batch slice of
    a full corpus+batch minhash_near_duplicates run (same params) —
    the incremental form never invents or loses a cross pair."""
    from aws_logs_to_parquet_converter_spark.operators.dedup import (
        minhash_corpus_candidates,
        minhash_near_duplicates,
        save_minhash_index,
    )

    base = "the quick brown fox jumps over the lazy dog and then naps in the warm sun all day"
    corpus_rows = [
        (1, base),
        (2, base.replace("lazy", "sleepy")),
        (3, "completely unrelated corpus content about spark shuffles and parquet files"),
        (4, "another distinct corpus document mentioning broadcast joins and codegen"),
    ]
    batch_rows = [
        (101, base),                                  # exact dup of 1
        (102, base.replace("warm sun", "cold rain")), # near dup of 1/2
        (103, "fresh novel text that matches nothing in the corpus whatsoever today"),
    ]
    kw = dict(num_hashes=64, bands=16, shingle_n=5, seed=42)
    idx = str(tmp_path / "mhidx")
    save_minhash_index(_mk_docs(spark, corpus_rows), "doc_id", "text", idx, **kw)
    got = {
        (r.doc_id, r.corpus_id): r.est_jaccard
        for r in minhash_corpus_candidates(
            _mk_docs(spark, batch_rows), "doc_id", "text", idx, threshold=0.3
        ).collect()
    }
    full = minhash_near_duplicates(
        _mk_docs(spark, corpus_rows + batch_rows), "doc_id", "text",
        threshold=0.3, **kw
    ).collect()
    want = {
        (r.id_b, r.id_a): r.est_jaccard
        for r in full
        if r.id_a <= 4 and r.id_b >= 101  # cross pairs only (id_a < id_b)
    }
    assert got == want and (101, 1) in got and got[(101, 1)] == 1.0


def test_minhash_dedup_against_corpus_drops_dups_keeps_novel(spark, tmp_path):
    from aws_logs_to_parquet_converter_spark.operators.dedup import (
        minhash_dedup_against_corpus,
        save_minhash_index,
    )

    corpus = _mk_docs(
        spark,
        [(1, "a shared paragraph of text that repeats across ingest days verbatim here")],
    )
    idx = str(tmp_path / "mhidx")
    save_minhash_index(corpus, "doc_id", "text", idx)
    batch = _mk_docs(
        spark,
        [
            (201, "a shared paragraph of text that repeats across ingest days verbatim here"),
            (202, "genuinely new material with its own vocabulary and no overlap at all"),
            (203, None),  # NULL text: no shingles, never a candidate
        ],
    )
    kept = sorted(
        r.doc_id
        for r in minhash_dedup_against_corpus(batch, "doc_id", "text", idx).collect()
    )
    assert kept == [202, 203]


def test_minhash_index_probe_reads_params_from_index_and_append(spark, tmp_path):
    """Probe parameters come FROM the index (build/probe cannot
    disagree), and mode='append' admits new docs to the index."""
    from aws_logs_to_parquet_converter_spark.operators.dedup import (
        minhash_corpus_candidates,
        minhash_dedup_against_corpus,
        save_minhash_index,
    )

    text = "some document text with enough length to shingle into many five grams"
    idx = str(tmp_path / "mhidx")
    # non-default params at build time; probe takes no param args
    save_minhash_index(
        _mk_docs(spark, [(1, text)]), "doc_id", "text", idx,
        num_hashes=32, bands=8, shingle_n=4, seed=7,
    )
    probe = _mk_docs(spark, [(301, text)])
    got = minhash_corpus_candidates(probe, "doc_id", "text", idx, threshold=0.9).collect()
    assert [(r.doc_id, r.corpus_id, r.est_jaccard) for r in got] == [(301, 1, 1.0)]
    # append a second doc; it becomes findable without touching doc 1
    extra = "an appended corpus document carrying its own distinct run of tokens"
    save_minhash_index(
        _mk_docs(spark, [(2, extra)]), "doc_id", "text", idx,
        num_hashes=32, bands=8, shingle_n=4, seed=7, mode="append",
    )
    probe2 = _mk_docs(spark, [(302, extra)])
    got2 = minhash_corpus_candidates(probe2, "doc_id", "text", idx, threshold=0.9).collect()
    assert [(r.doc_id, r.corpus_id) for r in got2] == [(302, 2)]
    # a replayed batch (same id, same text) matches its own appended
    # signatures and is gated, so a replay converges instead of
    # re-admitting the document
    replay = _mk_docs(spark, [(2, extra)])
    assert minhash_dedup_against_corpus(replay, "doc_id", "text", idx, 0.9).count() == 0


def test_save_minhash_index_append_rejects_mismatched_params(spark, tmp_path):
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.dedup import save_minhash_index

    df = _mk_docs(spark, [(1, "some document text long enough to shingle cleanly")])
    idx = str(tmp_path / "mhidx")
    save_minhash_index(df, "doc_id", "text", idx, num_hashes=32, bands=8)
    with pytest.raises(ValueError, match="existing index params"):
        save_minhash_index(df, "doc_id", "text", idx, num_hashes=64, bands=16, mode="append")


def test_minhash_index_validate_and_rebuild_compacts_replay_debris(spark, tmp_path):
    """validate reports replay-duplicated signature rows; rebuild
    writes a compacted copy FROM signatures (text never re-shingled)
    whose probe results are identical."""
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.dedup import (
        append_to_minhash_index,
        minhash_corpus_candidates,
        rebuild_minhash_index,
        save_minhash_index,
        validate_minhash_index,
    )

    docs = _mk_docs(spark, [
        (1, "first corpus document with plenty of shingle content to work with"),
        (2, "second corpus document carrying entirely different running text"),
    ])
    idx = str(tmp_path / "mhidx")
    save_minhash_index(docs, "doc_id", "text", idx)
    # simulate a crash-replayed append: the same batch lands twice
    extra = _mk_docs(spark, [(3, "a third appended document with its own shingles")])
    append_to_minhash_index(extra, "doc_id", "text", idx)
    append_to_minhash_index(extra, "doc_id", "text", idx)
    rep = validate_minhash_index(spark, idx)
    assert rep["n_ids"] == 3 and rep["n_signatures"] == 4  # one dead row
    assert rep["n_conflicting_ids"] == 0
    assert rep["n_orphan_band_ids"] == 0 and rep["n_unbanded_ids"] == 0
    # rebuild compacts; probe results identical
    idx2 = str(tmp_path / "mhidx2")
    rebuild_minhash_index(spark, idx, idx2)
    rep2 = validate_minhash_index(spark, idx2)
    assert rep2["n_signatures"] == rep2["n_ids"] == 3
    # build params carry over verbatim; only the commit version differs
    strip = lambda p: {k: v for k, v in p.items() if k != "version"}  # noqa: E731
    assert strip(rep2["params"]) == strip(rep["params"])
    probe = _mk_docs(spark, [(99, "a third appended document with its own shingles")])
    before = sorted(map(tuple, minhash_corpus_candidates(
        probe, "doc_id", "text", idx, threshold=0.5).collect()))
    after = sorted(map(tuple, minhash_corpus_candidates(
        probe, "doc_id", "text", idx2, threshold=0.5).collect()))
    assert before == after and any(c == 3 for _, c, _e in after)
    with pytest.raises(ValueError, match="dest == src"):
        rebuild_minhash_index(spark, idx, idx)


def test_minhash_index_detects_and_refuses_wrong_length_signatures(spark, tmp_path):
    """The foreign-params corruption class for NEW ids: validate
    reports bad-length signatures, rebuild refuses to re-band them
    (slices past the array end would collapse into one degenerate
    bucket), and the normalized-path guard catches aliases of
    dest == src."""
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.dedup import (
        rebuild_minhash_index,
        save_minhash_index,
        validate_minhash_index,
    )

    docs = _mk_docs(spark, [(1, "a perfectly ordinary corpus document with text")])
    idx = str(tmp_path / "mhidx")
    save_minhash_index(docs, "doc_id", "text", idx, num_hashes=32, bands=8)
    # simulate a pre-guard foreign-params append: a NEW id whose
    # signature has the wrong length lands directly in the parquet
    from aws_logs_to_parquet_converter_spark.operators import versioned

    vdir = versioned.live_dir(idx, versioned.read_params(spark, idx))
    good = spark.read.parquet(f"{vdir}/signatures").first()
    spark.createDataFrame(
        [(999, list(good.signature)[:16])], "id long, signature array<bigint>"
    ).write.mode("append").parquet(f"{vdir}/signatures")
    rep = validate_minhash_index(spark, idx)
    assert rep["n_bad_length_ids"] == 1 and rep["n_conflicting_ids"] == 0
    with pytest.raises(ValueError, match="length != num_hashes"):
        rebuild_minhash_index(spark, idx, str(tmp_path / "mhidx2"))
    # path-alias guard: trailing slash / relative alias of src
    with pytest.raises(ValueError, match="dest == src"):
        rebuild_minhash_index(spark, idx, idx + "/")


def test_save_minhash_index_overwrite_rejects_param_change_in_place(spark, tmp_path):
    """An in-place param-CHANGING rebuild has an undetectable crash
    window (params commit last); same-params refresh stays allowed,
    param changes must go to a fresh path."""
    import pytest

    from aws_logs_to_parquet_converter_spark.operators.dedup import save_minhash_index

    df = _mk_docs(spark, [(1, "some corpus text long enough to shingle properly")])
    idx = str(tmp_path / "mhidx")
    save_minhash_index(df, "doc_id", "text", idx, num_hashes=32, bands=8)
    # same-params refresh: fine
    save_minhash_index(df, "doc_id", "text", idx, num_hashes=32, bands=8)
    # param change in place: refused
    with pytest.raises(ValueError, match="NEW path"):
        save_minhash_index(df, "doc_id", "text", idx, num_hashes=32, bands=8, seed=7)


def test_dedup_keep_best_nan_ranks_below_everything(spark):
    """Pin the NaN-score order (round-9 review): NaN loses to every
    real score AND to the NULL sentinel — an undefined quality is the
    member you least want to canonicalize — while still winning its
    own singleton component."""
    from aws_logs_to_parquet_converter_spark.operators.dedup import dedup_keep_best

    nan = float("nan")
    df = spark.createDataFrame(
        [("a1", nan), ("a2", 0.1), ("b1", nan), ("b2", None), ("c1", nan)],
        "doc_id string, q double",
    )
    pairs = spark.createDataFrame(
        [("a1", "a2"), ("b1", "b2")], "id_a string, id_b string"
    )
    kept = {r.doc_id for r in dedup_keep_best(df, pairs, "q", id_col="doc_id").collect()
            if r.keep}
    assert kept == {"a2", "b2", "c1"}  # NaN loses to 0.1 AND to NULL; singleton survives


def test_minhash_index_refresh_is_versioned_commit(spark, tmp_path):
    """A same-params overwrite REFRESH must be crash-atomic (r9
    advisor): (a) a crashed refresh — new data dir written, params
    pointer NOT flipped — leaves probes on the previous complete
    version; (b) a committed refresh flips probes onto the new text
    and prunes the superseded version dir."""
    import os

    from aws_logs_to_parquet_converter_spark.operators import versioned
    from aws_logs_to_parquet_converter_spark.operators.dedup import (
        minhash_corpus_candidates,
        save_minhash_index,
        validate_minhash_index,
    )

    a = "the quick brown fox jumps over the lazy dog and naps in the warm afternoon sun"
    b = "completely different content about distributed query engines and columnar io paths"
    idx = str(tmp_path / "mhidx")
    save_minhash_index(_mk_docs(spark, [(1, a)]), "doc_id", "text", idx, num_hashes=32, bands=8)
    p1 = versioned.read_params(spark, idx)
    v1 = versioned.live_dir(idx, p1)
    assert "/v-" in v1  # versioned layout from birth

    # (a) simulate a refresh that crashed BEFORE the params flip: a
    # stray complete-looking v-dir exists, but the pointer still names
    # v1 — probes and validate must keep reading v1 only
    stray = f"{idx}/v-deadbeef0000"
    spark.read.parquet(f"{v1}/signatures").write.parquet(f"{stray}/signatures")
    spark.read.parquet(f"{v1}/bands").write.parquet(f"{stray}/bands")
    assert versioned.live_dir(idx, versioned.read_params(spark, idx)) == v1
    probe = _mk_docs(spark, [(9, a)])
    assert minhash_corpus_candidates(probe, "doc_id", "text", idx, 0.5).count() == 1
    assert validate_minhash_index(spark, idx)["n_ids"] == 1

    # (b) committed refresh: same id, CHANGED text — bands and
    # signatures must both come from the new version (the in-place
    # overwrite hazard was new signatures probing old buckets)
    save_minhash_index(_mk_docs(spark, [(1, b)]), "doc_id", "text", idx, num_hashes=32, bands=8)
    p2 = versioned.read_params(spark, idx)
    v2 = versioned.live_dir(idx, p2)
    assert v2 != v1
    assert minhash_corpus_candidates(probe, "doc_id", "text", idx, 0.5).count() == 0
    probe_b = _mk_docs(spark, [(9, b)])
    got = minhash_corpus_candidates(probe_b, "doc_id", "text", idx, 0.5).collect()
    assert [(r.doc_id, r.corpus_id) for r in got] == [(9, 1)]
    # superseded dirs (old version AND the crash debris) pruned
    left = {d for d in os.listdir(idx) if d.startswith("v-")}
    assert left == {os.path.basename(v2)}


@pytest.mark.parametrize("layout", ["pre_versioning", "version_last"])
def test_minhash_index_reads_and_migrates_older_layouts(spark, tmp_path, layout):
    """Two older on-disk layouts stay readable and appendable, and a
    refresh migrates them: the pre-versioning one (params row without
    ``version``, ``signatures``/``bands`` at the root) and the one with
    ``version`` as the LAST params column."""
    import os

    from aws_logs_to_parquet_converter_spark.operators import versioned
    from aws_logs_to_parquet_converter_spark.operators.dedup import (
        append_to_minhash_index,
        minhash_corpus_candidates,
        save_minhash_index,
    )
    from aws_logs_to_parquet_converter_spark.operators.versioned import write_params

    a = "the quick brown fox jumps over the lazy dog and naps in the warm afternoon sun"
    b = ("completely different content about distributed query engines "
         "and columnar io paths")
    c = ("a third unrelated passage describing coastal weather patterns "
         "across long winters")
    src = str(tmp_path / "src")
    save_minhash_index(
        _mk_docs(spark, [(1, a)]), "doc_id", "text", src, num_hashes=32, bands=8
    )
    src_dir = versioned.live_dir(src, versioned.read_params(spark, src))

    idx, ver = str(tmp_path / "idx"), "0123456789ab"
    data = idx if layout == "pre_versioning" else f"{idx}/v-{ver}"
    for name in ("signatures", "bands"):
        spark.read.parquet(f"{src_dir}/{name}").write.parquet(f"{data}/{name}")
    row = (32, 8, 5, 42, "xxhash64")
    ddl = "num_hashes int, bands int, shingle_n int, seed long, hash_fn string"
    if layout == "pre_versioning":
        write_params(spark, f"{idx}/params", row, ddl)
    else:
        write_params(spark, f"{idx}/params", (*row, ver), ddl + ", version string")

    def probe(text):
        got = minhash_corpus_candidates(
            _mk_docs(spark, [(99, text)]), "doc_id", "text", idx, threshold=0.5
        )
        return sorted(r.corpus_id for r in got.collect())

    assert probe(a) == [1]
    append_to_minhash_index(_mk_docs(spark, [(2, b)]), "doc_id", "text", idx)
    assert probe(b) == [2]

    save_minhash_index(
        _mk_docs(spark, [(1, c)]), "doc_id", "text", idx, num_hashes=32, bands=8
    )
    names = os.listdir(idx)
    assert len([n for n in names if n.startswith("v-")]) == 1
    assert "signatures" not in names and "bands" not in names
    assert (probe(a), probe(b), probe(c)) == ([], [], [1])


def test_minhash_overwrite_rebuilds_over_empty_params(spark, tmp_path):
    """An empty params relation (a build interrupted before versioned
    commits) fails every read and append loudly, and an overwrite
    rebuilds the index over it."""
    from aws_logs_to_parquet_converter_spark.operators.dedup import (
        append_to_minhash_index,
        minhash_corpus_candidates,
        save_minhash_index,
    )

    a = "the quick brown fox jumps over the lazy dog and naps in the warm afternoon sun"
    idx = str(tmp_path / "idx")
    spark.createDataFrame(
        [], "num_hashes int, bands int, shingle_n int, seed long, hash_fn string"
    ).write.parquet(f"{idx}/params")
    docs = _mk_docs(spark, [(1, a)])
    with pytest.raises(ValueError, match="interrupted build"):
        minhash_corpus_candidates(docs, "doc_id", "text", idx, 0.5)
    with pytest.raises(ValueError, match="interrupted build"):
        append_to_minhash_index(docs, "doc_id", "text", idx)
    save_minhash_index(docs, "doc_id", "text", idx, num_hashes=32, bands=8)
    got = minhash_corpus_candidates(
        _mk_docs(spark, [(9, a)]), "doc_id", "text", idx, 0.5
    )
    assert [(r.doc_id, r.corpus_id) for r in got.collect()] == [(9, 1)]


def test_soft_dedup_weights_exact_ppm(spark):
    df = spark.createDataFrame(
        [
            (1, "same text"),
            (2, "Same   TEXT"),   # normalized-equal to 1
            (3, "same text"),     # byte-equal to 1
            (4, "unique"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_copies, r.weight_ppm)
        for r in dedup.soft_dedup_weights(df, "doc_id", "text").collect()
    }
    assert got == {
        1: (3, 333333),
        2: (3, 333333),
        3: (3, 333333),
        4: (1, 1000000),
    }
    # group mass: each group sums to ~1e6 (floor loses <n ppm)
    assert 999999 <= 3 * 333333 <= 1000000


def test_ngram_containment_catches_quote_inclusion(spark):
    """A short doc quoted verbatim inside a long one: Jaccard stays
    far below any sane threshold while containment(short in long)
    is 1.0 — the case the asymmetric measure exists for."""
    from aws_logs_to_parquet_converter_spark.operators import dedup

    short = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"filler{i:03d} token{i:03d}" for i in range(40))
    rows = [(1, short), (2, filler + " " + short + " " + filler)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = dedup.ngram_containment_pairs(
        df, "doc_id", "text", min_containment_ppm=900_000
    ).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p["id_a"], p["id_b"]) == (1, 2)
    assert p["c_ab_ppm"] == 1_000_000  # short fully contained
    assert p["c_ba_ppm"] < 200_000  # long barely contained in short

    jac = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", threshold=0.4
    ).collect()
    assert jac == []  # symmetric Jaccard misses exactly this pair


def test_ngram_containment_unrelated_docs_emit_nothing(spark):
    from aws_logs_to_parquet_converter_spark.operators import dedup

    rows = [(1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup.ngram_containment_pairs(df, "doc_id", "text").count() == 0
