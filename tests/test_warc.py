"""WARC source (sources/warc.py): record splitting, header typing,
payload integrity check, documents projection, downstream composition."""

from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.sources import warc


def _fixture(path):
    rows = [
        (
            {
                "WARC-Type": "warcinfo",
                "WARC-Record-ID": "<urn:uuid:0000>",
                "WARC-Date": "2019-03-01T00:00:00Z",
                "Content-Type": "application/warc-fields",
            },
            "software: testcrawler/1.0",
        ),
        (
            {
                "WARC-Type": "request",
                "WARC-Record-ID": "<urn:uuid:0001>",
                "WARC-Date": "2019-03-01T00:00:01Z",
                "WARC-Target-URI": "http://example.com/a",
                "Content-Type": "application/http; msgtype=request",
            },
            "GET /a HTTP/1.1\r\nHost: example.com\r\n\r\n",
        ),
        (
            {
                "WARC-Type": "response",
                "WARC-Record-ID": "<urn:uuid:0002>",
                "WARC-Date": "2019-03-01T00:00:02Z",
                "WARC-Target-URI": "http://example.com/a",
                "Content-Type": "application/http; msgtype=response",
            },
            "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html>page A body</html>",
        ),
        (
            {
                "WARC-Type": "response",
                "WARC-Record-ID": "<urn:uuid:0003>",
                "WARC-Date": "2019-03-01T00:00:03Z",
                "WARC-Target-URI": "http://example.com/b",
                "Content-Type": "application/http; msgtype=response",
            },
            "HTTP/1.1 200 OK\r\n\r\n<html>page B body</html>",
        ),
    ]
    warc.write_warc(rows, path)


def test_warc_records_and_typed_headers(spark, tmp_path):
    p = str(tmp_path / "crawl.warc")
    _fixture(p)
    # default filter: responses only
    recs = warc.read_warc_records(spark, p).collect()
    assert [r.warc_record_id for r in recs] == ["<urn:uuid:0002>", "<urn:uuid:0003>"]
    assert all(r.warc_type == "response" for r in recs)
    assert all(r.payload_length_ok for r in recs), [
        (r.content_length, len(r.payload)) for r in recs
    ]
    assert recs[0].target_uri == "http://example.com/a"
    assert recs[0].payload.endswith("<html>page A body</html>")

    # unfiltered: all four records, including first-in-file and last-in-file
    every = warc.read_warc_records(spark, p, record_types=None).collect()
    assert len(every) == 4
    assert every[0].warc_type == "warcinfo"  # leading version line stripped
    assert all(r.payload_length_ok for r in every)  # incl. last record's
    # plan stays Python-free
    df = warc.read_warc_records(spark, p)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not any(m in plan for m in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"))


def test_warc_to_documents_composes_with_corpus_ops(spark, tmp_path):
    from aws_logs_to_parquet_converter_spark.operators import textstats

    p = str(tmp_path / "crawl.warc")
    _fixture(p)
    docs = warc.warc_to_documents(warc.read_warc_records(spark, p))
    rows = {r.source: r for r in docs.collect()}
    # HTTP envelope stripped: text is the body only
    assert rows["http://example.com/a"].text == "<html>page A body</html>"
    assert rows["http://example.com/b"].text == "<html>page B body</html>"
    assert rows["http://example.com/a"].n_chars == len("<html>page A body</html>")
    assert docs.schema.simpleString().startswith(
        "struct<doc_id:bigint,text:string,lang:string,source:string,n_chars:bigint>"
    )
    # downstream operators apply unchanged
    scored = warc.warc_to_documents(warc.read_warc_records(spark, p))
    ppl = textstats.perplexity_scores(scored, id_col="doc_id", text_col="text")
    assert ppl.count() == 2


def test_warc_length_mismatch_flags_not_drops(spark, tmp_path):
    p = str(tmp_path / "bad.warc")
    warc.write_warc(
        [(
            {
                "WARC-Type": "response",
                "WARC-Record-ID": "<urn:uuid:9999>",
                "Content-Length": "5",  # wrong on purpose
            },
            "payload longer than five",
        )],
        p,
    )
    recs = warc.read_warc_records(spark, p).collect()
    assert len(recs) == 1  # flagged, never silently dropped
    assert recs[0].payload_length_ok is False


def test_warc_version_11_and_case_insensitive_headers(spark, tmp_path):
    """WARC/1.1 files split correctly (version auto-detected from the
    file head) and spec-legal lowercase header names still type."""
    p = str(tmp_path / "v11.warc")
    warc.write_warc(
        [
            (
                {
                    "warc-type": "response",           # lowercase on purpose
                    "WARC-Record-ID": "<urn:uuid:1100>",
                    "warc-target-uri": "http://example.com/x",
                },
                "HTTP-free body one",
            ),
            (
                {
                    "WARC-Type": "response",
                    "warc-record-id": "<urn:uuid:1101>",
                    "WARC-Target-URI": "http://example.com/y",
                },
                "HTTP-free body two",
            ),
        ],
        p,
        version="1.1",
    )
    recs = warc.read_warc_records(spark, p).collect()
    assert len(recs) == 2, [r.warc_type for r in recs]
    assert {r.target_uri for r in recs} == {
        "http://example.com/x", "http://example.com/y"
    }
    assert all(r.payload_length_ok for r in recs)


def test_warc_roundtrip_property(spark, tmp_path):
    """Property test: random payloads — including ones containing
    CRLF-CRLF runs and 'WARC/1.0' fragments — round-trip exactly
    through write->read for both versions, because Content-Length
    disambiguates every terminator-strip decision."""
    import random

    rng = random.Random(99)
    pieces = ["plain text", "\r\n", "\r\n\r\n", "WARC/1.0", "tail", "<p>x</p>", " "]
    for version in ("1.0", "1.1"):
        rows = []
        for i in range(25):
            payload = "".join(rng.choice(pieces) for _ in range(rng.randint(0, 8)))
            rows.append((
                {
                    "WARC-Type": "response",
                    "WARC-Record-ID": f"<urn:uuid:{version}-{i:04d}>",
                },
                payload,
            ))
        p = str(tmp_path / f"prop-{version}.warc")
        import aws_logs_to_parquet_converter_spark.sources.warc as w

        w.write_warc(rows, p, version=version)
        got = {r.warc_record_id: r for r in w.read_warc_records(spark, p).collect()}
        # one caveat is fundamental to boundary splitting: a payload
        # ENDING with the exact separator sequence cannot round-trip
        # (the splitter cannot tell it from a record boundary) — such
        # records must be FLAGGED (payload_length_ok False), never
        # silently wrong-but-ok
        for (hdrs, payload) in rows:
            rid = hdrs["WARC-Record-ID"]
            if rid not in got:
                # a mis-split swallowed it into the previous record —
                # that previous record must then be flagged
                assert any(not r.payload_length_ok for r in got.values()), (
                    f"{rid} lost without any length flag"
                )
                continue
            r = got[rid]
            if r.payload == payload:
                assert r.payload_length_ok
            else:
                assert not r.payload_length_ok, (
                    f"{rid}: wrong payload yet flagged ok: {r.payload!r} != {payload!r}"
                )


def test_warc_gzip_transparent(spark, tmp_path):
    """.warc.gz reads through the same path (Hadoop codec decompresses
    transparently; one task per file) — including version detection on
    a compressed WARC/1.1 member."""
    import gzip

    plain = tmp_path / "c.warc"
    _fixture(str(plain))
    gz = tmp_path / "c.warc.gz"
    with open(plain, "rb") as f, gzip.open(gz, "wb") as g:
        g.write(f.read())
    recs = warc.read_warc_records(spark, str(gz)).collect()
    assert [r.warc_record_id for r in recs] == ["<urn:uuid:0002>", "<urn:uuid:0003>"]
    assert all(r.payload_length_ok for r in recs)

    # version detection must see the DECODED head
    v11 = tmp_path / "v11.warc.gz"
    rows = [({"WARC-Type": "response", "WARC-Record-ID": "<urn:uuid:g11>"}, "body")]
    import io

    buf = io.BytesIO()
    tmp = tmp_path / "v11.tmp.warc"
    warc.write_warc(rows, str(tmp), version="1.1")
    with open(tmp, "rb") as f, gzip.open(v11, "wb") as g:
        g.write(f.read())
    got = warc.read_warc_records(spark, str(v11)).collect()
    assert len(got) == 1 and got[0].payload == "body" and got[0].payload_length_ok


def test_warc_gzip_multi_member(spark, tmp_path):
    """Common Crawl's actual layout: one gzip MEMBER per record,
    concatenated — the decompressor must continue past the first
    member or records vanish silently."""
    import gzip

    recs = [
        ({"WARC-Type": "response", "WARC-Record-ID": f"<urn:uuid:m{i:03d}>",
          "WARC-Target-URI": f"http://example.com/{i}"}, f"member body {i}")
        for i in range(5)
    ]
    gz = tmp_path / "multi.warc.gz"
    with open(gz, "wb") as out:
        for r in recs:
            one = tmp_path / "one.warc"
            warc.write_warc([r], str(one))
            out.write(gzip.compress(one.read_bytes()))
    got = warc.read_warc_records(spark, str(gz)).collect()
    assert len(got) == 5, [r.warc_record_id for r in got]
    assert {r.payload for r in got} == {f"member body {i}" for i in range(5)}
    assert all(r.payload_length_ok for r in got)


def test_warc_directory_path_and_bad_content_length(spark, tmp_path):
    """A DIRECTORY of WARC/1.1 files must auto-detect correctly (the
    peek descends to a file instead of trying to open the directory);
    a malformed Content-Length flags the record, never throws."""
    d = tmp_path / "crawldir"
    d.mkdir()
    # a.warc holds TWO records in a sub-256-byte file: if detection
    # silently fell back to 1.0 the file would collapse to one record
    # and this assertion would catch it
    warc.write_warc(
        [({"WARC-Type": "response", "WARC-Record-ID": "<urn:uuid:d1>"}, "dir body one"),
         ({"WARC-Type": "response", "WARC-Record-ID": "<urn:uuid:d3>"}, "dir body three")],
        str(d / "a.warc"), version="1.1",
    )
    warc.write_warc(
        [({"WARC-Type": "response", "WARC-Record-ID": "<urn:uuid:d2>"}, "dir body two")],
        str(d / "b.warc"), version="1.1",
    )
    got = warc.read_warc_records(spark, str(d)).collect()
    assert {r.warc_record_id for r in got} == {
        "<urn:uuid:d1>", "<urn:uuid:d2>", "<urn:uuid:d3>"
    }
    assert all(r.payload_length_ok for r in got)

    bad = tmp_path / "bad.warc"
    warc.write_warc(
        [({"WARC-Type": "response", "WARC-Record-ID": "<urn:uuid:b1>",
           "Content-Length": "12abc"}, "body")],
        str(bad),
    )
    rows = warc.read_warc_records(spark, str(bad)).collect()
    assert len(rows) == 1
    # declared-but-malformed flags False (quarantinable), distinct from
    # the NULL no-declaration state
    assert rows[0].payload_length_ok is False


def test_detect_version_warns_on_fallback_instead_of_swallowing(spark, tmp_path):
    """The version peek must not silently assume 1.0: a head that is
    not a WARC version line (or an empty glob) warns loudly — and
    genuine I/O errors now PROPAGATE instead of
    being swallowed into a wrong lineSep that would silently drop every
    record of a WARC/1.1 archive (round-6 advisor finding)."""
    import warnings

    from aws_logs_to_parquet_converter_spark.sources.warc import _detect_version

    notwarc = tmp_path / "plain.warc"
    notwarc.write_bytes(b"this is not a warc file at all\r\n")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert _detect_version(spark, str(notwarc)) == "1.0"
    assert any("WARC version line" in str(w.message) for w in caught)

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert _detect_version(spark, str(tmp_path / "nope-*.warc")) == "1.0"
    assert any("no files match" in str(w.message) for w in caught)


def test_warc_embedded_boundary_recovers_via_stitch(spark, tmp_path):
    """A payload embedding the record boundary VERBATIM round-trips:
    Content-Length proves the repair (head + separator + continuation
    re-join), the continuation row disappears, and neighbors are
    untouched (the round-6 hardening: recovery, not just flagging).
    A payload that even BEGINS with 'WARC/1.0' — where the separator
    match eats the true header-blank — recovers through the
    no-header-blank reconstruction shape."""
    import aws_logs_to_parquet_converter_spark.sources.warc as w

    sep = "\r\n\r\nWARC/1.0\r\n"
    rows = [
        ({"WARC-Type": "response", "WARC-Record-ID": "<urn:a>"}, "before"),
        ({"WARC-Type": "response", "WARC-Record-ID": "<urn:b>"},
         "part one" + sep + "part two"),
        ({"WARC-Type": "response", "WARC-Record-ID": "<urn:c>"},
         "WARC/1.0\r\nstarts like a boundary"),
        ({"WARC-Type": "response", "WARC-Record-ID": "<urn:d>"}, "after"),
    ]
    p = str(tmp_path / "stitch.warc")
    w.write_warc(rows, p)

    got = {r.warc_record_id: r for r in w.read_warc_records(spark, p).collect()}
    assert set(got) == {"<urn:a>", "<urn:b>", "<urn:c>", "<urn:d>"}
    for (hdrs, payload) in rows:
        r = got[hdrs["WARC-Record-ID"]]
        assert r.payload == payload, (hdrs["WARC-Record-ID"], r.payload)
        assert r.payload_length_ok


def test_warc_gzip_stitch_recovery(spark, tmp_path):
    """Boundary-embedded payload recovery works through the gzip path
    too (one task per .gz file — the per-file window's natural
    granularity on real Common Crawl inputs)."""
    import gzip

    import aws_logs_to_parquet_converter_spark.sources.warc as w

    sep = "\r\n\r\nWARC/1.0\r\n"
    rows = [
        ({"WARC-Type": "response", "WARC-Record-ID": "<urn:g1>"},
         "head piece" + sep + "tail piece"),
        ({"WARC-Type": "response", "WARC-Record-ID": "<urn:g2>"}, "plain"),
    ]
    plain = str(tmp_path / "x.warc")
    w.write_warc(rows, plain)
    gz = str(tmp_path / "x.warc.gz")
    with open(plain, "rb") as src, gzip.open(gz, "wb") as dst:
        dst.write(src.read())
    import os
    os.remove(plain)

    got = {r.warc_record_id: r for r in w.read_warc_records(spark, gz).collect()}
    assert got["<urn:g1>"].payload == "head piece" + sep + "tail piece"
    assert got["<urn:g1>"].payload_length_ok
    assert got["<urn:g2>"].payload == "plain"


def test_warc_empty_header_value_and_missing_record_id(spark, tmp_path):
    """An empty-valued header yields NULL — the old \\s* crossed the
    CRLF and captured the NEXT header line as the value; records
    missing WARC-Record-ID get DISTINCT payload-derived doc_ids, not
    the shared xxhash64(NULL) constant."""
    import aws_logs_to_parquet_converter_spark.sources.warc as w

    rows = [
        ({"WARC-Type": "response", "WARC-Target-URI": "",
          "Content-Type": "text/plain"}, "body one"),
        ({"WARC-Type": "response"}, "body two"),
    ]
    p = str(tmp_path / "h.warc")
    w.write_warc(rows, p)
    recs = w.read_warc_records(spark, p).collect()
    by_payload = {r.payload: r for r in recs}
    # empty Target-URI is NULL, NOT the next header's text
    assert by_payload["body one"].target_uri is None
    assert by_payload["body one"].content_type == "text/plain"

    docs = w.warc_to_documents(w.read_warc_records(spark, p)).collect()
    ids = {r.doc_id for r in docs}
    assert len(ids) == 2  # distinct ids despite both lacking a record id
