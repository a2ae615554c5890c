"""WARC (Web ARChive, ISO 28500) record source — the Common Crawl
ingestion format every web-scale training corpus starts from.

Spark-first design: ``spark.read.text`` with the record boundary
``\\r\\n\\r\\nWARC/1.0\\r\\n`` as the custom ``lineSep`` splits a WARC
member into one row per record NATIVELY — the scan stays splittable
and streamed, and everything after it (header parsing, payload
separation, filtering) is codegen ``regexp_extract``/``substring``
expressions.  No Python worker touches the bytes.

Honest caveats, stated up front:

  * ``.warc.gz`` WORKS through the same reader (tested): Hadoop's
    gzip codec decompresses transparently — including Common Crawl's
    concatenated per-record gzip members, which decode as one stream —
    and the version peek decodes the member head driver-side.  The
    cost is splittability: each ``.gz`` file is one task, i.e.
    file-level parallelism, which for CC's ~1 GB files is how every
    engine reads them anyway; decompress in the lake first if you need
    intra-file splits.
  * Splitting on the boundary string mis-splits a payload that
    contains ``\\r\\n\\r\\nWARC/1.0\\r\\n`` verbatim.  Real HTML
    payloads essentially never do, and when one does the reader now
    RECOVERS it: ``Content-Length`` proves the repair (head + boundary
    + next row re-join when the byte count matches the declaration —
    see ``read_warc_records``).  Records the stitcher
    cannot prove (double-embedded boundary, corrupt declarations)
    still flag ``payload_length_ok = False`` for quarantine — the same
    dead-letter-not-silent-drop discipline as the log parser, never a
    silent wrong payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Record boundary: blank line then the next record's version line.  The
# FIRST record in a file has no preceding blank line, so its version
# line survives at the head of the first split and is stripped there.
# The version ("1.0" / "1.1") is auto-detected from the first file's
# leading bytes — a wrong separator would not error, it would collapse
# the whole file into one mis-typed record.
def _record_sep(version: str) -> str:
    return f"\r\n\r\nWARC/{version}\r\n"


def _detect_version(spark: SparkSession, path: str) -> str:
    """Peek the first ~256 bytes of one matching FILE driver-side (one
    buffered JVM read, directories descended one level — a glob or a
    directory path must not fall into the open-a-directory trap) and
    return its WARC version ('1.0' fallback).  Metadata-scale I/O via
    the same Hadoop FS the scan uses, so it works on any filesystem.

    I/O errors PROPAGATE (round-6 advisor finding: a silently-swallowed
    transient read failure on a WARC/1.1 archive would pick the wrong
    lineSep, collapse each file into one mis-typed record, and the
    default record_types filter would then drop everything — data loss
    with no flag).  Content-based fallbacks (no matching
    file; head that is not a WARC version line) return '1.0' with a
    loud warning instead, because there the scan itself will surface
    the real problem."""
    import warnings

    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    matches = fs.globStatus(p)
    if not matches:
        warnings.warn(
            f"warc version peek: no files match {path!r}; assuming WARC/1.0"
        )
        return "1.0"
    def visible(status) -> bool:
        # match the scan's hiddenFileFilter: _SUCCESS markers and
        # .crc checksums must not be the file we peek
        name = status.getPath().getName()
        return not (name.startswith("_") or name.startswith("."))

    first = None
    for st in matches:
        if st.isFile() and visible(st):
            first = st.getPath()
            break
        if st.isDirectory():
            for inner in fs.listStatus(st.getPath()):
                if inner.isFile() and visible(inner):
                    first = inner.getPath()
                    break
        if first is not None:
            break
    if first is None:
        warnings.warn(
            f"warc version peek: no visible data file under {path!r}; "
            "assuming WARC/1.0"
        )
        return "1.0"
    stream = fs.open(first)
    try:
        # read UP TO 256 bytes in one buffered call.  Two traps
        # here: IOUtils.toByteArray(stream, n) demands exactly n
        # (EOFException on shorter files), and py4j passes primitive
        # arrays BY VALUE (a JVM-side read fills a copy the Python
        # side never sees) — so bound the stream and take the bytes
        # as a RETURN value.
        bounded = jvm.org.apache.commons.io.input.BoundedInputStream(
            stream, 256
        )
        head = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(bounded))
    finally:
        stream.close()
    if head[:2] == b"\x1f\x8b":  # gzip member: peek the DECODED head
        import zlib

        try:
            head = zlib.decompressobj(wbits=31).decompress(head, 16)
        except zlib.error:
            # a corrupt gzip head is a CONTENT problem, not an I/O
            # problem: warn-and-fallback (the scan itself will surface
            # the corruption per record), do not abort the whole read
            warnings.warn(
                f"warc version peek: {first} has an undecodable gzip "
                "head; assuming WARC/1.0"
            )
            return "1.0"
    import re

    m = re.match(rb"WARC/(1\.[01])", head)
    if m is None:
        warnings.warn(
            f"warc version peek: {first} does not start with a WARC "
            "version line; assuming WARC/1.0"
        )
        return "1.0"
    return m.group(1).decode()

_HEADER_FIELDS = {
    "warc_type": "WARC-Type",
    "warc_record_id": "WARC-Record-ID",
    "warc_date": "WARC-Date",
    "target_uri": "WARC-Target-URI",
    "content_type": "Content-Type",
    "content_length": "Content-Length",
}


def read_warc_records(
    spark: SparkSession,
    path: str,
    record_types: "tuple[str, ...] | None" = ("response",),
) -> DataFrame:
    """One row per WARC record: the typed header fields above, the raw
    header block, the payload, and ``payload_length_ok`` (whether the
    payload's byte length matches ``Content-Length`` — False flags a
    mis-split, truncated, or malformed-declaration record for
    quarantine, mirroring the log parser's dead-letter contract; NULL
    only when the record genuinely declares no length).

    ``record_types`` pre-filters on WARC-Type (``("response",)`` keeps
    page captures and drops request/metadata records — ~2/3 of a crawl
    — right at the scan; pass None to keep everything).  The filter
    and all projections are codegen expressions over the one text
    scan.

    The record-boundary version string is auto-detected from the first
    matching file, so WARC/1.1 archives split correctly too.  Header
    field matching is case-insensitive per the spec.

    The reader RECOVERS records whose payload embeds the
    boundary string verbatim: such a payload mis-splits into a
    truncated head plus a headerless continuation row, and
    Content-Length proves the repair — when
    ``len(head) + len(separator) + len(next row)`` equals the declared
    length, the two rows re-join and the continuation row is dropped.
    This turns the boundary-split caveat from flag-and-lose into
    flag-or-recover; only payloads embedding the boundary TWICE (or
    genuinely corrupt lengths) remain quarantined.  Cost: one
    per-file window (lead/lag over record order), i.e. a shuffle keyed
    by file — for gzipped crawls each file is one task anyway."""
    sep = _record_sep(_detect_version(spark, path))
    raw = spark.read.option("lineSep", sep).text(path)
    # strip the file-leading version line the separator can't consume.
    # Keep file + in-file order: the stitcher must know physical
    # adjacency.  (monotonically_increasing_id is ordered within a
    # partition and text splits cover ascending byte ranges, so
    # (file, id) reproduces record order.)
    rec = raw.select(
        F.regexp_replace("value", r"\A(?s)WARC/1\.[01]\r\n", "").alias("_rec"),
        F.col("_metadata.file_path").alias("_file"),
        F.monotonically_increasing_id().alias("_mid"),
    )
    # header block = up to the first blank line; payload = the rest.
    # Pure Column API (no F.expr): Python string literals reach the JVM
    # as values, with no SQL string parsing in between.
    blank = F.instr(F.col("_rec"), "\r\n\r\n")
    header = F.substring_index(F.col("_rec"), "\r\n\r\n", 1)
    cols = [header.alias("warc_headers")]
    for name, field in _HEADER_FIELDS.items():
        cols.append(
            F.nullif(
                # (?i): WARC/HTTP field names are case-insensitive
                # [ \t]* not \s*: \s would cross the CRLF of an
                # empty-valued header and capture the NEXT header line
                # as this field's value (round-7 review finding)
                F.regexp_extract(header, rf"(?im)^{field}:[ \t]*(.*?)\r?$", 1), F.lit("")
            ).alias(name)
        )
    raw_pay = F.when(
        blank > 0, F.col("_rec").substr(blank + 4, F.length("_rec"))
    ).otherwise(F.lit(""))
    # The LAST record keeps its \r\n\r\n terminator (every other one is
    # consumed by the separator match) — but a payload may also END
    # with a legitimate \r\n\r\n (e.g. an HTTP request with no body),
    # so the strip is Content-Length-aware: keep the form whose byte
    # length matches the declaration; without a declaration strip the
    # trailing terminator best-effort.
    stripped = F.regexp_replace(raw_pay, r"(?s)\r\n\r\n\Z", "")
    # try_cast: a malformed Content-Length (crawler-supplied data) must
    # never kill the job under ANSI mode; a DECLARED-but-malformed
    # length flags False (quarantine), only a genuinely absent header
    # yields the NULL "no declaration" state — keeping the dead-letter
    # filter `payload_length_ok == False` able to catch corruption
    decl = F.col("content_length").try_cast("long")
    malformed_decl = F.col("content_length").isNotNull() & decl.isNull()
    cols.append(raw_pay.alias("_rp"))
    cols.append(stripped.alias("_sp"))
    cols.append(decl.alias("_decl"))
    cols.append(F.col("_rec").alias("_raw_rec"))
    parsed = rec.select("_file", "_mid", *cols)
    w = Window.partitionBy("_file").orderBy("_mid")
    sep_len = len(sep.encode())
    # under-length head: the declaration says bytes are missing —
    # the mis-split signature (payload embedded the separator, so
    # its tail became the NEXT row).  Two reconstruction shapes:
    #   * the head row HAS a header-blank (its raw payload is the
    #     piece before the embedded separator): the payload is
    #     head + separator + next row;
    #   * the head row has NO header-blank at all — the payload
    #     BEGAN with 'WARC/x.y\r\n', so the separator match ate
    #     the true header-blank plus that prefix: the payload is
    #     separator-minus-its-leading-CRLFCRLF + next row.
    has_blank = F.instr("_raw_rec", "\r\n\r\n") > 0
    under = F.col("_decl").isNotNull() & (
        F.octet_length("_rp") < F.col("_decl")
    )
    nxt = F.coalesce(F.lead("_raw_rec").over(w), F.lit(""))
    mend_prefix = F.when(
        has_blank, F.concat("_rp", F.lit(sep))
    ).otherwise(F.lit(sep[4:]))
    # byte count the stitch contributes BEFORE the next row's bytes
    # (needed again from the continuation row's perspective below)
    base_len = F.when(
        has_blank, F.octet_length("_rp") + F.lit(sep_len)
    ).otherwise(F.lit(sep_len - 4))
    mended = F.concat(mend_prefix, nxt)
    mended_sp = F.regexp_replace(mended, r"(?s)\r\n\r\n\Z", "")
    parsed = parsed.withColumn("_under", under).withColumn(
        "_mend",
        F.when(under & (F.octet_length(mended) == F.col("_decl")), mended).when(
            under & (F.octet_length(mended_sp) == F.col("_decl")), mended_sp
        ),
    )
    # a row is a CONSUMED continuation iff the previous row was
    # under-length and the stitch using THIS row's bytes satisfied
    # the previous row's declaration (mirror of the _mend success
    # conditions, evaluated from the next row's perspective)
    prev_under = F.lag("_under").over(w)
    prev_decl = F.lag("_decl").over(w)
    prev_base = F.lag(base_len).over(w)
    own_len = F.octet_length("_raw_rec")
    own_sp_len = F.octet_length(
        F.regexp_replace("_raw_rec", r"(?s)\r\n\r\n\Z", "")
    )
    consumed = (
        F.coalesce(prev_under, F.lit(False))
        & (
            (prev_base + own_len == prev_decl)
            | (prev_base + own_sp_len == prev_decl)
        )
    )
    parsed = (
        parsed.withColumn("_consumed", consumed)
        .where(~F.col("_consumed"))
        .withColumn("_rp", F.coalesce("_mend", "_rp"))
        .withColumn("_sp", F.coalesce("_mend", "_sp"))
        .drop("_under", "_mend", "_consumed")
    )
    parsed = parsed.where(F.length("_raw_rec") > 0)
    out = (
        parsed.withColumn(
            "payload",
            F.when(
                F.col("_decl").isNotNull() & (F.octet_length("_rp") == F.col("_decl")),
                F.col("_rp"),
            )
            .when(
                F.col("_decl").isNotNull() & (F.octet_length("_sp") == F.col("_decl")),
                F.col("_sp"),
            )
            .when(F.col("_decl").isNull(), F.col("_sp"))
            .otherwise(F.col("_rp")),
        )
        .withColumn(
            "payload_length_ok",
            F.when(malformed_decl, F.lit(False)).when(
                F.col("_decl").isNotNull(),
                F.octet_length("payload") == F.col("_decl"),
            ),
        )
        .drop("_rp", "_sp", "_decl", "_raw_rec", "_file", "_mid")
    )
    if record_types is not None:
        out = out.where(F.col("warc_type").isin(*record_types))
    return out


def warc_to_documents(records: DataFrame) -> DataFrame:
    """Project WARC response records onto the documents-table shape
    (doc_id, text, lang, source, n_chars) so every downstream corpus
    operator (dedup, quality, perplexity, sampling) applies unchanged.

    The text drops the HTTP response envelope (status line + headers)
    that ``application/http`` payloads carry before the body.
    doc_id is the xxhash64 of the record id — deterministic, collision
    odds the same 2^-64 class the digest operators already accept;
    lang is left NULL for the language-ID operator to fill."""
    blank = F.instr(F.col("payload"), "\r\n\r\n")
    body = F.when(
        F.col("content_type").startswith("application/http") & (blank > 0),
        F.col("payload").substr(blank + 4, F.length("payload")),
    ).otherwise(F.col("payload"))
    # a record MISSING WARC-Record-ID must not hash NULL: Spark's hash
    # functions return the constant seed for NULL, which would give
    # every id-less record the SAME doc_id and downstream min-id dedup
    # would silently collapse them (round-7 review finding); fall back
    # to the payload's own identity
    rid = F.coalesce(
        F.col("warc_record_id"),
        F.concat(F.lit("<no-record-id>:"), F.md5(F.coalesce("payload", F.lit("")))),
    )
    return records.select(
        F.xxhash64(rid).alias("doc_id"),
        body.alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.col("target_uri").alias("source"),
        F.length(body).cast("long").alias("n_chars"),
    )


def write_warc(rows: "list[tuple[dict, str]]", path: str, version: str = "1.0") -> None:
    """Test-fixture helper: serialize (headers, payload) pairs as a
    spec-shaped uncompressed WARC file (version line, CRLF headers,
    blank line, payload, double-CRLF record terminator).  Driver-side
    and tiny by design — real WARC comes FROM the crawler; the engine
    only reads it."""
    with open(path, "wb") as fh:
        for headers, payload in rows:
            pb = payload.encode("utf-8")
            fh.write(f"WARC/{version}\r\n".encode())
            hdrs = dict(headers)
            hdrs.setdefault("Content-Length", str(len(pb)))
            for k, v in hdrs.items():
                fh.write(f"{k}: {v}\r\n".encode())
            fh.write(b"\r\n")
            fh.write(pb)
            fh.write(b"\r\n\r\n")
