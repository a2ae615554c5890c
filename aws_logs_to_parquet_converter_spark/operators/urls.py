"""URL canonicalization + keep-first URL dedup.

North-star operator (no reference counterpart; the reference's log
domain stops at Presto ``url_extract_*``, mirrored in
``functions/presto_compat.py``): a crawl-scale training-data pipeline
dedups its fetch frontier and its fetched corpus BY CANONICAL URL
before any content-level dedup runs — the same page reached via
``HTTP://Host:80/a?b=2&a=1#x`` and ``http://host/a?a=1&b=2`` must
collapse to one fetch.

Canonical form (the conservative, safe-everywhere subset of RFC 3986
§6 normalization plus the standard tracking-param strip):

* scheme and host lowercased (case-insensitive per RFC 3986);
* fragment dropped (never sent to the server);
* default ports dropped (``http:80``, ``https:443``);
* empty path becomes ``/``;
* query parameters sorted bytewise and re-joined (order is almost
  never significant; sorting makes equivalent URLs byte-equal);
* tracking parameters dropped (``utm_*``, ``fbclid``, ``gclid`` —
  session decoration, not content identity);
* empty query string dropped entirely (no trailing ``?``).

* userinfo (``user:pass@``) stripped — credentials never contribute
  to content identity and must not be retained by a training
  pipeline.

Percent-encoding normalization and IDN/punycode are deliberately OUT
of scope: both change bytes the origin server may treat as
significant, so a conservative canonicalizer leaves them alone.
Malformed authorities (a ``:`` without a valid numeric port) and
bracketed IPv6 literals take the NULL unknown-identity path — a
dedup key must never ALIAS a malformed origin onto a clean one, and
under the keep-first NULL sentinel every such row survives.

Everything is built-in Catalyst expressions (regexp_extract / filter /
array_sort / array_join) — no Python in the row path; the dedup
exchange moves a 16-byte md5 of the canonical form, never URL text
(the module rule ``dedup._keep_first`` enforces).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.operators.dedup import _keep_first

#: query params that never contribute to content identity
TRACKING_PARAM_PATTERN = r"^(utm_[^=]*|fbclid|gclid)(=|$)"

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)"


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an absolute http(s)-style URL as a pure
    column expression; NULL for NULL input and for strings with no
    ``scheme://host`` shape (malformed input is unknown identity — the
    keep-first NULL sentinel then keeps every such row, mirroring the
    dedup module's NULL-text rule)."""
    nofrag = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(nofrag, _SCHEME_RE, 1))
    # userinfo (user:pass@) is stripped, not canonicalized: credentials
    # never contribute to content identity, and a training pipeline
    # must not retain them — without this, `^([^:]*)` would also
    # misread "user" as the host
    hostport = F.regexp_replace(
        F.regexp_extract(nofrag, _HOSTPORT_RE, 1), r"^.*@", ""
    )
    host = F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1))
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    path = F.regexp_extract(nofrag, _PATH_RE, 1)
    query = F.regexp_extract(nofrag, r"\?([^#]*)", 1)

    # a ':' in the authority that is NOT a valid numeric-port suffix
    # (malformed port like ':8080x', or a bracketed IPv6 literal) is
    # unknown identity: aliasing 'http://a.com:8080x/p' onto
    # 'http://a.com/p' would let url_keep_first DELETE a document from
    # a genuinely different origin (round-8 review), so such URLs take
    # the NULL path and every copy survives
    bad_authority = (
        hostport.contains(":") & ~hostport.rlike(r"^[^:\[\]]+:[0-9]+$")
    ) | hostport.contains("[")
    default_port = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    port_part = F.when(
        (port == "") | default_port, F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    path_part = F.when(path == "", F.lit("/")).otherwise(path)
    params = F.filter(
        F.split(query, "&", -1),
        lambda x: (x != "") & ~x.rlike(TRACKING_PARAM_PATTERN),
    )
    sorted_q = F.array_join(F.array_sort(params), "&")
    query_part = F.when(sorted_q == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), sorted_q)
    )
    canon = F.concat(
        scheme, F.lit("://"), host, port_part, path_part, query_part
    )
    return F.when(
        (scheme == "") | (host == "") | bad_authority, F.lit(None)
    ).otherwise(canon)


def with_canonical_url(df: DataFrame, url_col: str) -> DataFrame:
    """``df`` plus ``canon_url``, the canonical form of ``url_col``."""
    return df.withColumn("canon_url", canonicalize_url(F.col(url_col)))


def url_keep_first(
    df: DataFrame, id_col: str, url_col: str, *, precanonicalized: bool = False
) -> DataFrame:
    """Keep-first URL dedup: drop every row whose URL canonicalizes to
    the same form as a lower-id row.  Shares ``dedup._keep_first``
    (digest-grouped min-id + semi join — two 16-byte-digest exchanges,
    URL text never shuffles; a NULL/malformed URL keys on its own
    id-derived sentinel so all such rows survive).

    ``precanonicalized=True`` declares ``url_col`` already holds the
    canonical form (e.g. a ``with_canonical_url`` column) — callers
    that also EMIT the canonical form avoid running the dozen-regexp
    canonicalization twice per row (round-8 review)."""
    key = (
        F.col(url_col)
        if precanonicalized
        else canonicalize_url(F.col(url_col))
    )
    return _keep_first(df, id_col, F.md5(key))
