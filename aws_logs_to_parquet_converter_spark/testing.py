"""Deterministic synthetic raw S3 access-log lines (FIXTURES.md §1).

Row mix: ~90% well-formed 18-field lines, ~5% '-'-heavy (every
null-coercion branch), ~3% modern long-format (trailing post-2019
fields), ~2% garbage (dead-letter path).  Seeded — same n => same
lines, so golden tests and the parse bench are reproducible.
"""

from __future__ import annotations

import math
import os
import random

# The Spark+AI Summit 2019 slide p.21 golden line (public AWS example).
GOLDEN_LINE = (
    "79a59df900b949e55d96a1e698fbacedfd6e09d98eacf8f8d5218e7cd47ef2be "
    "awsexamplebucket [06/Feb/2019:00:00:38 +0000] 192.0.2.3 "
    "79a59df900b949e55d96a1e698fbacedfd6e09d98eacf8f8d5218e7cd47ef2be "
    "3E57427F3EXAMPLE REST.GET.VERSIONING - "
    '"GET /awsexamplebucket?versioning HTTP/1.1" 200 - 113 - 7 - "-" '
    '"S3Console/0.4" -'
)

_OPERATIONS = [
    "REST.GET.OBJECT",
    "REST.GET.OBJECT",
    "REST.GET.OBJECT",
    "REST.PUT.OBJECT",
    "REST.HEAD.OBJECT",
    "REST.GET.VERSIONING",
    "BATCH.DELETE.OBJECT",
]
_AGENTS = ['"S3Console/0.4"', '"aws-sdk-java/1.11.100"', '"Boto3/1.9.201"', '"-"']
_STATUS = [200, 200, 200, 206, 304, 403, 404, 500]
_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def _well_formed(rng: random.Random, n_days: int | None = None) -> str:
    owner = "%064x" % rng.getrandbits(48)
    bucket = rng.choice(["awsexamplebucket", "logs-bucket", "data-bucket"])
    if n_days:  # confine to n_days distinct dates (per-day compaction shape)
        day = rng.randint(1, n_days)
        mon = 3
    else:
        day = rng.randint(1, 28)
        mon = rng.randint(1, 12)
    t = f"[{day:02d}/{_MONTHS[mon - 1]}/2019:{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d} +0000]"
    ip = f"192.0.2.{rng.randint(1, 254)}"
    requester = rng.choice(
        [
            f"arn:aws:sts::123456789012:assumed-role/reader-{rng.randint(0, 4)}/i-{rng.getrandbits(32):08x}",
            f"arn:aws:iam::123456789012:user/user{rng.randint(0, 9)}",
            "-",
        ]
    )
    reqid = "%016X" % rng.getrandbits(62)
    op = rng.choice(_OPERATIONS)
    key = f"logs/service-{rng.randint(0, 9)}/2019/{mon:02d}/{day:02d}/part-{rng.randint(0, 99):05d}.tgz"
    request = f'"GET /{bucket}/{key} HTTP/1.1"'
    status = rng.choice(_STATUS)
    bytes_sent = rng.randint(100, 10_000_000)
    size = bytes_sent + rng.randint(0, 1000)
    total = rng.randint(5, 5000)
    turn = rng.randint(0, total)
    agent = rng.choice(_AGENTS)
    return (
        f"{owner} {bucket} {t} {ip} {requester} {reqid} {op} {key} {request} "
        f'{status} - {bytes_sent} {size} {total} {turn} "-" {agent} -'
    )


def _dash_heavy(rng: random.Random) -> str:
    owner = "%064x" % rng.getrandbits(48)
    t = f"[{rng.randint(1, 28):02d}/Mar/2019:12:00:{rng.randint(0, 59):02d} +0000]"
    return f'{owner} databucket {t} 192.0.2.9 - {"%016X" % rng.getrandbits(62)} REST.GET.OBJECT - "-" - - - - - - "-" "-" -'


def _long_format(rng: random.Random, n_days: int | None = None) -> str:
    # Valid 18 fields + post-2019 trailing fields (host id, sigver,
    # cipher, auth type, endpoint, TLS) — must parse via search semantics.
    return (
        _well_formed(rng, n_days)
        + " qwerAADDff= SigV4 ECDHE-RSA-AES128-GCM-SHA256 AuthHeader "
        + "s3.us-west-2.amazonaws.com TLSv1.2"
    )


def _garbage(rng: random.Random) -> str:
    return rng.choice(
        [
            "truncated line without enough fields",
            "\x00\x01binaryjunk\x7f",
            "   ",
            "a b",
        ]
    )


def generate_log_lines(n: int, seed: int = 42, n_days: int | None = None) -> list[str]:
    """``n_days`` confines well-formed lines to that many distinct dates
    (the realistic per-day compaction shape); default scatters across
    the year (stress partition fan-out)."""
    rng = random.Random(seed)
    lines = []
    for _ in range(n):
        r = rng.random()
        if r < 0.90:
            lines.append(_well_formed(rng, n_days))
        elif r < 0.95:
            lines.append(_dash_heavy(rng))
        elif r < 0.98:
            lines.append(_long_format(rng, n_days))
        else:
            lines.append(_garbage(rng))
    return lines


# ---------------------------------------------------------------------------
# Differential-oracle comparison (shared by scripts/check_parity.py and
# tests/test_oracle_parity.py; approximates the driver's t2 gate:
# row count + column names + order-insensitive value multiset).
# ---------------------------------------------------------------------------


def canon_rows(rows, cols) -> list[str]:
    """Order-insensitive canonical form: per row, sorted-by-name column
    values normalized to strings (floats to 9 significant digits,
    NaN/None unified)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None:
            return "∅"
        if isinstance(v, float):
            if math.isnan(v):
                return "∅"
            return f"{v:.9g}"
        if isinstance(v, bool):
            return str(int(v))
        return str(v)

    return sorted("|".join(norm(r[i]) for i in order) for r in rows)


def compare_query(spark, duck_con, name: str, sf_dir: str):
    """Run one registered query on Spark and its oracle on DuckDB.

    Returns (status, detail): status in {'ok', 'rows-only', 'fail'}.
    """
    from aws_logs_to_parquet_converter_spark.plans import REGISTRY

    return compare_frame(duck_con, name, REGISTRY[name].builder(spark, sf_dir))


def compare_frame(duck_con, name: str, sdf):
    """compare_query's comparison step, for a plan the caller already
    built from ``REGISTRY[name]`` (e.g. to inspect it first)."""
    from aws_logs_to_parquet_converter_spark.plans import REGISTRY

    q = REGISTRY[name]
    srows = sdf.collect()
    scols = sdf.columns
    if q.oracle is None:
        return "rows-only", f"{len(srows)} rows"
    ores = duck_con.sql(q.oracle)
    orows = ores.fetchall()
    ocols = ores.columns

    problems = []
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"columns spark={sorted(scols)} duckdb={sorted(ocols)}")
    if not problems:
        sc, oc = canon_rows(srows, scols), canon_rows(orows, ocols)
        if sc != oc:
            diffs = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
            problems.append(f"values differ, e.g. {diffs}")
    if problems:
        return "fail", "; ".join(problems)
    return "ok", f"{len(srows)} rows"


def duckdb_connection(sf_dir: str):
    """DuckDB connection with the testdata tables as views (driver shape)."""
    import duckdb

    from aws_logs_to_parquet_converter_spark.plans.registry import TABLES

    con = duckdb.connect()
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        # driver fixtures are single files; locally-generated scale data
        # (scripts/make_sf1.py) is a Spark DIRECTORY output — glob it
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con
