#!/usr/bin/env python
"""Local stand-in for the driver's t2 correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet tables; compare row count, column names, and an
order-insensitive value multiset.

Usage: python scripts/check_parity.py [query ...] [--sf DIR]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--skip", default="",
        help="comma-separated names to exclude (e.g. oracles that are "
        "super-linear by construction at big SFs — run those at a "
        "smaller SF instead)",
    )
    ap.add_argument(
        "--timeout", type=float, default=None,
        help="per-query watchdog seconds: interrupt the DuckDB oracle "
        "so one intractable oracle records a FAIL instead of hanging "
        "the whole sweep",
    )
    args = ap.parse_args()

    from aws_logs_to_parquet_converter_spark.plans import REGISTRY
    from aws_logs_to_parquet_converter_spark.session import get_spark
    from aws_logs_to_parquet_converter_spark.testing import compare_query, duckdb_connection

    skip = set(args.skip.split(",")) - {""}
    names = [n for n in (args.names or list(REGISTRY)) if n not in skip]
    spark = get_spark(app_name="parity", extra_conf={"spark.ui.enabled": "false"})
    con = duckdb_connection(args.sf)

    counts = {"ok": 0, "rows-only": 0, "fail": 0}
    for name in names:
        t0 = time.time()
        timer = None
        # per-query CURSOR (shares the catalog views): the watchdog
        # interrupts only this query's own cursor, so a timer firing in
        # the gap after compare_query returns — or during the Spark
        # half of the comparison — can never poison the NEXT query's
        # oracle on a shared connection (a race the first --timeout
        # implementation had)
        qcon = con.cursor()
        if args.timeout:
            import threading

            timer = threading.Timer(args.timeout, qcon.interrupt)
            timer.start()
        try:
            status, detail = compare_query(spark, qcon, name, args.sf)
        except Exception as e:
            status, detail = "fail", f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            if timer is not None:
                timer.cancel()
            qcon.close()
        counts[status] += 1
        label = {"ok": "ok   ", "rows-only": "rows ", "fail": "FAIL "}[status]
        print(f"{label} {name}: {detail} [{time.time()-t0:.1f}s]")
        # a finished query's caches are released here, the harness rule
        # of operators/cache.py
        spark.catalog.clearCache()

    print(f"\n{counts['ok']} ok, {counts['rows-only']} rows-only, {counts['fail']} FAIL")
    spark.stop()
    sys.exit(1 if counts["fail"] else 0)


if __name__ == "__main__":
    main()
