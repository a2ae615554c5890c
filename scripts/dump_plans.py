#!/usr/bin/env python
"""Dump .explain('formatted') for named registry queries to files.

Usage: python scripts/dump_plans.py --out plans/r15 --suffix _before [query ...]
Default query set: the headline bench entries.

Expression ids (``#123``), lambda-variable suffixes (``x_12``), exchange
plan ids (``plan_id=45``), RDD ids (``MapPartitionsRDD[67]``), versioned
store dirs (``/v-<12 hex>``) and registry scratch dirs
(``/q_<tag>_<pid>_<12 hex>`` from ``plans/registry.scratch_dir``, and
the older ``/q_<tag>_<12 hex>``) are replaced with fixed tokens, so
two dumps compare with ``diff -r``.
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from aws_logs_to_parquet_converter_spark.plans import REGISTRY  # noqa: E402
from aws_logs_to_parquet_converter_spark.session import get_spark  # noqa: E402

_LAMBDA_VAR = re.compile(r"(lambda \w+?)_\d+#")
_EXPR_ID = re.compile(r"#\d+")
_PLAN_ID = re.compile(r"plan_id=\d+")
_RDD_ID = re.compile(r"RDD\[\d+\]")
_VERSION_DIR = re.compile(r"/v-[0-9a-f]{12}\b")
_SCRATCH_DIR = re.compile(r"(/q_[a-z_]+?)(?:_\d+)?_[0-9a-f]{12}\b")


def normalise_plan(text: str) -> str:
    """Replace the per-session counters and per-build directory names in a
    plan string with fixed tokens."""
    text = _EXPR_ID.sub("#N", _LAMBDA_VAR.sub(r"\1_N#", text))
    text = _RDD_ID.sub("RDD[N]", _PLAN_ID.sub("plan_id=N", text))
    return _SCRATCH_DIR.sub(r"\1_N", _VERSION_DIR.sub("/v-N", text))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default="plans/r15")
    ap.add_argument("--suffix", default="_before")
    args = ap.parse_args()

    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name="dump_plans", extra_conf={"spark.ui.enabled": "false"})
    from aws_logs_to_parquet_converter_spark.functions.presto_compat import (
        register_presto_compat,
    )

    register_presto_compat(spark)

    names = args.names or [n for n, q in REGISTRY.items() if q.headline]
    for name in names:
        q = REGISTRY[name]
        try:
            df = q.builder(spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            (out / f"{name}{args.suffix}.txt").write_text(normalise_plan(buf.getvalue()))
            print(f"wrote {name}{args.suffix}.txt")
        except Exception as e:
            print(f"SKIP {name}: {type(e).__name__}: {e}")
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
