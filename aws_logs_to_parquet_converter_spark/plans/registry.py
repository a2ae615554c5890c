"""Registry of (Spark builder, DuckDB oracle) query pairs."""

from __future__ import annotations

import atexit
import os
import re
import secrets
import shutil
import tempfile
from collections.abc import Sequence
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_logs_to_parquet_converter_spark.session import ensure_semantics

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@dataclass
class Query:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # DuckDB SQL; None => rows-only check
    headline: bool = False  # included in bench.py
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None, headline: bool = False):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn):
        wrapped = _with_semantics(fn)
        REGISTRY[name] = Query(name, wrapped, oracle, headline, fn.__doc__ or "")
        return wrapped

    return deco


def _with_semantics(fn):
    def inner(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_semantics(spark)  # UTC etc. even on a harness-built session
        return fn(spark, sf_dir)

    inner.__doc__ = fn.__doc__
    inner.__name__ = getattr(fn, "__name__", "query")
    return inner


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (TESTDATA.md layout).

    ``events.ts`` normalization seam — the engine accepts every parquet
    timestamp flavor the wild produces and emits one canonical type
    (session-local TIMESTAMP, pinned UTC by ``ensure_semantics``):

      * TIMESTAMP(NANOS): Spark's vectorized reader rejects it; read as
        raw nanos (legacy conf) and floor-convert to micros — exactly
        DuckDB's nanos->micros truncation, so oracle comparisons agree.
      * TIMESTAMP(MICROS) without timezone: Spark reads TIMESTAMP_NTZ;
        cast to TIMESTAMP — value-identical under the pinned UTC
        session, and DuckDB reads the same bytes as naive-UTC too.
      * TIMESTAMP with timezone: passes through unchanged.

    Downstream operators (windows, sessionization, as-of) can then rely
    on instant-typed ``ts`` (``unix_micros`` etc.) regardless of how the
    upstream writer encoded it.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _norm_ntz(df)
    return _norm_ntz(spark.read.parquet(f"{sf_dir}/{name}.parquet"))


_SCRATCH_NAME = re.compile(r"(?P<tag>.+)_(?P<pid>\d+)_[0-9a-f]{12}")


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # another user's live process
    return True


def scratch_dir(tag: str) -> str:
    """A new private directory for one build's on-disk fixture, removed
    when the interpreter exits.  Every build gets its own, so a second
    build (in this process or another) never deletes files an earlier
    build's DataFrame still reads.  The name is ``<tag>_<pid>_<12 hex>``
    under the temp dir (``scripts/dump_plans.py`` normalises it); the
    same-tag dirs of processes that died without their exit hook are
    removed here, so a killed run leaks until the next build only."""
    tmp = tempfile.gettempdir()
    for name in os.listdir(tmp):
        m = _SCRATCH_NAME.fullmatch(name)
        if m and m["tag"] == tag and not _pid_alive(int(m["pid"])):
            shutil.rmtree(os.path.join(tmp, name), True)
    path = os.path.join(tmp, f"{tag}_{os.getpid()}_{secrets.token_hex(6)}")
    os.mkdir(path, 0o700)  # fails rather than share an existing dir
    atexit.register(shutil.rmtree, path, True)
    return path


def stage_micro_batches(root: str, batches: Sequence[DataFrame]) -> str:
    """Write each frame as ONE parquet file ``b<i>.parquet`` under
    ``{root}/changes`` with increasing mtimes, so a file source with
    ``maxFilesPerTrigger=1`` (oldest first) replays them as micro-batch
    1, 2, ...  Returns the changes dir."""
    changes = os.path.join(root, "changes")
    os.makedirs(changes)
    for i, batch in enumerate(batches, start=1):
        stage = os.path.join(root, f"stage{i}")
        batch.coalesce(1).write.parquet(stage)
        part = next(
            f for f in os.listdir(stage)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        dest = os.path.join(changes, f"b{i}.parquet")
        os.rename(os.path.join(stage, part), dest)
        os.utime(dest, (1_000_000 * i, 1_000_000 * i))
    return changes


def _norm_ntz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to session-local TIMESTAMP —
    applied to ALL tables so a testdata regeneration that flips any
    writer's timezone annotation (the r4 breakage class) cannot
    reintroduce instant-vs-wall type mismatches downstream."""
    ntz = [c for c, dt in df.dtypes if dt == "timestamp_ntz"]
    if not ntz:
        return df
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})


def register_views(spark: SparkSession, sf_dir: str, names: list[str] = TABLES) -> None:
    """Register the testdata tables as temp views for spark.sql plans."""
    for n in names:
        t(spark, sf_dir, n).createOrReplaceTempView(n)
