"""The versioned store: the one on-disk layout for crash-atomic state.

The query engine only reads Parquet that Spark has finished writing.
Five stores beside the log table keep that rule with one layout:

  * the exact-distinct bitmap MV (``streaming/bitmap_mv.py``);
  * the count-min segment MV (``streaming/cms_mv.py``);
  * the SCD2 dimension (``streaming/dimension.py``);
  * the MinHash index (``dedup.save_minhash_index``);
  * the PQ index (``similarity.save_pq_index``).

Layout: data under ``{path}/v-<ver>/`` (one ``data`` relation, or the
store's named relations); a one-row ``{path}/params`` pointer
``(version, *store values)`` names the live version.

Commit order (``commit``): name a fresh version, write every data dir
under it, write the params row LAST (``write_params``), then prune the
superseded ``v-*`` dirs.  A crash before the params write leaves
readers on the previous complete version; a crash after it leaves
only stale dirs, which the next commit prunes.  A store's append mode
writes into ``live_dir`` and does not create a version.

Bootstrap rule: ``exists`` (the params pointer is on disk) is the only
signal that a store is new.  Once it holds, every read failure
propagates, so a transient IO error can never be taken for first use
and reset the store.

Readers resolve the pointer once per call (``read_params`` +
``live_dir``; ``read`` does both).  ``live_dir`` answers ``path``
itself for a store written before versioning (a params row without
``version``); such stores stay readable and appendable, and their
next commit migrates them (pass the flat dir names as ``extra_stale``).

Concurrency contract: SINGLE WRITER, any number of readers.  The
prune runs right after the commit, so a reader whose plan already
resolved the old version dir (dir resolution is eager at plan build,
the parquet scan lazy at execution) can hit deleted files if a commit
lands mid-job.  Readers that re-resolve through the pointer are always
safe; long-running readers must be scheduled apart from commits.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession


def exists(spark: SparkSession, path: str) -> bool:
    """True iff a committed store lives at ``path`` (its params pointer
    is on disk) -- the bootstrap signal; no Spark job."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/params")
    return bool(p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p))


def read_params(spark: SparkSession, path: str) -> dict:
    """The store's params row as a dict; raises ``ValueError`` on an
    empty params relation (a build interrupted before versioned
    commits existed); the message says the data dirs are intact, since
    a streaming store's history cannot be rebuilt from its inputs."""
    row = spark.read.parquet(f"{path}/params").first()
    if row is None:
        raise ValueError(
            f"no params row at {path}/params (an interrupted build); the "
            f"data dirs under {path} still hold the store's contents"
        )
    return row.asDict()


def live_dir(path: str, params: dict) -> str:
    """Data dir of the live version: ``{path}/v-<ver>``, or ``path``
    itself for a store written before versioning."""
    ver = params.get("version")
    return f"{path}/v-{ver}" if ver else path


def read(spark: SparkSession, path: str) -> DataFrame:
    """The live version's ``data`` relation, pointer-resolved."""
    return spark.read.parquet(f"{live_dir(path, read_params(spark, path))}/data")


def commit(
    spark: SparkSession,
    path: str,
    write: Callable[[str], None],
    values: Sequence = (),
    ddl: str = "",
    extra_stale: "tuple[str, ...]" = (),
) -> str:
    """Commit a new version of the store at ``path``: ``write(vdir)``
    writes every data dir under the fresh version dir, then the params
    row ``(ver, *values)`` (schema ``version string`` plus ``ddl``)
    flips readers onto it, then the prune drops superseded versions and
    ``extra_stale`` names.  Returns the new version."""
    ver = uuid.uuid4().hex[:12]
    write(f"{path}/v-{ver}")
    schema = "version string" + (f", {ddl}" if ddl else "")
    write_params(spark, f"{path}/params", (ver, *values), schema)
    prune_stale_versions(spark, path, ver, extra_stale)
    return ver


def write_params(
    spark: SparkSession,
    params_path: str,
    row: tuple,
    schema_ddl: str,
) -> None:
    """Flip the single-row params pointer WITHOUT a Spark job.

    Every versioned commit used to end with
    ``spark.createDataFrame([row], ddl).write.mode("overwrite")
    .parquet(params)`` — a full write job (driver->executor round trip,
    task launch, Hadoop committer) costing ~0.5-0.8 s per commit for
    ONE row, paid per micro-batch by the streaming MVs and per refresh
    by the persisted indexes.  The pointer is driver-side metadata, so
    build the parquet bytes driver-side (pyarrow, schema mapped from
    the same DDL so readers see bit-identical types) and move them into
    place through the Hadoop FS API: write ``params.tmp-<uuid>``, then
    delete+rename.  Besides the job, this SHRINKS the no-pointer crash
    window — mode("overwrite") deleted the dir and then ran the whole
    job before a new pointer existed; now the gap is a delete+rename
    pair with the bytes already on disk.

    Scalar fields only (int/long/float/double/string/boolean) — every
    params row in the repo is flat; a composite field raises loudly.
    ``row`` is positional against ``schema_ddl``, mirroring
    ``createDataFrame([row], ddl)`` at the call sites.
    """
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        StringType,
        _parse_datatype_string,
    )

    pa_types = {
        IntegerType: pa.int32(),
        LongType: pa.int64(),
        FloatType: pa.float32(),
        DoubleType: pa.float64(),
        StringType: pa.string(),
        BooleanType: pa.bool_(),
    }
    struct = _parse_datatype_string(schema_ddl)
    if len(row) != len(struct.fields):
        raise ValueError(
            f"write_params: row has {len(row)} values for "
            f"{len(struct.fields)} schema fields"
        )
    fields, cols = [], {}
    for value, f in zip(row, struct.fields):
        patype = pa_types.get(type(f.dataType))
        if patype is None:
            raise ValueError(
                f"write_params: field {f.name!r} has non-scalar type "
                f"{f.dataType.simpleString()}; params rows are flat scalars"
            )
        fields.append(pa.field(f.name, patype, nullable=True))
        cols[f.name] = [value]
    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pydict(cols, schema=pa.schema(fields)), buf)

    jvm = spark._jvm
    final = jvm.org.apache.hadoop.fs.Path(params_path)
    fs = final.getFileSystem(spark._jsc.hadoopConfiguration())
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{params_path}.tmp-{uuid.uuid4().hex[:12]}"
    )
    out = fs.create(
        jvm.org.apache.hadoop.fs.Path(tmp, "part-00000.parquet"), True
    )
    out.write(bytearray(buf.getvalue()))
    out.close()
    fs.delete(final, True)
    if not fs.rename(tmp, final):
        raise IOError(
            f"write_params: rename {tmp} -> {final} failed (pointer flip "
            "did not commit; readers still see no/old params)"
        )


def prune_stale_versions(
    spark: SparkSession,
    path: str,
    live_ver: str,
    extra_stale: "tuple[str, ...]" = (),
) -> None:
    """Delete every ``v-*`` dir under ``path`` except the live one,
    plus any ``extra_stale`` literal names (e.g. the pre-versioning
    flat-layout dirs a migrating refresh supersedes).  Best effort,
    post-commit; see the module docstring for the concurrency
    contract."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        stale_v = name.startswith("v-") and name != f"v-{live_ver}"
        if stale_v or name in extra_stale:
            fs.delete(st.getPath(), True)
