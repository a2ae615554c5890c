"""The three workloads: inputs, set-up, operations and output checks.

Each workload is a closed loop with one client: ``next_pass`` returns
one pass of operations, always in the same order, and the runner starts
each one when the previous returns, running whole passes.  Every call
into a package module runs inside a ``Tracer`` span named after that
module.  An operation returns the
number of items it processed; ``check`` compares its output with the
generator's planted truth (or DuckDB) and raises ``CheckFailed``.
"""

from __future__ import annotations

import contextlib
import datetime
import glob
import io
import os
import random
import time

import gen

N_FILES = 4  # --num-output-files for the day job and the catch-up


class CheckFailed(Exception):
    pass


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, want {want!r}")


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _canon(rows) -> list[tuple]:
    def norm(v):
        if isinstance(v, float):
            return round(v, 6)
        if isinstance(v, datetime.datetime) and v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return v

    return sorted((tuple(norm(v) for v in r) for r in rows), key=repr)


class Workload:
    name = ""
    kinds: tuple[str, ...] = ()  # the operation kinds of one pass

    def __init__(self, work: str, seed: int, scale: float, tracer):
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tr = tracer
        self.rng = random.Random(seed)
        self.layer = {}  # per-layer extras measured by the benchmark itself
        self.excluded_s = 0.0  # set-up time spent on output checks

    def plant_fault(self) -> None:
        """Break the program from outside, the way a regression would;
        the output checks must then fail (smoke check)."""
        raise NotImplementedError

    def warm(self, kind: str, arg=None) -> None:
        """One untimed operation during set-up; its output check is not
        charged to set-up time."""
        self.run_op(kind, arg, -1)
        t = time.perf_counter()
        self.check(kind, arg)
        self.excluded_s += time.perf_counter() - t

    def bump(self, key: str, val: float) -> None:
        self.layer[key] = self.layer.get(key, 0) + val

    def set_max(self, key: str, val: float) -> None:
        self.layer[key] = max(self.layer.get(key, val), val)

    def probe(self, kind: str, arg, op: int) -> None:
        """Traced runs only: extra measurements after a checked operation."""


# ------------------------------------------------------- log pipeline

DAYS_APART_PRESTO = """
WITH tmp_workspace AS (
    SELECT
       regexp_replace(requester, '/i-.*') AS requester,
       regexp_extract(key, 'logs/([^/]*)/.*', 1) AS log_name,
       date_parse(array_join(regexp_extract_all(key, '/(\\d+)', 1), '-'), '%Y-%m-%d') AS dt_written,
       date_trunc('day', request_time) AS dt_read,

       date_diff('day',
                 date_parse(array_join(regexp_extract_all(key, '/(\\d+)', 1), '-'), '%Y-%m-%d'),
                 date_trunc('day', request_time)
                ) AS days_apart,
       bytes_sent
    FROM "s3_access_logs"
    WHERE
        operation = 'REST.GET.OBJECT'
        AND http_status < 300
)
SELECT
    requester,
    log_name,
    count(*) AS access_count,
    CAST(sum(bytes_sent) AS BIGINT) AS total_bytes
FROM tmp_workspace WHERE
   days_apart > 400
GROUP BY 1, 2
ORDER BY access_count DESC
"""

DAYS_APART_DUCKDB = """
WITH tmp_workspace AS (
    SELECT
       regexp_replace(requester, '/i-.*', '') AS requester,
       regexp_extract(key, 'logs/([^/]*)/.*', 1) AS log_name,
       STRPTIME(ARRAY_TO_STRING(regexp_extract_all(key, '/(\\d+)', 1), '-'), '%Y-%m-%d') AS dt_written,
       DATE_TRUNC('day', request_time) AS dt_read,
       bytes_sent
    FROM s3_access_logs
    WHERE operation = 'REST.GET.OBJECT' AND http_status < 300
)
SELECT requester, log_name, COUNT(*) AS access_count,
       CAST(SUM(bytes_sent) AS BIGINT) AS total_bytes
FROM tmp_workspace
WHERE DATE_DIFF('day', dt_written, dt_read) > 400
GROUP BY 1, 2
"""

ROLLUP_SQL = """
SELECT operation, CAST(floor(http_status / 100) AS INTEGER) AS status_class,
       count(*) AS requests, CAST(sum(bytes_sent) AS BIGINT) AS total_bytes
FROM s3_access_logs
WHERE operation IS NOT NULL
GROUP BY 1, 2
ORDER BY 1, 2
"""

POINT_SQL = """
SELECT request_id, operation, http_status, bytes_sent, request_time
FROM s3_access_logs
WHERE dt = '{dt}'
  AND request_time >= TIMESTAMP '{dt} {h0:02d}:00:00'
  AND request_time < TIMESTAMP '{dt} {h1:02d}:00:00'
"""

TABLE = "s3_access_logs"


class LogPipeline(Workload):
    """The paper's two steps on one warehouse: day jobs through
    ``cli.run`` and a streaming catch-up over late objects that span
    several days, then the Days Apart analysis, a rollup and a point
    query as Presto SQL through ``run_presto_sql`` on the table the
    catalog registers over what the day jobs wrote."""

    name = "log_pipeline"
    kinds = ("day", "catchup", "days_apart", "rollup", "point")

    def generate(self) -> str:
        s = self.scale
        self.inp = gen.make_logs(
            os.path.join(self.work, "logs"), self.seed, n_days=2,
            objects_per_day=max(1, round(4 * s)), lines_per_object=max(200, round(5_000 * s)),
            late_objects=2, late_span_days=2)
        self.toy = gen.make_logs(os.path.join(self.work, "toy"), self.seed, 1, 2, 300, 1, 1)
        self.catchups = 0
        self.passes = 0
        self.points = []
        for _ in range(6):
            h0 = self.rng.randrange(0, 22)
            self.points.append((self.rng.choice(self.inp.days), h0, h0 + 2))
        return self.inp.digest

    def setup(self, spark, rep: int) -> None:
        """Every set-up registers the Presto shims and the table (with
        partition repair).  The first warms up with one whole pass on the
        real input, registering the table after the first day job has
        written its location; the later ones run a day job on a toy
        input."""
        from aws_logs_to_parquet_converter_spark.functions import presto_compat
        from aws_logs_to_parquet_converter_spark.sources import catalog

        self.spark = spark
        with self.tr.span("functions.presto_compat.register", -1):
            presto_compat.register_presto_compat(spark)
        if rep == 0:
            self.dest_root = os.path.join(self.work, "wh")
            self.dest = os.path.join(self.dest_root, "prefix", gen.SOURCE_BUCKET)
            self.duck = _duck()
            self.late_layers: dict[str, int] = {}  # catch-ups since the day job, per dt
            self.days_done: set[str] = set()
            first, *rest = self.next_pass()
            self.warm(*first)
            glob_path = os.path.join(self.dest, "*", "*.parquet").replace("'", "''")
            self.duck.execute(f"CREATE VIEW {TABLE} AS SELECT * FROM "
                              f"read_parquet('{glob_path}', hive_partitioning=1, "
                              "hive_types={'dt': VARCHAR})")
        with self.tr.span("sources.catalog", -1):
            catalog.create_access_log_table(spark, TABLE, self.dest)
        self.layer["sources.catalog.partitions"] = spark.sql(f"SHOW PARTITIONS {TABLE}").count()
        if rep == 0:
            for kind, arg in rest:
                self.warm(kind, arg)
        else:
            self._day(self.toy, os.path.join(self.work, f"toy_wh{rep}"), self.toy.days[0], -1)

    def plant_fault(self) -> None:
        from aws_logs_to_parquet_converter_spark import cli

        parse_lines = cli.parse_lines  # drop one dead-letter row per day job
        cli.parse_lines = lambda df: parse_lines(df).where(
            "error_line IS NULL OR error_line != 'a b'")

    def _day(self, inp, root: str, day: str, op: int) -> int:
        from aws_logs_to_parquet_converter_spark import cli
        from aws_logs_to_parquet_converter_spark.sources import listing

        args = cli.build_parser().parse_args([
            "--source-access-log-bucket", inp.raw_root, "--source-bucket", gen.SOURCE_BUCKET,
            "--destination-log-bucket", root, "--destination-log-prefix", "prefix",
            "--num-output-files", str(N_FILES), "--min-date", day, "--max-date", gen.next_day(day),
        ])
        with self.tr.span("cli", op):
            with self.tr.span("sources.listing", op):
                paths = listing.list_day_paths(inp.raw_root, gen.SOURCE_BUCKET, day)
            with self.tr.span("operators.compact", op), contextlib.redirect_stdout(io.StringIO()):
                rc = cli.run(args)
        if rc != 0:
            raise CheckFailed(f"cli.run exit code {rc} for {day}")
        self._objects = len(paths)
        self._paths = paths
        return inp.lines_on_time[day]

    def _catchup(self, op: int) -> int:
        """The late objects through the streaming path, then a partition
        repair so the table sees the new files."""
        from aws_logs_to_parquet_converter_spark.sources import catalog
        from aws_logs_to_parquet_converter_spark.streaming import ingest

        self.catchups += 1
        with self.tr.span("streaming.ingest", op):
            q = ingest.stream_compact(
                ingest.stream_parse(self.spark, self.inp.late_dir, max_files_per_trigger=1),
                self.dest, os.path.join(self.work, f"ck{self.catchups}"), num_files=N_FILES)
            q.awaitTermination()
        with self.tr.span("sources.catalog.repair", op):
            catalog.repair_table(self.spark, TABLE)
        self._progress = q.recentProgress
        return self.inp.lines_late

    @staticmethod
    def _point_sql(p) -> str:
        return POINT_SQL.format(dt=p[0], h0=p[1], h1=p[2])

    def _query_sql(self, kind: str, arg, presto: bool) -> str:
        if kind == "point":
            return self._point_sql(arg)
        if kind == "rollup":
            return ROLLUP_SQL
        return DAYS_APART_PRESTO if presto else DAYS_APART_DUCKDB

    def _query(self, kind: str, arg, op: int) -> int:
        from aws_logs_to_parquet_converter_spark.functions import presto_compat

        sql = self._query_sql(kind, arg, presto=True)
        with self.tr.span(f"query.{kind}", op):
            with self.tr.span("functions.presto_compat.translate", op):
                presto_compat.translate_presto_sql(sql)
            with self.tr.span("functions.presto_compat.plan", op):
                df = presto_compat.run_presto_sql(self.spark, sql)
            self._rows = df.collect()
        return 0

    def next_pass(self) -> list:
        """Every day job, one catch-up, then the three queries (the point
        query cycles through the seeded (dt, window) list): each pass
        rewrites the same partitions and reads them back."""
        self.passes += 1
        return ([("day", d) for d in self.inp.days] + [("catchup", None)]
                + [("days_apart", None), ("rollup", None),
                   ("point", self.points[self.passes % len(self.points)])])

    def run_op(self, kind: str, arg, op: int) -> int:
        if kind == "day":
            return self._day(self.inp, self.dest_root, arg, op)
        if kind == "catchup":
            return self._catchup(op)
        return self._query(kind, arg, op)

    # -- checks --------------------------------------------------------
    def _partition(self, dt: str):
        files = glob.glob(os.path.join(self.dest, f"dt={dt}", "*.parquet"))
        if not files:
            return 0, 0, 0, None
        rows, dead, nbytes = self.duck.execute(
            "SELECT count(*), count(error_line), sum(bytes_sent) FROM read_parquet(?)",
            [files]).fetchone()
        return len(files), rows, dead, nbytes

    def _want(self, dt: str) -> gen.DayTotals:
        """On-time rows (delivery day) plus the late rows of every
        catch-up since that day's job last overwrote the partition."""
        want = gen.DayTotals()
        if dt in self.days_done:
            want.add(self.inp.on_time[dt])
        late = self.inp.late.get(dt, gen.DayTotals())
        n = self.late_layers.get(dt, 0)
        want.add(gen.DayTotals(late.rows * n, late.dead_letter * n, late.bytes_sent * n))
        return want

    def _check_query(self, kind: str, arg) -> None:
        """The rows equal DuckDB's answer over the same Parquet files."""
        want = _canon(self.duck.execute(self._query_sql(kind, arg, presto=False)).fetchall())
        got = _canon(self._rows)
        if got != want:
            diff = next(((a, b) for a, b in zip(got, want) if a != b), None)
            raise CheckFailed(f"{kind}{arg or ''}: {len(got)} rows differ from DuckDB's "
                              f"{len(want)}, first difference {diff}")
        if kind == "days_apart" and not got:
            raise CheckFailed("days_apart selected nothing")

    def check(self, kind: str, arg) -> None:
        if kind not in ("day", "catchup"):
            return self._check_query(kind, arg)
        if kind == "day":
            self.late_layers[arg] = 0
            self.days_done.add(arg)
            dts = [arg]
        else:
            for dt in self.inp.late:
                self.late_layers[dt] = self.late_layers.get(dt, 0) + 1
            dts = list(self.inp.late)
        for dt in dts:
            n_files, rows, dead, nbytes = self._partition(dt)
            want = self._want(dt)
            _expect(f"{dt} rows", rows, want.rows)
            _expect(f"{dt} dead-letter rows", dead, want.dead_letter)
            _expect(f"{dt} sum(bytes_sent)", nbytes or 0, want.bytes_sent)
            if kind == "catchup":
                self.set_max("operators.compact.files_per_dt.max", n_files)

    # -- traced-only probes --------------------------------------------
    def probe(self, kind: str, arg, op: int) -> None:
        """Prefix differencing for the day job: read -> noop sink, then
        read + parse -> noop; compact's self time is the day job minus
        the parse prefix."""
        if kind == "day":
            from pyspark.sql import functions as F

            from aws_logs_to_parquet_converter_spark.sources import parse

            _, rows, dead, _ = self._partition(arg)
            self.bump("sources.listing.objects", self._objects)
            self.bump("rows_parsed", rows - dead)
            self.bump("dead_letter_rows", dead)
            paths = self._paths
            with self.tr.span("probe.read", op):
                parse.read_raw_logs(self.spark, paths).write.format("noop").mode("overwrite").save()
            with self.tr.span("probe.parse", op):
                parsed = parse.parse_lines(parse.read_raw_logs(self.spark, paths))
                parsed.withColumn("dt", F.input_file_name()).write.format("noop").mode(
                    "overwrite").save()
        elif kind == "catchup":
            for p in self._progress:
                self.bump("streaming.ingest.batches", 1)
                self.layer.setdefault("_batch_s", []).append(
                    p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0)
                self.layer.setdefault("_rows_per_s", []).append(
                    p.get("processedRowsPerSecond", 0.0))
        else:
            self.bump(f"query.{kind}.rows_out", len(self._rows))

    def layout(self) -> dict:
        files = _parquet_files(self.dest)
        stored = sum(os.path.getsize(f) for f in files)
        raw = sum(self.inp.raw_bytes_on_time.values()) + self.inp.raw_bytes_late
        return {"stored_bytes_per_input_byte": stored / raw}



# -------------------------------------------------------------- LLM dedup


class LlmDedup(Workload):
    """The LLM-pipeline operators behind the headline queries, with
    their parameters, on a corpus with planted duplicates."""

    name = "llm_dedup"
    kinds = ("exact", "minhash", "semantic", "bm25")
    MIN_RECALL = 0.95

    def generate(self) -> str:
        s = self.scale
        self.inp = gen.make_corpus(os.path.join(self.work, "corpus"), self.seed,
                                   n_base_docs=max(300, round(1000 * s)),
                                   n_base_vecs=max(300, round(500 * s)))
        self.first = {}
        return self.inp.digest

    def _load(self, inp) -> None:
        self.docs = self.spark.read.parquet(inp.docs_path)
        self.emb = self.spark.read.parquet(inp.emb_path)
        self.qdf = self.spark.createDataFrame(inp.bm25_queries, ["query_id", "query_text"])

    def setup(self, spark, rep: int) -> None:
        """Every set-up loads the corpus and finds its exact duplicates;
        the first also runs every other operator once."""
        self.spark = spark
        self._load(self.inp)
        for kind in self.kinds if rep == 0 else ("exact",):
            self.warm(kind)

    def plant_fault(self) -> None:
        from aws_logs_to_parquet_converter_spark.operators import dedup

        exact = dedup.exact_duplicates  # lose one duplicate group
        dedup.exact_duplicates = lambda df, i, t: exact(df, i, t).orderBy("canonical_id").offset(1)

    def next_pass(self) -> list:
        return [(k, None) for k in self.kinds]

    def run_op(self, kind: str, arg, op: int) -> int:
        from aws_logs_to_parquet_converter_spark.operators import dedup, similarity, textstats

        sc = self.spark.sparkContext
        handles = []
        layer = {"exact": "operators.dedup.exact", "minhash": "operators.dedup.minhash",
                 "semantic": "operators.similarity.semantic_dedup",
                 "bm25": "operators.textstats.bm25"}[kind]
        with self.tr.span(layer, op):
            if kind == "exact":
                rows = dedup.exact_duplicates(self.docs, "doc_id", "text").collect()
            elif kind == "minhash":
                rows = dedup.minhash_near_duplicates(
                    self.docs, "doc_id", "text", num_hashes=64, bands=16, shingle_n=5,
                    threshold=0.4, handles=handles).select("id_a", "id_b").collect()
            elif kind == "semantic":
                rows = similarity.semantic_dedup(
                    self.emb, id_col="vec_id", vec_col="embedding", threshold=0.4,
                    n_cells="auto", target_cell_size=1000, dim=64).select("vec_id").collect()
            else:
                rows = textstats.bm25_topk(self.docs, self.qdf, "doc_id", "text", k=5).collect()
        self.set_max(f"spark.cached_rdds_after_op.{layer}", len(sc._jsc.getPersistentRDDs()))
        for h in handles:
            h.unpersist()
        self.spark.catalog.clearCache()
        self._rows = rows
        return self.inp.n_vecs if kind == "semantic" else self.inp.n_docs

    def check(self, kind: str, arg) -> None:
        rows = self._rows
        if kind == "exact":
            got = {tuple(r.member_ids) for r in rows}
            _expect("exact-duplicate groups", got, self.inp.exact_groups)
            return
        if kind == "minhash":
            pairs = sorted((r.id_a, r.id_b) for r in rows)
            found = len(self.inp.near_pairs & set(pairs))
            recall = found / max(1, len(self.inp.near_pairs))
            if recall < self.MIN_RECALL:
                raise CheckFailed(f"minhash near-dup recall {recall:.3f} < {self.MIN_RECALL}")
            self.layer["operators.dedup.minhash.pairs_out"] = len(pairs)
            self._same_as_first(kind, pairs)
        elif kind == "semantic":
            kept = {r.vec_id for r in rows}
            dropped = self.inp.vec_copies - kept
            recall = len(dropped) / max(1, len(self.inp.vec_copies))
            if recall < self.MIN_RECALL:
                raise CheckFailed(f"semantic dedup copy recall {recall:.3f} < {self.MIN_RECALL}")
            self._same_as_first(kind, sorted(kept))
        else:
            for qid, want in self.inp.bm25_scores.items():
                got = sorted(((r.score, r.doc_id) for r in rows if r.query_id == qid),
                             reverse=True)
                best = sorted(want.values(), reverse=True)[:5]
                _expect(f"bm25 {qid} hits", len(got), len(best))
                for (score, doc), ref in zip(got, best):
                    # ties may rank either document: compare scores
                    if abs(score - ref) > 1e-9 * max(1.0, ref) or \
                            abs(want.get(doc, -1.0) - score) > 1e-9 * max(1.0, score):
                        raise CheckFailed(f"bm25 {qid}: doc {doc} score {score} "
                                          f"vs reference {want.get(doc)}")
            self._same_as_first(kind, sorted((r.query_id, r.doc_id, r.rnk) for r in rows))

    def _same_as_first(self, kind: str, value) -> None:
        if kind not in self.first:
            self.first[kind] = value
        elif self.first[kind] != value:
            raise CheckFailed(f"{kind} output differs from its first pass")


WORKLOADS = {w.name: w for w in (LogPipeline, LlmDedup)}
