"""Benchmark entry point: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload log_pipeline --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout of the repository.  Generates the
workload's inputs from ``--seed`` (not timed), then sets up five times
in one Spark session: the first set-up (``setup_cold_s``) runs from
process start through the session, the workload's registrations and a
warm-up of every operation on the real input; the other four repeat the
registrations and one cheap operation (``setup_s`` is the median of
the five).  Then it runs operations one at a time for ``--seconds``
(whole passes of the workload's mix) and checks each output; check
time is never counted.  The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the ``end_to_end`` metrics of BENCHMARK.json with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``.  The line
before it (``detail``) carries the sample counts, the tail percentile
used, the per-kind medians and the host.  Scratch files live in
``.perfbench/`` under the checkout and are removed on exit, except the
span dump a traced run writes there.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 5
TAIL_PERCENTILES = (99, 95, 90, 75, 50)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the smoke check runs at toy size)")
    p.add_argument("--fault", action="store_true",
                   help="plant a fault the output checks must catch (smoke check only)")
    return p.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def percentile(values: list[float], p: float) -> float:
    import numpy as np

    return float(np.percentile(values, p))


def tail(values: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it
    (p50 when there are fewer than twenty samples)."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100 >= 10:
            return percentile(values, p), p
    return percentile(values, 50), 50


def host_info(local_dir: str) -> dict:
    import pyspark

    fs = "?"
    try:
        best = ""
        with open("/proc/mounts") as fh:
            for line in fh:
                dev, mnt, kind = line.split()[:3]
                if local_dir.startswith(mnt) and len(mnt) > len(best):
                    best, fs = mnt, kind
    except OSError:
        pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": pyspark.__version__,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "local_dir_fs": fs,
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
    }


def configure_env(work: str) -> None:
    """Environment the package reads when it is imported: cores, driver
    heap below host RAM, Spark and Python scratch inside the checkout."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the launcher's too) keeps temp files and perf counters out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["TZ"] = "UTC"  # collected timestamps compare with DuckDB's
    time.tzset()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, start time) for every live process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z":
            table[int(d)] = (int(fields[1]), fields[19])
    return table


def _descendants() -> dict[int, str]:
    """pid -> start time of every process below this one."""
    table = _proc_table()
    found, todo = {}, [os.getpid()]
    while todo:
        parent = todo.pop()
        for pid, (ppid, start) in table.items():
            if ppid == parent and pid not in found:
                found[pid] = start
                todo.append(pid)
    return found


def stop_processes(timeout: float = 30.0) -> None:
    """End the Spark JVM and everything it started (the Python worker
    daemon and its workers), and wait until each has gone.  Closing the
    JVM's stdin is PySpark's own shutdown signal; whatever outlives the
    timeout is killed."""
    from pyspark import SparkContext

    procs = _descendants()
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        with contextlib.suppress(OSError):
            jvm.stdin.close()
        try:
            jvm.wait(timeout)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + timeout
    signals = [signal.SIGTERM, signal.SIGKILL]
    while True:
        table = _proc_table()
        alive = [p for p, start in procs.items() if table.get(p, (0, None))[1] == start]
        if not alive:
            return
        if time.monotonic() > deadline:
            if not signals:
                raise RuntimeError(f"processes {alive} did not end")
            sig = signals.pop(0)
            for p in alive:
                with contextlib.suppress(OSError):
                    os.kill(p, sig)
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def start_session(wl, tr, work: str, traced: bool):
    from aws_logs_to_parquet_converter_spark.session import get_spark

    import spans as tracing

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if traced:
        conf.update(tracing.event_log_conf(os.path.join(work, "events")))
    with tr.span("session", -1):
        spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    tr.sc = spark.sparkContext
    return spark


def main(argv=None) -> int:
    args = parse_args(argv)
    # a stop request still leaves through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, HERE]
    scratch = os.path.join(ROOT, ".perfbench")
    work = os.path.join(scratch, f"work-{os.getpid()}")
    configure_env(work)  # before the package import
    try:
        spec = load_spec()
        import aws_logs_to_parquet_converter_spark as pkg

        if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
            raise ImportError(f"package imported from {pkg.__file__}, not this checkout")
    except (OSError, ImportError) as e:
        print(f"perfbench: not a checkout of the repository ({e})", file=sys.stderr)
        return 2
    import spans as tracing

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    for d in ("events", "local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    traced = bool(args.trace)
    tr = tracing.Tracer(traced)
    wl = workloads.WORKLOADS[args.workload](work, args.seed, args.scale, tr)
    spark = None
    try:
        t0 = time.perf_counter()
        digest = wl.generate()
        gen_s = time.perf_counter() - t0
        host = host_info(work)
        setup_s = []
        for rep in range(SETUPS):
            t0 = T_START + gen_s if rep == 0 else time.perf_counter()
            wl.excluded_s = 0.0
            spark = start_session(wl, tr, work, traced)
            with tr.span("setup", -1):
                wl.setup(spark, rep)
            setup_s.append(time.perf_counter() - t0 - wl.excluded_s)
        if args.fault:
            wl.plant_fault()

        samples: dict[str, list[float]] = {k: [] for k in wl.kinds}
        items: dict[str, int] = {}
        attempted = failed = 0
        deadline = time.perf_counter() + args.seconds
        op = 0
        while not attempted or time.perf_counter() < deadline:
            for kind, arg in wl.next_pass():  # whole passes keep the mix fixed
                attempted += 1
                op += 1
                try:
                    with tr.span(f"op.{kind}", op):
                        t = time.perf_counter()
                        n = wl.run_op(kind, arg, op)
                        dt = time.perf_counter() - t
                    wl.check(kind, arg)
                except Exception:  # a failed operation counts, the loop goes on
                    failed += 1
                    print(f"perfbench: op {op} {kind} failed:\n{traceback.format_exc()}",
                          file=sys.stderr)
                    continue
                samples[kind].append(dt)
                items[kind] = items.get(kind, 0) + n
                if traced:
                    wl.probe(kind, arg, op)
        layout = wl.layout() if hasattr(wl, "layout") else {}
        tr.sc = None
        spark.stop()
        spark = None
        host["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]

        e2e, detail = end_to_end(wl, samples, items, setup_s, attempted, failed, layout)
        detail.update(host=host, generate_s=round(gen_s, 3), input_digest=digest,
                      setup_samples=[round(s, 3) for s in setup_s])
        names = [m["name"] for m in spec["end_to_end"]]
        if traced:
            tracing.spark_counts(os.path.join(work, "events"), tr)
            metrics = per_layer(wl, tr, layout)
            names = [m["name"] for m in spec["per_layer"]]
            detail["traced_end_to_end"] = e2e
            dump = os.path.join(scratch, f"trace-{wl.name}-{args.seed}.json")
            tr.dump(dump)
            detail["spans"] = os.path.relpath(dump, ROOT)
        else:
            metrics = e2e
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        out = {n: {"value": metrics.get(n, 0), "unit": units[n]} for n in names}
        correct = failed == 0
        print(json.dumps({"detail": detail}, default=str))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": out}))
        return 0
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            stop_processes()
            shutil.rmtree(work, ignore_errors=True)


def end_to_end(wl, samples, items, setup_s, attempted, failed, layout):
    all_ops = [x for k in samples for x in samples[k]] or [0.0]
    tail_v, tail_p = tail(all_ops)
    p50 = {k: statistics.median(v) for k, v in samples.items() if v}
    if wl.name == "llm_dedup":
        # the whole operator sequence per pass, from each operator's median
        items_per_s = wl.inp.n_docs / sum(p50.values()) if p50 else 0.0
    else:
        # lines of one pass over the busy time of one pass, each kind's
        # share taken at its median (a single slow operation moves it little)
        passes = max(1, len(samples["catchup"]))
        busy = sum(statistics.median(v) * len(v) / passes for v in samples.values() if v)
        items_per_s = sum(items.values()) / passes / busy if busy else 0.0
    m = {
        "setup_s": statistics.median(setup_s),
        "setup_cold_s": setup_s[0],
        "items_per_s": items_per_s,
    }
    named = {f"{wl.name}.{k}_s.p50": round(v, 4) for k, v in p50.items()}
    named.update({f"{wl.name}.{k}_s.n": len(v) for k, v in samples.items() if v})
    named.update({f"{wl.name}.{k}": v for k, v in layout.items()})
    detail = {
        "workload": wl.name,
        "samples": len(all_ops),
        "op_s.p50": round(statistics.median(all_ops), 4),
        "op_s.tail": {"value": round(tail_v, 4), "percentile": tail_p, "samples": len(all_ops)},
        "failed_frac": failed / max(1, attempted),
        "named": named,
    }
    return m, detail


def per_layer(wl, tr, layout: dict) -> dict[str, float]:
    import spans as tracing

    by_name: dict[str, list] = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    def timed(name):  # spans of measured operations (not set-up)
        return [s for s in by_name.get(name, []) if s.op >= 0]

    def mean_wall(name, spans=None):
        spans = timed(name) if spans is None else spans
        return statistics.mean(s.wall for s in spans) if spans else 0.0

    def per_op(name, key):
        spans = timed(name)
        return tracing.totals(spans)[key] / len(spans) if spans else 0.0

    def busy_frac(name):
        spans = timed(name)
        wall = sum(s.wall for s in spans)
        return tracing.totals(spans)["busy_s"] / (wall * cores) if wall else 0.0

    m: dict[str, float] = {}
    m["session.get_spark_s"] = by_name["session"][0].wall  # the cold start
    reg = by_name.get("functions.presto_compat.register", [])
    m["functions.presto_compat.register_s"] = reg[0].wall if reg else 0  # on a cold session
    m["cli.run_s"] = mean_wall("cli")
    m["sources.listing.list_day_paths_s"] = mean_wall("sources.listing")
    days = len(timed("cli"))
    if days:
        m["sources.listing.objects"] = wl.layer.get("sources.listing.objects", 0) / days
        read = timed("probe.read")
        parse = timed("probe.parse")
        m["sources.parse.read_s"] = mean_wall("probe.read", read)
        m["sources.parse.parse_s"] = mean_wall("probe.parse", parse) - m["sources.parse.read_s"]
        comp = timed("operators.compact")
        m["operators.compact.self_s"] = mean_wall("operators.compact", comp) - mean_wall(
            "probe.parse", parse)
        t = tracing.totals(comp)
        m["sources.parse.lines_in"] = per_op("probe.read", "input_records")
        m["sources.parse.rows_parsed"] = wl.layer.get("rows_parsed", 0) / days
        m["sources.parse.dead_letter_rows"] = wl.layer.get("dead_letter_rows", 0) / days
        m["sources.parse.parsed_frac"] = (
            m["sources.parse.rows_parsed"] / m["sources.parse.lines_in"]
            if m["sources.parse.lines_in"] else 0.0)
        for key in ("files_written", "output_bytes", "shuffle_write_bytes", "spill_bytes",
                    "tasks", "task_wait_s"):
            m[f"operators.compact.{key.replace('output_bytes', 'bytes_written')}"] = (
                t[key] / days)
        m["operators.compact.rows_per_file.mean"] = (
            t["output_records"] / t["files_written"] if t["files_written"] else 0.0)
        m["operators.compact.busy_frac"] = busy_frac("operators.compact")
    m["operators.compact.files_per_dt.max"] = wl.layer.get("operators.compact.files_per_dt.max", 0)
    m["operators.compact.stored_bytes_per_input_byte"] = layout.get(
        "stored_bytes_per_input_byte", 0.0)
    catch = timed("streaming.ingest")
    if catch:
        m["streaming.ingest.batches"] = wl.layer.get("streaming.ingest.batches", 0) / len(catch)
        m["streaming.ingest.batch_s.p50"] = statistics.median(wl.layer.get("_batch_s") or [0])
        m["streaming.ingest.input_rows_per_s"] = statistics.median(
            wl.layer.get("_rows_per_s") or [0])
        m["streaming.ingest.files_written"] = per_op("streaming.ingest", "files_written")
        m["streaming.ingest.busy_frac"] = busy_frac("streaming.ingest")
    cat = by_name.get("sources.catalog", [])
    m["sources.catalog.create_table_s"] = statistics.median(s.wall for s in cat) if cat else 0
    m["sources.catalog.partitions"] = wl.layer.get("sources.catalog.partitions", 0)
    m["functions.presto_compat.translate_s"] = mean_wall("functions.presto_compat.translate")
    m["functions.presto_compat.plan_s"] = mean_wall("functions.presto_compat.plan")
    for q in ("days_apart", "rollup", "point"):
        name = f"query.{q}"
        spans = timed(name)
        t = tracing.totals(spans)
        n = len(spans) or 1
        rows_out = wl.layer.get(f"{name}.rows_out", 0)
        m[f"{name}.files_read"] = t["files_read"] / n
        m[f"{name}.bytes_read"] = t["input_bytes"] / n
        m[f"{name}.records_read_per_row_out"] = t["input_records"] / rows_out if rows_out else 0.0
        m[f"{name}.tasks"] = t["tasks"] / n
        m[f"{name}.shuffle_write_bytes"] = t["shuffle_write_bytes"] / n
        m[f"{name}.busy_frac"] = busy_frac(name)
        m[f"{name}.task_wait_s"] = t["task_wait_s"] / n
    m["operators.dedup.exact_s"] = mean_wall("operators.dedup.exact")
    mh = timed("operators.dedup.minhash")
    pairs = wl.layer.get("operators.dedup.minhash.pairs_out", 0)
    m["operators.dedup.minhash.shuffle_bytes"] = per_op("operators.dedup.minhash",
                                                        "shuffle_write_bytes")
    m["operators.dedup.minhash.shuffle_records_per_pair"] = (
        per_op("operators.dedup.minhash", "shuffle_write_records") / pairs if pairs and mh
        else 0.0)
    m["operators.dedup.minhash.pairs_out"] = pairs
    m["operators.dedup.minhash.busy_frac"] = busy_frac("operators.dedup.minhash")
    sem = "operators.similarity.semantic_dedup"
    m[f"{sem}.jobs"] = per_op(sem, "jobs")
    m[f"{sem}.shuffle_bytes"] = per_op(sem, "shuffle_write_bytes")
    m[f"{sem}.busy_frac"] = busy_frac(sem)
    m["operators.textstats.bm25.jobs"] = per_op("operators.textstats.bm25", "jobs")
    m["operators.textstats.bm25.shuffle_bytes"] = per_op("operators.textstats.bm25",
                                                         "shuffle_write_bytes")
    for layer in ("operators.dedup.exact", "operators.dedup.minhash", sem,
                  "operators.textstats.bm25"):
        key = f"spark.cached_rdds_after_op.{layer}"
        m[key] = wl.layer.get(key, 0)
    return m


if __name__ == "__main__":
    sys.exit(main())
