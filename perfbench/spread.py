"""Repeat-and-spread mode: run one workload with several seeds and
summarise each metric.

    python3 perfbench/spread.py --workload log_pipeline --seeds 1-10 [--overhead]

Runs ``run.py`` once per seed, one process at a time, from the root of
the checkout, and prints one JSON object: per end-to-end metric the
median, quartiles (``statistics.quantiles(values, n=4)``), min, max and
the spread (quartile distance over the median) with a suggested bound
(three times the spread, between 0.05 and 0.25); the host (nproc,
loadavg at start and end, Spark version, driver memory, local-dir
filesystem).  ``--overhead`` also runs each seed traced and reports,
per end-to-end metric, the median of traced minus untraced values.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in text.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def summary(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    spread = (q3 - q1) / q2 if q2 else 0.0
    return {"median": q2, "q1": q1, "q3": q3, "min": min(values), "max": max(values),
            "spread": spread, "suggested_bound": round(min(0.25, max(0.05, 3 * spread)), 2),
            "values": values}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=None,
                   help="defaults to BENCHMARK.json run_seconds")
    p.add_argument("--overhead", action="store_true")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = args.seconds or spec["run_seconds"]
    load_start = os.getloadavg()
    values: dict[str, list[float]] = {}
    overhead: dict[str, list[float]] = {}
    host = {}
    bad = 0
    for seed in seeds(args.seeds):
        detail, result = run_once(args.workload, seed, seconds, 0)
        host = detail["host"]
        bad += not result["correct"]
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), file=sys.stderr)
        if args.overhead:
            tdetail, tresult = run_once(args.workload, seed, seconds, 1)
            bad += not tresult["correct"]
            for name, v in tdetail["traced_end_to_end"].items():
                overhead.setdefault(name, []).append(v - result["metrics"][name]["value"])
    out = {
        "workload": args.workload,
        "seconds": seconds,
        "incorrect_runs": bad,
        "host": {**host, "loadavg_start": [round(x, 2) for x in load_start],
                 "loadavg_end": [round(x, 2) for x in os.getloadavg()]},
        "metrics": {k: summary(v) for k, v in values.items()},
    }
    if overhead:
        out["tracing_overhead"] = {k: statistics.median(v) for k, v in overhead.items()}
    print(json.dumps(out, indent=1))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
