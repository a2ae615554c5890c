"""Smoke check of the benchmark itself, at toy size.

    python3 perfbench/smoke.py [workload ...]

For each workload (default: all in BENCHMARK.json) it asserts that
  * an untraced run is correct and prints every end-to-end metric of
    BENCHMARK.json, with its unit, and nothing else;
  * a traced run prints every per-layer metric the same way;
  * a run with a planted fault (the day job loses a dead-letter row,
    exact dedup loses a group) fails its output check;
that no process a run started outlives it; that each workload's
generator gives byte-identical inputs for one seed and different
inputs for another; and that, in a directory holding only
BENCHMARK.json and the benchmark's files, ``run.py`` exits non-zero
without printing a result.
Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def leftovers(marker: bytes) -> list[int]:
    """Live processes whose environment names ``marker`` (a run's
    scratch directory, which every process it starts inherits)."""
    found = []
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) != os.getpid():
            try:
                with open(f"/proc/{d}/environ", "rb") as fh:
                    if marker in fh.read():
                        found.append(int(d))
            except OSError:
                pass
    return found


def run(cwd: str, workload: str, *extra: str) -> tuple[int, list[str], str]:
    # output goes to files, not pipes: a pipe a leftover process holds
    # open would delay the end of the run until that process had gone
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        proc = subprocess.Popen(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
             "--seconds", "1", "--scale", "0.05", *extra],
            cwd=cwd, stdout=out, stderr=err)
        rc = proc.wait(timeout=600)
        left = leftovers(os.path.join(cwd, ".perfbench", f"work-{proc.pid}").encode())
        assert not left, f"processes {left} outlived the run"
        out.seek(0)
        err.seek(0)
        return rc, out.read().strip().splitlines(), err.read()


def result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1, out
    return out


def check_metrics(out: dict, specs: list[dict]) -> None:
    assert set(out["metrics"]) == {m["name"] for m in specs}, (
        set(out["metrics"]) ^ {m["name"] for m in specs})
    for m in specs:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], (int, float)), (m["name"], got)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    sys.path.insert(0, HERE)
    import workloads

    scratch = os.path.join(ROOT, ".perfbench", "smoke")
    try:
        for w in names:
            digests = [
                workloads.WORKLOADS[w](os.path.join(scratch, str(i)), seed, 0.05, None).generate()
                for i, seed in enumerate((7, 7, 8))]
            assert digests[0] == digests[1] != digests[2], (w, digests)
            print(f"{w}: generator deterministic")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for w in names:
        rc, lines, err = run(ROOT, w, "--trace", "0")
        assert rc == 0, err[-3000:]
        out = result(lines)
        assert out["correct"] and out["failed"] == 0, (out, err[-3000:])
        check_metrics(out, spec["end_to_end"])
        for m in spec["end_to_end"]:
            assert out["metrics"][m["name"]]["value"] > 0, (w, m["name"], "is 0")
        print(f"{w}: untraced ok ({out['attempted']} ops)")

        rc, lines, err = run(ROOT, w, "--trace", "1")
        assert rc == 0, err[-3000:]
        out = result(lines)
        assert out["correct"], (out, err[-3000:])
        check_metrics(out, spec["per_layer"])
        print(f"{w}: traced ok")

        rc, lines, err = run(ROOT, w, "--trace", "0", "--fault")
        assert rc == 0, err[-3000:]
        out = result(lines)
        assert not out["correct"] and out["failed"] > 0, out
        print(f"{w}: planted fault caught ({out['failed']} of {out['attempted']} ops failed)")

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        for path in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        rc, lines, err = run(bare, names[0], "--trace", "0")
        assert rc != 0, "run.py succeeded without the program"
        assert not any(line.startswith('{"correct"') for line in lines), lines
        print(f"bare directory: exit {rc}, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("smoke ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
