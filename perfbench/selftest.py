"""Toy-scale self-test of the benchmark (sf0.001-sized corpus, a few ops
per workload).

    python3 perfbench/selftest.py

Checks, for every workload, that the last stdout line parses and names
exactly the end-to-end metrics of BENCHMARK.json (``--trace 0``) or its
per-layer metrics (``--trace 1``) with their units; that the traced run
writes a span file; that a deliberately wrong search result is counted as a
failed op; and that the benchmark fails without printing a result when the
engine's sources are absent. Exits non-zero on the first failed check.
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
RUN = os.path.join("perfbench", "run.py")


def _run(cwd: str, *args: str) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, RUN, *args], cwd=cwd, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, timeout=300,
    )
    return p.returncode, p.stdout.strip().splitlines()


def _summary(lines: list[str]) -> dict:
    last = lines[-1]
    if len(last.encode()) >= 2000:
        raise AssertionError(f"summary line is {len(last.encode())} bytes")
    out = json.loads(last)
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"summary keys {sorted(out)}")
    return out


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)
    print(f"ok  {what}", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            code, lines = _run(ROOT, "--workload", w, "--seed", "7", "--seconds", "1",
                               "--trace", str(trace), "--scale", "toy")
            _expect(code == 0, f"{w} trace={trace} exits 0")
            s = _summary(lines)
            _expect(s["correct"] and s["failed"] == 0 and s["attempted"] >= 1,
                    f"{w} trace={trace} ops all correct ({s['attempted']} attempted)")
            got = {k: v["unit"] for k, v in s["metrics"].items()}
            _expect(got == want[trace], f"{w} trace={trace} reports exactly the BENCHMARK.json metrics")
            if trace == 0:
                _expect(all(v["value"] > 0 for v in s["metrics"].values()),
                        f"{w} end-to-end metrics are all non-zero")
                printed = "\n".join(lines[:-1])
                _expect(all(k in printed for k in want[0]), f"{w} table prints every metric")
            else:
                spans = os.path.join(ROOT, ".perfbench-out", f"{w}-seed7-trace1-spans.jsonl")
                with open(spans) as f:
                    first = json.loads(f.readline())
                _expect(set(first) == {"op_id", "name", "parent", "start", "end"},
                        f"{w} span file has name/start/end/parent/op id")

    code, lines = _run(ROOT, "--workload", "ingest", "--seed", "7", "--seconds", "1",
                       "--trace", "0", "--scale", "toy", "--tamper")
    s = _summary(lines)
    _expect(code == 0 and s["failed"] >= 1 and not s["correct"],
            f"a wrong search result counts as a failed op ({s['failed']} failed)")

    bare = tempfile.mkdtemp(prefix="perfbench-bare-", dir=os.path.join(ROOT, ".perfbench-out"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = _run(bare, "--workload", "serve", "--seed", "1", "--seconds", "1", "--trace", "0")
        _expect(code != 0 and not any(line.startswith("{") for line in lines),
                "without the engine sources the run fails and prints no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
