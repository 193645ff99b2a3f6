"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,serve} --seed N --seconds S --trace {0,1}

Run from the repository root. One process runs one workload on a
``local[nproc]`` session from ``rgm.session.get_spark``, measuring whole
op cycles until ``--seconds`` have passed (at least one cycle), and checks
every result against the brute-force oracles in ``oracle.py``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace 1``
re-runs each query's inner public functions on the same batch and reports
the per-layer metrics, plus the tracing overhead against the last untraced
run of the same workload and seed. The last stdout line is a compact JSON
summary; the full record and the span file go to ``.perfbench-out/``.
Everything the run writes stays under that directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench-out")
RUN_LIMIT_S = 170  # the whole run, set-up included, must end within 180 s



def _metric_units(section: str) -> dict[str, str]:
    """Metric names and units, in order, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


# per-workload detail metrics: printed and kept in the record, not gated
DETAIL = {
    "ingest": {
        "build_rows_per_s": "1/s", "index_bytes_per_key": "bytes",
        "tile_rows_per_s": "1/s", "append_rows_per_s": "1/s",
        "contains": "s", "fresh_search": "s", "maintenance_s": "s",
    },
    "serve": {
        "search": "s", "count": "s",
        "bulk_search_regions_per_s": "1/s", "bulk_count_regions_per_s": "1/s",
    },
}


def _set_local_dirs(work: str) -> None:
    """Point every temp location (rgm's package zip, Python workers, the
    JVM) into the run's work dir before Spark or rgm is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("TMPDIR", "TEMP", "TMP", "SPARK_LOCAL_DIRS"):
        os.environ[var] = tmp
    import tempfile

    tempfile.tempdir = None


def percentiles(xs: list[float]) -> dict:
    """Median, plus the highest of p90/p99/p99.9 that has at least ten
    samples beyond it."""
    import statistics

    xs = sorted(xs)
    out = {"n": len(xs), "p50": statistics.median(xs)}
    for q in (0.999, 0.99, 0.9):
        if len(xs) * (1 - q) >= 10:
            out[f"p{q * 100:g}"] = xs[min(int(q * len(xs)), len(xs) - 1)]
            break
    return out


def summarize(bench, args) -> tuple[dict, dict]:
    """(full record, last-line summary)."""
    import statistics

    detail = {}
    for name, unit in DETAIL[args.workload].items():
        xs = bench.samples.get(name)
        if xs:
            label = f"{name}_p50_s" if unit == "s" and not name.endswith("_s") else name
            detail[label] = dict(percentiles(xs), unit=unit)
    e2e = bench.end_to_end()
    units = _metric_units("end_to_end")
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host_info(), "settings": bench.settings,
        "attempted": bench.attempted, "failed": bench.failed,
        "failed_op_share": bench.failed / max(bench.attempted, 1),
        "errors": bench.errors,
        "end_to_end": {k: {"value": e2e[k], "unit": u} for k, u in units.items()},
        "detail": detail,
        "ops": [
            {"name": r.name, "op_id": r.op_id, "seconds": r.seconds, "ok": r.ok,
             "jobs": r.counts.jobs, "stages": r.counts.stages, "tasks": r.counts.tasks}
            for r in bench.ops
        ],
        "cycles_s": bench.cycles,
        "setup_parts": bench.setup,
    }
    if args.trace:
        layers = {k: statistics.median(v) for k, v in bench.layers.items()}
        for k, v in bench.setup.items():
            layers[k] = v
        for name in sorted({r.name for r in bench.ops}):
            recs = [r for r in bench.ops if r.name == name]
            for what in ("jobs", "stages", "tasks"):
                layers[f"{name}.{what}_per_op"] = statistics.median(getattr(r.counts, what) for r in recs)
        record["per_layer"] = layers
        base = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["end_to_end"]["cycle_s"]["value"]
            if untraced and e2e["cycle_s"]:
                record["trace_overhead_share"] = e2e["cycle_s"] / untraced - 1.0
        metrics = {
            k: {"value": layers[k], "unit": u}
            for k, u in _metric_units("per_layer").items() if k in layers
        }
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items() if e2e.get(k) is not None}
    summary = {
        "correct": bench.failed == 0 and bench.attempted > 0,
        "attempted": bench.attempted, "failed": bench.failed, "metrics": metrics,
    }
    return record, summary


def host_info() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_gb": round(mem_kb / 1024 ** 2, 1)}


def print_table(record: dict) -> None:
    rows = [(k, v["value"], v["unit"], "") for k, v in record["end_to_end"].items()]
    rows.append(("failed_op_share", record["failed_op_share"], "ratio",
                 f"{record['failed']}/{record['attempted']} ops"))
    rows += [(k, v["p50"], v["unit"], f"median of n={v['n']}") for k, v in record["detail"].items()]
    layer_units = _metric_units("per_layer")
    for k, v in sorted(record.get("per_layer", {}).items()):
        rows.append((k, v, layer_units.get(k, ""), "per-layer"))
    if "trace_overhead_share" in record:
        rows.append(("trace_overhead_share", record["trace_overhead_share"], "ratio", "cycle_s vs untraced"))
    print(f"# perfbench {record['workload']} seed={record['seed']} trace={record['trace']} "
          f"host={record['host']} settings={record['settings']}")
    for name, value, unit, note in rows:
        v = "-" if value is None else f"{value:.6g}"
        print(f"{name:34s} {v:>14s} {unit:6s} {note}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full",
                    help="toy: the self-test's sf0.001-sized inputs")
    ap.add_argument("--tamper", action="store_true",
                    help="corrupt one search result (self-test of the checks)")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    from workloads import WORKLOADS, Bench

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {WORKLOADS}")
    if not os.path.isdir(os.path.join(ROOT, "rgm")):
        print(f"perfbench: no rgm package next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _set_local_dirs(work)
    sys.path.insert(0, ROOT)

    def _timeout(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work,
                  scale=args.scale, tamper=args.tamper)
    try:
        bench.run()
    finally:
        signal.alarm(0)
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)

    record, summary = summarize(bench, args)
    stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        bench.tracer.write_spans(stem + "-spans.jsonl")
    print_table(record)
    print(json.dumps(summary, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
