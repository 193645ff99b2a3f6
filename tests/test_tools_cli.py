"""Command-line surfaces outside rgm/: bench.py's last stdout line and the
oracle gate's exit status. Spark-free."""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402

# every stage a full bench pass times, in pass order
STAGES = [
    "index_build", "region_index_build_50k", "index_build_hotcell_30pct",
    "count_hotcell_cap", "contains_2000_caps", "count_2000_caps",
    "region_contains_2000", "contains_2000_polygons", "images_synth",
    "images_fidelity", "images_features", "images_neardup", "contains_cap8",
    "contains_polygon", "knn", "knn_200", "tile_assign_s2", "tile_counts_s2",
    "dedup_minhash_lsh", "dedup_simhash", "ann_cosine_topk", "text_stats",
    "text_tokens_bpe",
]


def test_bench_summary_line_fits_output_tail():
    """A round record keeps only the last 2,000 characters of bench output
    and parses the final line as JSON; a line carrying per-rep tables or
    row counts overflowed it. Worst case here: 3 reps, all 23 stages, 9-digit rows."""
    assert set(bench.HEADLINE) <= set(STAGES)
    rng = random.Random(0)
    per_rep = [
        {s: round(rng.uniform(100.0, 999.999), 3) for s in STAGES}
        for _ in range(3)
    ]
    rows = {s: 123_456_789 + i for i, s in enumerate(STAGES)}
    line = bench.summary_line(
        per_rep, rows, 987_654_321, 50_000, "/data/testdata/sf0.1", 32
    )
    assert len(line.encode()) <= 1500, len(line.encode())
    out = json.loads(line)
    minima = {s: min(r[s] for r in per_rep) for s in STAGES}
    assert out["queries"] == minima
    assert out["value"] == round(sum(minima[s] for s in bench.HEADLINE), 3)
    assert out["reps"] == 3
    assert "rows" not in out and "queries_per_rep" not in out


def test_checkoracle_rejects_unknown_query(tmp_path):
    """A misspelt query name must fail the gate, not run zero queries and
    report 0/0 green."""
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "checkoracle.py"),
         str(tmp_path), "no_such_query"],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert "no_such_query" in out.stderr
