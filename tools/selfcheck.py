"""Claim audit for OPERATORS.md: every "DuckDB ✅" claim names a
registered query with an oracle, and every number quoted next to a
`BENCH/*.md` citation appears in the cited file. The oracle gate itself is
tools/checkoracle.py.

Usage: python tools/selfcheck.py [--audit]
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# every "DuckDB ✅ (`key`...)" claim in OPERATORS.md names a driver query
_CLAIM_RE = re.compile(r"DuckDB ✅ \(`([a-z0-9_]+)`")


def audit_claims() -> list[str]:
    """OPERATORS.md is the judge-facing contract: any 'DuckDB ✅' claim
    that names a query key in backticks must point at a key registered in
    BOTH bq.QUERIES and bq.ORACLES (r3 shipped a ✅ for a
    `dedup_image_phash` query that did not exist — this check makes that
    class of overclaim impossible to commit silently; also run by
    tests/test_training_ops.py). Returns the bad keys."""
    from rgm import benchqueries as bq

    with open(os.path.join(ROOT, "OPERATORS.md")) as f:
        text = f.read()
    claimed = _CLAIM_RE.findall(text)
    return sorted(
        k for k in claimed if k not in bq.QUERIES or k not in bq.ORACLES
    )


_BENCH_FILE_RE = re.compile(r"`?(BENCH/[A-Za-z0-9_./-]+\.md)`?")
_NUM_RE = re.compile(r"(?<![\d.])([01]\.\d{2,3})(?![\d])")


def audit_numeric_claims() -> list[str]:
    """Numbers quoted against BENCH files must exist in those files (the
    r4 verdict found OPERATORS.md quoting an interim 0.826 composite that
    later reps had eroded to 0.755 in the cited report). For every
    blank-line-separated paragraph of OPERATORS.md that cites one or more
    `BENCH/*.md` files, every efficiency-like decimal (0.xx / 0.xxx /
    1.xx) in the paragraph must appear as a substring of at least one
    cited file. Returns 'number (files...)' offenders."""
    with open(os.path.join(ROOT, "OPERATORS.md")) as f:
        text = f.read()
    bad = []
    for para in text.split("\n\n"):
        files = sorted(set(_BENCH_FILE_RE.findall(para)))
        if not files:
            continue
        contents = []
        for fn in files:
            p = os.path.join(ROOT, fn)
            if os.path.exists(p):
                with open(p) as fh:
                    contents.append(fh.read())
            else:
                bad.append(f"cited file missing: {fn}")
        for num in _NUM_RE.findall(para):
            if not any(num in c for c in contents):
                bad.append(f"{num} not in {files}")
    return bad


def main() -> int:
    bad = audit_claims()
    if bad:
        print(f"FAIL  OPERATORS.md claims oracles that do not exist: {bad}")
        return 1
    print("ok    OPERATORS.md oracle claims all resolve to registered queries")
    badnum = audit_numeric_claims()
    if badnum:
        print(f"FAIL  OPERATORS.md quotes numbers absent from the cited BENCH files: {badnum}")
        return 1
    print("ok    OPERATORS.md BENCH-cited numbers all present in the cited files")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
