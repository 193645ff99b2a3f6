# One-command gate (r4 verdict #9): claim audits + the full test suite.
# Round snapshots must not ship with any of these red.
#   make check        audits + pytest
#   make audit        OPERATORS.md claim audits only (fast)
#   make oracle       local stand-in for the driver's DuckDB correctness gate
#   make bench-selftest  toy-scale self-test of the perfbench harness (~4 min)
.PHONY: check audit oracle bench-selftest
audit:
	python tools/selfcheck.py --audit
check: audit
	python -m pytest tests/ -q
oracle:
	python tools/checkoracle.py /root/testdata/sf0.01
bench-selftest:
	python3 perfbench/selftest.py
