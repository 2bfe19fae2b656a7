# CI-analog for this repo (the reference runs a 2-OS × 2-config GitHub
# Actions matrix, cae/.github/workflows/ci.yml:10-31; there is no runner
# here, so `make check` is the one-command local equivalent of the gate).
#
# Targets:
#   make check        pytest + oracle type audit + full strict oracle gate (sf0.01)
#   make test         pytest only (tests/, then the SparkSession-free perfbench/tests)
#   make oracle       full strict Spark-vs-DuckDB oracle run at sf0.01
#   make oracle-types fast DuckDB-only oracle output-type audit (no Spark)
#   make bench        headline benchmark (one JSON line, sf0.1 by default)

PY ?= python
SF_DIR ?= /root/testdata/sf0.01

.PHONY: check test oracle oracle-types bench

check: test oracle-types oracle

test:
	$(PY) -m pytest tests/ -x -q
	$(PY) -m pytest perfbench/tests -q

oracle-types:
	$(PY) tools/check_oracle.py --types-only $(SF_DIR)

oracle:
	$(PY) tools/check_oracle.py --bare $(SF_DIR)

bench:
	$(PY) bench.py
