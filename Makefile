PY ?= python

.PHONY: test oracle mirror mirror-graph bench scaling plans dist golden fixtures clean gates

# the three composed release gates (privacy, ontology QA, publish) at sf0.01
gates:
	$(PY) jobs/run_privacy_gate.py --sf-dir /root/testdata/sf0.01 --master local[8]
	$(PY) jobs/run_ontology_audit.py --sf-dir /root/testdata/sf0.01 --master local[8] --fail-on-violations
	$(PY) jobs/run_kg_publish.py --sf 0.01 --master local[8] --fail-on-violations

test:
	$(PY) -m pytest tests/ -x -q

oracle:
	PYTHONPATH=. $(PY) tools/oracle_check.py --sf-dir /root/testdata/sf0.01

# full 301-entry registry mirror in three ~5-min slices (VERDICT r5 #7:
# chunking keeps the full mirror runnable without a 20-min monolith; last
# full-mirror wall recorded in BENCH/BASELINE.md)
mirror:
	PYTHONPATH=. $(PY) tools/oracle_check.py --sf-dir /root/testdata/sf0.01 --chunk 1/3
	PYTHONPATH=. $(PY) tools/oracle_check.py --sf-dir /root/testdata/sf0.01 --chunk 2/3
	PYTHONPATH=. $(PY) tools/oracle_check.py --sf-dir /root/testdata/sf0.01 --chunk 3/3

# DuckDB mirror of the registry entries whose INDEX.md row names
# operators/graphalgo.py (the graph-loop operators), read from INDEX.md
mirror-graph:
	PYTHONPATH=. $(PY) tools/oracle_check.py --only $$(awk -F'|' \
	  '$$5 ~ /operators\/graphalgo\.py/ {gsub(/ /, "", $$3); print $$3}' INDEX.md)

bench:
	$(PY) bench.py

scaling:
	PYTHONPATH=. $(PY) tools/scaling_bench.py --sf 0.1 --runs 3

plans:
	$(PY) tools/dump_plans.py

dist:
	mkdir -p dist
	rm -f dist/bran_spark.zip
	cd . && zip -qr dist/bran_spark.zip bran_spark -x '*__pycache__*'

golden:
	$(PY) tools/freeze_golden.py

fixtures:
	$(PY) -m bran_spark.fixtures.gen --sf 0.001
	$(PY) -m bran_spark.fixtures.gen --sf 0.01
	$(PY) -m bran_spark.fixtures.gen --sf 0.1

clean:
	rm -rf checkpoints dist .pytest_cache
	find . -name __pycache__ -type d -exec rm -rf {} +
