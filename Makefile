# Dev surface (counterpart of the reference's Makefile:1-11, whose only
# job was venv setup — this environment bakes the deps in, so the
# targets here are the engine's actual verification loops).

.PHONY: test
test:
	python -m pytest tests/ -q

# PYTHONPATH, not just the driver's sys.path: Python-UDF workers import
# the package too
.PHONY: parity
parity:
	PYTHONPATH=$(CURDIR) python scripts/check_parity.py

.PHONY: bench
bench:
	SPARK_GRAFT_BENCH_ENFORCE=1 python bench.py

# the benchmark's own check at toy size (perfbench/README.md)
.PHONY: smoke
smoke:
	python3 perfbench/smoke.py

.PHONY: bench-dev
bench-dev:
	SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py

# 10x scale validation (PERF.md "Round-6"): builds /tmp/sf1 once, then
# benches against it.
.PHONY: bench-sf1
bench-sf1:
	test -f /tmp/sf1/_SF1_COMPLETE || python scripts/make_sf1.py /tmp/sf1
	SPARK_GRAFT_SF_DIR=/tmp/sf1 python bench.py

.PHONY: clean
clean:
	find . -name __pycache__ -type d -exec rm -rf {} + 2>/dev/null; \
	rm -rf .pytest_cache spark-warehouse metastore_db derby.log
