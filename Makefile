.PHONY: dist test tier1 check bench benchtest ab clean

dist:
	mkdir -p dist
	rm -f dist/engine.zip
	cd . && zip -qr dist/engine.zip scalemine_spark -x '*__pycache__*'
	@echo "dist/engine.zip ready: spark-submit --py-files dist/engine.zip cli_main.py <job> ..."

test:
	python -m pytest tests/ -x -q

# the tier-1 gate exactly as ROADMAP.md states it (env, timeout and flags)
tier1:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

check:
	python tools/check_oracles.py

bench:
	python bench.py

# the benchmark's own tests (tracing ledger, inputs, TracedCheckpointManager)
benchtest:
	python3 -m pytest perfbench/test_tracing.py perfbench/test_inputs.py

# interleaved, order-swapped benchmark pairs: REF's committed files
# against the working tree (tools/ab.py; OUT= keeps the runs as JSON)
REF ?= HEAD
PAIRS ?= 10
WORKLOADS ?= ingest,iterate,durable
ab:
	python3 tools/ab.py --ref $(REF) --pairs $(PAIRS) --workloads $(WORKLOADS) $(if $(OUT),--out $(OUT))

clean:
	rm -rf dist .cache .pytest_cache $$(find . -name __pycache__)
