# One-command cadence targets (VERDICT r5 #7: the cross-SF sweep must
# rerun every round, not just when remembered).

.PHONY: test sweep bench perf perf-pairs lint audit all

test:           ## tier-1 suite: every oracle at sf0.01 + unit/property tests
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

sweep:          ## cross-SF oracle sweep: every oracle at sf0.001 and sf0.1
	python -m pytest -m sweep tests/test_sweep.py -q

bench:          ## headline bench (sf0.1 unless SPARK_GRAFT_SF_DIR overrides)
	python bench.py

# exit 0 iff the last line on stdin is a run result with "correct": true
# and 0 failed ops (perfbench/run.py prints its result as that line)
PERF_OK = python3 -c 'import json, sys; r = json.loads(sys.stdin.read().splitlines()[-1]); sys.exit(0 if r["correct"] is True and r["failed"] == 0 else 1)'

perf:           ## repo benchmark: each BENCHMARK.json workload once (seed 1, untraced) + accessor pins; fails on wrong outputs
	@for w in query-tail etl-lifecycle; do \
	  out=$$(python3 perfbench/run.py --workload $$w --seed 1 --seconds 9 --trace 0) || exit 1; \
	  echo "$$out"; \
	  printf '%s\n' "$$out" | $(PERF_OK) || { echo "perf: $$w: wrong outputs or failed ops" >&2; exit 1; }; \
	done
	python -m pytest perfbench/tests -q

WORKLOAD ?= etl-lifecycle
PAIRS ?= 10
REV ?= HEAD
SEED0 ?= 61

perf-pairs:     ## parent-vs-working-tree pairs: make perf-pairs WORKLOAD=etl-lifecycle PAIRS=10 REV=HEAD
	python3 scripts/perf_pairs.py --workload $(WORKLOAD) --pairs $(PAIRS) --rev $(REV) --seed0 $(SEED0)

lint:           ## generic 100 TB anti-pattern sweep over all registry plans
	python -m finanalyzer_spark lint --strict

audit:          ## pinned physical-plan expectations -> PLANS.md
	python scripts/plan_audit.py

all: test sweep audit lint
