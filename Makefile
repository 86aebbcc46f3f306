# One-command cadence targets (VERDICT r5 #7: the cross-SF sweep must
# rerun every round, not just when remembered).

.PHONY: test sweep bench perf lint audit all

test:           ## tier-1 suite: every oracle at sf0.01 + unit/property tests
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

sweep:          ## cross-SF oracle sweep: every oracle at sf0.001 and sf0.1
	python -m pytest -m sweep tests/test_sweep.py -q

bench:          ## headline bench (sf0.1 unless SPARK_GRAFT_SF_DIR overrides)
	python bench.py

perf:           ## repo benchmark: each BENCHMARK.json workload once (seed 1, untraced) + accessor pins
	python3 perfbench/run.py --workload query-tail --seed 1 --seconds 9 --trace 0
	python3 perfbench/run.py --workload etl-lifecycle --seed 1 --seconds 9 --trace 0
	python -m pytest perfbench/tests -q

lint:           ## generic 100 TB anti-pattern sweep over all registry plans
	python -m finanalyzer_spark lint --strict

audit:          ## pinned physical-plan expectations -> PLANS.md
	python scripts/plan_audit.py

all: test sweep audit lint
