.PHONY: test test-sf01 bench smoke perfbench-smoke

# the ROADMAP Tier-1 gate, verbatim
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

test-sf01:
	SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_queries_vs_duckdb.py -q

bench:
	python bench.py

perfbench-smoke:
	python3 -m pytest perfbench

smoke:
	python -c "from pyspark.sql import SparkSession; import __spark_entry__ as m; s = SparkSession.builder.master('local[8]').getOrCreate(); print(m.entry(s).count())"

audit:
	python tools/shuffle_audit.py
	python tools/dump_plans.py
	python tools/dump_registry.py

sweep:
	python tools/oracle_sweep.py /root/testdata/sf0.01
