.PHONY: test verify bench scaling capacity dist plans lint

# the ROADMAP tier-1 command
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

verify:
	python tools/verify_strict.py /root/testdata/sf0.01

bench:
	python bench.py

scaling:
	python tools/bench_scaling.py 480000 2

capacity:
	python tools/bench_capacity.py 1000000 32 2

dist:
	python tools/build_dist.py

plans:
	python tools/dump_plans.py

lint:
	python -m compileall -q geo_sim_processing_a_spark tests tools jobs bench.py __spark_entry__.py
