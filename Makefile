PY ?= python

.PHONY: test bench dist scaling correctness perf-ab clean

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	$(PY) bench.py

scaling:
	$(PY) tools/bench_scaling_executors.py 16.0 8

correctness:
	$(PY) tools/check_correctness.py

# interleaved perfbench A/B of this checkout against a base commit:
#   make perf-ab WORKLOADS=keyed_checkpoint SEEDS=701-710 BASE=HEAD^
WORKLOADS ?= scan_build keyed_checkpoint
SEEDS ?= 701-710
perf-ab:
	$(PY) tools/perf_ab.py $(foreach w,$(WORKLOADS),--workload $(w)) --seeds $(SEEDS) \
		$(if $(BASE),--base $(BASE))

# build the --py-files artifact for spark-submit on a real cluster:
#   spark-submit --py-files dist/hyper_spark.zip your_job.py
dist:
	mkdir -p dist
	$(PY) -c "from hyper_spark.packaging import build_zip; print(build_zip('dist/hyper_spark.zip'))"

clean:
	rm -rf dist .pytest_cache $$(find . -name __pycache__ -type d)
