PY ?= python

.PHONY: test bench dist scaling correctness clean

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	$(PY) bench.py

scaling:
	$(PY) tools/bench_scaling.py 16.0 8

correctness:
	$(PY) tools/check_correctness.py

# build the --py-files artifact for spark-submit on a real cluster:
#   spark-submit --py-files dist/hyper_spark.zip your_job.py
dist:
	mkdir -p dist
	$(PY) -c "from hyper_spark.packaging import build_zip; print(build_zip('dist/hyper_spark.zip'))"

clean:
	rm -rf dist .pytest_cache $$(find . -name __pycache__ -type d)
