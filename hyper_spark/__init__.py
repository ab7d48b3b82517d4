"""hyper_spark — a PySpark-native distributed sketch / approximate-
aggregation engine.

Centerpiece: a HyperLogLog estimator estimate-compatible with
GameAnalytics/hyper (see ``hyper_spark.kernel.hll``), plus companion
count-min, t-digest, KLL and Bloom sketches, all shaped as mergeable
partial aggregates so Spark's partial/final aggregation (and Structured
Streaming state) can distribute them. Layers:

* ``kernel``    — pure numpy sketch algebra, no Spark imports
* ``functions`` — native Column expressions (JVM-side hashing, text stats)
* ``operators`` — DataFrame-level sketch aggregation / dedup (exact,
  LSH, incremental signature-store, connected-components closure) /
  similarity / quality gates (Gopher, C4) / temporal / sampling /
  packing / corpus prep
* ``sources``   — table loading + deterministic transcripts generator
* ``plans``     — multi-level merge with checkpoint/resume + lineage
* ``streaming`` — Structured Streaming sketch state
"""

from hyper_spark.packaging import install_worker_zip_cache as _install_worker_zip_cache

__version__ = "0.1.0"

# in a Spark Python worker: re-read a zip archive's directory only when
# the archive has changed (see hyper_spark.packaging)
_install_worker_zip_cache()
