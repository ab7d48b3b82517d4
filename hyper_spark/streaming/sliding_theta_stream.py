"""Streaming build for the sliding-window Theta/KMV state — completes
the streaming sliding trio (sliding_hll_stream.py: native windowed max;
sliding_cms_stream.py: native windowed count).

k-min has no native windowed aggregate, so this is a fold through the
shared ``streaming/stateful.py::stateful_fold`` like streaming_theta_by
— but the EMISSION contract exploits k-min monotonicity instead of any
window-close choreography: every micro-batch emits only the hashes NEWLY
ADMITTED to a (group, grain-bucket)'s running k-min. Any hash in the
bucket's FINAL k-min was among the k smallest at its own arrival time,
hence admitted and emitted exactly once; later-evicted extras are
dropped when ``sliding_theta_merge([sink])`` re-trims per bucket. So
union-of-deltas → merge equals the batch ``sliding_theta_table`` of
the same rows EXACTLY (pytest-asserted row parity), the sink stays
small (≤ k admissions per bucket plus early-arrival turnover), and no
row waits for a watermark to become visible.

State per live (group, bucket) is one ≤ 8k-byte sorted int64 blob;
when the event-time watermark passes a bucket's end the state is
dropped WITHOUT an emission (everything admitted was already emitted),
so state is bounded by live buckets × k. Same hash conventions as the
batch build (signed xxhash64 over the string cast — mixed states fail
the merge's (k, hash_fn) check loudly).

The operator is the tuple stream's
(sliding_tuple_stream.py::kmin_admissions) fed a zero summary: with
every batch sum zero its emission rule — new admissions plus admitted
hashes with a nonzero delta — is exactly the new admissions, and the
state blob is the same.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hyper_spark.streaming.sliding_tuple_stream import kmin_admissions

__all__ = ["streaming_sliding_theta_entries"]


def streaming_sliding_theta_entries(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str,
    k: int = 4096,
    grain: str = "1 day",
    watermark: str = "1 hour",
    output_mode: str = "append",
) -> DataFrame:
    """Streaming per-(keys, grain-bucket) k-min admission deltas:
    DataFrame[*keys, bucket_ts, h, k, hash_fn] — the sliding_theta
    state schema. Run ``sliding_theta_merge([sink_df], keys)`` over
    the appended sink to compact to the exact batch state; the merged
    state feeds sliding_theta_estimates / _overlap / _coarsen
    unchanged."""
    return kmin_admissions(
        df, ts_col, keys, col, F.lit(0.0), k, grain, watermark, output_mode
    ).drop("summary")
