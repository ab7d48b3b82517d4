"""Seeded transcript-shaped input generator and exact answers.

Owned by the benchmark: numpy + pyarrow in one process, no Spark and no
``hyper_spark`` import, so a library change cannot change the inputs.
The exact answers are computed with numpy from the table's columns and
are stored beside the parquet files.

Shape of one data set (``rows`` rows, seeded by ``seed``):

* conversations with Zipf sizes (a hot head of long conversations),
  rows clustered by conversation as real transcripts are;
* ``conv_id`` string, ``turn`` int32, ``role`` (4 roles), Zipf
  ``user_id`` per conversation, lognormal ``latency_ms``, and ``ts``
  spread over 30 days;
* ``nfiles`` parquet files, cut at row boundaries in conversation order.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROLES = ("user", "assistant", "tool", "system")
ROLE_P = (0.42, 0.42, 0.10, 0.06)
DAYS = 30
DAY_US = 86_400_000_000
T0_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z in microseconds
MAX_TURNS = 400
ZIPF_TURNS = 1.5
ZIPF_USERS = 1.1
QUANTILES = (0.5, 0.9, 0.99)
# KLL rank-error bound checked against: the kernel documents a
# conservative eps = 2/k (kernel/kll.py); k = 200 is the library default
KLL_K = 200
KLL_EPS = 2.0 / KLL_K
# group keys: g = user_id % STATE_GROUPS for the stored per-(g, day)
# states of state_rollup, ub = user_id % KEYS for keyed_checkpoint
STATE_GROUPS = 20
KEYS = 64
# names the cached data sets: change it whenever the table or the
# answers change
FORMAT_VERSION = 3


def make_table(seed: int, rows: int) -> pa.Table:
    """The data set as one Arrow table; identical for identical
    (seed, rows)."""
    rng = np.random.default_rng([FORMAT_VERSION, seed, rows])
    # conversation sizes: Zipf, capped, drawn until they cover `rows`
    sizes = []
    total = 0
    while total < rows:
        s = np.minimum(rng.zipf(ZIPF_TURNS, 1 << 16), MAX_TURNS)
        sizes.append(s)
        total += int(s.sum())
    sizes = np.concatenate(sizes)
    cum = np.cumsum(sizes)
    n_conv = int(np.searchsorted(cum, rows) + 1)
    sizes = sizes[:n_conv].copy()
    sizes[-1] -= int(cum[n_conv - 1]) - rows

    # distinct, scattered ids: an odd multiplier is a bijection mod 2^40
    ids = (np.arange(n_conv, dtype=np.uint64) * np.uint64(0x9E3779B97F)
           + np.uint64(rng.integers(1 << 39))) % np.uint64(1 << 40)
    conv_names = pc.binary_join_element_wise(
        pa.scalar("conv-"), pc.cast(pa.array(ids), pa.string()), ""
    )

    # Zipf users over a finite population; ids permuted so hot users
    # spread over every group key
    n_users = max(1000, n_conv // 4)
    weights = 1.0 / np.arange(1, n_users + 1, dtype=np.float64) ** ZIPF_USERS
    rank = rng.choice(n_users, size=n_conv, p=weights / weights.sum())
    conv_user = rng.permutation(n_users).astype(np.int64)[rank]

    conv_start = rng.uniform(0, (DAYS - 0.5) * 86400e6, n_conv).astype(np.int64)
    conv_of_row = np.repeat(np.arange(n_conv), sizes)
    first_row = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    turn = (np.arange(rows) - np.repeat(first_row, sizes)).astype(np.int32)
    gaps = rng.exponential(30e6, rows).astype(np.int64)
    gaps[first_row] = 0
    cum_gap = np.cumsum(gaps)
    ts = conv_start[conv_of_row] + cum_gap - np.repeat(cum_gap[first_row], sizes)

    role_idx = rng.choice(len(ROLES), size=rows, p=ROLE_P).astype(np.int8)
    latency = rng.lognormal(mean=6.0, sigma=1.0, size=rows)

    return pa.table({
        "conv_id": pc.take(conv_names, pa.array(conv_of_row)),
        "turn": turn,
        "role": pc.take(pa.array(ROLES), pa.array(role_idx)),
        "user_id": conv_user[conv_of_row],
        "latency_ms": latency,
        "ts": pa.array(T0_US + ts, pa.timestamp("us", tz="UTC")),
    })


def write_files(table: pa.Table, out_dir: str, nfiles: int) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, nfiles + 1).astype(int)
    paths = []
    for i in range(nfiles):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]), path,
            compression="snappy",
        )
        paths.append(path)
    return paths


def exact_answers(table: pa.Table) -> dict:
    """Exact results for every checked estimate, computed with numpy
    from the table's own columns."""
    conv = pc.dictionary_encode(table["conv_id"]).combine_chunks()
    conv = conv.indices.to_numpy().astype(np.int64)
    role = pc.index_in(table["role"], value_set=pa.array(ROLES)).to_numpy()
    user = table["user_id"].to_numpy()
    latency = table["latency_ms"].to_numpy()
    day = (table["ts"].cast(pa.int64()).to_numpy() - T0_US) // DAY_US

    def distinct_per(group: np.ndarray) -> dict:
        pairs = np.unique(group.astype(np.int64) << 32 | conv)
        keys, counts = np.unique(pairs >> 32, return_counts=True)
        return {int(k): int(c) for k, c in zip(keys, counts)}

    g = user % STATE_GROUPS
    state = g * (DAYS + 2) + day
    conv_by_g = distinct_per(g)
    order = np.lexsort((latency, g))
    g_sorted, lat_sorted = g[order], latency[order]
    starts = np.searchsorted(g_sorted, np.arange(STATE_GROUPS))
    ends = np.searchsorted(g_sorted, np.arange(STATE_GROUPS), side="right")

    def at(lo: int, n: int, q: float, rnd) -> float:
        return float(lat_sorted[lo + int(rnd(q * (n - 1)))])

    by_group = {}
    for gi in range(STATE_GROUPS):
        lo, n = int(starts[gi]), int(ends[gi] - starts[gi])
        if n == 0:
            continue
        by_group[str(gi)] = {
            "distinct_conv": conv_by_g[gi],
            "q": [at(lo, n, q, np.floor) for q in QUANTILES],
            "q_lo": [at(lo, n, max(0.0, q - KLL_EPS), np.floor) for q in QUANTILES],
            "q_hi": [at(lo, n, min(1.0, q + KLL_EPS), np.ceil) for q in QUANTILES],
        }
    return {
        "rows": table.num_rows,
        "distinct_conv": int(conv.max()) + 1,
        "distinct_conv_by_role": {
            ROLES[k]: c for k, c in distinct_per(role).items()
        },
        # stored per-(group, day) states, and the sum over them of their
        # distinct conv_id counts
        "state_count": len(np.unique(state)),
        "state_distinct_sum": int(sum(distinct_per(state).values())),
        "by_state_group": by_group,
        "distinct_conv_by_key": {
            str(k): c for k, c in distinct_per(user % KEYS).items()
        },
    }


def dataset(cache_dir: str, seed: int, rows: int, nfiles: int,
            keep: int = 6) -> tuple[str, dict]:
    """Directory of the (seed, rows) data set and its exact answers,
    generated on first use and cached. Only the ``keep`` most recently
    used data sets stay on disk."""
    os.makedirs(cache_dir, exist_ok=True)
    name = f"s{seed}_r{rows}_f{nfiles}_v{FORMAT_VERSION}"
    root = os.path.join(cache_dir, name)
    answers_path = os.path.join(root, "answers.json")
    if not os.path.exists(answers_path):
        tmp = f"{root}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        table = make_table(seed, rows)
        write_files(table, os.path.join(tmp, "data"), nfiles)
        answers = exact_answers(table)
        with open(os.path.join(tmp, "answers.json"), "w") as f:
            json.dump(answers, f)
        shutil.rmtree(root, ignore_errors=True)
        os.replace(tmp, root)
    os.utime(root)
    _evict(cache_dir, keep)
    with open(answers_path) as f:
        return os.path.join(root, "data"), json.load(f)


def _evict(cache_dir: str, keep: int) -> None:
    entries = [
        os.path.join(cache_dir, n) for n in os.listdir(cache_dir)
        if ".tmp" not in n
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[keep:]:
        shutil.rmtree(old, ignore_errors=True)

