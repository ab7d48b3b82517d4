"""Self-tests of the benchmark. From the repository root:

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark once per workload and trace setting.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
import run  # noqa: E402


def _files(data_dir: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(data_dir)):
        with open(os.path.join(data_dir, name), "rb") as f:
            out[name] = f.read()
    return out


def test_same_seed_gives_same_inputs_and_answers(tmp_path):
    a_dir, a = gen.dataset(str(tmp_path / "a"), seed=7, rows=5000, nfiles=2)
    b_dir, b = gen.dataset(str(tmp_path / "b"), seed=7, rows=5000, nfiles=2)
    _, c = gen.dataset(str(tmp_path / "c"), seed=8, rows=5000, nfiles=2)
    assert _files(a_dir) == _files(b_dir)
    assert a == b
    assert a != c


def test_corrupted_estimates_fail_the_check():
    from pyspark.sql import Row

    import workloads
    from hyper_spark.kernel.hll import HllSketch

    values = [f"conv-{i}".encode() for i in range(5000)]
    sk = HllSketch(14).insert_many(values)
    answers = {"distinct_conv": len(values)}
    scan = workloads.ScanBuild()
    assert scan.check({"total": {"sketch_collect": sk}}, answers).ok
    registers = sk.registers.copy()
    registers[: len(registers) // 2] = 0  # lose half the registers
    corrupted = HllSketch(14, registers)
    assert not scan.check({"total": {"sketch_collect": corrupted}}, answers).ok

    groups = {"0": {"distinct_conv": 100, "q": [5.0, 9.0, 9.9],
                    "q_lo": [4.9, 8.9, 9.8], "q_hi": [5.1, 9.1, 10.0]}}
    answers = {"by_state_group": groups, "state_distinct_sum": 300}
    registers = HllSketch(12).insert_many(values[:100]).to_bytes()
    out = {
        "hll": {"cardinality_col": [Row(g=0, registers=registers, est=100.0)]},
        "kll": {"sketch_quantiles": [Row(g=0, q_0500=5.0, q_0900=9.0, q_0990=9.9)]},
        "theta": {"theta_estimate": [Row(g=0, estimate=100.0)]},
        "states": {"cardinality_col": [(300.0,)]},
    }
    rollup = workloads.StateRollup()
    assert rollup.check(out, answers).ok
    out["kll"]["sketch_quantiles"] = [Row(g=0, q_0500=5.0, q_0900=9.5, q_0990=9.9)]
    assert not rollup.check(out, answers).ok


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_reports_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = _benchmark()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }


def test_run_refuses_a_directory_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in ("run.py", "gen.py", "procmon.py"):
        with open(os.path.join(BENCH, name)) as src:
            (bench / name).write_text(src.read())
    proc = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", "scan_build",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
