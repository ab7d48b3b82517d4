"""The measurement tools stay runnable, and one-off session builders do
not grow back.

Every timing goes through ``tools/time_query.py`` (any bench.py leaf),
``tools/perf_ab.py`` (perfbench's workloads) or the north-rule
``tools/bench_scaling_executors.py``; a new measurement is a bench leaf
or a perfbench workload, not a script with its own ``SparkSession``.
"""

from __future__ import annotations

import ast
import json
import os
import re
import statistics
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]

# the only files that build a SparkSession: the frozen bench, perfbench,
# the test session, the scaling workers, the oracle sweep, the spark-submit
# job and the two r06 event-log profilers
SESSION_BUILDERS = {
    "bench.py",
    "perfbench/run.py",
    "tests/conftest.py",
    "tools/bench_scaling_executors.py",
    "tools/check_correctness.py",
    "tools/dump_plans_r06.py",
    "tools/profile_r06.py",
    "tools/submit_job.py",
}


def _builds_session(tree: ast.AST) -> bool:
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr == "builder"
            and isinstance(node.value, ast.Name)
            and node.value.id == "SparkSession"
        ):
            return True
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and ".builder" in node.value
        ):
            # a worker script shipped as a string literal
            try:
                if _builds_session(ast.parse(node.value)):
                    return True
            except SyntaxError:
                pass
    return False


@pytest.mark.parametrize("tool", ["time_query", "perf_ab", "python_task_overhead"])
def test_tool_help(tool):
    done = subprocess.run(
        [sys.executable, str(REPO / "tools" / f"{tool}.py"), "--help"],
        capture_output=True, text=True, timeout=60,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    assert "usage:" in done.stdout


def test_makefile_tools_exist():
    named = set(re.findall(r"tools/[\w.]+\.py", (REPO / "Makefile").read_text()))
    assert "tools/bench_scaling_executors.py" in named
    assert [t for t in sorted(named) if not (REPO / t).exists()] == []


def test_session_builders_only_in_allow_list():
    found = {
        path.relative_to(REPO).as_posix()
        for path in REPO.rglob("*.py")
        if not any(part.startswith(".") for part in path.relative_to(REPO).parts)
        and _builds_session(ast.parse(path.read_text()))
    }
    assert found == SESSION_BUILDERS, sorted(found ^ SESSION_BUILDERS)


def test_time_query_steady_state(sf_smoke):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_smoke, SPARK_GRAFT_CPUS="2")
    done = subprocess.run(
        [sys.executable, str(REPO / "tools" / "time_query.py"), "hll_orderkey"],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    out = json.loads(done.stdout.strip().splitlines()[-1])
    calls = out["calls"]["hll_orderkey"]
    assert len(calls) == 5 and min(calls) > 0
    assert out["hll_orderkey"] > 0
    assert out["hll_orderkey"] == round(statistics.median(calls[1:]), 3)
