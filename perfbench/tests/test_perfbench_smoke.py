"""Smoke tests for the benchmark: one short run of every workload, untraced
and traced, prints every metric named in ``BENCHMARK.json``; the input
generator is deterministic per seed; and the benchmark fails cleanly
without the program next to it.

    python -m pytest perfbench/tests -q     # about 7 minutes
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(PERFBENCH)
sys.path.insert(0, PERFBENCH)

from inputs import generate  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["kpi_batch", "fixpoint_queries", "corpus_build"])
def test_one_pass_prints_every_metric(workload, trace):
    proc = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(trace))
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, detail_line, result_line = proc.stdout.strip().splitlines()
    result = json.loads(result_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert json.loads(detail_line)["failed_frac"] == 0.0
    expected = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert sorted(result["metrics"]) == sorted(m["name"] for m in expected)
    for m in expected:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(result["metrics"][m["name"]]["value"], (int, float))


def test_generator_is_seeded_and_keeps_joins(tmp_path):
    tables = ("events", "customer", "orders")
    a = generate(tables, 5, str(tmp_path / "a"), replicas=3)
    b = generate(tables, 5, str(tmp_path / "b"), replicas=3)
    c = generate(tables, 6, str(tmp_path / "c"), replicas=3)
    read = lambda inp, t: pq.read_table(f"{inp.dir}/{t}.parquet")  # noqa: E731
    for t in tables:
        assert read(a, t).equals(read(b, t))
    assert not read(a, "events").equals(read(c, "events"))
    base = {t: pq.read_table(os.path.join(PERFBENCH, "data", f"{t}.parquet")) for t in tables}
    assert a.rows == 3 * sum(tb.num_rows for tb in base.values())
    # the remap is a bijection applied to every id column, so each join
    # keeps its match count, times the replicas
    for inp in (a, c):
        cust = set(read(inp, "customer")["c_custkey"].to_pylist())
        assert len(cust) == 3 * base["customer"].num_rows
        for t, col in (("events", "user_id"), ("orders", "o_custkey")):
            matched = sum(v in cust for v in read(inp, t)[col].to_pylist())
            base_cust = set(base["customer"]["c_custkey"].to_pylist())
            assert matched == 3 * sum(v in base_cust for v in base[t][col].to_pylist())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(PERFBENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "kpi_batch", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout == ""
