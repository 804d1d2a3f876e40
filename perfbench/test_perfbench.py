"""Self-test of the benchmark: ``python3 -m pytest perfbench/test_perfbench.py``.

Tiny runs of every workload (sf0.001 tables, a few small feed payloads)
must print every declared metric with its unit, and the output checks
must flag a result with one row changed.
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_reports_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "2",
             "--trace", str(trace), "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    for m in BENCH["end_to_end"] if not trace else []:
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]


def test_checker_flags_one_changed_row():
    tbl = pa.table({
        "k": [1, 2, 3],
        "v": [0.5, 1.25, None],
        "ts": pa.array([dt.datetime(2024, 1, 1)] * 3, pa.timestamp("us", tz="UTC")),
    })
    oracle = run.canonical(
        ["v", "ts", "k"],
        [(1.25, dt.datetime(2024, 1, 1), 2), (None, dt.datetime(2024, 1, 1), 3),
         (0.5000000001, dt.datetime(2024, 1, 1), 1)],
    )
    assert run.canonical_arrow(tbl) == oracle
    changed = tbl.set_column(1, "v", pa.array([0.5, 1.5, None]))
    assert run.canonical_arrow(changed) != oracle


def test_feed_check_counts_missing_duplicate_and_wrong_rows():
    sent = set(range(6))
    reference = {i: i % 2 for i in sent}
    good = [(i, i % 2) for i in sent]
    assert run.feed_errors(sent, good, reference) == 0
    one_wrong = good[:5] + [(5, 0)]
    assert run.feed_errors(sent, one_wrong, reference) == 1
    assert run.feed_errors(sent, good[:5], reference) == 1
    assert run.feed_errors(sent, good + [(0, 0)], reference) == 1


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
