"""The benchmark's own tests: BENCHMARK.json agrees with the code, every
workload runs at a tiny size with its correctness gate passing, the
deterministic counts repeat between two same-seed traced runs, and the
command fails without the program's source.

    python3 -m pytest perfbench/test_perfbench.py -q

Each Spark run takes about a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import metrics as M
from perfbench import run as R

ROOT = R.ROOT
TINY = ["--scale", "0.05", "--seconds", "0"]
COUNT_SUFFIXES = (
    ".jobs", ".stages", ".tasks", "_jobs", ".segments", ".records", ".triggers",
    ".input_rows", ".buckets_touched", "_files_written", ".rows_validated",
    "_bytes_written", ".bytes",
)
# silver rows carry their ingest wall-clock time (the audit columns), so
# the compressed files differ by a few bytes from run to run
CLOCK_STAMPED = {"ingest.silver_bytes_written"}


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(M.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == M.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == M.PER_LAYER


@pytest.mark.parametrize("workload", M.WORKLOADS)
def test_tiny_run_is_correct(workload):
    out = result(bench("--workload", workload, "--seed", "5", "--trace", "0", *TINY))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == set(M.END_TO_END)
    assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.parametrize("workload", M.WORKLOADS)
def test_counts_repeat_for_the_same_seed(workload):
    runs = [
        result(bench("--workload", workload, "--seed", "9", "--trace", "1", *TINY))
        for _ in range(2)
    ]
    for out in runs:
        assert out["correct"] and set(out["metrics"]) == set(M.PER_LAYER)
    counts = [
        {k: m["value"] for k, m in out["metrics"].items() if k.endswith(COUNT_SUFFIXES)}
        for out in runs
    ]
    assert any(counts[0].values())
    for k in CLOCK_STAMPED:
        assert counts[0].pop(k) == pytest.approx(counts[1].pop(k), rel=1e-3)
    assert counts[0] == counts[1]


def test_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = bench("--workload", "read_mix", "--seed", "1", "--seconds", "1", "--trace", "0",
                 cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
