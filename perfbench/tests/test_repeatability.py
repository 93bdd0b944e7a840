"""Repeatability of the benchmark's deterministic counters.

Two traced runs with the same seed must agree exactly on every counter
in ``tracing.DETERMINISTIC``, and to 1e-3 on ``storage_amp`` and the
Iceberg bytes ratio; a second seed must run the same op counts and pass
its output checks.  Each test starts real Spark runs through ``run.py``
(5-12 minutes per workload).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
RUN = os.path.join(BENCH, "run.py")
sys.path.insert(0, BENCH)

from run import OP_COUNTS  # noqa: E402
from tracing import DETERMINISTIC  # noqa: E402


def bench(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed), "--trace", str(trace)],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=os.path.dirname(BENCH),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", sorted(OP_COUNTS))
def test_same_seed_repeats_counters(workload):
    runs = [bench(workload, 1, trace=1) for _ in range(2)]
    for report, result in runs:
        assert result["correct"] and result["failed"] == 0, report["traced"]["errors"]
    (a, ra), (b, rb) = runs
    differ = {
        name: (ra["metrics"][name]["value"], rb["metrics"][name]["value"])
        for name in DETERMINISTIC
        if ra["metrics"][name]["value"] != rb["metrics"][name]["value"]
    }
    assert not differ
    # Table logs record file modification times, and Iceberg position
    # deletes record the (random) names of the files they retire; both
    # compress to lengths that vary by a few bytes per run.
    name = "iceberg_io.bytes_written_per_source_byte"
    assert ra["metrics"][name]["value"] == pytest.approx(rb["metrics"][name]["value"], rel=1e-3)
    assert a["traced"]["storage_amp"] == pytest.approx(b["traced"]["storage_amp"], rel=1e-3)
    assert a["traced"]["ops"] == b["traced"]["ops"]


@pytest.mark.parametrize("workload", sorted(OP_COUNTS))
def test_other_seed_same_ops_and_checks_pass(workload):
    (r1, _), (r2, res2) = bench(workload, 1, 0), bench(workload, 2, 0)
    assert r1["ops"] == r2["ops"]
    assert res2["correct"] and res2["failed"] == 0, r2["errors"]
    assert r2["end_to_end"]["error_rate"] == 0.0
