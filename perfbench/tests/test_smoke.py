"""One-pass smoke of every benchmark workload at sf0.001 size.

Each workload runs once, traced, through the real command line: the report
line must carry every end-to-end metric with ``error_rate`` 0, and the result
line every per-layer metric that ``BENCHMARK.json`` names, with its unit.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
REPORTED_ONLY = {"peak_rss_mb": "MB", "error_rate": "ratio", "write_amp": "ratio"}


def _run(workload: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", "1", "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_smoke(workload):
    report, result = _run(workload)
    assert result["correct"] and result["failed"] == 0, report["failed_ops"]
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]} | REPORTED_ONLY
    got = report["metrics"]
    assert {k: got[k]["unit"] for k in want} == want
    assert got["error_rate"]["value"] == 0
    assert all(got[k]["value"] > 0 for k in want if k not in ("error_rate", "write_amp"))
    layers = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == layers
    work = os.path.join(ROOT, ".bench_work")
    assert not any(d.startswith(f"{workload}-3-") for d in os.listdir(work))


def test_tail_is_slowest_type_median():
    from run import tail
    from workloads import Op

    ops = [Op("a", x, True) for x in (1.0, 2.0, 9.0)] + [Op("b", x, True) for x in (4.0, 5.0)]
    assert tail(ops) == (4.5, "slowest-type-median", 5)
