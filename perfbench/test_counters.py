"""Counters are gates, wall times are evidence.

Two traced runs with the same seed must report identical counters; a run
with another seed must serve a different request stream yet report the same
set of metric names. Each traced run starts its own Spark session (about a
minute), so run this file on its own:

    python3 -m pytest perfbench/test_counters.py -q
"""

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
GATED = ("jobs", "stages", "tasks", "blocks_total", "blocks_decoded", "kernel_rows_in",
         "collect_rows", "segment_blocks")


def traced(workload: str, seed: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    *_, report, result = out.stdout.strip().splitlines()
    return json.loads(report)["report"], json.loads(result)


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_counters_repeat_and_seed_changes_stream(workload):
    rep_a, res_a = traced(workload, 7)
    rep_b, res_b = traced(workload, 7)
    rep_c, res_c = traced(workload, 8)
    for res in (res_a, res_b, res_c):
        assert res["correct"] and res["failed"] == 0
        assert set(res["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    counters = lambda res: {k: res["metrics"][k]["value"] for k in GATED}  # noqa: E731
    assert counters(res_a) == counters(res_b)
    assert rep_a["stream"] == rep_b["stream"]
    assert rep_a["stream"] != rep_c["stream"]
