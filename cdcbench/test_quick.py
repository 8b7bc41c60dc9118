"""Quick-mode checks of the benchmark itself.

    python3 -m pytest cdcbench/test_quick.py -q

The two end-to-end checks run the benchmark at small inputs (``--geometry quick``):
all three workloads untraced in one child process (about 1.5 min), then a
traced ``incr_upsert`` (about 1 min).  They assert that every metric named
in BENCHMARK.json is printed with its unit and that the correctness gate
passes.  Like the benchmark, they refuse to run next to another Spark JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(cwd, "cdcbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


def _lines(p: subprocess.CompletedProcess) -> list[dict]:
    assert p.returncode == 0, p.stderr[-4000:]
    return [json.loads(ln) for ln in p.stdout.splitlines() if ln.startswith("{")]


def _units(result: dict) -> set[tuple[str, str]]:
    return {(k, v["unit"]) for k, v in result["metrics"].items()}


def test_metric_lists_match_benchmark_json():
    import layers
    import workloads

    assert [(m["name"], m["unit"]) for m in BENCH["end_to_end"]] == workloads.END_TO_END
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == layers.PER_LAYER
    assert {w["name"] for w in BENCH["workloads"]} <= set(workloads.WORKLOADS)


def test_tail_percentile_keeps_ten_samples_beyond():
    from workloads import tail_percentile

    assert tail_percentile(list(range(1, 41))) == (75.0, 30)
    assert tail_percentile(list(range(1, 101))) == (90.0, 90)
    assert tail_percentile([3.0, 1.0, 2.0])[0] == 50.0


def test_interval_arithmetic():
    from layers import _length, _minus, _union

    assert _union([(0, 2), (1, 3), (5, 6)]) == [(0, 3), (5, 6)]
    assert _minus([(0, 10)], [(2, 3), (5, 7)]) == [(0, 2), (3, 5), (7, 10)]
    assert _length([(0, 2), (1, 3)]) == 3


def test_refuses_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "cdcbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = _run("--workload", "bulk_load", "--seed", "1", "--seconds", "1", "--trace", "0",
             cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_quick_all_workloads_print_every_metric_and_pass_the_gate():
    out = _lines(_run("--workload", "all", "--geometry", "quick", "--seed", "7",
                      "--seconds", "3", "--trace", "0"))
    results = [r for r in out if "correct" in r]
    details = {d["details"]["workload"]: d["details"] for d in out if "details" in d}
    assert len(results) == 3 and set(details) == {"bulk_load", "incr_upsert", "fresh_tail"}
    # staleness is reported by the open loop only
    fresh = details["fresh_tail"]
    assert fresh["freshness_p50_s"] > 0 and fresh["freshness_tail_s"] >= fresh["freshness_p50_s"]
    assert "freshness_p50_s" not in details["incr_upsert"]
    # reader cost is recorded on incr_upsert, outside the gated metrics
    assert set(details["incr_upsert"]["reads_s"]) == {"read_final_s", "read_changes_s",
                                                      "read_range_s"}
    want = {(m["name"], m["unit"]) for m in BENCH["end_to_end"]}
    for r in results:
        assert set(r) == {"correct", "attempted", "failed", "metrics"}
        assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
        assert _units(r) == want
        assert all(v["value"] > 0 for v in r["metrics"].values())


def test_quick_traced_run_reports_every_layer_and_adds_up():
    out = _lines(_run("--workload", "incr_upsert", "--geometry", "quick", "--seed", "7",
                      "--seconds", "3", "--trace", "1"))
    r = out[-1]
    assert r["correct"]
    assert _units(r) == {(m["name"], m["unit"]) for m in BENCH["per_layer"]}
    assert abs(r["metrics"]["trace.layer_sum_ratio"]["value"] - 1.0) <= 0.10
    assert r["metrics"]["apply.jobs"]["value"] > 0
    assert r["metrics"]["operators.cdc.tombstone_rows_read"]["value"] > 0
