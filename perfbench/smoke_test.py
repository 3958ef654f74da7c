"""Smoke test of the benchmark itself, on sf0.001-sized inputs.

Runs every workload briefly, untraced and traced, and asserts that each
metric ``BENCHMARK.json`` names is present with a number and that no
operation failed or returned a wrong answer. Checks that the traced
run charges the streaming replay's micro-batch jobs, which run under
the query's own job group, to the batch entry that started them.
Prints the tracing overhead (untraced minus traced ``ops_per_s``) per
workload.

    python3 perfbench/smoke_test.py            # or: python3 -m pytest perfbench/smoke_test.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("retrieval", "mutation", "batch")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    """Result object and (traced runs) the ledger line of one short run."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--small"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-4000:])
    assert out.returncode == 0 and lines, f"{workload} trace={trace} exit"
    ledger = {}
    for line in lines:
        if line.startswith("perfbench-ledger "):
            ledger = json.loads(line.split(" ", 1)[1])
    return json.loads(lines[-1]), ledger


def _check(workload: str, trace: int) -> tuple[dict, dict]:
    spec = _spec()
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    res, ledger = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    assert res["failed"] == 0 and res["correct"], res
    assert sorted(res["metrics"]) == sorted(names), sorted(res["metrics"])
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], (int, float)), (name, m)
    return res["metrics"], ledger


def test_workloads_report_every_metric_and_fail_nothing():
    for wl in WORKLOADS:
        plain, _ = _check(wl, 0)
        traced, ledger = _check(wl, 1)
        if wl == "batch":
            # the availableNow replay's micro-batches run outside the
            # entry's job group and must still be charged to it
            streamed = "bm25_topk_streamed_index"
            assert ledger[f"{streamed}.other_group_jobs"] > 0, ledger
            assert (ledger[f"{streamed}.jobs"]
                    > ledger[f"{streamed}.other_group_jobs"]), ledger
        overhead = plain["ops_per_s"]["value"] - traced["trace.ops_per_s"]["value"]
        print(f"{wl}: ops_per_s {plain['ops_per_s']['value']:.3f} untraced, "
              f"{traced['trace.ops_per_s']['value']:.3f} traced "
              f"(overhead {overhead:+.3f}/s; status-store read "
              f"{traced['trace.read_s_per_op']['value'] * 1e3:.0f} ms/op)")


if __name__ == "__main__":
    test_workloads_report_every_metric_and_fail_nothing()
    print("smoke test passed")
