"""Smoke test of the benchmark itself, at reduced scale.

    python3 perfbench/smoke_test.py        (or: python3 -m pytest perfbench/smoke_test.py)

Runs each workload once untraced and once traced, each in a fresh
process, on a 1,000-file corpus.  Checks that the result line names every metric of
BENCHMARK.json with its unit, that no operation failed, and that in the
trace every layer span nests inside an operation span of the same
operation.  Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPERATIONS = {
    "session.start", "warmup", "setup", "build", "read", "graph.load",
    "store.sync_dir.add", "store.sync_dir.drop", "replay",
}
SEED = 7


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> tuple[int, dict]:
    """One run in a fresh process, with the workloads scaled down."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]);"
        "from perfbench import kg_build, run, serve_sync;"
        "kg_build.SF, kg_build.WARMUP_SF, serve_sync.SF = 0.001, 0.0001, 0.001;"
        "sys.exit(run.main(sys.argv[2:]))"
    )
    argv = ["--workload", workload, "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)]
    p = subprocess.run([sys.executable, "-c", code, ROOT, *argv], cwd=ROOT, capture_output=True, text=True)
    sys.stdout.write(p.stdout)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-5000:])
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else {}


def _check_result(res: dict, metrics: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, res
    assert {m["name"]: m["unit"] for m in metrics} == {k: v["unit"] for k, v in res["metrics"].items()}


def _check_nesting(path: str) -> None:
    with open(path) as f:
        spans = {s["id"]: s for s in json.load(f)["spans"]}
    assert spans
    for s in spans.values():
        root = s
        while root["parent"] is not None:
            parent = spans[root["parent"]]
            assert parent["start"] <= root["start"] <= root["end"] <= parent["end"], (parent, root)
            assert parent["op"] == root["op"], (parent, root)
            root = parent
        assert root["name"] in OPERATIONS, f"{s['name']} is not under an operation span"


def test_workloads() -> None:
    spec = _spec()
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            code, res = _run(workload, trace)
            assert code == 0
            _check_result(res, spec["per_layer"] if trace else spec["end_to_end"])
            if trace:
                _check_nesting(os.path.join(ROOT, ".perfbench", f"trace_{workload}_seed{SEED}.json"))
                layers = {k: v["value"] for k, v in res["metrics"].items()}
                assert layers["session.start_s"] > 0 and layers["results.exec_s"] > 0, layers
                if workload == "kg_build":
                    assert layers["pipeline.build_s"] > 0 and layers["extract.rows"] > 0, layers
                else:
                    assert layers["store.add_s"] > 0 and layers["graph.load_s"] > 0, layers


if __name__ == "__main__":
    test_workloads()
    print("smoke test passed")
