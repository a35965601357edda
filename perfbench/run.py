"""de_spark benchmark driver.

    python3 perfbench/run.py --workload {kg_build,serve_sync} --seed N --seconds S --trace {0,1}

Runs one workload on local[nproc] from one driver thread, checks every
output, and prints as its last stdout line one JSON object with keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Run it from the repository root; everything it writes
goes under ``.perfbench/`` there.  See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "write_s": "s",
    "write_triples_per_s": "triples/s",
    "read_p50_s": "s",
    "reads_per_s": "1/s",
    "kg_bytes_per_triple": "B/triple",
}


def _stop_spark() -> None:
    """Stop the session, then end the driver JVM (and with it the Python
    workers it forked) and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["kg_build", "serve_sync"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "de_spark", "pipeline.py")):
        print(f"perfbench: no de_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work")
    shutil.rmtree(work, ignore_errors=True)
    host.configure_env(ROOT, work)
    ticks0 = host.cpu_ticks()
    rss = host.RssSampler().start()

    from perfbench import kg_build, serve_sync
    from perfbench.tracing import Tracer

    workload = {"kg_build": kg_build, "serve_sync": serve_sync}[args.workload]
    tr = Tracer(bool(args.trace))
    try:
        res = workload.run(args, work, tr)
    finally:
        _stop_spark()
        peak_mb = rss.stop()
    steal = host.steal_s(ticks0, host.cpu_ticks())

    ops = res["ops"]
    e2e = ops.end_to_end(res["setup_s"], res["bytes_per_triple"])
    pct, tail_s, n_reads = ops.read_tail()
    facts = {**host.host_facts(), "steal_s": steal, "peak_rss_mb": peak_mb, **res["info"]}
    print(f"# host {json.dumps(facts, sort_keys=True)}")
    for name, unit in E2E_UNITS.items():
        print(f"# {args.workload} {name} = {e2e[name]:.6g} {unit}")
    if n_reads > 10:
        print(f"# {args.workload} read_tail_s = {tail_s:.6g} s (p{pct:g} of {n_reads} reads)")
    else:
        print(f"# {args.workload} read_tail_s: {n_reads} reads, none with ten samples beyond it")
    walls: dict[str, list[str]] = {}
    for r in ops.rows:
        walls.setdefault(f"{r['kind']}.{r['name']}", []).append(f"{r['wall']:.3f}")
    print("# op walls (s): " + "; ".join(f"{k} {' '.join(v)}" for k, v in walls.items()))
    for err in ops.errors:
        print(f"# FAILED {err}")

    if args.trace:
        from perfbench.layers import CATALOG

        lay = res["layers"]
        lay["host.steal_s"] = steal
        lay["host.peak_rss_mb"] = peak_mb
        os.makedirs(state, exist_ok=True)
        trace_path = os.path.join(state, f"trace_{args.workload}_seed{args.seed}.json")
        tr.dump(trace_path, {"layers": lay, "end_to_end": e2e, "host": facts, "ops": ops.rows})
        print(f"# trace written to {os.path.relpath(trace_path, ROOT)}")
        metrics = {k: {"value": float(lay[k]), "unit": u} for k, u in CATALOG.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
