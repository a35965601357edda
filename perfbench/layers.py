"""Per-layer metrics of a traced run, named after the de_spark modules.

Every workload reports the whole catalog; a layer a workload never calls
reads 0.  Times are medians per operation; work counts (jobs, task
seconds, MB) are medians per operation of the Spark work attributed to
that layer's spans.
"""

from __future__ import annotations

from perfbench.common import median

READS = (
    "hub_bgp", "calls_2hop", "imports_fanin", "not_exists", "fns_per_repo", "optional_filter",
    "union_minus", "graph_files", "ask", "construct", "describe", "graph_count",
)

CATALOG: dict[str, str] = {
    "session.start_s": "s",
    "corpus.self_s": "s",
    "extract.self_s": "s",
    "extract.task_s": "s",
    "extract.rows": "rows",
    "dictionary.flags_s": "s",
    "dictionary.index_s": "s",
    "dictionary.terms": "rows",
    "dictionary.shuffle_write_mb": "MB",
    "dictionary.spill_mb": "MB",
    "encode.plan_s": "s",
    "encode.self_s": "s",
    "encode.sort_s": "s",
    "encode.shuffle_write_mb": "MB",
    "encode.spill_mb": "MB",
    "stats.self_s": "s",
    "pipeline.build_s": "s",
    **{f"pipeline.stage.{st}_s": "s" for st in ("extract", "term_uids", "dict", "triples", "stats", "pred_stats")},
    "pipeline.unstaged_s": "s",
    "pipeline.jobs": "count",
    "pipeline.task_s": "s",
    "pipeline.gc_s": "s",
    "pipeline.shuffle_write_mb": "MB",
    "pipeline.spill_mb": "MB",
    "store.add_s": "s",
    **{f"store.add.{st}_s": "s" for st in ("uids", "dict", "triples", "stats")},
    "store.add.jobs": "count",
    "store.add.shuffle_write_mb": "MB",
    "store.add.spill_mb": "MB",
    "store.drop_s": "s",
    "store.drop.jobs": "count",
    "sources.read_s": "s",
    "graph.load_s": "s",
    "parser.parse_ms": "ms",
    "sparql.compile_s": "s",
    "sparql.compile_jobs": "count",
    "catalyst.plan_s": "s",
    "catalyst.plan_nodes": "count",
    "results.exec_s": "s",
    "results.rows": "rows",
    "exec.jobs": "count",
    "exec.task_s": "s",
    "exec.shuffle_read_mb": "MB",
    **{f"q.{q}.{ph}_s": "s" for q in READS for ph in ("parse", "compile", "plan", "exec")},
    "trace.write_overhead_s": "s",
    "trace.read_overhead_s": "s",
    "host.steal_s": "s",
    "host.peak_rss_mb": "MB",
}


def zeroed() -> dict[str, float]:
    return {k: 0.0 for k in CATALOG}


def read_layers(tr, out: dict[str, float]) -> None:
    """Query-layer metrics from the traced reads (spans named ``read``)."""
    per: dict[str, list[float]] = {k: [] for k in (
        "parse", "compile", "plan", "exec", "nodes", "rows", "cjobs", "ejobs", "etask", "eread")}
    by_query: dict[str, dict[str, list[float]]] = {}
    for op in tr.named("read"):
        kids = [s for s in tr.spans if s.parent == op.id]
        t = {ph: sum(s.dur for s in kids if s.name == name) for ph, name in (
            ("parse", "query.parser.parse"), ("compile", "query.sparql.compile"),
            ("plan", "catalyst.plan"), ("exec", "query.results.exec"))}
        for ph, v in t.items():
            per[ph].append(v)
            by_query.setdefault(op.attrs["query"], {}).setdefault(ph, []).append(v)
        per["nodes"].append(sum(s.attrs.get("plan_nodes", 0) for s in kids))
        per["rows"].append(op.attrs.get("rows", 0))
        comp = tr.work_in({s.id for s in kids if s.name == "query.sparql.compile"})
        ex = tr.work_in({s.id for s in kids if s.name in ("catalyst.plan", "query.results.exec")})
        per["cjobs"].append(comp.jobs)
        per["ejobs"].append(ex.jobs)
        per["etask"].append(ex.task_s)
        per["eread"].append(ex.shuffle_read_mb)
    out["parser.parse_ms"] = 1e3 * median(per["parse"])
    out["sparql.compile_s"] = median(per["compile"])
    out["sparql.compile_jobs"] = median(per["cjobs"])
    out["catalyst.plan_s"] = median(per["plan"])
    out["catalyst.plan_nodes"] = median(per["nodes"])
    out["results.exec_s"] = median(per["exec"])
    out["results.rows"] = median(per["rows"])
    out["exec.jobs"] = median(per["ejobs"])
    out["exec.task_s"] = median(per["etask"])
    out["exec.shuffle_read_mb"] = median(per["eread"])
    for q, phases in by_query.items():
        for ph, vs in phases.items():
            out[f"q.{q}.{ph}_s"] = median(vs)


def overheads(ops, out: dict[str, float]) -> None:
    """Traced minus untraced median wall, per operation kind, from the
    same run: its first cycle runs untraced."""
    for kind in ("write", "read"):
        on, off = ops.walls(kind, traced=True), ops.walls(kind, traced=False)
        if on and off:
            out[f"trace.{kind}_overhead_s"] = median(on) - median(off)


def span_median(tr, name: str) -> float:
    return median([s.dur for s in tr.named(name)])
