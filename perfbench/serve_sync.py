"""Workload ``serve_sync``: reads beside whole-graph sync, the reference's
``serve`` path (directory sync on each request, src/sparql.rs:235-294).

Set-up writes the repositories of two organisations of the synthetic
code corpus as one N-Triples file per repository into a watched
directory, holds two median-sized repositories back (the seed picks
them) and builds the store from the rest.  Each cycle, in a closed loop
with one client:

1. the read mix (seeded order and constants) over the store as last loaded;
then, with the held-out graphs taken in turn, one per cycle:

2. add: put its file into the directory, ``store.sync_dir``;
3. ``store.load`` and one read: the added graph's triple count;
4. drop: remove the file, ``store.sync_dir``; the base graphs' statistics
   must be unchanged;
5. ``store.load``.

The store is read from parquet with no program cache, so each read pays
file listing, planning and execution.  Adds exercise the incremental
dictionary / encode / stats path (anti-join for new terms,
``zip_with_index``, ``sort_spo`` appends) that the bulk build never runs.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from perfbench import common, kg_build, layers, reads
from perfbench.tracing import Tracer

SF = 0.005  # 5,000 files over 161 repositories, of which the store holds ...
ORGS = ("org0", "org1")  # ... the 46 of these two organisations, ~1,400 files
N_MEDIAN_SIZED = 6  # held-out graphs and the repository the reads name come from these


def _file_name(graph: str) -> str:
    return graph[len("file:///"):]


def _nt_term(x: str) -> str:
    return x if x.startswith('"') or x.startswith("_:") else f"<{x}>"


def _write_files(con, watch: str, held_dir: str, held: set[str]) -> dict[str, int]:
    """One N-Triples file per repository graph; returns lines per held-out file."""
    lines: dict[str, list[str]] = {}
    for g, s, p, o in con.execute("SELECT graph, s, p, o FROM t ORDER BY graph, s, p, o").fetchall():
        lines.setdefault(g, []).append(f"{_nt_term(s)} {_nt_term(p)} {_nt_term(o)} .\n")
    counts = {}
    for g, ls in lines.items():
        with open(os.path.join(held_dir if g in held else watch, _file_name(g)), "w") as f:
            f.writelines(ls)
        if g in held:
            counts[g] = len(ls)
    return counts


def _stats_rows(spark, store_dir: str) -> dict[str, tuple]:
    return {r["graph"]: tuple(r) for r in spark.read.parquet(os.path.join(store_dir, "stats")).collect()}


def run(args, work: str, tr: Tracer) -> dict:
    from pyspark.sql import functions as F

    from de_spark import store
    from de_spark.pipeline import build

    from perfbench import host

    spark = common.start_session(tr)
    off = Tracer(False)
    rng = random.Random(args.seed)
    raw_dir, store_dir = os.path.join(work, "raw"), os.path.join(work, "store")
    watch, held_dir = os.path.join(work, "watch"), os.path.join(work, "held")
    os.makedirs(watch)
    os.makedirs(held_dir)
    with tr.span("setup", new_op=True):
        # graphs named as sync_dir names them: file:///<file name>
        graph = F.regexp_replace(F.col("graph"), "^repo:///([^/]*)/(.*)$", "file:///$1_$2.nt")
        in_orgs = F.col("graph").rlike("^repo:///(" + "|".join(ORGS) + ")/")
        common.code_raw(spark, SF).where(in_orgs).withColumn("graph", graph).write.parquet(raw_dir)
        con = common.duck(os.path.join(raw_dir, "*.parquet"))
        sizes = con.execute("SELECT graph, COUNT(*) AS n FROM t GROUP BY graph ORDER BY graph").fetchall()
        # hold back two of the graphs nearest the median size, so each add moves a similar amount of data
        mid = sorted(n for _, n in sizes)[len(sizes) // 2]
        near = sorted(g for g, _ in sorted(sizes, key=lambda gn: (abs(gn[1] - mid), gn[0]))[:N_MEDIAN_SIZED])
        held = rng.sample(near, 2)
        held_lines = _write_files(con, watch, held_dir, set(held))
        build(spark.read.parquet(raw_dir).where(~F.col("graph").isin(held)), store_dir)
        kg = store.load(spark, store_dir)
        reads.run_read(kg, reads.WARMUP_READ, off)
    setup_s = host.process_age_s()
    base_stats = _stats_rows(spark, store_dir)
    con.close()
    held_sql = ", ".join(f"'{g}'" for g in held)
    con = common.duck(os.path.join(raw_dir, "*.parquet"), f"graph NOT IN ({held_sql})")
    repos = [g[len("file:///"):-len(".nt")].replace("_", "/") for g in near if g not in held]
    mix = [r for r in reads.read_mix(reads.pick_consts(rng, con, repos)) if r.name not in kg_build.READS]
    want = {r.name: reads.oracle_lines(con, r.oracle) for r in mix}
    con.close()

    ops = common.Ops()
    deadline = time.monotonic() + args.seconds
    cycle = 0
    while cycle == 0 or time.monotonic() < deadline or (tr.enabled and cycle < 2):
        t = tr if tr.enabled and cycle > 0 else off
        for r in rng.sample(mix, len(mix)):
            _read(kg, r.name, r.sparql, t, ops, lambda got, r=r: reads.matches(r, got, want[r.name]))
        g = held[cycle % 2]
        kg = _add_and_drop(spark, store_dir, watch, held_dir, g, held_lines[g], base_stats, t, ops)
        cycle += 1

    live = sum(r[1] for r in _stats_rows(spark, store_dir).values())
    bytes_per_triple = common.kg_bytes(store_dir) / max(1, live)
    lay = layers.zeroed()
    if tr.enabled:
        _replay(spark, tr, store_dir, os.path.join(held_dir, _file_name(held[0])))
        tr.collect_jobs()
        _serve_layers(tr, lay)
        layers.read_layers(tr, lay)
        layers.overheads(ops, lay)
    return {
        "ops": ops,
        "setup_s": setup_s,
        "bytes_per_triple": bytes_per_triple,
        "layers": lay,
        "info": {"sf": SF, "cycles": cycle, "held_out": held, "held_triples": held_lines},
    }


def _add_and_drop(spark, store_dir, watch, held_dir, g: str, n_lines: int, base_stats, t: Tracer, ops: common.Ops):
    """Steps 2-5 of a cycle for held-out graph ``g``; returns the store as
    loaded after the drop."""
    from de_spark import store

    shutil.copy(os.path.join(held_dir, _file_name(g)), watch)
    common.settle(spark)
    with t.span("store.sync_dir.add", new_op=True):
        (added, dropped), wall = common.timed(store.sync_dir, spark, store_dir, watch)
    ops.add("write", "add", wall, (added, dropped) == ([g], []), t.enabled,
            triples=n_lines, why=f"added {added} dropped {dropped}")
    kg = _load(spark, store_dir, t, ops)
    _read(kg, "graph_count", reads.graph_count_read(g), t, ops, lambda got: got == [str(n_lines)])
    os.remove(os.path.join(watch, _file_name(g)))
    common.settle(spark)
    with t.span("store.sync_dir.drop", new_op=True):
        (added, dropped), wall = common.timed(store.sync_dir, spark, store_dir, watch)
    same = _stats_rows(spark, store_dir) == base_stats
    ops.add("drop", "drop", wall, (added, dropped) == ([], [g]) and same, t.enabled,
            why=f"added {added} dropped {dropped}, base graph statistics unchanged: {same}")
    return _load(spark, store_dir, t, ops)


def _load(spark, store_dir: str, t: Tracer, ops: common.Ops):
    from de_spark import store

    with t.span("graph.load", new_op=True):
        kg, wall = common.timed(store.load, spark, store_dir)
    ops.add("load", "load", wall, True, t.enabled)
    return kg


def _read(kg, name: str, text: str, t: Tracer, ops: common.Ops, check) -> None:
    with t.span("read", new_op=True, query=name) as sp:
        got, wall = common.timed(reads.run_read, kg, text, t)
        if sp is not None:
            sp.attrs["rows"] = len(got)
    ops.add("read", name, wall, check(got), t.enabled, why=f"{len(got)} lines")


def _replay(spark, tr: Tracer, store_dir: str, nt_file: str) -> None:
    """Re-run, each to a no-op sink, the calls ``store.add_graph`` makes
    for one held-out file, against the store as it is now."""
    from pyspark.sql import functions as F

    from de_spark.dictionary import build_dictionary, position_flags, zip_with_index
    from de_spark.encode import encode_triples, sort_spo
    from de_spark.sources.router import read_rdf
    from de_spark.stats import void_stats

    handles: list = []
    with tr.span("replay", new_op=True):
        with tr.span("sources.read_rdf"):
            raw = read_rdf(spark, [nt_file])[0].persist()
            handles.append(raw)
            raw.count()
        uids = spark.read.parquet(os.path.join(store_dir, "term_uids"))
        max_uid = uids.agg(F.max("uid")).collect()[0][0] or 0
        with tr.span("dictionary.position_flags"):
            flags = position_flags(raw).persist()
            handles.append(flags)
            flags.count()
        with tr.span("dictionary.zip_with_index") as sp:
            new_terms = flags.select("term").distinct().join(uids, "term", "left_anti")
            appended = zip_with_index(new_terms, ["term"], id_col="idx", handles=handles).select(
                "term", (F.col("idx") + 1 + F.lit(max_uid)).alias("uid")
            )
            sp.attrs["terms"] = appended.count()
        all_uids = uids.unionByName(appended)
        with tr.span("dictionary.build_dictionary"):
            common.noop(build_dictionary(raw, all_uids, flags, handles=handles))
        p_vocab = flags.where(F.col("is_p") == 1).select("term").distinct()
        with tr.span("encode.encode_triples"):
            common.noop(encode_triples(raw, all_uids, p_vocab))
        with tr.span("encode.sort_spo"):
            common.noop(sort_spo(encode_triples(raw, all_uids, p_vocab)))
        with tr.span("stats.void_stats"):
            common.noop(void_stats(raw))
    for h in handles:
        h.unpersist()


def _serve_layers(tr: Tracer, out: dict) -> None:
    med, smed = common.median, layers.span_median
    out["session.start_s"] = smed(tr, "session.start")
    adds, drops = tr.named("store.sync_dir.add"), tr.named("store.sync_dir.drop")
    out["store.add_s"] = med([s.dur for s in adds])
    add_work = [tr.work_in(tr.subtree({s.id})) for s in adds]
    out["store.add.jobs"] = med([w.jobs for w in add_work])
    out["store.add.shuffle_write_mb"] = med([w.shuffle_write_mb for w in add_work])
    out["store.add.spill_mb"] = med([w.spill_mb for w in add_work])
    out["store.drop_s"] = med([s.dur for s in drops])
    out["store.drop.jobs"] = med([tr.work_in(tr.subtree({s.id})).jobs for s in drops])
    out["graph.load_s"] = smed(tr, "graph.load")
    out["sources.read_s"] = smed(tr, "sources.read_rdf")
    out["dictionary.flags_s"] = smed(tr, "dictionary.position_flags")
    out["dictionary.index_s"] = smed(tr, "dictionary.zip_with_index")
    out["dictionary.terms"] = med([s.attrs.get("terms", 0) for s in tr.named("dictionary.zip_with_index")])
    dw = tr.work_in({s.id for s in tr.spans if s.name.startswith("dictionary.")})
    out["dictionary.shuffle_write_mb"], out["dictionary.spill_mb"] = dw.shuffle_write_mb, dw.spill_mb
    out["store.add.uids_s"] = out["dictionary.flags_s"] + out["dictionary.index_s"]
    out["store.add.dict_s"] = smed(tr, "dictionary.build_dictionary")
    out["encode.self_s"] = smed(tr, "encode.encode_triples")
    out["store.add.triples_s"] = smed(tr, "encode.sort_spo")
    out["encode.sort_s"] = max(0.0, out["store.add.triples_s"] - out["encode.self_s"])
    ew = tr.work_in({s.id for s in tr.spans if s.name.startswith("encode.")})
    out["encode.shuffle_write_mb"], out["encode.spill_mb"] = ew.shuffle_write_mb, ew.spill_mb
    out["stats.self_s"] = out["store.add.stats_s"] = smed(tr, "stats.void_stats")
