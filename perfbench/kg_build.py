"""Workload ``kg_build``: the paper's headline, ``de create`` on the
synthetic code corpus (corpus → extract → ``pipeline.build`` into a fresh
directory), repeated in a closed loop with one client.  Each build is
followed by four reads of the fresh KG (the two ``bench.py`` times, plus
a GROUP BY/ORDER BY/LIMIT and an ASK), so the KG is checked as it would
be used.  The seed picks the read constants and order; the corpus itself
is a fixed function of its scale factor.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from perfbench import common, layers, reads
from perfbench.tracing import Tracer

SF = 0.005  # 5,000 files
WARMUP_SF = 0.001
TRIPLES_PER_FILE = 36  # 6 file/repo facts + 6 imports + 8 functions x 3
# order-insensitive checksum of the triples stage (xor of xxhash64 per row), by SF
TRIPLES_CHECKSUM = {0.005: -4020173177170937184}
# reads timed after each build; serve_sync runs the rest of the mix
READS = ("hub_bgp", "calls_2hop", "imports_fanin", "ask")


def _build(spark, tr, out_dir: str):
    from de_spark.corpus import generate_corpus
    from de_spark.extract import extract_code_triples
    from de_spark.pipeline import build

    with tr.span("corpus.generate_corpus"):
        corpus = generate_corpus(spark, SF)
    with tr.span("extract.extract_code_triples"):
        raw = extract_code_triples(corpus)
    with tr.span("pipeline.build"):
        return build(raw, out_dir)


def _check_build(stages) -> tuple[bool, str, int]:
    by = {s.name: s for s in stages}
    want = max(int(1_000_000 * SF), 10) * TRIPLES_PER_FILE
    rows = by["triples"].rows
    if rows != want or by["extract"].rows != want:
        return False, f"triples {rows}, extract {by['extract'].rows}, want {want}", rows
    want_chk = TRIPLES_CHECKSUM.get(SF)
    if want_chk is not None and by["triples"].checksum != want_chk:
        return False, f"triples checksum {by['triples'].checksum} != {want_chk}", rows
    return True, "", rows


def run(args, work: str, tr: Tracer) -> dict:
    from de_spark.pipeline import build

    from perfbench import host

    spark = common.start_session(tr)
    off = Tracer(False)
    with tr.span("warmup", new_op=True):
        kg, _ = build(common.code_raw(spark, WARMUP_SF), os.path.join(work, "warmup"))
        reads.run_read(kg, reads.WARMUP_READ, off)
    shutil.rmtree(os.path.join(work, "warmup"))
    setup_s = host.process_age_s()

    rng = random.Random(args.seed)
    ops = common.Ops()
    mix, want = None, {}
    stage_runs: list[tuple[float, list]] = []  # (pipeline.build span start, stages) of traced builds
    last_dir = None
    deadline = time.monotonic() + args.seconds
    cycle = 0
    while cycle == 0 or time.monotonic() < deadline or (tr.enabled and cycle < 2):
        # traced runs keep their first cycle untraced, as the overhead reference
        t = tr if tr.enabled and cycle > 0 else off
        out_dir = os.path.join(work, f"kg{cycle}")
        common.settle(spark)
        with t.span("build", new_op=True):
            (kg, stages), wall = common.timed(_build, spark, t, out_dir)
        ok, why, last_rows = _check_build(stages)
        checksum = next(s.checksum for s in stages if s.name == "triples")
        ops.add("write", "build", wall, ok, t.enabled, triples=last_rows, why=why)
        if t.enabled:
            stage_runs.append((t.named("pipeline.build")[-1].start, stages))
        if mix is None:
            con = common.duck(os.path.join(out_dir, "triples_raw", "*.parquet"))
            repos = [r[0] for r in con.execute("SELECT DISTINCT replace(graph, 'repo:///', '') FROM t").fetchall()]
            mix = [r for r in reads.read_mix(reads.pick_consts(rng, con, repos)) if r.name in READS]
            want = {r.name: reads.oracle_lines(con, r.oracle) for r in mix}
            con.close()
        for r in rng.sample(mix, len(mix)):
            with t.span("read", new_op=True, query=r.name) as sp:
                got, wall = common.timed(reads.run_read, kg, r.sparql, t)
                if sp is not None:
                    sp.attrs["rows"] = len(got)
            ops.add("read", r.name, wall, reads.matches(r, got, want[r.name]), t.enabled,
                    why=f"{len(got)} lines, want {len(want[r.name])}")
        if last_dir:
            shutil.rmtree(last_dir)
        last_dir = out_dir
        cycle += 1

    bytes_per_triple = common.kg_bytes(last_dir) / max(1, last_rows)
    lay = layers.zeroed()
    if tr.enabled:
        _replay(spark, tr, last_dir)
        tr.collect_jobs()
        _build_layers(tr, stage_runs, lay)
        layers.read_layers(tr, lay)
        layers.overheads(ops, lay)
    return {
        "ops": ops,
        "setup_s": setup_s,
        "bytes_per_triple": bytes_per_triple,
        "layers": lay,
        "info": {"sf": SF, "cycles": cycle, "triples_checksum": checksum},
    }


def _replay(spark, tr: Tracer, kg_dir: str) -> None:
    """Re-run, each to a no-op sink, the dictionary / encode / stats
    calls ``pipeline.build`` makes, on the last build's own extract output."""
    from pyspark.sql import functions as F

    from de_spark.dictionary import build_dict_and_uids, position_flags
    from de_spark.encode import encode_triples, plan_spo_partitions, planned_sort_spo
    from de_spark.stats import void_stats_from_dict

    raw = spark.read.parquet(os.path.join(kg_dir, "triples_raw"))
    handles: list = []
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with tr.span("replay", new_op=True):
        with tr.span("dictionary.position_flags"):
            flags = position_flags(raw).persist()
            handles.append(flags)
            flags.count()
        with tr.span("dictionary.build_dict_and_uids"):
            dict_df, uids = build_dict_and_uids(flags, handles=handles, flags_persisted=True)
            uids = uids.persist()
            handles.append(uids)
            common.noop(dict_df)
            common.noop(uids)
        p_vocab = flags.where(F.col("is_p") == 1).select("term").distinct()
        with tr.span("encode.plan_spo_partitions"):
            bounds = plan_spo_partitions(raw, uids, raw.count(), nparts)
        with tr.span("encode.encode_triples"):
            common.noop(encode_triples(raw, uids, p_vocab))
        with tr.span("encode.planned_sort_spo"):
            common.noop(planned_sort_spo(encode_triples(raw, uids, p_vocab), bounds, nparts))
        with tr.span("stats.void_stats_from_dict"):
            common.noop(
                void_stats_from_dict(
                    spark.read.parquet(os.path.join(kg_dir, "dict")),
                    spark.read.parquet(os.path.join(kg_dir, "triples")),
                )
            )
    for h in handles:
        h.unpersist()


def _build_layers(tr: Tracer, stage_runs: list, out: dict) -> None:
    med, smed = common.median, layers.span_median
    out["session.start_s"] = smed(tr, "session.start")
    out["corpus.self_s"] = smed(tr, "corpus.generate_corpus")
    out["extract.self_s"] = smed(tr, "extract.extract_code_triples")
    builds = tr.named("pipeline.build")
    out["pipeline.build_s"] = med([s.dur for s in builds])
    per_build = [tr.work_in(tr.subtree({s.id})) for s in builds]
    for key, attr in (("jobs", "jobs"), ("task_s", "task_s"), ("gc_s", "gc_s"),
                      ("shuffle_write_mb", "shuffle_write_mb"), ("spill_mb", "spill_mb")):
        out[f"pipeline.{key}"] = med([getattr(w, attr) for w in per_build])
    walls = [({s.name: s.wall_ms / 1e3 for s in stages}, start) for start, stages in stage_runs]
    for st in ("extract", "term_uids", "dict", "triples", "stats", "pred_stats"):
        out[f"pipeline.stage.{st}_s"] = med([w[st] for w, _ in walls])
    out["pipeline.unstaged_s"] = med([
        b.dur - w["extract"] - max(w["term_uids"], w["dict"], w["triples"]) - max(w["stats"], w["pred_stats"])
        for b, (w, _) in zip(builds, walls)
    ])
    out["extract.task_s"] = med([tr.jobs_between(start, start + w["extract"]).task_s for w, start in walls])
    out["extract.rows"] = med([s.rows for _, stages in stage_runs for s in stages if s.name == "extract"])
    out["dictionary.terms"] = med([s.rows for _, stages in stage_runs for s in stages if s.name == "term_uids"])
    out["dictionary.flags_s"] = smed(tr, "dictionary.position_flags")
    out["dictionary.index_s"] = smed(tr, "dictionary.build_dict_and_uids")
    dw = tr.work_in({s.id for s in tr.spans if s.name.startswith("dictionary.")})
    out["dictionary.shuffle_write_mb"], out["dictionary.spill_mb"] = dw.shuffle_write_mb, dw.spill_mb
    out["encode.plan_s"] = smed(tr, "encode.plan_spo_partitions")
    out["encode.self_s"] = smed(tr, "encode.encode_triples")
    out["encode.sort_s"] = max(0.0, smed(tr, "encode.planned_sort_spo") - out["encode.self_s"])
    ew = tr.work_in({s.id for s in tr.spans if s.name.startswith("encode.")})
    out["encode.shuffle_write_mb"], out["encode.spill_mb"] = ew.shuffle_write_mb, ew.spill_mb
    out["stats.self_s"] = smed(tr, "stats.void_stats_from_dict")
