"""Checkpointed end-to-end build: the ``de create`` equivalent.

Stages (each a checkpoint, per north_rule resumability):

  1. extract      — source rows → triples_raw strings
  2. term_uids    — global term→uid assignment   ┐ one shared index pass,
  3. dict         — four-section dictionary      ┘ written concurrently
  4. triples      — uid-encoded, SPO-sorted, graph-partitioned
  5. stats        — VOID header stats            ┐ derived from dict+enc,
  6. pred_stats   — predicate degree stats       ┘ written concurrently

Each stage writes parquet plus a ``_manifest.json`` with row count,
wall-clock, schema and an order-insensitive content fingerprint
(XOR of per-row xxhash64 — cheap, distributed, deterministic).  A
killed job resumes by skipping stages whose manifest already exists
(``build(..., resume=True)``).  Per-graph lineage lives in the stats
table itself (one row per graph with its triple count) — the resume /
repair unit is the graph partition.

Driver-serial cost is the scaling-efficiency enemy (north_rule ≥0.8
from N to 4N): every action pays Catalyst planning + codegen on one
core.  This build therefore (a) computes dict sec_ids AND term uids
from ONE zip_with_index pass (round 1 ran two, each with a persist +
boundary-sampling job + offsets collect), (b) derives VOID + predicate
stats from COLUMN-PRUNED scans of the just-written dict/triples
parquet (the scans touch only `graph` + `p_id`, sub-second at sf1.0;
fully distributed — r6's in-flight variant collected per-(graph,p_id)
counts to the driver, which is O(#repos) driver memory at scale), and
(c) overlaps independent stage writes (uids ∥ dict ∥ triples — the
encode joins read the LIVE uid frame off the shared index cache, not
the uids parquet — and stats ∥ pred_stats) on driver threads so
planning and the per-stage straggler tail of one action hide under
execution of the others; only the 4N leg has idle cores to reclaim,
so the overlap directly widens N→4N scaling efficiency.  Wide
single-JVM local mode (local[N>16]) falls back to uids ∥ dict then
triples — measured allocation-contention exception, see build().
r7: the triples stage no longer persists the encode output for the
range-sampling pass — with shuffled-hash encode joins (session.py)
re-running the joins once is cheaper than materializing + re-reading
a fact-table-sized cache (73.8s → 29.6s at sf1.0 local[32]).

Iceberg note: the target deployment materializes these as partitioned
Iceberg tables (snapshot semantics = the reference's immutable HDT +
whole-graph add/drop, src/sparql.rs:126-221).  This container has no
Iceberg runtime, so the catalog layer is parquet + manifest files with
the same layout and the writes are plain ``write.parquet`` — swap
``write.parquet(path)`` for ``writeTo(table)`` on a real cluster.
"""

from __future__ import annotations

import functools
import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from de_spark.dictionary import build_dict_and_uids, position_flags
from de_spark.encode import encode_triples, plan_spo_partitions, planned_sort_spo
from de_spark.graph import KnowledgeGraph
from de_spark.session import run_concurrently
from de_spark.stats import void_stats_from_dict


def _lineage_exprs(df: DataFrame):
    """count + order-insensitive checksum as observe() metrics.

    Checksum = XOR of xxhash64 over all columns — cheap, JVM-side,
    deterministic regardless of row order/partitioning, and cannot
    overflow (sum would under ANSI mode).  Paired with the row count it
    detects any content change except exact duplicate-row multiplicity
    swaps.  Computed via the observation API DURING the write job —
    no second pass, no extra action (each extra action costs serial
    driver planning/codegen time that caps scaling efficiency)."""
    chk_expr = F.expr(
        "bit_xor(xxhash64(" + ", ".join(f"`{c}`" for c in df.columns) + "))"
    ).alias("chk")
    return [F.count(F.lit(1)).alias("n"), chk_expr]


@dataclass
class StageResult:
    name: str
    path: str
    rows: int
    checksum: int
    wall_ms: int
    skipped: bool


def _manifest_path(stage_dir: str) -> str:
    return os.path.join(stage_dir, "_manifest.json")


def _stage_done(stage_dir: str, resume: bool) -> bool:
    return resume and os.path.exists(_manifest_path(stage_dir))


def _write_stage(
    df: DataFrame,
    stage_dir: str,
    name: str,
    resume: bool,
    partition_by: list[str] | None = None,
) -> StageResult:
    if _stage_done(stage_dir, resume):
        with open(_manifest_path(stage_dir)) as f:
            m = json.load(f)
        return StageResult(name, stage_dir, m["rows"], m["checksum"], m["wall_ms"], True)

    from pyspark.sql import Observation

    t0 = time.monotonic()
    if callable(df):
        # deferred construction: runs on THIS stage's (possibly
        # overlapped) driver thread — the triples stage uses it so its
        # partition-boundary planning jobs (sample scan + uid-cache
        # probe + collect) overlap the uids/dict writes instead of
        # serializing ahead of them (r7: the eager variant lengthened
        # the 4-core critical path by the whole planning prefix)
        df = df()
    obs = Observation(f"lineage_{name}")
    out = df.observe(obs, *_lineage_exprs(df))
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage_dir)
    metrics = obs.get
    rows, checksum = int(metrics["n"]), int(metrics["chk"] or 0)
    wall_ms = int((time.monotonic() - t0) * 1000)

    with open(_manifest_path(stage_dir), "w") as f:
        json.dump(
            {
                "stage": name,
                "rows": rows,
                "checksum": checksum,
                "wall_ms": wall_ms,
                "schema": out.schema.simpleString(),
                # per-graph row lineage is materialized in the stats
                # stage (one row per graph) — not duplicated here
                "partitions": "see stats stage",
            },
            f,
            indent=1,
        )
    return StageResult(name, stage_dir, rows, checksum, wall_ms, False)


def _parallel_stages(jobs: list[tuple]) -> list[StageResult]:
    """Run independent _write_stage calls on driver threads."""
    return run_concurrently([functools.partial(_write_stage, *j) for j in jobs])


def build(
    triples_raw: DataFrame,
    out_dir: str,
    resume: bool = False,
) -> tuple[KnowledgeGraph, list[StageResult]]:
    """Materialize a KnowledgeGraph from string triples (``de create``)."""
    spark = triples_raw.sparkSession
    results: list[StageResult] = []
    os.makedirs(out_dir, exist_ok=True)

    raw_dir = f"{out_dir}/triples_raw"
    results.append(_write_stage(triples_raw, raw_dir, "extract", resume))
    raw = spark.read.parquet(raw_dir)

    uids_dir = f"{out_dir}/term_uids"
    dict_dir = f"{out_dir}/dict"
    triples_dir = f"{out_dir}/triples"
    handles: list[DataFrame] = []
    flags = None
    need_index = not (_stage_done(uids_dir, resume) and _stage_done(dict_dir, resume))
    need_triples = not _stage_done(triples_dir, resume)
    if not need_index:
        # skip the eager index pass entirely on resume
        results.append(_write_stage(None, uids_dir, "term_uids", resume))
        results.append(_write_stage(None, dict_dir, "dict", resume))
        if need_triples:
            # lineage from the checkpointed uids parquet (resume path)
            uids = spark.read.parquet(uids_dir)
            nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
            bounds = plan_spo_partitions(raw, uids, results[0].rows, nparts)
            results.append(
                _write_stage(
                    planned_sort_spo(encode_triples(raw, uids, None), bounds, nparts),
                    triples_dir,
                    "triples",
                    resume,
                    partition_by=["graph"],
                )
            )
        else:
            results.append(_write_stage(None, triples_dir, "triples", resume))
    else:
        # one term-universe shuffle (position flags) feeds the single
        # shared index pass that yields BOTH dict sec_ids and term uids
        flags = position_flags(raw).persist()
        handles.append(flags)
        dict_df, uids_df = build_dict_and_uids(flags, handles=handles, flags_persisted=True)
        # the uid table is read four times downstream (its own write,
        # the dict join, the s- and o-encode joins): persist so the
        # groupBy(term) agg over the index cache runs once
        uids_df = uids_df.persist()
        handles.append(uids_df)
        jobs = [
            (uids_df, uids_dir, "term_uids", resume),
            (dict_df, dict_dir, "dict", resume),
        ]
        # Overlap policy: encode against the LIVE uid frame (identical
        # content to the parquet being written — uid assignment is a
        # pure function of the sorted index) so the triples stage
        # needn't wait for the uids write: all three writes run
        # concurrently on driver threads over the one persisted index
        # frame.  Sequencing these (r5 shape: uids+dict, then read uids
        # parquet, then triples) leaves idle tail cores per stage that
        # only the high-parallelism leg could have used, so the overlap
        # directly buys N→4N scaling efficiency (interleaved A/B at
        # sf1.0 local[4]: 225.7s vs 243.2s, BENCH/ab_r6_overlap.log).
        # EXCEPTION — wide single-JVM local mode: this dev box measures
        # an allocation pathology above ~12 threads in ONE JVM
        # (BENCH/BASELINE.md machine-ceiling table), and three
        # concurrent jobs amplify it (local[32] sf0.1 interleaved mins:
        # 36-42s sequential vs 47s overlapped).  Executors on a real
        # cluster are separate JVMs, so the fallback applies only to
        # local[N>16]; cluster masters always overlap.
        # DE_SPARK_OVERLAP_WRITES: auto (default — gate on wide local),
        # always, never.  The two paths are result-identical (pinned by
        # test_pipeline::test_overlap_paths_equivalent); the knob exists
        # for operators and for that test.
        mode = os.environ.get("DE_SPARK_OVERLAP_WRITES", "auto")
        master = spark.sparkContext.master
        # ADVICE r6: the single-JVM allocation pathology the fallback
        # exists for applies to local[N] only — local-cluster[...] runs
        # separate executor JVMs, so it overlaps like a real cluster.
        single_jvm = master == "local" or master.startswith("local[")
        wide_local = (
            mode == "never"
            or (
                mode != "always"
                and single_jvm
                and spark.sparkContext.defaultParallelism > 16
            )
        )
        if need_triples:
            p_vocab = flags.where(F.col("is_p") == 1).select("term").distinct()
            # planned range partition (r7): repartitionByRange's
            # boundary-sampling pass re-ran the FULL encode joins
            # (~10-12s of the 29s triples stage at sf1.0); boundaries
            # now come from a seeded raw-sample broadcast-probed
            # against the uid cache (~2s, and it warms the uids cache
            # every downstream consumer reads anyway).  Deferred via a
            # callable so the planning jobs run on the triples stage's
            # own thread, overlapped with the uids/dict writes.
            nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
            n_raw = results[0].rows

            def _triples_df(raw=raw, uids=uids_df, pv=p_vocab):
                bounds = plan_spo_partitions(raw, uids, n_raw, nparts)
                return planned_sort_spo(encode_triples(raw, uids, pv), bounds, nparts)

            triples_job = (
                _triples_df,
                triples_dir,
                "triples",
                resume,
                ["graph"],
            )
            if not wide_local:
                jobs.append(triples_job)
        st = _parallel_stages(jobs)
        results.extend(st)
        if need_triples and wide_local:
            results.append(_write_stage(*triples_job))
        elif not need_triples:
            results.append(_write_stage(None, triples_dir, "triples", resume))

    # stats (VOID) ∥ pred_stats (BGP selectivity stats, SURVEY.md §4 P7)
    # — always derived from the WRITTEN dict + triples parquet.  The
    # triple/predicate counts scan only the `graph` partition value and
    # the dictionary-encoded `p_id` column (column pruning makes this a
    # sub-second scan even at sf1.0: 0.66s measured for the full
    # groupBy(graph, p_id) over 36M rows), and the distinct counts are
    # sums over the dict table.  This replaces r6's in-flight path that
    # `.collect()`ed per-(graph, p_id) counts to the driver — graph =
    # one named graph per repository, so that collect grew O(#repos)
    # and became a driver-memory bottleneck at 100× scale (VERDICT r6
    # item 4).  The distributed aggregation never moves per-graph rows
    # through the driver.
    stats_dir = f"{out_dir}/stats"
    pred_dir = f"{out_dir}/pred_stats"
    enc = spark.read.parquet(triples_dir)
    dict_read = spark.read.parquet(dict_dir)
    stats_df = void_stats_from_dict(dict_read, enc)
    pred_df = enc.groupBy("p_id").agg(F.count("*").alias("n"))
    results.extend(
        _parallel_stages(
            [
                (stats_df, stats_dir, "stats", resume),
                (pred_df, pred_dir, "pred_stats", resume),
            ]
        )
    )
    for h in handles:
        h.unpersist()

    return KnowledgeGraph.load(spark, out_dir), results
