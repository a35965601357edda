"""Whole-graph add/drop on a materialized KG store.

Mirrors the reference's mutation surface exactly (SURVEY.md §2.11):
HDT graphs are immutable — the server forbids DELETE DATA /
DELETE-INSERT (src/serve.rs:880-890) and only allows inserting into
NEW named graphs (src/serve.rs:818-849) and dropping whole graphs
(src/serve.rs:892-960, file removal src/sparql.rs:177-221).

Spark/Iceberg realization: the triples/dict/stats tables are
partitioned by graph, so

- ``add_graph``   = append the new graph's partitions + extend the
  global term-uid table with only the NEW terms (uids continue after
  the current max, assigned in term order — existing uids never
  change, so existing encoded triples stay valid);
- ``drop_graph``  = drop the graph's partitions (dynamic partition
  overwrite semantics; stale uids for terms that only occurred in the
  dropped graph are harmless, like the reference's leftover side-car
  cache files, and are compacted away by a rebuild).

An add parses its input once (persisted) and runs its independent
Spark actions on driver threads, as ``pipeline.build`` does: the uid
table's max, the two index passes (unseen terms → uids; sections →
sec_ids) and the collect of the input's graphs (each with whether the
store has it) run together; then come the clash check and the marker;
then the dict, triples (encode + SPO sort) and stats appends run
together, and the term_uids append runs last (why: see the comment at
that append).  The commit protocol is unchanged: the write-ahead marker
is written before the first append and removing it is the commit
point, so a failure in any thread leaves the marker and the next
mutation or ``load`` rolls the store back.

On Iceberg these appends/drops are snapshot commits
(``overwritePartitions``), giving the reference's per-request snapshot
semantics (AggregateHdt::get_snapshot, src/sparql.rs:78-118) as
time-travel.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_spark.dictionary import extend_dict_and_uids, position_flags
from de_spark.encode import encode_triples, sort_spo
from de_spark.graph import KnowledgeGraph
from de_spark.session import run_concurrently
from de_spark.stats import void_stats_from_flags


class GraphExistsError(ValueError):
    """Reference behavior: inserting into an existing graph is refused
    (src/serve.rs:818-849)."""


def _graphs(spark: SparkSession, base_dir: str) -> set[str]:
    """The store's committed graphs (a torn add is rolled back first, so
    its graphs never count as registered)."""
    _recover_pending(base_dir)
    return {r["graph"] for r in _stats_graphs(spark, base_dir).collect()}


def _stats_graphs(spark: SparkSession, base_dir: str) -> DataFrame:
    # a given schema skips Spark's footer-reading schema inference job
    return spark.read.schema("graph STRING").parquet(f"{base_dir}/stats")


def _input_graphs(spark: SparkSession, base_dir: str, flags: DataFrame) -> dict[str, bool]:
    """The graphs of an add's input, each mapped to whether the store
    already has it: one aggregate over the input's flags and the stats
    table (one exchange, where a distinct plus a ``_graphs`` scan take
    two actions)."""
    tagged = flags.select("graph", F.lit(1).alias("is_input"), F.lit(0).alias("registered"))
    tagged = tagged.unionByName(
        _stats_graphs(spark, base_dir).select(
            "graph", F.lit(0).alias("is_input"), F.lit(1).alias("registered")
        )
    )
    rows = (
        tagged.groupBy("graph")
        .agg(F.max("is_input").alias("is_input"), F.max("registered").alias("registered"))
        .where(F.col("is_input") == 1)
        .collect()
    )
    return {r["graph"]: bool(r["registered"]) for r in rows}


_PENDING = ".pending_add.json"
_ADD_TABLES = ("term_uids", "dict", "stats")  # triples handled per-partition


def _list_files(base_dir: str, table: str) -> list[str]:
    import os

    root = f"{base_dir}/{table}"
    out = []
    for dirpath, _, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        for f in files:
            out.append(f if rel == "." else f"{rel}/{f}")
    return sorted(out)


def _recover_pending(base_dir: str) -> None:
    """Undo a torn ``add_graph``: the write-ahead marker records the
    pre-existing files of every appended table; any file not in that
    manifest was written by the interrupted transaction and is removed
    (triples partitions of the pending graphs are dropped whole).  The
    marker's removal is the COMMIT POINT — a crash anywhere before it
    rolls the store back to the pre-add snapshot, so a replayed
    streaming batch re-runs ``add_graph`` against clean state instead
    of duplicating dict/triples rows (ADVICE r2: stats registration is
    written last but the earlier appends were not undone on replay)."""
    import json
    import os
    from urllib.parse import unquote

    marker = f"{base_dir}/{_PENDING}"
    if not os.path.exists(marker):
        return
    with open(marker) as f:
        txn = json.load(f)
    for table in _ADD_TABLES:
        keep = set(txn["manifest"][table])
        root = f"{base_dir}/{table}"
        for rel in _list_files(base_dir, table):
            if rel not in keep:
                os.remove(os.path.join(root, rel))
    tdir = f"{base_dir}/triples"
    pending = set(txn["graphs"])
    for d in os.listdir(tdir):
        if d.startswith("graph=") and unquote(d[len("graph="):]) in pending:
            shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
    os.remove(marker)


def add_graph(spark: SparkSession, base_dir: str, triples_raw: DataFrame) -> None:
    """Append new named graph(s) to a materialized store.

    Every graph in ``triples_raw`` must be new (GraphExistsError
    otherwise); an input with no rows adds nothing.  Unseen terms get
    uids after the current max; the new partitions are appended to
    triples/dict/stats concurrently, then term_uids.  The append is
    journaled: a write-ahead marker + file manifest makes a torn add
    roll back on the next mutation (see ``_recover_pending``), so
    foreachBatch replays are exactly-once.
    """
    import json
    import os

    _recover_pending(base_dir)
    # every consumer below reads the input: parse it once
    raw = triples_raw.persist()
    flags = position_flags(raw).persist()
    handles: list[DataFrame] = [raw, flags]
    try:
        # fixed schema: no inference job in the serial prefix (as _graphs)
        uids = spark.read.schema("term STRING, uid LONG").parquet(f"{base_dir}/term_uids")
        # the input's graphs are collected beside the index passes:
        # nothing is written before the marker below
        dict_df, new_uids, graph_uids, (input_graphs,) = extend_dict_and_uids(
            flags, uids, handles, extra=[lambda: _input_graphs(spark, base_dir, flags)]
        )
        if not input_graphs:
            return  # nothing to add
        clash = {g for g, registered in input_graphs.items() if registered}
        if clash:
            raise GraphExistsError(f"graphs already exist (immutable): {sorted(clash)}")

        marker = f"{base_dir}/{_PENDING}"
        txn = {
            "graphs": sorted(input_graphs),
            "manifest": {t: _list_files(base_dir, t) for t in _ADD_TABLES},
        }
        tmp_marker = marker + ".tmp"
        with open(tmp_marker, "w") as f:
            json.dump(txn, f)
        os.replace(tmp_marker, marker)

        p_vocab = flags.where(F.col("is_p") == 1).select("term").distinct()
        triples = sort_spo(encode_triples(raw, graph_uids, p_vocab))
        stats = void_stats_from_flags(raw, flags)
        run_concurrently(
            [
                lambda: dict_df.write.mode("append").parquet(f"{base_dir}/dict"),
                lambda: triples.write.mode("append")
                .partitionBy("graph")
                .parquet(f"{base_dir}/triples"),
                lambda: stats.write.mode("append").parquet(f"{base_dir}/stats"),
            ]
        )
        # term_uids goes last, never beside the other appends: a write to
        # a path makes Spark refresh the file index of every cached plan
        # reading that path (recacheByPath) and rebuild its cache.  The
        # cached uid lookup reads term_uids, so in-flight dict/encode
        # joins would find each new term twice: once in the refreshed
        # lookup, once in new_uids.
        new_uids.write.mode("append").parquet(f"{base_dir}/term_uids")
        os.remove(marker)  # COMMIT: the add is durable only past this point
    finally:
        for h in handles:
            h.unpersist()


def drop_graph(spark: SparkSession, base_dir: str, graph: str) -> bool:
    """Remove a named graph (whole-graph drop, src/sparql.rs:177-221).

    Returns False if the graph is not registered.  With Iceberg this is
    one ``DELETE WHERE graph = …`` snapshot commit; on the parquet
    layout it rewrites the unaffected partitions of the unpartitioned
    tables and drops the graph's partition dir from triples.
    """
    if graph not in _graphs(spark, base_dir):
        return False
    # triples: partitioned by graph → drop the partition directory
    # (match by unescaping the dir names — Spark's partition-path
    # escaping is not exactly urllib's quote)
    import os
    from urllib.parse import unquote

    tdir = f"{base_dir}/triples"
    for d in os.listdir(tdir):
        if d.startswith("graph=") and unquote(d[len("graph="):]) == graph:
            shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
    # dict/stats: rewrite without the graph, staged through a temp dir
    # then atomically renamed — an in-place overwrite would delete the
    # source files mid-read (a lost cached partition after the delete
    # would corrupt the table; Iceberg gets this for free via snapshot
    # commits, the parquet stand-in must stage explicitly)
    for table in ("dict", "stats"):
        final = f"{base_dir}/{table}"
        tmp = f"{base_dir}/.{table}.staging"
        old = f"{base_dir}/.{table}.old"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        spark.read.parquet(final).where(F.col("graph") != graph).write.mode(
            "overwrite"
        ).parquet(tmp)
        os.rename(final, old)
        os.rename(tmp, final)
        shutil.rmtree(old, ignore_errors=True)
    return True


def sync_dir(spark: SparkSession, base_dir: str, rdf_dir: str) -> tuple[list[str], list[str]]:
    """Directory sync (reference ``AggregateHdt::sync``,
    src/sparql.rs:235-294, invoked per HTTP request at
    src/serve.rs:159-161): diff the RDF files on disk against the
    registered graphs — new files become new named graphs
    (``file:///<name>``), graphs whose file vanished are dropped.

    Returns (added_graphs, dropped_graphs).
    """
    import os

    from de_spark.sources.nt import graph_iri_for_file
    from de_spark.sources.router import read_rdf

    rdf_exts = {".nt", ".ntriples", ".nq", ".nquads", ".ttl", ".turtle", ".n3",
                ".trig", ".rdf", ".owl", ".xml"}
    on_disk = {
        graph_iri_for_file(f): os.path.join(rdf_dir, f)
        for f in sorted(os.listdir(rdf_dir))
        if os.path.splitext(f)[1].lower() in rdf_exts
    }
    registered = _graphs(spark, base_dir)

    added, dropped = [], []
    new_paths = [p for g, p in on_disk.items() if g not in registered]
    if new_paths:
        raw, _, _ = read_rdf(spark, new_paths)
        add_graph(spark, base_dir, raw)
        added = sorted(set(on_disk) - registered)
    for g in sorted(registered - set(on_disk)):
        if drop_graph(spark, base_dir, g):
            dropped.append(g)
    return added, dropped


def load(spark: SparkSession, base_dir: str) -> KnowledgeGraph:
    _recover_pending(base_dir)
    return KnowledgeGraph.load(spark, base_dir)


def execute_update(spark: SparkSession, base_dir: str, update_text: str) -> list[str]:
    """Run a SPARQL UPDATE string against a materialized store with the
    reference's two-phase validate-then-execute discipline
    (src/serve.rs:783-1121): EVERY operation is validated against the
    current graph set before ANY executes, so a refused op leaves the
    store untouched.  Returns a log line per executed operation.

    Allowed: CREATE (no-op), INSERT DATA into new named graphs, LOAD
    into a new named graph, CLEAR/DROP of an existing named graph.
    Refused (UpdateRefusedError): DELETE DATA, DELETE/INSERT, inserts
    into existing graphs or the default graph, DEFAULT/NAMED/ALL graph
    targets — the parse layer raises for the statically-refused forms.
    """
    from de_spark import terms
    from de_spark.query.update import UpdateRefusedError, parse_update

    ops = parse_update(update_text)
    registered = _graphs(spark, base_dir)

    # phase 1: validate all operations against the CURRENT snapshot,
    # tracking the graph-set effects so multi-op updates validate in
    # sequence (INSERT then DROP of the same graph is legal)
    pending = set(registered)
    for op in ops:
        if op.kind == "create":
            if op.graph in pending and not op.silent:
                raise UpdateRefusedError(f"Graph {op.graph} already exists.")
        elif op.kind == "insert_data":
            if None in op.quads:
                raise UpdateRefusedError(
                    "INSERT DATA to default graph is not allowed. "
                    "Only named graphs are supported."
                )
            for g in op.quads:
                if g in pending:
                    raise UpdateRefusedError(
                        f"Graph {g} already exists. "
                        "INSERT DATA is only allowed to new graphs."
                    )
            pending |= set(op.quads)
        elif op.kind == "load":
            if op.graph in pending and not op.silent:
                raise UpdateRefusedError(
                    f"Graph {op.graph} already exists. "
                    "LOAD is only allowed to new graphs."
                )
            pending.add(op.graph)
        elif op.kind in ("clear", "drop"):
            if op.graph not in pending and not op.silent:
                raise UpdateRefusedError(f"Graph {op.graph} does not exist.")
            pending.discard(op.graph)

    # phase 2: execute
    log: list[str] = []
    for op in ops:
        if op.kind == "create":
            log.append(f"CREATE GRAPH {op.graph} - will be created on first INSERT")
        elif op.kind == "insert_data":
            rows = [
                (t.s, t.p, t.o, terms.classify_py(t.o), g)
                for g, triples in sorted(op.quads.items())
                for t in triples
            ]
            raw = spark.createDataFrame(rows, ["s", "p", "o", "o_kind", "graph"])
            add_graph(spark, base_dir, raw)
            log.append(
                f"INSERT DATA: {len(rows)} triples into {len(op.quads)} new graph(s)"
            )
        elif op.kind == "load":
            from pyspark.sql import functions as F  # noqa: F811

            from de_spark.sources.router import read_rdf

            path = op.source
            if path.startswith("file://"):
                path = path[len("file://"):]
            raw, unhandled, _ = read_rdf(spark, [path])
            if unhandled:
                raise ValueError(f"LOAD source has an unhandled format: {op.source}")
            add_graph(spark, base_dir, raw.withColumn("graph", F.lit(op.graph)))
            log.append(f"LOAD {op.source} INTO GRAPH {op.graph}")
        elif op.kind in ("clear", "drop"):
            if drop_graph(spark, base_dir, op.graph):
                log.append(f"{op.kind.upper()} GRAPH {op.graph}")
            else:
                log.append(f"{op.kind.upper()} GRAPH {op.graph} (absent, SILENT)")
    return log
