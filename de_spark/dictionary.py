"""HDT-style four-section dictionary construction.

The reference delegates this to the hdt crate (``hdt::Hdt::read_nt``,
called at src/create.rs:40); the observable output format is the
published HDT Four Section Dictionary, confirmed from the committed
fixture tests/resources/apple.hdt (header keys ``dictionaryFour``,
``dictionarynumSharedSubjectObject``, ``dictionarymapping "1"``):

- terms are split into SO (subject∩object), S (subject-only),
  O (object-only) and P (predicate) sections, each sorted
  lexicographically;
- dense integer IDs: SO terms get 1..n_so in *both* the subject and the
  object ID space (mapping=1); S-only continue the subject space at
  n_so+1; O-only continue the object space at n_so+1; P has its own
  1..n_p space.

Spark realization (scale-first):

- section classification = semi/anti joins on distinct terms
  (shuffles on term; AQE handles hub-term skew);
- ordering = ``repartitionByRange(term).sortWithinPartitions(term)``
  (a range shuffle — no single-partition global sort);
- dense IDs = ``zipWithIndex`` over the range-sorted partitions
  (internally: one count-per-partition job + one map — the classic
  two-pass offset-cumsum, fully distributed and deterministic because
  IDs depend only on the global sort order, not on partition
  boundaries).

In addition to the per-graph HDT section IDs we assign every distinct
term string a **global uid** (one ID space across sections and graphs).
Triples are encoded with uids so that BGP joins on shared variables are
plain integer equi-joins even across positions and graphs; the
per-section sec_ids exist for HDT parity, stats and ordering.  This is a
deliberate deviation from HDT's in-file layout (we don't write HDT
bytes; triple-set equivalence is the contract — SURVEY.md §0).  The
build pipeline derives uids and sec_ids from ONE shared global index
(:func:`build_dict_and_uids`) — uids are unique and deterministic but
intentionally not dense.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from de_spark.session import run_concurrently

SECTION_ORDER = {"so": 0, "s": 1, "o": 2, "p": 3}


def zip_with_index(
    df: DataFrame,
    sort_cols: list[str],
    id_col: str = "idx",
    num_partitions: int | None = None,
    persist_input: bool = True,
    handles: list | None = None,
) -> DataFrame:
    """Append a dense 0-based long ``id_col`` following the global sort
    order of ``sort_cols`` — entirely JVM-side.

    The classic distributed two-pass: range partition + in-partition
    sort gives a total order; the partition id is materialized as a
    column and the frame persisted (so both passes see one layout);
    pass 1 collects per-partition counts (tiny — one row per
    partition); pass 2 adds offset + per-partition row_number.  The
    window is partitioned by pid, so no single-reducer global sort
    ever happens, and nothing crosses the Python boundary (the RDD
    zipWithIndex equivalent would serialize every row through Python).
    IDs depend only on the global sort order, not partition placement.

    ``persist_input=False`` skips caching the input (pass it when the
    caller already persisted the upstream — the boundary-sampling pass
    then reads that cache).  ``handles``, when given, collects every
    DataFrame this call persisted so the CALLER can unpersist them
    after materializing downstream results (without it the range-sorted
    frame would stay cached for the session — the returned frame reads
    from it lazily, so it cannot be unpersisted here).
    """
    from pyspark import StorageLevel

    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # cache the input: repartitionByRange runs a boundary-sampling pass
    # that would otherwise re-execute the (often join-heavy) upstream
    src = df.persist(StorageLevel.MEMORY_AND_DISK) if persist_input else df
    # monotonically_increasing_id is assigned in row order within each
    # partition (partition id in the upper bits) — over the persisted,
    # range-sorted frame it encodes (pid, local position) with NO
    # window and NO further exchange.  One tiny agg (a row per
    # partition) recovers per-partition minima + counts; the global
    # index is then pure map-side arithmetic.  The earlier
    # window-partitionBy(pid) formulation silently re-shuffled the
    # whole frame by pid hash.
    ordered = (
        src.repartitionByRange(num_partitions, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("__mid", F.monotonically_increasing_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if handles is not None:
        handles.append(ordered)
    pid = F.shiftrightunsigned(F.col("__mid"), 33)
    part_stats = sorted(
        (int(r["pid"]), int(r["cnt"]), int(r["mn"]))
        for r in ordered.groupBy(pid.alias("pid"))
        .agg(F.count("*").alias("cnt"), F.min("__mid").alias("mn"))
        .collect()
    )
    if persist_input:
        src.unpersist()  # ordered is materialized now; the source cache is done
    offsets: dict[int, int] = {}
    mins: dict[int, int] = {}
    acc = 0
    for p, cnt, mn in part_stats:
        offsets[p] = acc
        mins[p] = mn
        acc += cnt
    if not part_stats:
        return df.withColumn(id_col, F.lit(0).cast("long"))
    off_map = F.create_map(*[F.lit(x) for p in offsets for x in (p, offsets[p])])
    min_map = F.create_map(*[F.lit(x) for p in mins for x in (p, mins[p])])
    idx = (off_map[pid] + (F.col("__mid") - min_map[pid])).cast("long")
    return ordered.withColumn(id_col, idx).drop("__mid")


def position_flags(triples_raw: DataFrame) -> DataFrame:
    """(graph, term, is_s, is_o, is_p) — ONE shuffle for all the set
    algebra the four sections need (the semi/anti-join formulation
    would shuffle the term universe three times; the flag aggregation
    does it once, with map-side partial aggregation absorbing hub
    terms before the exchange).

    r7: the three position legs come from ONE scan via an inline
    explode of (term, position-bit) structs aggregated with bit_or —
    the r6 three-way union scanned the raw triples three times (once
    per position column); at sf1.0 local[32] the flags pass drops
    24.8s → 18.7s (guide §2.3/§6: fewer input passes)."""
    bits = triples_raw.select(
        "graph",
        F.explode(
            F.array(
                F.struct(F.col("s").alias("term"), F.lit(1).alias("b")),
                F.struct(F.col("o").alias("term"), F.lit(2).alias("b")),
                F.struct(F.col("p").alias("term"), F.lit(4).alias("b")),
            )
        ).alias("e"),
    ).select("graph", F.col("e.term").alias("term"), F.col("e.b").alias("b"))
    agg = bits.groupBy("graph", "term").agg(F.bit_or("b").alias("bits"))
    return agg.select(
        "graph",
        "term",
        F.when(F.col("bits").bitwiseAND(1) > 0, 1).otherwise(0).alias("is_s"),
        F.when(F.col("bits").bitwiseAND(2) > 0, 1).otherwise(0).alias("is_o"),
        F.when(F.col("bits").bitwiseAND(4) > 0, 1).otherwise(0).alias("is_p"),
    )


def _sections(flags: DataFrame) -> DataFrame:
    """flags → (graph, term, section, sec_ord) four-section rows."""
    spo = flags.where((F.col("is_s") == 1) | (F.col("is_o") == 1)).select(
        "graph",
        "term",
        F.when((F.col("is_s") == 1) & (F.col("is_o") == 1), F.lit("so"))
        .when(F.col("is_s") == 1, F.lit("s"))
        .otherwise(F.lit("o"))
        .alias("section"),
    )
    # a term used as predicate AND subject/object gets two dict rows,
    # one per ID space — exactly HDT's separate P section
    p_sec = flags.where(F.col("is_p") == 1).select(
        "graph", "term", F.lit("p").alias("section")
    )
    sections = spo.unionByName(p_sec)
    return sections.withColumn(
        "sec_ord",
        F.when(F.col("section") == "so", F.lit(0))
        .when(F.col("section") == "s", F.lit(1))
        .when(F.col("section") == "o", F.lit(2))
        .otherwise(F.lit(3)),
    )


def _rank_sections(indexed: DataFrame) -> DataFrame:
    """Global (graph, sec_ord, term) index → HDT per-section sec_ids
    via tiny broadcast group minima (no second sort)."""
    mins = indexed.groupBy("graph", "section").agg(F.min("idx").alias("min_idx"))
    n_so = (
        indexed.where(F.col("section") == "so")
        .groupBy("graph")
        .agg(F.count("*").alias("n_so"))
    )
    ranked = (
        indexed.join(F.broadcast(mins), ["graph", "section"])
        .join(F.broadcast(n_so), ["graph"], "left")
        .na.fill({"n_so": 0})
    )
    # HDT ID spaces: so → 1..n_so; s/o → n_so + rank; p → 1..n_p
    rank = F.col("idx") - F.col("min_idx") + 1
    sec_id = F.when(F.col("section").isin("s", "o"), rank + F.col("n_so")).otherwise(rank)
    return ranked.select("graph", "term", "section", sec_id.cast("long").alias("sec_id"))


def build_dict_and_uids(
    flags: DataFrame,
    handles: list | None = None,
    flags_persisted: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """ONE global index pass yields BOTH dictionary sec_ids and term uids.

    The (graph, sec_ord, term) range-sorted layout gives the HDT
    per-section dense sec_ids directly; the global term uid is defined
    as ``1 + min(idx)`` over the term's dict rows — unique and
    deterministic (it is a pure function of the sorted layout), though
    not dense (a term present in several graphs/sections keeps only its
    first slot).  Density was never required: triples join on uid
    equality, HDT parity lives in the per-section sec_ids.  This halves
    the round-1 build cost of TWO zip_with_index passes (each a persist
    + boundary-sampling pass + offsets collect) — the serial driver
    work that capped scaling efficiency (BENCH/BASELINE.md).

    Returns (dict_df, term_uids); both derive lazily from one persisted
    indexed frame (appended to ``handles`` for caller unpersist).
    """
    sections = _sections(flags)
    indexed = zip_with_index(
        sections,
        ["graph", "sec_ord", "term"],
        id_col="idx",
        persist_input=not flags_persisted,
        handles=handles,
    )
    term_uids = indexed.groupBy("term").agg((F.min("idx") + 1).cast("long").alias("uid"))
    dict_df = (
        _rank_sections(indexed)
        .join(term_uids, "term")
        .select("graph", "term", "section", "sec_id", "uid")
    )
    return dict_df, term_uids


def extend_dict_and_uids(
    flags: DataFrame,
    term_uids: DataFrame,
    handles: list,
    extra: list | tuple = (),
) -> tuple[DataFrame, DataFrame, DataFrame, list]:
    """Dictionary rows for NEW graphs plus uids for their unseen terms
    (a store add).

    ``term_uids`` is the store's uid table.  Unseen terms get
    ``max_uid + 1 …`` in lexicographic order, with no gaps after the
    current max; existing uids never change.  The uid table's max, the
    index pass over the unseen terms and the (graph, sec_ord, term)
    index pass that numbers the sections are independent, so they run
    concurrently on driver threads, together with the caller's
    ``extra`` thunks (other independent actions).

    Returns (dict_df, new_uids, graph_uids, extra_results): the
    dictionary rows, the rows to append to the uid table, the uid of
    every term the new graphs use (for the encode joins), and the
    results of ``extra`` in order.  Every persisted frame is appended
    to ``handles``; ``flags`` must already be persisted.
    """
    lookup = flags.select("term").distinct().join(term_uids, "term", "left").persist()
    handles.append(lookup)
    unseen = lookup.where(F.col("uid").isNull()).select("term")
    max_uid, new_idx, sec_idx, *extra_results = run_concurrently(
        [
            lambda: term_uids.agg(F.max("uid")).collect()[0][0] or 0,
            lambda: zip_with_index(unseen, ["term"], persist_input=False, handles=handles),
            lambda: zip_with_index(
                _sections(flags),
                ["graph", "sec_ord", "term"],
                persist_input=False,
                handles=handles,
            ),
            *extra,
        ]
    )
    new_uids = new_idx.select(
        "term", (F.col("idx") + 1 + F.lit(max_uid)).cast("long").alias("uid")
    )
    graph_uids = lookup.where(F.col("uid").isNotNull()).unionByName(new_uids)
    dict_df = (
        _rank_sections(sec_idx)
        .join(graph_uids, "term")
        .select("graph", "term", "section", "sec_id", "uid")
    )
    return dict_df, new_uids, graph_uids, extra_results


def build_dictionary(
    triples_raw: DataFrame,
    term_uids: DataFrame,
    flags: DataFrame | None = None,
    handles: list | None = None,
) -> DataFrame:
    """Per-graph four-section dictionary against caller-supplied uids.

    Schema: graph, term, section ∈ {so,s,o,p}, sec_id (HDT ID within the
    section's ID space, 1-based, see module docstring), uid (global).
    """
    if flags is None:
        flags = position_flags(triples_raw)
    indexed = zip_with_index(
        _sections(flags), ["graph", "sec_ord", "term"], id_col="idx", handles=handles
    )
    dict_df = _rank_sections(indexed)
    return dict_df.join(term_uids, "term").select("graph", "term", "section", "sec_id", "uid")
