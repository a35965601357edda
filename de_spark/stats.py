"""VOID/HDT header statistics (``de view``).

The reference writes VOID counts into every HDT header and ``de view``
prints them (src/view.rs:52-55; concrete golden from
tests/resources/apple.hdt: triples=9, properties=7, distinctSubjects=2,
distinctObjects=9).  Exact countDistinct is used — these are parity
stats, not progress metrics (SURVEY.md §2.4 A1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def void_stats(triples_raw: DataFrame) -> DataFrame:
    """Per-graph VOID stats over string triples.

    Schema: graph, triples, properties, distinct_subjects,
    distinct_objects (all long).
    """
    return triples_raw.groupBy("graph").agg(
        F.count("*").alias("triples"),
        F.countDistinct("p").alias("properties"),
        F.countDistinct("s").alias("distinct_subjects"),
        F.countDistinct("o").alias("distinct_objects"),
    )


def void_stats_from_flags(triples_raw: DataFrame, flags: DataFrame) -> DataFrame:
    """VOID stats from the position flags (a store add): one flags row
    per (graph, term), so the distinct counts are counts of set flags
    and the only pass over the triples is a per-graph count.  Same rows as
    :func:`void_stats`, without its three countDistinct shuffles."""
    distinct = flags.groupBy("graph").agg(
        F.count(F.when(F.col("is_p") == 1, 1)).alias("properties"),
        F.count(F.when(F.col("is_s") == 1, 1)).alias("distinct_subjects"),
        F.count(F.when(F.col("is_o") == 1, 1)).alias("distinct_objects"),
    )
    counts = triples_raw.groupBy("graph").agg(F.count("*").alias("triples"))
    return counts.join(distinct, "graph").select(
        "graph", "triples", "properties", "distinct_subjects", "distinct_objects"
    )


def void_stats_from_dict(dict_df: DataFrame, triples_enc: DataFrame) -> DataFrame:
    """VOID stats derived from the four-section dictionary — the
    distinct-counts are free (the dictionary IS the distinct term set
    per position: subjects = so+s sections, objects = so+o, properties
    = p), so the only fact-table pass is a plain per-graph count with
    map-side combine.  Replaces three exact countDistinct shuffles of
    the triples table with a groupBy over the much smaller dict.
    """
    sec_counts = dict_df.groupBy("graph").agg(
        F.sum(F.when(F.col("section") == "p", 1).otherwise(0)).cast("long").alias("properties"),
        F.sum(F.when(F.col("section").isin("so", "s"), 1).otherwise(0))
        .cast("long")
        .alias("distinct_subjects"),
        F.sum(F.when(F.col("section").isin("so", "o"), 1).otherwise(0))
        .cast("long")
        .alias("distinct_objects"),
    )
    trip_counts = triples_enc.groupBy("graph").agg(F.count("*").alias("triples"))
    return trip_counts.join(F.broadcast(sec_counts), "graph").select(
        "graph", "triples", "properties", "distinct_subjects", "distinct_objects"
    )
