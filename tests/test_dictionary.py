from pyspark.sql import functions as F

from de_spark.dictionary import (
    build_dict_and_uids,
    build_dictionary,
    position_flags,
    zip_with_index,
)
from de_spark.encode import decode_triples, encode_triples
from de_spark.sources.turtle import parse_turtle, turtle_files_to_triples
from de_spark.sources.nt import triples_from_nt_text
from de_spark.stats import void_stats
from tests.fixtures import APPLE_TTL, BANANA_NT


def apple_raw(spark):
    rows = [(s, p, o) for s, p, o in parse_turtle(APPLE_TTL)]
    from de_spark import terms

    data = [(s, p, o, terms.classify_py(o), "file:///apple.hdt") for s, p, o in rows]
    return spark.createDataFrame(data, ["s", "p", "o", "o_kind", "graph"])


def test_zip_with_index_is_global_sort_order(spark):
    df = spark.createDataFrame([(w,) for w in ["pear", "apple", "zoo", "fig"]], ["term"])
    out = {r["term"]: r["idx"] for r in zip_with_index(df, ["term"]).collect()}
    assert out == {"apple": 0, "fig": 1, "pear": 2, "zoo": 3}


def test_four_sections_apple(spark):
    """HDT golden from /root/reference/tests/resources/apple.hdt header:
    numSharedSubjectObject=1, 2 subjects, 9 objects, 7 predicates."""
    raw = apple_raw(spark)
    d, _ = build_dict_and_uids(position_flags(raw))
    by_sec = {r["section"]: r["cnt"] for r in d.groupBy("section").count().withColumnRenamed("count", "cnt").collect()}
    assert by_sec["so"] == 1      # ex:Fruit is both subject and object
    assert by_sec["s"] == 1       # ex:Apple
    assert by_sec["o"] == 8       # 9 distinct objects - 1 shared
    assert by_sec["p"] == 7

    rows = {(r["section"], r["term"]): r["sec_id"] for r in d.collect()}
    # SO ids start at 1; subject-only and object-only continue at n_so+1
    assert rows[("so", "http://example.org/Fruit")] == 1
    assert rows[("s", "http://example.org/Apple")] == 2
    o_ids = sorted(v for (sec, _), v in rows.items() if sec == "o")
    assert o_ids == list(range(2, 10))
    p_ids = sorted(v for (sec, _), v in rows.items() if sec == "p")
    assert p_ids == list(range(1, 8))

    # sections sorted lexicographically by term
    o_terms = [t for (sec, t), v in sorted(rows.items(), key=lambda kv: kv[1]) if sec == "o"]
    assert o_terms == sorted(o_terms)


def test_void_stats_apple_golden(spark):
    raw = apple_raw(spark)
    row = void_stats(raw).collect()[0]
    assert (
        row["triples"],
        row["properties"],
        row["distinct_subjects"],
        row["distinct_objects"],
    ) == (9, 7, 2, 9)


def test_encode_decode_roundtrip(spark):
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    _, uids = build_dict_and_uids(position_flags(raw))
    enc = encode_triples(raw, uids)
    assert enc.count() == 12
    dec = decode_triples(enc, uids)
    orig = {(r["s"], r["p"], r["o"]) for r in raw.collect()}
    back = {(r["s"], r["p"], r["o"]) for r in dec.collect()}
    assert orig == back


def test_fused_dict_and_uids_single_pass(spark):
    """build_dict_and_uids: same sec_ids as build_dictionary; uids are
    unique, deterministic, and equal to 1 + the term's min global index
    in (graph, sec_ord, term) order."""
    raw = apple_raw(spark)
    d1, u1 = build_dict_and_uids(position_flags(raw))
    dict_rows = d1.collect()
    uid_rows = {r["term"]: r["uid"] for r in u1.collect()}

    # sec_ids identical to the standalone dictionary path
    d2 = build_dictionary(raw, u1)
    ids1 = {(r["graph"], r["section"], r["term"]): r["sec_id"] for r in dict_rows}
    ids2 = {(r["graph"], r["section"], r["term"]): r["sec_id"] for r in d2.collect()}
    assert ids1 == ids2

    # uid = 1 + min global index over the term's dict rows
    order = {"so": 0, "s": 1, "o": 2, "p": 3}
    layout = sorted(
        (r["graph"], order[r["section"]], r["term"]) for r in dict_rows
    )
    expect = {}
    for i, (_, _, term) in enumerate(layout):
        expect.setdefault(term, i + 1)
    assert uid_rows == expect
    assert len(set(uid_rows.values())) == len(uid_rows)  # unique

    # dict rows carry the same uid per term
    for r in dict_rows:
        assert uid_rows[r["term"]] == r["uid"]

    # encode/decode round-trip through the fused uids
    enc = encode_triples(raw, u1)
    back = {(r["s"], r["p"], r["o"]) for r in decode_triples(enc, u1).collect()}
    assert back == {(r["s"], r["p"], r["o"]) for r in raw.collect()}


def test_uids_are_deterministic(spark):
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    u1 = {r["term"]: r["uid"] for r in build_dict_and_uids(position_flags(raw))[1].collect()}
    # a different input partitioning must not change any uid
    u2 = {
        r["term"]: r["uid"]
        for r in build_dict_and_uids(position_flags(raw.repartition(3)))[1].collect()
    }
    assert u1 == u2
    assert len(set(u1.values())) == len(u1)
