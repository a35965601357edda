"""Whole-graph add/drop semantics (reference src/serve.rs:818-960) and
the CLI verb surface."""

import pytest

from de_spark import store
from de_spark.pipeline import build
from de_spark.query import sparql_select, to_csv
from de_spark.sources.nt import triples_from_nt_text
from de_spark.sources.turtle import parse_turtle
from de_spark import terms
from tests.fixtures import BANANA_NT, PINEAPPLE_TTL, QUERY_COLOR_RQ


def _pineapple_raw(spark):
    data = [
        (s, p, o, terms.classify_py(o), "file:///pineapple.hdt")
        for s, p, o in parse_turtle(PINEAPPLE_TTL)
    ]
    return spark.createDataFrame(data, ["s", "p", "o", "o_kind", "graph"])


def test_add_and_drop_graph(spark, tmp_path):
    base = str(tmp_path / "store")
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    build(raw, base)

    kg = store.load(spark, base)
    assert to_csv(sparql_select(kg, QUERY_COLOR_RQ)).splitlines()[1:] == [
        "http://example.org/Banana"
    ]

    # add a NEW graph → union answers both
    store.add_graph(spark, base, _pineapple_raw(spark))
    kg = store.load(spark, base)
    out = to_csv(sparql_select(kg, QUERY_COLOR_RQ)).replace("\r", "").splitlines()
    assert out[1:] == ["http://example.org/Pineapple", "http://example.org/Banana"]

    # uid invariants after append: dense, unique, old uids unchanged
    uids = {r["term"]: r["uid"] for r in kg.term_uids.collect()}
    vals = sorted(uids.values())
    assert vals == list(range(1, len(vals) + 1))

    # encoded triples still decode to the exact union triple set
    from de_spark.encode import decode_triples

    decoded = {
        (r["s"], r["p"], r["o"]) for r in decode_triples(kg.triples, kg.term_uids).collect()
    }
    expected = {(r["s"], r["p"], r["o"]) for r in raw.collect()} | {
        (r["s"], r["p"], r["o"]) for r in _pineapple_raw(spark).collect()
    }
    assert decoded == expected

    # inserting into an existing graph is refused (immutability)
    with pytest.raises(store.GraphExistsError):
        store.add_graph(spark, base, _pineapple_raw(spark))

    # drop → back to banana only
    assert store.drop_graph(spark, base, "file:///pineapple.hdt") is True
    kg = store.load(spark, base)
    out = to_csv(sparql_select(kg, QUERY_COLOR_RQ)).replace("\r", "").splitlines()
    assert out[1:] == ["http://example.org/Banana"]
    assert store.drop_graph(spark, base, "file:///nope.hdt") is False


def test_added_graph_content(spark, tmp_path):
    """An added graph's dict/stats rows match a build over that graph
    alone; its unseen terms take the next uids in term order; existing
    uids are unchanged."""
    from de_spark.stats import void_stats

    base = str(tmp_path / "store")
    build(triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt"), base)
    before = {r["term"]: r["uid"] for r in spark.read.parquet(f"{base}/term_uids").collect()}

    pine = _pineapple_raw(spark)
    store.add_graph(spark, base, pine)
    kg = store.load(spark, base)

    # sec_ids are per graph: the same as building the graph on its own
    alone, _ = build(pine, str(tmp_path / "alone"))
    dict_cols = ["graph", "term", "section", "sec_id"]
    pine_dict = kg.dict_df.where("graph = 'file:///pineapple.hdt'")
    assert sorted(pine_dict.select(dict_cols).collect()) == sorted(
        alone.dict_df.select(dict_cols).collect()
    )
    stats = kg.stats.where("graph = 'file:///pineapple.hdt'").collect()
    assert [tuple(r) for r in stats] == [tuple(r) for r in void_stats(pine).collect()]

    after = {r["term"]: r["uid"] for r in kg.term_uids.collect()}
    assert {t: after[t] for t in before} == before
    new_terms = sorted(set(after) - set(before))
    assert new_terms
    top = max(before.values())
    assert [after[t] for t in new_terms] == list(range(top + 1, top + 1 + len(new_terms)))
    # dict rows carry the uid of their term
    assert all(after[r["term"]] == r["uid"] for r in pine_dict.collect())


def test_failed_append_rolls_back(spark, tmp_path, monkeypatch):
    """A failure inside one of the concurrent appends propagates out of
    add_graph and leaves the write-ahead marker; the next load rolls
    every table back to its pre-add files and rows."""
    import os

    from pyspark.sql import functions as F

    base = str(tmp_path / "store")
    build(triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt"), base)
    tables = ("term_uids", "dict", "stats", "triples")

    def snapshot():
        return {
            t: (store._list_files(base, t), spark.read.parquet(f"{base}/{t}").count())
            for t in tables
        }

    pre = snapshot()
    real_sort_spo = store.sort_spo

    def failing_sort_spo(df):
        # fails when the triples append runs, beside the dict/stats appends
        return real_sort_spo(df).withColumn(
            "s_id", F.coalesce(F.raise_error("injected failure").cast("long"), F.col("s_id"))
        )

    monkeypatch.setattr(store, "sort_spo", failing_sort_spo)
    with pytest.raises(Exception, match="injected failure"):
        store.add_graph(spark, base, _pineapple_raw(spark))
    assert os.path.exists(f"{base}/{store._PENDING}")

    store.load(spark, base)
    assert not os.path.exists(f"{base}/{store._PENDING}")
    assert snapshot() == pre

    # the rolled-back store takes the same add cleanly
    monkeypatch.undo()
    store.add_graph(spark, base, _pineapple_raw(spark))
    kg = store.load(spark, base)
    assert kg.pattern(graph="file:///pineapple.hdt").count() == 12


def test_sync_dir(spark, tmp_path):
    """S8 directory sync: new file → new graph; removed file → graph
    dropped (reference src/sparql.rs:235-294)."""
    import os

    rdf_dir = tmp_path / "rdf"
    os.makedirs(rdf_dir)
    (rdf_dir / "banana.nt").write_text(BANANA_NT)
    base = str(tmp_path / "store")
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.nt")
    build(raw, base)

    # in sync: nothing changes
    assert store.sync_dir(spark, base, str(rdf_dir)) == ([], [])

    # add a file → new graph appears
    (rdf_dir / "pineapple.ttl").write_text(PINEAPPLE_TTL)
    added, dropped = store.sync_dir(spark, base, str(rdf_dir))
    assert added == ["file:///pineapple.ttl"] and dropped == []
    kg = store.load(spark, base)
    assert kg.pattern(graph="file:///pineapple.ttl").count() == 12

    # remove the original file → its graph is dropped
    os.remove(rdf_dir / "banana.nt")
    added, dropped = store.sync_dir(spark, base, str(rdf_dir))
    assert added == [] and dropped == ["file:///banana.nt"]
    kg = store.load(spark, base)
    assert {r["graph"] for r in kg.stats.collect()} == {"file:///pineapple.ttl"}


def test_cli_create_view_query(spark, tmp_path, capsys):
    import os

    from de_spark import cli

    rdf_dir = tmp_path / "rdf"
    os.makedirs(rdf_dir)
    (rdf_dir / "banana.nt").write_text(BANANA_NT)
    (rdf_dir / "pineapple.ttl").write_text(PINEAPPLE_TTL)
    (rdf_dir / "q.rq").write_text(QUERY_COLOR_RQ)
    out_dir = str(tmp_path / "kg")

    assert cli.main(["create", "-o", out_dir, "-d", str(rdf_dir / "banana.nt"), str(rdf_dir / "pineapple.ttl")]) == 0
    capsys.readouterr()

    assert cli.main(["view", "-d", out_dir]) == 0
    view_out = capsys.readouterr().out
    assert "triples: 12" in view_out and "graph: file:///banana.nt" in view_out

    assert cli.main(["query", "-d", out_dir, "-s", str(rdf_dir / "q.rq"), "-o", "csv"]) == 0
    q_out = capsys.readouterr().out.replace("\r", "").strip()
    assert q_out.splitlines() == [
        "fruit",
        "http://example.org/Pineapple",
        "http://example.org/Banana",
    ]


def test_cli_load_adds_file_graphs(spark, tmp_path, capsys):
    """``de load``: each file becomes a new graph named after it; loading
    it again is refused and leaves the store as it was."""
    from de_spark import cli

    (tmp_path / "banana.nt").write_text(BANANA_NT)
    (tmp_path / "pine apple.ttl").write_text(PINEAPPLE_TTL)
    out_dir = str(tmp_path / "kg")
    assert cli.main(["create", "-o", out_dir, "-d", str(tmp_path / "banana.nt")]) == 0

    pine = str(tmp_path / "pine apple.ttl")
    assert cli.main(["load", "-d", out_dir, "-f", pine]) == 0
    assert cli.main(["load", "-d", out_dir, "-f", pine]) == 1
    assert "already exist" in capsys.readouterr().err
    kg = store.load(spark, out_dir)
    assert sorted((r["graph"], r["triples"]) for r in kg.stats.collect()) == [
        ("file:///banana.nt", 12),
        ("file:///pine apple.ttl", 12),
    ]
    assert kg.triples.count() == 24


def test_cli_load_glob_names_graphs_from_data(spark, tmp_path, capsys):
    """``de load`` with a quoted glob: Spark expands it and names each
    file's graph on its own, so a second load of the same file through
    the glob (or by name) is refused and adds no rows."""
    from de_spark import cli

    (tmp_path / "banana.nt").write_text(BANANA_NT)
    ttl_dir = tmp_path / "ttl"
    ttl_dir.mkdir()
    (ttl_dir / "pineapple.ttl").write_text(PINEAPPLE_TTL)
    out_dir = str(tmp_path / "kg")
    assert cli.main(["create", "-o", out_dir, "-d", str(tmp_path / "banana.nt")]) == 0

    glob = str(ttl_dir / "*.ttl")
    assert cli.main(["load", "-d", out_dir, "-f", glob]) == 0
    kg = store.load(spark, out_dir)
    n_dict = kg.dict_df.count()
    assert cli.main(["load", "-d", out_dir, "-f", glob]) == 1
    assert cli.main(["load", "-d", out_dir, "-f", str(ttl_dir / "pineapple.ttl")]) == 1
    assert "already exist" in capsys.readouterr().err
    kg = store.load(spark, out_dir)
    assert sorted((r["graph"], r["triples"]) for r in kg.stats.collect()) == [
        ("file:///banana.nt", 12),
        ("file:///pineapple.ttl", 12),
    ]
    assert kg.triples.count() == 24
    assert kg.dict_df.count() == n_dict


def test_torn_add_recovers_without_duplicates(spark, tmp_path):
    """ADVICE r2: a crash mid-add_graph (some tables appended, stats
    registration not yet written) must roll back on the next mutation,
    so a replayed streaming batch re-adds without duplicating
    dict/triples rows.  Simulated by restoring the write-ahead marker
    after a completed add — recovery must undo the whole transaction."""
    import json
    import os

    base = str(tmp_path / "store")
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    build(raw, base)

    # snapshot pre-add state (what a torn add must roll back to)
    pre_manifest = {t: store._list_files(base, t) for t in store._ADD_TABLES}
    pre_counts = {
        t: spark.read.parquet(f"{base}/{t}").count()
        for t in ("term_uids", "dict", "stats", "triples")
    }

    # perform the add, then re-create the marker as if the crash hit
    # AFTER the dict/triples appends but BEFORE the commit point
    store.add_graph(spark, base, _pineapple_raw(spark))
    with open(f"{base}/{store._PENDING}", "w") as f:
        json.dump(
            {"graphs": ["file:///pineapple.hdt"], "manifest": pre_manifest}, f
        )

    # replayed batch: recovery undoes the torn txn, the add runs clean
    store.add_graph(spark, base, _pineapple_raw(spark))
    assert not os.path.exists(f"{base}/{store._PENDING}")

    kg = store.load(spark, base)
    # no duplicate rows anywhere: uid density + exact decoded triple set
    uids = [r["uid"] for r in kg.term_uids.collect()]
    assert sorted(uids) == list(range(1, len(uids) + 1))
    from de_spark.encode import decode_triples

    decoded = [
        (r["graph"], r["s"], r["p"], r["o"])
        for r in decode_triples(kg.triples, kg.term_uids).select("graph", "s", "p", "o").collect()
    ]
    assert len(decoded) == len(set(decoded))  # no duplicated (graph, triple)
    assert kg.stats.where("graph = 'file:///pineapple.hdt'").count() == 1

    # rollback-only path: torn marker with NO replay → load() restores
    # the pre-add snapshot
    assert store.drop_graph(spark, base, "file:///pineapple.hdt") is True
    post_counts = {
        t: spark.read.parquet(f"{base}/{t}").count()
        for t in ("stats", "triples")
    }
    assert post_counts["stats"] == pre_counts["stats"]
    assert post_counts["triples"] == pre_counts["triples"]


def test_sparql_update_surface(spark, tmp_path):
    """SPARQL UPDATE strings with the reference's refusal semantics
    (src/serve.rs:783-1121; HTTP tests tests/test-server.rs:203-237):
    INSERT DATA only into NEW graphs, DELETE forms forbidden,
    CLEAR/DROP named graphs, two-phase validation (a refused op leaves
    the store untouched)."""
    from de_spark.query.update import UpdateRefusedError

    base = str(tmp_path / "store")
    build(triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt"), base)

    # INSERT DATA into a new named graph (prefixed names + typed literal)
    log = store.execute_update(
        spark,
        base,
        """
        PREFIX ex: <http://example.org/>
        INSERT DATA {
          GRAPH <file:///cherry.hdt> {
            ex:Cherry a ex:Fruit ; ex:hasColor "red" ; ex:count 3 .
          }
        }
        """,
    )
    assert any("INSERT DATA: 3 triples" in l for l in log)
    kg = store.load(spark, base)
    got = {
        r["f"].rsplit("/", 1)[1]
        for r in sparql_select(
            kg, "SELECT ?f WHERE { ?f a <http://example.org/Fruit> }"
        ).collect()
    }
    assert got == {"Banana", "Cherry"}

    # inserting into the (now existing) graph is refused
    with pytest.raises(UpdateRefusedError, match="already exists"):
        store.execute_update(
            spark,
            base,
            'INSERT DATA { GRAPH <file:///cherry.hdt> { <http://x/a> <http://x/p> "v" } }',
        )
    # default-graph insert is refused
    with pytest.raises(UpdateRefusedError, match="default graph"):
        store.execute_update(
            spark, base, 'INSERT DATA { <http://x/a> <http://x/p> "v" }'
        )
    # DELETE forms are refused at parse time (read-only, test-server.rs:203)
    with pytest.raises(UpdateRefusedError, match="DELETE DATA is not allowed"):
        store.execute_update(
            spark, base,
            'DELETE DATA { GRAPH <file:///cherry.hdt> { <http://x/a> <http://x/p> "v" } }',
        )
    with pytest.raises(UpdateRefusedError, match="DELETE/INSERT"):
        store.execute_update(
            spark, base, "DELETE { ?s ?p ?o } WHERE { ?s ?p ?o }"
        )
    # CREATE: error when the graph exists, fine (no-op) when new
    with pytest.raises(UpdateRefusedError, match="already exists"):
        store.execute_update(spark, base, "CREATE GRAPH <file:///cherry.hdt>")
    assert store.execute_update(spark, base, "CREATE SILENT GRAPH <file:///cherry.hdt>")
    assert store.execute_update(spark, base, "CREATE GRAPH <file:///new.hdt>")

    # DROP ALL / CLEAR DEFAULT targets are refused
    with pytest.raises(UpdateRefusedError, match="DROP ALL is not supported"):
        store.execute_update(spark, base, "DROP ALL")
    with pytest.raises(UpdateRefusedError, match="CLEAR DEFAULT is not supported"):
        store.execute_update(spark, base, "CLEAR DEFAULT")

    # two-phase validation: the failing second op prevents the first
    with pytest.raises(UpdateRefusedError, match="does not exist"):
        store.execute_update(
            spark,
            base,
            'INSERT DATA { GRAPH <file:///plum.hdt> { <http://x/a> <http://x/p> "v" } } ;\n'
            "DROP GRAPH <file:///nope.hdt>",
        )
    assert "file:///plum.hdt" not in store._graphs(spark, base)

    # DROP removes the graph; dropping again errors unless SILENT
    store.execute_update(spark, base, "DROP GRAPH <file:///cherry.hdt>")
    assert "file:///cherry.hdt" not in store._graphs(spark, base)
    with pytest.raises(UpdateRefusedError, match="does not exist"):
        store.execute_update(spark, base, "DROP GRAPH <file:///cherry.hdt>")
    assert store.execute_update(spark, base, "DROP SILENT GRAPH <file:///cherry.hdt>")


def test_sparql_update_load(spark, tmp_path):
    """LOAD <file> INTO GRAPH <g>: executes via the format router into
    a NEW named graph (the reference validates LOAD but leaves it
    unimplemented, src/serve.rs:1045-1061)."""
    import os

    base = str(tmp_path / "store")
    build(triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt"), base)
    src = tmp_path / "pineapple.ttl"
    src.write_text(PINEAPPLE_TTL)

    # bare LOAD (no INTO GRAPH) is refused
    from de_spark.query.update import UpdateRefusedError

    with pytest.raises(UpdateRefusedError, match="default graph"):
        store.execute_update(spark, base, f"LOAD <file://{src}>")

    log = store.execute_update(
        spark, base, f"LOAD <file://{src}> INTO GRAPH <file:///pine.hdt>"
    )
    assert any("LOAD" in l for l in log)
    kg = store.load(spark, base)
    rows = sparql_select(
        kg,
        'SELECT ?f WHERE { GRAPH <file:///pine.hdt> { ?f <http://example.org/hasColor> "yellow" } }',
    ).collect()
    assert [r["f"].rsplit("/", 1)[1] for r in rows] == ["Pineapple"]
