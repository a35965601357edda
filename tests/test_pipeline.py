"""Checkpoint/resume semantics (north_rule: killed job resumes from
the last completed stage)."""

import json
import os

import pytest

from de_spark.pipeline import build
from de_spark.sources.nt import triples_from_nt_text
from tests.fixtures import BANANA_NT


def test_build_writes_manifests_and_resumes(spark, tmp_path):
    out = str(tmp_path / "kg")
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    kg, stages = build(raw, out)
    assert [s.name for s in stages] == [
        "extract", "term_uids", "dict", "triples", "stats", "pred_stats",
    ]
    assert all(not s.skipped for s in stages)

    # manifests carry lineage: rows, checksum, wall; the per-graph row
    # lineage is materialized in the stats table itself
    m = json.load(open(os.path.join(out, "triples", "_manifest.json")))
    assert m["rows"] == 12
    assert isinstance(m["checksum"], int) and m["wall_ms"] >= 0
    per_graph = {r["graph"]: r["triples"] for r in kg.stats.collect()}
    assert per_graph == {"file:///banana.hdt": 12}

    # resume: all stages skip, results identical
    kg2, stages2 = build(raw, out, resume=True)
    assert all(s.skipped for s in stages2)
    assert [s.rows for s in stages2] == [s.rows for s in stages]
    assert kg2.triples.count() == 12

    # partial resume: kill the last two stages → only they re-run
    os.remove(os.path.join(out, "triples", "_manifest.json"))
    os.remove(os.path.join(out, "stats", "_manifest.json"))
    kg3, stages3 = build(raw, out, resume=True)
    skipped = {s.name: s.skipped for s in stages3}
    assert skipped == {
        "extract": True,
        "term_uids": True,
        "dict": True,
        "triples": False,
        "stats": False,
        "pred_stats": True,
    }
    assert kg3.triples.count() == 12


def test_checksum_is_partitioning_invariant(spark, tmp_path):
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    build(raw.repartition(1), a)
    build(raw.repartition(7), b)
    for stage in ("triples_raw", "term_uids", "dict", "triples", "stats", "pred_stats"):
        ma = json.load(open(os.path.join(a, stage, "_manifest.json")))
        mb = json.load(open(os.path.join(b, stage, "_manifest.json")))
        assert (ma["rows"], ma["checksum"]) == (mb["rows"], mb["checksum"]), stage


def test_resume_paths_equivalent(spark, tmp_path):
    """A fresh build and the two partial resumes give the same stages:
    triples encoded against the checkpointed term_uids parquet (triples
    and stats manifests removed) and against the live uid frame of a
    rerun index pass (term_uids and dict manifests removed).  Uid
    assignment is a pure function of the sorted index, so the
    order-insensitive checksums must match, and match the pinned
    values."""
    from de_spark.corpus import generate_corpus
    from de_spark.extract import extract_code_triples

    raw = extract_code_triples(generate_corpus(spark, 0.001))
    out = str(tmp_path / "kg")
    _, fresh = build(raw, out)
    assert all(not s.skipped for s in fresh)
    fps = {s.name: (s.rows, s.checksum) for s in fresh}
    assert fps["triples"] == (36000, 5496059409556218670)
    assert fps["term_uids"] == (11224, 7973002676626003130)
    assert fps["dict"] == (24405, 2602832708772452264)

    for removed in (("triples", "stats"), ("term_uids", "dict")):
        for stage in removed:
            os.remove(os.path.join(out, stage, "_manifest.json"))
        _, stages = build(raw, out, resume=True)
        assert [s.name for s in stages if not s.skipped] == list(removed)
        assert [(s.name, s.rows, s.checksum) for s in stages] == [
            (s.name, s.rows, s.checksum) for s in fresh
        ]


def test_torn_manifest_reruns_stage(spark, tmp_path, monkeypatch):
    """A build killed while writing a stage manifest leaves no manifest
    behind: resume reruns that stage instead of trusting (or failing to
    parse) a partial one."""
    import de_spark.pipeline as pipeline

    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    _, ref = build(raw, str(tmp_path / "ref"))
    want = next(s for s in ref if s.name == "triples")

    real_dump = json.dump

    def torn_dump(obj, f, **kw):
        if isinstance(obj, dict) and obj.get("stage") == "triples":
            f.write('{"stage": "trip')
            raise RuntimeError("killed while writing the manifest")
        real_dump(obj, f, **kw)

    out = str(tmp_path / "kg")
    monkeypatch.setattr(pipeline.json, "dump", torn_dump)
    with pytest.raises(RuntimeError, match="killed"):
        build(raw, out)
    monkeypatch.undo()

    _, stages = build(raw, out, resume=True)
    got = next(s for s in stages if s.name == "triples")
    assert not got.skipped
    assert (got.rows, got.checksum) == (want.rows, want.checksum)
    assert json.load(open(os.path.join(out, "triples", "_manifest.json")))["rows"] == 12


def test_failed_build_unpersists(spark, tmp_path, monkeypatch):
    """A failed stage must not leave the build's flags, index and uid
    caches pinned in a long-lived session."""
    import de_spark.pipeline as pipeline

    def boom(*args, **kwargs):
        raise RuntimeError("triples stage failed")

    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    spark.catalog.clearCache()
    monkeypatch.setattr(pipeline, "plan_spo_partitions", boom)
    with pytest.raises(RuntimeError, match="triples stage failed"):
        build(raw, str(tmp_path / "kg"))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
