"""Checkpoint-resume tests (north rule: resumable from checkpoint with
per-partition lineage + metrics; FIXTURES.md §9 resume set)."""

import hashlib
import json
import os
import shutil

import pyarrow.parquet as pq
import pytest

from vanna_financial_knowledge_graph_spark.plans.pipeline import (
    STAGE_TABLE,
    STAGES,
    PipelineRun,
)


@pytest.fixture(scope="module")
def tiny_sf(tmp_path_factory):
    """30-doc slice of sf0.001 so resume runs are fast."""
    d = tmp_path_factory.mktemp("tiny_sf")
    src = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    pq.write_table(src.slice(0, 30), str(d / "documents.parquet"))
    return str(d)


def _hash_table(spark, path):
    rows = sorted(
        str(r) for r in spark.read.parquet(path).collect()
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_resume_after_kill_mid_dag(spark, tiny_sf, tmp_path):
    work = str(tmp_path / "w1")
    r1 = PipelineRun(spark, tiny_sf, work)
    r1.run()
    assert r1.executed == STAGES
    final = _hash_table(spark, f"{work}/facts")

    # simulate a crash after stage 'mentions': wipe everything downstream
    for stage in ["facts_raw", "canonical_map", "entities", "topics", "facts", "relationships"]:
        shutil.rmtree(f"{work}/{stage}")
    r2 = PipelineRun(spark, tiny_sf, work)
    r2.run()
    assert set(r2.skipped) >= {"pages", "extracted", "docs", "chunks", "mentions"}
    assert "facts" in r2.executed
    assert _hash_table(spark, f"{work}/facts") == final


def test_resume_noop_when_complete(spark, tiny_sf, tmp_path):
    work = str(tmp_path / "w2")
    PipelineRun(spark, tiny_sf, work).run()
    r2 = PipelineRun(spark, tiny_sf, work)
    r2.run()
    assert r2.executed == [] and r2.skipped == STAGES


def test_param_change_invalidates_downstream(spark, tiny_sf, tmp_path):
    work = str(tmp_path / "w3")
    PipelineRun(spark, tiny_sf, work).run()
    r2 = PipelineRun(spark, tiny_sf, work, repartition=4)
    r2.run()
    # pages params changed -> new fingerprint cascades through every stage
    assert r2.executed == STAGES


def test_manifest_lineage_contents(spark, tiny_sf, tmp_path):
    work = str(tmp_path / "w4")
    PipelineRun(spark, tiny_sf, work).run()
    with open(f"{work}/facts/_MANIFEST.json") as f:
        man = json.load(f)
    assert man["stage"] == "facts"
    assert man["rows"] == sum(p["rows_out"] for p in man["partitions"])
    assert set(man["upstream"]) == {"facts_raw", "canonical_map"}
    assert all(v for v in man["upstream"].values())
    # every stage's recorded lineage is exactly its declared inputs
    declared = {"pages": (), **{s: inputs for s, (inputs, _) in STAGE_TABLE.items()}}
    for stage in STAGES:
        with open(f"{work}/{stage}/_MANIFEST.json") as f:
            upstream = json.load(f)["upstream"]
        assert list(upstream) == list(declared[stage]), stage
        assert all(upstream.values()), stage


def test_group_id_isolation(spark, tiny_sf, tmp_path):
    """P1 tenancy: a different group_id yields distinct uuids and stamps."""
    wa, wb = str(tmp_path / "ga"), str(tmp_path / "gb")
    a = PipelineRun(spark, tiny_sf, wa, group_id="tenant_a").run()
    b = PipelineRun(spark, tiny_sf, wb, group_id="tenant_b").run()
    ea = {r["uuid"] for r in a["entities"].collect()}
    eb = {r["uuid"] for r in b["entities"].collect()}
    assert ea and eb and ea.isdisjoint(eb)
    assert {r["group_id"] for r in a["facts"].limit(5).collect()} == {"tenant_a"}


def test_empty_input_flows_through(spark, tmp_path_factory, tmp_path):
    """A 0-row documents.parquet flows through the whole DAG: every stage
    writes, manifests record 0 rows, no errors, 0 facts (verify-skill
    invariant #4)."""
    d = tmp_path_factory.mktemp("empty_sf")
    src = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    pq.write_table(src.slice(0, 0), str(d / "documents.parquet"))
    out = PipelineRun(spark, str(d), str(tmp_path / "w_empty")).run()
    assert out["facts"].count() == 0
    assert out["entities"].count() == 0
    assert out["chunks"].count() == 0
    # schema intact so downstream readers don't break on the empty tables
    assert "subject_name" in out["facts"].columns


def test_byte_identity_holds_on_tiny(spark, tiny_sf, tmp_path):
    from vanna_financial_knowledge_graph_spark.operators.extract import (
        byte_identity_report,
    )

    out = PipelineRun(spark, tiny_sf, str(tmp_path / "w5")).run()
    row = byte_identity_report(out["pages"], out["extracted"]).first()
    assert row["n_urls"] > 0 and row["n_mismatched"] == 0


def test_stage_dirs_have_manifest(spark, tiny_sf, tmp_path):
    work = str(tmp_path / "w6")
    PipelineRun(spark, tiny_sf, work).run()
    for stage in STAGES:
        assert os.path.exists(f"{work}/{stage}/_MANIFEST.json"), stage
