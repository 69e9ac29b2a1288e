"""Physical-plan assertions: the optimizations we rely on at 100TB must be
visible in the executed plan, not just intended — filter pushdown into the
parquet scan, column pruning, broadcast joins for dimension sides, and no
BroadcastNestedLoopJoin anywhere in the read path."""

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_pruning(spark):
    import __spark_entry__ as e

    p = _plan(e.filter_project_dates(spark, "/root/testdata/sf0.001"))
    assert "PushedFilters: [" in p and "IsNotNull" in p
    # pruned scan: unused columns (o_orderstatus) absent from ReadSchema
    scan = [ln for ln in p.splitlines() if "FileScan" in ln][0]
    assert "o_orderstatus" not in scan


def test_dimension_joins_broadcast(spark):
    import __spark_entry__ as e

    p = _plan(e.two_hop_group_count(spark, "/root/testdata/sf0.001"))
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_no_bnlj_in_or_join_rewrite(spark):
    import __spark_entry__ as e

    p = _plan(e.or_join_union_rewrite(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in p


def test_sessionize_single_data_shuffle(spark):
    """Sessionization must hash-exchange exactly once (on user_id): the
    compound groupBy reuses the window's partitioning (subset clustering)."""
    import re

    from vanna_financial_knowledge_graph_spark.operators.analytics import sessionize

    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = sessionize(df)
    out.count()
    p = _plan(out)
    hashes = set(re.findall(r"hashpartitioning\([^,)]*", p))
    assert len(hashes) == 1 and "user_id" in next(iter(hashes)), hashes


def test_merge_upsert_broadcasts_update_side(spark, kg):
    """Incremental MERGE plan shape: the anti-join against the recrawl key
    set must broadcast the (tiny) update side — the corpus target never
    shuffles for an upsert."""
    from vanna_financial_knowledge_graph_spark.operators.upsert import merge_upsert

    target = kg["chunks"]
    updates = target.orderBy("chunk_uuid").limit(5)
    merged = merge_upsert(target, updates, ["doc_uuid"])
    merged.count()
    p = _plan(merged)
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_bucketed_join_no_exchange(spark, kg):
    """Co-located join via write-time bucketing: facts and chunks bucketed
    by chunk_uuid join with NO Exchange on either side (the persisted
    analogue of repartitioning — at 100TB this kills the dominant read-path
    shuffle). A plain (unbucketed) merge join of the same tables DOES
    exchange, asserted as the control."""
    from pyspark.sql import functions as F

    from vanna_financial_knowledge_graph_spark.sources.bucketed import (
        colocated_join,
        write_bucketed,
    )

    facts = kg["facts"].select("uuid", "chunk_uuid", "subject_name")
    chunks = kg["chunks"].select("chunk_uuid", "content")
    write_bucketed(facts, "t_facts_bucketed", "chunk_uuid", buckets=4)
    write_bucketed(chunks, "t_chunks_bucketed", "chunk_uuid", buckets=4)

    joined = colocated_join(spark, "t_facts_bucketed", "t_chunks_bucketed", "chunk_uuid")
    n = joined.count()
    assert n == facts.join(chunks, "chunk_uuid").count() > 0
    p = _plan(joined)
    assert "SortMergeJoin" in p
    assert "Exchange" not in p, "bucketed join must not shuffle"

    control = facts.hint("merge").join(chunks, "chunk_uuid")
    control.count()
    assert "Exchange" in _plan(control), "control (unbucketed) should shuffle"

    # bucket pruning sanity: an equality predicate on the bucket key selects
    # 1 of the 4 buckets at the scan. DisableUnnecessaryBucketedScan would
    # un-bucket a bare filter scan (pruning only fires on bucketed reads),
    # so pin it off for the assertion.
    import contextlib
    import io

    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    old = spark.conf.get(key, "true")
    try:
        spark.conf.set(key, "false")
        one = spark.table("t_facts_bucketed").where(F.col("chunk_uuid") == "x")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            one.explain("formatted")
        assert "SelectedBucketsCount: 1 out of 4" in buf.getvalue()
    finally:
        spark.conf.set(key, old)


def test_linking_join_broadcasts_canonical_map(spark, kg):
    from vanna_financial_knowledge_graph_spark.operators.assemble import link_facts

    p = _plan(link_facts(spark, kg["facts_raw"], kg["canonical_map"]))
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    # the fact side must not be exchanged for the joins (dim sides broadcast)
    assert p.count("BroadcastExchange") >= 3


def test_brute_force_topk_streams_corpus(spark):
    """Query side broadcast; corpus side must not shuffle before scoring —
    EXCEPT the round-6 dense-layout re-fan, which fires only when the scan
    carries fewer partitions than half the session parallelism (the sf0.001
    single-file case) and repartitions by vec_id exactly once."""
    import pyspark.sql.functions as F

    from vanna_financial_knowledge_graph_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    p = _plan(brute_force_topk(emb, q, 5))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    # below the per-query rank window, the only allowed exchange is the
    # single vec_id re-fan of the (pathologically narrow) corpus scan
    before_window = p.split("Window")[-1]
    n_hash_exchanges = before_window.count("Exchange hashpartitioning")
    assert n_hash_exchanges <= 1
    if n_hash_exchanges:
        assert "hashpartitioning(vec_id" in before_window


def test_brute_force_topk_no_refan_when_wide(spark):
    """A corpus already wider than the parallelism keeps its layout: the
    re-fan gate must NOT add an exchange (the 100 TB contract — the big
    side never shuffles)."""
    import pyspark.sql.functions as F

    from vanna_financial_knowledge_graph_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    wide = emb.repartition(
        spark.sparkContext.defaultParallelism * 2, "vec_id"
    ).localCheckpoint(eager=True)
    q = wide.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    p = _plan(brute_force_topk(wide, q, 5))
    before_window = p.split("Window")[-1]
    assert "Exchange hashpartitioning" not in before_window


def test_annotations_stage_is_narrow(spark, kg):
    """The ingest kernel must add no shuffle: one mapInArrow over the
    extracted text, and the mentions/facts_raw explodes over it stay narrow."""
    from vanna_financial_knowledge_graph_spark.operators.ingest import (
        build_annotations,
        facts_raw_from_annotations,
        mentions_from_annotations,
    )

    ann = build_annotations(spark, kg["extracted"])
    p = _plan(ann)
    assert "Exchange" not in p
    assert "MapInArrow" in p
    for table in (mentions_from_annotations(ann), facts_raw_from_annotations(ann)):
        assert "Exchange" not in _plan(table)


def test_whole_stage_codegen_in_textstats(spark):
    from vanna_financial_knowledge_graph_spark.operators.textstats import (
        quality_scores,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(quality_scores(docs))
    # "*(n)" prefixes mark whole-stage-codegen spans in the string plan
    assert "*(1)" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


@pytest.mark.parametrize(
    "qname",
    ["window_dedup_max", "topk_by_count", "union_dedup", "semi_join_around_between"],
)
def test_no_cartesian_anywhere(spark, qname):
    import __spark_entry__ as e

    p = _plan(e.queries()[qname](spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in p


def test_two_stage_search_broadcasts_hit_set(spark, kg):
    """Stage-2 re-rank joins the tiny hit set against fact vectors: no
    SortMergeJoin of the big side, no cartesian (the only cross join is
    vs the single-row broadcast query vector)."""
    from vanna_financial_knowledge_graph_spark.operators.embed import (
        two_stage_search,
    )

    p = _plan(
        two_stage_search(
            spark, kg["facts"], kg["vectors"], ["Apple Inc."], "earnings", k=5
        )
    )
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_context_build_no_cartesian_no_smj_on_chunks(spark, kg):
    from vanna_financial_knowledge_graph_spark.operators.context import (
        build_context,
    )

    # the returned frame is the content join: the staged selection (a local
    # relation of <= high+low+topic rows) against the chunks scan, whose
    # selected ids are pushed into the parquet reader as a literal IN-filter
    p = _plan(
        build_context(
            spark, kg["entities"], kg["relationships"], kg["chunks"],
            kg["vectors"], "Apple Inc.", "earnings",
        )
    )
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    scans = [ln for ln in p.splitlines() if "FileScan" in ln and "chunk_uuid" in ln]
    assert scans and all("In(chunk_uuid, [" in ln for ln in scans), scans


def test_vectors_kind_filter_pushed_to_scan(spark, kg):
    """search over one kind must push the kind predicate into the parquet
    scan of the vectors table."""
    import pyspark.sql.functions as F

    v = kg["vectors"].where(
        (F.col("kind") == "entity") & (F.col("group_id") == "default")
    )
    p = _plan(v.select("uuid"))
    assert "PushedFilters: [" in p and "EqualTo(kind,entity)" in p


def test_embedding_stage_single_arrow_crossing(spark):
    """with_embedding adds exactly one Python (Arrow) eval and no shuffle."""
    from vanna_financial_knowledge_graph_spark.operators.embed import (
        with_embedding,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(with_embedding(df, "text"))
    assert p.count("ArrowEvalPython") == 1
    assert "Exchange" not in p


def test_merge_upsert_plan_shapes(spark):
    """The anti-join side of MERGE must hash-join on the key, never BNLJ."""
    from vanna_financial_knowledge_graph_spark.operators.upsert import (
        merge_upsert,
    )

    t = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    u = t.limit(100)
    p = _plan(merge_upsert(t, u, ["c_custkey"]))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_by_uuid_lookup_pushdown(spark, kg):
    """The by-uuid hydration lookups (entities_by_uuids / facts_by_uuids)
    must push their uuid IN-set and tenant filter into the parquet scan —
    at 100 TB this is a literal-set scan prune, never a shuffle."""
    from vanna_financial_knowledge_graph_spark.operators.readpath import (
        entities_by_uuids,
        facts_by_uuids,
    )

    ids = [r["uuid"] for r in kg["entities"].limit(2).collect()]
    p = _plan(entities_by_uuids(kg["entities"], ids).select("uuid", "name"))
    # (the uuid IN-set itself is elided by plan-string truncation; the
    # PushedFilters marker + the IN filter + no shuffle are the evidence)
    assert "PushedFilters: [" in p and "In(uuid" in p
    assert "Exchange" not in p

    fids = [r["uuid"] for r in kg["facts"].limit(2).collect()]
    p2 = _plan(facts_by_uuids(kg["facts"], fids).select("uuid"))
    assert "PushedFilters: [" in p2 and "In(uuid" in p2
    assert "Exchange" not in p2


def test_driver_built_frames_are_local_relations(spark, kg):
    """Frames the package builds from driver rows plan as LocalRelation
    (a zero-job JVM scan), never as a pickled Python RDD."""
    from vanna_financial_knowledge_graph_spark.operators.assemble import (
        ontology_topics,
    )
    from vanna_financial_knowledge_graph_spark.operators.canonicalize import (
        registry_surfaces_df,
    )
    from vanna_financial_knowledge_graph_spark.operators.context import (
        build_context,
    )
    from vanna_financial_knowledge_graph_spark.operators.embed import (
        search_entities,
        search_topics,
        two_stage_search,
    )

    frames = {
        "build_context": build_context(
            spark, kg["entities"], kg["relationships"], kg["chunks"],
            kg["vectors"], "Apple Inc.", "earnings",
        ),
        "search_entities": search_entities(
            spark, kg["vectors"], kg["entities"], "technology company", k=5
        ),
        "search_topics": search_topics(
            spark, kg["vectors"], kg["topics"], "interest rates", k=5
        ),
        "two_stage_search": two_stage_search(
            spark, kg["facts"], kg["vectors"], ["Apple Inc."], "earnings", k=5
        ),
        "registry_surfaces_df": registry_surfaces_df(spark),
        "ontology_topics": ontology_topics(spark),
    }
    for name, df in frames.items():
        p = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in p and "ExistingRDD" not in p, (name, p)
