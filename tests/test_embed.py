"""Embedding generation (U3/U4), vector table, semantic search, two-stage
search, context assembly, and the MERGE upsert sink."""

import pytest
from pyspark.sql import functions as F

from vanna_financial_knowledge_graph_spark.functions.embedding import (
    EMBED_DIM,
    embed_batch,
    embed_text,
)

from test_resume import tiny_sf  # noqa: F401  (the shared 30-doc slice)


def test_embed_deterministic_and_normalized():
    a = embed_text("Apple acquired Stripe in Q3 2024")
    b = embed_text("Apple acquired Stripe in Q3 2024")
    assert a == b and len(a) == EMBED_DIM
    import numpy as np

    assert np.linalg.norm(a) == pytest.approx(1.0, abs=1e-5)
    assert embed_text("") == [0.0] * EMBED_DIM


def test_embed_batch_matches_single():
    texts = ["alpha beta gamma", "", "Apple reported earnings", "alpha beta gamma"]
    mat = embed_batch(texts)
    assert mat.shape == (4, EMBED_DIM)
    for i, t in enumerate(texts):
        assert list(mat[i]) == embed_text(t)
    assert list(mat[0]) == list(mat[3])


def test_spark_embedding_matches_python(spark):
    from vanna_financial_knowledge_graph_spark.operators.embed import with_embedding

    df = spark.createDataFrame(
        [(1, "Apple reported earnings"), (2, None), (3, "markets rallied today")],
        "id long, text string",
    )
    got = {r["id"]: r["embedding"] for r in with_embedding(df, "text").collect()}
    assert got[1] == embed_text("Apple reported earnings")
    assert got[2] == [0.0] * EMBED_DIM
    assert got[3] == embed_text("markets rallied today")


def test_vectors_stage_and_entity_search(spark, kg):
    from vanna_financial_knowledge_graph_spark.operators.embed import search_entities

    v = kg["vectors"]
    kinds = {r["kind"]: r["n"] for r in v.groupBy("kind").count().withColumnRenamed("count", "n").collect()}
    assert kinds["chunk"] == kg["chunks"].count()
    assert kinds["entity"] == kg["entities"].count()
    assert kinds["fact"] == kg["facts"].count()
    # all embeddings full-dim
    assert v.where(F.size("embedding") != EMBED_DIM).count() == 0

    hits = search_entities(
        spark, v, kg["entities"], "Apple Inc. technology company", k=5
    ).collect()
    assert len(hits) == 5
    assert [h["rank"] for h in hits] == [1, 2, 3, 4, 5]
    # the query embeds the exact name+summary tokens of Apple Inc. — it must
    # be the closest or near-closest entity
    assert any(h["name"] == "Apple Inc." for h in hits)


def test_two_stage_search(spark, kg):
    from vanna_financial_knowledge_graph_spark.operators.embed import two_stage_search

    got = two_stage_search(
        spark,
        kg["facts"],
        kg["vectors"],
        ["Apple Inc.", "Microsoft Corporation"],
        "acquisition announcement",
        k=10,
    ).collect()
    assert 0 < len(got) <= 10
    # ranked by cosine descending
    scores = [r["cosine"] for r in got]
    assert scores == sorted(scores, reverse=True)
    # every hit involves one of the filter entities (stage-1 contract)
    for r in got:
        assert r["subject_name"] in ("Apple Inc.", "Microsoft Corporation") or r[
            "object_name"
        ] in ("Apple Inc.", "Microsoft Corporation")


def test_topic_vectors_present_and_searchable(spark, kg):
    """The vectors table carries kind='topic' rows (reference topics index,
    indices.py:449-477) and a definition-phrased query retrieves the right
    topic at rank 1."""
    from vanna_financial_knowledge_graph_spark.operators.embed import search_topics

    v = kg["vectors"]
    n_topic_vecs = v.where(F.col("kind") == "topic").count()
    assert n_topic_vecs == kg["topics"].count() > 0

    # self-selecting probe: query a known topic by its own definition text
    t0 = kg["topics"].orderBy("name").first()
    got = search_topics(
        spark, v, kg["topics"], f"{t0['name']}: {t0['definition']}", k=3
    ).collect()
    assert got and got[0]["name"] == t0["name"] and got[0]["rank"] == 1
    assert {"uuid", "name", "definition", "parent_name", "cosine", "rank"} == set(
        got[0].asDict().keys()
    )


def test_fact_and_chunk_search_kinds(spark, kg):
    """search_facts / search_chunks over the same search_kind surface
    (knowledge_graph.py:995-1061): k rows, rank-ordered, kind-scoped."""
    from vanna_financial_knowledge_graph_spark.operators.embed import search_kind

    for kind in ("fact", "chunk"):
        got = search_kind(
            spark, kg["vectors"], kind, "quarterly earnings report", k=5
        ).collect()
        assert len(got) == 5
        assert [r["rank"] for r in sorted(got, key=lambda r: r["rank"])] == list(
            range(1, 6)
        )
        valid = {
            r["uuid"]
            for r in kg["vectors"].where(F.col("kind") == kind).select("uuid").collect()
        }
        assert all(r["vec_id"] in valid for r in got)


def test_context_build_composition(spark, kg):
    from vanna_financial_knowledge_graph_spark.operators.context import build_context

    ctx = build_context(
        spark,
        kg["entities"],
        kg["relationships"],
        kg["chunks"],
        kg["vectors"],
        "Apple Inc.",
        "earnings in the technology sector",
        caps={"high": 5, "low": 4, "topic": 3, "global": 2},
    )
    rows = ctx.collect()
    assert rows, "context must be non-empty for the hot entity"
    by_tier = {}
    seen = set()
    for r in rows:
        assert r["chunk_uuid"] not in seen, "A8 dedup violated"
        seen.add(r["chunk_uuid"])
        assert r["relevance"] in ("high", "low", "topic")
        by_tier[r["relevance"]] = by_tier.get(r["relevance"], 0) + 1
    # reference tier caps (context_builder.py:94-100): high/low after the
    # cross-source dedup, topic as its own separately-capped category
    assert by_tier.get("high", 0) <= 5
    assert by_tier.get("low", 0) <= 4
    assert by_tier.get("topic", 0) <= 3
    # topic-tier rows come only from the topic source
    assert all(r["source"] == "topic" for r in rows if r["relevance"] == "topic")
    assert all(r["source"] != "topic" for r in rows if r["relevance"] != "topic")


def test_context_caps_respected_hand_fixture(spark):
    """Hand-computed fixture: known graph -> exact expected context rows."""
    from vanna_financial_knowledge_graph_spark.operators.context import build_context
    from vanna_financial_knowledge_graph_spark.operators.embed import with_embedding

    ents = spark.createDataFrame(
        [("e1", "Acme", "", "company", [], "default"),
         ("e2", "Bolt", "", "company", [], "default")],
        "uuid string, name string, summary string, entity_type string, "
        "aliases array<string>, group_id string",
    )
    rels = spark.createDataFrame(
        [("r1", "e1", "entity", "e2", "entity", "R", "c1", "f1", "", "", "default"),
         ("r2", "e2", "entity", "e1", "entity", "R", "c2", "f2", "", "", "default")],
        "id string, from_uuid string, from_type string, to_uuid string, "
        "to_type string, rel_type string, chunk_uuid string, fact_id string, "
        "description string, date_context string, group_id string",
    )
    chunks = spark.createDataFrame(
        [("c1", "Acme acquired Bolt.", "default"),
         ("c2", "Bolt sued Acme.", "default"),
         ("c3", "Unrelated filler text.", "default")],
        "chunk_uuid string, content string, group_id string",
    )
    vectors = with_embedding(
        chunks.select(
            F.lit("chunk").alias("kind"),
            F.col("chunk_uuid").alias("uuid"),
            F.col("content").alias("text"),
            "group_id",
        ),
        "text",
    ).drop("text")
    ctx = build_context(
        spark, ents, rels, chunks, vectors, "Acme", "acquisition",
        caps={"high": 10, "low": 10, "topic": 10, "global": 1},
    ).collect()
    got = {(r["chunk_uuid"], r["source"]) for r in ctx}
    # c1 and c2 both touch e1 -> source 'entity' wins the A8 dedup for both
    assert ("c1", "entity") in got and ("c2", "entity") in got
    # c3 only reachable via global; cap 1 admits at most one global row
    assert sum(1 for _, s in got if s == "global") <= 1


def test_context_tier_semantics_hand_fixture(spark):
    """Exact tier rows for a hand graph with hand-set chunk scores.

    Seed e1 has one neighbor (e2) and one topic (t1). c1 is tagged both
    entity and topic; c3 both neighbor and topic; c4-c6 are topic-only.
    The topic cap (3) admits the three best topic candidates c1, c3, c4
    BEFORE the chunks already admitted to high/low are dropped, so only
    c3 (high cap 1 keeps it out of high) and c4 remain: fewer topic rows
    than the cap. c7 and c8 have zero embeddings (NULL score): they sort
    last in low, so the low cap (2) keeps c2 and c7, never c8."""
    import math

    from vanna_financial_knowledge_graph_spark.functions.embedding import (
        EMBED_DIM,
        embed_text,
    )
    from vanna_financial_knowledge_graph_spark.operators.context import build_context

    query = "merger"
    qv = embed_text(query, EMBED_DIM)
    d = next(i for i, x in enumerate(qv) if x)

    def vec(score):
        v = [0.0] * EMBED_DIM
        if score is not None:
            v[d] = math.copysign(score, qv[d])
            v[(d + 1) % EMBED_DIM] = math.sqrt(1.0 - score * score)
        return v

    scores = {
        "c1": 0.9, "c2": 0.1, "c3": 0.8, "c4": 0.7, "c5": 0.6, "c6": 0.5,
        "c7": None, "c8": None,
    }
    ents = spark.createDataFrame(
        [("e1", "Acme", "", "company", [], "default"),
         ("e2", "Bolt", "", "company", [], "default"),
         ("e3", "Corp", "", "company", [], "default")],
        "uuid string, name string, summary string, entity_type string, "
        "aliases array<string>, group_id string",
    )
    edges = [
        ("e1", "t1", "topic", "c1"),
        ("e1", "e2", "entity", "c2"),
        ("e2", "t1", "topic", "c3"),
        ("e3", "t1", "topic", "c4"),
        ("e3", "t1", "topic", "c5"),
        ("e3", "t1", "topic", "c6"),
        ("e1", "e2", "entity", "c7"),
        ("e1", "e2", "entity", "c8"),
    ]
    rels = spark.createDataFrame(
        [(f"r{i}", f, "entity", t, tt, "R", c, f"f{i}", "", "", "default")
         for i, (f, t, tt, c) in enumerate(edges)],
        "id string, from_uuid string, from_type string, to_uuid string, "
        "to_type string, rel_type string, chunk_uuid string, fact_id string, "
        "description string, date_context string, group_id string",
    )
    chunks = spark.createDataFrame(
        [(c, f"text of {c}", "default") for c in scores],
        "chunk_uuid string, content string, group_id string",
    )
    vectors = spark.createDataFrame(
        [("chunk", c, vec(s), "default") for c, s in scores.items()],
        "kind string, uuid string, embedding array<float>, group_id string",
    )
    ctx = build_context(
        spark, ents, rels, chunks, vectors, "Acme", query,
        caps={"high": 1, "low": 2, "topic": 3, "global": 1},
    ).collect()
    assert [(r["chunk_uuid"], r["source"], r["relevance"]) for r in ctx] == [
        ("c1", "entity", "high"),
        ("c3", "topic", "topic"),
        ("c4", "topic", "topic"),
        ("c2", "entity", "low"),
        ("c7", "entity", "low"),
    ]
    assert [r["score"] for r in ctx] == [0.9, 0.8, 0.7, 0.1, None]


def test_context_neighbor_chunks_bidirectional(spark):
    """A top-k neighbor contributes chunks from edges where it is EITHER
    endpoint (reference researcher.py:732-769 uses the full J2 OR-join per
    neighbor): a chunk reachable only via neighbor-as-OBJECT must appear."""
    from vanna_financial_knowledge_graph_spark.operators.context import build_context
    from vanna_financial_knowledge_graph_spark.operators.embed import with_embedding

    ents = spark.createDataFrame(
        [("e1", "Acme", "", "company", [], "default"),
         ("e2", "Bolt", "", "company", [], "default"),
         ("e3", "Corp", "", "company", [], "default")],
        "uuid string, name string, summary string, entity_type string, "
        "aliases array<string>, group_id string",
    )
    # e2 is Acme's only neighbor; c4 attaches to edge e3 -> e2, i.e. the
    # neighbor appears only as the OBJECT endpoint there
    rels = spark.createDataFrame(
        [("r1", "e1", "entity", "e2", "entity", "R", "c1", "f1", "", "", "default"),
         ("r2", "e3", "entity", "e2", "entity", "R", "c4", "f2", "", "", "default")],
        "id string, from_uuid string, from_type string, to_uuid string, "
        "to_type string, rel_type string, chunk_uuid string, fact_id string, "
        "description string, date_context string, group_id string",
    )
    chunks = spark.createDataFrame(
        [("c1", "Acme partnered with Bolt.", "default"),
         ("c4", "Corp sued Bolt over patents.", "default"),
         ("c5", "Unrelated filler text.", "default")],
        "chunk_uuid string, content string, group_id string",
    )
    vectors = with_embedding(
        chunks.select(
            F.lit("chunk").alias("kind"),
            F.col("chunk_uuid").alias("uuid"),
            F.col("content").alias("text"),
            "group_id",
        ),
        "text",
    ).drop("text")
    ctx = build_context(
        spark, ents, rels, chunks, vectors, "Acme", "lawsuit",
        caps={"high": 10, "low": 10, "topic": 10, "global": 0},
    ).collect()
    by_chunk = {r["chunk_uuid"]: r["source"] for r in ctx}
    assert by_chunk.get("c4") == "neighbor", by_chunk
    assert "c5" not in by_chunk


def test_context_unknown_entity_empty(spark, kg):
    from vanna_financial_knowledge_graph_spark.operators.context import build_context

    out = build_context(
        spark, kg["entities"], kg["relationships"], kg["chunks"],
        kg["vectors"], "No Such Entity Anywhere", "anything",
    )
    assert out.count() == 0
    assert out.columns == ["chunk_uuid", "source", "relevance", "score", "content"]


def test_context_materialized_releases_all_caches(spark, kg):
    """build_context must leave ZERO lingering cached RDDs: a long-lived
    session answering many questions must not grow executor storage
    (round-3 regression guard, kept across the round-4 restage)."""
    from vanna_financial_knowledge_graph_spark.operators.context import build_context

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    for q in ("earnings", "acquisitions", "regulation"):
        assert (
            build_context(
                spark, kg["entities"], kg["relationships"], kg["chunks"],
                kg["vectors"], "Apple Inc.", q,
            ).count()
            >= 0
        )
    assert jsc.getPersistentRDDs().size() == before


def test_build_context_never_writes_session_conf(spark, kg):
    """build_context must not write session configuration: a query running
    concurrently on the same session sees the caller's AQE setting for the
    whole call, never a value the context build set for itself."""
    import threading

    from vanna_financial_knowledge_graph_spark.operators.context import build_context

    key = "spark.sql.adaptive.enabled"
    caller = spark.conf.get(key)
    seen = []
    polling = threading.Event()
    done = threading.Event()

    def poll():
        while not done.is_set():
            seen.append(spark.conf.get(key))
            polling.set()
            done.wait(0.01)

    poller = threading.Thread(target=poll, daemon=True)
    poller.start()
    assert polling.wait(timeout=60)
    try:
        rows = build_context(
            spark, kg["entities"], kg["relationships"], kg["chunks"],
            kg["vectors"], "Apple Inc.", "earnings",
        ).collect()
    finally:
        done.set()
        poller.join(timeout=60)
    assert not poller.is_alive()
    assert rows
    assert set(seen) == {caller}, f"poller saw {sorted(set(seen))}, caller set {caller}"


def test_recrawl_upsert_equals_from_scratch(spark, tiny_sf, tmp_path):
    """Incremental-crawl MERGE equals a from-scratch run_pipeline on every
    graph table (reference update semantics, backend.py:499-553).

    Base corpus: the 30-doc slice. Modified corpus: the same slice with 3
    docs' text blanked (their synthesized html changes) plus 2 appended
    docs. recrawl_upsert merges the modified run's pages for the changed
    and new urls into the base run's per-document tables; all 10 graph
    tables, vectors and the group_id='ontology' topics included, must be
    multiset-equal to run_pipeline over the modified corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vanna_financial_knowledge_graph_spark.operators.upsert import (
        recrawl_upsert,
    )
    from vanna_financial_knowledge_graph_spark.plans.pipeline import run_pipeline

    src = pq.read_table(f"{tiny_sf}/documents.parquet")
    rows = src.to_pylist()
    for i in (0, 10, 20):
        rows[i]["text"] = ""
    top = max(r["doc_id"] for r in rows)
    rows += [{**rows[i], "doc_id": top + 1 + i} for i in (1, 2)]
    mod_sf = tmp_path / "modified_sf"
    mod_sf.mkdir()
    pq.write_table(
        pa.Table.from_pylist(rows, schema=src.schema),
        str(mod_sf / "documents.parquet"),
    )
    base = run_pipeline(spark, tiny_sf, str(tmp_path / "base_kg"))
    scratch = run_pipeline(spark, str(mod_sf), str(tmp_path / "modified_kg"))

    # the recrawl batch: modified-run pages whose html is new (3 changed +
    # 2 appended urls)
    batch = scratch["pages"].join(
        base["pages"].select("url", "html"), ["url", "html"], "left_anti"
    )
    assert batch.count() == 5
    doc_tables = ("docs", "chunks", "mentions", "facts_raw")
    merged = recrawl_upsert(spark, {n: base[n] for n in doc_tables}, batch)

    # the recrawl must actually change the recrawled docs' chunks
    doc_uuids = [r["doc_uuid"] for r in merged["docs"].join(
        batch.select("url"), "url").select("doc_uuid").collect()]
    old_c = base["chunks"].where(F.col("doc_uuid").isin(doc_uuids)).select(
        "chunk_uuid", "content")
    new_c = merged["chunks"].where(F.col("doc_uuid").isin(doc_uuids)).select(
        "chunk_uuid", "content")
    assert new_c.exceptAll(old_c).count() > 0, "recrawl produced no change"

    def _multiset(df):
        return sorted(
            tuple(str(v) for v in row) for row in df.collect()
        )

    for name in [
        "docs", "chunks", "mentions", "facts_raw", "canonical_map",
        "entities", "topics", "facts", "relationships", "vectors",
    ]:
        a, b = merged[name], scratch[name].select(*merged[name].columns)
        assert _multiset(a) == _multiset(b), f"{name}: merged != from-scratch"
    assert merged["topics"].where(F.col("group_id") == "ontology").count() > 0


def test_merge_upsert(spark):
    from vanna_financial_knowledge_graph_spark.operators.upsert import (
        merge_upsert,
        update_entity_summaries,
        upsert_parquet,
    )

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    updates = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], "k long, name string, v double"
    )
    got = {r["k"]: (r["name"], r["v"]) for r in merge_upsert(target, updates, ["k"]).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}

    ents = spark.createDataFrame(
        [("u1", "Acme", "old", "company"), ("u2", "Bolt", "keep", "company")],
        "uuid string, name string, summary string, entity_type string",
    )
    new = spark.createDataFrame([("u1", "new summary")], "uuid string, summary string")
    got2 = {r["uuid"]: r["summary"] for r in update_entity_summaries(ents, new).collect()}
    assert got2 == {"u1": "new summary", "u2": "keep"}


def test_upsert_parquet_in_place(spark, tmp_path):
    from vanna_financial_knowledge_graph_spark.operators.upsert import upsert_parquet

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, name string"
    ).write.parquet(path)
    updates = spark.createDataFrame([(2, "B"), (3, "c")], "k long, name string")
    out = upsert_parquet(spark, path, updates, ["k"])
    assert {(r["k"], r["name"]) for r in out.collect()} == {(1, "a"), (2, "B"), (3, "c")}
    # durable: a fresh read sees the merged rows
    again = spark.read.parquet(path)
    assert again.count() == 3


def test_upsert_parquet_crash_recovery(spark, tmp_path):
    """A retry after a crash BETWEEN the two renames (path absent, .__old__
    = original, .__tmp__ = complete merged copy) must restore the original
    and re-apply the merge — never delete the only surviving copies."""
    import os
    import shutil

    from vanna_financial_knowledge_graph_spark.operators.upsert import upsert_parquet

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, name string"
    ).write.parquet(path)
    updates = spark.createDataFrame([(2, "B"), (3, "c")], "k long, name string")

    # simulate the mid-swap crash state
    shutil.copytree(path, path + ".__tmp__")  # stand-in for the merged copy
    os.rename(path, path + ".__old__")
    assert not os.path.exists(path)

    out = upsert_parquet(spark, path, updates, ["k"])
    assert {(r["k"], r["name"]) for r in out.collect()} == {
        (1, "a"), (2, "B"), (3, "c")
    }
    assert not os.path.exists(path + ".__old__")
    assert not os.path.exists(path + ".__tmp__")


def test_build_context_rejects_unknown_caps(spark, kg):
    """The pre-round-3 per-source caps contract must fail loudly, not fall
    back to defaults silently."""
    import pytest as _pytest

    from vanna_financial_knowledge_graph_spark.operators.context import build_context

    with _pytest.raises(ValueError, match="unknown caps keys"):
        build_context(
            spark, kg["entities"], kg["relationships"], kg["chunks"],
            kg["vectors"], "Apple Inc.", "earnings",
            caps={"entity": 5, "neighbor": 4, "topic": 3, "global": 2},
        )


def test_embedding_near_dup_paths_agree(spark, tmp_path):
    from vanna_financial_knowledge_graph_spark.operators.dedup import (
        embedding_near_dups,
        embedding_near_dups_fast,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dups(emb, "label", 0.30).collect()
    }
    fast = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dups_fast(emb, "label", 0.30).collect()
    }
    assert set(exact) == set(fast)
    for k in exact:
        assert fast[k] == pytest.approx(exact[k], abs=1e-6)


def test_ontology_topic_search(spark, kg):
    """search_topics against the group_id='ontology' vector space (the
    reference researcher resolves topics there, topic_resolver.py:357-369):
    hits come only from the ontology namespace and carry its vertex fields."""
    from vanna_financial_knowledge_graph_spark.operators.embed import search_topics
    import pyspark.sql.functions as F

    onto = kg["topics"].where(F.col("group_id") == "ontology")
    got = search_topics(
        spark, kg["vectors"], onto,
        "general increase in prices and fall in purchasing power",
        k=5, group_id="ontology",
    ).collect()
    assert len(got) == 5
    onto_ids = {r["uuid"] for r in onto.select("uuid").collect()}
    assert all(r["uuid"] in onto_ids for r in got)
    assert all(r["name"] and r["definition"] is not None for r in got)
    # the duplicated-uuid trap: corpus topics share uuids with ontology
    # rows, so hits must NOT fan out through the two-namespace topics table
    assert len({r["uuid"] for r in got}) == 5


def test_context_null_scores_land_in_low_tier(spark, kg):
    """An empty query embeds to the zero vector, so every cosine score is
    NULL: each non-topic row must land in the LOW tier (relevance_split's
    `otherwise` branch), never be dropped, and topic rows must still be
    admitted."""
    from vanna_financial_knowledge_graph_spark.operators.context import build_context

    rows = build_context(
        spark, kg["entities"], kg["relationships"], kg["chunks"],
        kg["vectors"], "Apple Inc.", "",
    ).collect()
    assert rows, "NULL scores must not empty the context"
    non_topic = [r for r in rows if r["relevance"] != "topic"]
    assert non_topic
    assert all(r["relevance"] == "low" and r["score"] is None for r in non_topic)
    assert any(r["relevance"] == "topic" for r in rows)
