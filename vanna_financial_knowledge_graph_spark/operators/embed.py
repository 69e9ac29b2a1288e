"""In-pipeline embedding generation + semantic search over the KG tables.

Spark-first re-expression of the reference's vector index surface:
  * per-kind vector tables built at ingest (storage/lancedb/indices.py:21-26,
    102-136 — chunks/entities/facts each get an index; dim at indices.py:37)
  * text search entry points search_entities / search_facts / search_chunks
    (api/knowledge_graph.py:995-1061)
  * the MCP two-stage `search`: structured filter with 3x over-fetch, then
    semantic re-rank within the hit uuid set (mcp/server.py:384-409,
    storage/lancedb/indices.py:387-443)

The embedding is the deterministic feature-hash encoder from
functions/embedding.py, computed by ONE Arrow-batched pandas UDF per table —
no per-row Python, no shuffle (embedding is a narrow map). A query vector is
computed driver-side with the same pure function and enters the plan as a
one-row Arrow-built local relation (session.local_frame: scanned inside the
JVM, no Python-worker job), which the planner broadcasts, so the corpus side
never moves: search is a scan + rank window, exactly the brute_force_topk
plan shape that survives a 100x scale-up (the LSH-bucketed variant in
similarity.py is the approximate path at 10^12 rows).

The query vector stays a frame on purpose: a top-k with the query inlined
as a literal cosine expression (cosine_literal_expr) measured slower, warm
search_entities 1.0-1.4 s against 0.7-1.0 s for this plan (sf0.001 graph,
4 vCPU), and the wide generated code risks Janino compile failures that
fall back to interpreted evaluation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType

from ..functions.embedding import EMBED_DIM, embed_batch, embed_text
from ..session import local_frame
from .similarity import brute_force_topk


@pandas_udf(ArrayType(FloatType()))
def _embed64(texts: pd.Series) -> pd.Series:
    mat = embed_batch(texts.fillna("").tolist(), EMBED_DIM)
    return pd.Series(list(mat))


def with_embedding(
    df: DataFrame, text_col: str, out_col: str = "embedding"
) -> DataFrame:
    """Add an embedding column (U3 batch surface): one Arrow crossing,
    partition-preserving."""
    return df.withColumn(out_col, _embed64(F.col(text_col)))


def build_vectors(
    chunks: DataFrame,
    entities: DataFrame,
    facts: DataFrame,
    topics: DataFrame,
    width: int | None = None,
) -> DataFrame:
    """Unified vector table (kind, uuid, text, embedding, group_id) — the
    Spark equivalent of the reference's per-kind LanceDB indices. One row
    per chunk (content), entity (name + summary), fact (content), and topic
    ("{name}: {definition}" — the reference maintains a topics index too,
    storage/lancedb/indices.py:449-477, searched during topic resolution
    topic_resolver.py:357-369 and MCP find mcp/server.py:259-331).
    `width` re-fans the unioned text before the embedding UDF: upstream
    file layouts (few dense row groups) would otherwise cap the CPU-bound
    encode at their file count."""
    parts = [
        chunks.select(
            F.lit("chunk").alias("kind"),
            F.col("chunk_uuid").alias("uuid"),
            F.col("content").alias("text"),
            "group_id",
        ),
        entities.select(
            F.lit("entity").alias("kind"),
            F.col("uuid"),
            F.concat_ws(" ", F.col("name"), F.col("summary")).alias("text"),
            "group_id",
        ),
        facts.select(
            F.lit("fact").alias("kind"),
            F.col("uuid"),
            F.col("content").alias("text"),
            "group_id",
        ),
        topics.select(
            F.lit("topic").alias("kind"),
            F.col("uuid"),
            F.concat_ws(": ", F.col("name"), F.col("definition")).alias("text"),
            "group_id",
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # re-fan only when the unioned scan is actually narrower than the
    # requested width (round-6): at larger scale factors the union of the
    # four input tables already carries more scan partitions than cores,
    # and the unconditional exchange just moved every text byte for nothing
    # (guide §2.4 — remove shuffles outright)
    if width and out.rdd.getNumPartitions() < width:
        out = out.repartition(width, "uuid")
    return with_embedding(out, "text").drop("text")


def _query_df(spark: SparkSession, query_text: str) -> DataFrame:
    """Single-row query-vector frame from the same pure encoder."""
    return local_frame(
        spark,
        [("q0", embed_text(query_text, EMBED_DIM))],
        "query_id string, q_emb array<float>",
    )


def search_kind(
    spark: SparkSession,
    vectors: DataFrame,
    kind: str,
    query_text: str,
    k: int = 10,
    group_id: str = "default",
) -> DataFrame:
    """search_entities/facts/chunks(text) (knowledge_graph.py:995-1061):
    kind filter pushes to the scan; the query side broadcasts."""
    corpus = vectors.where(
        (F.col("kind") == kind) & (F.col("group_id") == group_id)
    ).select(F.col("uuid").alias("vec_id"), "embedding")
    return brute_force_topk(corpus, _query_df(spark, query_text), k=k)


def search_entities(
    spark: SparkSession,
    vectors: DataFrame,
    entities: DataFrame,
    query_text: str,
    k: int = 10,
    group_id: str = "default",
) -> DataFrame:
    """Top-k entities by embedding similarity, enriched with vertex fields
    (J7 rank/score carried through the enrichment join)."""
    hits = search_kind(spark, vectors, "entity", query_text, k, group_id)
    return (
        hits.join(
            entities.select(
                F.col("uuid").alias("vec_id"), "name", "entity_type", "summary"
            ),
            "vec_id",
        )
        .select(
            F.col("vec_id").alias("uuid"),
            "name",
            "entity_type",
            "summary",
            "cosine",
            "rank",
        )
        .orderBy("rank")
    )


def search_topics(
    spark: SparkSession,
    vectors: DataFrame,
    topics: DataFrame,
    query_text: str,
    k: int = 10,
    group_id: str = "default",
) -> DataFrame:
    """Top-k topics by embedding similarity over the topic vector index
    (reference topic_resolver.py:357-369 semantic fallback + MCP find
    mcp/server.py:259-331), enriched with the topic vertex fields.

    The topics table stores corpus topics AND the ontology under the same
    uuid (namespaced by group_id, like the reference), so the enrichment
    side is filtered to the searched namespace — otherwise a uuid present
    in both would duplicate each hit."""
    hits = search_kind(spark, vectors, "topic", query_text, k, group_id)
    if "group_id" in topics.columns:
        topics = topics.where(F.col("group_id") == group_id)
    return (
        hits.join(
            topics.select(
                F.col("uuid").alias("vec_id"), "name", "definition", "parent_name"
            ),
            "vec_id",
        )
        .select(
            F.col("vec_id").alias("uuid"),
            "name",
            "definition",
            "parent_name",
            "cosine",
            "rank",
        )
        .orderBy("rank")
    )


def two_stage_search(
    spark: SparkSession,
    facts: DataFrame,
    vectors: DataFrame,
    entity_names: list[str],
    query_text: str,
    k: int = 10,
    overfetch: int = 3,
    group_id: str = "default",
) -> DataFrame:
    """The MCP two-stage search composition (mcp/server.py:384-409 +
    indices.py:387-443): structured fact filter with overfetch*k candidates
    (date-ordered, deterministic), then cosine re-rank WITHIN that uuid set,
    final top-k. The semantic stage only ever touches overfetch*k rows, so
    the expensive scoring never scans the full fact table."""
    from .readpath import facts_for_entities

    hits = facts_for_entities(
        facts, entity_names, mode="around", limit=overfetch * k, group_id=group_id
    ).select("uuid", "content", "subject_name", "object_name", "date_context")

    fact_vecs = vectors.where(F.col("kind") == "fact").select(
        "uuid", F.col("embedding").alias("emb_c")
    )
    q = F.broadcast(_query_df(spark, query_text))
    from .dedup import cosine_expr

    scored = (
        # the overfetch*k hit set is tiny and broadcast EXPLICITLY: the fact
        # vector index (the 100TB side) must never shuffle for a search
        fact_vecs.join(F.broadcast(hits), "uuid")
        .crossJoin(q)
        .withColumn("cosine", cosine_expr("emb_c", "q_emb"))
        .select(
            "uuid",
            "content",
            "subject_name",
            "object_name",
            "date_context",
            F.round("cosine", 4).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "uuid")
        .limit(k)
    )
    return scored
