"""GraphRAG context assembly over the KG tables (reference
query/context_builder.py:59-169): union of entity / neighbor / global chunk
sources (SET1) -> per-chunk max-score dedup (A8) -> relevance split (W6) ->
per-TIER caps (W5: max_high=30, max_low=20), with topic chunks deduped and
capped SEPARATELY (max_topic=15, context_builder.py:86-112 — topic chunks
are their own category in StructuredContext, not part of the high/low
split), returned as ONE composed DataFrame — the query a reference user
actually runs per question.

Execution is STAGED and driver-assisted. Every intermediate that is
dimension-sized by construction — the seed entity uuid, the top-k neighbor
uuids, the seed's topic uuids, and the final <= high+low+topic capped
selection — is collected to the driver and fed back as literal predicates.
The candidate chunk set is NOT treated as dimension-sized (a hot entity's
1-hop neighborhood is corpus-scale — ~212k of 216k chunks at sf1.0), so it
never touches the driver: one map-side-partial groupBy dedups the source
tags and joins a skinny cached (chunk_uuid, score) projection.
Consequence at any scale: the edge table is scanned exactly TWICE (seed
pass, neighbor+topic pass), both with pushable from/to-uuid IN-filters; the
chunk-vector table exactly ONCE (the cached score projection, fully
populated by the concurrent global top-k — a TakeOrderedAndProject over the
codegen'd literal cosine); the content scan once, with the selected chunk
ids pushed in as a literal IN-filter. No cache outlives the call, and the
call never writes session configuration. This mirrors the reference's own
sequential query plan (researcher.py fetches neighbors, then their chunks)
— the collected values are a handful of uuids, never corpus-sized data.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.embedding import EMBED_DIM, embed_text
from .dedup import cosine_literal_expr

# reference ContextBuilder defaults (context_builder.py:36-41): high/low are
# RELEVANCE-tier caps applied after the cross-source dedup; topic is its own
# separately-deduped category; global is the vector-search fetch size.
DEFAULT_CAPS = {"high": 30, "low": 20, "topic": 15, "global": 10}

_RESULT_SCHEMA = (
    "chunk_uuid string, source string, relevance string, score double"
)


def build_context(
    spark: SparkSession,
    entities: DataFrame,
    relationships: DataFrame,
    chunks: DataFrame,
    vectors: DataFrame,
    entity_name: str,
    query_text: str,
    k_neighbors: int = 5,
    caps: dict[str, int] | None = None,
    relevance_threshold: float = 0.2,
    group_id: str = "default",
) -> DataFrame:
    """-> (chunk_uuid, source, relevance, score, content) context rows.

    relevance is 'high'/'low' for entity/neighbor/global-sourced chunks
    (tier caps caps['high']/caps['low']) and 'topic' for topic-sourced
    chunks (their own dedup + caps['topic'], matching the reference's
    separate topic_chunks category). See the module docstring for how the
    selection executes."""
    caps = caps or DEFAULT_CAPS
    unknown = set(caps) - set(DEFAULT_CAPS)
    if unknown:
        raise ValueError(
            f"build_context: unknown caps keys {sorted(unknown)} — expected "
            f"a subset of {sorted(DEFAULT_CAPS)} (per-source caps were "
            "replaced by reference relevance-TIER caps in round 3)"
        )
    final = _staged_selection(
        spark, entities, relationships, vectors, entity_name,
        query_text, k_neighbors, caps, relevance_threshold, group_id,
    )
    # the staged selection is already a local relation of <= 65 rows: push
    # its chunk ids into the content scan as a literal IN-filter (round-6)
    # — the vectorized parquet reader then reads the heavy content column
    # only for matching rows (measured ~2x on the enrichment join; a no-op
    # logically, the inner join keeps exactly these ids anyway)
    chunks_side = chunks.where(F.col("group_id") == group_id)
    sel_ids = [r["chunk_uuid"] for r in final.select("chunk_uuid").collect()]
    if sel_ids:
        chunks_side = chunks_side.where(F.col("chunk_uuid").isin(sel_ids))
    return (
        final.join(
            chunks_side.select("chunk_uuid", "content"),
            "chunk_uuid",
        )
        .select(
            "chunk_uuid",
            "source",
            "relevance",
            F.round("score", 4).alias("score"),
            "content",
        )
        .orderBy(F.desc("score"), "chunk_uuid")
    )


def _staged_selection(
    spark: SparkSession,
    entities: DataFrame,
    relationships: DataFrame,
    vectors: DataFrame,
    entity_name: str,
    query_text: str,
    k_neighbors: int,
    caps: dict[str, int],
    relevance_threshold: float,
    group_id: str,
) -> DataFrame:
    """Staged execution: dimension-sized driver collects, literal-predicate
    scans; returns the tiny selection as a local frame."""
    qv = embed_text(query_text, EMBED_DIM)
    euuids = [
        r["uuid"]
        for r in entities.where(
            (F.lower(F.col("name")) == entity_name.lower())
            & (F.col("group_id") == group_id)
        )
        .select("uuid")
        .collect()
    ]
    if not euuids:
        return spark.createDataFrame([], _RESULT_SCHEMA)
    r = relationships.where(F.col("group_id") == group_id)

    # edge-table scan 1 of 2: every edge touching the seed, from either
    # endpoint (J2); the isin predicate pushes to the scan. dir/euuid via
    # explode give one row per matching endpoint (an edge between two
    # same-name seeds yields two rows, one per seed).
    dirs = F.array_compact(
        F.array(
            F.when(F.col("from_uuid").isin(euuids), F.lit("from")),
            F.when(F.col("to_uuid").isin(euuids), F.lit("to")),
        )
    )
    seed_edges = (
        r.where(F.col("from_uuid").isin(euuids) | F.col("to_uuid").isin(euuids))
        .withColumn("dir", F.explode(dirs))
        .withColumn(
            "euuid",
            F.when(F.col("dir") == "from", F.col("from_uuid")).otherwise(
                F.col("to_uuid")
            ),
        )
        .select("from_uuid", "to_uuid", "to_type", "chunk_uuid", "euuid", "dir")
        .cache()
    )

    # no distinct: the per-chunk groupBy in the final tree dedups all tag
    # sources in one aggregation
    src_entity = seed_edges.select("chunk_uuid").withColumn(
        "source", F.lit("entity")
    )
    # top-k neighbors by connection count (A2/W3) and the seed's topic
    # uuids in ONE tagged driver collect (k + |topics| rows) — this is also
    # the job that fills the seed_edges cache
    neigh_df = (
        seed_edges.where(
            (F.col("dir") == "from")
            & (F.col("to_type") == "entity")
            & (F.col("to_uuid") != F.col("euuid"))
        )
        .select(F.col("to_uuid").alias("v"))
        .union(
            seed_edges.where(
                (F.col("dir") == "to") & (F.col("from_uuid") != F.col("euuid"))
            ).select(F.col("from_uuid"))
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "v")
        .limit(k_neighbors)
        .select(F.lit("n").alias("t"), "v")
    )
    topic_df = (
        seed_edges.where((F.col("dir") == "from") & (F.col("to_type") == "topic"))
        .select(F.lit("t").alias("t"), F.col("to_uuid").alias("v"))
        .distinct()
    )
    # the neighbor/topic collect and the global top-k are independent:
    # submit them as CONCURRENT jobs (Spark's scheduler interleaves them;
    # on a cluster they'd run on disjoint executors) — saves one full
    # job-latency round on the interactive path.
    #
    # `scored` is the corpus-wide (chunk_uuid, score) projection, computed
    # in the scan (narrow) and cached SKINNY: the global top-k consumes all
    # its partitions, which fully populates the cache, so the candidate
    # join below reuses the scores without a second corpus-wide cosine and
    # without ever shuffling the embedding column (round-6: the old
    # post-join cosine moved ~216k x 64-float embeddings through an
    # exchange at sf1.0).
    chunk_vecs = vectors.where(
        (F.col("kind") == "chunk") & (F.col("group_id") == group_id)
    ).select(F.col("uuid").alias("chunk_uuid"), "embedding")
    scored = (
        chunk_vecs.withColumn("score", cosine_literal_expr("embedding", qv))
        .select("chunk_uuid", "score")
        .cache()
    )
    global_topk = (
        scored.orderBy(F.desc("score"), "chunk_uuid")
        .limit(caps.get("global", 10))
        .select("chunk_uuid")
    )
    with ThreadPoolExecutor(max_workers=2) as pool:
        tagged_f = pool.submit(neigh_df.unionByName(topic_df).collect)
        gids_f = pool.submit(global_topk.collect)
        tagged = tagged_f.result()
        gids = [row["chunk_uuid"] for row in gids_f.result()]
    nuuids = [row["v"] for row in tagged if row["t"] == "n"]
    tuuids = [row["v"] for row in tagged if row["t"] == "t"]

    # edge-table scan 2 of 2: neighbor chunks (neighbor as EITHER endpoint,
    # researcher.py:732-769) and topic chunks in ONE tagged pass. No distinct
    # and no cache here (round-6): the per-chunk groupBy below subsumes the
    # dedup, and map-side partial aggregation collapses the tag rows before
    # the one exchange — the old distinct+cache+broadcast(hit_ids) chain
    # computed the candidate set three times, which at sf1.0 is ~212k
    # chunks (a hot entity's 1-hop neighborhood is corpus-scale, NOT
    # dimension-sized), costing ~4s of the interactive path.
    is_neighbor = F.col("from_uuid").isin(nuuids) | F.col("to_uuid").isin(nuuids)
    is_topic = (F.col("to_type") == "topic") & F.col("to_uuid").isin(tuuids)
    tags = F.array_compact(
        F.array(
            F.when(is_neighbor, F.lit("neighbor")),
            F.when(is_topic, F.lit("topic")),
        )
    )
    pass2 = r.where(is_neighbor | is_topic).select(
        "chunk_uuid", F.explode(tags).alias("source")
    )

    src_global = spark.createDataFrame(
        [(g, "global") for g in gids], "chunk_uuid string, source string"
    )

    # ONE aggregation replaces the old (distinct -> join -> groupBy-max)
    # chain: the cosine score is a FUNCTION of chunk_uuid (one vector row
    # per chunk), so the A8 cross-source dedup winner (max score, then
    # entity > global > neighbor) reduces to max struct(sr, source): the
    # score is constant within a chunk's group and never breaks a tie.
    # Topic membership rides along as a flag instead of a second deduped
    # branch.
    src_rank = (
        F.when(F.col("source") == "entity", 3)
        .when(F.col("source") == "global", 2)
        .otherwise(1)
    )
    all_tags = src_entity.unionByName(pass2).unionByName(src_global)
    per_chunk = all_tags.groupBy("chunk_uuid").agg(
        F.max(
            F.when(
                F.col("source") != "topic",
                F.struct(src_rank.alias("sr"), F.col("source")),
            )
        ).alias("m"),
        F.max((F.col("source") == "topic").cast("int")).alias("has_topic"),
    )
    # the candidate set joins the cached skinny scores on chunk_uuid (two
    # skinny shuffles; no driver-side broadcast of a possibly corpus-scale
    # id set, no embedding bytes through the exchange)
    joined = (
        per_chunk.join(scored, "chunk_uuid")
        .select("chunk_uuid", "m", "has_topic", "score")
        .cache()
    )
    main = joined.where(F.col("m").isNotNull()).select(
        "chunk_uuid", F.col("m.source").alias("source"), "score"
    )
    high = (
        main.where(F.col("score") >= relevance_threshold)
        .withColumn("relevance", F.lit("high"))
        .orderBy(F.desc("score"), "chunk_uuid")
        .limit(caps.get("high", 30))
    )
    low = (
        # NULL scores (zero-norm chunk embedding or zero query vector —
        # cosine returns null, never DIVIDE_BY_ZERO) land in the LOW tier,
        # exactly like relevance_split's `otherwise` branch; desc ordering
        # puts them last within the tier
        main.where(
            (F.col("score") < relevance_threshold) | F.col("score").isNull()
        )
        .withColumn("relevance", F.lit("low"))
        .orderBy(F.desc("score"), "chunk_uuid")
        .limit(caps.get("low", 20))
    )
    capped = high.unionByName(low)
    topic_capped = (
        joined.where(F.col("has_topic") == 1)
        .select("chunk_uuid", F.lit("topic").alias("source"), "score")
        .orderBy(F.desc("score"), "chunk_uuid")
        .limit(caps.get("topic", 15))
        .withColumn("relevance", F.lit("topic"))
    )
    topic_only = topic_capped.join(
        F.broadcast(capped.select("chunk_uuid")), "chunk_uuid", "left_anti"
    )
    final = capped.unionByName(topic_only)
    # the selection is <= high+low+topic rows: land it driver-side in one
    # collect, then release every cache — a long-lived session answers many
    # questions and must not accumulate executor storage
    rows = final.collect()
    schema = final.schema
    for c in (seed_edges, scored, joined):
        c.unpersist()
    return spark.createDataFrame(rows, schema)
