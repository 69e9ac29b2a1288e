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
selection — is collected to the driver and fed back as literal predicates
or as an Arrow-built local relation (session.local_frame: a zero-job JVM
scan, never a pickled Python RDD). The candidate chunk set is NOT treated
as dimension-sized (a hot entity's 1-hop neighborhood is corpus-scale —
~212k of 216k chunks at sf1.0), so it never touches the driver: one
map-side-partial groupBy dedups the source tags and joins a skinny cached
(chunk_uuid, score) projection, and ONE tier pass (tier_pick) ranks every
candidate within its high/low/topic tier and collects only the capped
rows; the driver then drops the topic rows whose chunk was admitted to
high/low.
Consequence at any scale: the edge table is scanned exactly TWICE (seed
pass, neighbor+topic pass), both with pushable from/to-uuid IN-filters; the
chunk-vector table exactly ONCE (the cached score projection, fully
populated by the concurrent global top-k — a TakeOrderedAndProject over the
codegen'd literal cosine); the content scan once, with the selected chunk
ids pushed in as a literal IN-filter. Only the seed edges and the score
projection are cached, neither outlives the call, and the call never
writes session configuration. This mirrors the reference's own sequential
query plan (researcher.py fetches neighbors, then their chunks) — the
collected values are a handful of uuids and <= high+low+topic rows, never
corpus-sized data.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.embedding import EMBED_DIM, embed_text
from ..session import local_frame
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
    caps = caps or {}
    unknown = set(caps) - set(DEFAULT_CAPS)
    if unknown:
        raise ValueError(
            f"build_context: unknown caps keys {sorted(unknown)} — expected "
            f"a subset of {sorted(DEFAULT_CAPS)} (per-source caps were "
            "replaced by reference relevance-TIER caps in round 3)"
        )
    rows = _staged_selection(
        spark, entities, relationships, vectors, entity_name, query_text,
        k_neighbors, {**DEFAULT_CAPS, **caps}, relevance_threshold, group_id,
    )
    # the selection is <= high+low+topic driver rows: push its chunk ids
    # into the content scan as a literal IN-filter (round-6) — the
    # vectorized parquet reader then reads the heavy content column only
    # for matching rows (measured ~2x on the enrichment join; a no-op
    # logically, the inner join keeps exactly these ids anyway)
    chunks_side = chunks.where(F.col("group_id") == group_id)
    sel_ids = [r["chunk_uuid"] for r in rows]
    if sel_ids:
        chunks_side = chunks_side.where(F.col("chunk_uuid").isin(sel_ids))
    return (
        local_frame(spark, rows, _RESULT_SCHEMA).join(
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
) -> list:
    """Staged execution: dimension-sized driver collects, literal-predicate
    scans; returns the selected (chunk_uuid, source, relevance, score)
    rows."""
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
        return []
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
        .limit(caps["global"])
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

    src_global = local_frame(
        spark, [(g, "global") for g in gids], "chunk_uuid string, source string"
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
    # id set, no embedding bytes through the exchange), then one pass picks
    # every tier in one collect
    rows = tier_pick(
        per_chunk.join(scored, "chunk_uuid"), caps, relevance_threshold
    ).collect()
    # the topic cap applied BEFORE this drop (the reference caps its
    # topic_chunks on their own), so a topic row whose chunk was admitted
    # to high/low leaves the topic tier short. Then release both caches —
    # a long-lived session answers many questions and must not accumulate
    # executor storage.
    admitted = {r["chunk_uuid"] for r in rows if r["relevance"] != "topic"}
    for c in (seed_edges, scored):
        c.unpersist()
    return [
        r for r in rows
        if r["relevance"] != "topic" or r["chunk_uuid"] not in admitted
    ]


def tier_pick(
    candidates: DataFrame, caps: dict[str, int], relevance_threshold: float
) -> DataFrame:
    """(chunk_uuid, m, has_topic, score) candidates -> the capped (chunk_uuid,
    source, relevance, score) rows of every tier, in one pass.

    A candidate explodes into its relevance tier when it has a non-topic
    source `m` (NULL scores — zero-norm chunk embedding or zero query
    vector; cosine returns null, never DIVIDE_BY_ZERO — land in LOW, like
    relevance_split's `otherwise` branch) and into the topic tier when
    `has_topic` is set. Each tier keeps its best `cap` rows by (score desc,
    NULLs last; chunk_uuid); the constant max-cap bound lets the planner
    prune every tier to that many rows per partition before the tier
    exchange. Topic rows of chunks also admitted to high/low are NOT
    dropped here: the caller drops them after the cap."""
    tier = F.explode(
        F.array_compact(
            F.array(
                F.when(
                    F.col("m").isNotNull(),
                    F.when(
                        F.col("score") >= relevance_threshold, F.lit("high")
                    ).otherwise(F.lit("low")),
                ),
                F.when(F.col("has_topic") == 1, F.lit("topic")),
            )
        )
    )
    rel = F.col("relevance")
    cap = (
        F.when(rel == "high", caps["high"])
        .when(rel == "low", caps["low"])
        .otherwise(caps["topic"])
    )
    rank = F.row_number().over(
        Window.partitionBy("relevance").orderBy(F.desc("score"), "chunk_uuid")
    )
    return (
        candidates.select(
            "chunk_uuid", "score", F.col("m.source").alias("src"),
            tier.alias("relevance"),
        )
        .withColumn("rk", rank)
        .where(
            (F.col("rk") <= max(caps["high"], caps["low"], caps["topic"]))
            & (F.col("rk") <= cap)
        )
        .select(
            "chunk_uuid",
            F.when(rel == "topic", F.lit("topic"))
            .otherwise(F.col("src"))
            .alias("source"),
            "relevance",
            "score",
        )
    )
