"""Incremental ingestion via Structured Streaming (stretch surface).

The reference is strictly batch (SURVEY.md §2.9) and the north rule's
incremental requirement is checkpoint-resume of batch stages — which
plans/pipeline.py provides. This module adds the optional streaming skin:
`readStream` over a pages directory with `Trigger.AvailableNow` composes the
batch DAG's own extract and ingest kernels (extract_pages_text ->
build_annotations -> chunks_from_annotations) incrementally, exactly-once
per file, so a streamed chunk row equals its batch row. New page files
landing between runs are picked up from the stream checkpoint — the
Spark-idiomatic version of "re-run the batch DAG on what's new".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import extract_pages_text
from ..operators.ingest import build_annotations, chunks_from_annotations
from ..schemas import PAGES


def _chunks(spark: SparkSession, pages: DataFrame) -> DataFrame:
    return chunks_from_annotations(
        build_annotations(spark, extract_pages_text(pages))
    )


def incremental_chunks(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Stream pages parquet -> chunks parquet with AvailableNow semantics.

    Returns the StreamingQuery; caller awaits termination. Files already
    committed in the checkpoint are never reprocessed (idempotent resume at
    the file granularity, complementing the batch manifests)."""
    pages = (
        spark.readStream.schema(PAGES)
        .format("parquet")
        .load(pages_dir)
    )
    chunks = _chunks(spark, pages)
    return (
        chunks.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


def incremental_deduped_chunks(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "24 hours",
):
    """Streaming url-dedup ingest: the stateful twin of sources.pages.
    dedupe_pages. `withWatermark + dropDuplicates(["url"])` is Spark's
    built-in stateful dedup operator — a recrawl of an already-seen url
    within the watermark horizon is dropped from the stream, and state for
    urls older than the watermark ages out, so state size stays bounded at
    crawl scale instead of growing with the full 10^12-url history."""
    pages = (
        spark.readStream.schema(PAGES).format("parquet").load(pages_dir)
    )
    deduped = pages.withWatermark("warc_ts", watermark).dropDuplicates(["url"])
    chunks = _chunks(spark, deduped)
    return (
        chunks.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


def incremental_vectors(
    spark: SparkSession,
    chunks_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming maintenance of the vector index: new chunk files embed and
    append as (kind='chunk', uuid, embedding, group_id) rows — the streaming
    twin of the batch `vectors` stage (embed.build_vectors), using the SAME
    deterministic pandas-UDF encoder, so a row embedded incrementally is
    byte-equal to its batch embedding (asserted by
    tests/test_streaming.py::test_incremental_vectors_match_batch).

    Embedding is a narrow per-row map: no state, no shuffle — the ideal
    streaming operator shape. At crawl scale this keeps the search index
    hot within one trigger of ingest instead of waiting for a batch
    rebuild."""
    from pyspark.sql import functions as F

    from ..operators.embed import with_embedding
    from ..schemas import CHUNKS

    chunks = (
        spark.readStream.schema(CHUNKS).format("parquet").load(chunks_dir)
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
    return (
        vectors.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


def running_entity_counts(
    spark: SparkSession,
    mentions_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Custom stateful streaming operator via applyInPandasWithState: a
    per-entity running mention count maintained in keyed state across
    micro-batches (and across restarts via the checkpoint). The canonical
    shape for custom aggregation state the built-in operators can't express
    — swap the count for e.g. a per-entity sketch or decay score.

    State is one long per distinct entity surface: bounded by the (small)
    entity dimension, not the stream volume."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..schemas import MENTIONS

    reader = spark.readStream.schema(MENTIONS).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    mentions = reader.load(mentions_dir)

    def _update(key, pdfs, state):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"name_norm": [key[0]], "n_mentions": [total]})

    counts = (
        mentions.where("kind = 'entity'")
        .groupBy("name_norm")
        .applyInPandasWithState(
            _update,
            outputStructType="name_norm string, n_mentions long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # foreachBatch: file sinks reject update mode, so each micro-batch's
    # updated counts append as (name_norm, n_mentions) events — the current
    # value per key is the max (counts are monotone). foreachBatch keeps
    # full checkpoint recovery, unlike the memory sink.
    def _write_batch(batch_df, batch_id: int):
        batch_df.write.mode("append").parquet(out_dir)

    return (
        counts.writeStream.foreachBatch(_write_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_crawl_stats(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Watermarked windowed aggregation over the crawl stream: pages per
    (event-time window, lang). Late pages within the watermark revise their
    window; windows older than the watermark finalize and emit (append
    mode), bounding aggregation state — the standard late-data pattern."""
    from pyspark.sql import functions as F

    pages = (
        spark.readStream.schema(PAGES).format("parquet").load(pages_dir)
    )
    stats = (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window), "lang")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "lang",
            "n_pages",
        )
    )
    return (
        stats.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
