"""Structured Streaming incremental ingestion: AvailableNow over a pages
directory processes each file exactly once across restarts."""

import pyspark.sql.functions as F


def test_available_now_incremental(spark, kg, tmp_path):
    from vanna_financial_knowledge_graph_spark.streaming.stream import (
        incremental_chunks,
    )

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "chunks")
    ckpt = str(tmp_path / "ckpt")

    first = kg["pages"].orderBy("url").limit(20)
    first.write.mode("overwrite").parquet(pages_dir)
    q = incremental_chunks(spark, pages_dir, out_dir, ckpt)
    q.awaitTermination()
    streamed = spark.read.parquet(out_dir)
    n1 = streamed.count()
    assert n1 > 0

    # the streamed chunks are the batch chunks of the same 20 pages, row for
    # row (multiset equality)
    batch = kg["chunks"].join(first.select("url"), "url", "left_semi")
    streamed = streamed.select(*batch.columns)
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0

    # second tranche of pages lands -> only the new files are processed
    more = kg["pages"].orderBy(F.desc("url")).limit(15)
    more.coalesce(1).write.mode("append").parquet(pages_dir)
    q2 = incremental_chunks(spark, pages_dir, out_dir, ckpt)
    q2.awaitTermination()
    n2 = spark.read.parquet(out_dir).count()
    assert n2 > n1

    # third run with nothing new: no additional rows (exactly-once)
    q3 = incremental_chunks(spark, pages_dir, out_dir, ckpt)
    q3.awaitTermination()
    assert spark.read.parquet(out_dir).count() == n2


def test_incremental_vectors_match_batch(spark, kg, tmp_path):
    """Streaming vector-index maintenance: new chunk files embed exactly
    once, and every incremental embedding is byte-equal to the batch path
    (same deterministic encoder)."""
    from vanna_financial_knowledge_graph_spark.operators.embed import with_embedding
    from vanna_financial_knowledge_graph_spark.streaming.stream import (
        incremental_vectors,
    )

    chunks_dir = str(tmp_path / "chunks_in")
    out_dir = str(tmp_path / "vectors_out")
    ckpt = str(tmp_path / "vec_ckpt")

    first = kg["chunks"].orderBy("chunk_uuid").limit(30)
    first.write.mode("overwrite").parquet(chunks_dir)
    incremental_vectors(spark, chunks_dir, out_dir, ckpt).awaitTermination()
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == 30

    # second tranche appends; third run adds nothing (exactly-once)
    more = kg["chunks"].orderBy(F.desc("chunk_uuid")).limit(10)
    more.coalesce(1).write.mode("append").parquet(chunks_dir)
    incremental_vectors(spark, chunks_dir, out_dir, ckpt).awaitTermination()
    got = spark.read.parquet(out_dir)
    assert got.count() == got.select("uuid").distinct().count()
    incremental_vectors(spark, chunks_dir, out_dir, ckpt).awaitTermination()
    assert spark.read.parquet(out_dir).count() == got.count()

    # streamed embeddings == batch embeddings for the same chunks
    batch = with_embedding(
        spark.read.parquet(chunks_dir).select(
            F.col("chunk_uuid").alias("uuid"), F.col("content").alias("text")
        ),
        "text",
    ).drop("text")
    stream_map = {
        r["uuid"]: r["embedding"] for r in spark.read.parquet(out_dir).collect()
    }
    for r in batch.collect():
        assert stream_map[r["uuid"]] == r["embedding"]


def test_streaming_stateful_url_dedup(spark, tmp_path):
    import datetime as dt

    from vanna_financial_knowledge_graph_spark.streaming.stream import (
        incremental_deduped_chunks,
    )

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "chunks")
    ckpt = str(tmp_path / "ckpt")
    body = "<h1>T</h1><p>" + "Apple Inc. reported strong earnings today. " * 3 + "</p>"
    rows = [
        ("u1", dt.datetime(2025, 6, 1, 10), body.encode(), "x", "en"),
        ("u1", dt.datetime(2025, 6, 1, 11), body.encode(), "x", "en"),  # recrawl
        ("u2", dt.datetime(2025, 6, 1, 10), body.encode(), "x", "en"),
    ]
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).write.parquet(pages_dir)
    q = incremental_deduped_chunks(spark, pages_dir, out_dir, ckpt)
    q.awaitTermination()
    out = spark.read.parquet(out_dir)
    # one chunk set per distinct url: the recrawl of u1 was dropped by state
    assert out.select("url").distinct().count() == 2
    assert out.groupBy("url").count().where("count > 1").count() == 0


def test_streaming_windowed_stats(spark, tmp_path):
    import datetime as dt

    from vanna_financial_knowledge_graph_spark.streaming.stream import (
        streaming_crawl_stats,
    )

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    rows = [
        (f"u{i}", dt.datetime(2025, 6, 1, 10, 5 * i), b"<p>x</p>", "x", lang)
        for i, lang in enumerate(["en", "en", "es", "en"])
    ] + [("u9", dt.datetime(2025, 6, 1, 23, 0), b"<p>x</p>", "x", "en")]
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).write.parquet(pages_dir)
    q = streaming_crawl_stats(spark, pages_dir, out_dir, ckpt)
    q.awaitTermination()
    got = {
        (str(r["window_start"]), r["lang"]): r["n_pages"]
        for r in spark.read.parquet(out_dir).collect()
    }
    # the 23:00 page advanced the watermark past 10:00-11:00, finalizing it
    assert got.get(("2025-06-01 10:00:00", "en")) == 3
    assert got.get(("2025-06-01 10:00:00", "es")) == 1


def test_stateful_running_entity_counts(spark, tmp_path):
    """applyInPandasWithState: per-entity counts accumulate in keyed state
    across micro-batches AND across a query restart from the checkpoint."""
    from vanna_financial_knowledge_graph_spark.streaming.stream import (
        running_entity_counts,
    )

    mdir = str(tmp_path / "mentions")
    ckpt = str(tmp_path / "ckpt")

    def mention_rows(n_apple, n_tesla, tag):
        rows = [
            (f"c{tag}{i}", f"d{tag}", "Apple Inc.", "apple inc.", "entity",
             None, "company", 0, 5, "default")
            for i in range(n_apple)
        ] + [
            (f"t{tag}{i}", f"d{tag}", "Tesla", "tesla", "entity",
             None, "company", 0, 5, "default")
            for i in range(n_tesla)
        ]
        from vanna_financial_knowledge_graph_spark.schemas import MENTIONS

        return spark.createDataFrame(rows, MENTIONS)

    odir = str(tmp_path / "counts")

    def latest():
        import pyspark.sql.functions as F

        return {
            r["name_norm"]: r["mx"]
            for r in spark.read.parquet(odir)
            .groupBy("name_norm")
            .agg(F.max("n_mentions").alias("mx"))
            .collect()
        }

    mention_rows(2, 1, "a").coalesce(1).write.mode("append").parquet(mdir)
    q = running_entity_counts(spark, mdir, odir, ckpt)
    q.awaitTermination()
    got1 = latest()
    assert got1["apple inc."] == 2 and got1["tesla"] == 1

    # second tranche lands; a NEW query resumes state from the checkpoint
    mention_rows(3, 0, "b").coalesce(1).write.mode("append").parquet(mdir)
    q2 = running_entity_counts(spark, mdir, odir, ckpt)
    q2.awaitTermination()
    got2 = latest()
    assert got2["apple inc."] == 5  # 2 carried in state + 3 new
    assert got2["tesla"] == 1
