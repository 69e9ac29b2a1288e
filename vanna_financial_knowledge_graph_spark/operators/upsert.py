"""MERGE-style table update sink (SURVEY S6).

The reference rewrites rows in place (update_entity_summary,
storage/parquet/backend.py:499-553). Spark-first that is `MERGE INTO target
USING updates ON key WHEN MATCHED THEN UPDATE * WHEN NOT MATCHED THEN
INSERT *` on the Iceberg table; in this repo (plain parquet dirs standing in
for Iceberg) the identical logical result is computed relationally —
anti-join out the matched keys, union the update rows — and committed as an
atomic rewrite.

Scale notes: one shuffle keyed by the merge key. When `updates` is
dimension-sized (the common incremental-crawl case: today's recrawled urls
vs the full corpus), broadcast it so the 100TB target never moves; the
left_anti below lets Catalyst/AQE pick that automatically once the update
side is under the broadcast threshold.

recrawl_upsert is the incremental crawl on top of merge_upsert. It composes
the entries of the one stage table (plans/pipeline.py STAGE_TABLE) that
run_pipeline materializes: the per-document stages over the recrawled
pages, a per-doc_uuid merge, then the graph-global stages over the merged
tables. tests/test_embed.py::test_recrawl_upsert_equals_from_scratch checks
all 10 graph tables against run_pipeline over the updated corpus. Not
job-free: canonical_map's size gate and the stages' width gates run Spark
jobs at call time.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import STAGE_TABLE, StageContext, build_stage, default_width

# the per-document tables recrawl_upsert replaces per doc_uuid, in stage
# order; the last one closes the per-document prefix of STAGE_TABLE
_DOC_TABLES = ["docs", "chunks", "mentions", "facts_raw"]


def merge_upsert(
    target: DataFrame, updates: DataFrame, keys: list[str]
) -> DataFrame:
    """Row-level upsert: matched keys take the update row wholly; unmatched
    update rows insert; everything else passes through unchanged."""
    kept = target.join(
        updates.select(*keys).distinct(), keys, "left_anti"
    )
    return kept.unionByName(updates.select(*target.columns))


def upsert_parquet(
    spark: SparkSession, path: str, updates: DataFrame, keys: list[str]
) -> DataFrame:
    """Apply merge_upsert to a materialized table in place (the parquet
    stand-in for `MERGE INTO` on Iceberg).

    Crash-safe commit protocol (local/POSIX paths): the merged rows are
    written to a SIBLING temp directory while the original files stay
    untouched (the write plan reads them directly — no checkpoint copy
    needed), then the directories swap via two renames and the old table is
    deleted only after the new one is fully in place. A failure at any step
    leaves either the original or the complete new table recoverable on
    disk, and a RETRY first restores the original if a previous run died
    between the two renames — never unconditionally deleting the only
    surviving copy. Re-running after any crash is safe: the merge is
    replace-per-key, so applying the same updates twice is idempotent.

    Non-POSIX table URIs (hdfs://, s3a://, file:) can't be renamed with os
    primitives; for those the merge falls back to checkpoint-then-overwrite
    (materialize the merged rows first so the overwrite never reads the
    files it replaces — the pre-round-3 protocol; not crash-atomic, which
    on a real cluster is Iceberg's snapshot commit job, out of scope for
    the parquet stand-in)."""
    if "://" in path or path.startswith("file:"):
        target = spark.read.parquet(path)
        merged = merge_upsert(target, updates, keys).localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    path = path.rstrip("/")
    tmp = path + ".__tmp__"
    old = path + ".__old__"
    # crash recovery: a previous run that died between the two renames left
    # path absent with old = the original — restore it before cleaning up
    if not os.path.exists(path) and os.path.isdir(old):
        os.rename(old, path)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    target = spark.read.parquet(path)
    merge_upsert(target, updates, keys).write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return spark.read.parquet(path)


def recrawl_upsert(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    new_pages: DataFrame,
    group_id: str = "default",
) -> dict[str, DataFrame]:
    """Incremental-crawl MERGE over the KG tables (the reference's real
    update path: re-ingesting a url updates its docs/chunks/facts in place,
    backend.py:499-553). Reads only docs, chunks, mentions and facts_raw
    from `tables`; returns the 10 graph tables.

    Semantics: per recrawled url, REPLACE — the per-document tables (docs,
    chunks, mentions, facts_raw) drop every row of the recrawled doc_uuids
    and take the freshly-extracted rows (a MERGE keyed on the url/doc id,
    `WHEN MATCHED DELETE + INSERT`, which plain upsert-by-row-uuid cannot
    express when the new crawl yields FEWER chunks). The graph-global
    tables (canonical_map, entities, topics with the ontology namespace,
    facts, relationships, vectors) are then rebuilt from the merged
    upstream. Both halves are the entries of the one stage table
    (plans/pipeline.py STAGE_TABLE) that run_pipeline materializes, and
    every graph-global stage is a deterministic reduction, so the result is
    ROW-EQUAL to run_pipeline over the updated corpus (asserted by
    tests/test_embed.py::test_recrawl_upsert_equals_from_scratch).

    Not job-free: canonical_map's size gate count()s and collect()s the
    merged surface stats, and the width gates of the annotations and
    vectors stages call rdd.getNumPartitions(), which under AQE runs the
    upstream shuffle stages of a lazy input. So this call runs Spark jobs,
    extract + annotate of the new pages included, before it returns.

    Scale shape: the expensive per-row work (extract_text + annotation, the
    Python kernels) runs ONLY on the K recrawled pages; each merge is one
    shuffle keyed by doc_uuid with the (tiny) recrawl side broadcastable;
    the rebuilt aggregates operate on distinct surface forms, not the
    corpus."""
    ctx = StageContext(spark, group_id, default_width(spark))
    stages = list(STAGE_TABLE)
    split = stages.index(_DOC_TABLES[-1]) + 1
    fresh = {"pages": new_pages}
    for name in stages[:split]:
        fresh[name] = build_stage(ctx, name, fresh)
    out = {n: merge_upsert(tables[n], fresh[n], ["doc_uuid"]) for n in _DOC_TABLES}
    for name in stages[split:]:
        out[name] = build_stage(ctx, name, out)
    return out


def update_entity_summaries(
    entities: DataFrame, new_summaries: DataFrame
) -> DataFrame:
    """The reference's update_entity_summary (backend.py:499-553) as a
    column-level merge: rows in new_summaries(uuid, summary) overwrite the
    summary of matching entities; all other columns/rows unchanged."""
    u = F.broadcast(
        new_summaries.select("uuid", F.col("summary").alias("_new_summary"))
    )
    return (
        entities.join(u, "uuid", "left")
        .withColumn("summary", F.coalesce("_new_summary", "summary"))
        .drop("_new_summary")
    )
