"""Full KG-construction DAG with per-stage checkpoint-resume and lineage.

The DAG is defined once, as STAGE_TABLE below (name -> declared inputs,
stage function). PipelineRun.run() materializes it stage by stage;
operators/upsert.py::recrawl_upsert composes the same entries without
checkpoints.

Stage protocol (the Spark-first replacement for the reference's append-only
part files + metadata.json, backend.py:114-123,427-449):

  * every stage writes parquet to <work_dir>/<stage>/ plus a _MANIFEST.json
    (underscore-prefixed, so Spark scans ignore it) that records the stage
    fingerprint = sha256(code version, params, upstream fingerprints), row
    count and per-partition rows (the lineage manifest the north rule asks
    for).
  * on re-run, a stage whose manifest fingerprint matches is SKIPPED and its
    parquet is read back — deterministic ids everywhere make this exact:
    resuming after a crash reproduces byte-identical tables.

At cluster scale the parquet dirs become Iceberg tables and the manifest
becomes snapshot metadata; the protocol is unchanged.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from .. import CODE_VERSION
from ..operators.assemble import (
    build_relationships,
    build_topics,
    link_facts,
    ontology_topics,
)
from ..operators.canonicalize import build_canonical_map, build_entities
from ..operators.embed import build_vectors
from ..operators.extract import build_docs, extract_pages_text
from ..operators.ingest import (
    build_annotations,
    chunks_from_annotations,
    facts_raw_from_annotations,
    mentions_from_annotations,
)
from ..sources.pages import synthesize_pages


class StageContext(NamedTuple):
    """What every stage function gets besides its declared inputs."""

    spark: SparkSession
    group_id: str
    # width of the CPU-bound python stages (extract, annotate, embed)
    width: int


def default_width(spark: SparkSession) -> int:
    """Width when the caller sets no repartition: two tasks per core."""
    return spark.sparkContext.defaultParallelism * 2


def _fan(df: DataFrame, width: int) -> DataFrame:
    """Re-fan a scan narrower than `width` before a CPU-bound python stage.

    The parquet scans feeding those stages cannot deliver parallelism by
    themselves at small scale: AQE's 8MB advisory coalesces shuffles to a
    few dense files, each a single (unsplittable) row group, so without an
    explicit re-fan extract/annotate run that narrow no matter how many
    cores exist. One cheap exchange of the text buys exact, uniform width
    for ~100x its cost in downstream per-row CPU; a scan already at least
    `width` wide is left alone (re-exchanging all text bought nothing at
    larger scale factors, guide §2.4)."""
    if df.rdd.getNumPartitions() < width:
        return df.repartition(width, "url")
    return df


# The stage DAG, once: name -> (declared inputs, fn), in topological order
# after the `pages` source stage. fn(ctx, **inputs) receives ONLY its
# declared inputs, so the manifest lineage (`upstream`, and with it the
# fingerprint) cannot miss a table a stage reads. PipelineRun.run()
# materializes every entry with checkpoint-resume; recrawl_upsert
# (operators/upsert.py) composes the same entries without checkpoints.
STAGE_TABLE: dict[str, tuple[tuple[str, ...], Callable[..., DataFrame]]] = {
    # url-hash repartition kept unconditional: besides the extract width it
    # guarantees a balanced written file layout for every downstream scan
    "extracted": (
        ("pages",),
        lambda c, pages: extract_pages_text(pages.repartition(c.width, "url")),
    ),
    "docs": (("extracted",), lambda c, extracted: build_docs(extracted, c.group_id)),
    # fused ingest kernel over the ALREADY-extracted text: ONE Arrow
    # crossing produces chunk+mention+fact rows, and extract_text (the
    # dominant Python cost) runs exactly once in the whole DAG — in the
    # extracted stage, which doubles as the byte-identity branch. The
    # chunks/mentions/facts_raw tables are column-pruned JVM-side
    # selects/explodes of the one annotations table.
    "annotations": (
        ("extracted",),
        lambda c, extracted: build_annotations(
            c.spark, _fan(extracted, c.width), c.group_id
        ),
    ),
    "chunks": (
        ("annotations",),
        lambda c, annotations: chunks_from_annotations(annotations),
    ),
    "mentions": (
        ("annotations",),
        lambda c, annotations: mentions_from_annotations(annotations),
    ),
    "facts_raw": (
        ("annotations",),
        lambda c, annotations: facts_raw_from_annotations(annotations),
    ),
    # dimension-sized outputs: coalesce so we don't write 64 tiny files
    "canonical_map": (
        ("mentions",),
        lambda c, mentions: build_canonical_map(
            c.spark, mentions, c.group_id
        ).coalesce(8),
    ),
    "entities": (
        ("canonical_map", "mentions"),
        lambda c, canonical_map, mentions: build_entities(
            c.spark, canonical_map, mentions, c.group_id
        ).coalesce(4),
    ),
    # corpus topics UNION the full ontology under the reserved
    # group_id='ontology' namespace — the reference keeps the ontology in
    # the same topics table/vector space behind that tenant filter
    # (topic_resolver.py:357-369), so the vectors stage embeds both and
    # search_topics(group_id='ontology') resolves against the ontology
    # space. repartition(1), NOT coalesce(1): coalesce over this union
    # (broadcast-joined corpus topics + local-relation ontology rows)
    # collapses the whole upstream into one task and measured ~5x slower
    # (5.5 s vs 1.4 s at sf0.1); the explicit exchange keeps the
    # distinct/join parallel and only the tiny result lands on one writer
    "topics": (
        ("mentions",),
        lambda c, mentions: build_topics(c.spark, mentions, c.group_id)
        .unionByName(ontology_topics(c.spark))
        .repartition(1),
    ),
    "facts": (
        ("facts_raw", "canonical_map"),
        lambda c, facts_raw, canonical_map: link_facts(
            c.spark, facts_raw, canonical_map, c.group_id
        ),
    ),
    "relationships": (
        ("facts",),
        lambda c, facts: build_relationships(facts, c.group_id),
    ),
    # per-kind vector index rows (reference: LanceDB per-table indices,
    # incl. the topics index at indices.py:449-477)
    "vectors": (
        ("chunks", "entities", "facts", "topics"),
        lambda c, chunks, entities, facts, topics: build_vectors(
            chunks, entities, facts, topics, width=c.width
        ),
    ),
}

STAGES = ["pages", *STAGE_TABLE]


def build_stage(
    ctx: StageContext, name: str, tables: dict[str, DataFrame]
) -> DataFrame:
    """Stage `name`'s DataFrame, built from its declared inputs only."""
    inputs, fn = STAGE_TABLE[name]
    return fn(ctx, **{i: tables[i] for i in inputs})


def _manifest_path(work_dir: str, stage: str) -> str:
    return os.path.join(work_dir, stage, "_MANIFEST.json")


def _read_manifest(work_dir: str, stage: str) -> dict | None:
    p = _manifest_path(work_dir, stage)
    try:
        with open(p) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


class PipelineRun:
    """Orchestrates the DAG; collects per-stage timing + row metrics."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        work_dir: str,
        *,
        group_id: str = "default",
        repartition: int | None = None,
        replicate: int = 1,
        dedup_urls: bool = True,
    ) -> None:
        from ..operators.readpath import check_group_id

        self.spark = spark
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.group_id = check_group_id(group_id)  # P8 tenant-id format guard
        # explicit url-hash repartitioning width for the ingest fan-out
        self.repartition = repartition
        # corpus multiplier (scaling benchmark sizes work to core count)
        self.replicate = replicate
        # collapse duplicate urls (latest crawl wins) before extraction
        self.dedup_urls = dedup_urls
        self.stage_stats: dict[str, dict] = {}
        self.executed: list[str] = []
        self.skipped: list[str] = []
        # Stage-write codec (guide §6): compression trades CPU for I/O, and
        # on a RAM-backed scratch (tmpfs) there is no I/O to win — zstd on
        # /dev/shm measured ~20% of the whole DAG's wall in pure compressor
        # CPU at sf1.0. Default adapts to the work dir's medium; override
        # with VKG_STAGE_CODEC (production on real disks/object stores wants
        # zstd, which stays the default off tmpfs).
        self.stage_codec = os.environ.get("VKG_STAGE_CODEC") or (
            "uncompressed"
            if os.path.abspath(work_dir).startswith(("/dev/shm", "/run/shm"))
            else "zstd"
        )
        os.makedirs(work_dir, exist_ok=True)

    # -- stage runner ------------------------------------------------------

    def _fingerprint(self, stage: str, upstream: list[str], params: str = "") -> str:
        import hashlib

        up = "|".join(
            (self._read_fp(u) or "missing") for u in upstream
        )
        key = f"v{CODE_VERSION}|{stage}|{self.sf_dir}|{self.group_id}|{params}|{up}"
        return hashlib.sha256(key.encode()).hexdigest()

    def _read_fp(self, stage: str) -> str | None:
        m = _read_manifest(self.work_dir, stage)
        return m["fingerprint"] if m else None

    def _run_stage(
        self,
        stage: str,
        upstream: list[str],
        build,
        *,
        params: str = "",
    ) -> DataFrame:
        path = os.path.join(self.work_dir, stage)
        fp = self._fingerprint(stage, upstream, params)
        man = _read_manifest(self.work_dir, stage)
        if man and man.get("fingerprint") == fp:
            self.skipped.append(stage)
            self.stage_stats[stage] = {"rows": man.get("rows"), "sec": 0.0, "skipped": True}
            return self.spark.read.parquet(path)

        t0 = time.time()
        df = build()
        df.write.mode("overwrite").option(
            "compression", self.stage_codec
        ).parquet(path)
        out = self.spark.read.parquet(path)
        # per-partition lineage metrics (north rule): rows per output file,
        # read from the parquet FOOTERS — no second pass over the data
        import pyarrow.parquet as pq

        part_rows = []
        for i, fname in enumerate(
            sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        ):
            md = pq.read_metadata(os.path.join(path, fname))
            part_rows.append({"partition_id": i, "rows_out": md.num_rows})
        rows = sum(p["rows_out"] for p in part_rows)
        sec = time.time() - t0
        with open(_manifest_path(self.work_dir, stage), "w") as f:
            json.dump(
                {
                    "stage": stage,
                    "fingerprint": fp,
                    "rows": rows,
                    "partitions": part_rows,
                    "group_id": self.group_id,
                    "code_version": CODE_VERSION,
                    "upstream": {u: self._read_fp(u) for u in upstream},
                    "elapsed_sec": round(sec, 3),
                },
                f,
            )
        self.executed.append(stage)
        self.stage_stats[stage] = {"rows": rows, "sec": round(sec, 3), "skipped": False}
        return out

    # -- the DAG -----------------------------------------------------------

    def run(self) -> dict[str, DataFrame]:
        """Run every stage in STAGES order. Dispatch is sequential on
        purpose: submitting independent stages' jobs from concurrent threads
        measured a clear net loss in single-JVM local mode (overlapping scans
        and zstd writes thrash)."""

        def _pages():
            # explicit repartition by doc/url hash: uniform ingest fan-out,
            # applied to the UDF *input* so synthesis itself parallelizes
            df = synthesize_pages(
                self.spark, self.sf_dir, self.repartition, self.replicate
            )
            if self.dedup_urls:
                from ..sources.pages import dedupe_pages

                df = dedupe_pages(df)
            return df

        tables = {
            "pages": self._run_stage(
                "pages",
                [],
                _pages,
                params=f"{self.repartition}|{self.replicate}|{self.dedup_urls}",
            )
        }
        ctx = StageContext(
            self.spark, self.group_id, self.repartition or default_width(self.spark)
        )
        for name, (inputs, _) in STAGE_TABLE.items():
            tables[name] = self._run_stage(
                name, list(inputs), lambda: build_stage(ctx, name, tables)
            )
        return tables


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    *,
    group_id: str = "default",
    repartition: int | None = None,
    replicate: int = 1,
    dedup_urls: bool = True,
) -> dict[str, DataFrame]:
    """Run the full DAG. dedup_urls (default ON — crawl-shaped inputs carry
    recrawls) collapses duplicate urls latest-crawl-wins before extraction,
    so doc/chunk/fact uuids stay unique under input duplication."""
    return PipelineRun(
        spark,
        sf_dir,
        work_dir,
        group_id=group_id,
        repartition=repartition,
        replicate=replicate,
        dedup_urls=dedup_urls,
    ).run()
