"""Extraction stage: pages -> extracted text -> docs.

Spark-first layout: one Arrow-batched mapInPandas pass over the pages table
runs the *same pure function* the single-node oracle uses
(functions/textops.extract_text), so the byte-identity invariant holds by
construction. Everything downstream of the UDF boundary is plain DataFrame
code that Catalyst can prune/push down. Chunking runs later, in the ingest
kernel (operators/ingest.py::build_annotations).

The reference's PDF-OCR source (pdf.py:39-99) is replaced by the
deterministic HTML extractor per BASELINE.json input_hint.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textops import extract_text

GROUP_ID = "default"


def extract_pages_text(pages: DataFrame) -> DataFrame:
    """pages -> (url, warc_ts, lang, text) with text recomputed from html.

    Column-pruned input (url, warc_ts, lang, html); the scan never reads the
    pre-filled text column.
    """

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["url", "warc_ts", "lang"]].copy()
            out["text"] = [extract_text(h) for h in pdf["html"]]
            yield out

    schema = "url string, warc_ts timestamp, lang string, text string"
    return pages.select("url", "warc_ts", "lang", "html").mapInPandas(_run, schema=schema)


def build_docs(extracted: DataFrame, group_id: str = GROUP_ID) -> DataFrame:
    """Documents table with deterministic ids (sha256 over 'doc\\x1furl').

    `metadata` is the typed map column the reference keeps as a JSON dict
    per document (backend.py:191 stores it, queries.py:720-722 decodes it;
    SURVEY.md §1.2 maps it to MapType(String,String)). Populated from page
    headers — language, crawl host, crawl-day bucket — all as narrow
    codegen expressions, no UDF."""
    return extracted.select(
        F.sha2(F.concat_ws("\x1f", F.lit("doc"), F.col("url")), 256).alias("doc_uuid"),
        F.col("url"),
        F.element_at(F.split(F.col("url"), "/"), -1).alias("doc_name"),
        F.date_format(F.col("warc_ts"), "yyyy-MM-dd").alias("doc_date"),
        F.col("lang"),
        F.map_from_arrays(
            F.array(F.lit("lang"), F.lit("host"), F.lit("crawl_day")),
            F.array(
                F.coalesce(F.col("lang"), F.lit("")),
                F.coalesce(F.parse_url(F.col("url"), F.lit("HOST")), F.lit("")),
                F.coalesce(
                    F.date_format(F.col("warc_ts"), "yyyy-MM-dd"), F.lit("")
                ),
            ),
        ).alias("metadata"),
        F.lit(group_id).alias("group_id"),
    )


def byte_identity_mismatches(pages: DataFrame, extracted: DataFrame) -> DataFrame:
    """Per-url rows where the Spark-extracted text differs byte-for-byte
    from the stored text column (the per-row invariant). Empty when the
    invariant holds — use byte_identity_report for a driver-checkable
    summary."""
    lhs = pages.select("url", F.col("text").alias("text_stored"))
    rhs = extracted.select("url", F.col("text").alias("text_spark"))
    return (
        lhs.join(rhs, "url", "full_outer")
        .where(
            ~(F.col("text_stored").eqNullSafe(F.col("text_spark")))
        )
        .select("url", "text_stored", "text_spark")
    )


def byte_identity_report(pages: DataFrame, extracted: DataFrame) -> DataFrame:
    """ONE summary row (n_urls, n_mismatched): a green check is an explicit
    `n_mismatched = 0` over a positive url count — distinguishable from a
    query that silently returned nothing (an empty mismatch set is not)."""
    lhs = pages.select("url", F.col("text").alias("text_stored"))
    rhs = extracted.select("url", F.col("text").alias("text_spark"))
    return (
        lhs.join(rhs, "url", "full_outer")
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum(
                (~F.col("text_stored").eqNullSafe(F.col("text_spark"))).cast("long")
            ).alias("n_mismatched"),
        )
    )
