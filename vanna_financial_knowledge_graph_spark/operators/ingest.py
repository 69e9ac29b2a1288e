"""Ingest kernel: extracted text -> one row per chunk with nested
mention/fact arrays, in ONE Arrow crossing.

This is the only Spark kernel that runs the write path's pure functions
(functions/textops.chunk_text, functions/matching get_matcher/find and
extract_triples): once per chunk, emitting the reference's UDTF shape
(SURVEY.md U5), i.e. chunk fields plus array<struct> mention/fact columns
(schemas.ANNOTATIONS). A stage-per-table layout would cross the
JVM<->Python Arrow boundary and parquet-encode the text three times; measured
here that plumbing dominated (pure-Python throughput was ~6x the pipelined
throughput). The chunks/mentions/facts_raw tables are cheap JVM-side
selects/explodes over the one annotations table, so per-stage
checkpoint-resume granularity is preserved. The batch DAG
(plans/pipeline.py) and the streaming skin (streaming/stream.py) both
compose these functions, so streamed chunks equal batch chunks by
construction.

Reference semantics covered: chunking (markdown.py:36-242) with
per-document positions, so no global ordering shuffle (SURVEY.md W8); chunk
ids (utils/text.py:48-50); document-date propagation onto chunks
(backend.py:143-153 schema); the broadcast gazetteer trie replacing the LLM
entity enumeration (extractor.py:36-63); rule triples replacing the LLM fact
generation (extractor.py:85-117).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.matching import extract_triples, get_matcher
from ..functions.textops import chunk_id, chunk_text, chunk_uuid, doc_uuid
from ..gazetteer import gazetteer_entries
from ..schemas import ANNOTATIONS, CHUNKS, FACTS_RAW, MENTIONS

GROUP_ID = "default"


def build_annotations(
    spark: SparkSession, extracted: DataFrame, group_id: str = GROUP_ID
) -> DataFrame:
    """extracted (url, warc_ts, text) -> ANNOTATIONS.

    mapInArrow: RecordBatches are built natively in pyarrow (C++ struct
    conversion), bypassing pyspark's per-cell Python converters for nested
    types — the dominant cost of the mapInPandas variant.
    """
    bc = spark.sparkContext.broadcast(gazetteer_entries())

    def _run(batches):
        import datetime as _dt

        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(ANNOTATIONS)
        matcher = get_matcher(bc.value)
        for batch in batches:
            urls = batch.column("url").to_pylist()
            texts = batch.column("text").to_pylist()
            tss = batch.column("warc_ts").to_pylist()
            cols: dict[str, list] = {c: [] for c in ANNOTATIONS.names}
            for url, text, ts in zip(urls, texts, tss):
                d_uuid = doc_uuid(url)
                d_date = (
                    ts.date().isoformat()
                    if isinstance(ts, _dt.datetime)
                    else (str(ts)[:10] if ts is not None else None)
                )
                for ch in chunk_text(text or ""):
                    c_uuid = chunk_uuid(url, ch["position"])
                    mentions = matcher.find(ch["content"])
                    facts = extract_triples(
                        c_uuid, ch["content"], d_date or "", mentions
                    )
                    cols["chunk_uuid"].append(c_uuid)
                    cols["chunk_id"].append(chunk_id(d_uuid[:12], ch["position"]))
                    cols["doc_uuid"].append(d_uuid)
                    cols["url"].append(url)
                    cols["content"].append(ch["content"])
                    cols["header_path"].append(ch["header_path"])
                    cols["position"].append(ch["position"])
                    cols["document_date"].append(d_date)
                    cols["group_id"].append(group_id)
                    # pyarrow builds each struct from the dict keys the
                    # schema names and ignores the rest (facts carry their
                    # chunk_uuid)
                    cols["mentions"].append(mentions)
                    cols["facts"].append(facts)
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], type=f.type) for f in schema],
                schema=schema,
            )

    return extracted.select("url", "warc_ts", "text").mapInArrow(
        _run, schema=ANNOTATIONS
    )


def chunks_from_annotations(ann: DataFrame) -> DataFrame:
    return ann.select(*CHUNKS.names)


def _explode(ann: DataFrame, column: str, table: StructType) -> DataFrame:
    """One row per element of the nested `column`, laid out as `table`."""
    nested = set(ANNOTATIONS[column].dataType.elementType.names)
    return ann.select(
        "chunk_uuid", "doc_uuid", "group_id", F.explode(column).alias("x")
    ).select(
        *[F.col(f"x.{n}").alias(n) if n in nested else F.col(n) for n in table.names]
    )


def mentions_from_annotations(ann: DataFrame) -> DataFrame:
    return _explode(ann, "mentions", MENTIONS)


def facts_raw_from_annotations(ann: DataFrame) -> DataFrame:
    return _explode(ann, "facts", FACTS_RAW)
