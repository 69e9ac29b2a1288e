"""Fused ingest kernel: extracted text -> one row per chunk with nested
mention/fact arrays, in ONE Arrow crossing.

The naive stage-per-table layout runs three separate pandas passes over the
chunk text (chunking, mention detection, triple rules): the text crosses the
JVM<->Python Arrow boundary three times and is parquet-encoded three times;
measured here the plumbing dominated (pure-Python throughput was ~6x the
pipelined throughput). This kernel runs the same pure functions
(functions/textops + functions/matching — identical per-table results) once
per chunk and emits the reference's UDTF shape (SURVEY.md U5): chunk fields
plus array<struct> mention/fact columns. The chunks/mentions/facts_raw
tables are then cheap JVM-side selects/explodes over the one materialized
annotations table, so per-stage checkpoint-resume granularity is preserved
and Arrow moves compact nested batches instead of a wide sparse union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.matching import extract_triples, get_matcher
from ..functions.textops import chunk_id, chunk_text, chunk_uuid, doc_uuid
from ..gazetteer import gazetteer_entries
from ..schemas import CHUNKS, FACTS_RAW

GROUP_ID = "default"

_MENTION_STRUCT = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        T.StructField("name_norm", T.StringType(), True),
        T.StructField("kind", T.StringType(), True),
        T.StructField("ref_uuid", T.StringType(), True),
        T.StructField("entity_type", T.StringType(), True),
        T.StructField("begin", T.IntegerType(), True),
        T.StructField("end", T.IntegerType(), True),
    ]
)

_FACT_STRUCT = T.StructType(
    [
        T.StructField("fact_uuid", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("subject_name", T.StringType(), True),
        T.StructField("subject_norm", T.StringType(), True),
        T.StructField("subject_type", T.StringType(), True),
        T.StructField("object_name", T.StringType(), True),
        T.StructField("object_norm", T.StringType(), True),
        T.StructField("object_kind", T.StringType(), True),
        T.StructField("object_entity_type", T.StringType(), True),
        T.StructField("relationship_type", T.StringType(), True),
        T.StructField("date_context", T.StringType(), True),
        T.StructField("topics", T.ArrayType(T.StringType()), True),
    ]
)

ANNOTATIONS = T.StructType(
    [
        T.StructField("chunk_uuid", T.StringType(), False),
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("doc_uuid", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
        T.StructField("header_path", T.StringType(), True),
        T.StructField("position", T.IntegerType(), False),
        T.StructField("document_date", T.StringType(), True),
        T.StructField("group_id", T.StringType(), False),
        T.StructField("mentions", T.ArrayType(_MENTION_STRUCT), True),
        T.StructField("facts", T.ArrayType(_FACT_STRUCT), True),
    ]
)

_FACT_KEYS = [f.name for f in _FACT_STRUCT.fields]
_MENTION_KEYS = [f.name for f in _MENTION_STRUCT.fields]
_COLS = [f.name for f in ANNOTATIONS.fields]


_PA_MENTION = None
_PA_FACT = None
_PA_SCHEMA = None


def _pa_types():
    """Arrow types matching ANNOTATIONS (built lazily, cached per worker)."""
    global _PA_MENTION, _PA_FACT, _PA_SCHEMA
    import pyarrow as pa

    if _PA_SCHEMA is None:
        _PA_MENTION = pa.struct(
            [
                ("name", pa.string()),
                ("name_norm", pa.string()),
                ("kind", pa.string()),
                ("ref_uuid", pa.string()),
                ("entity_type", pa.string()),
                ("begin", pa.int32()),
                ("end", pa.int32()),
            ]
        )
        _PA_FACT = pa.struct(
            [
                ("fact_uuid", pa.string()),
                ("content", pa.string()),
                ("subject_name", pa.string()),
                ("subject_norm", pa.string()),
                ("subject_type", pa.string()),
                ("object_name", pa.string()),
                ("object_norm", pa.string()),
                ("object_kind", pa.string()),
                ("object_entity_type", pa.string()),
                ("relationship_type", pa.string()),
                ("date_context", pa.string()),
                ("topics", pa.list_(pa.string())),
            ]
        )
        _PA_SCHEMA = pa.schema(
            [
                ("chunk_uuid", pa.string()),
                ("chunk_id", pa.string()),
                ("doc_uuid", pa.string()),
                ("url", pa.string()),
                ("content", pa.string()),
                ("header_path", pa.string()),
                ("position", pa.int32()),
                ("document_date", pa.string()),
                ("group_id", pa.string()),
                ("mentions", pa.list_(_PA_MENTION)),
                ("facts", pa.list_(_PA_FACT)),
            ]
        )
    return _PA_SCHEMA


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

        schema = _pa_types()
        matcher = get_matcher(bc.value)
        for batch in batches:
            urls = batch.column("url").to_pylist()
            texts = batch.column("text").to_pylist()
            tss = batch.column("warc_ts").to_pylist()
            cols: dict[str, list] = {c: [] for c in _COLS}
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
                    cols["mentions"].append(mentions)
                    cols["facts"].append(
                        [{k: f[k] for k in _FACT_KEYS} for f in facts]
                    )
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], type=f.type) for f in schema],
                schema=schema,
            )

    return extracted.select("url", "warc_ts", "text").mapInArrow(
        _run, schema=ANNOTATIONS
    )


def chunks_from_annotations(ann: DataFrame) -> DataFrame:
    return ann.select(*[f.name for f in CHUNKS.fields])


def mentions_from_annotations(ann: DataFrame) -> DataFrame:
    return ann.select(
        "chunk_uuid",
        "doc_uuid",
        "group_id",
        F.explode("mentions").alias("m"),
    ).select(
        "chunk_uuid",
        "doc_uuid",
        F.col("m.name").alias("name"),
        F.col("m.name_norm").alias("name_norm"),
        F.col("m.kind").alias("kind"),
        F.col("m.ref_uuid").alias("ref_uuid"),
        F.col("m.entity_type").alias("entity_type"),
        F.col("m.begin").alias("begin"),
        F.col("m.end").alias("end"),
        "group_id",
    )


def facts_raw_from_annotations(ann: DataFrame) -> DataFrame:
    exploded = ann.select(
        "chunk_uuid", "doc_uuid", "group_id", F.explode("facts").alias("f")
    )
    return exploded.select(
        *[
            F.col(f"f.{name}").alias(name)
            if name in _FACT_KEYS
            else F.col(name)
            for name in [fld.name for fld in FACTS_RAW.fields]
        ]
    )
