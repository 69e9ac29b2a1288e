"""Explicit StructType schemas for every table (no inference anywhere).

Mirrors the reference's fixed per-table PyArrow schemas
(vanna_kg/storage/parquet/backend.py:129-211) with the type upgrades called
out in SURVEY.md §1.2: aliases -> array<string>, timestamps -> timestamp,
embeddings -> array<float>, position stays int32.
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

DOCS = T.StructType(
    [
        T.StructField("doc_uuid", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("doc_name", T.StringType(), True),
        T.StructField("doc_date", T.StringType(), True),  # ISO, lexicographic compare
        T.StructField("lang", T.StringType(), True),
        # per-document metadata dict, decoded to a typed map (reference
        # stores/loads a JSON metadata dict per document, backend.py:191,
        # queries.py:720-722; SURVEY.md §1.2 metadata -> MapType)
        T.StructField(
            "metadata", T.MapType(T.StringType(), T.StringType()), True
        ),
        T.StructField("group_id", T.StringType(), False),
    ]
)

CHUNKS = T.StructType(
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
    ]
)

MENTIONS = T.StructType(
    [
        T.StructField("chunk_uuid", T.StringType(), False),
        T.StructField("doc_uuid", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("name_norm", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # entity | topic
        T.StructField("ref_uuid", T.StringType(), True),  # registry/ontology id
        T.StructField("entity_type", T.StringType(), True),
        T.StructField("begin", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("group_id", T.StringType(), False),
    ]
)

FACTS_RAW = T.StructType(
    [
        T.StructField("fact_uuid", T.StringType(), False),
        T.StructField("chunk_uuid", T.StringType(), False),
        T.StructField("doc_uuid", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
        T.StructField("subject_name", T.StringType(), False),
        T.StructField("subject_norm", T.StringType(), False),
        T.StructField("subject_type", T.StringType(), True),
        T.StructField("object_name", T.StringType(), False),
        T.StructField("object_norm", T.StringType(), False),
        T.StructField("object_kind", T.StringType(), False),
        T.StructField("object_entity_type", T.StringType(), True),
        T.StructField("relationship_type", T.StringType(), False),
        T.StructField("date_context", T.StringType(), False),
        T.StructField("topics", T.ArrayType(T.StringType()), True),
        T.StructField("group_id", T.StringType(), False),
    ]
)

# Fused ingest row (operators/ingest.py::build_annotations): one CHUNKS row
# with the chunk's MENTIONS and FACTS_RAW rows nested as arrays, each minus
# the keys the chunk row already carries, all nested fields nullable.
_CHUNK_KEYS = {"chunk_uuid", "doc_uuid", "group_id"}


def _nested(table: T.StructType) -> T.ArrayType:
    return T.ArrayType(
        T.StructType(
            [
                T.StructField(f.name, f.dataType, True)
                for f in table.fields
                if f.name not in _CHUNK_KEYS
            ]
        )
    )


ANNOTATIONS = T.StructType(
    [
        *CHUNKS.fields,
        T.StructField("mentions", _nested(MENTIONS), True),
        T.StructField("facts", _nested(FACTS_RAW), True),
    ]
)

ENTITIES = T.StructType(
    [
        T.StructField("uuid", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("summary", T.StringType(), True),
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("aliases", T.ArrayType(T.StringType()), True),
        T.StructField("group_id", T.StringType(), False),
    ]
)

CANONICAL_MAP = T.StructType(
    [
        T.StructField("name_norm", T.StringType(), False),
        T.StructField("entity_uuid", T.StringType(), False),
        T.StructField("canonical_name", T.StringType(), False),
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("component", T.StringType(), False),
        T.StructField("group_id", T.StringType(), False),
    ]
)

FACTS = T.StructType(
    [
        T.StructField("uuid", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
        T.StructField("subject_uuid", T.StringType(), False),
        T.StructField("subject_name", T.StringType(), False),
        T.StructField("object_uuid", T.StringType(), False),
        T.StructField("object_name", T.StringType(), False),
        T.StructField("object_type", T.StringType(), False),  # entity | topic
        T.StructField("relationship_type", T.StringType(), False),
        T.StructField("date_context", T.StringType(), False),
        T.StructField("chunk_uuid", T.StringType(), False),
        T.StructField("group_id", T.StringType(), False),
    ]
)

RELATIONSHIPS = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("from_uuid", T.StringType(), False),
        T.StructField("from_type", T.StringType(), False),
        T.StructField("to_uuid", T.StringType(), False),
        T.StructField("to_type", T.StringType(), False),
        T.StructField("rel_type", T.StringType(), False),
        T.StructField("chunk_uuid", T.StringType(), False),
        T.StructField("fact_id", T.StringType(), False),
        T.StructField("description", T.StringType(), True),
        T.StructField("date_context", T.StringType(), True),
        T.StructField("group_id", T.StringType(), False),
    ]
)

TOPICS = T.StructType(
    [
        T.StructField("uuid", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("definition", T.StringType(), True),
        T.StructField("uri", T.StringType(), True),
        # two-level hierarchy (reference Topic.parent_topic, types/topics.py)
        T.StructField("parent_uuid", T.StringType(), True),
        T.StructField("parent_name", T.StringType(), True),
        T.StructField("group_id", T.StringType(), False),
    ]
)
