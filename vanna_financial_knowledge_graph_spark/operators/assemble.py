"""Assembly: link raw facts to canonical uuids and materialize the graph.

Covers the reference's assembly stage (ingestion/assembly/assembler.py:46-248):
  * J8 entity-linking join — extracted facts resolve subject/object names
    against the canonical map; facts with unresolved endpoints are dropped
    (inner-join semantics of knowledge_graph.py:341-370).
  * J9 uuid remap — canonical_map already encodes the cross-doc remap, so the
    left-join + coalesce collapses into the same broadcast join.
  * G14 edge materializer — one relationship row per fact, provenance
    chunk_uuid carried, object_type entity|topic (assembler.py:215-248).
  * G15 entity-type label map — vertex types already normalized to the
    6-value enum; unknown -> concept (assembler.py:203-213).

All joins broadcast the small side (canonical map / ontology: O(distinct
surface forms)), so the fact table — the 100TB-scale side — never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..gazetteer import ontology_rows
from ..session import local_frame

GROUP_ID = "default"


ONTOLOGY_GROUP_ID = "ontology"  # reference namespace filter, topic_resolver.py:357-369


def ontology_df(spark: SparkSession) -> DataFrame:
    rows = [
        (
            t["topic_uuid"], t["label"], t["definition"], t["uri"],
            t["parent_uuid"], t["parent_label"], s,
        )
        for t in ontology_rows()
        for s in [t["label"], *t["synonyms"]]
    ]
    from ..functions.textops import norm_name

    rows = [r[:-1] + (norm_name(r[-1]),) for r in rows]
    return local_frame(
        spark,
        rows,
        "topic_uuid string, label string, definition string, uri string, "
        "parent_uuid string, parent_label string, surface_norm string",
    ).dropDuplicates(["surface_norm"])


def ontology_topics(spark: SparkSession) -> DataFrame:
    """The FULL ontology as topic vertex rows under the reserved
    group_id='ontology' namespace — the reference stores the ontology in the
    same topics table behind this tenant filter (topic_resolver.py:357-369),
    so P1 group_id predicates separate corpus topics from ontology rows."""
    from ..schemas import TOPICS

    rows = [
        (
            t["topic_uuid"], t["label"], t["definition"], t["uri"],
            t["parent_uuid"], t["parent_label"], ONTOLOGY_GROUP_ID,
        )
        for t in ontology_rows()
    ]
    return local_frame(spark, rows, TOPICS)


def build_topics(
    spark: SparkSession, mentions: DataFrame, group_id: str = GROUP_ID
) -> DataFrame:
    """Topic vertex table: ontology entries observed in the corpus (the
    deterministic variant of topic resolution G12 — match by label/synonym,
    case/whitespace-insensitive, topic_resolver.py:87-90,165-182)."""
    onto = ontology_df(spark)
    seen = (
        mentions.where(F.col("kind") == "topic")
        .select(F.col("name_norm").alias("surface_norm"))
        .distinct()
    )
    return (
        seen.join(F.broadcast(onto), "surface_norm")
        .select(
            F.col("topic_uuid").alias("uuid"),
            F.col("label").alias("name"),
            "definition",
            "uri",
            "parent_uuid",
            F.col("parent_label").alias("parent_name"),
            F.lit(group_id).alias("group_id"),
        )
        .dropDuplicates(["uuid"])
    )


def link_facts(
    spark: SparkSession,
    facts_raw: DataFrame,
    canonical_map: DataFrame,
    group_id: str = GROUP_ID,
) -> DataFrame:
    """facts_raw -> facts with resolved endpoint uuids (J8/J9).

    Subject always resolves through the canonical entity map; object
    resolves through the canonical map when it's an entity and through the
    ontology when it's a topic. Unresolvable endpoints drop the fact
    (reference semantics: knowledge_graph.py:348-370).
    """
    cmap = F.broadcast(
        canonical_map.select(
            "name_norm",
            F.col("entity_uuid"),
            F.col("canonical_name"),
            F.col("entity_type"),
        )
    )
    onto = F.broadcast(
        ontology_df(spark).select(
            F.col("surface_norm").alias("name_norm"),
            F.col("topic_uuid"),
            F.col("label"),
        )
    )

    subj = cmap.select(
        F.col("name_norm").alias("subject_norm"),
        F.col("entity_uuid").alias("subject_uuid"),
        F.col("canonical_name").alias("subject_canonical"),
    )
    obj_e = cmap.select(
        F.col("name_norm").alias("object_norm"),
        F.col("entity_uuid").alias("obj_entity_uuid"),
        F.col("canonical_name").alias("obj_entity_name"),
    )
    obj_t = onto.select(
        F.col("name_norm").alias("object_norm"),
        F.col("topic_uuid").alias("obj_topic_uuid"),
        F.col("label").alias("obj_topic_name"),
    )

    linked = (
        facts_raw.join(subj, "subject_norm")  # inner: unresolved subject drops
        .join(obj_e, "object_norm", "left")
        .join(obj_t, "object_norm", "left")
        .withColumn(
            "object_uuid",
            F.when(F.col("object_kind") == "topic", F.col("obj_topic_uuid")).otherwise(
                F.col("obj_entity_uuid")
            ),
        )
        .withColumn(
            "object_canonical",
            F.when(F.col("object_kind") == "topic", F.col("obj_topic_name")).otherwise(
                F.col("obj_entity_name")
            ),
        )
        .where(F.col("object_uuid").isNotNull())
    )
    return linked.select(
        F.col("fact_uuid").alias("uuid"),
        "content",
        "subject_uuid",
        F.col("subject_canonical").alias("subject_name"),
        "object_uuid",
        F.col("object_canonical").alias("object_name"),
        F.col("object_kind").alias("object_type"),
        "relationship_type",
        "date_context",
        "chunk_uuid",
        F.lit(group_id).alias("group_id"),
    )


def build_relationships(facts: DataFrame, group_id: str = GROUP_ID) -> DataFrame:
    """One edge row per fact with chunk provenance (assembler.py:215-248)."""
    return facts.select(
        F.sha2(
            F.concat_ws("\x1f", F.lit("edge"), F.col("uuid")), 256
        ).alias("id"),
        F.col("subject_uuid").alias("from_uuid"),
        F.lit("entity").alias("from_type"),
        F.col("object_uuid").alias("to_uuid"),
        F.col("object_type").alias("to_type"),
        F.col("relationship_type").alias("rel_type"),
        "chunk_uuid",
        F.col("uuid").alias("fact_id"),
        F.col("content").alias("description"),
        "date_context",
        F.lit(group_id).alias("group_id"),
    )
