"""Spark pipeline integration tests at sf0.001: byte identity, chunk
invariants, golden-triple P/R, linking semantics."""

import pyspark.sql.functions as F
import pytest

from vanna_financial_knowledge_graph_spark.functions.matching import (
    Matcher,
    extract_triples,
)
from vanna_financial_knowledge_graph_spark.functions.textops import chunk_text
from vanna_financial_knowledge_graph_spark.gazetteer import gazetteer_entries
from vanna_financial_knowledge_graph_spark.operators.extract import (
    byte_identity_mismatches,
    byte_identity_report,
)


def test_byte_identity_zero_mismatches(kg):
    """The per-row invariant from BASELINE.json input_hint."""
    assert byte_identity_mismatches(kg["pages"], kg["extracted"]).count() == 0
    row = byte_identity_report(kg["pages"], kg["extracted"]).first()
    assert row["n_urls"] > 0 and row["n_mismatched"] == 0


def test_chunk_positions_per_doc(kg):
    bad = (
        kg["chunks"]
        .groupBy("doc_uuid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("position").alias("mn"),
            F.max("position").alias("mx"),
        )
        .where((F.col("mn") != 0) | (F.col("mx") != F.col("n") - 1))
        .count()
    )
    assert bad == 0


def test_chunk_uuids_unique(kg):
    n = kg["chunks"].count()
    assert kg["chunks"].select("chunk_uuid").distinct().count() == n


def test_min_chunk_chars(kg):
    assert kg["chunks"].where(F.length("content") < 50).count() == 0


def test_all_facts_have_date_context(kg):
    assert (
        kg["facts"]
        .where(F.col("date_context").isNull() | (F.col("date_context") == ""))
        .count()
        == 0
    )


def test_relationship_per_fact(kg):
    assert kg["relationships"].count() == kg["facts"].count()
    # provenance chunk present on every edge
    assert kg["relationships"].where(F.col("chunk_uuid").isNull()).count() == 0


def test_facts_endpoint_uuids_resolve(kg):
    ents = kg["entities"].select(F.col("uuid").alias("subject_uuid"))
    unresolved = kg["facts"].join(ents, "subject_uuid", "left_anti").count()
    assert unresolved == 0


@pytest.fixture(scope="module")
def golden_triples(spark, kg):
    """Single-node oracle: run the same pure functions driver-side over the
    collected pages (feasible at sf0.001) -> the golden triple set."""
    pages = kg["pages"].select("url", "text", "warc_ts").collect()
    matcher = Matcher(gazetteer_entries())
    golden = set()
    for r in pages:
        date = str(r["warc_ts"].date())
        for ch in chunk_text(r["text"]):
            ms = matcher.find(ch["content"])
            for f in extract_triples("c", ch["content"], date, ms):
                golden.add(
                    (r["url"], f["subject_norm"], f["relationship_type"], f["object_norm"])
                )
    return golden


def test_triple_precision_recall_vs_oracle(kg, golden_triples):
    """North-rule gate: P/R >= 0.95 vs the single-node golden set (should be
    exactly 1.0 since the Spark DAG runs the same pure functions)."""
    spark_triples = {
        (r["url"], r["subject_norm"], r["relationship_type"], r["object_norm"])
        for r in kg["facts_raw"]
        .join(kg["chunks"].select("chunk_uuid", "url"), "chunk_uuid")
        .select("url", "subject_norm", "relationship_type", "object_norm")
        .collect()
    }
    tp = len(spark_triples & golden_triples)
    precision = tp / max(len(spark_triples), 1)
    recall = tp / max(len(golden_triples), 1)
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"
    # determinism bonus: the rule engine should agree exactly
    assert precision == 1.0 and recall == 1.0


def test_hot_entity_skew_present(kg):
    """The synthetic corpus must actually exercise the skew path: AAPL in a
    large fraction of documents (FIXTURES.md §9 skew set)."""
    apple_docs = (
        kg["mentions"]
        .where(F.col("name_norm") == "apple inc.")
        .select("doc_uuid")
        .distinct()
        .count()
    )
    total_docs = kg["docs"].count()
    assert apple_docs / total_docs > 0.25


def test_pipeline_dedup_urls_end_to_end(spark, tmp_path):
    """Planting the same urls across input partitions must yield one
    doc/chunk set: fact and chunk counts are invariant to input duplication
    because run_pipeline collapses duplicate urls by default."""
    from vanna_financial_knowledge_graph_spark.plans.pipeline import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(6)
    sf_base = str(tmp_path / "sf_base")
    sf_dup = str(tmp_path / "sf_dup")
    docs.write.parquet(f"{sf_base}/documents.parquet")
    # same rows twice, spread over 2 partitions -> dup urls across partitions
    docs.union(docs).repartition(2).write.parquet(f"{sf_dup}/documents.parquet")

    base = run_pipeline(spark, sf_base, str(tmp_path / "w_base"))
    dup = run_pipeline(spark, sf_dup, str(tmp_path / "w_dup"))

    assert dup["docs"].count() == base["docs"].count() == 6
    assert dup["chunks"].count() == base["chunks"].count()
    assert dup["facts"].count() == base["facts"].count()
    n = dup["chunks"].count()
    assert dup["chunks"].select("chunk_uuid").distinct().count() == n

    # with the collapse disabled, duplication visibly doubles the fact rows
    raw = run_pipeline(
        spark, sf_dup, str(tmp_path / "w_raw"), dedup_urls=False
    )
    assert raw["facts"].count() == 2 * base["facts"].count()


def test_dedupe_pages_latest_wins(spark):
    import datetime as dt

    from vanna_financial_knowledge_graph_spark.sources.pages import dedupe_pages

    rows = [
        ("u1", dt.datetime(2025, 1, 1), b"<p>old</p>", "old", "en"),
        ("u1", dt.datetime(2025, 6, 1), b"<p>new</p>", "new", "en"),
        ("u2", dt.datetime(2025, 3, 1), b"<p>only</p>", "only", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    got = {r["url"]: r["text"] for r in dedupe_pages(pages).collect()}
    assert got == {"u1": "new", "u2": "only"}
    got_e = {r["url"]: r["text"] for r in dedupe_pages(pages, "earliest").collect()}
    assert got_e["u1"] == "old"


def test_docs_metadata_map(kg):
    """documents.metadata is a typed MapType(String,String) populated from
    page headers (reference JSON metadata dict, backend.py:191,
    queries.py:720-722; SURVEY §1.2)."""
    import pyspark.sql.functions as F

    rows = kg["docs"].select("url", "lang", "doc_date", "metadata").collect()
    assert rows
    for r in rows:
        md = r["metadata"]
        assert set(md) == {"lang", "host", "crawl_day"}
        assert md["lang"] == (r["lang"] or "")
        assert md["crawl_day"] == (r["doc_date"] or "")
        assert md["host"] and md["host"] in r["url"]


def test_topics_table_carries_ontology_namespace(kg):
    """The topics stage stores corpus topics AND the full ontology behind
    group_id='ontology' (reference keeps the ontology in the same table
    behind that tenant filter, topic_resolver.py:357-369); the vectors
    stage embeds both namespaces."""
    import pyspark.sql.functions as F
    from vanna_financial_knowledge_graph_spark.gazetteer import ontology_rows

    by_gid = {
        r["group_id"]: r["n"]
        for r in kg["topics"].groupBy("group_id").agg(F.count("*").alias("n")).collect()
    }
    assert by_gid.get("ontology") == len(ontology_rows())
    assert by_gid.get("default", 0) > 0
    vec_gids = {
        (r["kind"], r["group_id"])
        for r in kg["vectors"].select("kind", "group_id").distinct().collect()
    }
    assert ("topic", "ontology") in vec_gids and ("topic", "default") in vec_gids


def test_embed_text_unicode_invariants(kg):
    """The kg_vectors oracle recomputes the feature-hash encoder in DuckDB;
    its tokenization parity (Python str.split/str.lower vs RE2 \\s+ /
    DuckDB lower) requires that no embedded text contains (a) a non-ASCII
    char Python treats as whitespace but RE2 \\s does not (NBSP, \\x85,
    unicode spaces, \\x0b, \\x1c-\\x1f), or (b) a non-ASCII char whose
    lowercase differs from itself (case mappings can diverge between
    engines). Pin both so a future corpus change fails HERE with a clear
    message instead of as an oracle value mismatch."""
    import pyspark.sql.functions as F

    # \x0b \x1c-\x1f \x85 NBSP ogham en..hair-space LS PS NNBSP
    # math-space ideographic-space: every char where Python
    # str.split and RE2 \s disagree
    ws = ("\\x0b\\x1c-\\x1f\\x85\\u00a0\\u1680"
          "\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000")

    sources = [
        kg["chunks"].select(F.col("content").alias("t")),
        kg["entities"].select(F.concat_ws(" ", "name", "summary").alias("t")),
        kg["facts"].select(F.col("content").alias("t")),
        kg["topics"].select(F.concat_ws(": ", "name", "definition").alias("t")),
    ]
    all_text = sources[0]
    for s in sources[1:]:
        all_text = all_text.unionByName(s)
    bad_ws = all_text.where(F.col("t").rlike(f"[{ws}]")).count()
    assert bad_ws == 0, f"{bad_ws} rows with exotic whitespace"
    # non-ASCII chars present must be case-stable (c.lower() == c)
    chars = {
        c
        for (row,) in all_text.select(
            F.explode(F.split(F.col("t"), "")).alias("c")
        ).where(F.col("c") != "").distinct().collect()
        for c in [row]
        if ord(row) > 127
    }
    unstable = {c for c in chars if c.lower() != c or c.isspace()}
    assert not unstable, f"case/space-unstable non-ASCII chars: {unstable!r}"


def test_stage_schemas_match_schemas_py(kg):
    """Every table schemas.py declares is written with exactly that layout:
    same field names in order, same types. Parquet read-backs are nullable,
    so nullability is not compared."""
    from pyspark.sql.types import StructType

    from vanna_financial_knowledge_graph_spark import schemas

    declared = {
        name.lower(): s
        for name, s in vars(schemas).items()
        if isinstance(s, StructType)
    }
    assert set(declared) == {
        "pages", "docs", "annotations", "chunks", "mentions", "facts_raw",
        "entities", "canonical_map", "facts", "relationships", "topics",
    }

    def layout(schema):
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    for stage, schema in declared.items():
        # kg[stage] is spark.read.parquet of the stage's output directory
        assert layout(kg[stage].schema) == layout(schema), stage
