"""Dump formatted physical plans of the flagship queries to PLANS.md —
the plan-audit evidence (pushdown, pruning, broadcasts, no cartesians,
zero-exchange bucketed joins) in one reviewable artifact.

Usage: python scripts/dump_plans.py [sf_dir]   (default sf0.001)
"""

from __future__ import annotations

import contextlib
import io
import os
import sys


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    # the literal-cosine expansion (cosine_literal_expr: 64 element_at
    # products) makes single expression lines thousands of chars; elide so
    # the dumped plan stays reviewable — the plan SHAPE is the evidence
    out = []
    for line in buf.getvalue().strip().splitlines():
        if len(line) > 400:
            line = line[:400] + " … (long expression elided; " \
                "codegen'd literal-cosine expansion)"
        out.append(line)
    return "\n".join(out)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    import __spark_entry__ as e
    from vanna_financial_knowledge_graph_spark.session import get_spark

    spark = get_spark("plan-dump", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    qs = {**e.queries(), **e.extra_queries()}
    picks = [
        ("q1_pricing_summary", "pushdown + partial aggregation"),
        ("filter_project_dates", "PushedFilters + pruned ReadSchema"),
        ("two_hop_group_count", "dimension joins broadcast (no SMJ)"),
        ("or_join_union_rewrite", "OR-join as union of equi-joins (no BNLJ)"),
        ("ann_topk_bruteforce", "corpus streams vs broadcast queries + rank window"),
        ("kg_two_hop_neighbors", "graph read path: broadcast seed, count/topk"),
        ("kg_search_two_stage", "two-stage search: hit set broadcast, index never shuffles"),
        ("kg_context_build", "GraphRAG context: staged scans, one tier-pick collect"),
        ("kg_bucketed_join", "zero-exchange co-located join over bucketed tables"),
        ("sessionize_events", "single user_id exchange reused by compound groupBy"),
        ("minhash_near_dup", "shingle -> codegen min-agg -> bucket pair explode"),
        ("salted_join_events", "hot key spread over (key, salt) reducers"),
        ("asof_join_events", "as-of join: union-tag + running last(), ONE key shuffle"),
        ("intersect_except_customers", "SET4 intersect/except operators"),
    ]
    out = [
        "# PLANS — formatted physical plans of the flagship queries",
        "",
        f"Generated by `python scripts/dump_plans.py {sf_dir}` — regenerate after",
        "plan-affecting changes. These are the plans the test suite asserts on",
        "(tests/test_plans.py); kept here so the optimization claims are",
        "reviewable without running Spark.",
        "",
        "Reading note: the `BroadcastNestedLoopJoin Cross` nodes inside the",
        "vector-search plans are the DELIBERATE crossJoin of the corpus with",
        "the broadcast SINGLE-ROW query-vector frame — a 1-row broadcast",
        "cross is the correct physical shape for 'score every row against",
        "the query' (the corpus side never shuffles). The no-cartesian /",
        "no-BNLJ assertions in tests/test_plans.py target the relational",
        "read path, where such a node would be a bug.",
        "",
    ]
    for name, why in picks:
        if name == "kg_context_build":
            # build_context is STAGED: dimension-sized intermediates are
            # driver-collected and fed back as literal predicates, so there
            # is no single monolithic plan. The evidence is the two
            # corpus-touching sub-queries: both bounded scans.
            from pyspark.sql import functions as F

            from vanna_financial_knowledge_graph_spark.functions.embedding import (
                EMBED_DIM,
                embed_text,
            )
            from vanna_financial_knowledge_graph_spark.operators.context import (
                DEFAULT_CAPS,
                tier_pick,
            )
            from vanna_financial_knowledge_graph_spark.operators.dedup import (
                cosine_literal_expr,
            )

            kg = e._kg(spark, sf_dir)
            qv = embed_text("earnings and acquisitions", EMBED_DIM)
            chunk_vecs = kg["vectors"].where(
                (F.col("kind") == "chunk") & (F.col("group_id") == "default")
            ).select(F.col("uuid").alias("chunk_uuid"), "embedding")
            topk = (
                chunk_vecs.withColumn(
                    "score", cosine_literal_expr("embedding", qv)
                )
                .orderBy(F.desc("score"), "chunk_uuid")
                .limit(10)
                .select("chunk_uuid")
            )
            topk.count()
            out += [
                f"## {name} — staged scans, one tier-pick collect",
                "",
                "build_context collects each dimension-sized intermediate",
                "(seed uuid, top-k neighbor uuids + topic uuids in one",
                "tagged collect) and feeds it back as literal predicates:",
                "the edge table is scanned exactly twice with pushable",
                "IN-filters; the chunk-vector table is scanned ONCE into a",
                "skinny cached (chunk_uuid, score) projection that both the",
                "global top-k and the candidate join reuse. The candidate",
                "hit set (corpus-scale for hot entities, ~212k chunks at",
                "sf1.0) is NEVER driver-collected or broadcast. Sub-plan 1",
                "— the only corpus-wide pass, a TakeOrderedAndProject over",
                "the codegen'd literal cosine (never a full sort):",
                "",
                "```",
                _formatted(topk),
                "```",
                "",
                "Sub-plan 2 — the final selection (`tier_pick`), collected",
                "once: source tags collapse map-side before one exchange and",
                "join the skinny scores (no embedding bytes through any",
                "exchange); each candidate explodes into its high/low and",
                "topic tiers, and a row_number per tier keeps the capped",
                "rows — the WindowGroupLimit below the tier exchange keeps",
                "at most max(cap) rows per tier and partition. The driver",
                "then drops the topic rows already admitted to high/low and",
                "hands the selection back as an Arrow LocalRelation",
                "(session.local_frame) for the content join. Here every",
                "relationship chunk stands in for the candidate set:",
                "",
                "```",
            ]
            scored_sk = chunk_vecs.withColumn(
                "score", cosine_literal_expr("embedding", qv)
            ).select("chunk_uuid", "score")
            tags = kg["relationships"].select(
                "chunk_uuid", F.lit("neighbor").alias("source")
            )
            per_chunk = tags.groupBy("chunk_uuid").agg(
                F.max(
                    F.when(
                        F.col("source") != "topic",
                        F.struct(F.lit(1).alias("sr"), F.col("source")),
                    )
                ).alias("m"),
                F.max((F.col("source") == "topic").cast("int")).alias(
                    "has_topic"
                ),
            )
            picked = tier_pick(
                per_chunk.join(scored_sk, "chunk_uuid"), DEFAULT_CAPS, 0.2
            )
            picked.collect()
            out += [_formatted(picked), "```", ""]
            continue
        df = qs[name](spark, sf_dir)
        df.count()  # let AQE finalize so the dumped plan is the executed shape
        out += [f"## {name} — {why}", "", "```", _formatted(df), "```", ""]

    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
