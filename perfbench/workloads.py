"""The two workloads. Each sets up, then repeats its operation until the timed
operations add up to the run length (whole operations only; the query stream
runs whole 8-request cycles so every run has the same class mix), checks
every output outside the timed window, and returns its metrics.

  build  cold KG construction of a seeded crawl (the first build in a fresh
         process; later builds in the window wipe every stage but pages)
  query  closed loop, one client, seeded question stream over a graph built
         and checked during set-up

The incremental path (recrawl MERGE batches) is measured only in a traced
build run: one 40-changed + 10-new page batch merged into the built graph,
each returned table committed, for the upsert layer's per-layer metrics.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import pyarrow.parquet as pq

from checks import DigestRecord, rows_digest, tables_digest
from inputs import ZipfPicker, question_cycle, recrawl_batch, write_documents
from tracing import Tracer

from vanna_financial_knowledge_graph_spark.operators import context as ctx_op
from vanna_financial_knowledge_graph_spark.operators import decompose, embed, readpath
from vanna_financial_knowledge_graph_spark.operators.extract import (
    byte_identity_mismatches,
)
from vanna_financial_knowledge_graph_spark.plans.pipeline import STAGES, PipelineRun

# build stage -> package module that computes it
STAGE_MODULE = {
    "extracted": "extract", "docs": "extract", "annotations": "ingest",
    "chunks": "ingest", "mentions": "ingest", "facts_raw": "ingest",
    "canonical_map": "canonicalize", "entities": "canonicalize",
    "topics": "assemble", "facts": "assemble", "relationships": "assemble",
    "vectors": "embed",
}
# the graph tables recrawl_upsert merges into and returns
RECRAWL_TABLES = ["docs", "chunks", "mentions", "facts_raw", "canonical_map",
                  "entities", "topics", "facts", "relationships"]
CONTEXT_CAP = sum(ctx_op.DEFAULT_CAPS[k] for k in ("high", "low", "topic"))
CLASS_GROUP = {
    "context": "context", "two_stage": "search", "search_entities": "search",
    "search_topics": "search", "facts_around": "graph", "facts_between": "graph",
    "two_hop": "graph", "entity_one_hop": "graph", "topic_one_hop": "graph",
}
HOT_ENTITIES = 3


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_stats(path: str) -> dict:
    """rows_out, bytes_written and skew (max/mean rows per output file) of a
    committed parquet directory, from the file sizes and parquet footers."""
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    rows = [pq.read_metadata(os.path.join(path, f)).num_rows for f in files]
    mean = sum(rows) / len(rows) if rows else 0.0
    return {
        "rows_out": sum(rows),
        "bytes_written": sum(os.path.getsize(os.path.join(path, f)) for f in files),
        "skew": max(rows) / mean if mean else 1.0,
    }


class Run:
    """State shared by a workload's set-up, timed loop and checks."""

    def __init__(self, spark, cfg: dict, seed: int, seconds: float, trace: bool,
                 work: str, out_dir: str, workload: str) -> None:
        self.spark, self.cfg, self.seed, self.seconds = spark, cfg, seed, seconds
        self.work = work
        self.width = cfg["repartition"]
        self.tracer = Tracer(spark.sparkContext, trace)
        self.record = DigestRecord(os.path.join(out_dir, f"digests-{workload}-seed{seed}.json"))
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        # wall time the benchmark spends on its own checks during set-up,
        # taken out of setup_s
        self.check_s = 0.0
        # set-up work that runs inside the first timed call (the build's
        # pages stage), added to setup_s
        self.setup_extra_s = 0.0

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def settle(self, op_ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if op_ok else 1

    def write_documents(self) -> str:
        in_dir = os.path.join(self.work, "in")
        os.makedirs(in_dir, exist_ok=True)
        write_documents(os.path.join(in_dir, "documents.parquet"), self.cfg["docs"], self.seed)
        return in_dir

    def run_pipeline(self, in_dir: str, kg: str) -> tuple[PipelineRun, dict, float]:
        t0 = time.perf_counter()
        run = PipelineRun(self.spark, in_dir, kg, repartition=self.width)
        out = run.run()
        return run, out, time.perf_counter() - t0

    def check_build(self, run: PipelineRun, out: dict, label: str) -> None:
        """Every stage downstream of pages ran, row counts agree, extracted
        text is byte-identical to the pages, every table matches its digest."""
        st = {s: run.stage_stats[s]["rows"] for s in STAGES}
        problems = []
        if [s for s in run.executed if s != "pages"] != STAGES[1:]:
            problems.append(f"executed {run.executed}")
        if st["docs"] != self.cfg["docs"]:
            problems.append(f"{st['docs']} docs from {self.cfg['docs']} pages")
        if st["relationships"] != st["facts"] or st["vectors"] != sum(
                st[s] for s in ("chunks", "entities", "facts", "topics")):
            problems.append(f"inconsistent row counts {st}")
        if not byte_identity_mismatches(out["pages"], out["extracted"]).isEmpty():
            problems.append("byte-identity mismatches")
        for s, d in tables_digest({s: out[s] for s in STAGES}).items():
            if not self.record.check(f"build:{s}", d):
                problems.append(f"digest of {s} differs")
        for p in problems:
            self.fail(f"{label}: {p}")
        self.settle(not problems)

    def spark_counts(self, tops: list[dict]) -> None:
        """Per-operation Spark job/task counts and tracing cost (traced runs)."""
        for key in ("jobs", "tasks", "failed_tasks"):
            self.layer[f"spark.{key}"] = sum(self.tracer.subtree(s, key) for s in tops) / len(tops)
        self.layer["trace.overhead_ms"] = self.tracer.overhead_s * 1000 / len(tops)


# -- build ---------------------------------------------------------------------


def build(r: Run, setup_done) -> dict:
    """The first build in a fresh process is the operation: it is what a user
    pays to turn a crawl into a graph. The pages stage only synthesizes the
    crawl's HTML from the seeded documents, so its time counts as set-up and
    the operation is the DAG downstream of it; later builds in the window
    wipe every stage but pages and resume."""
    in_dir, kg = r.write_documents(), os.path.join(r.work, "kg")
    setup_done()
    stages = STAGES[1:]
    times, runs, tops = [], [], []
    while sum(times) < r.seconds:
        for s in stages:
            shutil.rmtree(os.path.join(kg, s), ignore_errors=True)
        with r.tracer.span("pipeline.run_pipeline", request=len(times)) as sp:
            run, out, wall = r.run_pipeline(in_dir, kg)
        tops.append(sp)
        pages_s = run.stage_stats["pages"]["sec"]
        if not runs:
            r.setup_extra_s = pages_s
        times.append(wall - pages_s)
        runs.append(run)
        r.check_build(run, out, f"build {len(runs) - 1}")

    n_docs = runs[-1].stage_stats["docs"]["rows"]
    r.info["docs_in_graph"] = n_docs
    r.info["stage_s"] = {s: x["sec"] for s, x in runs[0].stage_stats.items()}
    if r.tracer.enabled:
        for s in stages:
            name = f"{STAGE_MODULE[s]}.{s}"
            r.layer[f"{name}.busy_s"] = median([x.stage_stats[s]["sec"] for x in runs])
            for k, v in dir_stats(os.path.join(kg, s)).items():
                r.layer[f"{name}.{k}"] = v
        r.layer["pipeline.overhead_s"] = median(
            [t - sum(x.stage_stats[s]["sec"] for s in stages) for t, x in zip(times, runs)])
        r.spark_counts(tops)
        recrawl_probe(r, runs[-1], out)
    return {"op_ms": [t * 1000 for t in times],
            "items_per_s": n_docs * len(times) / sum(times)}


def recrawl_probe(r: Run, run0: PipelineRun, out0: dict) -> None:
    """One recrawl batch merged into the built graph (traced runs only):
    `recrawl_upsert`, then every returned table committed to a new version
    directory, one span per commit. Checked like a build: the docs table
    holds every url once, and every table matches its recorded digest."""
    from pyspark.sql import functions as F

    from vanna_financial_knowledge_graph_spark.functions.textops import extract_text
    from vanna_financial_knowledge_graph_spark.operators.upsert import recrawl_upsert

    spark, tr = r.spark, r.tracer
    pages = sorted(
        (x.asDict() for x in out0["pages"].select("url", "warc_ts", "html", "lang").collect()),
        key=lambda p: p["url"],
    )
    urls = [p["url"] for p in pages]
    cur = {n: spark.read.parquet(os.path.join(run0.work_dir, n)) for n in RECRAWL_TABLES}
    n_changed, n_new = r.cfg["recrawl_changed"], r.cfg["recrawl_new"]
    batch = spark.createDataFrame(
        recrawl_batch(random.Random(f"recrawl:{r.seed}"), pages, urls, r.seed, 0,
                      n_changed, n_new, extract_text),
        out0["pages"].schema)
    vdir = os.path.join(r.work, "recrawl")
    commits = {}
    with tr.span("upsert.batch", request=-1) as sp:
        with tr.span("upsert.recrawl_upsert") as plan:
            merged = recrawl_upsert(spark, cur, batch, run0.group_id)
        for n, df in merged.items():
            with tr.span(f"upsert.{n}") as commits[n]:
                df.write.mode("overwrite").option("compression", r.cfg["stage_codec"]).parquet(
                    os.path.join(vdir, n))
    cur = {n: spark.read.parquet(os.path.join(vdir, n)) for n in RECRAWL_TABLES}
    n_docs = run0.stage_stats["docs"]["rows"] + n_new
    docs_rows, distinct = cur["docs"].agg(F.count(F.lit(1)), F.countDistinct("doc_uuid")).first()
    ok = docs_rows == n_docs and distinct == n_docs
    if not ok:
        r.fail(f"recrawl: docs has {docs_rows} rows, {distinct} distinct, expected {n_docs}")
    for n, d in tables_digest(cur).items():
        if not r.record.check(f"recrawl:{n}", d):
            ok = False
            r.fail(f"recrawl: digest of {n} differs")
    r.settle(ok)

    r.layer["upsert.batch_s"] = sp["end"] - sp["start"]
    r.layer["upsert.recrawl_upsert.plan_ms"] = (plan["end"] - plan["start"]) * 1000
    for n, cs in commits.items():
        r.layer[f"upsert.{n}.busy_s"] = tr.self_s(cs)
        r.layer[f"upsert.{n}.jobs"] = cs["jobs"]
        r.layer[f"upsert.{n}.rows_out"] = dir_stats(os.path.join(vdir, n))["rows_out"]


# -- query ---------------------------------------------------------------------


def _ranked(rows) -> list[str]:
    return [name for name, _ in sorted(rows, key=lambda x: (-x[1], x[0]))]


def query(r: Run, setup_done) -> dict:
    from pyspark.sql import functions as F

    with r.tracer.span("pipeline.run_pipeline", request=-1):
        run0, out0, _ = r.run_pipeline(r.write_documents(), os.path.join(r.work, "kg"))
    t_check = time.perf_counter()
    r.check_build(run0, out0, "set-up build")
    r.check_s += time.perf_counter() - t_check
    spark = r.spark
    kg = run0.work_dir
    t = {n: spark.read.parquet(os.path.join(kg, n))
         for n in ("entities", "relationships", "chunks", "vectors", "facts", "topics")}
    gid = run0.group_id
    facts = t["facts"]
    ent_names = {x["name"] for x in t["entities"].where(F.col("group_id") == gid).select("name").collect()}
    top_names = {x["name"] for x in t["topics"].where(F.col("group_id") == gid).select("name").collect()}
    mention_rows = (
        facts.select(F.explode(F.array("subject_name", "object_name")).alias("n"))
        .groupBy("n").count().collect()
    )
    ents = _ranked([(x["n"], x["count"]) for x in mention_rows if x["n"] in ent_names])
    tops_ = _ranked([(x["n"], x["count"]) for x in mention_rows if x["n"] in top_names])
    hot = set(ents[:HOT_ENTITIES])
    rng = random.Random(f"query:{r.seed}")
    ent_pick, topic_pick = ZipfPicker(ents), ZipfPicker(tops_)

    def qframe(q):
        return spark.createDataFrame([(q,)], "question string")

    def answer(req: dict) -> list:
        """One request: decompose, dispatch by class, collect the answer."""
        cls, e, tp, q = req["cls"], req["entity"], req["topic"], req["question"]
        tr = r.tracer
        with tr.span("decompose.decompose_questions"):
            d = decompose.decompose_questions(qframe(q)).collect()
        req["decomposed"] = d
        if cls == "context":
            with tr.span("context.build_context", hot=e in hot):
                return ctx_op.build_context(spark, t["entities"], t["relationships"],
                                            t["chunks"], t["vectors"], e, q).collect()
        if cls == "two_stage":
            with tr.span("embed.two_stage_search"):
                return embed.two_stage_search(spark, facts, t["vectors"], [e], q).collect()
        if cls == "search_entities":
            with tr.span("embed.search_entities"):
                hits = embed.search_entities(spark, t["vectors"], t["entities"], q).collect()
            with tr.span("readpath.entities_by_uuids"):
                full = readpath.entities_by_uuids(t["entities"], [h["uuid"] for h in hits]).collect()
            req["hydrated"] = len(full)
            return hits + full
        if cls == "search_topics":
            with tr.span("embed.search_topics"):
                return embed.search_topics(spark, t["vectors"], t["topics"], q).collect()
        if cls in ("facts_around", "facts_between"):
            names, mode = ([e], "around") if cls == "facts_around" else ([e, req["entity2"]], "between")
            with tr.span("readpath.facts_for_entities"):
                return readpath.facts_for_entities(facts, names, mode=mode, chunks=t["chunks"]).collect()
        if cls == "two_hop":
            with tr.span("readpath.two_hop_neighbors"):
                return readpath.two_hop_neighbors(t["entities"], t["relationships"], e).collect()
        if cls == "entity_one_hop":
            with tr.span("readpath.entity_one_hop_chunks"):
                return readpath.entity_one_hop_chunks(t["entities"], t["relationships"], t["chunks"], e).collect()
        with tr.span("readpath.topic_one_hop_chunks"):
            return readpath.topic_one_hop_chunks(t["topics"], t["relationships"], t["chunks"], tp).collect()

    def check(req: dict, rows: list) -> bool:
        cls, e = req["cls"], req["entity"]
        d = req["decomposed"]
        problems = []
        if len(d) != 1 or d[0]["question"] != req["question"]:
            problems.append("decompose row")
        else:
            word = "".join(ch for ch in e.split()[0] if ch.isascii() and (ch.isalnum() or ch == "_"))
            if word[:1].isupper() and word.lower() not in decompose.STOP_WORDS \
                    and word not in d[0]["entity_hints"].split(","):
                problems.append(f"entity hint {word!r} missing")
        limit = {"context": CONTEXT_CAP, "two_stage": 10, "search_entities": 20,
                 "search_topics": 10, "two_hop": 10}.get(cls, 50)
        if cls in ("entity_one_hop", "topic_one_hop"):
            limit = None
            if len({x["chunk_uuid"] for x in rows}) != len(rows):
                problems.append("duplicate chunks")
        if limit is not None and len(rows) > limit:
            problems.append(f"{len(rows)} rows over cap {limit}")
        if cls == "context" and e in hot and not rows:
            problems.append("empty context for a hot entity")
        if cls == "search_entities" and req["hydrated"] * 2 != len(rows):
            problems.append("hydration lost hits")
        if not r.record.check(f"query:{req['question']}", rows_digest(rows)):
            problems.append("answer digest differs")
        for p in problems:
            r.fail(f"{cls} {e!r}: {p}")
        return not problems

    # warm-up on a separate stream: one context request
    warm = question_cycle(random.Random(f"query-warmup:{r.seed}"), ent_pick, topic_pick, 0)
    req = next(q for q in warm if q["cls"] == "context")
    check(req, answer(req))
    setup_done()

    lat: list[tuple[str, float]] = []
    tops = []
    r.tracer.overhead_s = 0.0
    # a traced run covers both class variants of the cycle
    cycles = 0
    while sum(x for _, x in lat) < r.seconds or (r.tracer.enabled and cycles < 2):
        cycles += 1
        for req in question_cycle(rng, ent_pick, topic_pick, cycles - 1):
            with r.tracer.span("query.request", request=len(lat), cls=req["cls"]) as sp:
                t0 = time.perf_counter()
                rows = answer(req)
                lat.append((req["cls"], time.perf_counter() - t0))
            tops.append(sp)
            r.settle(check(req, rows))

    if r.tracer.enabled:
        spans = r.tracer.spans

        def calls(name, **match):
            return [s for s in spans if s["name"] == name and s["request"] is not None
                    and s["request"] >= 0 and all(s.get(k) == v for k, v in match.items())]

        for label, hot_flag in (("hot", True), ("cold", False)):
            cs = calls("context.build_context", hot=hot_flag)
            base = f"context.build_context.{label}"
            r.layer[f"{base}.busy_ms_p50"] = median([r.tracer.self_s(s) * 1000 for s in cs])
            r.layer[f"{base}.jobs"] = median([s["jobs"] for s in cs])
            r.layer[f"{base}.tasks"] = median([s["tasks"] for s in cs])
        for name in ("embed.two_stage_search", "embed.search_entities", "embed.search_topics",
                     "readpath.two_hop_neighbors", "readpath.facts_for_entities",
                     "readpath.entity_one_hop_chunks", "readpath.topic_one_hop_chunks",
                     "readpath.entities_by_uuids", "decompose.decompose_questions"):
            cs = calls(name)
            r.layer[f"{name}.busy_ms_p50"] = median([r.tracer.self_s(s) * 1000 for s in cs])
            r.layer[f"{name}.jobs"] = median([s["jobs"] for s in cs])
        for group in ("context", "search", "graph"):
            r.layer[f"query.{group}.p50_ms"] = median(
                [x * 1000 for c, x in lat if CLASS_GROUP[c] == group])
        r.spark_counts(tops)
    r.info["hot_entities"] = sorted(hot)
    return {"op_ms": [x * 1000 for _, x in lat],
            "items_per_s": len(lat) / sum(x for _, x in lat)}


WORKLOADS = {"build": build, "query": query}

# Per-layer metric names each workload measures (fnmatch patterns); every
# per_layer name in BENCHMARK.json that matches must be produced by the
# traced run, the others are layers the workload bypasses and read 0.
MEASURED = {
    "build": ["extract.*", "ingest.*", "canonicalize.*", "assemble.*", "embed.vectors.*",
              "pipeline.*", "upsert.*", "spark.*", "trace.*"],
    "query": ["context.*", "embed.two_stage_search.*", "embed.search_*", "readpath.*",
              "decompose.*", "query.*", "spark.*", "trace.*"],
}
