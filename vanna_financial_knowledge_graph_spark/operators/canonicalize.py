"""Cross-document entity canonicalization.

The semantic heart of the rebuild (SURVEY.md §2.7): the reference clusters
in-document entities with an embedding-similarity graph + Union-Find
(entity_dedup.py:423-646, utils/clustering.py:17-87) and resolves
cross-document identity against a registry (entity_registry.py:62-212). Here
the same outcome is computed at cluster scale:

1. A deterministic *similarity-edge builder* over distinct surface forms:
   registry alias edges (ticker==company, abbreviation==org, name-variant
   merge rules as data), corporate-suffix-strip edges ("Apple Inc." ~
   "Apple"), and exact normalized-name identity (the reference's same-name
   boost, entity_dedup.py:466-481, is an identity here because the node key
   IS the normalized name).
2. **Connected components by iterative hash-join label propagation**
   (min-label fixpoint), `localCheckpoint` per iteration to cut lineage,
   with an explicit two-phase *salted* min-aggregation so a hot label
   (AAPL/SEC mega-components) never lands on a single reducer.
3. A per-component canonical reducer (entity_dedup.py:354-420 semantics):
   canonical name prefers a registry member, else the longest surface form;
   merged aliases = other member names; deterministic entity uuid =
   sha256('entity', group, canonical_norm, entity_type) — replaces the
   reference's uuid4 (entity_dedup.py:607) for idempotent resume.

Node count = |distinct surface forms| (tiny relative to mentions/facts), so
every join against the resulting canonical map downstream is a broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textops import norm_name
from ..gazetteer import registry_rows
from ..session import local_frame

GROUP_ID = "default"
_SALT_BUCKETS = 16

_TYPE_PRIORITY = {
    "company": 0,
    "organization": 1,
    "person": 2,
    "location": 3,
    "product": 4,
    "concept": 5,
    "unknown": 6,
}


def _registry_surfaces() -> dict[str, tuple[str, str, str, str]]:
    """name_norm -> (canonical_name, canonical_norm, entity_type,
    definition) for every registry surface (canonical + aliases + ticker).
    One entry per normalized surface (case variants collapse);
    deterministic winner = lexicographically smallest canonical_norm."""
    out: dict[str, tuple[str, str, str, str]] = {}
    for r in registry_rows():
        cn = norm_name(r["canonical_name"])
        surfaces = {r["canonical_name"], *r["aliases"]}
        if r["ticker"]:
            surfaces.add(r["ticker"])
        for s in surfaces:
            sn = norm_name(s)
            if sn and (sn not in out or out[sn][1] > cn):
                out[sn] = (r["canonical_name"], cn, r["entity_type"], r["definition"])
    return out


def registry_surfaces_df(spark: SparkSession) -> DataFrame:
    """_registry_surfaces() as a (name_norm, canonical_name, canonical_norm,
    entity_type, definition) DataFrame."""
    return local_frame(
        spark,
        sorted((sn, *v) for sn, v in _registry_surfaces().items()),
        "name_norm string, canonical_name string, canonical_norm string, "
        "entity_type string, definition string",
    )


_SUFFIX_ALT = (
    r"inc\.?|corp\.?|corporation|co\.?|company|ltd\.?|plc|llc|lp|sa|s\.a\.|"
    r"ag|nv|group|holdings|incorporated|limited"
)
_SUFFIX_RE_REPEATED = rf"(?:\s+(?:{_SUFFIX_ALT}))+$"


def strip_suffix_expr(col):
    """Corporate-suffix strip as a native SQL expression (JVM-side, no
    Python workers): identical fixpoint semantics to
    functions.textops.strip_corp_suffix — the repeated group strips any
    number of stacked suffixes ("x co inc. llc holdings" -> "x") in ONE
    regexp_replace pass, and the \\s+ anchor inside the group guarantees at
    least one leading token survives. Agreement with the Python oracle is
    covered by tests/test_canonicalize.py (incl. 4+ stacked suffixes)."""
    return F.regexp_replace(col, _SUFFIX_RE_REPEATED, "")


def _strip_suffix_col(df: DataFrame, src: str, dst: str) -> DataFrame:
    return df.withColumn(dst, strip_suffix_expr(F.col(src)))


def build_entity_nodes_edges(
    spark: SparkSession, mentions: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Distinct entity surface forms -> (nodes, undirected edges)."""
    # one scan of the (large) mentions table; the distinct surface set is
    # tiny, so checkpoint it eagerly — every downstream branch (strip UDF,
    # unions, CC, collect) reuses the materialized rows instead of
    # re-scanning mentions
    surfaces = (
        mentions.where(F.col("kind") == "entity")
        .select("name_norm")
        .distinct()
        .coalesce(8)  # distinct-surface set is tiny; don't drag 64 partitions
        .localCheckpoint(eager=True)
    )
    reg = registry_surfaces_df(spark)
    reg_nodes = reg.select("name_norm").union(
        reg.select(F.col("canonical_norm").alias("name_norm"))
    )

    # suffix-strip virtual nodes: "apple inc" also materializes "apple"
    with_strip = _strip_suffix_col(surfaces, "name_norm", "stripped")
    strip_edges = with_strip.where(F.col("stripped") != F.col("name_norm")).select(
        F.col("name_norm").alias("src"), F.col("stripped").alias("dst")
    )
    alias_edges = reg.where(F.col("name_norm") != F.col("canonical_norm")).select(
        F.col("name_norm").alias("src"), F.col("canonical_norm").alias("dst")
    )
    edges = (
        strip_edges.union(alias_edges).distinct().coalesce(8).localCheckpoint(eager=True)
    )
    nodes = (
        surfaces.union(reg_nodes)
        .union(edges.select(F.col("dst").alias("name_norm")))
        .union(edges.select(F.col("src").alias("name_norm")))
        .distinct()
        .withColumnRenamed("name_norm", "node")
        .coalesce(8)
        .localCheckpoint(eager=True)
    )
    return nodes, edges


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 25,
    small_threshold: int = 200_000,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components -> (node, component), component = min member.

    Size-adaptive physical strategy (same logical result either way):

    * node count <= small_threshold: the graph of *distinct surface forms*
      is orders of magnitude smaller than the mention/fact tables (a few
      hundred thousand strings even for web-scale corpora), so a driver-side
      union-find is both exact and faster than any shuffle — the same
      rationale as Spark broadcasting a small join side. The threshold keeps
      driver memory bounded (~tens of MB of strings).

    * otherwise: **iterative hash-join min-label propagation** — each
      iteration every node takes the min of its own and its neighbors'
      labels, the min-aggregation runs in two *salted* phases keyed by
      (node, salt(label)) then (node) so a hot label (AAPL/SEC
      mega-component) never lands on one reducer, pointer jumping
      (label <- label-of-label) gives O(log diameter) convergence, and
      localCheckpoint per iteration truncates lineage.
    """
    if small_threshold and nodes.count() <= small_threshold:
        node_list = [r["node"] for r in nodes.collect()]
        edge_list = [(r["src"], r["dst"]) for r in edges.collect()]
        comp = union_find_components_py(node_list, edge_list)
        return local_frame(
            nodes.sparkSession,
            [(n, comp[n]) for n in node_list],
            "node string, component string",
        )

    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile
    import time as _time

    spark = nodes.sparkSession
    # the per-iteration scratch below must be readable by every executor:
    # the tmpfs default is only coherent when driver and executors share a
    # host, so off local mode fail before any work rather than mid-loop
    scratch_env = _os.environ.get("VKG_CC_SCRATCH")
    master = spark.sparkContext.master
    if not (scratch_env or master == "local" or master.startswith("local[")):
        raise RuntimeError(
            f"connected_components: master {master!r} is not local mode; set "
            "VKG_CC_SCRATCH to a directory on a filesystem every executor "
            "shares (the per-iteration label scratch)"
        )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = sym.localCheckpoint(eager=True)

    # The carried `labels` frame is materialized to PARQUET each iteration,
    # not localCheckpoint (round-6): checkpointing preserves the child
    # plan's estimated statistics, and the size-only stats visitor
    # MULTIPLIES sizeInBytes through every join — so stats compounded
    # doubly-exponentially across iterations until the driver spent minutes
    # per planning pass multiplying million-bit integers (caught via a
    # driver thread dump, guide §7.3: SizeInBytesOnlyStatsPlanVisitor hot
    # in BigInteger.multiply). A file scan resets stats to real sizes, so
    # growth stays linear; on a cluster the scratch dir is a shared
    # filesystem (VKG_CC_SCRATCH), locally tmpfs.
    scratch_base = scratch_env or (
        "/dev/shm" if _os.path.isdir("/dev/shm") else None
    )
    ckpt_dir = _tempfile.mkdtemp(prefix="vkg_cc_", dir=scratch_base)

    def _roundtrip(df: DataFrame, name: str) -> DataFrame:
        path = _os.path.join(ckpt_dir, name)
        df.write.mode("overwrite").option("compression", "uncompressed").parquet(
            path
        )
        return spark.read.parquet(path)

    # the scratch dir goes on every exit, an iteration that raises included
    try:
        labels = _roundtrip(
            nodes.select(F.col("node"), F.col("node").alias("label")), "labels_0"
        )

        # Delta propagation (round-6): after the mega-components converge, most
        # nodes' labels are stable, yet the old loop re-shuffled every edge and
        # re-aggregated every node each iteration. An offer from an UNCHANGED
        # neighbor is redundant (its label was already folded in the iteration
        # it last changed), so:
        #   * min-offers flow only from edges whose dst changed last iteration,
        #   * the pointer-jump lookup is restricted to nodes whose label points
        #     into the recently-changed set (a stale pointer is impossible: a
        #     node that acquires a label is jump-examined the same iteration,
        #     and a node whose label's label later drops sees that target in
        #     the next delta),
        #   * convergence = empty delta, replacing the full-table changed-count
        #     join.
        # The fixpoint is the same component-min labeling — improvements land
        # with at most the same one-iteration delay the original schedule had —
        # validated analytically at 1.5M nodes by scripts/bench_cc_scale.py and
        # against the driver union-find by pytest. Late iterations now cost
        # delta-sized joins plus map-side scans of the checkpointed frames
        # instead of full shuffles (guide §2.4).
        delta = labels
        prev_changed = None
        for _it in range(max_iter):
            _t0 = _time.time()
            # once the delta is provably small (its exact row count is last
            # iteration's `changed`), hint it broadcast so the big frames (sym,
            # labels, stepped) stop shuffling — late iterations become pure
            # map-side scans; checkpointed frames carry estimated stats the
            # planner won't trust for an automatic conversion
            small = prev_changed is not None and prev_changed <= 100_000

            def _b(df: DataFrame) -> DataFrame:
                return F.broadcast(df) if small else df

            offers = (
                sym.alias("e")
                .join(_b(delta).alias("d"), F.col("e.dst") == F.col("d.node"))
                .select(F.col("e.src").alias("node"), F.col("d.label").alias("label"))
            )
            # two-phase salted min: partial min per (node, salt) bucket, then
            # final min per node (min is associative, so salting is lossless)
            upd = (
                offers.withColumn(
                    "salt", F.pmod(F.xxhash64(F.col("label")), F.lit(_SALT_BUCKETS))
                )
                .groupBy("node", "salt")
                .agg(F.min("label").alias("label"))
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
            # strict improvements only
            s_delta = (
                _b(upd).alias("u")
                .join(labels.alias("l"), "node")
                .where(F.col("u.label") < F.col("l.label"))
                .select("node", F.col("u.label").alias("label"))
                .localCheckpoint(eager=True)
            )
            stepped = (
                labels.alias("l")
                .join(_b(s_delta).alias("s"), "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("l.label"), F.coalesce(F.col("s.label"), F.col("l.label"))
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            # pointer jumping (label <- label's label), delta-targeted: look up
            # stepped() only for keys that can yield an improvement — the
            # labels held by just-changed nodes and the changed node ids
            # themselves. O(log diameter) convergence is preserved.
            look_keys = (
                s_delta.select(F.col("label").alias("lnode"))
                .union(s_delta.select(F.col("node").alias("lnode")))
                .union(delta.select(F.col("node").alias("lnode")))
                .distinct()
            )
            lk = stepped.join(
                _b(look_keys), stepped["node"] == look_keys["lnode"]
            ).select(F.col("lnode"), F.col("label").alias("llabel"))
            j_delta = (
                stepped.alias("a")
                .join(_b(lk).alias("b"), F.col("a.label") == F.col("b.lnode"))
                .where(F.col("b.llabel") < F.col("a.label"))
                .groupBy(F.col("a.node").alias("node"))
                .agg(F.min("b.llabel").alias("label"))
                .localCheckpoint(eager=True)
            )
            new_labels = _roundtrip(
                stepped.alias("t")
                .join(j_delta.alias("j"), "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("t.label"), F.coalesce(F.col("j.label"), F.col("t.label"))
                    ).alias("label"),
                ),
                f"labels_{(_it + 1) % 2}",
            )
            delta = (
                _b(
                    s_delta.select("node")
                    .union(j_delta.select("node"))
                    .distinct()
                )
                .join(new_labels, "node")
                .localCheckpoint(eager=True)
            )
            changed = delta.count()
            prev_changed = changed
            labels = new_labels
            # observability hook (scripts/bench_cc_scale.py): per-iteration
            # wall + label-change count, no extra jobs beyond the existing
            # convergence check
            if stats is not None:
                stats.setdefault("iterations", []).append(
                    {
                        "iter": _it,
                        "changed": changed,
                        "sec": round(_time.time() - _t0, 2),
                    }
                )
            if changed == 0:
                break
        # hand the result back OFF the scratch dir (one checkpoint of the final
        # parquet scan — its stats are real file sizes, so nothing compounds),
        # then drop the scratch files
        out = labels.withColumnRenamed("label", "component").localCheckpoint(
            eager=True
        )
    finally:
        _shutil.rmtree(ckpt_dir, ignore_errors=True)
    return out


def _canonical_map_driver(
    spark: SparkSession,
    surface_stats: list[tuple],
    group_id: str,
) -> DataFrame:
    """Driver-side canonical map for small distinct-surface sets: identical
    logic to the distributed path (struct-max canonical pick, min-member
    components) computed in plain Python — one Spark aggregation job in,
    one local frame out. Equality with the distributed path is asserted
    by tests/test_canonicalize.py::test_canonical_paths_agree."""
    from ..functions.textops import stable_id, strip_corp_suffix

    reg = _registry_surfaces()

    # surface pick per name_norm: max by (cnt, name, entity_type)
    pick: dict[str, tuple] = {}
    for name_norm, name, etype, cnt in surface_stats:
        key = (cnt, name, etype)
        if name_norm not in pick or key > pick[name_norm][0]:
            pick[name_norm] = (key, name, etype)

    # nodes and deterministic edges (suffix-strip + registry aliases)
    nodes = set(pick) | set(reg) | {v[1] for v in reg.values()}
    edges: list[tuple[str, str]] = []
    for n in set(pick):
        stripped = strip_corp_suffix(n)
        if stripped != n:
            edges.append((n, stripped))
            nodes.add(stripped)
    for sn, (_, cn, _, _) in reg.items():
        if sn != cn:
            edges.append((sn, cn))
    comp = union_find_components_py(sorted(nodes), edges)

    # per-component canonical pick: max struct(is_registry, len, display,
    # 9-type_rank, etype, definition) — same ordering as the Spark struct
    info: dict[str, tuple] = {}
    for n in nodes:
        if n in reg:
            canonical_name, _, etype, definition = reg[n]
            is_reg = True
        elif n in pick:
            canonical_name, etype, definition, is_reg = pick[n][1], pick[n][2], "", False
        else:
            canonical_name, etype, definition, is_reg = n, "unknown", "", False
        info[n] = (
            is_reg,
            len(canonical_name),
            canonical_name,
            9 - _TYPE_PRIORITY.get(etype, 9),
            etype,
            definition,
        )
    best: dict[str, tuple] = {}
    for n, c in comp.items():
        if c not in best or info[n] > best[c]:
            best[c] = info[n]

    rows = []
    for n in sorted(nodes):
        b = best[comp[n]]
        etype = "concept" if b[4] == "unknown" else b[4]
        rows.append(
            (
                n,
                stable_id("entity", group_id, b[2].lower(), etype),
                b[2],
                etype,
                comp[n],
                group_id,
            )
        )
    return local_frame(
        spark,
        rows,
        "name_norm string, entity_uuid string, canonical_name string, "
        "entity_type string, component string, group_id string",
    )


def build_canonical_map(
    spark: SparkSession,
    mentions: DataFrame,
    group_id: str = GROUP_ID,
    small_threshold: int = 200_000,
) -> DataFrame:
    """mentions -> canonical_map(name_norm, entity_uuid, canonical_name,
    entity_type, component). Small output: one row per distinct surface.

    Size-adaptive like connected_components: below the threshold the whole
    reduction runs driver-side off ONE aggregation job (the distinct-surface
    stats); above it, the distributed path (salted CC + struct-max joins).
    """
    surface_counts = (
        mentions.where(F.col("kind") == "entity")
        .groupBy("name_norm", "name", "entity_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if small_threshold:
        # Size gate BEFORE any driver materialization: the aggregated row
        # count upper-bounds |distinct name_norm|, so collect() only ever
        # runs on a set already proven to fit the threshold. (Distributed
        # executors aggregate either way; only the tiny result may land on
        # the driver.)
        surface_counts = surface_counts.persist()
        try:
            if surface_counts.count() <= small_threshold:
                stats = [
                    (r["name_norm"], r["name"], r["entity_type"], r["cnt"])
                    for r in surface_counts.collect()
                ]
                return _canonical_map_driver(spark, stats, group_id)
        finally:
            surface_counts.unpersist()

    nodes, edges = build_entity_nodes_edges(spark, mentions)
    comp = connected_components(nodes, edges)

    reg = registry_surfaces_df(spark)

    # Per-node display info: registry wins; else the most frequent surface
    # spelling from the corpus (deterministic max_by with name/type tiebreak,
    # identical ordering to the driver path).
    surface_pick = (
        surface_counts.groupBy("name_norm")
        .agg(
            F.max_by(
                F.struct(F.col("name"), F.col("entity_type")),
                F.struct(F.col("cnt"), F.col("name"), F.col("entity_type")),
            ).alias("pick")
        )
        .select(
            "name_norm",
            F.col("pick.name").alias("mention_name"),
            F.col("pick.entity_type").alias("mention_type"),
        )
    )

    node_info = (
        comp.withColumnRenamed("node", "name_norm")
        .join(F.broadcast(reg), "name_norm", "left")
        .join(F.broadcast(surface_pick), "name_norm", "left")
        .select(
            "name_norm",
            "component",
            F.col("canonical_name").isNotNull().alias("is_registry"),
            F.coalesce("canonical_name", "mention_name", "name_norm").alias("display"),
            F.coalesce("entity_type", "mention_type", F.lit("unknown")).alias("etype"),
            F.coalesce("definition", F.lit("")).alias("definition"),
        )
    )

    type_rank = F.coalesce(
        *[
            F.when(F.col("etype") == t, F.lit(r))
            for t, r in _TYPE_PRIORITY.items()
        ],
        F.lit(9),
    )
    best = (
        node_info.withColumn("type_rank", type_rank)
        .groupBy("component")
        .agg(
            F.max(
                F.struct(
                    F.col("is_registry"),
                    F.length("display").alias("dlen"),
                    F.col("display"),
                    (F.lit(9) - F.col("type_rank")).alias("trank"),
                    F.col("etype"),
                    F.col("definition"),
                )
            ).alias("b")
        )
        .select(
            "component",
            F.col("b.display").alias("canonical_name"),
            F.when(F.col("b.etype") == "unknown", F.lit("concept"))
            .otherwise(F.col("b.etype"))
            .alias("entity_type"),
            F.col("b.definition").alias("definition"),
        )
    )

    return (
        node_info.select("name_norm", "component")
        .join(F.broadcast(best), "component")
        .select(
            "name_norm",
            F.sha2(
                F.concat_ws(
                    "\x1f",
                    F.lit("entity"),
                    F.lit(group_id),
                    F.lower(F.col("canonical_name")),
                    F.col("entity_type"),
                ),
                256,
            ).alias("entity_uuid"),
            "canonical_name",
            "entity_type",
            "component",
            F.lit(group_id).alias("group_id"),
        )
    )


def build_entities(
    spark: SparkSession,
    canonical_map: DataFrame,
    mentions: DataFrame,
    group_id: str = GROUP_ID,
) -> DataFrame:
    """Vertex table: one row per canonical entity that actually appears in
    the corpus, aliases = other observed surface spellings (sorted set),
    summary = registry definition when known (deterministic stand-in for the
    reference's LLM summary merge, entity_registry.py:193-211)."""
    reg = registry_surfaces_df(spark).select(
        F.col("canonical_norm").alias("cn"), F.col("definition")
    ).dropDuplicates(["cn"])

    observed = (
        mentions.where(F.col("kind") == "entity")
        .select("name_norm", "name")
        .join(F.broadcast(canonical_map), "name_norm")
        .groupBy("entity_uuid", "canonical_name", "entity_type")
        .agg(
            F.array_sort(
                F.array_distinct(
                    F.array_remove(F.collect_set("name"), "")
                )
            ).alias("surfaces")
        )
    )
    return (
        observed.withColumn("cn", F.lower(F.col("canonical_name")))
        .join(F.broadcast(reg), "cn", "left")
        .select(
            F.col("entity_uuid").alias("uuid"),
            F.col("canonical_name").alias("name"),
            F.coalesce("definition", F.lit("")).alias("summary"),
            "entity_type",
            F.array_remove(F.col("surfaces"), F.col("canonical_name")).alias("aliases"),
            F.lit(group_id).alias("group_id"),
        )
    )


def union_find_components_py(
    n_nodes: list[str], edge_list: list[tuple[str, str]]
) -> dict[str, str]:
    """Single-node oracle for tests: classic union-find over string keys,
    component id = min member (same contract as connected_components)."""
    parent: dict[str, str] = {x: x for x in n_nodes}
    for a, b in edge_list:
        parent.setdefault(a, a)
        parent.setdefault(b, b)

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict[str, str] = {}
    for x in parent:
        r = find(x)
        comp_min[r] = min(comp_min.get(r, x), x)
    return {x: comp_min[find(x)] for x in parent}
