"""Connected-components + canonicalization tests: Spark label propagation
cross-checked against the single-node union-find oracle (the reference's
clustering contract, utils/clustering.py:17-87), plus the dedup merge-rule
traps from entity_dedup.py:137-165."""

import random

import pyspark.sql.functions as F
import pytest

from vanna_financial_knowledge_graph_spark.operators.canonicalize import (
    connected_components,
    union_find_components_py,
)


def _cc_spark(spark, nodes, edges, distributed=True):
    ndf = spark.createDataFrame([(n,) for n in nodes], "node string")
    edf = (
        spark.createDataFrame(edges, "src string, dst string")
        if edges
        else spark.createDataFrame([], "src string, dst string")
    )
    # small_threshold=0 forces the distributed salted label-propagation path
    thresh = 0 if distributed else 1_000_000
    return {
        r["node"]: r["component"]
        for r in connected_components(ndf, edf, small_threshold=thresh).collect()
    }


def test_cc_matches_union_find_random():
    rng = random.Random(42)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes))
        for _ in range(90)
    ]
    oracle = union_find_components_py(nodes, edges)
    # spark result (needs an active session)
    from vanna_financial_knowledge_graph_spark.session import get_spark

    spark = get_spark("vkg-tests", cpus=8, shuffle_partitions=8)
    got = _cc_spark(spark, nodes, edges)
    assert got == {k: v for k, v in oracle.items() if k in got}


def test_cc_hot_hub_skew(spark):
    """Star graph around one hub (the AAPL mega-component shape): one
    component, min label wins."""
    nodes = [f"x{i:03d}" for i in range(200)]
    edges = [("hub", n) for n in nodes]
    got = _cc_spark(spark, nodes + ["hub"], edges)
    assert set(got.values()) == {"hub"}  # 'hub' < 'x000' lexicographically


def test_cc_chain_converges(spark):
    """Long path graph needs several propagation iterations."""
    nodes = [f"c{i:02d}" for i in range(30)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(29)]
    got = _cc_spark(spark, nodes, edges)
    assert set(got.values()) == {"c00"}


def test_cc_isolated_nodes(spark):
    got = _cc_spark(spark, ["a", "b", "c"], [])
    assert got == {"a": "a", "b": "b", "c": "c"}


def test_cc_small_and_distributed_paths_agree(spark):
    """The size-adaptive fast path must be indistinguishable from the
    distributed label-propagation path."""
    rng = random.Random(7)
    nodes = [f"m{i:03d}" for i in range(80)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(50)]
    assert _cc_spark(spark, nodes, edges, distributed=True) == _cc_spark(
        spark, nodes, edges, distributed=False
    )


def test_cc_failed_iteration_leaves_no_scratch(spark, tmp_path, monkeypatch):
    """An iteration that raises must still remove the vkg_cc_* scratch dir
    of the distributed path."""
    monkeypatch.setenv("VKG_CC_SCRATCH", str(tmp_path))

    def _boom(self):
        raise RuntimeError("iteration failed")

    monkeypatch.setattr(type(spark.range(1)), "count", _boom)
    with pytest.raises(RuntimeError, match="iteration failed"):
        _cc_spark(spark, ["a", "b", "c"], [("a", "b")])
    assert not list(tmp_path.glob("vkg_cc_*"))



def test_cc_off_local_mode_needs_scratch_env(spark, monkeypatch):
    """Off local mode the per-iteration scratch must be a shared
    filesystem: with VKG_CC_SCRATCH unset the distributed path fails fast,
    before it checkpoints, writes or iterates anything."""
    import tempfile

    from pyspark.sql import DataFrame

    def _ran(*_a, **_k):
        raise AssertionError("distributed CC started work")

    monkeypatch.delenv("VKG_CC_SCRATCH", raising=False)
    monkeypatch.setattr(spark.sparkContext, "master", "spark://cluster:7077")
    monkeypatch.setattr(DataFrame, "localCheckpoint", _ran)
    monkeypatch.setattr(tempfile, "mkdtemp", _ran)
    with pytest.raises(RuntimeError, match="VKG_CC_SCRATCH"):
        _cc_spark(spark, ["a", "b", "c"], [("a", "b")])

# --- canonical-map merge rules (reference dedup traps) -----------------------


def test_merge_rules(kg):
    cmap = {
        r["name_norm"]: (r["entity_uuid"], r["canonical_name"])
        for r in kg["canonical_map"].collect()
    }

    def uuid_of(n):
        return cmap[n][0]

    # ticker == company, alias == company (merge)
    assert uuid_of("aapl") == uuid_of("apple inc.") == uuid_of("apple")
    assert uuid_of("sec") == uuid_of("securities and exchange commission")
    assert uuid_of("fed") == uuid_of("federal reserve")
    # subsidiaries and people stay DISTINCT (entity_dedup.py:149-153 traps)
    assert uuid_of("aws") != uuid_of("amazon.com inc.")
    assert uuid_of("google") != uuid_of("alphabet inc.")
    assert uuid_of("youtube") != uuid_of("google")
    assert uuid_of("tim cook") != uuid_of("apple inc.")
    assert uuid_of("iphone") != uuid_of("apple inc.")
    assert uuid_of("goldman sachs") != uuid_of("morgan stanley")


def test_canonical_names_prefer_registry(kg):
    rows = {r["name_norm"]: r["canonical_name"] for r in kg["canonical_map"].collect()}
    assert rows["aapl"] == "Apple Inc."
    assert rows["the fed"] == "Federal Reserve"


def test_entities_aliases_collected(kg):
    apple = kg["entities"].where(F.col("name") == "Apple Inc.").collect()
    assert len(apple) == 1
    assert "AAPL" in apple[0]["aliases"] or "Apple" in apple[0]["aliases"]


def test_canonical_paths_agree(spark, kg):
    """Driver-side and distributed canonical-map paths must be row-identical."""
    from vanna_financial_knowledge_graph_spark.operators.canonicalize import (
        build_canonical_map,
    )

    mentions = kg["mentions"]
    fast = {
        tuple(r)
        for r in build_canonical_map(spark, mentions, small_threshold=10**9).collect()
    }
    dist = {
        tuple(r)
        for r in build_canonical_map(spark, mentions, small_threshold=0).collect()
    }
    assert fast == dist


def test_sql_strip_agrees_with_python(spark):
    """strip_suffix_expr (JVM) must agree with textops.strip_corp_suffix
    (Python oracle) on every gazetteer surface plus adversarial strings."""
    import pyspark.sql.functions as F

    from vanna_financial_knowledge_graph_spark.functions.textops import (
        norm_name,
        strip_corp_suffix,
    )
    from vanna_financial_knowledge_graph_spark.gazetteer import gazetteer_entries
    from vanna_financial_knowledge_graph_spark.operators.canonicalize import (
        strip_suffix_expr,
    )

    samples = [e[0] for e in gazetteer_entries()] + [
        norm_name(x)
        for x in [
            "Acme Co Inc.", "Solo", "inc", "x s.a.", "big holdings group",
            "co co co co", "trailing space co ", "Group Therapy Group",
            # 4+ stacked suffixes: both paths must strip to fixpoint
            "x co inc. llc holdings", "y inc inc inc inc inc",
            "zeta corp ltd plc sa ag nv group",
        ]
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {
        r["s"]: r["out"]
        for r in df.select("s", strip_suffix_expr(F.col("s")).alias("out")).collect()
    }
    for s in samples:
        assert got[s] == strip_corp_suffix(s), s


def test_entity_uuid_deterministic(kg):
    from vanna_financial_knowledge_graph_spark.functions.textops import stable_id

    apple = kg["entities"].where(F.col("name") == "Apple Inc.").first()
    assert apple["uuid"] == stable_id("entity", "default", "apple inc.", "company")
