"""Deduplication operator tests: exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding near-dup."""

import re

import pytest
from pyspark.sql import functions as F

from vanna_financial_knowledge_graph_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while markets rallied on "
    "strong earnings and easing inflation across the technology sector today"
)


@pytest.fixture(scope="module")
def docs(spark):
    near = BASE.replace("today", "yesterday")  # ~1 token differs
    other = (
        "completely different content about agriculture subsidies and rural "
        "credit conditions in the midwest farm belt during harvest season"
    )
    rows = [
        (1, BASE),
        (2, BASE),          # exact dup of 1
        (3, near),          # near dup of 1
        (4, other),
        (5, "  " + BASE + "  "),  # whitespace variant
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dup_groups(docs):
    got = D.exact_dup_groups(docs).collect()
    assert len(got) == 1
    assert got[0]["doc_ids"] == [1, 2] and got[0]["dup_count"] == 2


def test_normalized_fingerprint_catches_ws_variant(docs):
    fp = {r["doc_id"]: r["fingerprint"] for r in D.normalized_fingerprint(docs).collect()}
    assert fp[1] == fp[2] == fp[5]
    assert fp[1] != fp[4]


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.minhash_near_dups(docs, threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs and (3, 4) not in pairs


def test_jaccard_matches_python_oracle(spark, docs):
    """Exact shingle Jaccard vs a driver-side computation."""

    def shingle_set(t, k=3):
        toks = t.lower().split()
        if len(toks) < k:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    a, b = shingle_set(rows[1]), shingle_set(rows[3])
    expected = round(len(a & b) / len(a | b), 4)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.minhash_near_dups(docs, threshold=0.1).collect()
    }
    assert got[(1, 3)] == pytest.approx(expected, abs=1e-4)


def test_simhash_identical_and_near(docs):
    fp = {r["doc_id"]: r["simhash"] for r in D.simhash_fingerprints(docs).collect()}
    assert fp[1] == fp[2]  # identical text -> identical simhash
    ham13 = bin((fp[1] ^ fp[3]) & 0xFFFFFFFFFFFFFFFF).count("1")
    ham14 = bin((fp[1] ^ fp[4]) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham13 < ham14  # near-dup closer than unrelated


def test_simhash_near_dups_pairs(docs):
    got = {
        (r["doc_a"], r["doc_b"])
        for r in D.simhash_near_dups(docs, max_hamming=8).collect()
    }
    assert (1, 2) in got


def test_embedding_near_dups(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0], 0),
            (2, [0.999, 0.04, 0.0], 0),   # near dup of 1
            (3, [0.0, 1.0, 0.0], 0),      # orthogonal
            (4, [1.0, 0.0, 0.0], 1),      # same vector, other block -> not compared
        ],
        "vec_id long, embedding array<float>, label int",
    )
    got = {(r["id_a"], r["id_b"]) for r in D.embedding_near_dups(emb, "label", 0.95).collect()}
    assert got == {(1, 2)}


def test_lsh_bucket_cap_drops_megabuckets(spark):
    """Boilerplate guard: a bucket above max_bucket contributes no pairs."""
    docs = spark.createDataFrame(
        [(i, BASE) for i in range(20)], "doc_id long, text string"
    )
    sh = D.shingles(docs)
    sig = D.minhash_signatures(sh, 8)
    pairs = D.lsh_candidate_pairs(sig, bands=2, rows_per_band=4, max_bucket=5)
    assert pairs.count() == 0


def test_duplicate_doc_id_rows_emit_no_self_pairs(docs):
    """A doc_id repeated in the input lands twice in its own buckets; the
    SimHash and LSH pair generators must not pair it with itself."""
    sig = D.minhash_signatures(D.shingles(docs), 32)
    for name, once, twice in (
        (
            "simhash",
            D.simhash_near_dups(docs, max_hamming=8),
            D.simhash_near_dups(docs.union(docs), max_hamming=8),
        ),
        ("lsh", D.lsh_candidate_pairs(sig), D.lsh_candidate_pairs(sig.union(sig))),
    ):
        got = {(r["doc_a"], r["doc_b"]) for r in twice.collect()}
        assert not [p for p in got if p[0] == p[1]], (name, got)
        assert got == {(r["doc_a"], r["doc_b"]) for r in once.collect()}, name


def test_minhash_signature_deterministic(spark, docs):
    a = D.minhash_signatures(D.shingles(docs), 16).collect()
    b = D.minhash_signatures(D.shingles(docs), 16).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_cosine_expr_correct(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<float>, b array<float>"
    )
    got = df.select(D.cosine_expr("a", "b").alias("c")).first()["c"]
    import numpy as np

    a, b = np.array([1, 2, 3.0]), np.array([4, 5, 6.0])
    exp = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert got == pytest.approx(exp, rel=1e-9)


def test_simhash_recall_exact_vs_bruteforce(spark):
    """Recall oracle: planted exact + near dups whose differing bits land in
    arbitrary positions (incl. the top 16 the old single-prefix probe missed).
    Multi-band candidates + exact verify must EQUAL the brute-force all-pairs
    truth at max_hamming=3 (pigeonhole: 3 < 4 bands => recall 1.0)."""
    import itertools
    import random

    rng = random.Random(7)
    words = [f"tok{i}" for i in range(400)]
    docs = []
    did = 0
    for _ in range(8):
        toks = rng.sample(words, 40)
        docs.append((did, " ".join(toks)))
        docs.append((did + 1, " ".join(toks)))  # exact dup: hamming 0
        for _ in range(2):  # near variants: 1-2 token swaps
            t = toks[:]
            for _ in range(rng.randint(1, 2)):
                t[rng.randrange(len(t))] = rng.choice(words)
            did += 1
            docs.append((did + 1, " ".join(t)))
        did += 2
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fp = {
        r["doc_id"]: r["simhash"] & 0xFFFFFFFFFFFFFFFF
        for r in D.simhash_fingerprints(df).collect()
    }
    truth = {
        (a, b)
        for a, b in itertools.combinations(sorted(fp), 2)
        if bin(fp[a] ^ fp[b]).count("1") <= 3
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in D.simhash_near_dups(df, max_hamming=3).collect()
    }
    assert truth, "planting produced no in-radius pairs (fixture bug)"
    assert got == truth


def test_minhash_candidate_recall_planted(spark):
    """Candidate-recall check for MinHash LSH: planted high-jaccard pairs
    (one token changed in 60) must all surface through the band buckets.
    Deterministic: signatures are seeded xxhash64, no RNG at runtime."""
    import random

    rng = random.Random(13)
    words = [f"w{i}" for i in range(500)]
    docs, expect = [], set()
    for g in range(10):
        toks = rng.sample(words, 60)
        a, b = 2 * g, 2 * g + 1
        variant = toks[:]
        variant[30] = "CHANGED"
        docs.append((a, " ".join(toks)))
        docs.append((b, " ".join(variant)))
        expect.add((a, b))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # 16 bands x 2 rows: per-pair miss probability (1-j^2)^16 ~ 1e-11 at
    # j=0.90 (vs ~2e-4 for 8x4, which deterministically misses one plant)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_near_dups(df, threshold=0.7, bands=16).collect()
    }
    assert expect <= got


def test_minhash_slots_independent(spark):
    """Signature slots must be DIFFERENT hash functions: for a doc with many
    shingles, distinct slots should rarely collide (the i=i default-arg
    transform bug made all 32 slots identical)."""
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(80)))], "doc_id long, text string"
    )
    sig = D.minhash_signatures(D.shingles(df), 32).first()["signature"]
    assert len(set(sig)) > 16


def test_dedup_collapse_keeps_min_per_group(spark, docs):
    """Terminal dedup step: near-dup groups collapse to their min-id doc."""
    pairs = D.minhash_near_dups(docs, threshold=0.5).select("doc_a", "doc_b")
    kept, mapping = D.dedup_collapse(docs, pairs)
    kept_ids = {r["doc_id"] for r in kept.collect()}
    # docs 1,2,3,5 are all near-dups of each other -> survivor 1; 4 distinct
    assert kept_ids == {1, 4}
    m = {r["doc_id"]: r["kept_id"] for r in mapping.collect()}
    assert m[2] == 1 and m[3] == 1 and m[5] == 1 and m[4] == 4
    # numeric (not lexicographic) min survives even past 9 vs 10
    big = spark.createDataFrame(
        [(9, "same text here"), (10, "same text here")], "doc_id long, text string"
    )
    bpairs = spark.createDataFrame([(9, 10)], "doc_a long, doc_b long")
    bkept, _ = D.dedup_collapse(big, bpairs)
    assert {r["doc_id"] for r in bkept.collect()} == {9}


def test_dedup_collapse_id_type_safety(spark):
    """Negative longs (xxhash64-derived ids) and string uuids both collapse
    correctly; unsupported id types raise instead of silently nulling."""
    docs = spark.createDataFrame(
        [(-5, "a"), (3, "a"), (7, "b"), (-9, "c")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(-5, 3)], "doc_a long, doc_b long")
    kept, mapping = D.dedup_collapse(docs, pairs)
    assert {r["doc_id"] for r in kept.collect()} == {-5, 7, -9}
    m = {r["doc_id"]: r["kept_id"] for r in mapping.collect()}
    assert m == {-5: -5, 3: -5, 7: 7, -9: -9}

    sdocs = spark.createDataFrame(
        [("u-b", "x"), ("u-a", "x"), ("u-c", "y")], "doc_id string, text string"
    )
    spairs = spark.createDataFrame([("u-b", "u-a")], "doc_a string, doc_b string")
    kept2, mapping2 = D.dedup_collapse(sdocs, spairs)
    assert {r["doc_id"] for r in kept2.collect()} == {"u-a", "u-c"}
    m2 = {r["doc_id"]: r["kept_id"] for r in mapping2.collect()}
    assert m2 == {"u-a": "u-a", "u-b": "u-a", "u-c": "u-c"}

    with pytest.raises(TypeError):
        D.dedup_collapse(
            docs.withColumn("doc_id", F.col("doc_id").cast("double")), pairs
        )


def test_dedup_collapse_cc_over_pair_endpoints_only(spark):
    """Docs in no pair never enter CC: with an empty pair set the collapse
    is a pure pass-through (no label propagation over the corpus)."""
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(20)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    kept, mapping = D.dedup_collapse(docs, pairs)
    assert kept.count() == 20
    assert mapping.where(F.col("doc_id") != F.col("kept_id")).count() == 0


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_dedup_collapse_random_graph_vs_union_find(spark, seed):
    """Randomized cross-check: collapse over a random pair graph (with
    negative ids) must agree with a driver-side union-find."""
    import random

    rng = random.Random(seed)
    ids = rng.sample(range(-50, 50), 40)
    pairs = [
        tuple(rng.sample(ids, 2)) for _ in range(25)
    ]
    docs = spark.createDataFrame([(i, f"t{i}") for i in ids], "doc_id long, text string")
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    _kept, mapping = D.dedup_collapse(docs, pdf)
    got = {r["doc_id"]: r["kept_id"] for r in mapping.collect()}

    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots: dict[int, int] = {}
    for i in ids:
        r = find(i)
        roots.setdefault(r, r)
    expect = {i: min(j for j in ids if find(j) == find(i)) for i in ids}
    assert got == expect


def test_dedup_collapse_pair_type_mismatch_raises(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    pairs = spark.createDataFrame([("1", "2")], "doc_a string, doc_b string")
    with pytest.raises(TypeError, match="mismatched key types"):
        D.dedup_collapse(docs, pairs)


def test_embedding_near_dups_lsh_recall(spark):
    """Multi-table LSH blocking must recover (nearly) all true high-cosine
    pairs found by an exact all-pairs computation. Deterministic seeds."""
    import itertools

    import numpy as np

    rng = np.random.RandomState(3)
    dim, n_clusters, per = 64, 5, 6
    rows, vid = [], 0
    for _ in range(n_clusters):
        c = rng.randn(dim)
        c /= np.linalg.norm(c)
        for _ in range(per):
            v = c + 0.01 * rng.randn(dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    M = np.stack([np.array(r[1]) for r in rows])
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = M @ M.T
    truth = {
        (a, b)
        for a, b in itertools.combinations(range(vid), 2)
        if S[a, b] >= 0.95
    }
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_near_dups_lsh(df, threshold=0.95).collect()
    }
    assert got <= truth  # precision 1.0: every emitted pair verified exact
    assert truth, "fixture planted no in-threshold pairs"
    assert len(got & truth) / len(truth) >= 0.95, (len(got), len(truth))


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_jaccard_verify_broadcasts_only_pairs(spark, docs):
    """Only the skinny pair set may broadcast: no BroadcastExchange input
    carries a shingle array (sh_a / sh_b)."""
    pairs = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long")
    out = D.jaccard_verify(pairs, D.shingles(docs), threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert got == {(1, 2), (1, 3)}
    sections = _formatted_plan(out).split("\n\n")
    bcast = [s for s in sections if re.match(r"\(\d+\) BroadcastExchange", s)]
    assert bcast, "the pair set must still broadcast"
    for s in bcast:
        assert "sh_a" not in s and "sh_b" not in s, s


def _subtree(plan: str, marker: str) -> list[str]:
    """Lines of the first plan node containing every marker word, then
    its descendants (the deeper-indented lines that follow it)."""
    lines = plan.splitlines()

    def depth(ln: str) -> int:
        return re.search(r"[A-Za-z]", ln).start()

    i = next(i for i, ln in enumerate(lines) if all(m in ln for m in marker.split()))
    out = [lines[i]]
    for ln in lines[i + 1 :]:
        if depth(ln) <= depth(lines[i]):
            break
        out.append(ln)
    return out


@pytest.mark.parametrize("gen", ["lsh", "simhash"])
def test_bucket_size_counted_before_collect(spark, gen):
    """A bucket of max_bucket + 1 members is dropped by a count filter
    BELOW the collect_list aggregate, so no hot bucket's member array is
    ever built; the normal bucket still pairs."""
    max_bucket = 5
    hot = list(range(1, max_bucket + 2))
    if gen == "lsh":
        sig = spark.createDataFrame(
            [(d, list(range(32))) for d in hot]
            + [(d, list(range(100, 132))) for d in (100, 101)],
            "doc_id long, signature array<long>",
        )
        out = D.lsh_candidate_pairs(sig, max_bucket=max_bucket)
    else:
        docs = spark.createDataFrame(
            [(d, BASE) for d in hot]
            + [(d, "agriculture subsidies and rural credit") for d in (100, 101)],
            "doc_id long, text string",
        )
        out = D.simhash_near_dups(docs, max_bucket=max_bucket)
    assert {(r["doc_a"], r["doc_b"]) for r in out.collect()} == {(100, 101)}
    below = _subtree(
        out._jdf.queryExecution().optimizedPlan().toString(), "Aggregate collect_list"
    )[1:]
    assert any("Filter" in ln for ln in below), below
    assert any("count(" in ln for ln in below), below
