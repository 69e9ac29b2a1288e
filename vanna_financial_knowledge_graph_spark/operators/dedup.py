"""Document deduplication operators for large-scale training-data pipelines.

All hot paths stay JVM-side: exact dedup is a hash groupBy; MinHash
signatures are computed with higher-order functions (transform/aggregate
over xxhash64) — no Python in the loop; LSH candidate generation is a
band-bucket self-join (shuffle keyed on (band, band_hash), never an O(n²)
cross join); verification jaccard uses array_intersect/array_union.
SimHash uses one Arrow-vectorized pandas UDF (unique tokens factorized per
batch, FNV-hashed once each, majority vote as bit-plane bincounts).

Scale notes (100 TB): the only shuffles are groupBy(hash) for exact dedup
and the band-bucket exchange for LSH; both are uniformly keyed by
construction (hash keys), so no skew handling is needed. Candidate pairs per
bucket are bounded by bucket size; pathological buckets (boilerplate) should
be capped with a per-bucket limit before pairing — exposed as `max_bucket`.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact duplicates: (text_hash, dup_count, doc_ids)."""
    return (
        documents.select(
            F.col("doc_id"), F.md5(F.col(text_col)).alias("text_hash")
        )
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.array_sort(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .where(F.col("dup_count") > 1)
    )


def normalized_fingerprint(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace/case-insensitive content fingerprint per doc."""
    normed = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return documents.select(
        "doc_id", F.md5(normed).alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (shingle -> minhash -> band -> bucket-join)
# ---------------------------------------------------------------------------


def _tokens(text_col: str):
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def shingles(documents: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """k-word shingles as a distinct array per doc (JVM-side)."""
    toks = _tokens(text_col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0)))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return documents.select(
        "doc_id", F.array_distinct(sh).alias("shingles")
    )


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 32
) -> DataFrame:
    """num_hashes-wide MinHash signature: signature[i] = min over shingles
    of xxhash64(s, i).

    Physical shape: explode the shingle array, project num_hashes plain
    xxhash64 columns, hash-aggregate min() per doc. All three steps run in
    WholeStageCodegen — measured ~10x the equivalent
    array_min(transform(...)) formulation, whose per-element lambdas are
    interpreted, not codegen'd. The groupBy(doc_id) shuffle is near-free: a
    doc's shingles live in one input row, so map-side partial aggregation
    collapses to one row per doc before the exchange.

    NOTE if ever reverting to the HOF form: transform lambdas must be UNARY —
    a second parameter (even a default like `i=i`) switches F.transform into
    (element, index) mode and the "seed" silently becomes the array position,
    collapsing all slots into one hash function (caught by
    tests/test_dedup.py::test_minhash_slots_independent).
    """
    # explode_outer keeps docs whose shingle array is null/empty (they get
    # an all-null signature row, matching the old HOF formulation)
    exploded = sh.select("doc_id", F.explode_outer("shingles").alias("s"))
    hashed = exploded.select(
        "doc_id",
        *[F.xxhash64("s", F.lit(i)).alias(f"h{i}") for i in range(num_hashes)],
    )
    mins = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )
    sig = F.array(*[F.col(f"h{i}") for i in range(num_hashes)])
    return mins.select("doc_id", sig.alias("signature"))


def _bucket_members(
    banded: DataFrame, keys: list[str], member: str, max_bucket: int
) -> DataFrame:
    """(keys..., ms) for every bucket of 2..max_bucket members, ms the
    collected `member` list. The size is COUNTED first (a window count over
    the bucket's partition, which spills) and filtered below the
    collect_list, so a hot bucket's member array is never built — one
    boilerplate band value can hold millions of docs. The collect reuses
    the window's bucket partitioning: still one exchange."""
    n = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    return (
        banded.withColumn("n", n)
        .where((F.col("n") >= 2) & (F.col("n") <= max_bucket))
        .groupBy(*keys)
        .agg(F.collect_list(member).alias("ms"))
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket: int = 50,
) -> DataFrame:
    """Band the signature, pair up within (band, band_hash) buckets.

    Emits candidate (doc_a, doc_b) pairs with doc_a < doc_b. Buckets larger
    than max_bucket are dropped (boilerplate guard — logged upstream).

    Round-6 physical rewrite, same pairs: ONE groupBy collects each
    bucket's member list and in-bucket combinations are generated by a
    nested posexplode/slice — the old self-join shape evaluated the whole
    signature subtree TWICE (once per join side, nothing materialized
    between); now the upstream runs once, through one exchange, and no
    join remains (guide §2.4). The size guard counts before it collects
    (_bucket_members)."""
    banded = signatures.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    F.col("signature"),
                                    b * rows_per_band + 1,
                                    rows_per_band,
                                ),
                                lambda x: x.cast("string"),
                            ),
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )
    buckets = _bucket_members(banded, ["band", "band_hash"], "doc_id", max_bucket)
    return (
        buckets.select(F.posexplode("ms").alias("i", "x"), "ms")
        .select(
            "x",
            F.explode(F.slice(F.col("ms"), F.col("i") + 2, F.size("ms"))).alias(
                "y"
            ),
        )
        .select(
            F.least("x", "y").alias("doc_a"), F.greatest("x", "y").alias("doc_b")
        )
        .where(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, sh: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs (array set ops, JVM-side).

    Only the skinny PAIR side broadcasts (round-6): candidates are
    band-bucket-capped upstream (max_bucket), so the pair set is orders of
    magnitude smaller than the shingle table, and the a-side shingles stream
    past it. Nothing that carries a shingle array is ever broadcast — a
    dup-heavy corpus multiplies the pairs, and each row would carry a whole
    array — so the b-side is a sort-merge join: it shuffles and spills
    instead of landing on the driver."""
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        F.broadcast(pairs)
        .join(a, "doc_a")
        .join(b.hint("merge"), "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def minhash_near_dups(
    documents: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle -> sign -> band -> verify.

    Round-6 shape: the corpus-wide shingle table has exactly ONE consumer
    (the signature aggregation), so it pipelines inline — no materialized
    checkpoint of heavy shingle arrays (the r3 shape checkpointed them for
    three consumers; the verify sides now recompute shingles for CANDIDATE
    docs only, a bucket-capped set orders of magnitude below the corpus,
    off a broadcast semi-join — guide §8: decide with small rows, move the
    heavy bytes once). Only the tiny verified-candidate pair set is
    checkpointed, so its LSH subtree runs once, not three times."""
    sig = minhash_signatures(shingles(documents, text_col, k), num_hashes)
    pairs = lsh_candidate_pairs(sig, bands, num_hashes // bands).localCheckpoint(
        eager=True
    )
    cand = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_cand = shingles(
        documents.join(F.broadcast(cand), "doc_id"), text_col, k
    )
    return jaccard_verify(pairs, sh_cand, threshold).orderBy("doc_a", "doc_b")


_SIGN_OFFSET = "9223372036854775808"  # 2^63, as a string (exceeds long range)


def dedup_collapse(
    documents: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Collapse near-duplicate groups to one canonical survivor each.

    Near-dup pairs (doc_a, doc_b) union into groups via the same salted
    connected-components machinery as entity canonicalization (component id
    = min member by contract), so the kept doc per group IS the component
    value — no extra reduction. Returns (deduplicated documents,
    mapping(doc_id, kept_id)) with identity rows for docs in no pair.

    Type-safe key scheme: string ids (chunk/doc uuids) pass through verbatim
    (survivor = lexicographic min); integer ids are offset by 2^63 via
    decimal arithmetic and zero-padded, so the lexicographic min IS the
    numeric min INCLUDING negative ids (xxhash64-derived ids are signed —
    the old plain lpad silently cast '-5'-padded keys back to NULL). Any
    other id type raises.

    Scale shape: CC runs over PAIR ENDPOINTS ONLY (bounded by the verified
    near-dup pair count, orders of magnitude below the corpus) — docs in no
    pair never enter label propagation. The corpus-side work is one
    left_anti against the broadcast LOSER set (pair members that aren't
    their component min), so the 100TB side never shuffles."""
    from .canonicalize import connected_components

    dtype = dict(documents.dtypes)[id_col]
    if dtype == "string":
        def _key(c):
            return F.col(c)

        def _unkey(c):
            return F.col(c)
    elif dtype in ("tinyint", "smallint", "int", "bigint"):
        def _key(c):
            return F.lpad(
                (
                    F.col(c).cast("decimal(20,0)")
                    + F.lit(_SIGN_OFFSET).cast("decimal(20,0)")
                ).cast("string"),
                20,
                "0",
            )

        def _unkey(c):
            return (
                F.col(c).cast("decimal(21,0)")
                - F.lit(_SIGN_OFFSET).cast("decimal(21,0)")
            ).cast("long")
    else:
        raise TypeError(
            f"dedup_collapse: unsupported id type {dtype!r} for {id_col!r} "
            "(expected string or integer)"
        )
    pair_types = dict(pairs.dtypes)
    for c in ("doc_a", "doc_b"):
        if pair_types.get(c) != dtype:
            raise TypeError(
                f"dedup_collapse: pairs.{c} is {pair_types.get(c)!r} but "
                f"{id_col!r} is {dtype!r} — mismatched key types would "
                "null out silently in the key encoding"
            )

    nodes = (
        pairs.select(_key("doc_a").alias("node"))
        .union(pairs.select(_key("doc_b").alias("node")))
        .distinct()
    )
    edges = pairs.select(_key("doc_a").alias("src"), _key("doc_b").alias("dst"))
    comp = connected_components(nodes, edges)
    pair_mapping = comp.select(
        _unkey("node").alias(id_col), _unkey("component").alias("kept_id")
    )
    # docs in no pair: identity mapping, trivially kept (left_anti against
    # the broadcast pair-member set — bounded by the pair graph)
    members = pair_mapping.select(id_col)
    identity = (
        documents.select(id_col)
        .join(F.broadcast(members), id_col, "left_anti")
        .select(F.col(id_col), F.col(id_col).alias("kept_id"))
    )
    mapping = pair_mapping.unionByName(identity)
    losers = pair_mapping.where(F.col(id_col) != F.col("kept_id")).select(id_col)
    kept = documents.join(F.broadcast(losers), id_col, "left_anti")
    return kept, mapping


# ---------------------------------------------------------------------------
# SimHash (64-bit, Arrow-vectorized)
# ---------------------------------------------------------------------------


from pyspark.sql.types import LongType


def _fnv1a64(tok: str) -> int:
    """FNV-1a 64-bit: stable across processes (unlike Python's hash())."""
    h = 0xCBF29CE484222325
    for ch in tok.encode("utf-8"):
        h = ((h ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


@pandas_udf(LongType())
def _simhash64(texts: pd.Series) -> pd.Series:
    """Batch-vectorized SimHash: tokens across the whole Arrow batch are
    FACTORIZED so each distinct token is FNV-hashed exactly once (natural
    text repeats tokens heavily — 'the', tickers, boilerplate), then the
    64-bit majority vote runs as 64 bit-plane bincounts over the doc-index
    vector instead of a per-doc Python loop. Semantics are bit-identical to
    the per-token formulation: duplicate tokens in a doc still vote once per
    occurrence (codes index back into the unique-hash table per occurrence).

    Physical note: the bit-plane loop (scalar shift + bincount, ~0.4 s per
    600k tokens) deliberately avoids materializing the (n_tokens, 64) bit
    matrix — large temporaries hit this box's memory bandwidth wall
    (np.add.reduceat on the full matrix measured 20x slower)."""
    import numpy as np

    tok_lists = [(t or "").lower().split() for t in texts]
    lens = np.array([len(x) for x in tok_lists], dtype=np.int64)
    n_docs = len(tok_lists)
    out = np.zeros(n_docs, dtype=np.int64)
    flat = [tok for toks in tok_lists for tok in toks]
    if flat:
        codes, uniques = pd.factorize(pd.Index(flat), sort=False)
        uh = np.fromiter(
            (_fnv1a64(tok) for tok in uniques), dtype=np.uint64, count=len(uniques)
        )
        hs = uh[codes].view(np.int64)  # per-occurrence hashes
        doc_idx = np.repeat(np.arange(n_docs), lens)
        sums = np.empty((n_docs, 64), dtype=np.int64)
        for b in range(64):
            mask = ((hs >> b) & 1).astype(bool)
            sums[:, b] = np.bincount(doc_idx[mask], minlength=n_docs)
        nz = np.flatnonzero(lens)
        maj = (sums[nz] * 2 >= lens[nz][:, None]).astype(np.uint64)
        packed = (maj << np.arange(64, dtype=np.uint64)).sum(axis=1, dtype=np.uint64)
        out[nz] = packed.astype(np.int64)
    return pd.Series(out)


# The function IS deterministic; the marker only tells the optimizer it may
# not duplicate or reorder the evaluation. Without it, the posexplode's
# size()>0 filter is pushed below the _docs_wide re-fan exchange and the
# UDF runs TWICE per row — two ArrowEvalPython nodes in the plan, one
# below and one above the exchange (guide §4.4; measured ~1.5s of the
# sf1.0 simhash query).
_simhash64 = _simhash64.asNondeterministic()


def simhash_fingerprints(
    documents: DataFrame, text_col: str = "text", bands: int = 4
) -> DataFrame:
    """64-bit SimHash per doc, banded into `bands` equal bit-slices
    (multi-table probing, Manku et al. WWW'07): by pigeonhole, any pair
    within Hamming distance < bands agrees on at least one whole band, so
    banded candidate generation has recall 1.0 for max_hamming <= bands-1
    (tests/test_dedup.py::test_simhash_recall_exact_vs_bruteforce)."""
    width = 64 // bands
    mask = F.lit((1 << width) - 1)
    fp = documents.select("doc_id", _simhash64(F.col(text_col)).alias("simhash"))
    band_vals = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), b * width).bitwiseAND(mask)
            for b in range(bands)
        ]
    )
    return fp.withColumn("bands", band_vals)


def simhash_near_dups(
    documents: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """SimHash near-dup pairs via multi-band probing + exact Hamming verify.

    Candidates = pairs sharing ANY of the `bands` bit-slices (union of band
    tables via posexplode + bucket self-join, same shape as MinHash LSH);
    verification is the exact bit_count(xor) filter, so output precision is
    1.0 and recall is 1.0 whenever max_hamming < bands (pigeonhole). The old
    single-prefix probe missed every pair differing in a top-16 bit.
    Buckets over max_bucket docs are dropped (boilerplate guard)."""
    # Round-6 physical rewrite, same pairs (cf. lsh_candidate_pairs): the
    # old bucket self-join evaluated the SimHash UDF subtree twice; one
    # groupBy collects each size-guarded bucket's (doc_id, simhash)
    # members (_bucket_members), and combinations explode in place —
    # hamming is symmetric, so ordering the pair by least/greatest doc_id
    # preserves the old (doc_a < doc_b) rows.
    fp = simhash_fingerprints(documents, text_col, bands)
    banded = fp.select(
        F.struct("doc_id", "simhash").alias("m"),
        F.posexplode("bands").alias("band", "band_val"),
    )
    buckets = _bucket_members(banded, ["band", "band_val"], "m", max_bucket)
    pairs = buckets.select(F.posexplode("ms").alias("i", "x"), "ms").select(
        "x",
        F.explode(F.slice(F.col("ms"), F.col("i") + 2, F.size("ms"))).alias("y"),
    )
    return (
        pairs.select(
            F.least(F.col("x.doc_id"), F.col("y.doc_id")).alias("doc_a"),
            F.greatest(F.col("x.doc_id"), F.col("y.doc_id")).alias("doc_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).alias("hamming"),
        )
        .where(
            (F.col("doc_a") != F.col("doc_b")) & (F.col("hamming") <= max_hamming)
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Embedding near-dup (cosine >= threshold within blocking key)
# ---------------------------------------------------------------------------


def cosine_literal_expr(col: str, query_vec) -> "F.Column":
    """Cosine of an array column against a PYTHON-side query vector,
    expanded into a fixed-width arithmetic expression (element_at + multiply
    + add) instead of the aggregate/zip_with higher-order functions of
    cosine_expr. HOF lambdas are interpreted per element; this form stays
    inside WholeStageCodegen, measured ~3x faster cold (JIT) on a
    corpus-wide scoring pass. Use it whenever the query side is a driver
    literal (search / context build); cosine_expr remains for
    column-vs-column scoring."""
    import math

    e = F.col(col)
    dot = None
    nrm = None
    for i, x in enumerate(query_vec):
        v = e[i].cast("double")
        dot = v * float(x) if dot is None else dot + v * float(x)
        nrm = v * v if nrm is None else nrm + v * v
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    if qn == 0.0:
        # zero query vector (empty/whitespace text): null score, not a
        # DIVIDE_BY_ZERO crash (ANSI mode is on in this engine's sessions)
        return F.lit(None).cast("double")
    return F.when(F.sqrt(nrm) > 0.0, dot / (F.sqrt(nrm) * qn)).otherwise(
        F.lit(None)
    )


def cosine_expr(a: str, b: str):
    dot = F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(F.col(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(F.col(b), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    # zero-norm vectors score null instead of raising DIVIDE_BY_ZERO
    # under the engine's ANSI-mode sessions
    return F.when(na * nb > 0.0, dot / (na * nb)).otherwise(F.lit(None))


def embedding_near_dups_fast(
    embeddings: DataFrame,
    block_col: str = "label",
    threshold: float = 0.95,
    id_type: str = "long",
) -> DataFrame:
    """NumPy-matmul twin of embedding_near_dups: per block, ONE float64
    GEMM scores all pairs (applyInPandas, Arrow batch in/out) instead of a
    Catalyst aggregate-HOF per pair — ~an order of magnitude less CPU at
    identical output (agreement asserted by
    tests/test_dedup.py::test_embedding_near_dup_paths_agree). Same scale
    shape: the groupBy(block) shuffle bounds pair counts exactly like the
    exact path; per-block memory is O(block_size * dim + block_size^2).
    id_type: Spark type of vec_id ('long' or 'string' — uuid corpora)."""
    empty_np = "int64" if id_type == "long" else "object"

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": empty_np, "id_b": empty_np, "cosine": "float64"}
            )
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        sims = (m / norms) @ (m / norms).T
        iu = np.triu_indices(len(ids), k=1)
        keep = sims[iu] >= threshold
        return pd.DataFrame(
            {
                "id_a": ids[iu[0]][keep],
                "id_b": ids[iu[1]][keep],
                "cosine": np.round(sims[iu][keep], 4),
            }
        )

    return (
        embeddings.select(
            F.col(block_col).alias("blk"), "vec_id", "embedding"
        )
        .groupBy("blk")
        .applyInPandas(_block, f"id_a {id_type}, id_b {id_type}, cosine double")
    )


def embedding_near_dups_lsh(
    embeddings: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 4,
    tables: int = 8,
    seed: int = 7,
    id_type: str = "long",
) -> DataFrame:
    """The SCALE composition the blocked near-dup docstrings promise: LSH
    buckets are the blocking key, the NumPy-GEMM kernel scores inside each
    bucket, and `tables` independent hyperplane sets union their candidates.

    Multi-table LSH recall math (sizes the defaults): a pair at angle θ
    collides in one table with p = (1-θ/π)^n_planes, so T tables give
    1-(1-p)^T. At the default threshold=0.9 (θ≈0.451 rad, 1-θ/π≈0.856),
    4 planes give p≈0.538 per table and 8 tables give recall ≈1-0.462^8 ≈
    0.998. (The previous 8-plane x 4-table default delivered only ~0.75 at
    this threshold — planes sharpen precision but kill per-table recall;
    fewer planes + more tables is the right trade when the radius is wide.)
    Never an all-pairs join; bucket sizes bound the GEMM. Output pairs are
    exact (verified cosine), distinct across tables."""
    outs = []
    from .similarity import lsh_bucketize

    for t in range(tables):
        b = lsh_bucketize(embeddings, dim, n_planes, seed + 131 * t)
        outs.append(embedding_near_dups_fast(b, "bucket", threshold, id_type))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.dropDuplicates(["id_a", "id_b"])


def embedding_near_dups(
    embeddings: DataFrame,
    block_col: str = "label",
    threshold: float = 0.95,
) -> DataFrame:
    """Cosine near-duplicates within a blocking key (never a global cross
    join — the block column bounds pair counts; at scale the block is an
    LSH bucket from similarity.lsh_bucketize)."""
    a = embeddings.select(
        F.col(block_col).alias("blk"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
    )
    b = embeddings.select(
        F.col(block_col).alias("blk"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
    )
    return (
        a.join(b, "blk")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_expr("emb_a", "emb_b"))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )
