"""Similarity search over embedding columns (array<float>).

Covers the reference's vector top-k surface (LanceDB cosine search with
threshold, storage/lancedb/indices.py:155-181; similarity = 1 - cosine
distance) Spark-first:

  * brute_force_topk — exact cosine top-k per query via a JVM-side
    zip_with/aggregate dot product + a rank window. The baseline and the
    deterministic oracle-checkable path.
  * lsh_bucketize / lsh_topk — the scale path: sign-random-projection
    buckets (SimHash over the embedding space) so candidate sets shrink from
    N to a bucket; exact re-rank inside the bucket. Deterministic seeds.

Scores are computed in double precision and exposed rounded, so DuckDB's
list_cosine_similarity agrees bit-for-bit after rounding.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves string type hints
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from .dedup import cosine_expr


def _refan_if_dense(df: DataFrame, key: str) -> DataFrame:
    """Re-fan a compute-heavy scan whose upstream file layout would pin it
    to a handful of tasks (one dense parquet file = one unsplittable row
    group at these sizes). Round-6: the ann scoring pass ran on ONE core at
    every sf because the embeddings table is a single small file — the
    measured cost was partition-count-bound, not work-bound (guide §2.5
    input skew / §6 input split size). Only fires when the scan is narrower
    than half the session parallelism, so a real multi-file corpus at scale
    keeps its natural partitioning and never pays the exchange."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(target // 2, 2):
        return df.repartition(target, key)
    return df


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    threshold: float = -1.0,
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    queries: (query_id, q_emb). Broadcast the (small) query side; the corpus
    side streams — no shuffle of the big table at all (the dense-layout
    re-fan above only triggers on small single-file inputs).
    """
    q = F.broadcast(queries.select("query_id", F.col("q_emb").alias("emb_q")))
    scored = (
        _refan_if_dense(
            embeddings.select(F.col("vec_id"), F.col("embedding").alias("emb_c")),
            "vec_id",
        )
        .crossJoin(q)
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", cosine_expr("emb_c", "emb_q"))
        .where(F.col("cosine") >= threshold)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank"
        )
    )


def lsh_bucketize(
    embeddings: DataFrame, dim: int = 64, n_planes: int = 12, seed: int = 7
) -> DataFrame:
    """Sign-random-projection bucket per vector, JVM-side.

    Hyperplanes come from a seeded np.random.RandomState(seed) on the driver
    and are baked into the plan as literals — deterministic for a given
    seed, no RNG state on executors, identical everywhere.
    """
    import numpy as np

    rng = np.random.RandomState(seed)
    planes = rng.randn(n_planes, dim).tolist()
    bits = [
        (
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.array(*[F.lit(float(w)) for w in planes[p]]),
                    lambda x, wcol: x.cast("double") * wcol,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0
        ).cast("long")
        for p in range(n_planes)
    ]
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket * 2 + b
    return embeddings.withColumn("bucket", bucket)


def _centroid_scores(col_name: str, centroids: list[list[float]]):
    """Array of cosine-proportional scores vs each (unit-norm) centroid —
    plain dot products as JVM expressions, centroids baked as literals."""
    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col(col_name),
                    F.array(*[F.lit(float(w)) for w in c]),
                    lambda x, wc: x.cast("double") * wc,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in centroids
        ]
    )


def _argmax_expr(scores_col):
    """Index (0-based) of the max score; ties break to the lowest index.
    NOTE the two-parameter transform lambda is DELIBERATE here: (element,
    index) mode is exactly what argmax needs (cf. the unary-lambda warning
    in dedup.minhash_signatures, where index mode was a bug)."""
    pairs = F.transform(
        scores_col, lambda s, i: F.struct(s.alias("s"), (-i).alias("ni"))
    )
    best = F.array_max(pairs)
    return (-best["ni"]).cast("int")


def ivf_train(
    embeddings: DataFrame,
    dim: int = 64,
    n_centroids: int = 16,
    iters: int = 2,
    seed: int = 7,
    sample_fraction: float | None = None,
) -> list[list[float]]:
    """Deterministic IVF coarse quantizer: seeded random unit-vector init +
    `iters` rounds of distributed Lloyd's. Per round, vectors assign to
    their argmax-dot centroid JVM-side; the new centroid = mean vector per
    cell, computed by exploding (cell, dim_idx, value) and aggregating —
    only n_centroids x dim tiny rows ever reach the driver.

    sample_fraction < 1 is THE scale path: Lloyd's iterates over a seeded
    Bernoulli sample of the corpus (a Sample node directly above the scan,
    so the per-iteration posexplode touches fraction*N rows instead of N —
    at 10^12 rows training on ~10^-5 of the corpus is standard IVF
    practice, and centroid quality depends on the sample's coverage of the
    density, not on N). Assignment (ivf_topk) stays a full narrow map over
    all rows either way."""
    import numpy as np

    if sample_fraction is not None and not 0.0 < sample_fraction <= 1.0:
        raise ValueError(f"sample_fraction must be in (0, 1], got {sample_fraction}")
    if sample_fraction and sample_fraction < 1.0:
        embeddings = embeddings.sample(
            withReplacement=False, fraction=sample_fraction, seed=seed
        )

    rng = np.random.RandomState(seed)
    cents = rng.randn(n_centroids, dim)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    centroids = cents.tolist()
    for _ in range(iters):
        assigned = embeddings.select(
            F.col("embedding"),
            _argmax_expr(_centroid_scores("embedding", centroids)).alias("cell"),
        )
        dims = assigned.select(
            "cell",
            F.posexplode(F.col("embedding")).alias("dim_idx", "v"),
        )
        means = (
            dims.groupBy("cell", "dim_idx")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        new = [list(c) for c in centroids]  # empty cells keep their centroid
        acc: dict[int, list[float]] = {}
        for r in means:
            acc.setdefault(r["cell"], [0.0] * dim)[r["dim_idx"]] = r["m"]
        for cell, vec in acc.items():
            n = float(np.linalg.norm(vec))
            new[cell] = [x / n for x in vec] if n > 0 else new[cell]
        centroids = new
    return centroids


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    seed: int = 7,
    sample_fraction: float | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest-centroid
    cell (one narrow assignment map); each query probes its nprobe nearest
    cells and re-ranks exactly inside them. The cell join replaces the full
    scan — the classic inverted-file trade: recall grows with nprobe, cost
    with nprobe/n_centroids of the corpus. sample_fraction subsamples the
    TRAINING pass only (see ivf_train); assignment is always full."""
    centroids = ivf_train(embeddings, dim, n_centroids, iters, seed, sample_fraction)
    corpus = embeddings.select(
        "vec_id",
        F.col("embedding").alias("emb_c"),
        _argmax_expr(_centroid_scores("embedding", centroids)).alias("cell"),
    )
    q_scores = _centroid_scores("q_emb", centroids)
    # top-nprobe cells per query: sort (score, -idx) structs descending
    probes = F.slice(
        F.reverse(
            F.array_sort(
                F.transform(
                    q_scores, lambda s, i: F.struct(s.alias("s"), (-i).alias("ni"))
                )
            )
        ),
        1,
        nprobe,
    )
    q = queries.select(
        "query_id",
        F.col("q_emb").alias("emb_q"),
        F.explode(F.transform(probes, lambda p: (-p["ni"]).cast("int"))).alias(
            "cell"
        ),
    )
    scored = (
        corpus.join(F.broadcast(q), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", cosine_expr("emb_c", "emb_q"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank")
    )


def pq_train(
    embeddings: DataFrame,
    dim: int = 64,
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    seed: int = 7,
    max_train: int = 20_000,
    sample_fraction: float | None = None,
):
    """Product-quantization codebooks (Jégou et al., TPAMI'11): the vector
    splits into m subvectors of dim/m; each subspace gets its own seeded
    k-means codebook with ksub entries. Returns (m, ksub, dim/m) float64.

    Training is driver-side NumPy over a BOUNDED, order-stable sample
    (TakeOrdered by vec_id, optionally over a seeded Bernoulli sample —
    the same 10^-5-of-corpus training regime as ivf_train: codebook
    quality depends on density coverage, not N). The reference configures
    IVF_PQ as its vector-index type (config/settings.py:179-180)."""
    import numpy as np

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if sample_fraction is not None and not 0.0 < sample_fraction <= 1.0:
        raise ValueError(f"sample_fraction must be in (0, 1], got {sample_fraction}")
    if sample_fraction and sample_fraction < 1.0:
        embeddings = embeddings.sample(
            withReplacement=False, fraction=sample_fraction, seed=seed
        )
    rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(max_train)
        .collect()
    )
    if not rows:
        raise ValueError(
            "pq_train: no training vectors (empty table, or sample_fraction "
            "sampled zero rows) — cannot build codebooks"
        )
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    n, dsub = len(x), dim // m
    rng = np.random.RandomState(seed)
    books = np.zeros((m, ksub, dsub))
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        k_eff = min(ksub, n)
        cents = sub[rng.choice(n, k_eff, replace=False)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k_eff):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
        books[j, :k_eff] = cents
        if k_eff < ksub:  # degenerate tiny corpus: repeat last centroid
            books[j, k_eff:] = cents[-1]
    return books


def ivf_pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    refine: int = 4,
    iters: int = 2,
    pq_iters: int = 5,
    seed: int = 7,
    sample_fraction: float | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k (the reference's configured index type,
    config/settings.py:179-180): coarse IVF cells bound the scan to
    nprobe/n_centroids of the corpus; within probed cells, vectors are
    scored by ASYMMETRIC DISTANCE (ADC) against their m-byte PQ codes —
    a per-query (m x ksub) dot-product lookup table replaces the full
    d-dim arithmetic — and the top refine*k ADC candidates get an exact
    cosine re-rank. At 10^12 rows this is what makes the cell scan
    affordable: the scan reads m bytes + one table lookup per subvector
    instead of dim floats (here 8 lookups vs 64 multiplies).

    Corpus-side work is two narrow maps (cell assign, PQ encode — both
    batched, no shuffle); only refine*k rows per query are ever re-read
    at full precision. Deterministic: seeded training, no executor RNG."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    dsub = dim // m
    # iters budgets the coarse quantizer's Lloyd rounds; pq_iters budgets
    # the per-subspace codebook k-means (separate knobs, both forwarded)
    centroids = ivf_train(embeddings, dim, n_centroids, iters, seed, sample_fraction)
    books = pq_train(
        embeddings, dim, m, ksub, iters=pq_iters, seed=seed,
        sample_fraction=sample_fraction,
    )

    books_list = books.tolist()  # serialized into the UDF closure

    @pandas_udf(ArrayType(IntegerType()))
    def _pq_codes(embs: pd.Series) -> pd.Series:
        b = np.asarray(books_list)  # (m, ksub, dsub)
        x = np.array(embs.tolist(), dtype=np.float64)  # (B, dim)
        codes = np.empty((len(x), b.shape[0]), dtype=np.int64)
        for j in range(b.shape[0]):
            sub = x[:, j * dsub : (j + 1) * dsub]
            d2 = ((sub[:, None, :] - b[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series([list(map(int, row)) for row in codes])

    corpus = embeddings.select(
        "vec_id",
        _argmax_expr(_centroid_scores("embedding", centroids)).alias("cell"),
        _pq_codes(F.col("embedding")).alias("codes"),
    )

    # queries are dimension-sized by contract: collect once, build the
    # per-query ADC tables (dot products of each query subvector with each
    # codebook entry) and the nprobe cell list driver-side
    qrows = queries.select("query_id", "q_emb").collect()
    cents = np.asarray(centroids)
    tables: dict = {}
    probe_rows = []
    for r in qrows:
        qid = r["query_id"]
        qv = np.asarray(r["q_emb"], dtype=np.float64)
        scores = cents @ qv
        order = np.lexsort((np.arange(len(scores)), -scores))[:nprobe]
        for cell in order:
            probe_rows.append((qid, int(cell)))
        tables[qid] = np.stack(
            [books[j] @ qv[j * dsub : (j + 1) * dsub] for j in range(m)]
        )  # (m, ksub)

    spark = embeddings.sparkSession
    qid_type = queries.schema["query_id"].dataType.simpleString()
    vid_type = embeddings.schema["vec_id"].dataType.simpleString()
    probes = local_frame(spark, probe_rows, f"query_id {qid_type}, cell int")

    def _adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.reset_index(drop=True)
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (B, m)
            out_scores = np.empty(len(pdf))
            for qid, pos in pdf.groupby("query_id").indices.items():
                t = tables[qid]  # (m, ksub)
                out_scores[pos] = t[np.arange(m)[None, :], codes[pos]].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "vec_id": pdf["vec_id"],
                    "adc": out_scores,
                }
            )

    cand = (
        corpus.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "codes")
        .mapInPandas(
            _adc, schema=f"query_id {qid_type}, vec_id {vid_type}, adc double"
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.col("vec_id"))
    shortlist = (
        cand.withColumn("_r", F.row_number().over(w_adc))
        .where(F.col("_r") <= refine * k)
        .select("query_id", "vec_id")
    )
    # exact re-rank of the tiny shortlist: fetch full-precision vectors via
    # a broadcast id join (the corpus never shuffles), score vs the query
    exact = (
        embeddings.select("vec_id", F.col("embedding").alias("emb_c"))
        .join(F.broadcast(shortlist), "vec_id")
        .join(
            F.broadcast(queries.select("query_id", F.col("q_emb").alias("emb_q"))),
            "query_id",
        )
        .withColumn("cosine", cosine_expr("emb_c", "emb_q"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank")
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 8,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k via multi-probe LSH (Lv et al., VLDB'07 shape):
    the query side probes its own bucket PLUS every bucket within
    probe_hamming bit flips — a near-neighbor that lands just across one
    hyperplane is still found, which single-probe LSH misses for points
    near a boundary (recall asserted by
    tests/test_similarity.py::test_lsh_topk_recall_planted_clusters).
    Probing multiplies only the tiny broadcast query side (x (1+n_planes)
    at hamming 1); the corpus keeps one bucket per vector and never
    rescans. At 100TB the bucket join replaces the full scan."""
    corpus_b = lsh_bucketize(embeddings, dim, n_planes)
    q_b = lsh_bucketize(
        queries.select(F.col("query_id"), F.col("q_emb").alias("embedding")),
        dim,
        n_planes,
    )
    probes = [F.col("bucket")]
    if probe_hamming >= 1:
        probes += [
            F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)
        ]
    if probe_hamming >= 2:
        probes += [
            F.col("bucket").bitwiseXOR(F.lit((1 << p) | (1 << q)))
            for p in range(n_planes)
            for q in range(p + 1, n_planes)
        ]
    q_probed = q_b.select(
        F.col("query_id"),
        F.col("embedding").alias("emb_q"),
        F.explode(F.array(*probes)).alias("bucket"),
    )
    scored = (
        corpus_b.select("vec_id", F.col("embedding").alias("emb_c"), "bucket")
        .join(F.broadcast(q_probed), "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
        .withColumn("cosine", cosine_expr("emb_c", "emb_q"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank")
    )
