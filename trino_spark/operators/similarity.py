"""Embedding similarity search: brute-force cosine top-k and an LSH-bucketed
approximate variant.

Scale design (100 TB / billions of vectors):
- brute-force: the query set is broadcast (small side), the corpus is
  scanned once, partition-parallel; the only shuffle is the per-query top-k
  (W.partitionBy(query_id) over k*|queries| rows after a partial prune).
- LSH (random hyperplanes, Charikar 2002): corpus is bucketed by an
  nbits-signature — at scale you'd write the corpus bucketed/partitioned by
  signature so probes touch only matching partitions (partition pruning);
  multi-probe (hamming-1 neighbors) trades recall for probe fan-out.
- all math is zip_with/aggregate expressions (JVM, codegen) — no Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from trino_spark.functions.vectors import cosine_similarity, dot_product
from trino_spark.operators.util import fan_out


def _hyperplanes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (Box-Muller over an LCG —
    stable across runs without numpy RNG state)."""
    import math

    x = seed or 1

    def nxt() -> float:
        nonlocal x
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        return (x >> 11) / float(1 << 52)  # uniform [0,1)

    planes = []
    for _ in range(nbits):
        v = []
        while len(v) < dim:
            u1, u2 = max(nxt(), 1e-12), nxt()
            r = math.sqrt(-2.0 * math.log(u1))
            v.append(r * math.cos(2 * math.pi * u2))
            if len(v) < dim:
                v.append(r * math.sin(2 * math.pi * u2))
        planes.append(v[:dim])
    return planes


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature as a long (nbits <= 63)."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(w)) for w in p])
        d = dot_product(vec, plane)
        sig = sig.bitwiseOR(F.when(d > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long")))
    return sig


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    Returns (query_id, vec_id, cos_sim, rank<=k). Deterministic tie-break on
    vec_id. The queries side is broadcast; corpus side never shuffles until
    the final per-query top-k."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = fan_out(corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv")))
    scored = (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_sim", cosine_similarity(F.col("_qv"), F.col("_cv")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def lsh_buckets(vec: Column, planes: list[list[float]], nbits: int, n_tables: int) -> Column:
    """array<struct<table:int, bucket:long>> — one bucket id per hash table.

    Multi-table LSH (the AND-OR construction): each table uses its own
    `nbits` hyperplanes; a pair is a candidate if it agrees on ALL bits of
    ANY table. P(candidate | angle theta) = 1-(1-p^nbits)^n_tables with
    p = 1 - theta/pi — tables trade selectivity for recall the same way
    minhash bands do."""
    entries = []
    for ti in range(n_tables):
        sig = lsh_signature(vec, planes[ti * nbits : (ti + 1) * nbits])
        entries.append(F.struct(F.lit(ti).alias("table"), sig.alias("bucket")))
    return F.array(*entries)


def _lsh_buckets_udf(planes: list[list[float]], nbits: int, n_tables: int):
    """Vectorized bucket-id computation: one numpy matmul per Arrow batch.

    The pure-expression formulation (`lsh_buckets`) builds
    n_tables*nbits*dim literal Column nodes — at 16 tables x 4 bits x 64
    dims that is ~16k py4j calls and a plan whose ANALYSIS takes 10x longer
    than its execution. A pandas UDF keeps the plan one node and the math
    one (batch, dim) @ (dim, bits) product — the documented fast path for
    embedding operators."""
    from pyspark.sql.pandas.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64)  # (n_tables*nbits, dim)
    weights = (1 << np.arange(nbits)).astype(np.int64)

    @pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy())  # (batch, dim)
        bits = (M @ P.T) > 0  # (batch, n_tables*nbits)
        ids = (bits.reshape(len(M), n_tables, nbits) * weights).sum(axis=2)
        return pd.Series(list(ids.astype(np.int64)))

    return buckets


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nbits: int = 4,
    n_tables: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate cosine top-k via multi-table random-hyperplane LSH,
    exact re-rank of candidates.

    Defaults (4 bits x 16 tables) target weakly-clustered corpora
    (neighbor cosine ~0.3 -> p~0.6 -> per-pair recall ~0.89). Tight corpora
    (neighbor cosine >= 0.9) should raise nbits to 12-16 for selectivity.
    At scale the corpus side is written pre-bucketed (partitionBy(table,
    bucket)) so each probe is a partition-pruned scan, not a full pass.
    Recall is measured against brute_force_topk in tests."""
    planes = _hyperplanes(dim, nbits * n_tables)
    buckets = _lsh_buckets_udf(planes, nbits, n_tables)
    c = (
        fan_out(corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv")))
        .select("vec_id", "_cv", F.posexplode(buckets(F.col("_cv"))).alias("_table", "_bucket"))
    )
    q = (
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
        .select("query_id", "_qv", F.posexplode(buckets(F.col("_qv"))).alias("_table", "_bucket"))
    )
    scored = (
        c.join(F.broadcast(q), ["_table", "_bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
        .withColumn("cos_sim", cosine_similarity(F.col("_qv"), F.col("_cv")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.99,
    nbits: int = 16,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= threshold)
    via banded LSH candidate generation + exact verification — the
    embedding-space mirror of `minhash_candidate_pairs`.

    Plan shape (the 100 TB path): one pandas-UDF matmul pass signs each
    vector into `n_tables` buckets of `nbits` sign-bits -> explode ->
    self-equi-join on (table, bucket) -> distinct candidate pairs -> exact
    cosine only on candidates. No all-pairs / nested-loop join anywhere; the
    join is a hash join on bucket ids, and at scale the corpus is written
    pre-bucketed so each table probe is partition-pruned.

    Recall: a pair at cosine c collides in one table w.p. (1-acos(c)/pi)^nbits.
    Defaults (16 bits x 8 tables) give ~99.5% recall at c=0.99 and a
    ~1.5% background candidate rate at c<=0.52. Exact duplicates (and any
    positive scalar multiple — cosine is scale-invariant, and so are the
    sign-bit signatures) collide in EVERY table: recall 1.0 by construction.
    """
    planes = _hyperplanes(dim, nbits * n_tables)
    buckets = _lsh_buckets_udf(planes, nbits, n_tables)
    base = fan_out(corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")))
    banded = base.select(
        "_id", F.posexplode(buckets(F.col("_v"))).alias("_table", "_bucket")
    )
    left = banded.select(F.col("_id").alias("id_a"), "_table", "_bucket")
    right = banded.select(F.col("_id").alias("id_b"), "_table", "_bucket")
    pairs = (
        left.join(right, ["_table", "_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = base.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    vb = base.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", cosine_similarity(F.col("_va"), F.col("_vb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _train_centroids_sample(
    corpus: DataFrame,
    n_centroids: int,
    vec_col: str,
    sample_rows: int,
    iters: int,
    seed: int = 42,
) -> np.ndarray:
    """Lloyd k-means on a bounded corpus sample, spherical (cosine) metric.

    IVF training is the one legitimately driver-side step of the index
    build: the sample is O(n_centroids * 100) rows regardless of corpus
    size (at 100 TB you still train on ~100k sampled vectors), so collect()
    here is bounded, not a scan. Deterministic: seeded sample + seeded
    init."""
    sample = np.stack(
        [
            np.asarray(r[0], dtype=np.float64)
            for r in corpus.select(vec_col).limit(sample_rows).collect()
        ]
    )
    sample = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = sample[rng.choice(len(sample), size=min(n_centroids, len(sample)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(sample @ cent.T, axis=1)
        for ci in range(len(cent)):
            members = sample[assign == ci]
            if len(members):
                m = members.sum(axis=0)
                cent[ci] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def _nearest_centroids_udf(centroids: np.ndarray, n_probe: int):
    """array<int> of the n_probe nearest centroid ids (cosine) per vector —
    one (batch, dim) @ (dim, n_centroids) matmul per Arrow batch."""
    from pyspark.sql.pandas.functions import pandas_udf

    C = centroids  # (n_centroids, dim), unit rows

    @pandas_udf("array<int>")
    def nearest(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy()).astype(np.float64)
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        sims = M @ C.T
        top = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series([row.astype(np.int32) for row in top])

    return nearest


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 32,
    n_probe: int = 8,
    train_sample: int = 4096,
    train_iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index: corpus
    vectors are listed under their nearest centroid; each query probes its
    `n_probe` nearest lists and re-ranks exactly.

    The scale path next to lsh_topk: one pandas-UDF matmul pass assigns
    cluster ids, the probe is an equi-join on cluster_id (hash shuffle,
    or partition-pruned scan if the corpus is written partitioned by
    cluster_id at ingest), and only |corpus| * n_probe / n_centroids
    vectors are scored per query. Recall vs brute force is asserted in
    tests; raise n_probe toward n_centroids to trade cost for recall."""
    cent = _train_centroids_sample(corpus, n_centroids, vec_col, train_sample, train_iters)
    assign = _nearest_centroids_udf(cent, 1)
    probe = _nearest_centroids_udf(cent, n_probe)

    c = fan_out(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv"))
    ).withColumn("_cluster", assign(F.col("_cv"))[0])
    q = (
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
        .withColumn("_cluster", F.explode(probe(F.col("_qv"))))
    )
    scored = (
        c.join(F.broadcast(q), "_cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_sim", cosine_similarity(F.col("_qv"), F.col("_cv")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def label_centroids(corpus: DataFrame, vec_col: str = "embedding", label_col: str = "label") -> DataFrame:
    """Per-label mean embedding (cluster centroids): posexplode the vector,
    hash-aggregate (label, dim) partial sums, reassemble ordered arrays.

    The embedding-analytics primitive behind semantic clustering, class
    prototypes, and centroid-distance outlier flags. Shape: one explode +
    two aggs keyed by (label, dim) then (label) — dims are a constant
    (e.g. 64), so state per group is bounded and the shuffles are on small
    keys; no vector ever reaches the driver.
    """
    exploded = corpus.select(label_col, F.posexplode(vec_col).alias("dim", "v"))
    per_dim = exploded.groupBy(label_col, "dim").agg(F.avg("v").alias("m"))
    return per_dim.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )


def centroid_outliers(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Distance of every vector to its own label's centroid — broadcast
    the (tiny) centroid table, one zip_with fold per row, no UDF. High
    distance = mislabeled/outlier candidate for curation review."""
    joined = corpus.join(F.broadcast(centroids), label_col)
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col(vec_col), F.col("centroid"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return joined.select(id_col, label_col, dist.alias("centroid_dist"))
