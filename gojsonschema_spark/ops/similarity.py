"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; an IVF index (k-means
cells, optionally persisted partitioned by cell) as the scale path — at
10^12 rows the brute-force scan is one pass and a probe reads only the
n_probe nearest cells. Random-hyperplane signatures serve sign-LSH
blocking (ops/incremental.py). Dot products run as JVM higher-order
functions (zip_with + aggregate): no Python, fully codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

__all__ = ["cosine_to_query", "brute_force_topk", "random_hyperplanes",
           "hyperplane_signature", "ivf_train", "ivf_assign", "ivf_topk",
           "ivf_build_index", "ivf_probe_topk"]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.greatest(_norm(a), F.lit(1e-12)) *
                         F.greatest(_norm(b), F.lit(1e-12)))


def cosine_to_query(df: DataFrame, query_vec: list[float],
                    vec_col: str = "embedding", round_to: int = 6) -> DataFrame:
    """Append cosine similarity to a fixed query vector (driver literal —
    broadcast with the plan, no join)."""
    q = F.lit(query_vec).cast("array<double>")
    v = F.col(vec_col).cast("array<double>")
    return df.withColumn("cosine", F.round(_cosine(v, q), round_to))


def brute_force_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                     vec_col: str = "embedding", key_col: str = "vec_id",
                     round_to: int = 6) -> DataFrame:
    """Exact top-k by cosine: one scan + a k-row ordered take.

    orderBy+limit compiles to TakeOrderedAndProject — each partition keeps
    only its local top-k, the driver merges; no full sort materializes."""
    return (cosine_to_query(df, query_vec, vec_col, round_to)
            .select(key_col, "cosine")
            .orderBy(F.col("cosine").desc(), F.col(key_col))
            .limit(k))


def random_hyperplanes(dim: int, n_planes: int,
                       seed: int = 0) -> list[list[float]]:
    """Seeded Gaussian random hyperplanes for sign-LSH
    (:func:`hyperplane_signature`, incremental.embedding_dedup_incremental):
    standard normal entries make the collision probability of two vectors
    1 - theta/pi per plane (Charikar 2002), so ``n_planes`` trades recall
    against bucket size — each extra plane roughly halves the bucket
    population while multiplying pair recall at angle theta by
    (1 - theta/pi). For near-dup thresholds (cosine >= 0.99, theta <= 8.1
    degrees) recall stays >= 0.97 at 16 planes (0.9955^16).
    Driver-side list literal: the planes ship inside the plan, no join."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH signature: sign bits packed into a bigint."""
    v = vec.cast("array<double>")
    out = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        pl = F.lit(p).cast("array<double>")
        bit = F.when(_dot(v, pl) >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        out = out + bit * F.lit(1 << i).cast("long")
    return out


# --- IVF (inverted-file) ANN: the second scale path -------------------------
#
# Coarse k-means quantizer; vectors assign to their nearest centroid cell
# and queries probe only the n_probe nearest cells. At 10^12 rows the
# assignment is written ONCE as a partition column via ivf_build_index
# (ivf_probe_topk then reads n_probe/k of the table through partition
# pruning — plan-gated on the scan's numPartitions metric); ivf_topk is
# the index-free variant for one-off batch queries. The index build is a
# few Lloyd iterations expressed as Spark aggregations — only the k x d
# centroid matrix ever reaches the driver.

def _sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance as one fold: sum((x-y)^2) in element order."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, v: acc + v)


def ivf_assign(df: DataFrame, centroids: list[list[float]],
               vec_col: str = "embedding",
               cell_col: str = "ivf_cell") -> DataFrame:
    """Nearest-centroid cell id per row (argmin over the centroid array);
    pure codegen expressions, no Python. The cell lands behind an
    explode(array(..)) Generate barrier: a downstream filter on it (the
    query-time probe) then tests an attribute instead of having the whole
    k-distance argmin substituted into a FilterExec, which performs no
    subexpression elimination and would evaluate the distance array twice
    per row."""
    v = F.col(vec_col).cast("array<double>")
    dists = F.array(*[_sq_dist(v, F.lit(c).cast("array<double>"))
                      for c in centroids])
    cid = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    return df.select("*", F.explode(F.array(cid)).alias(cell_col))


def ivf_train(df: DataFrame, n_centroids: int = 16, iters: int = 2,
              vec_col: str = "embedding",
              key_col: str = "vec_id") -> list[list[float]]:
    """Deterministic coarse quantizer: seed with n_centroids vectors in
    KEY-HASH order (pseudo-random spread that stays reproducible — "first
    k by key" would seed from one region whenever key order correlates
    with content, e.g. crawl-ordered corpora), then ``iters`` Lloyd steps
    (assign = argmin expression; update = per-(cell, dim) avg after
    posexplode). Each step is one shuffle of (cell, dim, val) triples;
    only k x d averages are collected."""
    seeds = (df.orderBy(F.xxhash64(key_col))
             .limit(n_centroids).select(vec_col).collect())
    centroids = [[float(x) for x in r[0]] for r in seeds]
    for _ in range(iters):
        assigned = ivf_assign(df, centroids, vec_col)
        rows = (assigned
                .select("ivf_cell",
                        F.posexplode(F.col(vec_col).cast("array<double>"))
                         .alias("pos", "val"))
                .groupBy("ivf_cell", "pos")
                .agg(F.avg("val").alias("m"))
                .collect())
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(r.ivf_cell, {})[r.pos] = r.m
        centroids = [
            [by_cell[c][p] for p in sorted(by_cell[c])]
            if c in by_cell else centroids[c]
            for c in range(n_centroids)
        ]
    return centroids


def ivf_topk(df: DataFrame, centroids: list[list[float]],
             query_vec: list[float], k: int = 10, n_probe: int = 4,
             vec_col: str = "embedding", key_col: str = "vec_id",
             round_to: int = 6) -> DataFrame:
    """ANN top-k: probe the n_probe cells nearest the query (ranked on the
    driver over the tiny centroid matrix), exact cosine within them."""
    d = [sum((a - b) * (a - b) for a, b in zip(query_vec, c))
         for c in centroids]
    probes = sorted(range(len(centroids)), key=lambda i: d[i])[:n_probe]
    cand = (ivf_assign(df, centroids, vec_col)
            .filter(F.col("ivf_cell").isin(probes)))
    return brute_force_topk(cand, query_vec, k, vec_col, key_col, round_to)


def ivf_build_index(df: DataFrame, centroids: list[list[float]], target: str,
                    vec_col: str = "embedding",
                    cell_col: str = "ivf_cell") -> None:
    """Persist the IVF index: compute each vector's nearest-centroid cell
    ONCE and write the corpus partitioned by it. This is the 100 TB shape:
    the assignment scan happens at build time; every subsequent probe is a
    partition-PRUNED read of n_probe/k of the table (the cell filter lands
    in the scan's PartitionFilters — plan-gated in tests/test_ops.py),
    never a full-corpus argmin at query time."""
    from ..io.tables import write_pages
    assigned = ivf_assign(df, centroids, vec_col, cell_col)
    write_pages(assigned, target, bucket_col=cell_col)


def ivf_probe_topk(spark: SparkSession, index_source: str,
                   centroids: list[list[float]], query_vec: list[float],
                   k: int = 10, n_probe: int = 4,
                   vec_col: str = "embedding", key_col: str = "vec_id",
                   cell_col: str = "ivf_cell", round_to: int = 6) -> DataFrame:
    """ANN top-k against a PERSISTED index (see :func:`ivf_build_index`):
    rank cells on the driver over the tiny k x d centroid matrix, read only
    the n_probe matching partitions, exact cosine within them."""
    from ..io.tables import read_pages
    d = [sum((a - b) * (a - b) for a, b in zip(query_vec, c))
         for c in centroids]
    probes = sorted(range(len(centroids)), key=lambda i: d[i])[:n_probe]
    cand = read_pages(spark, index_source, bucket_col=cell_col, buckets=probes)
    return brute_force_topk(cand, query_vec, k, vec_col, key_col, round_to)
