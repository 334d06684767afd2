"""Embedding-space clustering: distributed k-means and SemDeDup.

SemDeDup (Abbas et al. 2023) is the semantic-dedup stage of modern
training-data pipelines: cluster the embedding space with k-means,
then search for near-duplicate pairs ONLY within each cluster — the
cluster assignment confines the quadratic pair generation the same way
LSH buckets confine MinHash (ops/dedup.py), turning an O(n^2) problem
into sum-of-squares over cluster sizes.

Scale shape (10^9-10^12 vectors):
* Assignment is map-side: one Arrow-batched pass computing
  ``argmin_c ||x - c||^2`` with a numpy matrix product per batch; the
  centroid matrix (k x dim, a few MB) ships in the UDF closure. No
  shuffle, no per-row Python.
* Lloyd updates never shuffle raw vectors: each partition emits <= k
  partial rows (cid, sum-vector, count) from the same Arrow pass, the
  partials are combined with a (k x dim)-sized aggregation, and only
  the k new centroids reach the driver (bounded collect — same class
  as ops/similarity's IVF centroids).
* SemDeDup's pair join is an equi-join on cluster id. Pick
  ``k ~ n / target_cluster_size`` so clusters stay bounded;
  ``max_cluster_size`` excludes degenerate clusters from pair
  generation (they keep all members, flagged) — the oversized-bucket
  deny-list pattern from banded LSH.

The assignment has a native no-Python twin (``method="native"``) used
for engine-vs-engine equivalence tests and as the DuckDB-oracle shape;
the Arrow path is the production one and the one the driver oracle
exercises (both paths agree exactly on non-pathological data — an
argmin can only flip when two centroids are within float rounding of
equidistant).
"""

from __future__ import annotations

from typing import Iterator, Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, LongType,
                               StructField, StructType)

from gojsonschema_spark.ops.similarity import _cosine, _sq_dist

__all__ = ["kmeans_assign", "kmeans_fit", "semdedup"]


def kmeans_assign(df: DataFrame, centroids: Sequence[Sequence[float]],
                  vec_col: str = "embedding", id_col: str = "vec_id",
                  method: str = "arrow") -> DataFrame:
    """Assign each vector to its nearest centroid (squared L2,
    ties -> lowest cluster id). Returns ``(id_col, cid, dist2)``.

    ``method="arrow"`` — one numpy pass per Arrow batch using
    ``||x||^2 - 2 x.C^T + ||C||^2``; zero shuffle, the scale path.
    ``method="native"`` — broadcast the k-row centroid table, fold the
    distance per (row, centroid) and take ``min(struct(dist2, cid))``;
    pure JVM expressions, k x the row count before the min — the
    equivalence twin, not the scale path.
    """
    cents = [[float(x) for x in c] for c in centroids]
    if not cents:
        raise ValueError("centroids must be non-empty")
    dim = len(cents[0])
    if any(len(c) != dim for c in cents):
        raise ValueError("centroids must share one dimensionality")

    if method == "native":
        cdf = df.sparkSession.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "cid int, cvec array<double>")
        v = df.select(F.col(id_col),
                      F.col(vec_col).cast("array<double>").alias("v"))
        d2 = _sq_dist(F.col("v"), F.col("cvec"))
        best = F.min(F.struct(F.col("d2"), F.col("cid"))).alias("best")
        return (v.join(F.broadcast(cdf))
                .select(id_col, "cid", d2.alias("d2"))
                .groupBy(id_col).agg(best)
                .select(id_col, F.col("best.cid").alias("cid"),
                        F.col("best.d2").alias("dist2")))

    if method != "arrow":
        raise ValueError(f"unknown method {method!r}")

    out_schema = StructType([
        StructField(id_col, df.schema[id_col].dataType),
        StructField("cid", IntegerType()),
        StructField("dist2", DoubleType()),
    ])

    def assign(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        C = np.asarray(cents, dtype=np.float64)          # k x dim
        cn = (C * C).sum(axis=1)                         # ||c||^2
        for pdf in batches:
            X = np.asarray([np.asarray(v, dtype=np.float64)
                            for v in pdf[vec_col]])
            if len(X) == 0:
                continue
            d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + cn[None, :]
            cid = d2.argmin(axis=1)                      # first min = low cid
            yield pd.DataFrame({
                id_col: pdf[id_col].values,
                "cid": cid.astype("int32"),
                "dist2": d2[np.arange(len(X)), cid],
            })

    return (df.select(id_col, vec_col)
            .mapInPandas(assign, out_schema))


def kmeans_fit(df: DataFrame, k: int, n_iter: int = 10,
               vec_col: str = "embedding", id_col: str = "vec_id",
               seed: int = 0, tol: float = 1e-9) -> list[list[float]]:
    """Lloyd's k-means over a distributed vector table.

    Init is deterministic and layout-independent: the k rows with the
    smallest ``md5(id || seed)`` (a seeded hash permutation, planned as
    TakeOrderedAndProject — the same device as ops/text.group_sample;
    ``F.rand`` would depend on partition layout). Each iteration is one
    map-side Arrow pass that both assigns and accumulates per-partition
    partial sums; partials combine in a (partitions x k)-row aggregate
    and only k centroids reach the driver. Empty clusters keep their
    previous centroid. Stops early when the max centroid shift (squared
    L2) drops below ``tol``."""
    if k < 1:
        raise ValueError("k must be >= 1")
    h = F.md5(F.concat_ws("|", F.col(id_col).cast("string"),
                          F.lit(str(seed))))
    init = (df.select(F.col(vec_col).cast("array<double>").alias("v"),
                      h.alias("h"))
            .orderBy("h").limit(k).collect())
    if len(init) < k:
        raise ValueError(f"k={k} exceeds the number of rows ({len(init)})")
    centroids = [list(r.v) for r in init]
    dim = len(centroids[0])

    partial_schema = StructType([
        StructField("cid", IntegerType()),
        StructField("psum", ArrayType(DoubleType())),
        StructField("n", LongType()),
    ])

    for _ in range(n_iter):
        cents = [list(c) for c in centroids]

        def partials(batches: Iterator) -> Iterator:
            import numpy as np
            import pandas as pd
            C = np.asarray(cents, dtype=np.float64)
            cn = (C * C).sum(axis=1)
            sums = np.zeros((len(cents), C.shape[1]))
            counts = np.zeros(len(cents), dtype=np.int64)
            for pdf in batches:
                X = np.asarray([np.asarray(v, dtype=np.float64)
                                for v in pdf[vec_col]])
                if len(X) == 0:
                    continue
                d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + cn
                cid = d2.argmin(axis=1)
                np.add.at(sums, cid, X)
                np.add.at(counts, cid, 1)
            live = counts > 0
            yield pd.DataFrame({
                "cid": np.arange(len(cents))[live].astype("int32"),
                "psum": list(sums[live]),
                "n": counts[live],
            })

        # combine partials without collecting vectors: explode to
        # (cid, dim_idx, partial) and sum — (k x dim)-sized shuffle
        combined = (df.select(vec_col).mapInPandas(partials, partial_schema)
                    .select("cid", "n", F.posexplode("psum").alias("d", "s"))
                    .groupBy("cid", "d")
                    .agg(F.sum("s").alias("s"),
                         F.sum("n").alias("cnt"))
                    .collect())
        new = [list(c) for c in centroids]
        counts = {}
        for r in combined:
            counts[r.cid] = r.cnt
            new[r.cid][r.d] = r.s / r.cnt
        shift = max((sum((a - b) * (a - b) for a, b in zip(old, nw))
                     for old, nw in zip(centroids, new)), default=0.0)
        centroids = new
        if shift <= tol:
            break
    return centroids


def semdedup(df: DataFrame, centroids: Sequence[Sequence[float]] | None = None,
             k: int | None = None, threshold: float = 0.99,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_iter: int = 10, seed: int = 0,
             max_cluster_size: int = 100_000, round_to: int = 6,
             assign_method: str = "arrow") -> DataFrame:
    """Semantic dedup: k-means-confine the cosine near-dup search.

    Pass trained ``centroids`` or a ``k`` to fit in place. Within each
    cluster, every pair with ``cosine >= threshold`` marks the larger
    id a loser (canonical-min-id survivor — the same convention as the
    exact/MinHash dedup family). Clusters larger than
    ``max_cluster_size`` are excluded from pair generation and keep all
    members (``oversized`` = true) — size k so this never triggers
    (k ~ n / target_cluster_size); the flag makes the recall loss
    observable instead of silent, like the LSH oversized-bucket
    deny-list.

    Returns ``(id_col, cid, keep, oversized)`` — one row per input row.
    """
    if centroids is None:
        if k is None:
            raise ValueError("pass centroids or k")
        centroids = kmeans_fit(df, k, n_iter=n_iter, vec_col=vec_col,
                               id_col=id_col, seed=seed)
    assigned = kmeans_assign(df, centroids, vec_col=vec_col,
                             id_col=id_col, method=assign_method) \
        .select(id_col, "cid")
    sizes = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("sz"))
    assigned = (assigned.join(sizes, "cid")
                .withColumn("oversized", F.col("sz") > max_cluster_size)
                .drop("sz"))
    vecs = df.select(F.col(id_col),
                     F.col(vec_col).cast("array<double>").alias("v"))
    small = assigned.filter(~F.col("oversized")).join(vecs, id_col)
    a = small.select(F.col("cid"), F.col(id_col).alias("a"),
                     F.col("v").alias("va"))
    b = small.select(F.col("cid"), F.col(id_col).alias("b"),
                     F.col("v").alias("vb"))
    cos = F.round(_cosine(F.col("va"), F.col("vb")), round_to)
    losers = (a.join(b, "cid")
              .filter(F.col("a") < F.col("b"))
              .filter(cos >= threshold)
              .select(F.col("b").alias(id_col))
              .distinct())
    return (assigned
            .join(losers.withColumn("lost", F.lit(True)), id_col, "left")
            .select(id_col, "cid",
                    F.coalesce(~F.col("lost"), F.lit(True)).alias("keep"),
                    "oversized"))
