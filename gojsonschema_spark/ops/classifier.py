"""Hashed bag-of-words linear quality classifier — trainable in-engine.

The "looks like the reference corpus" stage of GPT-3/PaLM-class data
pipelines (Brown et al. 2020 §A; CCNet's linear variant): train a
logistic-regression classifier on hashed token features with a
positive set (curated text) vs a negative set (raw crawl), score every
document, and keep/bucket on the score. The reference engine
(gojsonschema) has no classifier; like ops/lm.py this is one of the
dataset-level operators the graft adds beyond schema validation.

Scale shape (10^12 documents):

* **Featurization is map-side and engine-portable**: token ->
  ``conv(substring(md5(token), 1, 8), 16, 10) % dim`` (the md5 keying
  rule from ops/dataset_checks.hash_split — xxhash64 would be
  JVM-only, md5 reproduces in any SQL oracle engine). No shuffle; the
  per-doc feature array never leaves its partition during training.
* **Training never ships dense gradients**: each Arrow batch emits its
  gradient SPARSELY as (fid, partial) rows — a batch can only touch
  the fids its documents contain — plus bias/loss/count accumulator
  rows. The shuffle carries map-side-combined (fid, partial) pairs,
  the driver collects <= dim+3 rows per iteration, and the weight
  vector (dim float64, ~2 MB at the 2^18 default) ships back inside
  the next iteration's closure. One job per iteration over a persisted
  featurized projection (plan is static across iterations — persist
  suffices, no lineage growth, cf. the localCheckpoint rule for
  label-propagation loops in ops/dedup.duplicate_clusters).
* **Scoring has two equivalence-tested paths**: the native SQL join
  (explode occurrences -> join the (fid, w) weights table -> per-doc
  sum) keeps everything JVM-side — the weights table is bounded by
  ``dim`` (guarded <= 2^22), so broadcasting it is safe by
  construction; and a zero-shuffle Arrow path for driver-held models.

Full-batch gradient descent is deterministic up to float-addition
order (partials combine through a hash aggregate); tests pin the
trained weights against an independent numpy reference at rtol.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (DoubleType, LongType, StructField,
                               StructType)

from .text import word_tokens

__all__ = [
    "hashed_feature_ids",
    "train_quality_classifier",
    "weights_table",
    "score_quality_native",
    "score_quality",
    "margin_column",
    "score_multiclass_native",
    "hashed_tfidf_sparse",
    "save_classifier",
    "load_classifier",
]

MAX_DIM = 1 << 22  # driver weight vector <= 32 MB


def _check_dim(dim: int) -> None:
    if not 1 <= dim <= MAX_DIM:
        raise ValueError(f"dim must be in [1, {MAX_DIM}], got {dim}")


def hashed_feature_ids(text_col: str, dim: int,
                       lowercase: bool = True) -> Column:
    """Array of hashed token feature ids (one per occurrence —
    duplicates ARE the term frequency). md5-bucketed so any SQL engine
    reproduces the ids bit-for-bit. NULL text yields an EMPTY array
    (not NULL) — the Arrow consumers (training partials,
    margin_column) iterate the arrays and must never see None."""
    _check_dim(dim)
    fids = F.transform(
        word_tokens(text_col, lowercase),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10)
        .cast("long") % dim)
    return F.coalesce(fids, F.array().cast("array<bigint>"))


def _fid_of(tok: Column, dim: int) -> Column:
    """Scalar twin of the :func:`hashed_feature_ids` lambda body —
    identical md5 bucketing, element for element."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10) \
        .cast("long") % dim


_GRAD_SCHEMA = StructType([
    StructField("fid", LongType()),
    StructField("g", DoubleType()),
])
_BIAS, _LOSS, _COUNT, _BAD = -1, -2, -3, -4  # accumulator pseudo-fids


def train_quality_classifier(
        df: DataFrame, label_col: str, text_col: str = "text",
        dim: int = 1 << 18, n_iters: int = 20, lr: float = 1.0,
        l2: float = 0.0, lowercase: bool = True,
        cache: bool = True) -> dict:
    """Full-batch logistic regression over hashed bag-of-words.

    Returns ``{"w": list[float] (len dim), "bias": float,
    "losses": list[float] (mean log-loss per iteration), "dim": dim}``.
    ``label_col`` must be 0/1 (validated distributed — anything else
    raises). ``cache=True`` persists the featurized (fids, label)
    projection across iterations (MEMORY_AND_DISK; at extreme corpus
    sizes pass False to re-tokenize per iteration instead of spilling
    a corpus-sized projection).
    """
    import numpy as np

    _check_dim(dim)
    feat = df.select(
        hashed_feature_ids(text_col, dim, lowercase).alias("fids"),
        F.col(label_col).cast("double").alias("y"))
    if cache:
        feat = feat.persist()
    try:
        if n_iters <= 0:
            # no gradient pass to piggyback the validation on — run the
            # standalone check (the only consumer of this path)
            bad = feat.filter(~F.col("y").isin(0.0, 1.0) |
                              F.col("y").isNull()).limit(1).collect()
            if bad:
                raise ValueError(f"label column {label_col!r} must be "
                                 f"0/1, saw {bad[0].y!r}")

        w = np.zeros(dim, dtype=np.float64)
        bias = 0.0
        losses: list[float] = []
        for _ in range(n_iters):
            w_iter, b_iter = w, bias  # ship current model in the closure

            def partials(batches: Iterator) -> Iterator:
                import numpy as np
                import pandas as pd
                acc: dict = {}
                loss = 0.0
                n = 0
                eps = 1e-12  # exp underflow can round p to exactly 0/1
                for pdf in batches:
                    if not len(pdf):
                        continue
                    lists = [np.asarray(v, dtype=np.int64)
                             for v in pdf["fids"]]
                    lens = np.fromiter((len(v) for v in lists),
                                       dtype=np.int64, count=len(lists))
                    flat = (np.concatenate(lists) if lens.sum()
                            else np.empty(0, dtype=np.int64))
                    docix = np.repeat(np.arange(len(lists)), lens)
                    m = np.zeros(len(lists), dtype=np.float64)
                    if flat.size:
                        np.add.at(m, docix, w_iter[flat])
                    m += b_iter
                    p = 1.0 / (1.0 + np.exp(-m))
                    y = pdf["y"].to_numpy(dtype=np.float64)
                    # label validation piggybacks on this pass (the
                    # standalone pre-check cost one full featurize scan);
                    # the driver raises before applying the update
                    n_bad = int((np.isnan(y)
                                 | ((y != 0.0) & (y != 1.0))).sum())
                    if n_bad:
                        acc[_BAD] = acc.get(_BAD, 0.0) + float(n_bad)
                    loss -= (y * np.log(np.maximum(p, eps))
                             + (1.0 - y)
                             * np.log(np.maximum(1.0 - p, eps))).sum()
                    r = p - y
                    if flat.size:
                        uf, inv = np.unique(flat, return_inverse=True)
                        gp = np.bincount(inv, weights=r[docix])
                        for fid, gv in zip(uf.tolist(), gp.tolist()):
                            acc[fid] = acc.get(fid, 0.0) + gv
                    acc[_BIAS] = acc.get(_BIAS, 0.0) + float(r.sum())
                    n += len(lists)
                acc[_LOSS] = acc.get(_LOSS, 0.0) + loss
                acc[_COUNT] = acc.get(_COUNT, 0.0) + float(n)
                yield pd.DataFrame(
                    {"fid": np.fromiter(acc.keys(), dtype=np.int64,
                                        count=len(acc)),
                     "g": np.fromiter(acc.values(), dtype=np.float64,
                                      count=len(acc))})

            rows = (feat.mapInPandas(partials, _GRAD_SCHEMA)
                    .groupBy("fid").agg(F.sum("g").alias("g"))
                    .collect())
            sums = {r.fid: r.g for r in rows}
            n_bad = sums.pop(_BAD, 0.0)
            if n_bad:
                raise ValueError(
                    f"label column {label_col!r} must be 0/1 "
                    f"({int(n_bad)} invalid rows)")
            n = sums.pop(_COUNT, 0.0)
            if n == 0:
                raise ValueError("empty training corpus")
            losses.append(sums.pop(_LOSS, 0.0) / n)
            gb = sums.pop(_BIAS, 0.0) / n
            grad = np.zeros(dim, dtype=np.float64)
            if sums:
                fids = np.fromiter(sums.keys(), dtype=np.int64,
                                   count=len(sums))
                grad[fids] = np.fromiter(sums.values(), dtype=np.float64,
                                         count=len(sums))
            grad /= n
            if l2:
                grad += l2 * w
            w = w - lr * grad
            bias = bias - lr * gb
        return {"w": w.tolist(), "bias": float(bias), "losses": losses,
                "dim": dim, "lowercase": lowercase}
    finally:
        if cache:
            feat.unpersist()


def weights_table(spark, model: dict, drop_zero: bool = True) -> DataFrame:
    """(fid, w) DataFrame for the native scoring join. ``drop_zero``
    omits never-touched features (absent fid == weight 0 under the
    LEFT join in :func:`score_quality_native`)."""
    import numpy as np
    import pandas as pd

    w = np.asarray(model["w"], dtype=np.float64)
    fids = np.flatnonzero(w) if drop_zero else np.arange(len(w))
    pdf = pd.DataFrame({"fid": fids.astype(np.int64), "w": w[fids]})
    # Arrow path: a dim-sized table of pickled Row tuples measured
    # ~10x slower to ship than one Arrow batch
    prev = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled",
                          None)
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    try:
        out = spark.createDataFrame(pdf, "fid long, w double")
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.execution.arrow.pyspark.enabled")
        else:
            spark.conf.set(
                "spark.sql.execution.arrow.pyspark.enabled", prev)
    return out


def score_quality_native(df: DataFrame, weights: DataFrame, dim: int,
                         key_col: str, text_col: str = "text",
                         bias: float = 0.0,
                         lowercase: bool = True) -> DataFrame:
    """Pure-JVM scoring: one explode over token occurrences, LEFT join
    the (bounded, <= dim rows) weights table, per-doc sum. Emits
    ``margin`` (= bias + sum of occurrence weights; docs with no
    tokens score the bias) and ``prob``. The weights side is
    broadcast — safe by construction, dim is guarded."""
    _check_dim(dim)
    # explode the TOKENS, hash after: the md5 bucketing runs as scalar
    # expressions under whole-stage codegen instead of one interpreted
    # transform-lambda call per token (identical fids element for
    # element; explode_outer of an empty/NULL token array and of the
    # empty/NULL fid array both yield one NULL row)
    occ = (df.select(F.col(key_col).alias("key"),
                     F.explode_outer(word_tokens(text_col, lowercase))
                     .alias("t0"))
           .select("key", _fid_of(F.col("t0"), dim).alias("fid")))
    scored = (occ.join(F.broadcast(weights), "fid", "left")
              .groupBy("key")
              .agg((F.lit(bias) + F.coalesce(F.sum("w"), F.lit(0.0)))
                   .alias("margin")))
    return (scored
            .withColumn("prob", F.lit(1.0) /
                        (F.lit(1.0) + F.exp(-F.col("margin"))))
            .withColumnRenamed("key", key_col))


def margin_column(model: dict, text_col: str = "text",
                  lowercase: bool | None = None) -> Column:
    """The driver-held model's margin as a zero-shuffle Column: the
    weight vector ships in the closure, each batch is one vectorized
    numpy pass. Composable anywhere a column fits (the pipeline facade
    filters on it map-side)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    dim = model["dim"]
    _check_dim(dim)
    if lowercase is None:  # honor how the model was TRAINED
        lowercase = model.get("lowercase", True)
    w = np.asarray(model["w"], dtype=np.float64)
    bias = float(model["bias"])

    @pandas_udf("double")
    def _margin(fids_s):
        import pandas as pd
        flat = np.concatenate([np.asarray(v, dtype=np.int64)
                               for v in fids_s]) \
            if len(fids_s) else np.empty(0, dtype=np.int64)
        lens = np.fromiter((len(v) for v in fids_s), dtype=np.int64,
                           count=len(fids_s))
        out = np.zeros(len(fids_s), dtype=np.float64)
        if flat.size:
            np.add.at(out, np.repeat(np.arange(len(fids_s)), lens),
                      w[flat])
        return pd.Series(out + bias)

    margin_udf = _margin.asNondeterministic()  # optimizer-clone trap
    return margin_udf(hashed_feature_ids(text_col, dim, lowercase))


def score_quality(df: DataFrame, model: dict, key_col: str,
                  text_col: str = "text",
                  lowercase: bool | None = None) -> DataFrame:
    """Zero-shuffle Arrow scoring for a driver-held model (see
    :func:`margin_column`). Equivalence with
    :func:`score_quality_native` is pinned in tests (same margins at
    float tolerance)."""
    return (df.select(F.col(key_col),
                      margin_column(model, text_col, lowercase)
                      .alias("margin"))
            .withColumn("prob", F.lit(1.0) /
                        (F.lit(1.0) + F.exp(-F.col("margin")))))


def score_multiclass_native(df: DataFrame, weights: DataFrame,
                            dim: int, key_col: str, classes: list,
                            text_col: str = "text",
                            bias: list | None = None,
                            lowercase: bool = True) -> DataFrame:
    """Pure-JVM multiclass scoring: one explode over token
    occurrences, broadcast-join the (<= dim*C rows, bounded) weights,
    one conditional-sum aggregate per class, argmax with a
    deterministic lowest-index tie-break. Emits per-class ``margin_i``
    columns plus ``label``. Ties and margins are engine-exact when the
    weights are integers (the oracle's construction)."""
    _check_dim(dim)
    C = len(classes)
    bias = list(bias) if bias is not None else [0.0] * C
    base = df.select(F.col(key_col).alias("key"),
                     hashed_feature_ids(text_col, dim, lowercase)
                     .alias("fids"))
    occ = base.select("key", F.explode_outer("fids").alias("fid"))
    joined = occ.join(F.broadcast(weights), "fid", "left")
    aggs = [
        (F.lit(bias[i]) + F.coalesce(
            F.sum(F.when(F.col("c") == i, F.col("w"))), F.lit(0.0)))
        .alias(f"margin_{i}")
        for i in range(C)]
    scored = joined.groupBy("key").agg(*aggs)
    best = F.greatest(*[F.col(f"margin_{i}") for i in range(C)]) \
        if C > 1 else F.col("margin_0")
    label = None
    for i in range(C):
        cond = F.col(f"margin_{i}") == best
        label = (F.when(cond, F.lit(classes[i])) if label is None
                 else label.when(cond, F.lit(classes[i])))
    return (scored.withColumn("label", label)
            .withColumnRenamed("key", key_col))


def hashed_tfidf_sparse(df: DataFrame, dim: int, key_col: str,
                        text_col: str = "text",
                        lowercase: bool = True,
                        round_to: int = 6,
                        single_scan: bool = True) -> DataFrame:
    """Sparse hashed TF-IDF: ``(key, fid, tf, w)`` rows with
    ``w = round(tf * (ln((N+1)/(df+1)) + 1), round_to)`` (the
    smooth-idf convention) — a text-to-vector form that needs no
    external embedding model.

    Scale shape: tf is one explode + map-side-combined groupBy
    (key, fid); the document-frequency table is bounded by ``dim``
    ROWS BY CONSTRUCTION (fids live in [0, dim)), so its join
    broadcasts safely at any corpus size; N is one bounded count.
    md5-bucketed fids and exact integer tf/df make the whole thing
    engine-reproducible (ln parity holds at round_to=6, the lm_score
    precedent). Empty documents emit no rows.
    """
    _check_dim(dim)
    # explode tokens, hash after — codegen'd md5 bucketing, not the
    # interpreted transform lambda (see score_quality_native); plain
    # explode drops empty/NULL arrays on both formulations
    occ = (df.select(F.col(key_col).alias("key"),
                     F.explode(word_tokens(text_col, lowercase))
                     .alias("t0"))
           .select("key", _fid_of(F.col("t0"), dim).alias("fid")))
    tf = occ.groupBy("key", "fid").agg(F.count(F.lit(1)).alias("tf"))
    # df(fid) from the ALREADY-GROUPED tf table: its rows are distinct
    # (key, fid), so count(*) == count_distinct(key). tf has two
    # consumers and Spark 4.1 does NOT reuse the diamond's exchange
    # (measured: two separate ShuffleQueryStages materialize the same
    # (key, fid) shuffle), so single_scan materializes tf once
    # (localCheckpoint, the ranking-layout precedent) — the corpus is
    # exploded and shuffled exactly once; pass False to stay fully
    # lazy at the cost of a second explode+shuffle
    if single_scan:
        tf = tf.localCheckpoint(eager=True)
    dfreq = tf.groupBy("fid").agg(F.count(F.lit(1)).alias("df"))
    n = df.count()  # bounded scalar, the facade convention
    idf = (F.log((F.lit(float(n + 1))) /
                 (F.col("df").cast("double") + F.lit(1.0)))
           + F.lit(1.0))
    return (tf.join(F.broadcast(dfreq), "fid")
            .select(F.col("key").alias(key_col), "fid",
                    F.col("tf").cast("long").alias("tf"),
                    F.round(F.col("tf").cast("double") * idf, round_to)
                    .alias("w")))


def save_classifier(spark, model: dict, path: str) -> None:
    """Persist a trained binary model for day-2 reuse: nonzero weights
    as parquet (splittable, schema'd) plus a one-row meta table (bias,
    dim, losses as JSON). Mirrors the BackoffLM convention — train once
    on the reference corpus, score every subsequent crawl from the
    store."""
    import json

    rows = [(int(f), float(w))
            for f, w in enumerate(model["w"]) if w != 0.0]
    spark.createDataFrame(rows or [(0, 0.0)], "fid long, w double") \
        .write.mode("overwrite").parquet(f"{path}/weights")
    meta = {k: v for k, v in model.items() if k != "w"}
    spark.createDataFrame([(json.dumps(meta),)], "meta string") \
        .write.mode("overwrite").parquet(f"{path}/meta")


def load_classifier(spark, path: str) -> dict:
    """Inverse of :func:`save_classifier`; returns the model dict
    (the dense weight list rebuilt from the sparse store)."""
    import json

    meta = json.loads(
        spark.read.parquet(f"{path}/meta").collect()[0].meta)
    dense = [0.0] * meta["dim"]
    for r in spark.read.parquet(f"{path}/weights").collect():
        if r.w != 0.0:
            dense[r.fid] = r.w
    meta["w"] = dense
    return meta
