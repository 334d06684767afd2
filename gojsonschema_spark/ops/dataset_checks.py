"""Dataset-level constraint checks the single-document reference cannot
express (SURVEY.md §2.7, BASELINE.json north_star): per-column stats,
uniqueness, referential integrity, distribution drift.

Scale notes (designed for ~10^12-row tables on 1000 executors):

* stats are one partial-aggregate pass (map-side combine, no wide rows);
* uniqueness offers an O(1)-memory approximate fast path
  (count vs approx_count_distinct) and an exact groupBy that shuffles on
  the key — salt or AQE-skew-split when one key dominates;
* referential integrity broadcasts the dimension when small
  (``broadcast_dim=True``) to avoid shuffling the fact table;
* drift aggregates each side to a tiny histogram first — the join that
  follows is over the category cardinality, never the data size.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "column_stats",
    "hash_split",
    "numeric_percentiles",
    "duplicate_keys",
    "uniqueness_ratio",
    "referential_orphans",
    "categorical_drift",
    "categorical_drift_kl",
    "categorical_drift_psi",
    "categorical_drift_js",
    "histogram_drift_kl",
    "histogram_drift_ks",
    "frequent_items",
    "topk_per_group",
    "group_sample",
]


def column_stats(df: DataFrame, col: str, round_to: int = 6) -> DataFrame:
    """count/min/max/avg/stddev in one partial-agg pass."""
    c = F.col(col)
    return df.agg(
        F.count(c).alias("n"),
        F.min(c).alias("min_v"),
        F.max(c).alias("max_v"),
        F.round(F.avg(c), round_to).alias("avg_v"),
        F.round(F.stddev_samp(c), round_to).alias("stddev_v"),
    )


def numeric_percentiles(df: DataFrame, col: str, probs=(0.25, 0.5, 0.75),
                        round_to: int = 6, approximate: bool = False) -> DataFrame:
    """Interpolated percentiles. ``approximate=True`` uses the sketch-based
    approx_percentile (one pass, bounded memory — the 100 TB path)."""
    c = F.col(col)
    if approximate:
        pcts = F.percentile_approx(c, list(probs), 10000)
    else:
        pcts = F.percentile(c, F.lit(list(probs)))
    cols = [F.round(pcts.getItem(i), round_to).alias(f"p{int(p * 100)}")
            for i, p in enumerate(probs)]
    return df.agg(*cols)


def frequent_items(df: DataFrame, col: str, k: int = 10) -> DataFrame:
    """Top-k heavy hitters of a column (the dataset check behind domain-
    mix audits and hot-key discovery for the skew guards).

    Scale shape: counting a value is algebraic, so the hash aggregate is
    map-side PARTIAL first — the shuffle carries (value, partial_count)
    pairs bounded by distinct-values-per-partition, never rows, and a
    hot value costs one tiny combine, not a skewed reducer. The top-k
    itself compiles to TakeOrderedAndProject (per-partition heaps +
    driver merge of k rows), NOT a global sort. Deterministic tiebreak
    (count desc, value asc) keeps results replayable/oracle-able."""
    c = F.col(col)
    return (df.groupBy(c.alias("value"))
              .agg(F.count(F.lit(1)).alias("n"))
              .orderBy(F.col("n").desc(), F.col("value").asc())
              .limit(k))


def topk_per_group(df: DataFrame, group_cols: list[str], order_col: str,
                   k: int, ascending: bool = True,
                   tiebreak_col: str | None = None,
                   n_salts: int = 256) -> DataFrame:
    """Top-``k`` rows per group by ``order_col`` — WITHOUT the window
    trap: ``row_number() over (partition by g order by o)`` shuffles and
    SORTS every group on one task, so a degenerate group (one host with
    10^9 pages) serializes there. This is the salted bounded two-stage
    aggregation instead (the exact_duplicates r4 pattern, generalized):
    stage 1 keeps the k best rows per (group, salt) lane — every member
    of the global top-k survives its lane's slice — and stage 2 merges
    <= n_salts * k rows per group. Both stages are algebraic (map-side
    partial collect + slice).

    ``n_salts`` is the lane-memory knob: a stage-1 reducer materializes
    its whole lane (group_size / n_salts rows) in one collect_list
    before slicing, so size it for the LARGEST group (10^9-row group /
    256 salts ~ 4M rows per lane; raise n_salts for worse skew). Extra
    salts are nearly free — each input row still lands in exactly one
    lane, and only the stage-2 merge arrays (<= n_salts * k per group)
    grow.

    Ordering is (order_col, tiebreak_col) ascending, or descending on a
    NUMERIC order_col with ``ascending=False`` (implemented by keyed
    negation so the tiebreak stays ASCENDING — the row_number
    convention). Pass a per-group-unique ``tiebreak_col`` for fully
    deterministic output. Returns the original columns, k rows per
    group."""
    okey = F.col(order_col) if ascending else -F.col(order_col)
    fields = [okey.alias("__o")]
    if tiebreak_col:
        fields.append(F.col(tiebreak_col).alias("__t"))
    member = F.struct(*fields,
                      F.struct(*[F.col(c) for c in df.columns]).alias("__r"))
    salt_src = tiebreak_col or order_col
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(salt_src), F.lit(n_salts)).cast("int"))
    lane = (salted.groupBy(*group_cols, "__salt")
            .agg(F.slice(F.sort_array(F.collect_list(member)), 1, k)
                 .alias("__m")))
    top = (lane.groupBy(*group_cols)
           .agg(F.slice(F.sort_array(F.flatten(F.collect_list("__m"))), 1, k)
                .alias("__m")))
    return (top.select(F.explode("__m").alias("__e"))
            .select("__e.__r.*"))


def group_sample(df: DataFrame, group_cols: list[str], k: int,
                 id_col: str, seed: int = 0) -> DataFrame:
    """Deterministic uniform k-sample per group (eval-set carving,
    per-domain inspection samples): rank rows by ``md5(id || '|' ||
    seed)`` — a uniform pseudo-random permutation keyed by a UNIQUE id,
    reproducible across runs, re-partitionings, and plain-SQL oracles
    (unlike ``F.rand``, whose draw depends on row order within
    partitions) — and keep each group's k smallest via the skew-safe
    :func:`topk_per_group`, so a degenerate group (one host with 10^9
    pages) never sorts on a single task. A fresh ``seed`` redraws the
    sample."""
    keyed = df.withColumn(
        "__rk", F.md5(F.concat_ws("|", F.col(id_col).cast("string"),
                                  F.lit(str(seed)))))
    return (topk_per_group(keyed, group_cols, "__rk", k,
                           ascending=True, tiebreak_col=id_col)
            .drop("__rk"))


def duplicate_keys(df: DataFrame, key: str, min_count: int = 2) -> DataFrame:
    """Exact duplicate detection: groupBy-shuffle on the key."""
    return (df.groupBy(key)
              .agg(F.count(F.lit(1)).alias("n_dups"))
              .filter(F.col("n_dups") >= min_count))


def uniqueness_ratio(df: DataFrame, key: str, approximate: bool = True) -> DataFrame:
    """n_rows vs n_distinct(key). Approximate = HyperLogLog++, no shuffle of
    wide rows; exact = count(distinct)."""
    k = F.col(key)
    distinct = (F.approx_count_distinct(k) if approximate
                else F.count_distinct(k))
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        distinct.alias("n_distinct"),
    )


def referential_orphans(fact: DataFrame, fact_key: str, dim: DataFrame,
                        dim_key: str, broadcast_dim: bool = True) -> DataFrame:
    """Rows of ``fact`` whose key has no match in ``dim`` (left_anti)."""
    d = dim.select(F.col(dim_key).alias(fact_key)).distinct()
    if broadcast_dim:
        d = F.broadcast(d)
    return fact.join(d, on=fact_key, how="left_anti")


def _cat_dist(df: DataFrame, col: str, p_name: str) -> DataFrame:
    """Normalized category histogram in ONE scan: the total comes from a
    global window over the grouped rows (<= |categories| of them), not a
    second df.count() pass over the data."""
    from pyspark.sql.window import Window

    hist = df.groupBy(col).agg(F.count(F.lit(1)).alias("__n"))
    total = F.sum("__n").over(Window.partitionBy())
    return hist.select(col, (F.col("__n") / total).alias(p_name))


def categorical_drift(df_p: DataFrame, df_q: DataFrame, col: str,
                      metric: str, round_to: int = 6) -> DataFrame:
    """Drift of P against Q over a categorical column, by ``metric``:

    * ``"kl"`` — KL(P || Q);
    * ``"psi"`` — Population Stability Index, the ML-ops/risk-monitoring
      standard (PSI = sum (p-q) * ln(p/q), the SYMMETRIZED KL;
      conventional alert bands: < 0.1 stable, 0.1-0.25 moderate shift,
      > 0.25 major shift);
    * ``"js"`` — Jensen-Shannon divergence (natural log): JS = (KL(P||M)
      + KL(Q||M)) / 2 with M = (P+Q)/2. Bounded in [0, ln 2] and
      symmetric — the drift score that stays finite when a category
      exists on only one side.

    KL and PSI inner-join on categories seen in both (the standard
    smoothed-support convention for drift monitoring, shared so the two
    monitors stay comparable); JS joins FULL OUTER with null-as-zero, so
    new or vanished categories contribute rather than silently dropping
    out. Each side reduces to |categories| rows in one scan before the
    join — the join is broadcastable and never scales with the data.
    :func:`streaming.windowed_drift` is the live twin."""
    if metric not in ("kl", "psi", "js"):
        raise ValueError("metric must be kl|psi|js")
    dist_p = _cat_dist(df_p, col, "p")
    dist_q = _cat_dist(df_q, col, "q")
    p, q = F.col("p"), F.col("q")
    if metric == "js":
        joined = (dist_p.join(dist_q, on=col, how="full_outer")
                  .select(F.coalesce(p, F.lit(0.0)).alias("p"),
                          F.coalesce(q, F.lit(0.0)).alias("q")))
        m = (p + q) / 2

        def kl_term(x):
            return F.when(x > 0, x * F.log(x / m)).otherwise(F.lit(0.0))

        return joined.agg(F.round(F.sum(kl_term(p) + kl_term(q)) / 2,
                                  round_to).alias("js_divergence"))
    joined = dist_p.join(F.broadcast(dist_q), on=col, how="inner")
    weight = p if metric == "kl" else p - q
    return joined.agg(F.round(F.sum(weight * F.log(p / q)), round_to)
                      .alias("kl_divergence" if metric == "kl" else "psi"))


# per-metric names, called by __spark_entry__.py's queries and bench.py
categorical_drift_kl = partial(categorical_drift, metric="kl")
categorical_drift_psi = partial(categorical_drift, metric="psi")
categorical_drift_js = partial(categorical_drift, metric="js")


def histogram_drift_kl(df_p: DataFrame, df_q: DataFrame, col: str,
                       bucket_width: float, round_to: int = 6) -> DataFrame:
    """KL drift over a numeric column bucketed by fixed width."""
    b = (F.floor(F.col(col) / F.lit(bucket_width))).alias("bucket")
    return categorical_drift(df_p.select(b), df_q.select(b), "bucket", "kl",
                             round_to)


def histogram_drift_ks(df_p: DataFrame, df_q: DataFrame, col: str,
                       bucket_width: float, round_to: int = 6) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic over a numeric column,
    computed on fixed-width histogram buckets: D = max |CDF_p - CDF_q|
    at bucket granularity — the distribution-FREE drift score (no
    support convention to choose: empty buckets on either side
    contribute through the cumulative sums; D is exact for the bucketed
    distributions and lower-bounds the continuous D by at most one
    bucket's mass).

    Scale shape: each side reduces to |buckets| rows in one scan
    (normalized via a global window like the categorical monitors), the
    full-outer bucket alignment and cumulative sums run over <=
    |buckets| rows, and the max is a scalar — nothing scales with the
    data."""
    from pyspark.sql.window import Window

    b = (F.floor(F.col(col) / F.lit(bucket_width))).alias("bucket")
    p = _cat_dist(df_p.select(b), "bucket", "p")
    q = _cat_dist(df_q.select(b), "bucket", "q")
    joined = (p.join(q, on="bucket", how="full_outer")
              .select("bucket",
                      F.coalesce("p", F.lit(0.0)).alias("p"),
                      F.coalesce("q", F.lit(0.0)).alias("q")))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)
    diff = F.abs(F.sum("p").over(w) - F.sum("q").over(w))
    return (joined.select(diff.alias("d"))
            .agg(F.round(F.max("d"), round_to).alias("ks_statistic")))


def hash_split(df: DataFrame, id_col: str,
               weights: dict[str, float], seed: int = 0,
               buckets: int = 1000) -> DataFrame:
    """Deterministic train/val/test carving: appends ``split`` chosen by
    ``md5(id || '|' || seed)`` bucketed into ``buckets`` slots and cut
    at the cumulative weight boundaries. Same id + seed -> same split
    on every run, at every parallelism, on any engine (the md5 keying
    rule from :func:`group_sample` — ``F.rand`` is layout-dependent);
    a fresh seed redraws the assignment. Map-side only: zero shuffle,
    no state, safely re-derivable per partition under task retry.

    ``weights`` need not sum to 1 — they are normalized; order of dict
    entries fixes boundary order. Granularity is 1/buckets (weights
    round to whole buckets; an entry rounding to zero buckets raises).
    """
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    cuts: list[tuple[str, int]] = []
    acc = 0.0
    for name, wgt in weights.items():
        acc += wgt / total
        cuts.append((name, int(round(acc * buckets))))
    prev = 0
    for name, edge in cuts:
        if edge <= prev:
            raise ValueError(
                f"split {name!r} rounds to zero buckets at "
                f"buckets={buckets}; raise buckets")
        prev = edge
    bucket = (F.conv(F.substring(
        F.md5(F.concat_ws("|", F.col(id_col).cast("string"),
                          F.lit(str(seed)))), 1, 8), 16, 10)
        .cast("long") % buckets)
    expr = None
    for name, edge in cuts:
        cond = bucket < edge
        expr = F.when(cond, F.lit(name)) if expr is None \
            else expr.when(cond, F.lit(name))
    return df.withColumn("split", expr)
