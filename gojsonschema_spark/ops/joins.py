"""Join operators Spark lacks natively, built from shuffle-friendly
primitives.

``asof_join`` is the feature-store / point-in-time join: for each left
row, the single right row with the greatest timestamp <= the left
timestamp (optionally within a tolerance window). Spark has no ASOF
join operator; the standard formulations are a range join (quadratic
blowup per key without tight bounds) or a union + last-non-null window
— this implements the latter: ONE shuffle on the key, no per-row
Python, no range explosion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["asof_join", "range_join"]


def range_join(points: DataFrame, intervals: DataFrame, key_col: str,
               ts_col: str, start_col: str, end_col: str,
               bucket_width_sec: float = 3600.0) -> DataFrame:
    """Interval join: every (point, interval) pair of the same key with
    ``start_col <= ts <= end_col`` (inclusive both ends). Spark plans a
    naive non-equi join as BroadcastNestedLoop/cartesian — quadratic per
    key; this bucketizes time instead: each interval explodes to the
    ``bucket_width_sec`` buckets it spans, each point maps to exactly
    one bucket, and the join is an EQUI-join on (key, bucket) + a final
    range filter. Each matching pair joins exactly once (the point has
    one bucket), so no dedup pass.

    ``bucket_width_sec`` trades interval-row amplification (an interval
    produces span/width + 1 rows) against bucket selectivity (points
    falling in a bucket meet every interval touching it) — set it near
    the TYPICAL interval span. Column names other than ``key_col`` must
    be disjoint between the two inputs."""
    from pyspark.sql.types import TimestampNTZType

    w = float(bucket_width_sec)
    overlap = set(points.columns) & set(intervals.columns) - {key_col}
    if overlap:
        raise ValueError(f"colliding non-key columns: {sorted(overlap)}")

    def secs(df, c):
        # epoch seconds; NTZ has no direct double cast — route through
        # timestamp (any consistent monotone mapping works: only bucket
        # IDENTITY matters, and both sides use the same mapping)
        col = F.col(c)
        if isinstance(df.schema[c].dataType, TimestampNTZType):
            col = col.cast("timestamp")
        return col.cast("double")

    iv = intervals.withColumn(
        "__b", F.explode(F.sequence(
            F.floor(secs(intervals, start_col) / w).cast("long"),
            F.floor(secs(intervals, end_col) / w).cast("long"))))
    pt = points.withColumn(
        "__b", F.floor(secs(points, ts_col) / w).cast("long"))
    return (pt.join(iv, [key_col, "__b"])
            .filter(F.col(ts_col).between(F.col(start_col), F.col(end_col)))
            .drop("__b"))


def asof_join(left: DataFrame, right: DataFrame, key_col: str,
              ts_col: str, value_col: str, out_col: str | None = None,
              tolerance_sec: float | None = None) -> DataFrame:
    """For every left row, attach the latest ``value_col`` from
    ``right`` whose ``ts_col`` is <= the left row's (ties at equal
    timestamps DO match, mirroring DuckDB/pandas ``merge_asof``
    defaults); rows with no prior right row get NULL.
    ``tolerance_sec`` nulls matches older than the window (the
    feature-staleness cutoff).

    Shape: right first reduces to ONE row per (key, ts) — the max value,
    making the result deterministic when right carries same-timestamp
    duplicates — then both sides union (right rows sort BEFORE left rows
    at equal timestamps, implementing the <= tie rule) and one
    last-non-null window per key fills values forward. Exactly one
    shuffle, keyed on ``key_col``; per-key data lands on one task, so a
    bot key with 10^9 events serializes there — pre-split hot keys
    (ops/skew.py salted_counts finds them) by time bucket first when the
    key histogram is skewed."""
    from pyspark.sql import Window as W

    out_col = out_col or f"asof_{value_col}"
    vt = right.schema[value_col].dataType
    tt = left.schema[ts_col].dataType

    r1 = (right.groupBy(key_col, ts_col)
          .agg(F.max(value_col).alias("__v")))
    l2 = left.select(
        "*", F.lit(1).alias("__side"),
        F.lit(None).cast(vt).alias("__v"),
        F.lit(None).cast(tt).alias("__vts"))
    extra = [c for c in left.columns if c not in (key_col, ts_col)]
    r2 = r1.select(
        key_col, ts_col,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in extra],
        F.lit(0).alias("__side"), F.col("__v"),
        F.col(ts_col).alias("__vts"))

    w = (W.partitionBy(key_col).orderBy(ts_col, "__side")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    filled = l2.unionByName(r2).select(
        "*",
        F.last("__v", ignorenulls=True).over(w).alias(out_col),
        F.last("__vts", ignorenulls=True).over(w).alias("__mts"))
    res = filled.filter(F.col("__side") == 1)
    if tolerance_sec is not None:
        from pyspark.sql.types import TimestampNTZType

        def secs(c):
            col = F.col(c)
            if isinstance(left.schema[ts_col].dataType, TimestampNTZType):
                col = col.cast("timestamp")  # NTZ has no direct double cast
            return col.cast("double")

        fresh = (secs(ts_col) - secs("__mts")) <= float(tolerance_sec)
        res = res.withColumn(out_col,
                             F.when(fresh, F.col(out_col)))
    return res.drop("__side", "__v", "__vts", "__mts")
