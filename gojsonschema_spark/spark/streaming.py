"""Structured Streaming validation.

The reference is single-document/synchronous (SURVEY.md §2.7: no streaming
exists there), and the north-rule resumability is deliberately batch
(per-bucket checkpoints, plans/checkpointed.py). This module makes the
same compiled plans usable over streams: the pure-SQL column plan is a
narrow stateless projection, so it applies to a streaming DataFrame
unchanged — watermarking/windowed rollups compose downstream.
:func:`sessionize_batch` groups a keyed event table into sessions with
window functions.

Typical use::

    stream = spark.readStream.schema(s).json(dir)
    out = validate_stream(stream, SparkValidator(schema), "doc")
    (windowed_invalid_rate(out, "ts")
       .writeStream.outputMode("update").format("memory")...)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .engine import SparkValidator

__all__ = ["validate_stream", "validate_stream_to_parquet",
           "windowed_invalid_rate", "sessionize_batch"]


def validate_stream(stream_df: DataFrame, validator: SparkValidator,
                    doc_col: str, valid_col: str = "valid") -> DataFrame:
    """Append the `valid` bit to a streaming DataFrame (stateless).

    This is ``validator.validate_json(..., violations_col=None)``: the
    engine's one dispatch, whose Generate barriers and frontier masking
    are stateless projections and so legal on streams. Hybrid plans
    (cyclic $ref unroll, composite uniqueItems, UDF formats in HOF
    positions) thereby re-verdict their frontier rows with the
    interpreter instead of trusting the optimistic column plan."""
    return validator.validate_json(stream_df, doc_col, valid_col,
                                   violations_col=None)


def validate_stream_to_parquet(stream_df: DataFrame,
                               validator: SparkValidator, doc_col: str,
                               out_dir: str, checkpoint_dir: str,
                               partition_col: str | None = None,
                               trigger: dict | None = None):
    """End-to-end streaming sink: validate -> append to (optionally
    partitioned) parquet with EXACTLY-ONCE delivery — the streaming twin
    of the batch checkpointed run (plans/checkpointed.py). The file
    sink's transaction log under ``checkpointLocation`` records committed
    batches, so a killed-and-restarted query resumes from the last
    commit and never double-writes (restart-resume pinned in
    tests/test_streaming.py). ``trigger={"availableNow": True}`` gives
    the batch-like drain-and-stop mode for backfills."""
    out = validate_stream(stream_df, validator, doc_col)
    w = (out.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append"))
    if partition_col:
        w = w.partitionBy(partition_col)
    if trigger:
        w = w.trigger(**trigger)
    return w.start()


def sessionize_batch(df: DataFrame, key_col: str = "user_id",
                     ts_col: str = "ts", gap_sec: float = 1800.0,
                     tiebreak_col: str | None = None) -> DataFrame:
    """Sessions of a keyed event table: a key's events, in time order,
    start a new session after a gap of more than ``gap_sec`` seconds.
    Expressed as window functions (lag -> session-start flag ->
    cumulative session id -> per-session agg); emits every session,
    each key's last one included.

    ``tiebreak_col`` makes the intra-key order total when timestamps can
    collide (session membership itself only depends on the sorted
    timestamp multiset, but a total order keeps the cumulative sum
    deterministic for row-level consumers).

    Scale note: the window shuffles ALL of a key's events to one task —
    at web scale a bot key with 10^9 events serializes there. For skewed
    corpora, find the hot keys first (salted_counts in ops/skew.py finds
    them without a skewed shuffle) and split them by a coarse time
    bucket."""
    from pyspark.sql import Window as W

    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = W.partitionBy(key_col).orderBy(*order)
    epochs = lambda c: F.col(c).cast("timestamp").cast("double")
    prev = F.lag(ts_col).over(w)
    new_session = (prev.isNull()
                   | (epochs(ts_col) - prev.cast("timestamp").cast("double")
                      > gap_sec)).cast("long")
    sid = F.sum(new_session).over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow))
    return (df.select(key_col, F.col(ts_col), sid.alias("session_id"))
              .groupBy(key_col, "session_id")
              .agg(F.min(ts_col).alias("session_start"),
                   F.max(ts_col).alias("session_end"),
                   F.count(F.lit(1)).alias("n_events")))


def windowed_invalid_rate(validated: DataFrame, ts_col: str,
                          window: str = "1 minute",
                          watermark: str = "5 minutes") -> DataFrame:
    """Late-data-tolerant windowed quality rollup over a validated stream."""
    return (validated
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((~F.col("valid")).cast("long")).alias("n_invalid")))
