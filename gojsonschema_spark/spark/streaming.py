"""Structured Streaming validation.

The reference is single-document/synchronous (SURVEY.md §2.7: no streaming
exists there), and the north-rule resumability is deliberately batch
(per-bucket checkpoints, plans/checkpointed.py). This module makes the
same compiled plans usable over streams: the pure-SQL column plan is a
narrow stateless projection, so it applies to a streaming DataFrame
unchanged — watermarking/windowed rollups compose downstream.

Typical use::

    stream = spark.readStream.schema(s).json(dir)
    out = validate_stream(stream, SparkValidator(schema), "doc")
    (windowed_invalid_rate(out, "ts")
       .writeStream.outputMode("update").format("memory")...)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (LongType, StructField, StructType,
                               TimestampType)

from .engine import SparkValidator

__all__ = ["validate_stream", "validate_stream_to_parquet",
           "windowed_invalid_rate", "sessionize_stream",
           "sessionize_stream_event_time", "sessionize_batch",
           "sessionize_skew_guarded", "dedup_stream",
           "dedup_stream_incremental", "windowed_drift"]


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


def sessionize_stream(df: DataFrame, key_col: str = "user_id",
                      ts_col: str = "ts", gap_sec: float = 1800.0) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    groups a keyed event stream into sessions closed after ``gap_sec`` of
    inactivity. Emits one row per CLOSED session — either when a later
    event in the same group exceeds the gap, or when the processing-time
    timeout fires for an idle group. State per key is three scalars
    (start, last, count): bounded regardless of session length, so a
    degenerate key (bot traffic) cannot grow executor state. State
    timestamps are integer MICROSECONDS like the event-time twin's (r5):
    float64 epoch seconds have ~0.5us resolution at current epochs, so
    exact gap-boundary comparisons could flip vs sessionize_batch.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = df.schema[key_col].dataType
    out_schema = StructType([
        StructField(key_col, key_type),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ])
    state_schema = StructType([
        StructField("start", LongType()),
        StructField("last", LongType()),
        StructField("n", LongType()),
    ])
    gap_us = int(round(float(gap_sec) * 1_000_000))

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        def session_row(start, last, n):
            return pd.DataFrame({
                key_col: [key[0]],
                "session_start": [pd.Timestamp(start, unit="us")],
                "session_end": [pd.Timestamp(last, unit="us")],
                "n_events": [n],
            })

        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield session_row(start, last, n)
            return

        rows = pd.concat(list(pdfs))
        ts = (rows[ts_col].astype("int64") // 1000).sort_values()  # ns -> us
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        closed = []
        for t in ts:
            if last is not None and t - last > gap_us:
                closed.append((start, last, n))
                start, n = None, 0
            if start is None:
                start = t
            last = t
            n += 1
        state.update((int(start), int(last), int(n)))
        state.setTimeoutDuration(int(gap_us // 1000))
        for s in closed:
            yield session_row(*s)

    return df.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.ProcessingTimeTimeout)


def sessionize_stream_event_time(df: DataFrame, key_col: str = "user_id",
                                 ts_col: str = "ts", gap_sec: float = 1800.0,
                                 watermark: str = "1 hour") -> DataFrame:
    """EVENT-time twin of :func:`sessionize_stream`: sessions close when
    the event-time WATERMARK passes ``session_end + gap_sec`` —
    deterministic and replay-stable, unlike the processing-time variant
    whose emissions depend on wall-clock batch timing. Late or
    out-of-order events within the watermark horizon land in — and can
    MERGE — still-open sessions (an event bridging two open intervals
    collapses them into one, exactly what :func:`sessionize_batch` would
    have produced); events older than the watermark are dropped by Spark
    before reaching the operator (the standard late-data contract).

    State per key is the OPEN interval list (start, last, n): intervals
    are emitted and evicted as the watermark passes them, so state is
    bounded by watermark_horizon / gap_sec intervals regardless of how
    hot the key is — the same bot-key guarantee as the processing-time
    variant, with exact late-data semantics on top.

    Boundary note: emission is final. An event arriving in a LATER batch
    at exactly ``session_end + gap_sec`` of an already-emitted session
    starts a fresh session, where the batch twin (which sees all events
    at once) would merge the two — reachable only when the event lands
    exactly on both the gap boundary and at/after the emitting
    watermark; any earlier it was merged, any later it is a new session
    on both paths."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import ArrayType

    key_type = df.schema[key_col].dataType
    out_schema = StructType([
        StructField(key_col, key_type),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ])
    # state keeps event times as INTEGER microseconds (r5 ADVICE): float64
    # epoch seconds cannot exactly represent microsecond timestamps at
    # current epochs (~0.1-0.2us round-trip error), so session bounds could
    # drift sub-us and exact gap-boundary comparisons (s - last <= gap)
    # could flip versus sessionize_batch. All gap arithmetic is integral;
    # timestamps materialize only at emission.
    state_schema = StructType([
        StructField("starts", ArrayType(LongType())),
        StructField("lasts", ArrayType(LongType())),
        StructField("ns", ArrayType(LongType())),
    ])
    gap_us = int(round(float(gap_sec) * 1_000_000))

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        wm_us = state.getCurrentWatermarkMs() * 1000
        intervals = []
        if state.exists:
            starts, lasts, ns = state.get
            intervals = list(zip(starts, lasts, ns))
        if not state.hasTimedOut:
            for pdf in pdfs:
                for t in (pdf[ts_col].astype("int64") // 1000):  # ns -> us
                    intervals.append((int(t), int(t), 1))
        # interval-union with gap tolerance == sessionization of the
        # multiset of all (in-state + newly arrived) event times
        intervals.sort()
        merged = []
        for s, l, n in intervals:
            if merged and s - merged[-1][1] <= gap_us:
                merged[-1][1] = max(merged[-1][1], l)
                merged[-1][2] += n
            else:
                merged.append([s, l, n])
        closed = [iv for iv in merged if iv[1] + gap_us <= wm_us]
        open_ = [iv for iv in merged if iv[1] + gap_us > wm_us]
        if open_:
            state.update(([iv[0] for iv in open_],
                          [iv[1] for iv in open_],
                          [iv[2] for iv in open_]))
            # fire when the watermark passes the earliest open expiry
            # (must be strictly beyond the current watermark)
            expiry_ms = (open_[0][1] + gap_us) // 1000
            state.setTimeoutTimestamp(
                max(expiry_ms, state.getCurrentWatermarkMs() + 1))
        else:
            state.remove()
        if closed:
            yield pd.DataFrame({
                key_col: [key[0]] * len(closed),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                "session_end": [pd.Timestamp(l, unit="us") for _, l, _ in closed],
                "n_events": [n for _, _, n in closed],
            })

    return (df.withWatermark(ts_col, watermark)
            .groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                    GroupStateTimeout.EventTimeTimeout))


def sessionize_batch(df: DataFrame, key_col: str = "user_id",
                     ts_col: str = "ts", gap_sec: float = 1800.0,
                     tiebreak_col: str | None = None) -> DataFrame:
    """Batch twin of :func:`sessionize_stream`: same gap rule, expressed as
    window functions (lag -> session-start flag -> cumulative session id ->
    per-session agg), so one definition of a "session" serves both the
    stream and the backfill. Emits ALL sessions, including each key's
    still-open tail (the stream emits that one only after its timeout).

    ``tiebreak_col`` makes the intra-key order total when timestamps can
    collide (session membership itself only depends on the sorted
    timestamp multiset, but a total order keeps the cumulative sum
    deterministic for row-level consumers).

    Scale note: the window shuffles ALL of a key's events to one task —
    at web scale a bot key with 10^9 events serializes there (the
    streaming twin has 3-scalar bounded state instead). For skewed
    corpora, pre-filter keys above a count threshold (salted_counts in
    ops/skew.py finds them without a skewed shuffle) and handle them via
    the streaming operator or a coarse time-bucket pre-split."""
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


def sessionize_skew_guarded(df: DataFrame, key_col: str = "user_id",
                            ts_col: str = "ts", gap_sec: float = 1800.0,
                            hot_threshold: int = 5_000_000,
                            bucket_span_sec: float = 86400.0,
                            tiebreak_col: str | None = None,
                            hot_keys: DataFrame | None = None) -> DataFrame:
    """:func:`sessionize_batch` with the bot-key mitigation its docstring
    prescribes, composed into one operator (same output schema/values).

    The plain window shuffles ALL of a key's events to one task; a bot
    key with 10^9 events serializes there. This helper:

    1. finds hot keys WITHOUT a skewed shuffle (ops/skew.py
       ``salted_counts``: two-stage salted count, broadcastable result);
    2. sessionizes cold keys through the ordinary window;
    3. routes hot keys through a two-level split: events bucket by
       ``floor(epoch / bucket_span_sec)`` so each window partition is
       (key, bucket)-sized; intra-bucket sessions whose ordinal is
       neither first nor last in their bucket are FINAL (their distance
       to bucket-internal neighbors exceeds ``gap_sec`` by
       construction); only the <= 2 boundary sessions per bucket enter a
       per-key chain-merge pass (partition size O(#buckets), bounded)
       that stitches sessions spanning bucket edges.

    Requires ``bucket_span_sec > gap_sec`` (events in non-adjacent
    buckets are then always > gap apart, so empty buckets cannot hide a
    mergeable pair — and the chain rule compares real timestamps anyway).
    The final per-key session renumbering is a row_number over SESSIONS
    (not events) — the residual per-key partition is #sessions, which is
    what the split bounds.

    ``hot_keys``: optional single-column DataFrame of known hot keys
    (e.g. yesterday's bot census) — skips the salted count pass
    entirely, saving one full-corpus aggregation at 100 TB."""
    from pyspark.sql import Window as W

    if bucket_span_sec <= gap_sec:
        raise ValueError("bucket_span_sec must exceed gap_sec")

    if hot_keys is not None:
        hot = hot_keys.select(F.col(hot_keys.columns[0]).alias(key_col))
    else:
        from ..ops.skew import salted_counts
        hot = (salted_counts(df, key_col)
               .filter(F.col("n") > hot_threshold).select(key_col))
    cold_sessions = sessionize_batch(
        df.join(F.broadcast(hot), key_col, "left_anti"),
        key_col, ts_col, gap_sec, tiebreak_col)

    epochs = lambda c: c.cast("timestamp").cast("double")
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    hot_events = (df.join(F.broadcast(hot), key_col, "inner")
                  .withColumn("__bkt",
                              F.floor(epochs(F.col(ts_col)) / bucket_span_sec)))
    wb = W.partitionBy(key_col, "__bkt").orderBy(*order)
    prev = F.lag(ts_col).over(wb)
    new_s = (prev.isNull()
             | (epochs(F.col(ts_col)) - epochs(prev) > gap_sec)).cast("long")
    sid = F.sum(new_s).over(wb.rowsBetween(W.unboundedPreceding, W.currentRow))
    intra = (hot_events
             .select(key_col, "__bkt", F.col(ts_col), sid.alias("__sid"))
             .groupBy(key_col, "__bkt", "__sid")
             .agg(F.min(ts_col).alias("session_start"),
                  F.max(ts_col).alias("session_end"),
                  F.count(F.lit(1)).alias("n_events")))
    # first session of a bucket always has __sid == 1 (cumsum starts at 1)
    is_boundary = ((F.col("__sid") == 1) |
                   (F.col("__sid") ==
                    F.max("__sid").over(W.partitionBy(key_col, "__bkt"))))
    marked = intra.withColumn("__boundary", is_boundary)
    cols = [key_col, "session_start", "session_end", "n_events"]
    final = marked.filter(~F.col("__boundary")).select(*cols)
    bound = marked.filter(F.col("__boundary")).select(*cols)
    wk = W.partitionBy(key_col).orderBy("session_start")
    prev_end = F.lag("session_end").over(wk)
    new_chain = (prev_end.isNull()
                 | (epochs(F.col("session_start")) - epochs(prev_end)
                    > gap_sec)).cast("long")
    chain = F.sum(new_chain).over(
        wk.rowsBetween(W.unboundedPreceding, W.currentRow))
    merged = (bound.select(*cols, chain.alias("__chain"))
              .groupBy(key_col, "__chain")
              .agg(F.min("session_start").alias("session_start"),
                   F.max("session_end").alias("session_end"),
                   F.sum("n_events").alias("n_events"))
              .select(*cols))
    hot_all = final.unionByName(merged)
    wn = W.partitionBy(key_col).orderBy("session_start")
    hot_sessions = hot_all.select(
        key_col, F.row_number().over(wn).cast("long").alias("session_id"),
        "session_start", "session_end", "n_events")
    out_cols = [key_col, "session_id", "session_start", "session_end",
                "n_events"]
    return cold_sessions.select(*out_cols).unionByName(
        hot_sessions.select(*out_cols))


def windowed_invalid_rate(validated: DataFrame, ts_col: str,
                          window: str = "1 minute",
                          watermark: str = "5 minutes") -> DataFrame:
    """Late-data-tolerant windowed quality rollup over a validated stream."""
    return (validated
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((~F.col("valid")).cast("long")).alias("n_invalid")))


def dedup_stream(df: DataFrame, key_cols: list[str], ts_col: str,
                 delay: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key within the
    watermark horizon (dropDuplicatesWithinWatermark). State stays
    BOUNDED — a key's entry is evicted once the watermark passes it, so
    a hot key or unbounded key space cannot grow executor state forever,
    unlike a plain dropDuplicates on a stream. The batch twin is
    ops/dedup.py::exact_duplicates."""
    return (df.withWatermark(ts_col, delay)
              .dropDuplicatesWithinWatermark(key_cols))


def dedup_stream_incremental(df: DataFrame, store: DataFrame,
                             text_col: str, ts_col: str,
                             delay: str = "10 minutes",
                             fp_col: str = "fp") -> DataFrame:
    """Streaming twin of ops/incremental.py::exact_dedup_incremental:
    drop stream rows whose normalized-text fingerprint exists in a
    PERSISTED (static) fingerprint store, then first-arrival-wins within
    the watermark horizon for stream-internal duplicates.

    Shape: the fp computes map-side; the stream-static LEFT ANTI join is
    stateless (Spark re-plans the static side per micro-batch, so a
    day-2 run can point at the store table the previous batch job
    appended to); only the within-stream stage keeps (bounded,
    watermark-evicted) state. At 10^12 stored fps the static side is a
    digest-only scan — AQE decides the join strategy per micro-batch,
    nothing is force-broadcast."""
    from ..ops.text import normalize_text

    keyed = df.withColumn("__fp", F.md5(normalize_text(F.col(text_col))))
    store_fps = store.select(F.col(fp_col).alias("__fp"))
    fresh = keyed.join(store_fps, "__fp", "left_anti")
    return (fresh.withWatermark(ts_col, delay)
                 .dropDuplicatesWithinWatermark(["__fp"])
                 .drop("__fp"))


def windowed_drift(stream_df: DataFrame, ts_col: str, col: str,
                   baseline: DataFrame, metric: str = "js",
                   window: str = "10 minutes",
                   watermark: str = "10 minutes") -> DataFrame:
    """Generalized windowed drift vs a static baseline: ``metric`` is
    ``"kl"``, ``"psi"`` or ``"js"``, each the EXACT live twin of its
    batch op (ops/dataset_checks.py categorical_drift) including the
    support conventions — KL/PSI normalize the window distribution over
    ALL its categories and drop baseline-unseen ones from the sum
    (inner-support), while JS counts one-sided categories: a
    window-only category contributes p*ln2/2 and the baseline mass
    ABSENT from the window contributes (1 - S)*ln2/2 in closed form (S
    = baseline mass of window-present categories) — no stream-side
    full-outer join needed, which streaming could not express.

    Shape: stage 1 aggregates (window, category) counts (bounded state:
    categories x open windows); the static baseline reduces to
    |categories| probability rows and broadcast-joins; the per-window
    metric then folds a
    collect_list of (count, q) pairs — |categories| entries, interpreted
    HOF over a tiny array — because p = c/N needs N inside each
    logarithm, which a second chained aggregation cannot see."""
    if metric not in ("kl", "psi", "js"):
        raise ValueError("metric must be kl|psi|js")
    total = baseline.count()
    q = (baseline.groupBy(col)
         .agg((F.count(F.lit(1)) / F.lit(float(total))).alias("__q")))
    counts = (stream_df
              .withWatermark(ts_col, watermark)
              .groupBy(F.window(F.col(ts_col), window).alias("__w"),
                       F.col(col))
              .agg(F.count(F.lit(1)).alias("__c")))
    joined = (counts.join(F.broadcast(q), on=col, how="left_outer")
              .select("__w", "__c",
                      F.coalesce("__q", F.lit(0.0)).alias("__q")))
    per_w = (joined.groupBy("__w")
             .agg(F.collect_list(F.struct("__c", "__q")).alias("__es"),
                  F.sum("__c").alias("__n"),
                  F.sum("__q").alias("__s")))
    n = F.col("__n").cast("double")
    ln2 = float(__import__("math").log(2.0))

    def fold(term):
        return F.aggregate(F.col("__es"), F.lit(0.0), term)

    if metric == "kl":
        val = fold(lambda acc, e: acc + F.when(
            e["__q"] > 0,
            (e["__c"] / n) * F.log(e["__c"] / n / e["__q"]))
            .otherwise(F.lit(0.0)))
        out_name = "kl_divergence"
    elif metric == "psi":
        val = fold(lambda acc, e: acc + F.when(
            e["__q"] > 0,
            (e["__c"] / n - e["__q"]) * F.log(e["__c"] / n / e["__q"]))
            .otherwise(F.lit(0.0)))
        out_name = "psi"
    else:
        def js_term(acc, e):
            p = e["__c"] / n
            m = (p + e["__q"]) / 2
            both = (p * F.log(p / m)
                    + e["__q"] * F.log(e["__q"] / m)) / 2
            return acc + F.when(e["__q"] > 0, both).otherwise(p * ln2 / 2)
        val = fold(js_term) + (1.0 - F.col("__s")) * ln2 / 2
        out_name = "js_divergence"
    return per_w.select(F.col("__w").alias("window"),
                        F.round(val, 6).alias(out_name),
                        F.col("__n").alias("n_docs"))
