"""Structured Streaming validation: column plan over a file stream."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType, TimestampType)

from gojsonschema_spark.spark.engine import SparkValidator
from gojsonschema_spark.spark.streaming import validate_stream, windowed_invalid_rate

pytestmark = pytest.mark.spark

SCHEMA = {"type": "object", "required": ["url"],
          "properties": {"url": {"type": "string", "pattern": "^https://"}}}


def test_streaming_validation(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    rows = [{"doc": json.dumps({"url": "https://a.com"})},
            {"doc": json.dumps({"url": "ftp://b.com"})},
            {"doc": json.dumps({"nope": 1})}]
    with open(src / "batch1.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    stream = (spark.readStream
              .schema(StructType([StructField("doc", StringType())]))
              .json(str(src)))
    assert stream.isStreaming
    v = SparkValidator(SCHEMA)
    out = validate_stream(stream, v, "doc")

    q = (out.writeStream.format("memory").queryName("verdicts")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = {r.doc: r.valid for r in spark.sql("select * from verdicts").collect()}
        assert len(got) == 3
        assert got[json.dumps({"url": "https://a.com"})] is True
        assert got[json.dumps({"url": "ftp://b.com"})] is False
        assert got[json.dumps({"nope": 1})] is False
    finally:
        q.stop()


def test_streaming_hybrid_frontier(spark, tmp_path):
    """A HYBRID validator (cyclic $ref past the depth-3 unroll) on a stream
    must re-verdict frontier rows with the interpreter, not apply the
    optimistic column plan alone — deep invalid documents stay invalid."""
    cyclic = {"definitions": {"node": {
        "type": "object", "required": ["v"],
        "properties": {"v": {"type": "integer"},
                       "next": {"$ref": "#/definitions/node"}}}},
        "$ref": "#/definitions/node"}
    v = SparkValidator(cyclic)
    assert v.uses_column_plan and v.frontier_plan is not None

    def nest(depth, leaf_v):
        doc = {"v": leaf_v}
        for _ in range(depth):
            doc = {"v": 1, "next": doc}
        return json.dumps(doc)

    rows = [nest(0, 1), nest(6, 2), nest(6, "bad"), nest(1, "bad")]
    src = tmp_path / "in"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for d in rows:
            f.write(json.dumps({"doc": d}) + "\n")
    stream = (spark.readStream
              .schema(StructType([StructField("doc", StringType())]))
              .json(str(src)))
    out = validate_stream(stream, v, "doc")
    q = (out.writeStream.format("memory").queryName("hybrid_verdicts")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = {r.doc: r.valid for r in
               spark.sql("select * from hybrid_verdicts").collect()}
    finally:
        q.stop()
    # batch ground truth (same engine, exact hybrid path)
    bdf = spark.createDataFrame([(d,) for d in rows], ["doc"])
    want = {r.doc: r.valid for r in
            v.validate_json(bdf, "doc", violations_col=None).collect()}
    assert got == want
    assert got[rows[2]] is False  # deep invalid row: the regression case
    assert got[rows[1]] is True


@pytest.mark.parametrize("schema,force_udf,path", [
    (SCHEMA, False, "plain"),
    ({"uniqueItems": True}, False, "hybrid"),
    (SCHEMA, True, "udf"),
])
def test_validate_stream_equals_validate_json(spark, tmp_path, schema,
                                              force_udf, path):
    """validate_stream is validate_json(violations_col=None) applied to a
    stream: on each engine path the streamed verdicts equal the batch
    verdicts of the same rows, malformed and NULL documents included."""
    v = SparkValidator(schema, force_udf=force_udf)
    assert {"plain": v.uses_column_plan and v.frontier_plan is None,
            "hybrid": v.frontier_plan is not None,
            "udf": not v.uses_column_plan}[path]
    docs = [json.dumps({"url": "https://a.com"}), json.dumps({"url": "ftp://b"}),
            "[[1], [1]]", "[[1], [2]]", "[1, 1]", "{broken", None]
    src = tmp_path / "in"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for i, d in enumerate(docs):
            f.write(json.dumps({"id": i, "doc": d}) + "\n")
    row_schema = StructType([StructField("id", LongType()),
                             StructField("doc", StringType())])
    stream = spark.readStream.schema(row_schema).json(str(src))
    q = (validate_stream(stream, v, "doc").writeStream.format("memory")
         .queryName(f"stream_eq_{path}").outputMode("append").start())
    try:
        q.processAllAvailable()
        got = sorted(tuple(r) for r in spark.sql(
            f"select id, doc, valid from stream_eq_{path}").collect())
    finally:
        q.stop()
    batch = spark.read.schema(row_schema).json(str(src))
    want = sorted(tuple(r) for r in
                  v.validate_json(batch, "doc", violations_col=None)
                  .select("id", "doc", "valid").collect())
    assert got == want
    verdicts = {i: ok for i, _, ok in got}
    assert len(verdicts) == len(docs)
    assert verdicts[5] is False and verdicts[6] is False  # malformed, NULL
    if path == "hybrid":
        assert verdicts[2] is False and verdicts[3] is True  # deep rows


def test_windowed_invalid_rate_builds(spark):
    # plan-construction check for the watermark + window rollup
    stream = (spark.readStream.format("rate").option("rowsPerSecond", "1").load()
              .select(F.col("timestamp").alias("ts"),
                      F.to_json(F.struct(F.lit("https://x").alias("url"))).alias("doc")))
    v = SparkValidator(SCHEMA)
    out = windowed_invalid_rate(validate_stream(stream, v, "doc"), "ts")
    q = out.writeStream.format("memory").queryName("rates").outputMode("update").start()
    try:
        time.sleep(2)
        assert q.isActive
    finally:
        q.stop()


def test_sessionize_stream(spark, tmp_path):
    """Stateful sessionization: in-batch gaps close sessions; the still-open
    tail session stays in state (not emitted)."""
    from gojsonschema_spark.spark.streaming import sessionize_stream

    src = tmp_path / "events"
    src.mkdir()
    # user 1: two sessions split by a 2h gap; user 2: one open session
    events = [
        {"user_id": 1, "ts": "2024-06-01T10:00:00"},
        {"user_id": 1, "ts": "2024-06-01T10:05:00"},
        {"user_id": 1, "ts": "2024-06-01T13:00:00"},
        {"user_id": 2, "ts": "2024-06-01T09:00:00"},
    ]
    with open(src / "b1.json", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")

    schema = StructType([StructField("user_id", StringType()),
                         StructField("ts", StringType())])
    stream = (spark.readStream.schema(schema).json(str(src))
              .select(F.col("user_id").cast("long").alias("user_id"),
                      F.col("ts").cast("timestamp").alias("ts")))
    out = sessionize_stream(stream, "user_id", "ts", gap_sec=1800)
    q = (out.writeStream.format("memory").queryName("sessions")
         .outputMode("append").start())
    try:
        # NB: processAllAvailable() never settles here — the processing-time
        # timeout schedules continuous state-cleanup batches. Poll instead.
        deadline = time.time() + 120
        rows = []
        while time.time() < deadline:
            rows = spark.sql("select * from sessions").collect()
            if rows:
                break
            time.sleep(1)
        # exactly ONE closed session: user 1's 10:00-10:05 pair
        assert len(rows) == 1
        r = rows[0]
        assert r.user_id == 1 and r.n_events == 2
        assert r.session_start.minute == 0 and r.session_end.minute == 5
    finally:
        q.stop()

    # batch twin: SAME gap rule over the same input emits the closed
    # session identically, plus the open tails the stream is still holding
    from gojsonschema_spark.spark.streaming import sessionize_batch
    bdf = spark.createDataFrame(
        [(int(e["user_id"]), e["ts"]) for e in events], ["user_id", "ts"]
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    got = {(r.user_id, r.session_start, r.session_end, r.n_events)
           for r in sessionize_batch(bdf, "user_id", "ts", 1800).collect()}
    closed = (rows[0].user_id, rows[0].session_start,
              rows[0].session_end, rows[0].n_events)
    assert closed in got
    assert len(got) == 3  # user1 x2 sessions + user2 open tail


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dedup_stream keeps the first arrival per url within the watermark;
    duplicates inside the horizon are dropped, and state is bounded by
    the watermark (engine-managed eviction)."""
    from gojsonschema_spark.spark.streaming import dedup_stream

    src = tmp_path / "in"
    src.mkdir()
    rows = [
        {"url": "https://a.com", "ts": "2026-01-01T10:00:00"},
        {"url": "https://a.com", "ts": "2026-01-01T10:01:00"},  # dup
        {"url": "https://b.com", "ts": "2026-01-01T10:02:00"},
        {"url": "https://a.com", "ts": "2026-01-01T10:03:00"},  # dup
    ]
    with open(src / "batch1.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    stream = (spark.readStream
              .schema(StructType([StructField("url", StringType()),
                                  StructField("ts", TimestampType())]))
              .json(str(src)))
    out = dedup_stream(stream, ["url"], "ts", delay="30 minutes")
    q = (out.writeStream.format("memory").queryName("deduped")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = sorted(r.url for r in spark.sql("select * from deduped").collect())
        assert got == ["https://a.com", "https://b.com"]
    finally:
        q.stop()


def test_streaming_dedup_incremental_vs_store(spark, tmp_path):
    """dedup_stream_incremental: rows already fingerprinted in the
    static store drop via the stream-static anti-join; stream-internal
    duplicates keep the first arrival; fresh rows pass with all their
    columns."""
    from gojsonschema_spark.ops.incremental import fingerprint_store
    from gojsonschema_spark.spark.streaming import dedup_stream_incremental

    prior = spark.createDataFrame([(1, "seen last run")], ["doc_id", "text"])
    store = fingerprint_store(prior)

    src = tmp_path / "in_inc"
    src.mkdir()
    rows = [
        {"url": "https://a.com", "text": "Seen   LAST run",     # in store
         "ts": "2026-01-01T10:00:00"},
        {"url": "https://b.com", "text": "fresh page one",
         "ts": "2026-01-01T10:01:00"},
        {"url": "https://c.com", "text": "fresh page one",      # stream dup
         "ts": "2026-01-01T10:02:00"},
        {"url": "https://d.com", "text": "fresh page two",
         "ts": "2026-01-01T10:03:00"},
    ]
    with open(src / "batch1.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    stream = (spark.readStream
              .schema(StructType([StructField("url", StringType()),
                                  StructField("text", StringType()),
                                  StructField("ts", TimestampType())]))
              .json(str(src)))
    out = dedup_stream_incremental(stream, store, "text", "ts",
                                   delay="30 minutes")
    q = (out.writeStream.format("memory").queryName("dedup_inc")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = sorted(r.url for r in spark.sql("select * from dedup_inc").collect())
        assert got == ["https://b.com", "https://d.com"]
        cols = spark.sql("select * from dedup_inc").columns
        assert cols == ["url", "text", "ts"]
    finally:
        q.stop()


def test_streaming_windowed_drift_kl(spark, tmp_path):
    """windowed_drift(metric="kl") vs a static baseline: the emitted
    window's value equals the batch op's KL over the same slice, with a
    category ('zz') seen only in the window. KL normalizes the window
    over ALL its categories, so zz's mass stays in N (8 docs, not 7)
    while its term drops from the sum (append-mode finalization driven
    by the watermark)."""
    from gojsonschema_spark.ops.dataset_checks import categorical_drift_kl
    from gojsonschema_spark.spark.streaming import windowed_drift

    src = tmp_path / "in"
    src.mkdir()
    # window [10:00, 10:10): {en:5, de:2, zz:1}
    w1 = ([{"lang": "en", "ts": "2026-01-01T10:00:05"}] * 5
          + [{"lang": "de", "ts": "2026-01-01T10:01:00"}] * 2
          + [{"lang": "zz", "ts": "2026-01-01T10:02:00"}])
    with open(src / "b1.json", "w") as f:
        for r in w1:
            f.write(json.dumps(r) + "\n")
    # far-future row pushes the watermark past the first window
    with open(src / "b2.json", "w") as f:
        f.write(json.dumps({"lang": "en", "ts": "2026-01-01T12:00:00"}) + "\n")

    baseline = spark.createDataFrame(
        [("en",)] * 4 + [("de",)] * 4 + [("fr",)] * 2, ["lang"])

    stream = (spark.readStream
              .schema(StructType([StructField("lang", StringType()),
                                  StructField("ts", TimestampType())]))
              .option("maxFilesPerTrigger", 1)
              .json(str(src)))
    out = windowed_drift(stream, "ts", "lang", baseline, metric="kl",
                         window="10 minutes", watermark="5 minutes")
    q = (out.writeStream.format("memory").queryName("drift")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from drift").collect()
        got = {r.window.start.isoformat(): (r.kl_divergence, r.n_docs)
               for r in rows}
        key = "2026-01-01T10:00:00"
        assert key in got, rows
        kl, n = got[key]
        assert n == 8
        assert kl == pytest.approx(0.161429, abs=1e-6)
        w1_df = spark.createDataFrame(
            [("en",)] * 5 + [("de",)] * 2 + [("zz",)], ["lang"])
        want = categorical_drift_kl(w1_df, baseline, "lang").collect()[0][0]
        assert abs(kl - want) < 1e-6, (kl, want)
    finally:
        q.stop()


def test_streaming_windowed_drift_all_metrics(spark, tmp_path):
    """windowed_drift(metric=kl|psi|js) equals its batch twin on the
    same window slice — with BOTH one-sided category classes present:
    'zz' appears only in the window (JS p-only path), 'fr' only in the
    baseline (JS closed-form (1-S)ln2 term; dropped by KL/PSI)."""
    from gojsonschema_spark.ops.dataset_checks import (categorical_drift_js,
                                                       categorical_drift_kl,
                                                       categorical_drift_psi)
    from gojsonschema_spark.spark.streaming import windowed_drift

    src = tmp_path / "in_wd"
    src.mkdir()
    w1 = ([{"lang": "en", "ts": "2026-01-01T10:00:05"}] * 5
          + [{"lang": "de", "ts": "2026-01-01T10:01:00"}] * 2
          + [{"lang": "zz", "ts": "2026-01-01T10:02:00"}] * 1)
    with open(src / "b1.json", "w") as f:
        for r in w1:
            f.write(json.dumps(r) + "\n")
    with open(src / "b2.json", "w") as f:
        f.write(json.dumps({"lang": "en", "ts": "2026-01-01T12:00:00"}) + "\n")

    baseline = spark.createDataFrame(
        [("en",)] * 4 + [("de",)] * 4 + [("fr",)] * 2, ["lang"])
    w1_df = spark.createDataFrame(
        [("en",)] * 5 + [("de",)] * 2 + [("zz",)] * 1, ["lang"])
    batch = {
        "kl": categorical_drift_kl(w1_df, baseline, "lang").collect()[0][0],
        "psi": categorical_drift_psi(w1_df, baseline, "lang").collect()[0][0],
        "js": categorical_drift_js(w1_df, baseline, "lang").collect()[0][0],
    }

    for metric in ("kl", "psi", "js"):
        stream = (spark.readStream
                  .schema(StructType([StructField("lang", StringType()),
                                      StructField("ts", TimestampType())]))
                  .option("maxFilesPerTrigger", 1)
                  .json(str(src)))
        out = windowed_drift(stream, "ts", "lang", baseline, metric=metric,
                             window="10 minutes", watermark="5 minutes")
        name = f"wd_{metric}"
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append").start())
        try:
            q.processAllAvailable()
            rows = spark.sql(f"select * from {name}").collect()
            got = {r.window.start.isoformat(): (r[1], r.n_docs)
                   for r in rows}
            val, n = got["2026-01-01T10:00:00"]
            assert n == 8
            assert abs(val - batch[metric]) < 1e-6, (metric, val, batch)
        finally:
            q.stop()


def test_streaming_multischema_dispatch(spark, tmp_path):
    """Per-row schema dispatch is stateless (column CASE chain + masked
    UDF branches), so it runs unchanged on a stream — including a kind
    that falls back to the interpreter UDF."""
    from gojsonschema_spark.spark.engine import MultiSchemaValidator

    src = tmp_path / "in"
    src.mkdir()
    rows = [{"kind": "article", "doc": '{"title": "x"}'},
            {"kind": "article", "doc": '{}'},
            {"kind": "metric", "doc": "0.0002"},
            {"kind": "metric", "doc": "0.00025"},
            {"kind": "video", "doc": "{}"}]
    with open(src / "b1.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    mv = MultiSchemaValidator({
        "article": {"type": "object", "required": ["title"]},
        "metric": {"multipleOf": 0.0001},   # off-plan -> UDF branch
    }, on_unknown="invalid")
    stream = (spark.readStream
              .schema(StructType([StructField("kind", StringType()),
                                  StructField("doc", StringType())]))
              .json(str(src)))
    out = mv.validate_json(stream, "doc", "kind")
    q = (out.writeStream.format("memory").queryName("dispatch")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = {(r.kind, r.doc): r.valid
               for r in spark.sql("select * from dispatch").collect()}
        assert got == {("article", '{"title": "x"}'): True,
                       ("article", "{}"): False,
                       ("metric", "0.0002"): True,
                       ("metric", "0.00025"): False,
                       ("video", "{}"): False}
    finally:
        q.stop()


def test_sessionize_skew_guarded_equivalence(spark):
    """sessionize_skew_guarded must produce byte-identical sessions to the
    plain window path on a corpus with a synthetic bot key: the hot key is
    routed through the (key, time-bucket) two-level split, sessions
    straddling bucket boundaries are stitched by the chain-merge pass, and
    cold keys take the ordinary window."""
    import datetime as dt

    from gojsonschema_spark.spark.streaming import (sessionize_batch,
                                                    sessionize_skew_guarded)

    base = dt.datetime(2026, 1, 1)
    rows = []
    # bot key 999: 400 events over ~80 one-hour buckets; gap pattern mixes
    # intra-session steps (100s < gap) with session breaks (2000s > gap),
    # so many sessions cross the 3600s bucket edges
    t = 0.0
    for i in range(400):
        t += 100.0 if i % 3 else 2000.0
        rows.append((999, base + dt.timedelta(seconds=t), i))
    # cold keys: few events each, one mid-stream session break
    for k in range(5):
        for j in range(6):
            secs = k * 7919 + j * 400 + (5000 if j > 3 else 0)
            rows.append((k, base + dt.timedelta(seconds=secs), 1000 + j))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")

    plain = sessionize_batch(df, gap_sec=900.0, tiebreak_col="event_id")
    guarded = sessionize_skew_guarded(df, gap_sec=900.0, hot_threshold=50,
                                      bucket_span_sec=3600.0,
                                      tiebreak_col="event_id")
    canon = lambda d: sorted(tuple(r) for r in d.collect())
    got = canon(guarded)
    assert got == canon(plain)
    # the construction really exercised the merge: the bot key has many
    # sessions, and at least one spans a bucket boundary
    bot = [r for r in got if r[0] == 999]
    assert len(bot) > 50
    crossing = [r for r in bot
                if int((r[2] - base).total_seconds() // 3600)
                != int((r[3] - base).total_seconds() // 3600)]
    assert crossing, "no session crossed a bucket edge; test corpus is weak"

    # span <= gap is rejected (empty-bucket merge soundness precondition)
    import pytest
    with pytest.raises(ValueError):
        sessionize_skew_guarded(df, gap_sec=900.0, bucket_span_sec=900.0)

    # precomputed hot-key list skips the census and gives the same result
    hot = spark.createDataFrame([(999,)], ["k"])
    got_pre = canon(sessionize_skew_guarded(
        df, gap_sec=900.0, bucket_span_sec=3600.0,
        tiebreak_col="event_id", hot_keys=hot))
    assert got_pre == got


def test_sessionize_stream_event_time_late_merge(spark, tmp_path):
    """Event-time sessionization: a LATE event (within the watermark)
    bridges two open intervals into ONE session, which is emitted exactly
    when the watermark passes session_end + gap — and the emitted session
    equals what sessionize_batch produces on the same events."""
    from gojsonschema_spark.spark.streaming import (
        sessionize_batch, sessionize_stream_event_time)

    src = tmp_path / "events_et"
    src.mkdir()

    def write_batch(name, events):
        with open(src / name, "w") as f:
            for e in events:
                f.write(json.dumps(e) + "\n")

    # batch 1: two intervals 2400s apart (separate sessions at gap=1800)
    write_batch("b1.json", [
        {"user_id": 1, "ts": "2024-06-01T10:00:00"},
        {"user_id": 1, "ts": "2024-06-01T10:40:00"},
    ])

    schema = StructType([StructField("user_id", StringType()),
                         StructField("ts", StringType())])
    stream = (spark.readStream.schema(schema).json(str(src))
              .select(F.col("user_id").cast("long").alias("user_id"),
                      F.col("ts").cast("timestamp").alias("ts")))
    out = sessionize_stream_event_time(stream, "user_id", "ts",
                                       gap_sec=1800, watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("sessions_et")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        # batch 2: a LATE bridging event (10:20 > watermark 09:40) MERGES
        # the two intervals; 16:00 advances the watermark to 15:00, past
        # the merged session's expiry (10:40 + 30min)
        write_batch("b2.json", [
            {"user_id": 1, "ts": "2024-06-01T10:20:00"},
            {"user_id": 1, "ts": "2024-06-01T16:00:00"},
        ])
        deadline = time.time() + 120
        rows = []
        while time.time() < deadline:
            rows = spark.sql("select * from sessions_et").collect()
            if rows:
                break
            time.sleep(1)
        assert len(rows) == 1
        r = rows[0]
        assert (r.user_id, r.n_events) == (1, 3)
        assert (r.session_start.hour, r.session_start.minute) == (10, 0)
        assert (r.session_end.hour, r.session_end.minute) == (10, 40)

        # the emitted session is exactly the batch twin's verdict
        bdf = spark.createDataFrame(
            [(1, "2024-06-01T10:00:00"), (1, "2024-06-01T10:40:00"),
             (1, "2024-06-01T10:20:00"), (1, "2024-06-01T16:00:00")],
            ["user_id", "ts"]
        ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        batch = {(b.user_id, b.session_start, b.session_end, b.n_events)
                 for b in sessionize_batch(bdf, "user_id", "ts", 1800).collect()}
        assert (r.user_id, r.session_start, r.session_end, r.n_events) in batch
    finally:
        q.stop()


def test_sessionize_stream_event_time_microsecond_boundaries(spark, tmp_path):
    """State is integer microseconds (r5 ADVICE): an event EXACTLY gap
    seconds after the previous one must merge, one microsecond later must
    split — float64 epoch-second state has only ~0.5us resolution at
    current epochs, so these boundary comparisons could flip vs
    sessionize_batch."""
    from gojsonschema_spark.spark.streaming import (
        sessionize_batch, sessionize_stream_event_time)

    src = tmp_path / "events_us"
    src.mkdir()
    evs = ["2024-06-01T10:00:00.000001",   # session A start
           "2024-06-01T10:00:01.000001",   # delta exactly 1.0s -> merges
           "2024-06-01T10:00:02.000002"]   # delta 1.000001s -> new session
    with open(src / "b1.json", "w") as f:
        for t in evs:
            f.write(json.dumps({"user_id": 1, "ts": t}) + "\n")

    schema = StructType([StructField("user_id", StringType()),
                         StructField("ts", StringType())])
    stream = (spark.readStream.schema(schema).json(str(src))
              .select(F.col("user_id").cast("long").alias("user_id"),
                      F.col("ts").cast("timestamp").alias("ts")))
    out = sessionize_stream_event_time(stream, "user_id", "ts",
                                       gap_sec=1.0, watermark="2 seconds")
    q = (out.writeStream.format("memory").queryName("sessions_us")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        with open(src / "b2.json", "w") as f:   # advance the watermark
            f.write(json.dumps({"user_id": 1,
                                "ts": "2024-06-01T11:00:00"}) + "\n")
        deadline = time.time() + 120
        rows = []
        while time.time() < deadline:
            rows = spark.sql(
                "select * from sessions_us order by session_start").collect()
            if len(rows) >= 2:
                break
            time.sleep(1)
        got = [(r.session_start.isoformat(), r.session_end.isoformat(),
                r.n_events) for r in rows]
        assert got == [("2024-06-01T10:00:00.000001",
                        "2024-06-01T10:00:01.000001", 2),
                       ("2024-06-01T10:00:02.000002",
                        "2024-06-01T10:00:02.000002", 1)]

        bdf = spark.createDataFrame([(1, t) for t in evs], ["user_id", "ts"]) \
            .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        batch = sorted((b.session_start.isoformat(), b.session_end.isoformat(),
                        b.n_events)
                       for b in sessionize_batch(bdf, "user_id", "ts",
                                                 1.0).collect())
        assert got == batch
    finally:
        q.stop()


def test_sessionize_skew_guarded_randomized(spark):
    """Seeded randomized equivalence: 6 random corpora (mixed hot/cold
    keys, gap-straddling timestamps, ties) — the guarded path must equal
    the plain window byte-for-byte on every one."""
    import datetime as dt
    import random

    from gojsonschema_spark.spark.streaming import (sessionize_batch,
                                                    sessionize_skew_guarded)

    rng = random.Random(20260817)
    base = dt.datetime(2026, 2, 1)
    for trial in range(6):
        rows = []
        eid = 0
        for k in range(rng.randint(1, 5)):
            t = rng.uniform(0, 3600)
            for _ in range(rng.randint(1, 120)):
                # gaps cluster around the 900s threshold and bucket edges
                t += rng.choice([1.0, 100.0, 899.0, 900.0, 901.0,
                                 1800.0, 3600.0, rng.uniform(0, 2000)])
                rows.append((k, base + dt.timedelta(seconds=t), eid))
                eid += 1
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long")
        plain = sorted(tuple(r) for r in sessionize_batch(
            df, gap_sec=900.0, tiebreak_col="event_id").collect())
        got = sorted(tuple(r) for r in sessionize_skew_guarded(
            df, gap_sec=900.0, hot_threshold=rng.choice([0, 40, 10**6]),
            bucket_span_sec=3600.0, tiebreak_col="event_id").collect())
        assert got == plain, f"trial {trial} diverged"


def test_validate_stream_to_parquet_exactly_once(spark, tmp_path):
    """Checkpointed streaming sink: drain batch 1, STOP, add batch 2,
    RESTART from the same checkpoint — the output holds each document
    exactly once (the sink's transaction log resumes, never re-writes)."""
    from gojsonschema_spark.spark.streaming import validate_stream_to_parquet

    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, docs):
        with open(src / name, "w") as f:
            for d in docs:
                f.write(json.dumps({"doc": d}) + "\n")

    write_batch("b1.jsonl", ['{"url":"https://a"}', '{"url":1}'])
    schema = StructType([StructField("doc", StringType())])
    v = SparkValidator({"type": "object", "required": ["url"],
                        "properties": {"url": {"type": "string"}}})

    def drain():
        stream = spark.readStream.schema(schema).json(str(src))
        q = validate_stream_to_parquet(stream, v, "doc", out, ckpt,
                                       trigger={"availableNow": True})
        q.awaitTermination(120)
        q.stop()

    drain()
    got1 = spark.read.parquet(out).collect()
    assert len(got1) == 2

    write_batch("b2.jsonl", ['{"url":"https://b"}'])
    drain()  # restart from the same checkpoint
    got2 = [(r.doc, r.valid) for r in spark.read.parquet(out).collect()]
    assert len(got2) == 3 and len(set(got2)) == 3  # no duplicates
    verdicts = dict(got2)
    assert verdicts['{"url":"https://a"}'] is True
    assert verdicts['{"url":1}'] is False
    assert verdicts['{"url":"https://b"}'] is True


def test_streaming_classifier_margin_gate(spark, tmp_path):
    """The trained-classifier margin column is a plain Arrow UDF +
    map-side filter, so it composes with Structured Streaming
    unchanged — the facade's stage-4b gate works on a stream."""
    import json as _json

    from gojsonschema_spark.ops.classifier import (margin_column,
                                                   train_quality_classifier)

    good = "the committee reviewed the archival evidence in detail"
    spam = "buy cheap pills now click here winner jackpot"
    train = spark.createDataFrame(
        [(i, good + f" v{i}", 1) for i in range(8)]
        + [(100 + i, spam + f" v{i}", 0) for i in range(8)],
        "doc_id long, text string, y int")
    model = train_quality_classifier(train, "y", dim=1 << 12,
                                     n_iters=20, lr=2.0)

    src = tmp_path / "in"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for i, t in [(1, good), (2, spam), (3, good + " again")]:
            f.write(_json.dumps({"doc_id": i, "text": t}) + "\n")

    stream = (spark.readStream
              .schema(StructType([StructField("doc_id", LongType()),
                                  StructField("text", StringType())]))
              .json(str(src)))
    gated = (stream
             .withColumn("m", margin_column(model))
             .filter(F.col("m") >= 0.0)
             .select("doc_id"))
    q = (gated.writeStream.format("memory").queryName("clf_gate")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        kept = sorted(r.doc_id for r in
                      spark.sql("select * from clf_gate").collect())
        assert kept == [1, 3]
    finally:
        q.stop()
