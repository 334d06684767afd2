"""Structured Streaming validation: column plan over a file stream."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

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


def test_sessionize_batch_gap_boundaries_and_ties(spark):
    """sessionize_batch on hand-computed sessions (gap 1 s): a gap of
    exactly ``gap_sec`` joins the session, ``gap_sec`` + 1 us starts a
    new one, and events at one instant, ordered by ``tiebreak_col``,
    share a session; keys never mix."""
    from gojsonschema_spark.spark.streaming import sessionize_batch

    events = [(1, "2024-06-01T10:00:00.000001", 0),
              (1, "2024-06-01T10:00:01.000001", 1),   # +1.0 s: joins
              (1, "2024-06-01T10:00:02.000002", 3),   # +1.000001 s: new
              (1, "2024-06-01T10:00:02.000002", 2),   # same instant
              (2, "2024-06-01T10:00:00.000001", 4)]
    df = (spark.createDataFrame(events, ["user_id", "ts", "event_id"])
          .withColumn("ts", F.col("ts").cast("timestamp")))
    got = sorted((r.user_id, r.session_id, r.session_start.isoformat(),
                  r.session_end.isoformat(), r.n_events)
                 for r in sessionize_batch(df, "user_id", "ts", 1.0,
                                           tiebreak_col="event_id")
                 .collect())
    assert got == [
        (1, 1, "2024-06-01T10:00:00.000001", "2024-06-01T10:00:01.000001", 2),
        (1, 2, "2024-06-01T10:00:02.000002", "2024-06-01T10:00:02.000002", 2),
        (2, 1, "2024-06-01T10:00:00.000001", "2024-06-01T10:00:00.000001", 1)]


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
