"""Violation rows built in SQL (spark/columns.py) against the exact
interpreter's (spark/udf.py ``_violation_rows``), and the checkpointed
bucket job that writes them.

The parity arms compare, field by field and in order, every invalid row
that ``violations_inexact`` does not flag; flagged rows are counted and
left to the interpreter, as ``CheckpointedValidationRun.run_bucket``
does."""

from __future__ import annotations

import json
import os
import random
import re

import pytest
from pyspark.sql import functions as F

from gojsonschema_spark.core.errors import (MESSAGES, SchemaCompileError,
                                            set_locale)
from gojsonschema_spark.ops.webpages import (FLAGSHIP_SCHEMA,
                                             generate_webpages,
                                             webpage_doc_column)
from gojsonschema_spark.plans.checkpointed import CheckpointedValidationRun
from gojsonschema_spark.spark.columns import violations_inexact
from gojsonschema_spark.spark.engine import SparkValidator
from gojsonschema_spark.spark.udf import VIOLATION_SCHEMA, _check

from .test_fuzz_differential import (DOCS_PER_SCHEMA, N_SCHEMAS, SEED,
                                     _gen_schema, _gen_value)

pytestmark = pytest.mark.spark

SQL_SEED = 20261018
N_SQL_SCHEMAS = 120
DOCS_PER_SQL_SCHEMA = 8

# strings with non-ASCII, control characters and line/paragraph separators
_STRINGS = ["", "a", "ab", "en", "über", "é x ", "tab\there\n",
            "ctl\x01\x0b\x1f\x7f", "\U0001F600!", "2020-06-15",
            "2020-06-15T10:00:00Z", "not-a-date", "https://x.com/a b",
            "::not a uri", "host.example.com", "10.0.0.1", "quote\"back\\",
            "/a/b~0", "<&>"]
_KEYS = "abcdef"
_FORMATS = ["date", "date-time", "time", "hostname", "uuid", "ipv4", "uri",
            "uri-reference", "json-pointer", "unknown-format"]
_TYPES = ["string", "integer", "number", "boolean", "null", "array", "object"]


def _gen_sql_value(rng: random.Random, depth: int):
    """Documents that mostly fail on strings, booleans, nulls and
    containers of them; numbers (always inexact) are rarer."""
    roll = rng.random()
    if depth > 0 and roll < 0.35:
        return {rng.choice(_KEYS + "xyz"): _gen_sql_value(rng, depth - 1)
                for _ in range(rng.randint(0, 4))}
    if depth > 0 and roll < 0.45:
        return [_gen_sql_value(rng, depth - 1) for _ in range(rng.randint(0, 3))]
    if roll < 0.75:
        return rng.choice(_STRINGS)
    if roll < 0.85:
        return rng.choice([True, False, None])
    return rng.choice([0, 3, -2, 17, 2.5, 100])


def _gen_sql_schema(rng: random.Random, depth: int):
    """Schemas whose every site emits SQL violation rows."""
    if depth <= 0 or rng.random() < 0.1:
        return rng.choice([True, False, {"type": rng.choice(_TYPES)}])
    schema: dict = {}
    for kw in rng.sample(["type", "required", "properties", "additionalProperties",
                          "minProperties", "maxProperties", "minLength",
                          "maxLength", "pattern", "format", "minimum", "maximum",
                          "exclusiveMinimum", "exclusiveMaximum", "enum", "const"],
                         k=rng.randint(1, 4)):
        if kw == "type":
            ts = rng.sample(_TYPES, k=rng.randint(1, 2))
            schema["type"] = ts[0] if len(ts) == 1 else ts
        elif kw == "required":
            schema["required"] = rng.sample(_KEYS, k=rng.randint(1, 3))
        elif kw == "properties":
            schema["properties"] = {rng.choice(_KEYS): _gen_sql_schema(rng, depth - 1)
                                    for _ in range(rng.randint(1, 3))}
        elif kw == "additionalProperties":
            schema["additionalProperties"] = rng.choice([False, False, True])
        elif kw in ("minProperties", "minLength"):
            schema[kw] = rng.randint(0, 4)
        elif kw in ("maxProperties", "maxLength"):
            schema[kw] = rng.randint(1, 6)
        elif kw == "pattern":
            schema["pattern"] = rng.choice(["^a", "b$", "^[a-z]+$", "\\d", "^.$",
                                            "ü", "\\s"])
        elif kw == "format":
            schema["format"] = rng.choice(_FORMATS)
        elif kw in ("minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum"):
            schema[kw] = rng.choice([-1, 0, 2, 2.5, 10])
        elif kw == "enum":
            schema["enum"] = [_gen_sql_value(rng, 1) for _ in range(rng.randint(1, 3))]
        else:
            schema["const"] = _gen_sql_value(rng, 1)
    return schema


def _parity(spark, corpus: list) -> dict:
    """SQL rows vs interpreter rows over ``[(validator, [doc, ...])]``.

    The SQL side is the engine's own expressions (``_exprs.valid`` and
    ``_exprs.rows``, as ``_dispatch`` combines them); the interpreter side
    is ``udf._check``. Returns counts; asserts on every divergence."""
    counts = {"rows": 0, "invalid": 0, "inexact": 0, "compared": 0}
    mismatches = []
    for start in range(0, len(corpus), 20):
        chunk = corpus[start:start + 20]
        data = [(sid, i, doc) for sid, (_, docs) in enumerate(chunk)
                for i, doc in enumerate(docs)]
        df = spark.createDataFrame(data, "sid int, i int, doc string") \
            .withColumn("__gjs_v", F.try_parse_json("doc"))
        valid = rows = None
        for sid, (v, _) in enumerate(chunk):
            x = v._exprs
            cond = F.col("sid") == sid
            viol = F.when(x.valid, F.array().cast(VIOLATION_SCHEMA)).otherwise(x.rows)
            valid = F.when(cond, x.valid) if valid is None else valid.when(cond, x.valid)
            rows = F.when(cond, viol) if rows is None else rows.when(cond, viol)
        out = (df.select("sid", "i", "doc", valid.alias("valid"),
                         rows.alias("violations"))
               .withColumn("inexact", ~F.col("valid") & violations_inexact(
                   "violations", "doc")))
        for r in out.collect():
            v, _ = chunk[r.sid]
            ok, expected = _check(v.compiled, r.doc)
            counts["rows"] += 1
            label = f"{json.dumps(v.schema_json)[:160]} || {r.doc!r:.100}"
            if r.valid != ok:
                mismatches.append(f"verdict {r.valid} != {ok}: {label}")
                continue
            if r.valid:
                assert r.violations == []
                continue
            counts["invalid"] += 1
            if r.inexact:
                counts["inexact"] += 1
                continue
            counts["compared"] += 1
            got = [dict(x.asDict(), details=dict(x.details)) for x in r.violations]
            if got != expected:
                mismatches.append(f"{label}\n  sql: {got}\n  udf: {expected}")
    assert not mismatches, (f"{len(mismatches)} divergences:\n"
                            + "\n".join(mismatches[:10]))
    return counts


def _validator(schema):
    v = SparkValidator(schema)
    v.schema_json = schema
    return v


def test_sql_rows_match_interpreter_fuzz(spark):
    """Seeded schemas restricted to the sites that emit SQL rows."""
    rng = random.Random(SQL_SEED)
    corpus = []
    while len(corpus) < N_SQL_SCHEMAS:
        schema = _gen_sql_schema(rng, 3)
        if isinstance(schema, dict):
            schema["$schema"] = "http://json-schema.org/draft-07/schema#"
        try:
            v = _validator(schema)
        except SchemaCompileError:
            continue  # e.g. minLength above maxLength
        assert v.violations_plan is not None, schema
        docs = [json.dumps(_gen_sql_value(rng, 3), ensure_ascii=rng.random() < 0.5)
                for _ in range(DOCS_PER_SQL_SCHEMA - 1)]
        corpus.append((v, docs + [rng.choice(["{bad", None, "[1,", '"x"'])]))
    counts = _parity(spark, corpus)
    print(f"\nsupported-site fuzz: {counts}")
    assert counts["compared"] >= 200 and counts["inexact"] > 0


def test_sql_rows_match_interpreter_existing_fuzz_corpus(spark):
    """The schemas of test_fuzz_differential's corpus (same seed, same
    documents) whose every site emits SQL rows."""
    rng = random.Random(SEED)
    corpus = []
    n_schemas = 0
    while n_schemas < N_SCHEMAS:
        schema = _gen_schema(rng, 3)
        n_schemas += 1
        try:
            v = _validator(schema)
        except Exception:
            continue
        if not v.uses_column_plan:
            continue
        docs = [json.dumps(_gen_value(rng, 3)) for _ in range(DOCS_PER_SCHEMA)]
        if v.violations_plan is not None:
            corpus.append((v, docs))
    counts = _parity(spark, corpus)
    print(f"\nexisting fuzz corpus: {len(corpus)} of {N_SCHEMAS} schemas "
          f"emit SQL rows; {counts}")
    assert len(corpus) >= 10 and counts["compared"] > 0


def test_sql_rows_match_interpreter_flagship(spark):
    """FLAGSHIP_SCHEMA through the engine's SQL path on the checkpointed
    test corpus, plus documents failing each of its sites."""
    v = SparkValidator(FLAGSHIP_SCHEMA)
    pages = generate_webpages(spark, 300, partitions=4)
    docs = [r.doc for r in pages.select(webpage_doc_column().alias("doc")).collect()]
    docs += [None, "{bad", "[]", '"s"', "{}", '{"url": "a", "zz": "b"}',
             '{"url": "https://x", "warc_ts": "2020-01-01T00:00:00Z", '
             '"text": "", "lang": "EN", "n_tokens": 2, "extra": null}',
             '{"url": true, "warc_ts": null, "text": [" "], "lang": {}}']
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "i int, doc string")
    frame, inexact = v._validate_json_sql(df, "doc")
    out = frame.withColumn("inexact", F.when(~F.col("valid"), inexact)).collect()
    compared = 0
    for r in out:
        ok, expected = _check(v.compiled, r.doc)
        assert r.valid == ok, r.doc
        if ok or r.inexact:
            continue
        compared += 1
        assert [dict(x.asDict(), details=dict(x.details))
                for x in r.violations] == expected, r.doc
    assert compared >= 10


def test_inexact_guard_flags_each_divergence(spark):
    """Each way Spark and the interpreter can see an invalid document
    differently flags its row; an ordinary invalid row is exact."""
    v = SparkValidator({"properties": {"a": {"type": "integer"}}})
    docs = {
        '{"a": "s"} x': True,        # Spark ignores trailing content
        "NaN": True,                 # Python reads NaN, Spark does not
        '{"a": "\\ud800"}': True,   # Spark reads a lone surrogate as ?
        '{"a": "\\u001f"}': True,   # Spark prints \\u001F
        '{"a": "s", "b": 1e5}': True,  # a number past the decimal path
        '{"a": "s", "b": 1.5}': False,
        '{"a": [true, "\\u00e9"]}': False,
        "{bad": False,
    }
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    frame, inexact = v._validate_json_sql(df, "doc")
    for r in frame.withColumn("inexact", inexact).collect():
        assert not r.valid and r.inexact == docs[r.doc], r.doc
        if not r.inexact:
            assert [dict(x.asDict(), details=dict(x.details))
                    for x in r.violations] == _check(v.compiled, r.doc)[1]


# a bucket whose every failing value makes the SQL rows inexact
_INEXACT_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "properties": {"a": {"type": "string"}, "b": {"maximum": -1},
                   "c": {"const": "x"}, "d": {"type": "integer", "maximum": 5},
                   "e": {"type": "string"}},
    "additionalProperties": False,
}
_INEXACT_DOCS = ['{"a": 1e2}', '{"b": -0}', '{"c": 1.50}',
                 '{"d": 1234567890123456789012}', '{"zz": "1", "aa": "2"}']


def _inexact_bucket(spark):
    docs = _INEXACT_DOCS + ['{"a": "ok"}', '{"e": 7}', '{"a": "x", "e": "y"}',
                            '{"c": "y"}', "{bad"]
    return spark.createDataFrame(
        [(f"u{i}", "b", d) for i, d in enumerate(docs)],
        "url string, warc_bucket string, doc string")


def _rows_json(df):
    return sorted(r[0] for r in df.select(F.to_json(F.struct(
        "url", "valid", "violations"))).collect())


def test_inexact_bucket_reruns_with_interpreter(spark, tmp_path):
    """``1e2``, ``-0``, ``1.50`` and a 1e21-sized integer as failing values
    and two extra keys out of sorted order: the SQL rows would differ, so
    the bucket is written again by the UDF and its rows equal a
    force_udf validator's byte for byte."""
    df = _inexact_bucket(spark)
    out = str(tmp_path / "verdicts")
    run = CheckpointedValidationRun(SparkValidator(_INEXACT_SCHEMA), out)
    assert run.run(df)["buckets_run"] == 1
    lineage = json.load(open(os.path.join(out, "bucket=b", "_lineage.json")))
    assert lineage["violations_path"] == "udf_rerun"
    assert lineage["n_inexact"] == 6  # the five seeded rows and {"e": 7}
    udf = SparkValidator(_INEXACT_SCHEMA, force_udf=True).validate_json(df, "doc")
    assert _rows_json(spark.read.parquet(out)) == _rows_json(udf)


def test_locale_change_falls_back_to_udf(spark, tmp_path):
    """Templates changed after the SQL rows were rendered: run_bucket
    writes the new locale's messages through the interpreter UDF. A
    template with a ``|`` helper gives a new validator no SQL rows."""
    v = SparkValidator(FLAGSHIP_SCHEMA)
    assert v._sql_violations_ready()
    df = generate_webpages(spark, 150, partitions=2).select(
        "url", "warc_bucket", webpage_doc_column().alias("doc")).withColumn(
        "warc_bucket", F.lit("all"))
    saved = dict(MESSAGES)
    try:
        set_locale({"format": "Bad {format} value", "string_gte": "{field|upper} short"})
        assert not v._sql_violations_ready()
        assert SparkValidator(FLAGSHIP_SCHEMA)._exprs.rows is None
        out = str(tmp_path / "verdicts")
        lineage = CheckpointedValidationRun(v, out).run_bucket(df, "all")
    finally:
        set_locale(saved)
    assert lineage["violations_path"] == "udf" and lineage["n_inexact"] is None
    messages = {r.message for r in spark.read.parquet(out)
                .select(F.explode("violations").alias("x")).select("x.*").collect()}
    assert "Bad uri value" in messages
    assert v._sql_violations_ready()


def test_flagship_bucket_plan_has_no_python_node(spark, tmp_path):
    src = str(tmp_path / "pages")
    (generate_webpages(spark, 150, partitions=2)
     .select("url", "warc_bucket", webpage_doc_column().alias("doc"))
     .write.partitionBy("warc_bucket").parquet(src))
    df = spark.read.parquet(src)
    day = min(r[0] for r in df.select("warc_bucket").distinct().collect())
    run = CheckpointedValidationRun(SparkValidator(FLAGSHIP_SCHEMA),
                                    str(tmp_path / "verdicts"))
    python = re.compile(r"Python|InPandas|InArrow")

    def plan(sql):
        return run.bucket_query(df, day, sql)[0]._jdf.queryExecution() \
            .executedPlan().toString()

    sql_plan = plan(True)
    assert not python.search(sql_plan), sql_plan
    assert "PartitionFilters: [isnotnull(warc_bucket" in sql_plan
    assert python.search(plan(False))
