"""Write the executed plans of a fixed list of call sites to JSON, with
expression ids and lambda variable names masked, so two checkouts can be
compared plan for plan.

    python tools/masked_plans.py OUT.json

Plan parity of a change: run this file from a copy of the parent commit
and from the change (copy the file into the parent's ``tools/`` if it is
not there yet), then ``diff`` the two JSON files. Each call site is built
on a small generated web-pages corpus on ``local[2]``; plans are taken
before execution, so nothing but the driver-side planning runs. The
exception is the two ``CheckpointedValidationRun.bucket_query`` sites
(the query ``run_bucket`` writes, with violations built in SQL and, for
``checkpointed_run_bucket_udf``, by the interpreter UDF): their input is
the corpus written to a temporary directory partitioned by
``warc_bucket``, so their plans show the bucket's partition filter.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

_MASKS = (
    (re.compile(r"#\d+L?"), "#N"),                       # expression ids
    (re.compile(r"\b([A-Za-z]+)_\d+\b"), r"\1_N"),         # lambda variables
    (re.compile(r"@[0-9a-f]{6,}\b"), "@H"),              # object hashes
    (re.compile(r"file:[^,\]\s]+"), "file:P"),            # input paths
)

# hybrid single-schema plans: composite uniqueItems, multipleOf on an
# overflowed number, a cyclic $ref unroll, an email format in a HOF lambda
HYBRID_SCHEMAS = {
    "unique_items": {"type": "object",
                     "properties": {"tags": {"type": "array", "uniqueItems": True}}},
    "multiple_of": {"properties": {"n": {"multipleOf": 0.0001}}},
    "cyclic_ref": {"definitions": {"node": {
        "type": "object",
        "properties": {"next": {"$ref": "#/definitions/node"}},
        "additionalProperties": False}},
        "$ref": "#/definitions/node"},
    "items_email": {"properties": {"to": {"items": {"format": "email"}}}},
}


def _mask(plan: str) -> str:
    for rx, sub in _MASKS:
        plan = rx.sub(sub, plan)
    return plan


def _plan(df) -> str:
    return _mask(df._jdf.queryExecution().executedPlan().toString())


def call_sites(spark, tmp: str) -> dict:
    from pyspark.sql import functions as F

    from gojsonschema_spark.ops.pipeline import PipelineConfig, preprocess_corpus
    from gojsonschema_spark.ops.webpages import (FLAGSHIP_SCHEMA,
                                                 generate_webpages, url_host,
                                                 webpage_doc_column)
    from gojsonschema_spark.plans.checkpointed import CheckpointedValidationRun
    from gojsonschema_spark.spark.engine import MultiSchemaValidator, SparkValidator
    from workloads import _PIPELINE

    pages = generate_webpages(spark, 2000)
    docs = pages.select(webpage_doc_column().alias("doc"))
    v = SparkValidator(FLAGSHIP_SCHEMA)
    udf_v = SparkValidator(FLAGSHIP_SCHEMA, force_udf=True)
    mv = MultiSchemaValidator({
        "page": FLAGSHIP_SCHEMA,
        "stub": {"type": "object", "required": ["url"]},
        "feed": {"type": "object",
                 "properties": {"text": {"type": "string", "minLength": 1}}},
    })
    kinds = docs.withColumn(
        "kind", F.element_at(F.array(F.lit("page"), F.lit("stub"), F.lit("feed")),
                             ((F.xxhash64("doc") % 3 + 3) % 3 + 1).cast("int")))
    staged = (pages.withColumn("host", url_host(F.col("url")))
              .withColumn("doc_id", F.xxhash64("url", "warc_ts")))
    pages.write.partitionBy("warc_bucket").parquet(f"{tmp}/pages")
    bucketed = spark.read.parquet(f"{tmp}/pages").select(
        "url", "warc_bucket", webpage_doc_column().alias("doc"))
    day = min(r[0] for r in bucketed.select("warc_bucket").distinct().collect())
    run = CheckpointedValidationRun(v, f"{tmp}/verdicts")

    sites = {
        "flagship_validate_json": lambda: v.validate_json(docs, "doc"),
        "flagship_validate_json_no_violations":
            lambda: v.validate_json(docs, "doc", violations_col=None),
        "flagship_violations_table": lambda: v.violations_table(docs, "doc", []),
        "force_udf_validate_json": lambda: udf_v.validate_json(docs, "doc"),
        "multischema_dispatch": lambda: mv.validate_json(kinds, "doc", "kind"),
        "preprocess_corpus": lambda: preprocess_corpus(
            staged, PipelineConfig(**_PIPELINE)),
        "checkpointed_run_bucket": lambda: run.bucket_query(bucketed, day, True)[0],
        "checkpointed_run_bucket_udf":
            lambda: run.bucket_query(bucketed, day, False)[0],
    }
    for name, schema in HYBRID_SCHEMAS.items():
        hv = SparkValidator(schema)
        sites[f"hybrid_{name}_validate_json"] = (
            lambda hv=hv: hv.validate_json(docs, "doc"))
        sites[f"hybrid_{name}_violations_table"] = (
            lambda hv=hv: hv.violations_table(docs, "doc", []))
    out = {}
    for name, build in sites.items():
        out[name] = _plan(build())
        spark.catalog.clearCache()
    return out


def main(out_path: str) -> None:
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as tmp:
        plans = call_sites(spark, tmp)
    with open(out_path, "w") as f:
        json.dump(plans, f, indent=1, sort_keys=True)
    print(f"{len(plans)} plans -> {out_path}")
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
