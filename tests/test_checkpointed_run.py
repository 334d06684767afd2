"""Resumable partition-parallel validation run (plans.checkpointed)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from gojsonschema_spark.ops.webpages import (FLAGSHIP_SCHEMA,
                                             generate_webpages,
                                             webpage_doc_column)
from gojsonschema_spark.plans.checkpointed import CheckpointedValidationRun
from gojsonschema_spark.spark.engine import SparkValidator

pytestmark = pytest.mark.spark


def test_checkpoint_resume_and_lineage(spark, tmp_path):
    pages = generate_webpages(spark, 300, partitions=4)
    df = pages.select("url", "warc_bucket", webpage_doc_column().alias("doc"))
    # collapse to 3 coarse buckets for the test
    df = df.withColumn("warc_bucket",
                       (F.dayofmonth(F.col("warc_bucket")) % 3).cast("string"))

    out = str(tmp_path / "verdicts")
    run = CheckpointedValidationRun(SparkValidator(FLAGSHIP_SCHEMA), out)

    s1 = run.run(df)
    assert s1["buckets_total"] == 3 and s1["buckets_run"] == 3
    assert s1["docs"] == 300

    # every bucket has data + _SUCCESS checkpoint + lineage metrics
    for b in os.listdir(out):
        bdir = os.path.join(out, b)
        assert os.path.exists(os.path.join(bdir, "_SUCCESS"))
        lineage = json.load(open(os.path.join(bdir, "_lineage.json")))
        assert lineage["n_docs"] == lineage["n_valid"] + lineage["n_invalid"]
        assert lineage["engine_path"] == "column_plan"
        assert lineage["wall_sec"] > 0

    # resume: nothing re-runs
    s2 = run.run(df)
    assert s2["buckets_run"] == 0 and len(s2["skipped"]) == 3

    # simulate a torn bucket (no _SUCCESS): only that bucket re-runs
    victim = os.path.join(out, sorted(os.listdir(out))[0])
    os.remove(os.path.join(victim, "_SUCCESS"))
    s3 = run.run(df)
    assert s3["buckets_run"] == 1

    # verdict output is readable and complete
    verdicts = spark.read.parquet(out)
    assert verdicts.count() == 300
    assert set(verdicts.columns) >= {"url", "valid", "violations"}
    n_valid = verdicts.filter("valid").count()
    assert 0 < n_valid < 300  # generator plants malformed urls/empty texts


def _three_buckets(spark, n=150):
    pages = generate_webpages(spark, n, partitions=2)
    df = pages.select("url", "warc_bucket", webpage_doc_column().alias("doc"))
    return df.withColumn("warc_bucket",
                         (F.dayofmonth(F.col("warc_bucket")) % 3).cast("string"))


def test_resume_over_done_output_is_one_job(spark, tmp_path):
    """A resume with every bucket done scans the bucket values once: one
    Spark job, no orderBy sampling job, no second distinct. AQE is off
    for the resume because it runs each shuffle map stage as a job of
    its own, which would split the one scan into two jobs."""
    df = _three_buckets(spark)
    run = CheckpointedValidationRun(SparkValidator(FLAGSHIP_SCHEMA),
                                    str(tmp_path / "verdicts"))
    assert run.run(df)["buckets_run"] == 3

    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("resume-over-done", "resume over done output")
    try:
        s = run.run(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert s["buckets_run"] == 0 and s["skipped"] == ["0", "1", "2"]
    assert len(sc.statusTracker().getJobIdsForGroup("resume-over-done")) == 1


def test_missing_lineage_reruns_bucket(spark, tmp_path):
    """A bucket whose _lineage.json is missing (run killed after the
    data commit) is not done: the resume re-runs exactly that bucket."""
    df = _three_buckets(spark)
    out = str(tmp_path / "verdicts")
    run = CheckpointedValidationRun(SparkValidator(FLAGSHIP_SCHEMA), out)
    assert run.run(df)["buckets_run"] == 3

    lineage = os.path.join(out, "bucket=1", "_lineage.json")
    os.remove(lineage)
    assert os.path.exists(os.path.join(out, "bucket=1", "_SUCCESS"))
    assert not run.is_done("1", spark) and run.is_done("0", spark)
    s = run.run(df)
    assert s["buckets_run"] == 1 and s["skipped"] == ["0", "2"]
    assert os.path.exists(lineage)
    assert spark.read.parquet(out).count() == 150
