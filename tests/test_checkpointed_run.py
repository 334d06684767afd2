"""Resumable partition-parallel validation run (plans.checkpointed)."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from gojsonschema_spark.ops.webpages import (FLAGSHIP_SCHEMA,
                                             generate_webpages,
                                             webpage_doc_column)
from gojsonschema_spark.plans import checkpointed
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
        # every failing value of the corpus is a string: exact SQL rows
        assert lineage["violations_path"] == "sql"
        assert lineage["n_inexact"] == 0
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


def _buckets(spark, n=150, k=3):
    pages = generate_webpages(spark, n, partitions=2)
    df = pages.select("url", "warc_bucket", webpage_doc_column().alias("doc"))
    return df.withColumn("warc_bucket",
                         (F.dayofmonth(F.col("warc_bucket")) % k).cast("string"))


def _n_in_flight(spark) -> int:
    return checkpointed._in_flight(spark.sparkContext.defaultParallelism,
                                   checkpointed._driver_cpus())


def _numbered_buckets(spark, k, per_bucket=25):
    """``k`` buckets of ``per_bucket`` rows each, named ``b000``, ``b001``...
    (so that they sort in number order); about half of each bucket's documents
    are invalid."""
    valid = json.dumps({"url": "https://x.com/", "warc_ts": "2024-06-01T00:00:00Z",
                        "text": "a", "lang": "en"})
    rows = [(f"https://x.com/{i}", f"b{i % k:03d}",
             '{"url": "https://x.com/"}' if i // k % 2 else valid)
            for i in range(k * per_bucket)]
    return spark.createDataFrame(rows, "url string, warc_bucket string, doc string")


def test_resume_over_done_output_is_one_job(spark, tmp_path):
    """A resume with every bucket done scans the bucket values once: one
    Spark job, no orderBy sampling job, no second distinct. AQE is off
    for the resume because it runs each shuffle map stage as a job of
    its own, which would split the one scan into two jobs."""
    df = _buckets(spark)
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
    df = _buckets(spark)
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


def test_null_bucket_is_validated(spark, tmp_path):
    """Rows with a NULL bucket form their own bucket and are validated:
    ``col == NULL`` matches no row, so the NULL bucket filters with
    ``IS NULL``."""
    rows = [(f"https://x.com/{i}", None if i % 10 else "a", '{"url": 1}')
            for i in range(120)]
    df = spark.createDataFrame(rows, "url string, warc_bucket string, doc string")
    out = str(tmp_path / "verdicts")
    run = CheckpointedValidationRun(SparkValidator(FLAGSHIP_SCHEMA), out)
    s = run.run(df)
    assert s["buckets_total"] == 2 and s["buckets_run"] == 2
    assert s["docs"] == 120
    null_dir = os.path.join(out, "bucket=__HIVE_DEFAULT_PARTITION__")
    lineage = json.load(open(os.path.join(null_dir, "_lineage.json")))
    assert lineage["n_docs"] == 108 and lineage["n_invalid"] == 108
    assert spark.read.parquet(null_dir).count() == 108
    assert run.run(df)["skipped"] == [None, "a"]


def test_null_bucket_and_string_none_bucket_are_separate(spark, tmp_path):
    """The NULL bucket and the string bucket "None" write separate
    directories, rows and lineage; a resume finds both done."""
    rows = [(f"https://x.com/{i}", None if i % 3 else "None", '{"url": "a"}')
            for i in range(90)]
    df = spark.createDataFrame(rows, "url string, warc_bucket string, doc string")
    out = str(tmp_path / "verdicts")
    run = CheckpointedValidationRun(SparkValidator(FLAGSHIP_SCHEMA), out)
    assert run.run(df)["buckets_run"] == 2
    for name, bucket, n in (("__HIVE_DEFAULT_PARTITION__", None, 60),
                            ("None", "None", 30)):
        d = os.path.join(out, f"bucket={name}")
        lineage = json.load(open(os.path.join(d, "_lineage.json")))
        assert lineage["bucket"] == bucket and lineage["n_docs"] == n
        assert spark.read.parquet(d).count() == n
    s = run.run(df)
    assert s["buckets_run"] == 0 and s["skipped"] == [None, "None"]


def test_pending_buckets_resolves_filesystem_once(spark, tmp_path, monkeypatch):
    """The done checks of every bucket value share one FileSystem: each
    resolution costs py4j round trips, and a resume checks two markers
    per bucket."""
    df = _numbered_buckets(spark, k=6)
    out = tmp_path / "verdicts"
    for b in ("b000", "b002", "b004"):
        (out / f"bucket={b}").mkdir(parents=True)
        for name in ("_SUCCESS", "_lineage.json"):
            (out / f"bucket={b}" / name).touch()
    run = CheckpointedValidationRun(SparkValidator(FLAGSHIP_SCHEMA), str(out))
    resolved = []

    class Counted(checkpointed._OutputFiles):
        def __init__(self, *args):
            resolved.append(args)
            super().__init__(*args)

    monkeypatch.setattr(checkpointed, "_OutputFiles", Counted)
    assert run.pending_buckets(df) == ["b001", "b003", "b005"]
    assert len(resolved) == 1


def test_in_flight_rule():
    """Bucket jobs in flight: the task slots or the driver's CPUs,
    whichever is fewer, and never fewer than two."""
    assert checkpointed._in_flight(1, 1) == 2
    assert checkpointed._in_flight(4, 4) == 4
    assert checkpointed._in_flight(400, 16) == 16
    assert checkpointed._in_flight(8, 32) == 8
    assert checkpointed._driver_cpus() >= 1


def test_n_buckets_in_flight_never_more(spark, tmp_path):
    """The run keeps N bucket jobs in flight, never more, over N + 2
    buckets: the first N calls wait on an N-party barrier, which a run
    with fewer in flight never passes; the last two start only as others
    finish."""
    n = _n_in_flight(spark)
    df = _numbered_buckets(spark, k=n + 2)
    run = CheckpointedValidationRun(SparkValidator(FLAGSHIP_SCHEMA),
                                    str(tmp_path / "verdicts"))
    barrier = threading.Barrier(n, timeout=60)
    lock = threading.Lock()
    started, live, peak = [0], [0], [0]
    run_bucket = run.run_bucket

    def gathered(df, value):
        with lock:
            started[0] += 1
            first = started[0] <= n
            live[0] += 1
            peak[0] = max(peak[0], live[0])
        try:
            if first:
                barrier.wait()
            return run_bucket(df, value)
        finally:
            with lock:
                live[0] -= 1

    run.run_bucket = gathered
    s = run.run(df)
    assert s["buckets_run"] == n + 2 and s["docs"] == 25 * (n + 2)
    assert peak[0] == n


def test_failed_bucket_starts_no_further_bucket(spark, tmp_path):
    """The first bucket error propagates once the buckets in flight with
    it have finished; no later bucket starts, the failed bucket has no
    lineage, and the resume runs the failed and unstarted buckets."""
    n = _n_in_flight(spark)
    df = _numbered_buckets(spark, k=n + 2)
    out = str(tmp_path / "verdicts")
    run = CheckpointedValidationRun(SparkValidator(FLAGSHIP_SCHEMA), out)
    started = []
    run_bucket = run.run_bucket

    def failing(df, value):
        started.append(value)
        if value == "b001":
            raise RuntimeError("bucket b001 failed")
        return run_bucket(df, value)

    run.run_bucket = failing
    with pytest.raises(RuntimeError, match="bucket b001 failed"):
        run.run(df)
    first = [f"b{i:03d}" for i in range(n)]
    assert sorted(started) == first
    finished = [b for b in first if b != "b001"]
    for b in finished:
        for name in ("_SUCCESS", "_lineage.json"):
            assert os.path.exists(os.path.join(out, f"bucket={b}", name))
    assert not os.path.exists(os.path.join(out, "bucket=b001", "_lineage.json"))

    run.run_bucket = run_bucket
    s = run.run(df)
    assert s["buckets_run"] == 3 and s["skipped"] == finished
    assert spark.read.parquet(out).count() == 25 * (n + 2)


def test_bucket_jobs_carry_caller_properties(spark, tmp_path):
    """Every bucket job carries the caller's job group, description and
    session tag, and lands in its own bucket's SQL execution; over an
    input partitioned by the bucket, each bucket's scan reads one
    partition and only that bucket's rows."""
    src = str(tmp_path / "pages")
    _buckets(spark).write.partitionBy("warc_bucket").parquet(src)
    df = spark.read.parquet(src)
    run = CheckpointedValidationRun(SparkValidator(FLAGSHIP_SCHEMA),
                                    str(tmp_path / "verdicts"))
    sc = spark.sparkContext
    sc.setJobGroup("g", "bucket jobs of g")
    spark.addTag("t")
    try:
        assert run.run(df)["buckets_run"] == 3
    finally:
        spark.removeTag("t")
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup("g"))
    store = jsc.statusStore()
    for j in jobs:
        job = store.job(j)
        assert job.description().get() == "bucket jobs of g"
        assert job.jobTags().mkString(",").endswith("-t")

    sql = spark._jsparkSession.sharedState().statusStore()
    executions = sql.executionsList()
    scans = []
    for i in range(executions.size()):
        e = executions.apply(i)
        ejobs = {int(k) for k in e.jobs().keys().mkString(",").split(",") if k}
        nodes = sql.planGraph(e.executionId()).allNodes()
        names = [nodes.apply(k).name() for k in range(nodes.size())]
        if not ejobs & jobs or "CollectMetrics" not in names:
            continue  # not a bucket's write
        assert ejobs <= jobs
        values = sql.executionMetrics(e.executionId())
        scan = next(nodes.apply(k) for k, n in enumerate(names)
                    if n.startswith("Scan"))
        metrics = {m.name(): m.accumulatorId() for m in
                   (scan.metrics().apply(k) for k in range(scan.metrics().size()))}
        scans.append(tuple(
            int(values.get(metrics[name]).get().replace(",", ""))
            for name in ("number of partitions read", "number of output rows")))
    assert len(scans) == 3  # one SQL execution per bucket, each with its jobs
    assert [p for p, _ in scans] == [1, 1, 1]
    assert sum(r for _, r in scans) == 150


def test_expressions_built_once_across_buckets(spark, tmp_path):
    """The validator's Column DAG is built once for a run whose first two
    buckets start together."""
    v = SparkValidator(FLAGSHIP_SCHEMA)
    calls, plan = [], v.column_plan

    def counted(var):
        calls.append(var)
        return plan(var)

    v.column_plan = counted
    run = CheckpointedValidationRun(v, str(tmp_path / "verdicts"))
    assert run.run(_buckets(spark))["buckets_run"] == 3
    assert len(calls) == 1
