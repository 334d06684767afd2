"""Partition-parallel, resumable validation runs with lineage + metrics.

north_rule requirements (BASELINE.json): validation runs partition-parallel
over time-bucketed partitions, is resumable from per-partition checkpoints,
and emits lineage + metrics per partition.

Design (batch, not Structured Streaming — SURVEY.md §7.4.8): the unit of
checkpointing is a coarse partition bucket (e.g. daily ``warc_bucket``,
30-3000 buckets at crawl scale — NOT per-Spark-partition). Each bucket:

* validates as one Spark job filtered to that bucket (partition pruning
  when the input is written partitioned by the bucket column; the NULL
  bucket is filtered with ``IS NULL``);
* writes verdicts to ``<out>/bucket=<v>/`` (idempotent overwrite per
  bucket = exactly-once on rerun; the NULL bucket writes
  ``bucket=__HIVE_DEFAULT_PARTITION__``, as Hive names a NULL partition,
  so it never shares a directory with the string bucket ``"None"``);
* collects its counts through ``df.observe`` (no extra pass) and writes
  a ``_lineage.json`` beside the data: ``bucket`` (null for the NULL
  bucket), ``n_docs``, ``n_valid``, ``n_invalid``, ``wall_sec``,
  ``engine_path`` (``column_plan`` or ``interpreter_udf``: how `valid`
  was computed), ``violations_path``, ``n_inexact``, ``app_id`` and
  ``finished_at``.

Violation rows are built in SQL where that is exact
(``violations_path`` ``"sql"``): for a column-plan schema without a
frontier whose every site emits its rows (``columns.py``), while the
message templates are those the rows were rendered from. The job then
has no Python node. Its observation also counts the invalid rows whose
SQL rows may differ from the interpreter's (``n_inexact``, see
``columns.violations_inexact``); if there is any, the bucket is written
again, overwriting, with the interpreter UDF (``"udf_rerun"``) before
its lineage is written. Other schemas use the UDF (``"udf"``,
``n_inexact`` null).

The checkpoint is the parquet ``_SUCCESS`` marker AND the lineage file:
a bucket missing either is re-run. A killed run resumes by rerunning:
one scan lists the bucket values, and finished buckets are skipped.

:meth:`CheckpointedValidationRun.run` runs one Spark job per bucket,
several in flight. A bucket job is mostly fixed driver cost (DataFrame
build, optimization and planning, then a short task), so one job at a
time leaves the executors idle most of a run; jobs in flight hide each
bucket's driver work behind the other buckets' execution. Each job needs
driver CPU and at least one task slot, so jobs beyond either only queue:
the run keeps ``max(2, min(task slots, driver CPUs))`` in flight (see
``_in_flight``). Buckets start in ``bucket_values`` order; after a
failure no further bucket starts, the jobs in flight finish, and the
first error propagates.
"""

from __future__ import annotations

import json
import os
import time
from collections import deque
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.observation import Observation
from pyspark.util import inheritable_thread_target

from ..spark.engine import SparkValidator

__all__ = ["CheckpointedValidationRun"]

# Fewest bucket jobs in flight: even a 1-core driver overlaps one
# bucket's planning with another's task.
_MIN_IN_FLIGHT = 2


def _in_flight(slots: int, cpus: int) -> int:
    """Bucket jobs to keep in flight, given the cluster's task slots and
    the driver's CPUs.

    A bucket job costs driver CPU (build, optimize, plan, serialize its
    task) and at least one task slot; jobs beyond the driver's CPUs queue
    for the driver, jobs beyond the slots queue for executors (400 slots
    and a 16-CPU driver: 16). On the UDF path, each job in flight holds
    one Python worker: at most as many as one full-width UDF job starts
    on those slots."""
    return max(_MIN_IN_FLIGHT, min(slots, cpus))


def _driver_cpus() -> int:
    """CPUs this process may run on (its affinity, where the platform
    has one)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class _OutputFiles:
    """The Hadoop FileSystem of one directory tree, resolved once (any
    scheme: local, hdfs://, s3a://, dbfs:/...; driver-local os.path only
    works for local dirs). Resolving it costs 8 py4j round trips and
    each ``exists`` 2, so a resume resolves it once, not once per
    marker."""

    def __init__(self, spark: SparkSession, root: str):
        self._path = spark._jvm.org.apache.hadoop.fs.Path
        self._fs = self._path(root).getFileSystem(
            spark._jsc.hadoopConfiguration())

    def exists(self, path_str: str) -> bool:
        return bool(self._fs.exists(self._path(path_str)))

    def write_text(self, path_str: str, text: str) -> None:
        out = self._fs.create(self._path(path_str), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()


def _bucket_label(value):
    """A bucket value as the run reports it: null for the NULL bucket."""
    return None if value is None else str(value)


class CheckpointedValidationRun:
    def __init__(self, validator: SparkValidator, output_dir: str,
                 bucket_col: str = "warc_bucket", doc_col: str = "doc",
                 key_cols: tuple = ("url",)):
        self.validator = validator
        self.output_dir = output_dir.rstrip("/")
        self.bucket_col = bucket_col
        self.doc_col = doc_col
        self.key_cols = list(key_cols)
        self.bucket_values: list = []  # every bucket value, set by pending_buckets

    # -- checkpoint state -----------------------------------------------------

    def _bucket_dir(self, value) -> str:
        name = "__HIVE_DEFAULT_PARTITION__" if value is None else value
        return f"{self.output_dir}/bucket={name}"

    def is_done(self, value, spark: SparkSession = None) -> bool:
        """A bucket is done once both its ``_SUCCESS`` marker and its
        ``_lineage.json`` exist: the lineage is written after the data, so
        a run killed between the two re-runs the bucket."""
        spark = spark or SparkSession.getActiveSession()
        return self._done(_OutputFiles(spark, self.output_dir), value)

    def _done(self, files: _OutputFiles, value) -> bool:
        target = self._bucket_dir(value)
        return (files.exists(f"{target}/_SUCCESS")
                and files.exists(f"{target}/_lineage.json"))

    def pending_buckets(self, df: DataFrame) -> list:
        """Bucket values of ``df`` not yet done, in ``orderBy`` order.

        One Spark job: the distinct values are collected once and sorted
        on the driver, nulls first. ``self.bucket_values`` keeps every
        value of the scan for :meth:`run`."""
        values = [r[0] for r in df.select(self.bucket_col).distinct().collect()]
        self.bucket_values = sorted(values, key=lambda v: (v is not None, v))
        files = _OutputFiles(df.sparkSession, self.output_dir)
        return [v for v in self.bucket_values if not self._done(files, v)]

    # -- execution --------------------------------------------------------------

    def run(self, df: DataFrame) -> dict:
        """Validate every pending bucket, ``_in_flight`` of them at a time
        (from the task slots and the driver's CPUs); returns a run summary.
        ``skipped`` lists the buckets already done, as their lineage
        names them (None for the NULL bucket)."""
        queue = deque(self.pending_buckets(df))
        pending = set(queue)
        summary = {"buckets_total": len(self.bucket_values), "buckets_run": 0,
                   "docs": 0, "valid": 0,
                   "skipped": [_bucket_label(v) for v in self.bucket_values
                               if v not in pending]}
        # built here once, not raced by the job threads
        if self.validator._sql_violations_ready():
            self.validator._validate_json_sql(df, self.doc_col)
        n = _in_flight(df.sparkSession.sparkContext.defaultParallelism,
                       _driver_cpus())
        with ThreadPoolExecutor(n) as pool:
            running = set()
            while queue or running:
                while queue and len(running) < n:
                    # wrapped per job: each job gets its own copy of the
                    # caller's local properties (job group, description,
                    # tags), so one job's SQL execution id never leaks
                    # into another's jobs
                    job = inheritable_thread_target(df.sparkSession)(self.run_bucket)
                    running.add(pool.submit(job, df, queue.popleft()))
                done, running = wait(running, return_when=FIRST_COMPLETED)
                for future in done:
                    # a failure starts no further bucket; leaving the
                    # pool waits for the jobs in flight, then it raises
                    m = future.result()
                    summary["buckets_run"] += 1
                    summary["docs"] += m["n_docs"]
                    summary["valid"] += m["n_valid"]
        return summary

    def bucket_query(self, df: DataFrame, value, sql: bool):
        """The query that writes one bucket, and its ``Observation``
        (``n_docs``, ``n_valid``; with ``sql``, also ``n_inexact``).

        ``sql``: `violations` built in SQL
        (``SparkValidator._validate_json_sql``), else by the interpreter
        UDF (``validate_json``)."""
        col = F.col(self.bucket_col)
        keep = col.isNull() if value is None else col == F.lit(value)
        metrics = [F.count(F.lit(1)).alias("n_docs"),
                   F.sum(F.col("valid").cast("long")).alias("n_valid")]
        if sql:
            # the validator's frame for the whole input, filtered to the
            # bucket: the filter is pushed down to the scan, and the
            # Column DAG is resolved once, not once per bucket (the UDF
            # path cannot share a frame: no filter passes its
            # nondeterministic UDF node)
            validated, inexact = self.validator._validate_json_sql(df, self.doc_col)
            out = validated.filter(keep)
            metrics.append(F.sum(F.when(~F.col("valid"), inexact).cast("long"))
                           .alias("n_inexact"))
        else:
            out = self.validator.validate_json(df.filter(keep), self.doc_col)
        obs = Observation(f"validate-{value}")
        out = out.observe(obs, *metrics)
        return out.select(*self.key_cols, "valid", "violations"), obs

    def run_bucket(self, df: DataFrame, value) -> dict:
        """Validate one bucket; idempotent (overwrites its directory)."""
        t0 = time.time()
        target = self._bucket_dir(value)
        sql = self.validator._sql_violations_ready()
        result, obs = self.bucket_query(df, value, sql)
        result.write.mode("overwrite").parquet(target)
        n_inexact, path = None, "udf"
        if sql:
            n_inexact, path = obs.get["n_inexact"] or 0, "sql"
            if n_inexact:
                # some rows' SQL violations may differ from the
                # interpreter's: write the bucket again with the UDF
                result, obs = self.bucket_query(df, value, sql=False)
                result.write.mode("overwrite").parquet(target)
                path = "udf_rerun"
        n_docs = obs.get["n_docs"]
        n_valid = obs.get["n_valid"] or 0
        spark = df.sparkSession
        lineage = {
            "bucket": _bucket_label(value),
            "n_docs": n_docs,
            "n_valid": int(n_valid),
            "n_invalid": n_docs - int(n_valid),
            "wall_sec": round(time.time() - t0, 3),
            "engine_path": ("column_plan" if self.validator.uses_column_plan
                            else "interpreter_udf"),
            "violations_path": path,
            "n_inexact": n_inexact,
            "app_id": spark.sparkContext.applicationId,
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        _OutputFiles(spark, self.output_dir).write_text(
            f"{target}/_lineage.json", json.dumps(lineage, indent=1))
        return lineage
