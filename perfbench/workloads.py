"""The benchmark's workloads. Each reaches the program only through its
public API and generates its own input from the seed.

A workload provides:

* ``generate()``: write the seeded input corpus (the benchmark's own
  input, not the program's set-up);
* ``prepare(rep)``: one set-up repetition (load the corpus, build the
  validator or stage the frame, one warm-up unit); the runner times several,
  then runs ``warmup_passes`` untimed passes;
* ``reference()``: the expected output, computed untimed;
* ``run_pass()`` / ``check(out)`` / ``reset()``: one timed pass, its
  output check, and untimed cleanup before the next pass;
* ``plan_frame()``: the DataFrame a pass builds, for the planning probe;
* ``layers(passes, measure)``: the per-layer figures only this workload
  can measure (traced runs only);
* ``profile_unit()``: the unit re-run under the Python UDF profiler.
"""

from __future__ import annotations

import datetime
import json
import math
import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from gojsonschema_spark.core.compiler import SchemaCompiler
from gojsonschema_spark.ops.pipeline import PipelineConfig, preprocess_corpus
from gojsonschema_spark.ops.webpages import (FLAGSHIP_SCHEMA,
                                             generate_webpages, url_host,
                                             webpage_doc_column)
from gojsonschema_spark.plans.checkpointed import CheckpointedValidationRun
from gojsonschema_spark.spark.columns import ColumnPlanCompiler
from gojsonschema_spark.spark.engine import SparkValidator

from probe import tail_percentile

median = statistics.median


class _SeededRange:
    """Hands ``generate_webpages`` a row-id window chosen by the seed.

    The generator derives every column from the row id, so shifting the
    window changes which rows the corpus holds, while its size and its
    fault rates (duplicate and malformed urls, empty texts) stay the
    generator's."""

    def __init__(self, spark, offset: int):
        self._spark, self._offset = spark, offset

    def range(self, start, end=None, step=1, numPartitions=None):
        if end is None:
            start, end = 0, start
        return self._spark.range(start + self._offset, end + self._offset,
                                 step, numPartitions)


class Workload:
    name = ""
    n_docs = 0

    def __init__(self, spark, work_dir: str, seed: int, tracer, cores: int):
        self.spark, self.work, self.seed = spark, work_dir, seed
        self.tracer, self.cores = tracer, cores

    def path(self, name: str) -> str:
        return os.path.join(self.work, self.name, name)

    def pages(self):
        offset = (self.seed % 2 ** 31) * self.n_docs
        return generate_webpages(_SeededRange(self.spark, offset), self.n_docs,
                                 partitions=self.cores)

    def reference(self) -> None:
        pass

    def reset(self) -> None:
        pass

    def layers(self, passes, measure) -> dict:
        return {}

    profile_unit = None
    traced_min_passes = 1
    setup_reps = 3
    warmup_passes = 0


class _Validating(Workload):
    """Workloads that validate ``self.docs`` (a ``doc`` JSON column)
    against the flagship schema with ``self.validator``."""

    def build_validator(self) -> None:
        self.validator = self.tracer.call("SparkValidator", SparkValidator,
                                          FLAGSHIP_SCHEMA)

    def layers(self, passes, measure) -> dict:
        compile_s, columns_s = [], []
        for _ in range(5):
            t0 = time.perf_counter()
            compiled = self.tracer.call("SchemaCompiler.compile",
                                        SchemaCompiler().compile, FLAGSHIP_SCHEMA)
            t1 = time.perf_counter()
            self.tracer.call("ColumnPlanCompiler.compile",
                             ColumnPlanCompiler(compiled).compile)
            compile_s.append(t1 - t0)
            columns_s.append(time.perf_counter() - t1)
        # cumulative prefixes of the valid-bit pass: scan (+ doc build),
        # + variant parse behind the engine's Generate barrier, + the DAG
        parsed = self.docs.select(
            F.explode(F.array(F.try_parse_json("doc"))).alias("v"))
        prefixes = {
            "scan": lambda: self.docs.agg(F.count(F.lit(1)),
                                          F.sum(F.length("doc"))).collect(),
            "parse": lambda: parsed.agg(F.count("v")).collect(),
            "dag": lambda: self.tracer.call(
                "SparkValidator.validate_variant",
                self.validator.validate_variant, parsed, "v")
            .agg(F.sum(F.col("valid").cast("long"))).collect(),
        }
        cpu = {k: [] for k in prefixes}
        for _ in range(3):
            for k, fn in prefixes.items():
                cpu[k].append(measure(f"prefix.{k}", fn)[1])
        scan, parse, dag = (median(cpu[k]) for k in prefixes)
        return {"compiler.compile_s": median(compile_s),
                "columns.compile_s": median(columns_s),
                "scan.self_cpu_s": scan,
                "parse.self_cpu_s": parse - scan,
                "columns.self_cpu_s": dag - parse}


class FlagshipVerdicts(_Validating):
    """validate_json(FLAGSHIP_SCHEMA, violations_col=None) over the web
    pages: the predicate DAG does the work and no Python runs."""

    name = "flagship_verdicts"
    n_docs = 20_000

    def generate(self) -> None:
        self.pages().write.parquet(self.path("pages"))

    def prepare(self, rep: int) -> None:
        self.docs = (self.spark.read.parquet(self.path("pages"))
                     .select(webpage_doc_column().alias("doc")))
        self.build_validator()
        self.run_pass()

    def plan_frame(self, validator=None):
        v = validator or self.validator
        out = self.tracer.call("SparkValidator.validate_json", v.validate_json,
                               self.docs, "doc", violations_col=None)
        return out.agg(F.count(F.lit(1)), F.sum(F.col("valid").cast("long")))

    def run_pass(self) -> dict:
        row = self.tracer.call("collect", self.plan_frame().collect)[0]
        return {"docs": row[0], "valid": row[1]}

    def reference(self) -> None:
        # the interpreter-only path is the reference for the SQL verdicts
        udf = SparkValidator(FLAGSHIP_SCHEMA, force_udf=True)
        self.expected_valid = self.plan_frame(udf).collect()[0][1]

    def check(self, out) -> list:
        errors = []
        if out["docs"] != self.n_docs:
            errors.append(f"{out['docs']} verdicts for {self.n_docs} documents")
        if out["valid"] != self.expected_valid:
            errors.append(f"valid={out['valid']}, interpreter-only "
                          f"valid={self.expected_valid}")
        return errors

    def profile_unit(self) -> None:
        self.run_pass()


class CheckpointedRun(_Validating):
    """CheckpointedValidationRun(...).run() over daily warc_bucket
    partitions, then a resume run that must find nothing to do. One
    Spark job per bucket: per-job overhead, not executor CPU, bounds it.

    Every tenth day of the generator's 30 is kept, so a pass runs 3
    bucket jobs. A job costs 1-2 s on a 4-core host whatever its size,
    so 30 buckets would allow one pass per run, and a single pass
    measures every burst of host noise within it; the median of several
    short passes does not."""

    name = "checkpointed_run"
    n_docs = 15_000  # generated; about a tenth is kept
    # 7 passes of 3 buckets give 21 commit samples, so the tail is p52
    traced_min_passes = 7
    # a set-up rep is cheap (one bucket), so take the median of more
    setup_reps = 5
    # a set-up rep runs one bucket; the JVM is still compiling hot code
    # after them (on a 4-core host the first full pass of 5 buckets took
    # 6 s more CPU than the next)
    warmup_passes = 1

    def generate(self) -> None:
        path = self.path("pages")
        every_tenth_day = F.pmod(F.datediff("warc_bucket", F.lit("1970-01-01")), 10) == 0
        (self.pages().filter(every_tenth_day).repartition("warc_bucket")
         .write.partitionBy("warc_bucket").parquet(path))
        self.buckets = sorted(datetime.date.fromisoformat(d.split("=", 1)[1])
                              for d in os.listdir(path)
                              if d.startswith("warc_bucket="))
        self.n_docs = self.spark.read.parquet(path).count()
        self.out_dir = self.path("verdicts")
        self.resume_s = []

    def prepare(self, rep: int) -> None:
        # the tools/submit_job.py input: the doc is built in the query
        self.docs = self.spark.read.parquet(self.path("pages")).select(
            "url", "warc_bucket", webpage_doc_column().alias("doc"))
        self.build_validator()
        (CheckpointedValidationRun(self.validator, self.path(f"warm-{rep}"))
         .run_bucket(self.docs, self.buckets[rep % len(self.buckets)]))

    def plan_frame(self):
        one = self.docs.filter(F.col("warc_bucket") == F.lit(self.buckets[0]))
        return (self.validator.validate_json(one, "doc")
                .select("url", "valid", "violations"))

    def run_pass(self) -> dict:
        self.run = CheckpointedValidationRun(self.validator, self.out_dir)
        self.tracer.wrap(self.run, "pending_buckets", "run_bucket")
        summary = self.tracer.call("CheckpointedValidationRun.run",
                                   self.run.run, self.docs)
        return {"docs": summary["docs"], "buckets_run": summary["buckets_run"]}

    def check(self, out) -> list:
        errors = []
        if out["buckets_run"] != len(self.buckets):
            errors.append(f"ran {out['buckets_run']} of {len(self.buckets)} buckets")
        t0 = time.perf_counter()
        resume = self.tracer.call("CheckpointedValidationRun.run (resume)",
                                  self.run.run, self.docs)
        self.resume_s.append(time.perf_counter() - t0)
        if resume["buckets_run"] != 0:
            errors.append(f"resume ran {resume['buckets_run']} buckets")
        n_docs = 0
        for b in self.buckets:
            d = os.path.join(self.out_dir, f"bucket={b}")
            if not os.path.exists(os.path.join(d, "_SUCCESS")):
                errors.append(f"bucket {b}: no _SUCCESS")
            try:
                with open(os.path.join(d, "_lineage.json")) as f:
                    n_docs += json.load(f)["n_docs"]
            except FileNotFoundError:
                errors.append(f"bucket {b}: no _lineage.json")
        if n_docs != self.n_docs:
            errors.append(f"lineage n_docs sum to {n_docs}, not {self.n_docs}")
        return errors

    def reset(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def profile_unit(self) -> None:
        (CheckpointedValidationRun(self.validator, self.path("profiled"))
         .run_bucket(self.docs, self.buckets[0]))

    def layers(self, passes, measure) -> dict:
        m = super().layers(passes, measure)
        spans = [s for p in passes for s in self.tracer.subtree(p["span"])]
        buckets = [s for s in spans if s["name"].endswith(".run_bucket")]
        pending = [s["end"] - s["start"] for s in spans
                   if s["name"].endswith(".pending_buckets")]
        commits = [s["end"] - s["start"] for s in buckets]
        pct, tail = tail_percentile(commits)
        docs = sum(p["docs"] for p in passes)
        m.update({
            "checkpoint.pending_scan_s": median(pending),
            "checkpoint.jobs_per_bucket":
                statistics.mean(s["counters"]["jobs"] for s in buckets),
            "checkpoint.executor_busy_share": median(
                p["counters"].get("executor_run_s", 0) / (self.cores * p["wall"])
                for p in passes),
            "checkpoint.rows_scanned_per_doc":
                sum(s["counters"].get("scan_rows", 0) for s in buckets) / docs,
            "bucket_commit_s_p50": median(commits),
            "bucket_commit_s_tail": tail,
            "bucket_commit_tail_pct": pct,
            "bucket_commit_samples": len(commits),
            "resume_s": median(self.resume_s),
        })
        return m


# bench.py's pipeline_e2e configuration
_PIPELINE = dict(boilerplate_min_docs=8, boilerplate_frac=0.8, dedup="exact",
                 gopher_kwargs={"min_words": 5, "min_stop_hits": 0,
                                "max_dup_line_frac": 1.0,
                                "max_top_bigram_char_frac": 1.0},
                 pack_budget=2048)
# PipelineConfig settings that switch each stage off, in pipeline order
_STAGE_OFF = {"boilerplate": {"boilerplate": False}, "redact": {"redact": False},
              "dedup": {"dedup": "none"}, "quality": {"quality": False},
              "pack": {"pack_budget": None}}


class CorpusPipeline(Workload):
    """preprocess_corpus: boilerplate, PII redaction, exact dedup, Gopher
    gate, packing. No validation; the ops layers and shuffles do the work."""

    name = "corpus_pipeline"
    n_docs = 5_000
    # each set-up rep runs a pass; on a 4-core host pass CPU still fell
    # from 9.3 s to 6.9 s over the next three, then flattened near 6.4 s
    warmup_passes = 2

    def generate(self) -> None:
        self.pages().write.parquet(self.path("pages"))

    def prepare(self, rep: int) -> None:
        self.staged = (self.spark.read.parquet(self.path("pages"))
                       .withColumn("host", url_host(F.col("url")))
                       .withColumn("doc_id", F.xxhash64("url", "warc_ts")))
        # the warm-up pass's rows and token mass are what every pass must repeat
        self.expected = self.run_pass()
        self.reset()

    def plan_frame(self):
        out = self.tracer.call("preprocess_corpus", preprocess_corpus,
                               self.staged, PipelineConfig(**_PIPELINE))
        packs = out.groupBy("pack_id").agg(F.sum("n_tok").alias("t"),
                                           F.count(F.lit(1)).alias("n"))
        return packs.agg(F.count(F.lit(1)), F.sum("n"), F.sum("t"),
                         F.max(F.when(F.col("n") > 1, F.col("t"))))

    def run_pass(self) -> dict:
        row = self.tracer.call("collect", self.plan_frame().collect)[0]
        return {"docs": self.n_docs, "packs": row[0], "rows": row[1],
                "tokens": row[2], "max_fill": row[3] or 0}

    def check(self, out) -> list:
        # Pack ids are greedy over each partition's row order, which the
        # dedup shuffle does not fix, so the pack count may differ by a
        # pack between passes; the packing invariants may not.
        errors = []
        for k in ("rows", "tokens"):
            if out[k] != self.expected[k]:
                errors.append(f"{k}={out[k]}, first pass {self.expected[k]}")
        budget = _PIPELINE["pack_budget"]
        if out["max_fill"] > budget:
            errors.append(f"a multi-document pack holds {out['max_fill']} tokens")
        if not math.ceil(out["tokens"] / budget) <= out["packs"] <= out["rows"]:
            errors.append(f"{out['packs']} packs for {out['rows']} rows")
        return errors

    def reset(self) -> None:
        self.spark.catalog.clearCache()

    def layers(self, passes, measure) -> dict:
        def prefix(k):
            kw = dict(_PIPELINE)
            for stage in list(_STAGE_OFF)[k:]:
                kw.update(_STAGE_OFF[stage])
            out = self.tracer.call("preprocess_corpus", preprocess_corpus,
                                   self.staged, PipelineConfig(**kw))
            aggs = [F.count(F.lit(1)), F.sum(F.length("text_final"))]
            if "pack_id" in out.columns:
                aggs.append(F.max("pack_id"))
            return out.agg(*aggs).collect()

        walls = [measure("prefix.scan", lambda: self.staged.agg(
            F.count(F.lit(1)), F.sum(F.length("text"))).collect())[0]]
        for k, stage in enumerate(_STAGE_OFF, 1):
            walls.append(measure(f"prefix.{stage}", lambda: prefix(k))[0])
            self.reset()
        return {f"pipeline.{stage}_self_s": walls[k] - walls[k - 1]
                for k, stage in enumerate(_STAGE_OFF, 1)}


WORKLOADS = {w.name: w for w in (FlagshipVerdicts, CheckpointedRun,
                                 CorpusPipeline)}
