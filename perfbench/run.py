"""Repository benchmark: run one workload (or all) on local Spark, check
its outputs and print its metrics.

    python3 perfbench/run.py --workload checkpointed_run --seed 1 \\
        --seconds 15 --trace 0

With ``--trace 0`` it prints the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` the per-layer ones; the last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
Run it from the repository root. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

median = statistics.median


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "python": platform.python_version()}


def driver_heap_mb(mem_total_mb: int) -> int:
    # the JVM shares the host with the Python workers and the corpora are
    # small: a sixteenth of RAM within [1, 4] GiB
    return min(4096, max(1024, mem_total_mb // 16))


def start_spark(work: str, cores: int, heap_mb: int):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # inherited by the JVM and the Python workers
    from pyspark.sql import SparkSession

    retain = "1000000"
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .appName("perfbench")
             .config("spark.sql.shuffle.partitions", str(cores))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory", f"{heap_mb}m")
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{heap_mb}m -XX:+UseParallelGC -XX:-UsePerfData "
                     f"-Djava.io.tmpdir={tmp}")
             .config("spark.local.dir", os.path.join(work, "local"))
             .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
             .config("spark.pyspark.python", sys.executable)
             .config("spark.pyspark.driver.python", sys.executable)
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.ui.retainedJobs", retain)
             .config("spark.ui.retainedStages", retain)
             .config("spark.sql.ui.retainedExecutions", retain)
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, tree) -> None:
    """Stop Spark and wait until the JVM and every Python worker exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while tree.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


class Runner:
    def __init__(self, spark, tree, counters, tracer):
        self.spark, self.tree, self.counters = spark, tree, counters
        self.tracer = tracer

    def measure(self, name: str, fn):
        """(wall s, process-tree CPU s) of ``fn()`` under a span."""
        c0, t0 = self.tree.cpu(), time.perf_counter()
        self.tracer.call(name, fn)
        wall = time.perf_counter() - t0
        return wall, self.tree.cpu_delta(c0, self.tree.cpu())[0]

    def setup(self, wl) -> list:
        t0 = time.perf_counter()
        with self.tracer.span(f"{wl.name}.generate"):
            wl.generate()
        print(f"input: {wl.n_docs} documents, generated in "
              f"{time.perf_counter() - t0:.3f} s", flush=True)
        times = []
        for rep in range(wl.setup_reps):
            t0 = time.perf_counter()
            with self.tracer.span(f"{wl.name}.prepare"):
                wl.prepare(rep)
            times.append(time.perf_counter() - t0)
        for _ in range(wl.warmup_passes):  # untimed, after the set-up reps
            t0 = time.perf_counter()
            with self.tracer.span(f"{wl.name}.warmup"):
                wl.run_pass()
            wl.reset()
            print(f"warm-up pass: {time.perf_counter() - t0:.3f} s", flush=True)
        wl.reference()
        return times

    def passes(self, wl, seconds: float, min_passes: int = 1):
        """Timed passes until ``seconds`` have elapsed and at least
        ``min_passes`` ran. Returns (pass records, peak tree RSS bytes,
        tracer hook seconds)."""
        from probe import RssSampler, fingerprint

        sc = self.spark.sparkContext
        records = []
        hook_s = self.tracer.hook_s
        deadline = time.perf_counter() + seconds
        with RssSampler(self.tree) as rss:
            while len(records) < min_passes or time.perf_counter() < deadline:
                group = f"pass-{len(records)}"
                sc.setJobGroup(group, f"{wl.name} {group}")
                rec = {"errors": [], "span": None}
                try:
                    s0, c0, t0 = rss.cpu_s, self.tree.cpu(), time.perf_counter()
                    with self.tracer.span(f"{wl.name}.pass") as span:
                        out = wl.run_pass()
                    rec["wall"] = time.perf_counter() - t0
                    rec["cpu"], rec["py_cpu"] = self.tree.cpu_delta(c0, self.tree.cpu())
                    rec["cpu"] -= rss.cpu_s - s0  # the sampler is not the program
                    rec["docs"], rec["span"] = out["docs"], span
                    rec["errors"] = wl.check(out)
                except Exception:  # a failed pass is counted, not fatal
                    rec["errors"].append(traceback.format_exc())
                self.counters.drain()
                spans = self.tracer.subtree(rec["span"])
                for s in spans:
                    s["counters"] = self.counters.groups([s["group"]])
                rec["counters"] = self.counters.groups([group] + [s["group"] for s in spans])
                rec["counters"]["cache_bytes"] = self.counters.cache_bytes()
                rec["fingerprint"] = fingerprint(rec["counters"])
                wl.reset()
                records.append(rec)
        print("peak RSS by command: " + ", ".join(
            f"{k} x{n} {b / 2 ** 20:.0f} MB" for k, (n, b) in rss.peak_by_command.items()),
            flush=True)
        return records, rss.peak, self.tracer.hook_s - hook_s

    def plan_s(self, wl) -> float:
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            with self.tracer.span("plan"):
                wl.plan_frame()._jdf.queryExecution().executedPlan()
            times.append(time.perf_counter() - t0)
        wl.reset()
        return median(times)

    def profile_s(self, wl) -> float:
        """Time inside the core interpreter, from Spark's perf profiler."""
        import pstats

        if wl.profile_unit is None:
            return 0.0
        out = wl.path("profile")
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            self.tracer.call(f"{wl.name}.profiled", wl.profile_unit)
        finally:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        self.spark.profile.dump(out, type="perf")
        self.spark.profile.clear()
        total = 0.0
        for name in (os.listdir(out) if os.path.isdir(out) else []):
            stats = pstats.Stats(os.path.join(out, name)).stats
            total += sum(ct for (path, _, fn), (_, _, _, ct, _) in stats.items()
                         if fn == "validate_document" and path.endswith("interpreter.py"))
        return total


def end_to_end(setup_times, ok, peak_rss) -> dict:
    return {"setup_s": median(setup_times),
            "docs_per_s": median(r["docs"] / r["wall"] for r in ok) if ok else 0.0,
            "cpu_s_per_kdoc": median(1e3 * r["cpu"] / r["docs"] for r in ok) if ok else 0.0,
            "peak_rss_mb": peak_rss / 2 ** 20}


def per_layer(runner, wl, records, ok, hook_s, flips) -> dict:
    def med(key):
        return median(r["counters"].get(key, 0) for r in ok) if ok else 0.0

    first = records[0]["fingerprint"]
    py_share = [r["py_cpu"] / r["counters"]["executor_run_s"] for r in ok
                if r["counters"].get("executor_run_s")]
    m = {
        "engine.plan_s": runner.plan_s(wl),
        "engine.python_eval_nodes": first["python_nodes"],
        "engine.codegen_stages": first["codegen_stages"],
        "udf.bytes_sent": med("udf_bytes_sent"),
        "udf.bytes_returned": med("udf_bytes_returned"),
        "udf.run_s": med("udf_run_s"),
        "udf.init_s": med("udf_init_s"),
        "udf.start_s": med("udf_start_s"),
        "udf.python_cpu_s": median(r["py_cpu"] for r in ok) if ok else 0.0,
        "udf.python_share_of_task": median(py_share) if py_share else 0.0,
        "executor.run_s": med("executor_run_s"),
        "executor.cpu_s": med("executor_cpu_s"),
        "shuffle.write_bytes": med("shuffle_write_bytes"),
        "shuffle.read_bytes": med("shuffle_read_bytes"),
        "spill.bytes": med("spill_bytes"),
        "stages": med("stages"),
        "jvm_gc_s": med("jvm_gc_s"),
        "cache.stored_bytes": med("cache_bytes"),
        "plan.fingerprint_flips": flips,
        "trace.overhead_share": hook_s / sum(r["wall"] for r in ok) if ok else 0.0,
        "interpreter.profile_s": runner.profile_s(wl),
    }
    m.update(wl.layers(ok, runner.measure))
    return m


def run_workload(runner, wl, seconds: float, trace: bool, spec: dict) -> dict:
    from probe import fingerprint_differs

    print(f"== {wl.name}: seed={wl.seed} trace={int(trace)}", flush=True)
    setup_times = runner.setup(wl)
    print(f"setup reps (s): {[round(t, 3) for t in setup_times]}", flush=True)
    records, peak_rss, hook_s = runner.passes(
        wl, seconds, wl.traced_min_passes if trace else 1)
    ok = [r for r in records if not r["errors"]]
    first = records[0]["fingerprint"]
    flips = 0
    for i, r in enumerate(records):
        flipped = fingerprint_differs(first, r["fingerprint"])
        flips += flipped
        flip = " FLIP" if flipped else ""
        wall = (f"wall={r['wall']:.3f}s cpu={r['cpu']:.2f}s "
                f"python_workers={r['py_cpu']:.2f}s" if "wall" in r else "-")
        print(f"pass {i}: {wall} fingerprint={r['fingerprint']}{flip} "
              f"check={'ok' if not r['errors'] else 'FAILED'}", flush=True)
        for e in r["errors"]:
            print(f"  check failed: {e}", file=sys.stderr, flush=True)
    print(f"output check: {len(ok)} of {len(records)} passes ok "
          f"(failed_share={(len(records) - len(ok)) / len(records):.3f}); "
          f"plan fingerprint flips: {flips}", flush=True)

    values = (per_layer(runner, wl, records, ok, hook_s, flips) if trace
              else end_to_end(setup_times, ok, peak_rss))
    wanted = spec["per_layer" if trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)),
                              "unit": m["unit"]}
        print(f"{wl.name} {m['name']} = {metrics[m['name']]['value']:.6g} "
              f"{m['unit']}", flush=True)
    return {"correct": len(ok) == len(records), "attempted": len(records),
            "failed": len(records) - len(ok), "metrics": metrics}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    help="a workload of workloads.py, or all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:  # the program under test must be importable from the checkout
        import gojsonschema_spark  # noqa: F401
        import pyspark
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    from probe import ProcTree, SparkCounters
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload != "all" and args.workload not in WORKLOADS:
        ap.error(f"--workload: choose from {', '.join(WORKLOADS)} or all")
    host = host_info()
    heap_mb = driver_heap_mb(host["mem_total_mb"])
    cores = host["nproc"]
    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    traces = os.path.join(HERE, "_work", "traces")
    os.makedirs(traces, exist_ok=True)
    tree = ProcTree()
    t0 = time.perf_counter()
    spark = start_spark(work, cores, heap_mb)
    session_s = time.perf_counter() - t0
    host.update(pyspark=pyspark.__version__, heap_mb=heap_mb,
                java=spark._jvm.java.lang.System.getProperty("java.version"))
    print(f"host: {json.dumps(host)}", flush=True)
    print(f"session start: {session_s:.3f} s", flush=True)

    results = {}
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        runner = Runner(spark, tree, SparkCounters(spark), tracer)
        for name in (WORKLOADS if args.workload == "all" else [args.workload]):
            wl = WORKLOADS[name](spark, work, args.seed, tracer, cores)
            results[name] = run_workload(runner, wl, args.seconds,
                                         bool(args.trace), spec)
        if args.trace:
            tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
                        {"host": host, "session_start_s": session_s,
                         "results": results})
    finally:
        stop_spark(spark, tree)
        shutil.rmtree(work, ignore_errors=True)

    if args.workload == "all":
        out = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {f"{w}/{k}": v for w, r in results.items()
                           for k, v in r["metrics"].items()}}
    else:
        out = results[args.workload]
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
