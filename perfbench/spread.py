"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread (IQR over median), as the stability
check for the bounds in BENCHMARK.json.

    python3 perfbench/spread.py --workload corpus_pipeline --seeds 1 2 3 4 5

Runs are sequential, one process each, from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from probe import iqr_share  # noqa: E402


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=list(range(1, 11)))
    args = ap.parse_args()

    values, elapsed = {}, []
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds",
             str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        elapsed.append(time.perf_counter() - t0)
        if proc.returncode != 0:
            print(proc.stdout[-2000:], proc.stderr[-4000:], sep="\n")
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {elapsed[-1]:.1f} s  correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']}  " +
              " ".join(f"{k}={v['value']:.5g}" for k, v in result["metrics"].items()),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    print(f"run time: median {statistics.median(elapsed):.1f} s, "
          f"max {max(elapsed):.1f} s")
    for k, vs in values.items():
        spread = iqr_share(vs) if len(vs) >= 2 else 0.0
        bound = bounds.get(k)
        note = f" bound={bound} ({spread / bound:.2f} of it)" if bound else ""
        print(f"{k}: median={statistics.median(vs):.6g} iqr/median={spread:.4f}{note}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
