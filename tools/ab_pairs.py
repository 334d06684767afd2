"""Interleaved A/B pairs of the repository benchmark between two checkouts.

    python tools/ab_pairs.py A_DIR B_DIR --workload checkpointed_run \\
        --seeds 9501 9502 9503 9504 9505 9506 9507 9508 9509 9510

A is the base (the parent commit), B the change; each is the root of a
checkout with its own ``perfbench/`` and ``BENCHMARK.json``, which must be
byte-identical. For each seed it runs ``perfbench/run.py`` untraced in
both checkouts, one after the other, A first for the first seed, B first
for the next, and so on, for the run length ``BENCHMARK.json`` sets, and
reads the last JSON line of each run. It prints every pair as it
finishes, then, for each end-to-end metric of ``BENCHMARK.json``: each
side's median [Q1, Q3], B's wins (ties count for neither side), the
ratio of the medians, and

* ``claim holds`` where B wins at least 9 pairs in 10 and the medians
  are further apart than A's quartiles (the rule for claiming a gain);
* ``worse beyond bound`` where B's median is worse than A's by more than
  the metric's bound;
* ``unresolved`` where A's own spread (IQR over median) is wider than
  the bound, so that no regression could be told from noise, unless
  every run of B reads better than every run of A.

It reads the benchmark and changes nothing in either checkout but what
``perfbench/run.py`` itself writes there (under ``perfbench/_work/``).
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import statistics
import subprocess
import sys


def summarize(a: list, b: list, better: str, bound: float) -> dict:
    """The A/B summary of one metric over paired runs: ``a[i]`` and
    ``b[i]`` come from the same seed. ``better`` is ``"higher"`` or
    ``"lower"``; ``bound`` is the metric's regression bound, a share of
    A's median."""
    if len(a) != len(b) or len(a) < 2:
        raise ValueError("need at least two pairs of runs")
    sign = 1 if better == "higher" else -1
    qa, qb = statistics.quantiles(a, n=4), statistics.quantiles(b, n=4)
    iqr_a = qa[2] - qa[0]
    wins = sum(sign * (y - x) > 0 for x, y in zip(a, b))
    gain = sign * (qb[1] - qa[1])
    every_run_better = min(sign * y for y in b) > max(sign * x for x in a)
    return {
        "a": qa, "b": qb, "pairs": len(a), "wins": wins,
        "ratio": qb[1] / qa[1] if qa[1] else float("inf"),
        "claim": wins >= 0.9 * len(a) and gain > iqr_a,
        "worse_beyond_bound": -gain > bound * abs(qa[1]),
        "unresolved": iqr_a > bound * abs(qa[1]) and not every_run_better,
    }


def _same_benchmark(a_dir: str, b_dir: str) -> bool:
    if not filecmp.cmp(os.path.join(a_dir, "BENCHMARK.json"),
                       os.path.join(b_dir, "BENCHMARK.json"), shallow=False):
        return False
    names = [n for n in os.listdir(os.path.join(a_dir, "perfbench"))
             if n.endswith(".py")]
    _, mismatch, errors = filecmp.cmpfiles(os.path.join(a_dir, "perfbench"),
                                           os.path.join(b_dir, "perfbench"),
                                           names, shallow=False)
    return not mismatch and not errors


def _run(root: str, workload: str, seed: int, seconds: int) -> tuple:
    """The run's result (its last JSON line) and its ``host:`` line."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
        raise RuntimeError(f"{root}: perfbench/run.py exited {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    host = next((l for l in lines if l.startswith("host: ")), "host: ?")
    return json.loads(lines[-1]), host


def _fmt(q: list) -> str:
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a_dir", help="base checkout (the parent commit)")
    ap.add_argument("b_dir", help="changed checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    dirs = {"A": os.path.abspath(args.a_dir), "B": os.path.abspath(args.b_dir)}
    if not _same_benchmark(dirs["A"], dirs["B"]):
        print("BENCHMARK.json or perfbench/*.py differ between the checkouts")
        return 2
    with open(os.path.join(dirs["A"], "BENCHMARK.json")) as f:
        spec = json.load(f)

    runs = {"A": [], "B": []}
    for i, seed in enumerate(args.seeds):
        order = "AB" if i % 2 == 0 else "BA"
        for side in order:
            result, host = _run(dirs[side], args.workload, seed,
                                spec["run_seconds"])
            runs[side].append(result)
        if i == 0:
            print(host, flush=True)
        print(f"seed {seed} ({order[0]} first): " + "  ".join(
            f"{side} " + " ".join(f"{k}={v['value']:.5g}"
                                  for k, v in runs[side][-1]["metrics"].items())
            + f" failed={runs[side][-1]['failed']}/{runs[side][-1]['attempted']}"
            for side in "AB"), flush=True)

    print(f"{args.workload}, {len(args.seeds)} pairs, seeds {args.seeds}")
    for side in "AB":
        print(f"{side} = {dirs[side]}: failed "
              f"{sum(r['failed'] for r in runs[side])} of "
              f"{sum(r['attempted'] for r in runs[side])} passes")
    for m in spec["end_to_end"]:
        a = [r["metrics"][m["name"]]["value"] for r in runs["A"]]
        b = [r["metrics"][m["name"]]["value"] for r in runs["B"]]
        s = summarize(a, b, m["better"], m["bound"])
        flags = [f for f, on in (("claim holds", s["claim"]),
                                 ("worse beyond bound", s["worse_beyond_bound"]),
                                 ("unresolved", s["unresolved"])) if on]
        print(f"{m['name']} ({m['unit']}, {m['better']} is better, bound "
              f"{m['bound']}): A {_fmt(s['a'])}  B {_fmt(s['b'])}  "
              f"B/A x{s['ratio']:.3f}  B better in {s['wins']}/{s['pairs']}"
              + (f"  {'; '.join(flags)}" if flags else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
