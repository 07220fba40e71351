"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workloads crawl_deep,warc_ingest --seeds 1-10

runs ``run.py`` once per (workload, seed), one after another, and prints
per metric the median, the quartiles and the spread: the distance between
the first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of the median. Results go to ``.perfbench_runs/spread.json``.
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


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float)
    args = p.parse_args()
    if args.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]
    out = {}
    for wl in args.workloads.split(","):
        runs = []
        for seed in _seeds(args.seeds):
            t = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=False,
            )
            wall = time.perf_counter() - t
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                return proc.returncode
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            res["wall_s"] = wall
            runs.append(res)
            print(f"{wl} seed {seed}: {wall:.1f} s correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        stats = {}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            stats[name] = {"median": statistics.median(vals), "q1": q1, "q3": q3,
                           "spread": (q3 - q1) / statistics.median(vals)}
            print(f"  {name}: median {stats[name]['median']:.4g} "
                  f"spread {stats[name]['spread']:.3f}")
        out[wl] = {"runs": runs, "stats": stats,
                   "all_correct": all(r["correct"] for r in runs),
                   "max_wall_s": max(r["wall_s"] for r in runs)}
    os.makedirs(os.path.join(ROOT, ".perfbench_runs"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench_runs", "spread.json"), "w") as f:
        json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
