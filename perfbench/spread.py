#!/usr/bin/env python3
"""Run the benchmark once per seed and summarise each end-to-end metric.

    python3 perfbench/spread.py --workloads etl,query_mix --seeds 1-10 --out .bench_out/set1.json

For every workload and metric it prints and stores the median and the
spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. It also
stores the CPU steal of each run, to tell host phases from noise. Runs are
sequential, from the repository root, with ``run_seconds`` from
BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=seeds_arg, default=list(range(1, 11)))
    ap.add_argument("--out", help="write the summary here as JSON")
    args = ap.parse_args()

    summary = {}
    for w in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        walls, steal, failed = [], [], 0
        for seed in args.seeds:
            t = time.time()
            out = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            walls.append(time.time() - t)
            if out.returncode != 0:
                raise SystemExit(f"{w} seed {seed} exited {out.returncode}:\n{out.stderr[-2000:]}")
            lines = out.stdout.strip().splitlines()
            steal.append(json.loads(lines[-2])["context"]["cpu_steal_s"])
            line = json.loads(lines[-1])
            failed += line["failed"]
            for k, v in line["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        metrics = {}
        for k, v in values.items():
            q = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            metrics[k] = {"median": med, "spread": (q[2] - q[0]) / med, "values": v}
        summary[w] = {"seeds": args.seeds, "failed": failed, "mean_wall_s": statistics.mean(walls),
                      "cpu_steal_s": steal, "metrics": metrics}
        print(w, f"wall {statistics.mean(walls):.1f}s failed {failed}",
              {k: (round(m["median"], 3), round(m["spread"], 3)) for k, m in metrics.items()},
              flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
