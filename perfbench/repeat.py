"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/repeat.py --workload crawl_fresh --seeds 1-10
    python3 perfbench/repeat.py --workload query_mix --seeds 1-3 --overhead

Prints, per summary metric, the median, the quartiles and the spread
(third minus first quartile, as a share of the median), which is what
BENCHMARK.json's bounds are judged against. With `--overhead`, every seed
also gets a traced run, and the tracing overhead (traced minus untraced,
per end-to-end metric of the detailed report) is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
    )
    detail, summary = proc.stdout.strip().splitlines()[-2:]
    return json.loads(detail), json.loads(summary)


def _spread(values: list[float]) -> str:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return f"median {med:.4g}  q1 {q1:.4g}  q3 {q3:.4g}  spread {(q3 - q1) / med:.3f}"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]

    values: dict[str, list[float]] = {}
    overhead: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        detail, summary = _run(args.workload, seed, seconds, 0)
        print(json.dumps({"seed": seed, **summary}), flush=True)
        for k, v in summary["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        if args.overhead:
            traced, _ = _run(args.workload, seed, seconds, 1)
            base = {m["name"]: m["value"] for m in detail["metrics"]}
            for m in traced["metrics"]:
                overhead.setdefault(m["name"], []).append(m["value"] - base[m["name"]])
    for k, vs in values.items():
        print(f"{k:18s} {_spread(vs)}" if len(vs) > 1 else f"{k:18s} {vs[0]:.4g}")
    for k, vs in overhead.items():
        print(f"overhead {k:18s} traced - untraced, median {statistics.median(vs):+.4g}")


if __name__ == "__main__":
    main()
