"""Run the benchmark over several seeds and summarise its steadiness.

    python3 perfbench/sweep.py --workloads batch_eager,kv_churn --seeds 1-10 [--trace 0] [--out FILE]

Runs ``perfbench/run.py`` once per (workload, seed), exactly as
BENCHMARK.json's command does, then prints for every metric its median,
quartiles and spread (interquartile range as a share of the median),
next to the bound in BENCHMARK.json, plus each run's wall time. With
``--out`` the summary, every run's metrics and the per-query medians
of the run records are written as JSON.
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
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, iqr/median) as statistics.quantiles(n=4) gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    summary: dict = {}
    for wl in a.workloads.split(","):
        runs, walls, per_query = [], [], {}
        for seed in _seeds(a.seeds):
            cmd = bench["command"] + [
                "--workload", wl, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace),
            ]
            t0 = time.time()
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            walls.append(time.time() - t0)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
                return 1
            res = json.loads(lines[-1])
            runs.append(res)
            for p in json.loads(lines[-2])["passes"]:
                for q, rec in p.get("queries", {}).items():
                    per_query.setdefault(q, []).append(rec["wall_s"])
            vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"{wl} seed {seed} ({walls[-1]:.1f}s) correct={res['correct']} {vals}", flush=True)
        metrics = {}
        for name in runs[0]["metrics"]:
            med, q1, q3, sp = spread([r["metrics"][name]["value"] for r in runs])
            metrics[name] = {"median": med, "q1": q1, "q3": q3, "spread": sp, "bound": bounds.get(name)}
            print(f"  {wl:14s} {name:40s} median={med:<12.6g} spread={sp:.4f} bound={bounds.get(name)}")
        print(f"  {wl} run wall: median {statistics.median(walls):.1f}s, total {sum(walls):.0f}s")
        summary[wl] = {
            "seeds": _seeds(a.seeds),
            "trace": a.trace,
            "all_correct": all(r["correct"] for r in runs),
            "run_wall_s": walls,
            "metrics": metrics,
            "query_wall_s_median": {q: statistics.median(v) for q, v in per_query.items()},
            "runs": [{k: v["value"] for k, v in r["metrics"].items()} for r in runs],
        }
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(summary, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
