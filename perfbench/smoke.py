"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json once untraced and once traced in
``--smoke`` mode (sf0.001 inputs, a tiny KV loop, one-second window) and
checks that each run exits 0, reports every named metric of its mode
with the unit BENCHMARK.json gives it, and saw no failure. It also
checks that a directory holding only the benchmark refuses to run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_run(bench: dict, workload: str, trace: int) -> list[str]:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--smoke",
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        return [f"{workload}/trace{trace}: exit {out.returncode}: {out.stderr[-1500:]}"]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{workload}/trace{trace}: keys {sorted(res)}")
    if got != want:
        errors.append(f"{workload}/trace{trace}: metrics differ from BENCHMARK.json: "
                      f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        errors.append(f"{workload}/trace{trace}: correct={res['correct']} failed={res['failed']} "
                      f"attempted={res['attempted']}")
    if not trace and res["metrics"]["ok_ratio"]["value"] != 1.0:
        errors.append(f"{workload}: ok_ratio {res['metrics']['ok_ratio']['value']}")
    return errors


def check_refuses_without_program(bench: dict) -> list[str]:
    with tempfile.TemporaryDirectory(dir=HERE, prefix=".work-bare-") as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns(".work*", ".runs", "__pycache__"))
        cmd = bench["command"] + ["--workload", bench["workloads"][0]["name"], "--seed", "1",
                                  "--seconds", "1", "--trace", "0"]
        out = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180)
    if out.returncode == 0 or out.stdout.strip():
        return ["a checkout without the program did not refuse to run"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    errors = check_refuses_without_program(bench)
    for w in bench["workloads"]:
        for trace in (0, 1):
            errors += check_run(bench, w["name"], trace)
            print(f"{w['name']} trace={trace}: {'ok' if not errors else 'FAILED'}", flush=True)
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
