"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the root of a checkout. One local Spark process at local[4]
runs the named workload (see workloads.py) on inputs generated from the
seed (see datagen.py), checks every output, and prints one JSON object
as the last line of stdout: ``correct``, ``attempted``, ``failed`` and
``metrics``. Untraced runs report the end-to-end metrics; traced runs
(``--trace 1``) report the per-layer metrics instead. The line before
it is the per-run record: per-query (or per-cycle) times of every pass.

All scratch state lives under ``perfbench/.work`` and is removed at
exit; traces and run records are kept under ``perfbench/.runs``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
DRIVER_MEM = "4g"

MODULES = ("graph", "integration")

# (name, unit, better). Every run prints every metric of its mode.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("ok_ratio", "ratio", "higher"),
]

PER_LAYER = (
    [
        ("session.start_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
        ("session.probe_cpu_s", "s", "lower"),
        ("session.probe_io_s", "s", "lower"),
        ("session.jvm_peak_rss_mb", "MB", "lower"),
    ]
    + [
        (f"operators.{m}.{k}", u, "lower")
        for m in MODULES
        for k, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                     ("stages", "count"), ("tasks", "count"))
    ]
    + [
        ("spark.jobs", "count", "lower"),
        ("spark.stages", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.tasks_per_stage", "ratio", "higher"),
        ("spark.executor_run_ms", "ms", "lower"),
        ("spark.executor_cpu_ms", "ms", "lower"),
        ("spark.gc_ms", "ms", "lower"),
        ("spark.shuffle_read_bytes", "B", "lower"),
        ("spark.shuffle_write_bytes", "B", "lower"),
        ("spark.spill_bytes", "B", "lower"),
        ("sources.input_bytes", "B", "lower"),
        ("sources.input_records", "count", "lower"),
        ("streaming.batches", "count", "lower"),
        ("streaming.trigger_ms_p50", "ms", "lower"),
        ("streaming.add_batch_ms_sum", "ms", "lower"),
        ("streaming.query_planning_ms_sum", "ms", "lower"),
        ("streaming.wal_commit_ms_sum", "ms", "lower"),
        ("streaming.input_rows", "count", "lower"),
        ("streaming.state_rows_max", "count", "lower"),
        ("streaming.state_memory_bytes_max", "B", "lower"),
        ("streaming.rows_dropped_by_watermark", "count", "lower"),
        ("storage.engine.flushes", "count", "higher"),
        ("storage.engine.flush_ms_p50", "ms", "lower"),
        ("storage.engine.flush_ms_sum", "ms", "lower"),
        ("storage.engine.promotions", "count", "higher"),
        ("storage.engine.promote_ms_sum", "ms", "lower"),
        ("storage.engine.compactions", "count", "higher"),
        ("storage.engine.compact_ms_sum", "ms", "lower"),
        ("storage.engine.jobs_per_flush", "count", "lower"),
        ("storage.engine.jobs_per_promote", "count", "lower"),
        ("storage.engine.log_files", "count", "lower"),
        ("storage.engine.disk_bytes_per_live_byte", "ratio", "lower"),
        ("api.dispatch_read_us_p50", "us", "lower"),
        ("api.dispatch_read_us_p99", "us", "lower"),
        ("api.dispatch_write_us_p50", "us", "lower"),
        ("api.cold_read_ms_p50", "ms", "lower"),
        ("api.not_found", "count", "lower"),
        ("trace.pass_s", "s", "lower"),
        ("trace.recorder_s", "s", "lower"),
    ]
)

WORKLOADS = ("analytics", "kv_churn")


def _prepare_env(work: str, trace: bool) -> None:
    """Point every scratch location of Spark, the JVM and the program
    into the run's work dir, before pyspark or the program is imported."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    from tracing import event_log_conf

    args = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.hadoop.hadoop.tmp.dir={tmp} "
        "--conf spark.ui.showConsoleProgress=false "
    )
    if trace:
        args += event_log_conf(os.path.join(work, "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = args + "pyspark-shell"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for task in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(task) as fh:
                    kids = [int(k) for k in fh.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def _stop(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait until the JVM and its
    Python workers have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{c}") for c in children):
        time.sleep(0.05)


def _probes(spark, sf_dir: str) -> tuple[float, float]:
    """bench.py's two host-speed witnesses, at a size that fits a run:
    a shuffle+agg over generated rows (CPU) and a lineitem scan+agg (IO).
    Each is the fastest of two."""
    from pyspark.sql import functions as F

    cpu = io = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        (
            spark.range(0, 10_000_000, 1, 8)
            .select((F.col("id") % 9973).alias("k"), "id")
            .groupBy("k")
            .agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("n"))
            .write.format("noop").mode("overwrite").save()
        )
        t1 = time.perf_counter()
        (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .groupBy("l_returnflag")
            .agg(F.sum("l_extendedprice").alias("s"))
            .write.format("noop").mode("overwrite").save()
        )
        t2 = time.perf_counter()
        cpu, io = min(cpu, t1 - t0), min(io, t2 - t1)
    return cpu, io


def end_to_end(start_s: float, res) -> dict[str, float]:
    from tracing import median

    passes = [p["wall_s"] for p in res.passes]
    return {
        "setup_s": start_s + res.warmup_s,
        "pass_s": median(passes),
        "ops_per_s": sum(p["n_ops"] for p in res.passes) / sum(passes),
        "ok_ratio": 1.0 - res.failed / max(1, res.attempted),
    }


def per_layer(workload: str, start_s: float, res, jobs, spans: list[dict]) -> dict[str, float]:
    """Per-layer metrics of a traced run. Counts (jobs, stages, tasks and
    the task metrics beside them) come from the first timed pass, so two
    runs on one seed repeat them exactly; times are medians over the
    timed passes."""
    from tracing import job_totals, median, percentile

    m = {name: 0.0 for name, _, _ in PER_LAYER}
    first = res.passes[0]
    m["session.start_s"] = start_s
    m["session.warmup_s"] = res.warmup_s
    m["session.probe_cpu_s"], m["session.probe_io_s"] = res.extra["probes"]
    m["session.jvm_peak_rss_mb"] = res.extra["rss_mb"]
    m["trace.pass_s"] = median(p["wall_s"] for p in res.passes)
    m["trace.recorder_s"] = res.extra["recorder_s"] / len(res.passes)

    tot = job_totals(jobs.within(first["start"], first["end"]))
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = tot[k]
    m["spark.tasks_per_stage"] = tot["tasks"] / tot["stages"] if tot["stages"] else 0.0
    m["spark.executor_run_ms"] = tot["run_ms"]
    m["spark.executor_cpu_ms"] = tot["cpu_ms"]
    m["spark.gc_ms"] = tot["gc_ms"]
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = tot[k]
    m["sources.input_bytes"] = tot["input_bytes"]
    m["sources.input_records"] = tot["input_records"]

    if workload != "kv_churn":
        for mod in MODULES:
            ops = [o for o in first["ops"] if o["module"] == mod]
            if not ops:
                continue
            t = job_totals([j for o in ops for j in jobs.within(o["start"], o["end"])])
            for k in ("jobs", "stages", "tasks"):
                m[f"operators.{mod}.{k}"] = t[k]
            for k in ("build_s", "exec_s"):
                m[f"operators.{mod}.{k}"] = median(
                    sum(o[k] for o in p["ops"] if o["module"] == mod) for p in res.passes
                )
    batches = res.extra.get("stream_batches")
    if batches:
        n = len(res.passes)
        m["streaming.batches"] = len(batches) / n
        m["streaming.trigger_ms_p50"] = median(b["trigger_ms"] for b in batches)
        for k in ("add_batch_ms", "query_planning_ms", "wal_commit_ms"):
            m[f"streaming.{k}_sum"] = sum(b[k] for b in batches) / n
        m["streaming.input_rows"] = sum(b["input_rows"] for b in batches) / n
        m["streaming.state_rows_max"] = max(b["state_rows"] for b in batches)
        m["streaming.state_memory_bytes_max"] = max(b["state_memory_bytes"] for b in batches)
        m["streaming.rows_dropped_by_watermark"] = (
            sum(b["dropped_by_watermark"] for b in batches) / n
        )
    if workload == "kv_churn":
        st = res.extra["kv"]
        window = (first["start"], res.passes[-1]["end"])
        spans = [s for s in spans if window[0] <= s["start"] <= window[1]]
        promo = [s for s in spans if s["name"] == "engine.load_collection"]
        flush = [s for s in spans if s["name"] == "engine.flush_collection"]
        m["storage.engine.flushes"] = len(st["flush_ms"])
        m["storage.engine.flush_ms_p50"] = median(st["flush_ms"])
        m["storage.engine.flush_ms_sum"] = sum(st["flush_ms"])
        m["storage.engine.promotions"] = len(promo)
        m["storage.engine.promote_ms_sum"] = sum(s["end"] - s["start"] for s in promo) * 1000
        m["storage.engine.compactions"] = len(st["compact_ms"])
        m["storage.engine.compact_ms_sum"] = sum(st["compact_ms"])
        for key, group in (("jobs_per_flush", flush), ("jobs_per_promote", promo)):
            if group:
                m[f"storage.engine.{key}"] = sum(
                    len(jobs.within(s["start"], s["end"])) for s in group
                ) / len(group)
        m["storage.engine.log_files"] = st["log_files"]
        m["storage.engine.disk_bytes_per_live_byte"] = st["disk_bytes_per_live_byte"]
        m["api.dispatch_read_us_p50"] = median(st["read_us"])
        m["api.dispatch_read_us_p99"] = percentile(st["read_us"], 0.99)
        m["api.dispatch_write_us_p50"] = median(st["write_us"])
        m["api.cold_read_ms_p50"] = median(st["cold_read_ms"])
        m["api.not_found"] = st["not_found"]
    return m


def run_record(workload: str, seed: int, trace: bool, res) -> dict:
    """Per-pass, per-query (or per-cycle) times of this run."""
    passes = []
    for p in res.passes:
        rec = {"wall_s": p["wall_s"], "n_ops": p["n_ops"]}
        if "ops" in p:
            rec["queries"] = {
                o["query"]: {k: o[k] for k in ("wall_s", "build_s", "exec_s")} for o in p["ops"]
            }
        passes.append(rec)
    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "passes": passes,
        "problems": res.problems,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001, small KV loop) for the benchmark's own test")
    a = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gotsdb_spark", "__init__.py")):
        print(f"gotsdb_spark not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    runs = os.path.join(HERE, ".runs")
    os.makedirs(runs, exist_ok=True)
    try:
        _prepare_env(work, bool(a.trace))
        return _run(a, work, runs)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(a, work: str, runs: str) -> int:
    sys.path.insert(0, ROOT)
    import datagen
    import workloads
    from tracing import JobLog, Tracer

    tracer = Tracer(bool(a.trace), f"{a.workload}-{a.seed}-{os.getpid()}")
    sf_dir = datagen.write(os.path.join(work, "data"), a.seed, 0.001 if a.smoke else workloads.SF)
    tools = workloads.load_oracle_tools(ROOT)  # imports the program

    from gotsdb_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", CPUS)
    start_s = time.perf_counter() - t0
    ctx = workloads.Ctx(spark, tracer, a.seconds, a.seed, sf_dir, work, tools, a.smoke)
    try:
        if a.workload == "kv_churn":
            res = workloads.run_kv(ctx)
        else:
            res = workloads.run_analytics(ctx)
        if a.trace:
            res.extra["probes"] = _probes(spark, sf_dir)
            res.extra["rss_mb"] = _jvm_peak_rss_mb(spark)
    finally:
        _stop(spark)

    if a.trace:
        jobs = JobLog(os.path.join(work, "eventlog"))
        metrics = per_layer(a.workload, start_s, res, jobs, tracer.spans)
        units = {n: u for n, u, _ in PER_LAYER}
        tracer.write(os.path.join(runs, f"trace-{a.workload}-{a.seed}.jsonl"))
    else:
        metrics = end_to_end(start_s, res)
        units = {n: u for n, u, _ in END_TO_END}
    record = run_record(a.workload, a.seed, bool(a.trace), res)
    with open(os.path.join(runs, f"{a.workload}-{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for p in res.problems:
        print(f"FAIL {p}", file=sys.stderr)
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
