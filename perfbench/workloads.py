"""The benchmark's workloads.

``analytics`` runs a fixed list of registered queries. Set-up is one
pass that collects every result and checks it against the query's DuckDB
oracle, then ``WARM_PASSES`` noop-sink passes that bring the fresh JVM
near its steady state. Timed noop-sink passes follow until the run's
seconds are used up. Blocks are released between queries outside the
timed parts, as ``tools/check_oracles.py`` does.

``kv_churn`` is a seeded closed loop with one client over ``api.dispatch``
and ``storage.engine.Engine``: 90/10 reads/writes on skewed keys, ~5% of
reads on keys never written (the 404 path), and a flush of a random hot
collection at the end of every cycle, with a periodic compaction. Every
read is checked against a model dict, and after the loop a fresh Engine
on the same directory must read back every acknowledged write.
"""

from __future__ import annotations

import bisect
import importlib.util
import itertools
import json
import os
import random
import string
import time
from dataclasses import dataclass, field

SF = 0.01  # scale factor of the generated tables

# The analytics query list (see BENCHMARK.json for the one-line reason):
# an eager fixpoint loop of ~31 tiny jobs, and a file-source streaming replay.
ANALYTICS = ["graph_components_star_contraction", "streaming_dedup_watermark"]

KV = {
    "collections": 4,
    "keys": 1000,
    "cycle_ops": 300,  # ops between two flushes
    "compact_every": 4,  # flushes per compaction
    "warm_cycles": 4,  # one compaction period
    "read_share": 0.9,
    "missing_share": 0.05,  # share of reads on never-written keys
}

SMOKE_KV = {**KV, "collections": 3, "keys": 50, "cycle_ops": 40}

MIN_PASSES = 2
WARM_PASSES = 1  # untimed noop passes after the checked one


def load_oracle_tools(root: str):
    """``tools/check_oracles.py`` as a module (canon, value_hash,
    _release_blocks), imported without editing it."""
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(root, "tools", "check_oracles.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass
class Ctx:
    spark: object
    tracer: object
    seconds: float
    seed: int
    sf_dir: str
    work: str
    tools: object
    smoke: bool = False


@dataclass
class Result:
    warmup_s: float = 0.0
    passes: list = field(default_factory=list)  # per pass: {"wall_s", "start", "end", "n_ops", ...}
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.problems.append(what)


# -- analytics ------------------------------------------------------------


def _oracle_problem(ctx: Ctx, con, name: str, sdf) -> str | None:
    from gotsdb_spark.operators import ORACLES

    odf = con.execute(ORACLES[name]).fetchdf()
    if len(sdf) != len(odf):
        return f"rows spark={len(sdf)} duckdb={len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"columns spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}"
    t = ctx.tools
    if t.value_hash(t.canon(sdf)) != t.value_hash(t.canon(odf)):
        return "value hash differs"
    return None


def _run_query(ctx: Ctx, name: str, collect: bool):
    """One query: operator call (build) then its final plan (exec).
    Returns (record, pandas result or None)."""
    from gotsdb_spark.operators import QUERIES

    tr = ctx.tracer
    fn = QUERIES[name]
    module = fn.__module__.rsplit(".", 1)[-1]
    rec = {"query": name, "module": module, "start": time.time()}
    out = None
    with tr.span(f"query:{name}", module=module):
        t0 = time.perf_counter()
        with tr.span("build"):
            df = fn(ctx.spark, ctx.sf_dir)
        t1 = time.perf_counter()
        with tr.span("exec"):
            if collect:
                out = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    rec.update(end=time.time(), build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0)
    return rec, out


def _batch_pass(ctx: Ctx, res: Result, queries: list[str], con=None) -> dict:
    """One pass over ``queries``; with ``con`` results are collected and
    checked against their DuckDB oracles (outside the timed parts)."""
    ops = []
    start = time.time()
    for name in queries:
        res.attempted += 1
        try:
            rec, out = _run_query(ctx, name, collect=con is not None)
        except Exception as exc:  # noqa: BLE001 — a failing query is a measured failure
            res.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            ctx.tools._release_blocks(ctx.spark)
            continue
        ops.append(rec)
        if con is not None:
            try:
                problem = _oracle_problem(ctx, con, name, out)
            except Exception as exc:  # noqa: BLE001 — an unchecked result is a failure
                problem = f"oracle error {type(exc).__name__}: {str(exc)[:200]}"
            if problem:
                res.fail(f"{name}: oracle mismatch: {problem}")
        ctx.tools._release_blocks(ctx.spark)
    return {
        "wall_s": sum(r["wall_s"] for r in ops),
        "start": start,
        "end": time.time(),
        "n_ops": len(ops),
        "ops": ops,
    }


def run_analytics(ctx: Ctx) -> Result:
    import duckdb

    from gotsdb_spark.sources.registry import TABLES

    queries = ANALYTICS
    res = Result()
    listener = None
    if ctx.tracer.enabled:
        from tracing import progress_listener

        listener = progress_listener()
        ctx.spark.streams.addListener(listener)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.sf_dir}/{t}.parquet')")
    with ctx.tracer.span("warmup"):
        warm = [_batch_pass(ctx, res, queries, con=con)]
        con.close()
        for _ in range(0 if ctx.smoke else WARM_PASSES):
            warm.append(_batch_pass(ctx, res, queries))
    res.warmup_s = sum(p["wall_s"] for p in warm)
    if listener is not None:
        listener.drain()
    recorder0 = ctx.tracer.cost_s
    deadline = time.perf_counter() + ctx.seconds
    while len(res.passes) < MIN_PASSES or time.perf_counter() < deadline:
        with ctx.tracer.span("pass", index=len(res.passes)):
            res.passes.append(_batch_pass(ctx, res, queries))
    res.extra["recorder_s"] = ctx.tracer.cost_s - recorder0
    if listener is not None:
        res.extra["stream_batches"] = listener.drain()
        ctx.spark.streams.removeListener(listener)
    return res


# -- kv_churn --------------------------------------------------------------


def _weights(n: int, s: float) -> list[float]:
    """Cumulative Zipf(s) weights over ranks 0..n-1."""
    return list(itertools.accumulate(1.0 / (i + 1) ** s for i in range(n)))


def _pick(rng: random.Random, cum: list[float]) -> int:
    return bisect.bisect_left(cum, rng.random() * cum[-1])


def _value(rng: random.Random) -> str:
    return "".join(rng.choices(string.ascii_letters + string.digits, k=rng.randint(8, 16)))


def kv_initial(seed: int, spec: dict) -> dict[tuple[str, str], str]:
    """The collections' initial contents."""
    rng = random.Random(f"kv-initial-{seed}")
    return {
        (f"c{c}", f"k{k}"): _value(rng)
        for c in range(spec["collections"])
        for k in range(spec["keys"])
    }


def kv_ops(seed: int, spec: dict):
    """Endless seeded op stream. Yields cycles: lists of ops, the last
    one a flush of a random hot collection. Every ``compact_every``-th
    flush also compacts the cold collection whose log has the most
    segments, so every seed times the same mix of cycles and the logs
    stay short.

    Ops: ("read", coll, key, cold, missing) / ("write", coll, key,
    value, cold) / ("flush", coll, compacted_coll or None). ``cold``
    marks ops on a collection that is in the cold tier at that point, so
    the op pays the promotion; ``missing`` marks keys never written. The
    generator mirrors the engine's tiering: a read or write promotes, a
    flush demotes, and a flush appends a log segment only when the
    collection has unflushed writes."""
    rng = random.Random(f"kv-ops-{seed}")
    colls = [f"c{i}" for i in range(spec["collections"])]
    ccum, kcum = _weights(len(colls), 1.0), _weights(spec["keys"], 1.1)
    hot: set[str] = set()
    dirty: set[str] = set()
    segments = dict.fromkeys(colls, 1)  # the initial load's flush
    for n_flush in itertools.count(1):
        cycle = []
        for _ in range(spec["cycle_ops"]):
            c = colls[_pick(rng, ccum)]
            cold = c not in hot
            hot.add(c)
            if rng.random() < spec["read_share"]:
                if rng.random() < spec["missing_share"]:
                    cycle.append(("read", c, f"x{rng.randrange(10**9)}", cold, True))
                else:
                    cycle.append(("read", c, f"k{_pick(rng, kcum)}", cold, False))
            else:
                cycle.append(("write", c, f"k{_pick(rng, kcum)}", _value(rng), cold))
                dirty.add(c)
        victim = rng.choice(sorted(hot))
        hot.discard(victim)
        if victim in dirty:
            dirty.discard(victim)
            segments[victim] += 1
        target = None
        if n_flush % spec["compact_every"] == 0:
            target = max(sorted(set(colls) - hot), key=segments.__getitem__)
            segments[target] = 1
        cycle.append(("flush", victim, target))
        yield cycle


def _kv_cycle(ctx: Ctx, engine, dispatch, model: dict, cycle: list, res: Result, stats: dict) -> dict:
    tr = ctx.tracer
    start = time.time()
    wall = 0.0
    for op in cycle:
        kind, coll = op[0], op[1]
        res.attempted += 1
        t0 = time.perf_counter()
        if kind == "read":
            with tr.span("api.dispatch", route="read"):
                resp = dispatch(engine, "GET", f"/collections/{coll}/{op[2]}")
        elif kind == "write":
            with tr.span("api.dispatch", route="write"):
                resp = dispatch(engine, "PUT", f"/collections/{coll}/{op[2]}/{op[3]}")
        else:
            engine.flush_collection(coll)
            t1 = time.perf_counter()
            stats["flush_ms"].append((t1 - t0) * 1000)
            if op[2]:
                engine.compact(op[2])
                stats["compact_ms"].append((time.perf_counter() - t1) * 1000)
            resp = None
        dt = time.perf_counter() - t0
        wall += dt
        if resp is None:
            continue
        if resp.status == 404:
            stats["not_found"] += 1
        if kind == "read":
            stats["read_us"].append(dt * 1e6)
            if op[3]:
                stats["cold_read_ms"].append(dt * 1000)
            if op[4]:
                stats["missing_issued"] += 1
                if resp.status != 404:
                    res.fail(f"read of never-written {coll}/{op[2]}: HTTP {resp.status}")
            elif resp.status != 200:
                res.fail(f"read {coll}/{op[2]}: HTTP {resp.status}")
            elif json.loads(resp.body)["data"] != model[(coll, op[2])]:
                res.fail(f"read {coll}/{op[2]}: wrong value")
        else:
            stats["write_us"].append(dt * 1e6)
            if resp.status != 200:
                res.fail(f"write {coll}/{op[2]}: HTTP {resp.status}")
            else:
                model[(coll, op[2])] = op[3]
    return {"wall_s": wall, "start": start, "end": time.time(), "n_ops": len(cycle)}


def run_kv(ctx: Ctx) -> Result:
    from gotsdb_spark.api import dispatch
    from gotsdb_spark.storage.engine import Engine

    spec = SMOKE_KV if ctx.smoke else KV
    res = Result()
    data_dir = os.path.join(ctx.work, "kv")
    engine = Engine(ctx.spark, data_dir)
    if ctx.tracer.enabled:
        for m in ("read_key", "write_key", "load_collection", "flush_collection", "compact"):
            ctx.tracer.wrap(engine, m, f"engine.{m}")
    model = kv_initial(ctx.seed, spec)
    empty = lambda: {  # noqa: E731
        "read_us": [], "write_us": [], "cold_read_ms": [],
        "flush_ms": [], "compact_ms": [], "not_found": 0, "missing_issued": 0,
    }
    stats = empty()
    cycles = kv_ops(ctx.seed, spec)
    t0 = time.perf_counter()
    with ctx.tracer.span("warmup"):
        for (c, k), v in model.items():
            engine.write_key(c, k, v)
        for c in sorted({c for c, _ in model}):
            engine.flush_collection(c)
        for _ in range(spec["warm_cycles"]):
            _kv_cycle(ctx, engine, dispatch, model, next(cycles), res, stats)
    res.warmup_s = time.perf_counter() - t0
    if stats["not_found"] != stats["missing_issued"]:
        res.fail("warm-up 404 count differs from never-written reads issued")
    stats = empty()
    recorder0 = ctx.tracer.cost_s
    deadline = time.perf_counter() + ctx.seconds
    # The warm-up is one compaction period and the window ends on a
    # compacting cycle, so every run times whole periods.
    compacted = False
    while len(res.passes) < MIN_PASSES or time.perf_counter() < deadline or not compacted:
        cycle = next(cycles)
        compacted = cycle[-1][2] is not None
        with ctx.tracer.span("pass", index=len(res.passes)):
            res.passes.append(_kv_cycle(ctx, engine, dispatch, model, cycle, res, stats))
    res.extra["recorder_s"] = ctx.tracer.cost_s - recorder0
    if stats["not_found"] != stats["missing_issued"]:
        res.fail(
            f"api.not_found={stats['not_found']} but {stats['missing_issued']} "
            "never-written reads were issued"
        )
    files = [os.path.join(d, f) for d, _, fs in os.walk(data_dir) for f in fs if f.endswith(".parquet")]
    live = sum(len(k) + len(v) for (_, k), v in model.items())
    stats["log_files"] = len(files)
    stats["disk_bytes_per_live_byte"] = sum(os.path.getsize(f) for f in files) / live
    res.extra["kv"] = stats

    # Durability: flush everything, then a fresh Engine must read back
    # every acknowledged write.
    for exc in engine.flush_all_collections():
        res.fail(f"flush_all_collections: {exc!r}")
    reopened = Engine(ctx.spark, data_dir)
    lost = 0
    for (c, k), v in model.items():
        try:
            ok = reopened.read_key(c, k) == v
        except KeyError:
            ok = False
        lost += not ok
    if lost:
        res.fail(f"{lost} acknowledged writes not read back after restart", n=lost)
    return res
