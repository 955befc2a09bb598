"""One benchmark run in a fresh process; started by ``perfbench/run.py``.

Set-up is timed, in wall and in CPU seconds of the process tree, from
the launcher's spawn time until the session and registry are ready and
the workload's input tables are registered as views. The workload then
runs, its outputs are checked against the
registered DuckDB oracles, and the result (samples, checks, end-to-end
metrics and, when traced, per-layer metrics) is written as JSON to
``--result``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import layers as layer_trace

CLK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")

# The refresh set: one DWD, three DWM, one DWS, one ADS and one CDC query.
# Every operation of a run must succeed, so dws_product_stats is left
# out: it mismatches its oracle on generated input, because its day
# window assumes l_shipdate at midnight and the generator emits a time
# of day.
DW_QUERIES = (
    "dwd_event_split_counts",
    "dwm_unique_visit",
    "dwm_user_jump",
    "dwm_order_wide",
    "dws_visitor_stats",
    "ads_gmv_by_day",
    "cdc_scd2",
)

# stream_ingest query -> registered replay whose oracle checks its output
STREAM_ORACLES = {
    "uv": "streaming_uv_dedup",
    "jump": "streaming_jump_detect",
    "ps": "streaming_exact_distinct",
    "vs": "streaming_visitor_stats",
}
# Each run measures a fixed amount of warm work for a given --seconds:
# passes (chunks) of the nominal length below on this 4-core box, and at
# least the minimum. The count must not follow how fast the host is,
# because CPU per pass still falls from one pass to the next as the JIT
# settles.
MIN_PASSES = 1
PASS_S = 8.0
MIN_CHUNKS = 2
CHUNK_S = 9.0
WATERMARK = "11 seconds"  # the registered windowed replays' watermark
JUMP_MIN_COVERAGE = 0.95  # the streaming_jump_detect oracle's coverage rule

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "session.cold_pass_s": "s",
    "session.warmup_passes": "count",
    "sources.load_table_calls": "count",
    "sources.load_table_s": "s",
    "sources.load_table_jobs": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plan.catalyst_s": "s",
    "exec.sink_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.stage0_tasks": "count",
    "streaming.triggers": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
    "streaming.state_commit_ms": "ms",
    "trace.latency_geomean_s": "s",
    "trace.reconcile_query_pct": "%",
    "trace.reconcile_trigger_pct": "%",
    "trace.count_drift": "count",
    "log.errors": "count",
    "proc.cpu_s": "s",
    "proc.jit_cpu_s": "s",
    "proc.peak_rss_mb": "MB",
}
# Counts that must repeat exactly from pass to pass (dw_refresh) or chunk
# to chunk (stream_ingest); a difference is nondeterminism, not noise.
# State rows may grow from chunk to chunk, so like every count here they
# are compared across runs of one seed instead.
EXACT_COUNTS = ("sources.load_table_calls", "sources.load_table_jobs",
                "plans.build_jobs", "exec.jobs", "exec.tasks",
                "streaming.triggers")


# ---------------------------------------------------------------- process tree

def _proc_table() -> dict[int, list[str]]:
    table = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    table[int(entry)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                pass
    return table


def _tree(root: int) -> dict[int, list[str]]:
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, fields in table.items():
        kids.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid]
        todo.extend(kids.get(pid, ()))
    return out


def _jit_ticks(pid: int) -> int:
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:13])
        except OSError:
            pass
    return ticks


def tree_cpu_s(root: int) -> tuple[float, float]:
    """(all, JIT): user + system CPU seconds of the process tree (the
    worker, the JVM, the Python daemon and its workers, including reaped
    children), and the part of it spent in the JVM's JIT compiler
    threads. The launcher keeps those threads alive for the JVM's whole
    life, so no compiler time is folded into the total unseen."""
    tree = _tree(root)
    total = sum(sum(int(x) for x in f[11:15]) for f in tree.values())
    return total / CLK, sum(_jit_ticks(pid) for pid in tree) / CLK


def cpu_since(root: int, start: tuple[float, float]) -> tuple[float, float]:
    now = tree_cpu_s(root)
    return now[0] - start[0], now[1] - start[1]


class RssSampler(threading.Thread):
    """Samples the tree's summed resident set every 0.2 s; keeps the peak."""

    def __init__(self, root: int) -> None:
        super().__init__(daemon=True)
        self.root = root
        self.peak_mb = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(0.2):
            mb = sum(int(f[21]) for f in _tree(self.root).values()) * PAGE / 2**20
            self.peak_mb = max(self.peak_mb, mb)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_mb


# ---------------------------------------------------------------- oracle checks

def compare(con, got: pa.Table, want: pa.Table) -> str | None:
    """None when equal, else a one-line reason. Order-insensitive and
    exact: both sides are cast to text by DuckDB and compared as
    multisets, like the stringified check of the oracle-parity tests."""
    cols = sorted(got.column_names)
    if cols != sorted(want.column_names):
        return f"columns {cols} vs oracle {sorted(want.column_names)}"
    if got.num_rows != want.num_rows:
        return f"{got.num_rows} rows vs oracle {want.num_rows}"
    con.register("got_t", got)
    con.register("want_t", want)
    text = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
    (bad,) = con.execute(
        f"SELECT count(*) FROM (SELECT {text} FROM got_t "
        f"EXCEPT ALL SELECT {text} FROM want_t)").fetchone()
    con.unregister("got_t")
    con.unregister("want_t")
    return f"{bad} rows differ from oracle" if bad else None


def duck_views(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, pattern in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{pattern}')")
    return con


def cached_oracle(con, sql: str, cache: str) -> pa.Table:
    """Oracle answer, cached per generated input (one input dir per seed)."""
    if os.path.exists(cache):
        return pq.read_table(cache)
    tbl = con.execute(sql).arrow()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    pq.write_table(tbl, cache + ".tmp")
    os.replace(cache + ".tmp", cache)
    return tbl


# ---------------------------------------------------------------- helpers

def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    """Geometric mean: every operation weighs the same in relative terms,
    so one slow query cannot dominate and a median cannot jump between
    two different queries from run to run."""
    return statistics.geometric_mean(xs)


def warmup_passes(walls: list[float]) -> int:
    """Passes up to and including the first within 10% of the fastest."""
    best = min(walls)
    return next(i for i, w in enumerate(walls, 1) if w <= 1.1 * best)


def op_metrics(lat: list[float], work: int, cpu: float, jit: float) -> dict:
    """Figures of the measured window. ``cpu_per_op_s``, the bounded one,
    is the tree's CPU per operation without the JIT compiler threads
    (see perfbench/run.py). Wall latency and throughput (``work`` units
    per second of operation latency) stay in the run record."""
    return {
        "cpu_per_op_s": (cpu - jit) / len(lat),
        "cpu_s": cpu / len(lat),
        "jit_cpu_s": jit / len(lat),
        "latency_geomean_s": geomean(lat),
        "throughput_per_s": work / sum(lat),
    }


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: list[dict] = []
        self.checks: dict[str, str | None] = {}
        self.layers: dict[str, float] = {k: 0.0 for k in PER_LAYER_UNITS}
        self.extra: dict = {}

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        if exc is not None:
            what += f": {type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
            traceback.print_exc()
        self.failures.append(what)


# ---------------------------------------------------------------- dw_refresh

def run_dw(spark, specs, run: Run, sampler_root: int) -> dict:
    args = run.args
    tracing = bool(args.trace)
    groups = layer_trace.JobGroups(spark) if tracing else None
    loads = layer_trace.LoadTableTimer(groups) if tracing else None
    if loads:
        loads.install()
    base_views = {t.name for t in spark.catalog.listTables()}

    def one(name: str, pass_no: int, sink) -> tuple[dict, object]:
        """Build + sink one query. Untraced, latency is the only span.
        Traced, each phase is timed inside its job group and the latency
        around all of them, so the reconciliation sees the trace's cost."""
        rec = {"query": name, "pass": pass_no}
        t0 = time.perf_counter()
        if not tracing:
            out = sink(specs[name].fn(spark, args.inputs))
            rec["latency_s"] = time.perf_counter() - t0
            return rec, out
        with groups.group(name, "build", pass_no):
            a = time.perf_counter()
            df = specs[name].fn(spark, args.inputs)
            rec["build_s"] = time.perf_counter() - a
        with groups.group(name, "plan", pass_no):
            a = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            rec["plan_s"] = time.perf_counter() - a
        with groups.group(name, "exec", pass_no):
            a = time.perf_counter()
            out = sink(df)
            rec["sink_s"] = time.perf_counter() - a
        rec["latency_s"] = time.perf_counter() - t0
        rec["load_s"] = loads.seconds[(name, pass_no)]
        rec["load_calls"] = loads.calls[(name, pass_no)]
        return rec, out

    def end_pass() -> None:
        for t in spark.catalog.listTables():
            if t.isTemporary and t.name not in base_views:
                spark.catalog.dropTempView(t.name)
        spark.catalog.clearCache()

    # pass 0: build, collect and check every query once (untimed; warms up)
    con = duck_views({f[:-len(".parquet")]: os.path.join(args.inputs, f)
                      for f in os.listdir(args.inputs) if f.endswith(".parquet")})
    check_recs = []
    for name in DW_QUERIES:
        run.attempted += 1
        try:
            rec, got = one(name, 0, lambda df: df.toArrow())
            check_recs.append(rec)
            want = cached_oracle(con, specs[name].oracle, os.path.join(
                args.inputs, "oracle", f"{name}.parquet"))
        except Exception as exc:  # a failed query is a result, not a crash
            run.fail(f"{name} (check pass)", exc)
            run.checks[name] = "raised"
            continue
        run.checks[name] = compare(con, got, want)
        if run.checks[name]:
            run.fail(f"{name}: {run.checks[name]}")
    con.close()
    pass_walls = [sum(r["latency_s"] for r in check_recs)]
    end_pass()

    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    cpu0 = tree_cpu_s(sampler_root)
    pass_cpus: list[tuple[float, float]] = []
    # a traced run needs two measured passes to see counts repeat
    passes = max(MIN_PASSES, 2 if tracing else 1, math.ceil(args.seconds / PASS_S))
    for pass_no in range(1, passes + 1):
        t_pass = time.perf_counter()
        c_pass = tree_cpu_s(sampler_root)
        for name in DW_QUERIES:
            run.attempted += 1
            try:
                rec, _ = one(name, pass_no, noop)
            except Exception as exc:
                run.fail(f"{name} (pass {pass_no})", exc)
                continue
            run.samples.append(rec)
        pass_walls.append(time.perf_counter() - t_pass)
        pass_cpus.append(cpu_since(sampler_root, c_pass))
        end_pass()
    cpu, jit = cpu_since(sampler_root, cpu0)
    if loads:
        loads.uninstall()
    lat = [r["latency_s"] for r in run.samples]
    run.extra.update(pass_walls=pass_walls, pass_cpus=pass_cpus,
                     check_pass=check_recs)
    if tracing:
        run.layers["session.cold_pass_s"] = pass_walls[0]
        run.layers["session.warmup_passes"] = warmup_passes(pass_walls)
        run.layers["trace.latency_geomean_s"] = geomean(lat)
    return op_metrics(lat, len(lat), cpu, jit)


def dw_layers(run: Run, log: dict) -> None:
    """Per-pass layer totals from the traced samples and the event log;
    the reported value is the median over measured passes."""
    groups = log["groups"]
    by_pass: dict[int, dict[str, float]] = {}
    worst = 0.0
    for rec in run.samples + run.extra["check_pass"]:
        p, q = rec["pass"], rec["query"]
        tot = by_pass.setdefault(p, {})
        load = groups.get((f"{q}:load", f"pass{p}"), {})
        build = groups.get((f"{q}:build", f"pass{p}"), {})
        ex = groups.get((f"{q}:exec", f"pass{p}"), {})
        parts = {
            "sources.load_table_calls": rec["load_calls"],
            "sources.load_table_s": rec["load_s"],
            "sources.load_table_jobs": load.get("jobs", 0),
            "plans.build_s": rec["build_s"] - rec["load_s"],
            "plans.build_jobs": build.get("jobs", 0),
            "plan.catalyst_s": rec["plan_s"],
            "exec.sink_s": rec["sink_s"],
            "exec.jobs": ex.get("jobs", 0),
            "exec.stage0_tasks": ex.get("scan_tasks", 0),
            **{f"exec.{k}": ex.get(k, 0) for k in layer_trace.TASK_FIELDS},
        }
        for k, v in parts.items():
            tot[k] = tot.get(k, 0) + v
        layered = (rec["load_s"] + parts["plans.build_s"] + rec["plan_s"]
                   + rec["sink_s"])
        worst = max(worst, abs(layered / rec["latency_s"] - 1) * 100)
    measured = [by_pass[p] for p in sorted(by_pass) if p > 0]
    for k in measured[0]:
        run.layers[k] = median([m[k] for m in measured])
    # build-side counts also hold for the check pass; exec counts differ
    # there because it collects instead of writing to the noop sink
    drift = {k for k in EXACT_COUNTS if len({m.get(k) for m in measured}) > 1}
    drift |= {k for k in ("sources.load_table_calls", "sources.load_table_jobs",
                          "plans.build_jobs")
              if by_pass[0][k] != measured[0][k]}
    run.layers["trace.count_drift"] = len(drift)
    run.layers["trace.reconcile_query_pct"] = worst
    run.extra["per_pass_layers"] = by_pass
    run.extra["drifting_counts"] = sorted(drift)


# ---------------------------------------------------------------- stream_ingest

def day_chunks(events_path: str) -> list:
    """The events table sorted by (ts, event_id) and cut at day
    boundaries, so no timestamp spans two chunks."""
    tbl = pq.read_table(events_path).sort_by([("ts", "ascending"),
                                              ("event_id", "ascending")])
    day = pc.floor_temporal(tbl["ts"], unit="day")
    chunks, start = [], 0
    ends = pc.not_equal(day.slice(1), day.slice(0, len(day) - 1))
    for i in pc.indices_nonzero(ends).to_pylist():
        chunks.append(tbl.slice(start, i + 1 - start))
        start = i + 1
    chunks.append(tbl.slice(start))
    return chunks


def run_stream(spark, specs, run: Run, sampler_root: int) -> dict:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from gmall2021_flink_dw_spark.streaming import pipelines, stateful

    args = run.args
    events_path = os.path.join(args.inputs, "events.parquet")
    base = os.path.join(args.work, "stream")
    shutil.rmtree(base, ignore_errors=True)
    src, stage, out_dir = (os.path.join(base, d) for d in ("src", "stage", "dws"))
    for d in (src, stage):
        os.makedirs(d)
    raw_schema = spark.read.parquet(events_path).schema

    def source():
        s = spark.readStream.schema(raw_schema).parquet(src)
        ts = raw_schema["ts"].dataType
        if isinstance(ts, T.LongType):
            return s.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts, T.TimestampNTZType):
            return s.withColumn("ts", F.col("ts").cast("timestamp"))
        return s

    def memory_sink(df, name):
        return (df.writeStream.outputMode("append").format("memory")
                .queryName(name)
                .option("checkpointLocation", os.path.join(base, f"ckpt_{name}"))
                .start())

    listener = None
    if args.trace:
        listener = layer_trace.ProgressListener()
        spark.streams.addListener(listener)
    # run_to_memory reclaims the checkpoint of its previous call, which a
    # still-running query needs, so exactly one of the three memory sinks
    # starts through it; the other two use the same writer directly.
    queries = {
        "uv": pipelines.run_to_memory(
            stateful.uv_dedup_ttl_stream_bucketed(source()), "uv"),
        "jump": memory_sink(stateful.jump_detect_stream_bucketed(source()), "jump"),
        "ps": memory_sink(pipelines.product_stats_transform(
            source().withWatermark("ts", WATERMARK)), "ps"),
        "vs": pipelines.write_dws_parquet(
            pipelines.visitor_stats_transform(
                source().withWatermark("ts", WATERMARK)).drop("uv_ct_approx"),
            out_dir, os.path.join(base, "ckpt_vs")),
    }

    chunks = day_chunks(events_path)
    landed: list[dict] = []

    def land(k: int) -> float:
        name = f"part-{k:05d}.parquet"
        pq.write_table(chunks[k], os.path.join(stage, name))
        t0 = time.perf_counter()
        c0 = tree_cpu_s(sampler_root)
        rec = {"chunk": k, "events": chunks[k].num_rows, "landed_at": time.time()}
        os.rename(os.path.join(stage, name), os.path.join(src, name))
        for q in queries.values():
            q.processAllAvailable()
        rec["latency_s"] = time.perf_counter() - t0
        rec["done_at"] = time.time()
        rec["cpu_s"], rec["jit_cpu_s"] = cpu_since(sampler_root, c0)
        run.attempted += len(queries)
        landed.append(rec)
        return rec["latency_s"]

    measure = max(MIN_CHUNKS, math.ceil(args.seconds / CHUNK_S))
    try:
        land(0)  # cold: JIT, Python workers, first state-store versions
        for k in range(1, min(measure + 1, len(chunks))):
            land(k)
            run.samples.append(landed[-1])
    except Exception as exc:  # a query died: the app is down, stop landing
        run.fail(f"chunk {len(landed)}", exc)
    finally:
        for q in queries.values():
            q.stop()
    if not run.samples:
        raise RuntimeError(f"no measured chunk committed: {run.failures}")

    check_stream(spark, specs, run, src, out_dir)
    lat = [r["latency_s"] for r in run.samples]
    events = sum(r["events"] for r in run.samples)
    run.extra["chunks"] = landed
    if listener is not None:
        stream_progress_layers(run, listener.progress, landed, queries)
        run.layers["session.cold_pass_s"] = landed[0]["latency_s"]
        run.layers["session.warmup_passes"] = warmup_passes(
            [r["latency_s"] for r in landed])
        run.layers["trace.latency_geomean_s"] = geomean(lat)
    return op_metrics(lat, events, sum(r["cpu_s"] for r in run.samples),
                      sum(r["jit_cpu_s"] for r in run.samples))


def check_stream(spark, specs, run: Run, src: str, out_dir: str) -> None:
    con = duck_views({"events": os.path.join(src, "*.parquet")})
    outputs = {
        "uv": lambda: spark.table("uv").toArrow(),
        "jump": lambda: spark.table("jump").toArrow(),
        "ps": lambda: spark.table("ps").toArrow(),
        "vs": lambda: spark.read.parquet(out_dir).drop("dt").toArrow(),
    }
    for name, get in outputs.items():
        run.attempted += 1
        try:
            got = get()
            want = con.execute(specs[STREAM_ORACLES[name]].oracle).arrow()
        except Exception as exc:
            run.fail(f"{name} output check", exc)
            run.checks[name] = "raised"
            continue
        if name == "jump":
            # the oracle's rule: no spurious bounce, >= 95% of batch bounces
            key = lambda t: set(zip(t["user_id"].to_pylist(),  # noqa: E731
                                    t["event_id"].to_pylist()))
            streamed, batch = key(got), key(want)
            spurious = len(streamed - batch)
            cov = len(streamed & batch) / max(1, len(batch))
            ok = spurious == 0 and cov >= JUMP_MIN_COVERAGE
            reason = None if ok else f"{spurious} spurious bounces, coverage {cov:.3f}"
        else:
            reason = compare(con, got, want)
        run.checks[name] = reason
        if reason:
            run.fail(f"{name}: {reason}")
    con.close()


def stream_progress_layers(run: Run, progress: list[dict], landed: list[dict],
                           queries: dict) -> None:
    """Per-chunk trigger phases and state from the listener; the reported
    value is the median over the measured chunks."""
    def chunk_of(p):
        # by the trigger's end: a trigger may start polling just before
        # the rename and still pick the chunk up
        end = (datetime.fromisoformat(p["timestamp"]).timestamp()
               + p["durationMs"]["triggerExecution"] / 1000)
        for rec in landed:
            if rec["landed_at"] <= end <= rec["done_at"]:
                return rec["chunk"]
        return None

    phase_keys = {"addBatch": "streaming.add_batch_ms",
                  "queryPlanning": "streaming.query_planning_ms",
                  "walCommit": "streaming.wal_commit_ms",
                  "commitOffsets": "streaming.commit_offsets_ms",
                  "latestOffset": "streaming.latest_offset_ms"}
    per_chunk: dict[int, dict[str, float]] = {}
    last_state: dict[int, dict[str, tuple]] = {}
    worst = 0.0
    for p in progress:
        k = chunk_of(p)
        if k is None:
            continue
        d = p.get("durationMs", {})
        tot = per_chunk.setdefault(k, {v: 0.0 for v in phase_keys.values()})
        trig = d.get("triggerExecution", 0)
        tot["streaming.triggers"] = tot.get("streaming.triggers", 0) + 1
        tot["streaming.trigger_ms"] = tot.get("streaming.trigger_ms", 0) + trig
        for src_key, dst in phase_keys.items():
            tot[dst] += d.get(src_key, 0)
        ops = p.get("stateOperators", [])
        tot["streaming.state_commit_ms"] = (tot.get("streaming.state_commit_ms", 0)
                                            + sum(o.get("commitTimeMs", 0) for o in ops))
        last_state.setdefault(k, {})[p["id"]] = (
            p["batchId"], sum(o.get("numRowsTotal", 0) for o in ops),
            sum(o.get("memoryUsedBytes", 0) for o in ops))
        if trig >= 50:  # phases of very short triggers are within timer noise
            phases = sum(v for key, v in d.items() if key != "triggerExecution")
            worst = max(worst, abs(phases / trig - 1) * 100)
    # state after a chunk = each query's last batch of that chunk; a query
    # without a batch in the chunk keeps its previous state
    state: dict[str, tuple] = {}
    for rec in landed:
        k = rec["chunk"]
        for qid, v in last_state.get(k, {}).items():
            if qid not in state or v[0] >= state[qid][0]:
                state[qid] = v
        tot = per_chunk.setdefault(k, {})
        tot["streaming.state_rows"] = sum(v[1] for v in state.values())
        tot["streaming.state_mem_mb"] = sum(v[2] for v in state.values()) / 2**20
    run.extra["per_chunk_layers"] = per_chunk
    run.extra["trigger_reconcile_worst_pct"] = worst
    run.layers["trace.reconcile_trigger_pct"] = worst
    measured = [per_chunk.get(r["chunk"], {}) for r in run.samples]
    for key in set().union(*measured):
        run.layers[key] = median([m.get(key, 0) for m in measured])
    run.extra["query_ids"] = {n: str(q.id) for n, q in queries.items()}


def stream_exec_layers(run: Run, log: dict) -> None:
    """Micro-batch jobs of the four queries, bucketed into chunks by job
    submission time."""
    ids = set(run.extra["query_ids"].values())
    per_chunk: dict[int, dict[str, float]] = {}
    for qid, jobs in log["streams"].items():
        if qid not in ids:
            continue
        for submit_ms, s in jobs:
            for rec in run.extra["chunks"]:
                if rec["landed_at"] * 1000 <= submit_ms <= rec["done_at"] * 1000:
                    tot = per_chunk.setdefault(rec["chunk"], {})
                    tot["exec.jobs"] = tot.get("exec.jobs", 0) + s["jobs"]
                    tot["exec.stage0_tasks"] = (tot.get("exec.stage0_tasks", 0)
                                                + s["scan_tasks"])
                    for k in layer_trace.TASK_FIELDS:
                        tot[f"exec.{k}"] = tot.get(f"exec.{k}", 0) + s[k]
                    break
    measured = [per_chunk.get(r["chunk"], {}) for r in run.samples]
    for key in set().union(*measured):
        run.layers[key] = median([m.get(key, 0) for m in measured])
    layers = [{**run.extra["per_chunk_layers"].get(r["chunk"], {}),
               **per_chunk.get(r["chunk"], {})} for r in run.samples]
    drift = {k for k in EXACT_COUNTS if len({m.get(k) for m in layers}) > 1}
    run.extra["per_chunk_exec"] = per_chunk
    run.extra["drifting_counts"] = sorted(drift)
    run.layers["trace.count_drift"] = len(drift)


# ---------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser()
    for flag in ("--workload", "--inputs", "--work", "--tables", "--result"):
        ap.add_argument(flag, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t-spawn", type=float, required=True)
    args = ap.parse_args()

    me = os.getpid()
    sampler = RssSampler(me)
    sampler.start()
    from gmall2021_flink_dw_spark import registry, session
    from gmall2021_flink_dw_spark.sources import batch

    extra = layer_trace.event_log_conf(args.work) if args.trace else None
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", extra_conf=extra)
    t1 = time.perf_counter()
    specs = registry.load_all()
    t2 = time.perf_counter()
    session.ensure_workers_can_import(spark)
    batch.register_views(spark, args.inputs, args.tables.split(","))
    setup_wall_s = time.time() - args.t_spawn
    setup_cpu_s, setup_jit_s = tree_cpu_s(me)

    run = Run(args)
    run.layers["session.get_spark_s"] = t1 - t0
    run.layers["registry.load_all_s"] = t2 - t1
    workload = {"dw_refresh": run_dw, "stream_ingest": run_stream}[args.workload]
    e2e = workload(spark, specs, run, me)
    # set-up is timed in CPU for the same reason as the operations; the
    # JIT's start-up compiles are part of it
    e2e.update(setup_s=setup_cpu_s, setup_jit_s=setup_jit_s,
               setup_wall_s=setup_wall_s)
    spark_version = spark.version
    spark.stop()
    e2e["peak_rss_mb"] = sampler.stop()

    if args.trace:
        log = layer_trace.parse_event_log(args.work)
        if args.workload == "dw_refresh":
            dw_layers(run, log)
        else:
            stream_exec_layers(run, log)
    result = {
        "spark_version": spark_version,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "failures": run.failures,
        "checks": run.checks,
        "end_to_end": e2e,
        "samples": run.samples,
        "extra": run.extra,
    }
    if args.trace:
        # process-tree CPU per operation and peak RSS did not repeat within
        # a tenth from run to run, so they are layer numbers, not bounded
        run.layers["proc.cpu_s"] = e2e["cpu_s"]
        run.layers["proc.jit_cpu_s"] = e2e["jit_cpu_s"]
        run.layers["proc.peak_rss_mb"] = e2e["peak_rss_mb"]
        result["per_layer"] = run.layers
        result["units"] = PER_LAYER_UNITS
    with open(args.result + ".tmp", "w") as f:
        json.dump(result, f, default=float)
    os.replace(args.result + ".tmp", args.result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
