"""Benchmark launcher for the warehouse engine.

Usage, from the root of a checkout of the repository:

    python3 perfbench/run.py --workload dw_refresh --seed 5 --seconds 10 --trace 0

Workloads (see ``WORKLOADS``):

- ``dw_refresh``: a batch refresh of the DWD/DWM/DWS/ADS/CDC layers. Seven
  registered queries, each built and then executed through the noop sink,
  in whole passes over generated sf0.1-shaped input (``--mult 1``).
- ``stream_ingest``: four concurrent Structured Streaming queries (the
  UniqueVisit, UserJumpDetail, ProductStats and VisitorStats apps) over one
  file-stream source directory. The benchmark lands the seeded ``events``
  table one day per chunk, by atomic rename, in a closed loop: the next
  chunk lands only after all four queries have committed the current one.

End-to-end metrics (``--trace 0``), where an operation is one query
(build + execute) on ``dw_refresh`` and one chunk (rename until all four
queries committed it) on ``stream_ingest``. Both are CPU seconds of the
worker's process tree (the worker, the driver JVM, the Python daemon and
its workers), not wall seconds: on a shared host the time stolen from
this VM moved wall times by up to 2x between runs of the same code,
while CPU time does not count it.

- ``setup_s``: CPU from worker process start until the session and
  registry are ready and the input tables are registered as views;
- ``cpu_per_op_s``: CPU per operation in the measured window, without
  the JVM's JIT compiler threads, whose leftover warm-up compiles follow
  timing rather than the work.

Wall latency (geometric mean per operation), throughput (queries, or
events, per second of operation latency) and wall set-up time are kept
in the run record and on the ``perfbench:`` line.

Each run first does untimed work that also warms the JVM: ``dw_refresh``
builds, collects and checks every query once; ``stream_ingest`` lands its
first chunk. It then measures a fixed amount of work for ``--seconds``:
whole passes, or chunks, of a nominal length (``PASS_S``, ``CHUNK_S`` in
``perfbench/worker.py``), at least one pass or two chunks.

The launcher pins the environment, generates the seeded inputs with
``tools/gen_scale_data.py`` (cached per seed, untimed), reads a CPU-burn
box probe before and after the run, and runs the workload in a fresh
worker process (``perfbench/worker.py``). Its last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
worker also collects the per-layer trace and the metrics are the
per-layer ones. The full record of a run (environment, box probes,
per-operation samples, checks, reconciliation) goes to
``.perfbench/results/``.

Everything the benchmark writes stays under ``.perfbench/`` in the
checkout. The exit code is 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = {
    # name -> the sf0.1-shaped tables it reads (generated at --mult 1)
    "dw_refresh": ("region", "nation", "customer", "part", "orders",
                   "lineitem", "events"),
    "stream_ingest": ("events",),
}

END_TO_END = {"setup_s": "s", "cpu_per_op_s": "s"}

DRIVER_MEM = "4g"  # fits the 15 GB box; the 48g engine default does not
RUN_DEADLINE_S = 170.0
PROBE_ITERS = 5_000_000  # same loop size as bench.py::box_probe


def box_probe(iters: int = PROBE_ITERS) -> float:
    """Seconds for a fixed pure-Python loop: a reading of how loaded the
    box is, taken before and after each run so noisy runs can be told
    apart from slow code."""
    t0 = time.perf_counter()
    x = 0
    for i in range(iters):
        x += i
    if x < 0:
        print(x, file=sys.stderr)
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole box since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def repo_ready(root: str) -> bool:
    return os.path.isfile(
        os.path.join(root, "gmall2021_flink_dw_spark", "__init__.py")
    ) and os.path.isfile(os.path.join(root, "tools", "gen_scale_data.py"))


KEEP_INPUTS = 4  # generated inputs kept per workload, most recent first


def ensure_inputs(root: str, work: str, workload: str, seed: int) -> str:
    """Generate the workload's seeded input once per (workload, seed);
    keep the few most recently used."""
    base = os.path.join(work, "inputs")
    out = os.path.join(base, f"{workload}-seed{seed}")
    done = os.path.join(out, ".done")
    if os.path.exists(done):
        os.utime(done)
    else:
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(root, "tools", "gen_scale_data.py"),
             "--mult", "1", "--tables", ",".join(WORKLOADS[workload]),
             "--seed", str(seed), "--out", out],
            check=True, stdout=subprocess.DEVNULL, cwd=root,
        )
        open(done, "w").close()
    mine = sorted(
        (d for d in glob.glob(os.path.join(base, f"{workload}-seed*"))
         if os.path.exists(os.path.join(d, ".done"))),
        key=lambda d: os.path.getmtime(os.path.join(d, ".done")), reverse=True)
    for old in mine[KEEP_INPUTS:]:
        shutil.rmtree(old, ignore_errors=True)
    return out


def pinned_env(root: str, scratch: str) -> dict[str, str]:
    """The worker's environment. Every directory the engine, Spark and
    Python write to is under this run's own scratch directory."""
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    tmp = os.path.join(scratch, "tmp")
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
        SPARK_GRAFT_STREAM_SCRATCH=os.path.join(scratch, "stream-scratch"),
        TMPDIR=tmp,
        # no hsperfdata file: HotSpot writes it to /tmp whatever the tmpdir;
        # the launcher JVM of spark-submit reads its own variable
        # compiler threads that never exit, so their CPU can be told
        # apart from the rest of the JVM's (perfbench/worker.py)
        SPARK_SUBMIT_OPTS=(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                           " -XX:-UseDynamicNumberOfCompilerThreads"),
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH", "")) if p
        ),
        PYTHONHASHSEED="0",
    )
    for key in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_STREAM_SCRATCH", "TMPDIR"):
        os.makedirs(env[key])
    return env


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:
            pids.append(int(entry))
    return pids


def stop_group(pgid: int) -> None:
    """Terminate whatever the worker left in its process group (the JVM,
    Python daemons) and wait until every member has exited."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while _group_pids(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def count_log_errors(path: str) -> int:
    """Errors the program logged without failing an operation, such as
    RocksDB maintenance on a reclaimed checkpoint."""
    try:
        with open(path, errors="replace") as f:
            return sum(1 for line in f if " ERROR " in line)
    except OSError:
        return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_start = time.monotonic()
    root = os.getcwd()
    if not repo_ready(root):
        print("perfbench: run from the root of a repository checkout "
              "(gmall2021_flink_dw_spark/ and tools/ not found)",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    inputs = ensure_inputs(root, work, args.workload, args.seed)
    scratch = os.path.join(work, f"run-{os.getpid()}")
    env = pinned_env(root, scratch)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    result_path = os.path.join(work, "results", f"{tag}.worker.json")
    err_path = os.path.join(work, "results", f"{tag}.stderr.log")
    if os.path.exists(result_path):
        os.remove(result_path)
    probe_before = box_probe()
    ticks_before = cpu_ticks()
    cmd = [
        sys.executable, os.path.join(root, "perfbench", "worker.py"),
        "--workload", args.workload, "--inputs", inputs, "--work", scratch,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--tables", ",".join(WORKLOADS[args.workload]),
        "--result", result_path, "--t-spawn", repr(time.time()),
    ]
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, env=env, cwd=root, stdout=err,
                                stderr=err, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, RUN_DEADLINE_S
                                  - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            print(f"perfbench: worker exceeded {RUN_DEADLINE_S:.0f} s",
                  file=sys.stderr)
        finally:
            stop_group(proc.pid)
            proc.wait()
    ticks_after = cpu_ticks()
    probe_after = box_probe()
    shutil.rmtree(scratch, ignore_errors=True)

    if proc.returncode != 0 or not os.path.exists(result_path):
        print(f"perfbench: worker failed (exit {proc.returncode}); "
              f"see {os.path.relpath(err_path, root)}", file=sys.stderr)
        return 1
    with open(result_path) as f:
        res = json.load(f)

    if args.trace:
        res["per_layer"]["log.errors"] = count_log_errors(err_path)
        metrics = {k: {"value": v, "unit": res["units"][k]}
                   for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": res["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END.items()}
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "env": {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_DRIVER_MEM": env["SPARK_GRAFT_DRIVER_MEM"],
            "SPARK_LOCAL_DIRS": os.path.relpath(env["SPARK_LOCAL_DIRS"], root),
            "python": sys.version.split()[0],
            "spark": res.get("spark_version"),
        },
        "box_probe_s": {"before": round(probe_before, 4),
                        "after": round(probe_after, 4)},
        "steal_pct": round(100 * (ticks_after[0] - ticks_before[0])
                           / max(1, ticks_after[1] - ticks_before[1]), 2),
        "log_errors": count_log_errors(err_path),
        "wall_s": round(time.monotonic() - t_start, 3),
        **res,
    }
    with open(os.path.join(work, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print("perfbench:", json.dumps({
        "workload": args.workload, "seed": args.seed, "env": record["env"],
        "box_probe_s": record["box_probe_s"], "steal_pct": record["steal_pct"],
        "wall_s": record["wall_s"],
        "wall": {k: res["end_to_end"][k] for k in (
            "setup_wall_s", "latency_geomean_s", "throughput_per_s")},
        "failures": res["failures"],
    }, sort_keys=True))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
