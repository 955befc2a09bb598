"""Per-layer trace for the benchmark, collected from outside the engine.

Only the traced run (``--trace 1``) uses this module. It works through
the engine's public surface and Spark's own instrumentation:

- job groups ``<query>:build``, ``<query>:load``, ``<query>:plan`` and
  ``<query>:exec`` around each call, with the pass number as the job
  description;
- a local, non-rolling, uncompressed Spark event log, enabled through
  ``get_spark(extra_conf=...)`` for this run only. After the session
  stops it is complete, so job, task and task-metric counts are read
  from it rather than from the live status tracker, whose listener bus
  is asynchronous and can lag the action that ran the job;
- a ``StreamingQueryListener`` for trigger phases and state-store
  metrics. Micro-batch jobs do not inherit the caller's job group, so
  the event log keys them by the ``sql.streaming.queryId`` property;
- a wrapper around ``sources.batch.load_table``, installed in every
  engine module that imported it, for load time, calls and jobs.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import sys
import time
from collections import defaultdict

from pyspark.sql.streaming.listener import StreamingQueryListener

PKG = "gmall2021_flink_dw_spark"

TASK_FIELDS = ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read_mb",
               "shuffle_write_mb", "spill_mb")


def event_log_conf(work: str) -> dict[str, str]:
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    for old in glob.glob(os.path.join(log_dir, "*")):
        os.remove(old)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


class JobGroups:
    """Sets the job group of the calling thread; remembers the current
    (query, pass) so the load_table wrapper can switch to
    ``<query>:load`` inside a build and back."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.current: tuple[str, int] | None = None

    @contextlib.contextmanager
    def group(self, query: str, phase: str, pass_no: int):
        self.current = (query, pass_no)
        self.sc.setJobGroup(f"{query}:{phase}", f"pass{pass_no}")
        try:
            yield
        finally:
            self.current = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


class LoadTableTimer:
    """Wraps ``load_table`` wherever the engine bound it, for this
    process only. Records calls and seconds per (query, pass)."""

    def __init__(self, groups: JobGroups) -> None:
        self.groups = groups
        self.calls: dict[tuple, int] = defaultdict(int)
        self.seconds: dict[tuple, float] = defaultdict(float)
        self._patched: list[tuple[object, object]] = []

    def install(self) -> None:
        from gmall2021_flink_dw_spark.sources import batch

        orig = batch.load_table
        groups = self.groups

        def timed_load_table(spark, sf_dir, name):
            key = groups.current
            if key is None:
                return orig(spark, sf_dir, name)
            query, pass_no = key
            sc = groups.sc
            sc.setJobGroup(f"{query}:load", f"pass{pass_no}")
            t0 = time.perf_counter()
            try:
                return orig(spark, sf_dir, name)
            finally:
                self.seconds[key] += time.perf_counter() - t0
                self.calls[key] += 1
                sc.setJobGroup(f"{query}:build", f"pass{pass_no}")

        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(PKG) and getattr(mod, "load_table", None) is orig:
                self._patched.append((mod, orig))
                mod.load_table = timed_load_table

    def uninstall(self) -> None:
        for mod, orig in self._patched:
            mod.load_table = orig
        self._patched.clear()


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress report as parsed JSON."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _zero() -> dict:
    return {"jobs": 0, "scan_tasks": 0, **{k: 0.0 for k in TASK_FIELDS}}


def parse_event_log(work: str) -> dict:
    """Aggregates the stopped session's event log.

    Returns ``{"groups": {(group, description): stats},
    "streams": {query_id: [(submit_ms, stats), ...]}}`` where stats
    holds jobs, tasks, executor run/CPU/GC ms, shuffle read/write MB,
    spill MB and the tasks of its scan stages."""
    paths = [p for p in glob.glob(os.path.join(work, "eventlog", "*"))
             if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log, found {paths}")
    stage_owner: dict[int, tuple] = {}
    job_key: dict[int, tuple] = {}
    job_stats: dict[int, dict] = {}
    stage_tasks: dict[int, int] = defaultdict(int)
    scan_stages: set[int] = set()
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                qid = props.get("sql.streaming.queryId")
                if qid:
                    key = ("stream", qid, ev.get("Submission Time", 0))
                else:
                    key = ("group", props.get("spark.jobGroup.id"),
                           props.get("spark.job.description"))
                jid = ev["Job ID"]
                job_key[jid] = key
                job_stats[jid] = _zero()
                job_stats[jid]["jobs"] = 1
                for info in ev.get("Stage Infos", []):
                    stage_owner.setdefault(info["Stage ID"], jid)
                    if not info.get("Parent IDs"):
                        scan_stages.add(info["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                jid = stage_owner.get(sid)
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                s = job_stats[jid]
                stage_tasks[sid] += 1
                s["tasks"] += 1
                s["run_ms"] += m.get("Executor Run Time", 0)
                s["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                s["gc_ms"] += m.get("JVM GC Time", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                s["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                         + rd.get("Local Bytes Read", 0)) / 2**20
                wr = m.get("Shuffle Write Metrics") or {}
                s["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / 2**20
                s["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0)) / 2**20
    # scan width: tasks of the stages without parents (the reads); the
    # lowest stage id is not stable, since AQE submits jobs concurrently
    for sid in scan_stages:
        jid = stage_owner[sid]
        job_stats[jid]["scan_tasks"] += stage_tasks.get(sid, 0)
    groups: dict[tuple, dict] = defaultdict(_zero)
    streams: dict[str, list] = defaultdict(list)
    for jid, key in job_key.items():
        s = job_stats[jid]
        if key[0] == "stream":
            streams[key[1]].append((key[2], s))
            continue
        g = groups[(key[1], key[2])]
        for k in ("jobs", "scan_tasks", *TASK_FIELDS):
            g[k] += s[k]
    return {"groups": dict(groups), "streams": dict(streams)}
