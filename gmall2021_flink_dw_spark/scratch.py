"""Scratch-dir placement for the streaming replay harness.

Structured Streaming commits every micro-batch through synced tiny-file
writes: the offset WAL, the commit log, and one changelog per state
store. On this box those fsyncs cost 4-12 ms each against /tmp (ext4)
vs ~0.02 ms against /dev/shm (tmpfs) — measured via
``tools/``-style probes, r14 — and a one-batch replay query pays
~1.2 s of pure checkpoint latency (walCommit 451 ms + commitOffsets
411 ms + latestOffset 352 ms in the instrumented run, OPTIMIZATION_r14.md).
Not all of that was fsync. Without libhadoop, Hadoop forks a child
process for local-FS metadata calls: Spark's default FileContext-based
checkpoint manager ran `readlink` once or more per checkpoint-file
rename (~690 per warm stream_ingest chunk), and `chmod` still runs once
per checkpoint file and per `.crc` sidecar. ``session.get_spark`` pins
the FileSystem-based manager, which forks no `readlink`;
``tests/test_session.py::test_micro_batch_forks_no_readlink`` pins that.

The checkpoints written here are per-invocation scaffolding: every
registered streaming query creates a fresh checkpoint and replays the
parquet topic from scratch. Each tree made here, ``run_to_memory``'s
checkpoints included, is a ``cache.tracked_tempdir``: the next
registered query on the same thread removes it. Nothing is ever
reused across runs (the no-result-caching bench contract), and a local
replay's /tmp is as ephemeral as tmpfs. On a real cluster the checkpointLocation is a
durable object-store/HDFS URI supplied by the deployment (exactly-once
across driver restarts REQUIRES durable checkpoints); this helper only
places the local replay harness's scaffolding, and
``SPARK_GRAFT_STREAM_SCRATCH`` overrides the default for environments
where /dev/shm is absent, too small, or the operator wants disk.

NOT routed through here: the source-format and lake-layout queries'
scratch (``cache.tracked_tempdir`` under the platform tempdir) — writing
and re-reading real files on real storage is those queries' measured
role.
"""

from __future__ import annotations

import os
import tempfile

_BASE: str | None = None


def stream_scratch_base() -> str:
    """Directory under which streaming checkpoints and staged replay
    topics are created. Resolution order: $SPARK_GRAFT_STREAM_SCRATCH,
    then /dev/shm when writable, then the platform tempdir."""
    global _BASE
    if _BASE is None:
        env = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH")
        if env:
            os.makedirs(env, exist_ok=True)
            _BASE = env
        elif os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
            _BASE = "/dev/shm"
        else:
            _BASE = tempfile.gettempdir()
    return _BASE
