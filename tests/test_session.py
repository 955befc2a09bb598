"""The session factory (gmall2021_flink_dw_spark/session.py).

`get_spark` pins Structured Streaming's checkpoint file manager to the
FileSystem-based one. These tests pin that choice, that it still
refuses to overwrite a committed log entry, and that a micro-batch on a
`get_spark` session starts no `readlink` process: the default
FileContext-based manager forks one for every checkpoint-file rename
when libhadoop is absent.

`get_spark` also gives batch and streaming shuffles their own widths:
batch shuffles start `shuffle_partitions` wide and AQE coalesces them,
while a stateful streaming query keeps one state store per four of
them. These tests pin both widths, and that a restarted query keeps the
width its checkpoint recorded.

`get_spark` rejects a `SPARK_GRAFT_CPUS` that is not an integer >= 1
before it builds anything.
"""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys
from contextlib import contextmanager
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark import session
from gmall2021_flink_dw_spark.session import ensure_workers_can_import

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def test_checkpoint_manager_is_filesystem_based_and_refuses_overwrite(
    spark, tmp_path
):
    """Every checkpoint log gets its manager from
    CheckpointFileManager.create. A second no-overwrite atomic write of
    an existing entry must still fail and leave the first in place:
    that is the metadata log's guard against a concurrent writer."""
    jvm = spark._jvm
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
    assert mgr.getClass().getName() == _FS_MANAGER

    entry = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    out = mgr.createAtomic(entry, False)
    out.write(1)
    out.close()
    out = mgr.createAtomic(entry, False)
    out.write(2)
    with pytest.raises(Py4JJavaError) as err:
        out.close()
    refused = jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.FileAlreadyExistsException"
    )
    assert refused.isInstance(err.value.java_exception)
    assert (tmp_path / "0").read_bytes() == b"\x01"


_FORK_PROBE = r"""
import os, sys
repo, src, ckpt, log = sys.argv[1:5]
sys.path.insert(0, repo)
from pyspark.sql import functions as F
from gmall2021_flink_dw_spark.session import get_spark

spark = get_spark("readlink-probe", shuffle_partitions=2)
schema = "ts timestamp, k int"


def land(name, secs):
    # written beside the source dir, then renamed in: the stream sees
    # the whole file in one step
    stage = src + "_stage_" + name
    spark.createDataFrame(
        [(f"2021-01-01 00:00:{s:02d}", 1) for s in secs], "ts string, k int"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "k").coalesce(1) \
        .write.parquet(stage)
    [part] = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    os.rename(os.path.join(stage, part), os.path.join(src, name + ".parquet"))


def calls():
    with open(log) as f:
        return sum(1 for _ in f)


land("a", list(range(0, 16)))
q = (
    spark.readStream.schema(schema).parquet(src)
    .withWatermark("ts", "0 seconds")
    .groupBy(F.window("ts", "10 seconds"))
    .agg(F.count(F.lit(1)).alias("n"))
    .select(F.date_format("window.start", "ss").alias("w"), "n")
    .writeStream.outputMode("append").format("memory").queryName("rl_probe")
    .option("checkpointLocation", ckpt)
    .start()
)
q.processAllAvailable()
before = calls()
land("b", [30, 31])
q.processAllAvailable()
after = calls()
batches = len(q.recentProgress)
q.stop()
rows = sorted((r.w, r.n) for r in spark.table("rl_probe").collect())
print("PROBE", after - before, batches, rows)
spark.stop()
"""


def test_micro_batch_forks_no_readlink(tmp_path):
    """A windowed file-stream query on a get_spark session runs with a
    counting `readlink` first on its PATH. Landing one file and draining
    its micro-batches (offset WAL, state-store changelog, commit log)
    must start no `readlink`. Counting starts after the first drain:
    the launcher and the session start-up may run it before that."""
    real = shutil.which("readlink")
    assert real, "no readlink on PATH"
    log = tmp_path / "readlink.log"
    log.write_text("")
    bindir = tmp_path / "bin"
    bindir.mkdir()
    wrapper = bindir / "readlink"
    wrapper.write_text(f'#!/bin/sh\necho "$@" >> {log}\nexec {real} "$@"\n')
    wrapper.chmod(wrapper.stat().st_mode | stat.S_IXUSR)
    src = tmp_path / "src"
    src.mkdir()
    env = dict(os.environ, PATH=f"{bindir}{os.pathsep}{os.environ['PATH']}",
               SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run(
        [sys.executable, "-c", _FORK_PROBE, _REPO, str(src),
         str(tmp_path / "ckpt"), str(log)],
        cwd="/tmp", env=env, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    [line] = [ln for ln in res.stdout.splitlines() if ln.startswith("PROBE")]
    forks, batches, rows = line.split(" ", 3)[1:]
    assert int(batches) >= 2
    # windows [0,10) and [10,20) closed once the watermark passed 30 s;
    # [30,40) is still open
    assert rows == repr([("00", 10), ("10", 6)]), line
    assert int(forks) == 0, log.read_text()[-2000:]


def test_ensure_workers_can_import_twice(spark):
    """A second call on the same context adds nothing: the include list
    holds the archive once, the driver's sys.path does not grow, and
    Python workers still import the package afterwards."""
    ensure_workers_can_import(spark)
    path_len = len(sys.path)
    ensure_workers_can_import(spark)
    assert len(sys.path) == path_len
    archive = os.path.basename(session._PKG_ZIP)
    assert spark.sparkContext._python_includes.count(archive) == 1

    def probe(it):
        import pandas as pd

        import gmall2021_flink_dw_spark

        for _ in it:
            pass
        yield pd.DataFrame({"pkg": [gmall2021_flink_dw_spark.__name__]})

    [row] = spark.range(1).coalesce(1).mapInPandas(probe, "pkg string").collect()
    assert row.pkg == "gmall2021_flink_dw_spark"


_ARCHIVE_PROBE = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
from gmall2021_flink_dw_spark import session

spark = session.get_spark("archive-probe", shuffle_partitions=1)
session.ensure_workers_can_import(spark)
print("ARCHIVE", os.path.exists(session._PKG_ZIP), session._PKG_ZIP)
"""


def test_package_archive_removed_at_exit(tmp_path):
    """The per-process package archive that ensure_workers_can_import
    writes is deleted when the driver process exits."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g",
               TMPDIR=str(tmp_path))
    res = subprocess.run(
        [sys.executable, "-c", _ARCHIVE_PROBE, _REPO],
        cwd="/tmp", env=env, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    [line] = [ln for ln in res.stdout.splitlines() if ln.startswith("ARCHIVE")]
    _, existed, archive = line.split(" ", 2)
    assert existed == "True"
    assert os.path.dirname(archive) == str(tmp_path)
    assert not os.path.exists(archive)


_WIDTH = "spark.sql.shuffle.partitions"


def _land(srcs, name, secs):
    """Land one parquet file of rows at second offsets `secs` into every
    source dir: written beside the dir, then renamed in, so a stream
    sees the whole file in one step."""
    ts = [datetime(2021, 1, 1, 0, 0, s, tzinfo=timezone.utc) for s in secs]
    table = pa.table({"ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                      "k": pa.array([1] * len(secs), pa.int32())})
    for src in srcs:
        stage = f"{src}_stage_{name}.parquet"
        pq.write_table(table, stage)
        os.rename(stage, os.path.join(src, f"{name}.parquet"))


def _window_counts(spark, src):
    """Rows per 10-second window, append mode behind a 0 s watermark."""
    return (
        spark.readStream.schema("ts timestamp, k int").parquet(str(src))
        .withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "10 seconds"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("window.start", "ss").alias("w"), "n")
    )


def _state_width(q):
    """State stores per operator, from the last progress that ran the
    stateful operator."""
    ops = [p["stateOperators"] for p in q.recentProgress if p["stateOperators"]]
    return ops[-1][0]["numShufflePartitions"]


@contextmanager
def _stream_width(spark, width):
    """Run the block with spark.sql.shuffle.partitions at `width`
    (None: leave it as it is)."""
    orig = spark.conf.get(_WIDTH)
    if width is not None:
        spark.conf.set(_WIDTH, str(width))
    try:
        yield
    finally:
        spark.conf.set(_WIDTH, orig)


def test_batch_and_stream_shuffle_widths(spark, tmp_path):
    """On a get_spark(shuffle_partitions=8) session, batch shuffles are
    8 wide (before AQE coalesces them), and a windowed streaming count
    keeps 8 // 4 = 2 state stores."""
    conf = spark._jsparkSession.sessionState().conf()
    assert conf.numShufflePartitions() == 8
    src = tmp_path / "src"
    src.mkdir()
    _land([src], "a", range(0, 16))
    q = (
        _window_counts(spark, src).writeStream.outputMode("append")
        .format("memory").queryName("width_probe")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        width = _state_width(q)
    finally:
        q.stop()
    assert width == 2
    assert sorted(map(tuple, spark.table("width_probe").collect())) == [
        ("00", 10)
    ]


@pytest.mark.parametrize("first_width", [None, 8],
                         ids=["session_width", "cores_width"])
def test_restart_keeps_recorded_state_width(spark, tmp_path, first_width):
    """A stateful query drains one file and stops; the session's stream
    width then changes to 5 and the query restarts on its checkpoint.
    It must keep the width recorded at first start (the session's, or
    the cores width that checkpoints written before the split carry),
    and its parquet output must equal that of a query that ran through
    both files without a restart."""
    srcs = [tmp_path / "src_restart", tmp_path / "src_through"]
    for src in srcs:
        src.mkdir()
    outs = [str(tmp_path / "out_restart"), str(tmp_path / "out_through")]
    ckpts = [str(tmp_path / "ckpt_restart"), str(tmp_path / "ckpt_through")]

    def start(i):
        return (
            _window_counts(spark, srcs[i]).writeStream.outputMode("append")
            .format("parquet").option("path", outs[i])
            .option("checkpointLocation", ckpts[i])
            .start()
        )

    _land(srcs, "a", range(0, 16))
    with _stream_width(spark, first_width):
        recorded = int(spark.conf.get(_WIDTH))
        restarted, through = start(0), start(1)
    try:
        restarted.processAllAvailable()
        through.processAllAvailable()
        restarted.stop()
        with _stream_width(spark, 5):
            restarted = start(0)
            _land(srcs, "b", [30, 31])
            restarted.processAllAvailable()
            through.processAllAvailable()
        width = _state_width(restarted)
    finally:
        restarted.stop()
        through.stop()
    assert recorded == (first_width or 2)
    assert width == recorded
    rows = [sorted(map(tuple, spark.read.parquet(o).collect())) for o in outs]
    # [0,10) closed after the first file, [10,20) once the watermark
    # passed 30 s; [30,40) is still open
    assert rows[0] == rows[1] == [("00", 10), ("10", 6)]


@pytest.mark.parametrize("value", ["0", "-2", "abc"])
def test_spark_graft_cpus_rejected_before_session(monkeypatch, value):
    """A core count that is not an integer >= 1 raises a ValueError
    naming SPARK_GRAFT_CPUS before any session is built."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.get_spark("cpus-probe")
