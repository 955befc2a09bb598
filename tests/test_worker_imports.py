"""The worker-side zipimporter hook (gmall2021_flink_dw_spark/worker_imports.py).

Every PySpark worker invocation calls importlib.invalidate_caches(); on
Python < 3.13 that re-reads each zip archive on sys.path unless the hook
is active. These tests pin the hook's cache rule, that workers running
an engine kernel under a plain SparkSession carry it, and that the
driver process is left alone.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from gmall2021_flink_dw_spark import worker_imports
from tests.conftest import UNIT_SF

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """An unchanged archive keeps its cached directory across
    invalidations; a rewritten one is re-read, so a module it gained
    imports. Change detection is by (st_mtime_ns, st_size), so the
    rewrite adds a module rather than swapping one of equal length."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["wi_m1"])
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_imports.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("wi_m1").NAME == "wi_m1"
        importlib.invalidate_caches()  # first sight stamps the archive
        reads.clear()
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, ["wi_m1", "wi_m2"])
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("wi_m2").NAME == "wi_m2"
    finally:
        for name in ("wi_m1", "wi_m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_driver_zipimporter_is_untouched():
    """The test process is a driver: importing the package (conftest
    does, via the session factory) must leave zipimport alone."""
    assert zipimport.zipimporter.invalidate_caches is worker_imports._original
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


_WORKER_PROBE = r"""
import sys
repo, sf = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)
from pyspark.sql import SparkSession

from gmall2021_flink_dw_spark.session import ensure_workers_can_import
from gmall2021_flink_dw_spark.streaming.pipelines import run_to_memory
from gmall2021_flink_dw_spark.streaming.sources import stream_table
from gmall2021_flink_dw_spark.streaming.stateful import uv_dedup_ttl_stream_bucketed

# one core and one state partition: the probe below reuses the pooled
# Python worker that just ran the kernel
spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.sql.shuffle.partitions", "1")
    .appName("worker-imports-probe")
    .getOrCreate()
)
ensure_workers_can_import(spark)
q = run_to_memory(
    uv_dedup_ttl_stream_bucketed(stream_table(spark, sf, "events"), n_buckets=4),
    "uv_probe",
)
q.stop()
assert spark.table("uv_probe").count() > 0


def probe(it):
    import zipimport

    import pandas as pd

    loaded = "gmall2021_flink_dw_spark" in sys.modules
    for _ in it:
        pass
    yield pd.DataFrame({
        "loaded": [loaded],
        "hook": [zipimport.zipimporter.invalidate_caches.__module__],
    })


rows = spark.range(1).mapInPandas(probe, "loaded boolean, hook string").collect()
print("PROBE", [(r.loaded, r.hook) for r in rows])
spark.stop()
"""


def test_worker_running_a_kernel_carries_the_hook():
    """A plain SparkSession (no get_spark) replays the bucketed UV
    kernel; the Python worker that ran it then reports the hook."""
    res = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE, _REPO, UNIT_SF],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    [line] = [ln for ln in res.stdout.splitlines() if ln.startswith("PROBE")]
    want = (
        "gmall2021_flink_dw_spark.worker_imports"
        if sys.version_info < (3, 13)
        else "zipimport"
    )
    assert line.split(" ", 1)[1] == repr([(True, want)]), line
