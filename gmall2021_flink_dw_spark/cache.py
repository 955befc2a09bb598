"""Epoch-scoped reclamation of what a query invocation leaves behind.

A registered query returns a lazy DataFrame, but building it can leave
scaffolding that must outlive the builder until the result is consumed
— and no longer:

- persisted intermediates (tokenized documents, shingle tables, simhash
  signatures) that two branches of the same query reuse — the right
  call on a cluster, where the alternative is computing the tokenizer
  twice (ADVICE r03: persist() leak);
- scratch trees: the source-format and lake-layout round trips, the
  staged replay topics, the routed/partitioned sink trees and the
  delta logs the returned plan reads back;
- memory-sink tables: every memory replay's output rows stay in the
  driver until its temp view is dropped.

Releasing any of these inside the query builder would fire before the
lazy plan executes. The fix is scoping, not eagerness: every registered
query entry point opens a new *cache epoch* (registry.py wraps each
QueryFn); what is registered through :func:`tracked_persist`,
:func:`tracked_tempdir` and :func:`tracked_view` belongs to the current
epoch and is released when the NEXT epoch opens on the same thread — by
which point the previous query's result has been consumed (the driver,
bench, and the parity tests all materialize each result before invoking
the next query). Unpersist is non-blocking: Spark drops the blocks in
the background; executors never stall on reclamation. Scratch trees also
get an atexit removal, for the last query of a process; atexit alone is
not enough at scale: a two-pass 100x suite kept every round-trip query's
corpus-sized tree until exit and filled the disk mid-pass-2 (r12-ext).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
from typing import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

# Epochs are keyed by driver thread (ADVICE r04): Spark supports
# concurrent jobs from multiple driver threads, and a single global list
# would let a query running on thread B release thread A's in-flight
# scaffolding (an unpersist only forces recompute, but a deleted scratch
# tree fails A's collect with FILE_NOT_EXIST). Per-thread epochs make
# concurrent drivers independent; the serial consume-before-next-call
# contract still applies WITHIN a thread. Re-entrancy (a registered
# query invoking another registered entry mid-build) remains unsupported
# by design: the inner entry would release the outer's scaffolding.
_EPOCHS: dict[int, list[Callable[[], object]]] = {}
_LOCK = threading.Lock()


def _epoch() -> list[Callable[[], object]]:
    with _LOCK:
        return _EPOCHS.setdefault(threading.get_ident(), [])


def open_cache_epoch() -> None:
    """Release everything this thread's previous query invocation
    registered. Called by the registry wrapper on every query entry;
    safe to call at any query boundary."""
    epoch = _epoch()
    while epoch:
        release = epoch.pop()
        try:
            release()
        except Py4JError:
            pass  # session already stopped; nothing to reclaim


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() whose lifetime is the current thread's query epoch."""
    df.persist()
    _epoch().append(lambda: df.unpersist(blocking=False))
    return df


def tracked_tempdir(prefix: str, parent: str | None = None) -> str:
    """mkdtemp (under `parent`, the platform tempdir by default) whose
    tree is removed when the current thread's next epoch opens, or at
    exit."""
    path = tempfile.mkdtemp(prefix=prefix, dir=parent)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    _epoch().append(lambda: shutil.rmtree(path, ignore_errors=True))
    return path


def tracked_view(spark: SparkSession, name: str) -> DataFrame:
    """spark.table(name) for a temp view (a memory sink's table) that is
    dropped when the current thread's next epoch opens."""
    _epoch().append(lambda: spark.catalog.dropTempView(name))
    return spark.table(name)
