"""Epoch-scoped reclamation (ADVICE r03: persist() leak).

Operators persist shared intermediates (shingle tables, signatures,
tokenized docs), round-trip queries write scratch trees and streaming
replays leave memory-sink tables; all must survive until the query's
result is consumed — but no longer. The registry wraps every query
entry to open a new cache epoch, so a long session running many queries
(the driver's 50-query correctness gate) holds at most one query's
scaffolding at a time instead of accumulating all of it.
"""

from __future__ import annotations

import atexit
import glob
import os
import subprocess
import sys
import tempfile
import threading

from pyspark.sql import functions as F

from gmall2021_flink_dw_spark import cache
from gmall2021_flink_dw_spark.registry import load_all
from gmall2021_flink_dw_spark.scratch import stream_scratch_base
from tests.conftest import UNIT_SF

REGISTRY = load_all()


def test_tracked_persist_reclaimed_on_next_epoch(spark):
    df1 = spark.range(100).withColumn("x", F.col("id") * 2)
    cache.open_cache_epoch()
    cache.tracked_persist(df1)
    df1.count()
    assert df1.storageLevel.useMemory, "df1 should be persisted"
    cache.open_cache_epoch()
    assert not df1.storageLevel.useMemory, "df1 should be reclaimed"
    assert not cache._epoch()


def test_query_sequence_does_not_accumulate_cache(spark):
    """Run two persist-heavy registered queries back to back and consume
    their results; after a third query entry opens its epoch, the cached
    RDDs of the first two must be gone (at most the last query's blocks
    remain tracked)."""
    sf = "/root/testdata/sf0.001"
    spark.catalog.clearCache()
    REGISTRY["dedup_minhash_lsh"].fn(spark, sf).count()
    n_after_first = len(cache._epoch())
    assert n_after_first >= 1, "minhash should track persists"
    REGISTRY["dedup_simhash"].fn(spark, sf).count()
    REGISTRY["text_stats"].fn(spark, sf).count()
    # text_stats persists nothing; its epoch reclaimed simhash's blocks
    assert not cache._epoch()
    jsc = spark.sparkContext._jsc.sc()
    n_cached = jsc.getPersistentRDDs().size()
    assert n_cached == 0, f"{n_cached} RDDs still cached after 3 queries"


def test_epochs_are_thread_scoped(spark):
    """ADVICE r04: a second driver thread opening its own epoch must not
    reclaim another thread's in-flight persists."""
    import threading

    df1 = spark.range(50).withColumn("x", F.col("id") + 1)
    cache.open_cache_epoch()
    cache.tracked_persist(df1)
    df1.count()
    assert df1.storageLevel.useMemory

    def other():
        cache.open_cache_epoch()
        df2 = spark.range(10).withColumn("y", F.col("id") * 3)
        cache.tracked_persist(df2)
        df2.count()
        cache.open_cache_epoch()  # reclaims only this thread's blocks

    t = threading.Thread(target=other)
    t.start(); t.join()
    assert df1.storageLevel.useMemory, (
        "another thread's epoch must not reclaim this thread's persists"
    )
    cache.open_cache_epoch()
    assert not df1.storageLevel.useMemory


def test_replay_memory_views_do_not_accumulate(spark):
    """Each memory replay registers its sink's table as a temp view that
    holds the output rows in the driver. After a replay has run twice
    and a third query has opened its epoch, at most one of its views
    may remain."""
    replay = REGISTRY["streaming_visitor_stats"].fn
    replay(spark, UNIT_SF).count()
    replay(spark, UNIT_SF).count()
    REGISTRY["text_stats"].fn(spark, UNIT_SF).count()
    views = [t.name for t in spark.catalog.listTables()
             if t.name.startswith("svs_")]
    assert len(views) <= 1, views


def test_scratch_tree_outlives_other_threads_queries(spark):
    """A round-trip query's scratch tree belongs to its own thread's
    epoch: a scratch query on another thread must not delete it before
    this thread collects the result."""
    orc = REGISTRY["source_orc_events"].fn(spark, UNIT_SF)
    errors = []

    def other() -> None:
        try:
            REGISTRY["source_csv_docs"].fn(spark, UNIT_SF).count()
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    t = threading.Thread(target=other)
    t.start()
    t.join()
    assert not errors, errors
    assert orc.count() > 0


def test_stream_replay_tree_released_by_next_query(spark):
    """A stream replay's scratch tree (topic, checkpoint, routed output)
    is gone once the next query of any family opens its epoch."""
    pattern = os.path.join(stream_scratch_base(), "topic_router_*")
    before = set(glob.glob(pattern))
    REGISTRY["streaming_topic_router"].fn(spark, UNIT_SF).count()
    made = sorted(set(glob.glob(pattern)) - before)
    assert len(made) == 1 and os.path.isdir(made[0]), made
    REGISTRY["text_stats"].fn(spark, UNIT_SF).count()
    assert not os.path.exists(made[0])


def test_exited_threads_tree_released_by_next_query(spark):
    """A thread that ran a round-trip query and exited leaves its
    scratch tree in an epoch no one reopens; the next query on any
    thread releases it."""
    pattern = os.path.join(tempfile.gettempdir(), "csv_src_*")
    before = set(glob.glob(pattern))

    def other() -> None:
        REGISTRY["source_csv_docs"].fn(spark, UNIT_SF).count()

    t = threading.Thread(target=other)
    t.start()
    t.join()
    made = sorted(set(glob.glob(pattern)) - before)
    assert len(made) == 1 and os.path.isdir(made[0]), made
    REGISTRY["text_stats"].fn(spark, UNIT_SF).count()
    assert not os.path.exists(made[0])


def test_memory_replay_checkpoint_released_by_next_query(spark):
    """A memory replay's checkpoint is a scratch tree of its query's
    epoch: the next registered query on the thread removes it."""
    pattern = os.path.join(stream_scratch_base(), "memckpt_svs_*")
    before = set(glob.glob(pattern))
    REGISTRY["streaming_visitor_stats"].fn(spark, UNIT_SF).count()
    made = sorted(set(glob.glob(pattern)) - before)
    assert len(made) == 1 and os.path.isdir(made[0]), made
    REGISTRY["text_stats"].fn(spark, UNIT_SF).count()
    assert not os.path.exists(made[0])


def test_replays_register_no_exit_hooks(spark):
    """Scratch trees share one atexit hook: repeated replays add no
    callbacks."""
    replay = REGISTRY["streaming_visitor_stats"].fn
    replay(spark, UNIT_SF).count()
    n0 = atexit._ncallbacks()
    for _ in range(5):
        replay(spark, UNIT_SF).count()
    assert atexit._ncallbacks() == n0


_EXIT_PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
from gmall2021_flink_dw_spark import cache
print(cache.tracked_tempdir("exit_probe_"))
"""


def test_tree_open_at_exit_is_removed(tmp_path):
    """A scratch tree whose epoch never closes is removed when the
    interpreter exits."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-c", _EXIT_PROBE, repo],
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    path = res.stdout.strip().splitlines()[-1]
    assert path.startswith(str(tmp_path)), path
    assert not os.path.exists(path)
