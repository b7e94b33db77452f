"""Checkpoint release is scoped to the frame released: a loop that frees
its own dead checkpoints never frees one that another thread is still
reading (the overlap helper runs such loops side by side)."""

from __future__ import annotations

import threading
import time

import pytest


def _live_ids(spark) -> set:
    jsc = spark.sparkContext._jsc
    return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}


def _readable(df) -> bool:
    try:
        df.count()
        return True
    except Exception:
        return False


def test_cc_distributed_loop_spares_concurrent_checkpoints(spark, gates_off):
    # a chain's labels need one fixpoint round per hop, so the
    # distributed loop releases ~12 dead rounds while the second thread
    # checkpoints beside it
    from datafusion_loki_spark.operators.dedup import (
        _cc_labels,
        _cc_labels_local,
    )

    n = 12
    edges = [(i, i + 1) for i in range(n - 1)]
    sym = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "src long, dst long"
    ).localCheckpoint(eager=True)
    frames: list = []
    stop = threading.Event()

    def checkpoint_beside():
        while not stop.is_set():
            frames.append(spark.range(8).localCheckpoint(eager=True))
            time.sleep(0.05)

    side = threading.Thread(target=checkpoint_beside)
    side.start()
    try:
        with gates_off():
            labels = sorted(map(tuple, _cc_labels(sym).collect()))
    finally:
        stop.set()
        side.join()
    unreadable = [i for i, f in enumerate(frames) if not _readable(f)]
    assert frames and not unreadable, (
        f"{len(unreadable)} of {len(frames)} concurrent checkpoints freed"
    )
    local = _cc_labels_local(spark, sym.collect())
    assert labels == sorted(map(tuple, local.collect()))
    assert {c for _, c in labels} == {0}

    from datafusion_loki_spark.functions.checkpoints import release

    release(sym, *frames)


def test_release_frees_only_its_own_checkpoint(spark):
    from py4j.protocol import Py4JError

    from datafusion_loki_spark.functions.checkpoints import release

    a = spark.range(10).localCheckpoint(eager=True)
    b = spark.range(5).localCheckpoint(eager=True)
    a_id = a._jdf.logicalPlan().rdd().id()
    b_id = b._jdf.logicalPlan().rdd().id()
    assert {a_id, b_id} <= _live_ids(spark)
    release(a)
    assert a_id not in _live_ids(spark) and b_id in _live_ids(spark)
    assert b.count() == 5
    # a frame that is no checkpoint has no RDD to release: fail loudly
    with pytest.raises(Py4JError):
        release(spark.range(3))
    release(b)
    assert b_id not in _live_ids(spark)


def test_cc_groups_leaves_no_checkpoint_behind(spark, sf_dir):
    # the labels read neither the LSH edge checkpoint (local path: a
    # local relation) nor any fixpoint round but the last, so the call
    # releases the edges instead of leaving them to the ContextCleaner
    from datafusion_loki_spark.operators.dedup import dedup_cc_groups

    before = _live_ids(spark)
    labels = dedup_cc_groups(spark, sf_dir)
    assert labels.count() > 0
    assert _live_ids(spark) - before == set()


def test_mm_keep_list_releases_phash_pairs(spark, sf_dir):
    # the CC labels read the phash pair checkpoint only while they are
    # built, and the pair checkpoint is the only reader of the phash
    # fingerprint checkpoint, so the call releases both. Every checkpoint
    # the call makes is held here, so the ContextCleaner cannot free one
    # in its place.
    from unittest import mock

    from datafusion_loki_spark.operators.multimodal import mm_dedup_keep_list

    cls = type(spark.range(1))
    real = cls.localCheckpoint
    made: list = []

    def recording(self, *args, **kwargs):
        made.append(real(self, *args, **kwargs))
        return made[-1]

    with mock.patch.object(cls, "localCheckpoint", recording):
        assert mm_dedup_keep_list(spark, sf_dir).collect()
    live = _live_ids(spark)
    pairs = [f for f in made if f.columns == ["doc_a", "doc_b"]]
    assert pairs
    assert all(f._jdf.logicalPlan().rdd().id() not in live for f in pairs)
    fps = [f for f in made if f.columns == ["doc_id", "h1", "h2"]]
    assert fps
    assert all(f._jdf.logicalPlan().rdd().id() not in live for f in fps)
