"""Whole-index snapshot protocol. build_ivf_index and retrain_ivf_index
both land a fresh base in an unreferenced ``base-v{M}-{nonce}`` dir, and
the atomic ``index-manifest-v{M}.json`` rename is the single commit
point. Pins the four contracts:

1. a reader at ANY moment resolves a complete snapshot — old exactly or
   new exactly, never mixed (crash between the base writes, crash before
   the manifest commit), for a retrain and for a rebuild;
2. incremental writers (append / delete / streamed ingest / compact)
   land INSIDE the committed snapshot, so a later commit supersedes
   them structurally;
3. GC: the next commit removes the superseded base-v dir and manifest;
   orphan base dirs are age-gated (a young one may belong to a live
   concurrent attempt);
4. the manifest commit is optimistic — a version collision fails loudly,
   never clobbers.
"""

from __future__ import annotations

import os
import re

import pyspark.sql.functions as F
import pytest

from datafusion_loki_spark.operators.similarity import (
    IVF_APPEND_OFFSET,
    _TO_DOUBLE,
    append_ivf_index,
    build_ivf_index,
    _index_root,
    compact_ivf_members,
    delete_ivf_index,
    query_ivf_index,
    query_ivf_index_eager,
    resolve_index_base,
    retrain_ivf_index,
)

SF = "/root/testdata/sf0.001"


def _probe(spark, index_dir):
    rows = query_ivf_index(spark, SF, index_dir).collect()
    return sorted(
        (r.query_id, r.rank, r.cand_id, round(r.cosine, 9)) for r in rows
    )


def _manifest(spark, index_dir):
    return _index_root(spark, index_dir).newest()


def _entries(index_dir):
    """The root's entries, hidden checksum and temp files aside."""
    return sorted(n for n in os.listdir(index_dir) if not n.startswith("."))


def test_fresh_build_commits_manifest_v0(spark, tmp_path):
    index_dir = str(tmp_path / "idx")
    base = build_ivf_index(spark, SF, index_dir)
    manifest = _manifest(spark, index_dir)
    assert manifest["version"] == 0
    assert base == resolve_index_base(spark, index_dir)
    assert base == f"{index_dir}/{manifest['base']}"
    assert manifest["base"].startswith("base-v0-")
    # nothing of the index lives at the root: one manifest, one snapshot
    assert _entries(index_dir) == sorted(
        ["index-manifest-v0.json", manifest["base"]]
    )
    assert os.path.exists(f"{base}/members.parquet")
    assert os.path.exists(f"{base}/centroids.parquet")


def test_directory_without_manifest_raises(spark, tmp_path):
    index_dir = str(tmp_path / "idx")
    os.makedirs(f"{index_dir}/members.parquet")  # no manifest beside it
    for call in (
        lambda: resolve_index_base(spark, index_dir),
        lambda: query_ivf_index(spark, SF, index_dir),
        lambda: query_ivf_index_eager(spark, SF, index_dir),
        lambda: retrain_ivf_index(spark, index_dir),
    ):
        with pytest.raises(FileNotFoundError, match=re.escape(index_dir)):
            call()


def test_reader_never_sees_mixed_state_mid_retrain(
    spark, tmp_path, monkeypatch
):
    # THE closed limit: crash between the new base's centroid and member
    # writes (and separately: after both, before the manifest commit) —
    # the old snapshot must stay fully readable, bit-identical
    from datafusion_loki_spark.functions import layout
    from datafusion_loki_spark.operators import similarity

    index_dir = str(tmp_path / "idx")
    build_ivf_index(spark, SF, index_dir)
    p0 = _probe(spark, index_dir)
    assert p0

    real_write = similarity._write_index

    def die_between_the_writes(assigned, cents, base_dir):
        cents.write.mode("overwrite").parquet(
            f"{base_dir}/centroids.parquet"
        )
        raise RuntimeError("simulated crash between the base writes")

    monkeypatch.setattr(similarity, "_write_index", die_between_the_writes)
    with pytest.raises(RuntimeError, match="between the base writes"):
        retrain_ivf_index(spark, index_dir)
    # no commit happened; readers resolve the intact old snapshot
    assert _manifest(spark, index_dir)["version"] == 0
    assert _probe(spark, index_dir) == p0

    monkeypatch.setattr(similarity, "_write_index", real_write)
    real_commit = layout.atomic_manifest_commit

    def die_before_commit(*a, **kw):
        raise RuntimeError("simulated crash before the manifest commit")

    monkeypatch.setattr(layout, "atomic_manifest_commit", die_before_commit)
    with pytest.raises(RuntimeError, match="before the manifest commit"):
        retrain_ivf_index(spark, index_dir)
    assert _manifest(spark, index_dir)["version"] == 0
    assert _probe(spark, index_dir) == p0

    # repair = re-run; the orphan base dirs from both crashes are young,
    # so the age gate leaves them for a later sweep — they must not
    # confuse the commit (nonce'd names, version re-derived)
    monkeypatch.setattr(layout, "atomic_manifest_commit", real_commit)
    stats = retrain_ivf_index(spark, index_dir)
    assert stats["version"] == 1
    assert _probe(spark, index_dir) == p0  # same live set, same answers


def test_second_retrain_gcs_superseded_snapshot(spark, tmp_path):
    index_dir = str(tmp_path / "idx")
    b0 = build_ivf_index(spark, SF, index_dir)
    p0 = _probe(spark, index_dir)
    s1 = retrain_ivf_index(spark, index_dir)
    assert _manifest(spark, index_dir)["base"] == s1["base"]
    # the built snapshot is gone; the committed one answers
    assert not os.path.exists(b0)
    assert not os.path.exists(f"{index_dir}/index-manifest-v0.json")
    assert _probe(spark, index_dir) == p0
    s2 = retrain_ivf_index(spark, index_dir)
    assert s2["version"] == 2
    assert not os.path.exists(f"{index_dir}/{s1['base']}")
    assert not os.path.exists(f"{index_dir}/index-manifest-v1.json")
    assert os.path.exists(f"{index_dir}/index-manifest-v2.json")
    assert _probe(spark, index_dir) == p0


def test_post_retrain_writers_land_inside_the_snapshot(spark, tmp_path):
    from datafusion_loki_spark.streaming import pipeline

    index_dir = str(tmp_path / "idx")
    build_ivf_index(spark, SF, index_dir)
    retrain_ivf_index(spark, index_dir)
    base = resolve_index_base(spark, index_dir)
    assert base != index_dir

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    emb_d = emb.select(
        "vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e")
    )
    # batch append routes through the snapshot's codebook + member table
    append_ivf_index(
        spark,
        index_dir,
        emb_d.select(
            (F.col("vec_id") + IVF_APPEND_OFFSET).alias("vec_id"), "e"
        ),
    )
    # streamed ingest lands a generation inside the snapshot
    pipeline._ivf_ingest_batch_fn(index_dir)(
        emb.select(
            (F.col("vec_id") + 2 * IVF_APPEND_OFFSET).alias("vec_id"),
            "embedding",
        ),
        0,
    )
    # a delete pins its tombstone inside the snapshot
    victim = IVF_APPEND_OFFSET + 11
    delete_ivf_index(
        spark, index_dir, spark.createDataFrame([(victim,)], "vec_id long")
    )
    assert os.path.exists(f"{base}/members_ingest.parquet")
    assert os.path.exists(f"{base}/tombstones.parquet")
    assert _entries(index_dir) == sorted(
        ["index-manifest-v1.json", os.path.basename(base)]
    )

    live_ids = {
        r.vec_id
        for r in pipeline.ivf_members(spark, index_dir)
        .select("vec_id")
        .collect()
    }
    assert victim not in live_ids
    assert (IVF_APPEND_OFFSET + 12) in live_ids        # appended, kept
    assert (2 * IVF_APPEND_OFFSET + 3) in live_ids     # streamed gen
    # physical fold operates on the snapshot too, value-identical
    p_before = _probe(spark, index_dir)
    stats = compact_ivf_members(spark, index_dir)
    assert stats["rows_deleted"] == 1
    assert _probe(spark, index_dir) == p_before
    # next retrain consumes everything structurally: fresh base, no
    # tombstones/ingest inside it, old base-v dir gone
    s = retrain_ivf_index(spark, index_dir)
    new_base = f"{index_dir}/{s['base']}"
    assert not os.path.exists(f"{new_base}/tombstones.parquet")
    assert not os.path.exists(f"{new_base}/members_ingest.parquet")
    assert not os.path.exists(base)
    still_live = {
        r.vec_id
        for r in pipeline.ivf_members(spark, index_dir)
        .select("vec_id")
        .collect()
    }
    assert still_live == live_ids


@pytest.mark.parametrize("verb", ["build", "retrain"])
def test_orphan_base_dirs_are_age_gated(spark, tmp_path, verb):
    from datafusion_loki_spark.functions.layout import _TMP_SWEEP_AGE_MS

    index_dir = str(tmp_path / "idx")
    build_ivf_index(spark, SF, index_dir)
    old_orphan = f"{index_dir}/base-v9-deadbeef"
    young_orphan = f"{index_dir}/base-v8-cafebabe"
    os.makedirs(old_orphan)
    os.makedirs(young_orphan)
    stale = (os.path.getmtime(old_orphan) * 1000 - _TMP_SWEEP_AGE_MS) / 1000 - 60
    os.utime(old_orphan, (stale, stale))
    if verb == "build":
        build_ivf_index(spark, SF, index_dir)
    else:
        retrain_ivf_index(spark, index_dir)
    assert not os.path.exists(old_orphan)   # certainly-dead orphan swept
    assert os.path.exists(young_orphan)     # may be a live attempt: kept
    # NOTE: the fake orphans predate the commit, so the version counter
    # (max manifest version + 1, NOT max base dir) is unaffected
    assert _manifest(spark, index_dir)["version"] == 1


def test_manifest_commit_collision_fails_loud(spark, tmp_path):
    from datafusion_loki_spark.functions.layout import (
        atomic_manifest_commit,
    )

    d = str(tmp_path / "c")
    os.makedirs(d)
    atomic_manifest_commit(spark, d, "index-manifest-v1.json", {"v": 1})
    with pytest.raises(IOError, match="concurrent committer"):
        atomic_manifest_commit(spark, d, "index-manifest-v1.json", {"v": 2})


def test_rebuild_over_maintained_index_yields_clean_snapshot(
    spark, tmp_path
):
    """build is the from-scratch verb (round-12 ADVICE): rebuilding over
    a maintained snapshot must leave its tombstones and streamed
    generations behind — a stale tombstone whose (cluster_id, vec_id,
    gen) key matches a freshly built row would silently hide it, and a
    stale ingest generation would resurrect rows the rebuild never saw.
    They die with the superseded base dir."""
    from datafusion_loki_spark.streaming import pipeline

    index_dir = str(tmp_path / "idx")
    build_ivf_index(spark, SF, index_dir)
    p_fresh = _probe(spark, index_dir)
    retrain_ivf_index(spark, index_dir)
    base = resolve_index_base(spark, index_dir)
    # maintain the snapshot: a streamed generation + a base-row delete
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pipeline._ivf_ingest_batch_fn(index_dir)(
        emb.select(
            (F.col("vec_id") + 2 * IVF_APPEND_OFFSET).alias("vec_id"),
            "embedding",
        ),
        0,
    )
    delete_ivf_index(
        spark, index_dir, spark.createDataFrame([(0,)], "vec_id long")
    )
    assert os.path.exists(f"{base}/tombstones.parquet")
    assert os.path.exists(f"{base}/members_ingest.parquet")
    # REBUILD: a new snapshot; the maintenance state dies with the old
    new_base = build_ivf_index(spark, SF, index_dir)
    assert new_base == resolve_index_base(spark, index_dir) != base
    assert not os.path.exists(base)
    assert not os.path.exists(f"{new_base}/tombstones.parquet")
    assert not os.path.exists(f"{new_base}/members_ingest.parquet")
    live_ids = {
        r.vec_id
        for r in pipeline.ivf_members(spark, index_dir)
        .select("vec_id")
        .collect()
    }
    assert 0 in live_ids                                # un-hidden
    assert (2 * IVF_APPEND_OFFSET + 3) not in live_ids  # gen gone
    # and the read path answers exactly like a fresh build
    assert _probe(spark, index_dir) == p_fresh


def test_rebuild_crash_keeps_the_maintained_snapshot(
    spark, tmp_path, monkeypatch
):
    # a REBUILD that dies inside its base writes must leave the previous
    # snapshot answering exactly as before — its tombstone still hiding
    # the deleted row, its streamed generation still live
    from datafusion_loki_spark.operators import similarity
    from datafusion_loki_spark.streaming import pipeline

    index_dir = str(tmp_path / "idx")
    build_ivf_index(spark, SF, index_dir)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pipeline._ivf_ingest_batch_fn(index_dir)(
        emb.select(
            (F.col("vec_id") + 2 * IVF_APPEND_OFFSET).alias("vec_id"),
            "embedding",
        ),
        0,
    )
    delete_ivf_index(
        spark, index_dir, spark.createDataFrame([(5,)], "vec_id long")
    )

    def live_ids():
        return {
            r.vec_id
            for r in pipeline.ivf_members(spark, index_dir)
            .select("vec_id")
            .collect()
        }

    ids, p_before = live_ids(), _probe(spark, index_dir)
    assert 5 not in ids and (2 * IVF_APPEND_OFFSET + 3) in ids

    def die_between_the_writes(assigned, cents, base_dir):
        cents.write.mode("overwrite").parquet(
            f"{base_dir}/centroids.parquet"
        )
        raise RuntimeError("simulated crash inside the rebuild")

    monkeypatch.setattr(similarity, "_write_index", die_between_the_writes)
    with pytest.raises(RuntimeError, match="inside the rebuild"):
        build_ivf_index(spark, SF, index_dir)
    assert _manifest(spark, index_dir)["version"] == 0
    assert live_ids() == ids
    assert _probe(spark, index_dir) == p_before


def test_gc_racing_reader_retries_once(spark, tmp_path, monkeypatch):
    """Round-12 Next #3: a reader that resolved a manifest whose base a
    concurrent retrain's GC then swept must re-resolve ONCE and answer
    from the new snapshot; without the retry the same race is a loud
    missing-path error (never a silent wrong answer)."""
    from datafusion_loki_spark.operators import similarity as sim

    index_dir = str(tmp_path / "idx")
    build_ivf_index(spark, SF, index_dir)
    p0 = _probe(spark, index_dir)
    retrain_ivf_index(spark, index_dir)
    stale_base = resolve_index_base(spark, index_dir)
    retrain_ivf_index(spark, index_dir)  # GC sweeps stale_base
    assert not os.path.exists(stale_base)

    # without the retry: loud missing-path failure
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        sim._query_ivf_index_once(spark, SF, stale_base).collect()

    real_resolve = sim.resolve_index_base
    calls = {"n": 0}

    def raced_resolve(s, d):
        calls["n"] += 1
        if calls["n"] == 1:
            return stale_base  # the resolution the GC invalidated
        return real_resolve(s, d)

    monkeypatch.setattr(sim, "resolve_index_base", raced_resolve)
    # with the retry: one re-resolve, correct answers from the new base
    assert _probe(spark, index_dir) == p0
    assert calls["n"] == 2


def test_eager_query_survives_mid_action_gc(spark, tmp_path):
    # Round 14 (the round-13 honest limit #3): a retrain's GC sweeping
    # the resolved base AFTER the reader's file listing but BEFORE the
    # action's reads. Control arm first: the lazy frame really does die
    # in that window (otherwise this test proves nothing); then the
    # whole-ACTION retry turns the same window into a clean re-read of
    # the new snapshot.
    index_dir = str(tmp_path / "idx")
    build_ivf_index(spark, SF, index_dir)
    retrain_ivf_index(spark, index_dir)  # commits v1
    expected = _probe(spark, index_dir)

    # control: lazy frame built against v1, then a retrain commits v2
    # and GCs v1 -> the pending action fails loud-transient
    frame = query_ivf_index(spark, SF, index_dir)
    retrain_ivf_index(spark, index_dir)  # commits v2, removes base-v1
    with pytest.raises(Exception, match="FileNotFound|does not exist"):
        frame.collect()

    # the eager entry point: same window injected via the test hook
    fired = []

    def concurrent_retrain_and_gc():
        fired.append(True)
        retrain_ivf_index(spark, index_dir)  # commits v3, removes v2

    out = query_ivf_index_eager(
        spark, SF, index_dir, _pre_action_hook=concurrent_retrain_and_gc
    )
    got = sorted(
        (r.query_id, r.rank, r.cand_id, round(r.cosine, 9))
        for r in out.collect()
    )
    assert fired == [True]
    assert got == expected


@pytest.mark.parametrize("entry", [query_ivf_index, query_ivf_index_eager],
                         ids=lambda f: f.__name__)
def test_eager_query_raises_when_snapshot_did_not_move(spark, tmp_path, entry):
    # both entry points retry only when the snapshot MOVED: files missing
    # while the manifest is unmoved is corruption, not a GC race — it
    # must surface, never spin
    import shutil

    index_dir = str(tmp_path / "idx")
    build_ivf_index(spark, SF, index_dir)
    s1 = retrain_ivf_index(spark, index_dir)
    shutil.rmtree(f"{index_dir}/{s1['base']}")
    with pytest.raises(Exception, match="FileNotFound|does not exist|PATH_NOT_FOUND"):
        entry(spark, SF, index_dir).collect()
