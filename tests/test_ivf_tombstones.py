"""Tombstone (delete) lifecycle for the persisted IVF index — round-9
VERDICT #4: build / append / DELETE / compact. Pins the three contracts:

1. query-side anti-join: a tombstoned row vanishes from every top-k the
   moment the tombstone lands, before any physical rewrite;
2. compaction folds tombstones physically with VALUE-IDENTICAL probe
   results (the anti-join view and the folded index answer the same);
3. each compactor consumes ONLY the tombstones whose target rows it
   rewrote — batch compaction leaves ingest-targeting tombstones for
   the streaming fold and vice versa — so a tombstone can never outlive
   its row (resurrection) or die before it (premature sweep).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from datafusion_loki_spark.operators.similarity import (
    IVF_APPEND_OFFSET,
    IVF_APPEND_SHIFT,
    _TO_DOUBLE,
    append_ivf_index,
    build_ivf_index,
    compact_ivf_members,
    delete_ivf_index,
    query_ivf_index,
    resolve_index_base,
)

SF = "/root/testdata/sf0.001"


def _probe(spark, index_dir):
    rows = query_ivf_index(spark, SF, index_dir).collect()
    return sorted(
        (r.query_id, r.rank, r.cand_id, round(r.cosine, 9)) for r in rows
    )


def _build_two_gen_index(spark, index_dir):
    from datafusion_loki_spark.operators.similarity import (
        _ivf_decorrelated_batch,
    )

    build_ivf_index(spark, SF, index_dir)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    emb_d = emb.select(
        "vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e")
    )
    append_ivf_index(spark, index_dir, _ivf_decorrelated_batch(emb_d))
    return emb


def test_delete_anti_join_then_compact_value_identical(spark, tmp_path):
    index_dir = str(tmp_path / "idx")
    emb = _build_two_gen_index(spark, index_dir)
    before = _probe(spark, index_dir)
    before_cands = {c for (_q, _r, c, _c) in before}

    ids = emb.select("vec_id").where(F.expr("vec_id % 5 = 3"))
    deleted = {r.vec_id for r in ids.collect()}
    # the fixture must make the delete observable in at least one top-k
    assert deleted & before_cands, "degenerate fixture: rebuild predicate"

    delete_ivf_index(spark, index_dir, ids)
    after_anti = _probe(spark, index_dir)
    assert not ({c for (_q, _r, c, _c) in after_anti} & deleted)
    assert after_anti != before

    base = resolve_index_base(spark, index_dir)
    n_before = spark.read.parquet(f"{base}/members.parquet").count()
    stats = compact_ivf_members(spark, index_dir)
    assert stats["rows_deleted"] == len(deleted)
    assert stats["rows"] == n_before - len(deleted)
    # all tombstones targeted this table: the set is fully consumed
    assert not os.path.exists(f"{base}/tombstones.parquet")
    # the folded index answers IDENTICALLY to the anti-join view
    assert _probe(spark, index_dir) == after_anti
    on_disk = {
        r.vec_id
        for r in spark.read.parquet(f"{base}/members.parquet")
        .select("vec_id")
        .collect()
    }
    assert not (on_disk & deleted)


def test_delete_is_idempotent_and_unknown_ids_are_ignored(spark, tmp_path):
    index_dir = str(tmp_path / "idx")
    emb = _build_two_gen_index(spark, index_dir)
    ids = emb.select("vec_id").where(F.expr("vec_id % 5 = 3"))
    n_ids = ids.count()
    delete_ivf_index(spark, index_dir, ids)
    # re-deleting tombstoned ids and deleting unknown ids write nothing:
    # the lookup rides the live view, which already excludes both
    delete_ivf_index(spark, index_dir, ids)
    delete_ivf_index(
        spark,
        index_dir,
        spark.range(10).select((F.col("id") + 77_000_000).alias("vec_id")),
    )
    tombs = spark.read.parquet(
        f"{resolve_index_base(spark, index_dir)}/tombstones.parquet"
    )
    assert tombs.count() == n_ids


def test_delete_everything_empties_cells_and_directories(spark, tmp_path):
    index_dir = str(tmp_path / "idx")
    base = build_ivf_index(spark, SF, index_dir)
    assert base == resolve_index_base(spark, index_dir)
    all_ids = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id")
    delete_ivf_index(spark, index_dir, all_ids)
    assert _probe(spark, index_dir) == []
    compact_ivf_members(spark, index_dir)
    # every cell emptied: the dynamic overwrite left nothing behind and
    # the emptied-cell sweep removed every cluster_id=* directory
    members_dir = f"{base}/members.parquet"
    leftover = [
        d for d in os.listdir(members_dir) if d.startswith("cluster_id=")
    ]
    assert leftover == [], leftover
    assert not os.path.exists(f"{base}/tombstones.parquet")
    # the DATA-LESS terminal state must stay readable (round-10 review:
    # a schema-less read crashed on inference): queries answer empty,
    # deletes no-op without creating a tombstone dir, a second
    # compaction is a no-op
    assert _probe(spark, index_dir) == []
    delete_ivf_index(
        spark, index_dir, spark.createDataFrame([(1,)], "vec_id long")
    )
    assert not os.path.exists(f"{base}/tombstones.parquet")
    stats2 = compact_ivf_members(spark, index_dir)
    assert stats2["rows"] == 0 and stats2["rows_deleted"] == 0


def test_no_match_delete_on_fresh_index_writes_nothing(spark, tmp_path):
    # round-10 review: an unguarded append created a data-less
    # tombstones.parquet (just _SUCCESS) that every subsequent read of
    # the index tripped over
    index_dir = str(tmp_path / "idx")
    base = build_ivf_index(spark, SF, index_dir)
    before = _probe(spark, index_dir)
    delete_ivf_index(
        spark,
        index_dir,
        spark.range(5).select((F.col("id") + 88_000_000).alias("vec_id")),
    )
    assert resolve_index_base(spark, index_dir) == base
    assert not os.path.exists(f"{base}/tombstones.parquet")
    assert _probe(spark, index_dir) == before


def test_ingest_compaction_consumes_only_its_own_tombstones(
    spark, tmp_path
):
    from datafusion_loki_spark.streaming import pipeline

    index_dir = str(tmp_path / "idx")
    base = build_ivf_index(spark, SF, index_dir)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    batch_fn = pipeline._ivf_ingest_batch_fn(index_dir)
    for i, bid in ((1, 0), (2, 1), (3, 2)):
        batch_fn(
            emb.limit(40).select(
                (F.col("vec_id") + IVF_APPEND_OFFSET * i).alias("vec_id"),
                "embedding",
            ),
            bid,
        )
    # delete one row from a generation that WILL fold (gen 0, keep_last=1
    # folds gens 0..1) and one from the base table
    ingest_victim = IVF_APPEND_OFFSET * 1 + 7
    base_victim = 11
    delete_ivf_index(
        spark,
        index_dir,
        spark.createDataFrame(
            [(ingest_victim,), (base_victim,)], "vec_id long"
        ),
    )
    view_ids = {
        r.vec_id
        for r in pipeline.ivf_members(spark, index_dir)
        .select("vec_id")
        .collect()
    }
    assert ingest_victim not in view_ids and base_victim not in view_ids
    n_view = len(view_ids)

    stats = pipeline.compact_ivf_ingest(spark, index_dir, keep_last=1)
    assert stats["folded_gens"] == 2
    # the folded generation physically dropped its victim
    assert stats["rows_compacted"] == 80 - 1
    # the view is unchanged (value-identical through the fold)
    view_after = {
        r.vec_id
        for r in pipeline.ivf_members(spark, index_dir)
        .select("vec_id")
        .collect()
    }
    assert view_after == view_ids and len(view_after) == n_view
    # the ingest tombstone was consumed; the base tombstone SURVIVES
    # (its row still lives in members.parquet)
    tombs = {
        r.vec_id
        for r in spark.read.parquet(f"{base}/tombstones.parquet")
        .select("vec_id")
        .collect()
    }
    assert tombs == {base_victim}
    # the batch compactor then consumes the survivor
    mstats = compact_ivf_members(spark, index_dir)
    assert mstats["rows_deleted"] == 1
    assert not os.path.exists(f"{base}/tombstones.parquet")
    assert {
        r.vec_id
        for r in pipeline.ivf_members(spark, index_dir)
        .select("vec_id")
        .collect()
    } == view_ids


def test_reingest_of_deleted_id_stays_visible_no_resurrection(
    spark, tmp_path
):
    # Round-10 review: key-only tombstones swallowed a re-ingest of a
    # deleted vec_id and resurrected the wrong copy at fold time.
    # Generation-scoped tombstones pin the contract: delete hides ONLY
    # the generation the row lived in at delete time; a later re-ingest
    # (delete + reinsert = update) is a different generation and stays
    # visible through reads AND through the fold that consumes the
    # tombstone.
    from datafusion_loki_spark.streaming import pipeline

    index_dir = str(tmp_path / "idx")
    base = build_ivf_index(spark, SF, index_dir)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    batch_fn = pipeline._ivf_ingest_batch_fn(index_dir)
    victim = IVF_APPEND_OFFSET + 7
    batch_fn(
        emb.limit(40).select(
            (F.col("vec_id") + IVF_APPEND_OFFSET).alias("vec_id"),
            "embedding",
        ),
        0,
    )
    delete_ivf_index(
        spark, index_dir, spark.createDataFrame([(victim,)], "vec_id long")
    )
    ids = {
        r.vec_id
        for r in pipeline.ivf_members(spark, index_dir)
        .select("vec_id")
        .collect()
    }
    assert victim not in ids

    # re-ingest the SAME vec_id in a later generation: visible again
    batch_fn(
        emb.where(F.col("vec_id") == 7).select(
            (F.col("vec_id") + IVF_APPEND_OFFSET).alias("vec_id"),
            "embedding",
        ),
        1,
    )
    view = pipeline.ivf_members(spark, index_dir).where(
        F.col("vec_id") == victim
    )
    assert view.count() == 1  # the gen-1 copy, exactly once

    # folding gen 0 (keep_last=1 keeps gen 1 live) drops the deleted
    # copy, consumes its tombstone, and must NOT touch the re-ingest
    stats = pipeline.compact_ivf_ingest(spark, index_dir, keep_last=1)
    assert stats["folded_gens"] == 1
    assert stats["rows_compacted"] == 40 - 1
    assert not os.path.exists(f"{base}/tombstones.parquet")
    assert (
        pipeline.ivf_members(spark, index_dir)
        .where(F.col("vec_id") == victim)
        .count()
        == 1
    )


# --- retrain: the fifth lifecycle verb (round 11) -----------------------------


def test_retrain_equals_fresh_build_on_live_set(spark, tmp_path):
    # retraining after append + delete must produce an index
    # VALUE-IDENTICAL to one built from scratch on the surviving vector
    # set — the codebook refits, every row reassigns, nothing else
    from datafusion_loki_spark.operators.similarity import (
        _TRAIN_PRED_SPARK,
        _index_root,
        _kmeans_fit,
        _members_projection,
        retrain_ivf_index,
    )

    index_dir = str(tmp_path / "idx")
    emb = _build_two_gen_index(spark, index_dir)
    ids = emb.select("vec_id").where(F.expr("vec_id % 5 = 3"))
    delete_ivf_index(spark, index_dir, ids)
    stats = retrain_ivf_index(spark, index_dir)

    # independent from-scratch construction over the same live set
    from datafusion_loki_spark.operators.similarity import (
        KMEANS_K,
        _ivf_decorrelated_batch,
    )

    emb_d = emb.select(
        "vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e")
    )
    live = emb_d.unionByName(_ivf_decorrelated_batch(emb_d)).where(
        ~F.expr(f"vec_id < {IVF_APPEND_OFFSET} AND vec_id % 5 = 3")
    )
    assert stats["rows_reindexed"] == live.count()
    fresh_dir = str(tmp_path / "fresh")
    # the retrain seed rule: K lowest LIVE ids (vec 3 is deleted)
    assigned, cents = _kmeans_fit(
        live,
        live.where(F.expr(_TRAIN_PRED_SPARK)),
        seeds_d=live.orderBy("vec_id").limit(KMEANS_K),
    )
    base = f"{fresh_dir}/base-v0-fresh"
    (
        _members_projection(assigned)
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(f"{base}/members.parquet")
    )
    cents.write.mode("overwrite").parquet(f"{base}/centroids.parquet")
    _index_root(spark, fresh_dir).commit(
        0, {"version": 0, "base": "base-v0-fresh"}
    )
    assert _probe(spark, index_dir) == _probe(spark, fresh_dir)


def test_retrain_consumes_tombstones_and_ingest_generations(
    spark, tmp_path
):
    # the fold absorbs EVERYTHING: streamed generations (incl. their
    # manifest machinery) land in the fresh base, pending tombstones
    # are consumed, and the deleted rows stay gone
    from datafusion_loki_spark.operators.similarity import (
        retrain_ivf_index,
    )
    from datafusion_loki_spark.streaming import pipeline

    index_dir = str(tmp_path / "idx")
    old_base = build_ivf_index(spark, SF, index_dir)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    batch_fn = pipeline._ivf_ingest_batch_fn(index_dir)
    batch_fn(
        emb.select(
            (F.col("vec_id") + IVF_APPEND_OFFSET).alias("vec_id"),
            "embedding",
        ),
        0,
    )
    victim = IVF_APPEND_OFFSET + 7
    delete_ivf_index(
        spark, index_dir, spark.createDataFrame([(victim,)], "vec_id long")
    )
    n_live = pipeline.ivf_members(spark, index_dir).count()
    stats = retrain_ivf_index(spark, index_dir)
    assert stats["rows_reindexed"] == n_live

    # the superseded snapshot is GC'd wholesale — consumed
    # tombstones/ingest AND the old base table (the retrain commits a
    # fresh base-v dir through the index manifest)
    assert not os.path.exists(old_base)
    base = resolve_index_base(spark, index_dir)
    assert base != old_base
    on_disk = spark.read.parquet(f"{base}/members.parquet")
    ids = {r.vec_id for r in on_disk.select("vec_id").collect()}
    assert victim not in ids
    assert (IVF_APPEND_OFFSET + 8) in ids      # ingest rows absorbed
    assert on_disk.count() == n_live


def test_retrain_is_rerunnable(spark, tmp_path):
    # retraining an already-retrained index is a no-op in value terms:
    # same live set, same deterministic fit, same probe answers
    from datafusion_loki_spark.operators.similarity import (
        retrain_ivf_index,
    )

    index_dir = str(tmp_path / "idx")
    emb = _build_two_gen_index(spark, index_dir)
    delete_ivf_index(
        spark, index_dir, emb.select("vec_id").where(F.expr("vec_id % 5 = 3"))
    )
    s1 = retrain_ivf_index(spark, index_dir)
    p1 = _probe(spark, index_dir)
    s2 = retrain_ivf_index(spark, index_dir)
    assert s2["rows_reindexed"] == s1["rows_reindexed"]
    assert _probe(spark, index_dir) == p1


def test_retrain_rerun_after_crash_window_does_not_duplicate(
    spark, tmp_path
):
    # round-11's crash window (member overwrite committed, ingest delete
    # missing -> absorbed rows visible twice) is STRUCTURAL history under
    # the snapshot protocol: the leftovers a crash-before-GC leaves sit in
    # the superseded snapshot, which no reader and no re-run resolves.
    # Simulate exactly that window — retrain committed, GC never ran for
    # the old base dir — and pin that (a) reads never see the leftovers,
    # (b) the re-run folds nothing twice.
    import shutil

    from datafusion_loki_spark.operators.similarity import retrain_ivf_index
    from datafusion_loki_spark.streaming import pipeline

    index_dir = str(tmp_path / "idx")
    old_base = build_ivf_index(spark, SF, index_dir)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    batch_fn = pipeline._ivf_ingest_batch_fn(index_dir)
    batch_fn(
        emb.select(
            (F.col("vec_id") + IVF_APPEND_OFFSET).alias("vec_id"),
            "embedding",
        ),
        0,
    )
    n_live = pipeline.ivf_members(spark, index_dir).count()
    shutil.copytree(old_base, str(tmp_path / "snap"))
    s1 = retrain_ivf_index(spark, index_dir)
    p1 = _probe(spark, index_dir)
    # the crash-before-GC leftover: the old snapshot's base dir, ingest
    # generation included, reappears exactly as if retrain died before
    # sweeping it
    shutil.copytree(str(tmp_path / "snap"), old_base)
    # (a) readers resolve the committed snapshot; the leftover is invisible
    assert pipeline.ivf_members(spark, index_dir).count() == n_live
    assert _probe(spark, index_dir) == p1
    # (b) the re-run refits the already-clean base — nothing absorbed twice
    s2 = retrain_ivf_index(spark, index_dir)
    assert s2["rows_reindexed"] == s1["rows_reindexed"] == n_live
    members = spark.read.parquet(
        f"{resolve_index_base(spark, index_dir)}/members.parquet"
    )
    assert members.count() == n_live
    assert members.select("vec_id").distinct().count() == n_live
    assert _probe(spark, index_dir) == p1


def test_retrain_survives_deleting_all_low_seed_ids(spark, tmp_path):
    # round-11 review: a fixed `vec_id < K` seed filter over the live
    # view EMPTIES the codebook when ids 0..K-1 are all deleted. The
    # seed rule is the K lowest LIVE ids — the retrained index must
    # stay fully usable.
    from datafusion_loki_spark.operators.similarity import (
        KMEANS_K,
        retrain_ivf_index,
    )

    index_dir = str(tmp_path / "idx")
    build_ivf_index(spark, SF, index_dir)
    low = spark.range(KMEANS_K).select(F.col("id").alias("vec_id"))
    delete_ivf_index(spark, index_dir, low)
    stats = retrain_ivf_index(spark, index_dir)
    assert stats["k_cells"] == KMEANS_K
    members = spark.read.parquet(
        f"{resolve_index_base(spark, index_dir)}/members.parquet"
    )
    assert members.where(F.col("cluster_id").isNull()).count() == 0
    # queries (vec_id < N_QUERIES are deleted as corpus members but are
    # still the probe set) answer non-empty through the fresh codebook
    assert _probe(spark, index_dir)
