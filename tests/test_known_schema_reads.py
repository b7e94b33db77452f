"""Parquet directories the package writes itself are read back with the
schema it wrote: the IVF codebook (``similarity.read_codebook``, used by
the index query, the batch append and the streamed ingest), the
streamed-ingest table (``similarity.INGEST_SCHEMA``, read by the merged
member view and the ingest compaction) and the BPE stage
(``text._bpe_stage``). Each such read starts one Spark job fewer than
the read that infers the schema, and nothing else about it moves."""

from __future__ import annotations

import os
import shutil
from unittest import mock

import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrameReader
from pyspark.sql.types import StructType

from datafusion_loki_spark.operators import similarity as sim
from datafusion_loki_spark.operators import text
from datafusion_loki_spark.streaming import pipeline
from tests.test_sqlbridge import _job_ids

SF = "/root/testdata/sf0.001"


def _inferring(match):
    """Patch ``DataFrameReader.schema`` to drop every schema ``match``
    accepts, so the read it was meant for infers instead: the call run
    under it is the inferring twin of the call run without it."""
    real = DataFrameReader.schema

    def schema(self, s):
        return self if match(s) else real(self, s)

    return mock.patch.object(DataFrameReader, "schema", schema)


def _codebook(s):
    return s == sim.CENTS_SCHEMA


def _rows(df):
    return sorted(map(str, df.collect()))


def _one_job_fewer(spark, call, match):
    """Run ``call`` as is and under ``_inferring(match)``; check the
    first starts exactly one job fewer. Returns each run's frame schema
    and rows, read before the next run can rewrite what it reads."""
    known, jobs_known = _job_ids(spark, call)
    known = known.schema, _rows(known)
    with _inferring(match):
        inferred, jobs_inferred = _job_ids(spark, call)
    assert len(jobs_known) == len(jobs_inferred) - 1, (jobs_known, jobs_inferred)
    return known, (inferred.schema, _rows(inferred))


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    sim.build_ivf_index(spark, SF, path)
    return path


def _embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_codebook_read_starts_no_job_and_matches_the_inferred_read(spark, index_dir):
    base = sim.resolve_index_base(spark, index_dir)
    path = f"{base}/centroids.parquet"
    known, jobs_known = _job_ids(spark, lambda: sim.read_codebook(spark, base))
    inferred, jobs_inferred = _job_ids(spark, lambda: spark.read.parquet(path))
    assert jobs_known == [] and len(jobs_inferred) == 1
    assert known.schema == inferred.schema
    assert _rows(known) == _rows(inferred)


def test_distributed_fit_writes_the_known_codebook_schema(spark, tmp_path, gates_off):
    with gates_off() as refused:
        base = sim.build_ivf_index(spark, SF, str(tmp_path / "idx"))
    assert refused
    assert (
        sim.read_codebook(spark, base).schema
        == spark.read.parquet(f"{base}/centroids.parquet").schema
    )


def test_index_query_reads_the_codebook_without_inference(spark, index_dir):
    base = sim.resolve_index_base(spark, index_dir)

    def call():
        return sim._query_ivf_index_once(spark, SF, base)

    call().collect()  # warm the table-schema memo for both runs
    known, inferred = _one_job_fewer(spark, call, _codebook)
    assert known == inferred


@pytest.mark.parametrize("site", ["append", "ingest"])
def test_index_writers_read_the_codebook_without_inference(
    spark, index_dir, tmp_path, site
):
    emb = _embeddings(spark)
    batch = emb.select(
        (F.col("vec_id") + sim.IVF_APPEND_OFFSET).alias("vec_id"), "embedding"
    )
    if site == "append":
        members = "members.parquet"
        batch = batch.select(
            "vec_id", F.expr(sim._TO_DOUBLE.format(a="embedding")).alias("e")
        )

        def write(d):
            return lambda: sim.append_ivf_index(spark, d, batch)

    else:
        members = "members_ingest.parquet"

        def write(d):
            return lambda: pipeline._ivf_ingest_batch_fn(d)(batch, 0)

    known_dir, inferred_dir = str(tmp_path / "known"), str(tmp_path / "inferred")
    shutil.copytree(index_dir, known_dir)
    shutil.copytree(index_dir, inferred_dir)
    _, jobs_known = _job_ids(spark, write(known_dir))
    with _inferring(_codebook):
        _, jobs_inferred = _job_ids(spark, write(inferred_dir))
    assert len(jobs_known) == len(jobs_inferred) - 1, (jobs_known, jobs_inferred)
    assert _rows(_table(spark, known_dir, members)) == _rows(
        _table(spark, inferred_dir, members)
    )


def _table(spark, index_dir, name):
    return spark.read.parquet(f"{sim.resolve_index_base(spark, index_dir)}/{name}")


def _ingest(s):
    return s == sim.INGEST_SCHEMA


@pytest.fixture(scope="module")
def ingested_dir(spark, tmp_path_factory):
    """An index with two streamed generations (gens 0 and 1)."""
    path = str(tmp_path_factory.mktemp("ingest") / "idx")
    sim.build_ivf_index(spark, SF, path)
    emb = _embeddings(spark)
    for gen in (0, 1):
        pipeline._ivf_ingest_batch_fn(path)(
            emb.select(
                (F.col("vec_id") + sim.IVF_APPEND_OFFSET * (gen + 1)).alias("vec_id"),
                "embedding",
            ),
            gen,
        )
    return path


def test_ingest_view_reads_without_inference(spark, ingested_dir):
    base = sim.resolve_index_base(spark, ingested_dir)
    known, inferred = _one_job_fewer(
        spark, lambda: pipeline.ivf_members_versioned(spark, base), _ingest
    )
    assert known[1] == inferred[1]
    assert len(known[1]) == 3 * _embeddings(spark).count()


def test_ingest_compaction_reads_without_inference(spark, ingested_dir, tmp_path):
    known_dir, inferred_dir = str(tmp_path / "known"), str(tmp_path / "inferred")
    shutil.copytree(ingested_dir, known_dir)
    shutil.copytree(ingested_dir, inferred_dir)

    def compact(d):
        return lambda: pipeline.compact_ivf_ingest(spark, d, keep_last=1)

    known, jobs_known = _job_ids(spark, compact(known_dir))
    with _inferring(_ingest):
        inferred, jobs_inferred = _job_ids(spark, compact(inferred_dir))
    assert len(jobs_known) == len(jobs_inferred) - 1, (jobs_known, jobs_inferred)
    assert known["folded_gens"] == inferred["folded_gens"] == 1
    assert known["rows_compacted"] == inferred["rows_compacted"] > 0
    assert _rows(pipeline.ivf_members(spark, known_dir)) == _rows(
        pipeline.ivf_members(spark, inferred_dir)
    )


def test_dataless_ingest_table_reads_as_no_generation(spark, index_dir, tmp_path):
    # an ingest table holding only a _SUCCESS marker (no generation dir)
    # contributes no rows and raises nothing
    path = str(tmp_path / "idx")
    shutil.copytree(index_dir, path)
    base = sim.resolve_index_base(spark, path)
    os.makedirs(f"{base}/members_ingest.parquet")
    open(f"{base}/members_ingest.parquet/_SUCCESS", "w").close()
    assert _rows(pipeline.ivf_members(spark, path)) == _rows(
        pipeline.ivf_members(spark, index_dir)
    )


def test_bpe_stage_reads_back_without_inference(spark, tmp_path, monkeypatch):
    # a scratch root of the test's own: the oracle of text_tokenize_bpe
    # reads the real stage by corpus fingerprint
    monkeypatch.setattr(sim, "_SCRATCH_ROOT", str(tmp_path))
    vocab = spark.createDataFrame(
        [("the", "t h e"), ("ing", "i n g"), ("a", "a")], "w string, s string"
    )

    def staged(s):
        return isinstance(s, StructType) and s.names == ["sf_key", "w", "n_sym"]

    def call():
        return text._bpe_stage(spark, SF, vocab)

    call()  # warm the table-schema memo for both runs
    known, inferred = _one_job_fewer(spark, call, staged)
    assert known == inferred
    assert known[1] == _rows(
        vocab.select("w", F.expr("size(split(trim(s), ' '))").alias("n_sym"))
    )
