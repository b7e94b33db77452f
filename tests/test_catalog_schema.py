"""catalog.read_parquet's schema memo: a table load of an unchanged local
parquet file starts no Spark job, and nothing else about the read moves."""

from __future__ import annotations

import os
from collections import OrderedDict

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType

from datafusion_loki_spark import catalog
from tests.test_sqlbridge import _job_ids


@pytest.fixture
def memo(monkeypatch):
    """An empty memo for this test, so files written by other tests with
    the same bytes cannot turn a first load into a hit."""
    fresh = OrderedDict()
    monkeypatch.setattr(catalog, "_schema_memo", fresh)
    return fresh


def _write(path, **cols):
    pq.write_table(pa.table(cols), str(path))


def _rows(df):
    return sorted(df.collect())


def test_second_load_of_an_unchanged_file_starts_no_job(spark, tmp_path, memo):
    _write(tmp_path / "t.parquet", k=[3, 1, 2], s=["c", "a", "b"])
    first, jobs1 = _job_ids(spark, lambda: catalog.load_table(spark, str(tmp_path), "t"))
    second, jobs2 = _job_ids(spark, lambda: catalog.load_table(spark, str(tmp_path), "t"))
    assert len(jobs1) >= 1
    assert jobs2 == []
    assert second.schema == first.schema
    assert _rows(second) == _rows(first) == _rows(spark.read.parquet(str(tmp_path / "t.parquet")))


def test_a_rewritten_file_is_inferred_again(spark, tmp_path, memo):
    path = tmp_path / "t.parquet"
    _write(path, a=[1, 2, 3])
    assert catalog.load_table(spark, str(tmp_path), "t").columns == ["a"]
    _write(path, a=[1, 2, 3], extra=["x", "y", "z"])
    df = catalog.load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "extra"]
    assert _rows(df) == [(1, "x"), (2, "y"), (3, "z")]


def test_a_same_size_same_mtime_rewrite_is_inferred_again(spark, tmp_path, memo):
    path = tmp_path / "t.parquet"
    _write(path, a=[1, 2, 3])
    assert catalog.load_table(spark, str(tmp_path), "t").columns == ["a"]
    st = os.stat(path)
    _write(path, b=[1, 2, 3])
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(path).st_size == st.st_size
    assert os.stat(path).st_mtime_ns == st.st_mtime_ns
    df = catalog.load_table(spark, str(tmp_path), "t")
    assert df.columns == ["b"]
    assert _rows(df) == [(1,), (2,), (3,)]


def test_flipping_nanos_as_long_infers_again(spark, tmp_path, memo):
    key = "spark.sql.legacy.parquet.nanosAsLong"
    pq.write_table(
        pa.table({"ts": pa.array([1_000, 2_000], pa.timestamp("ns"))}),
        str(tmp_path / "t.parquet"),
    )
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        as_long = catalog.load_table(spark, str(tmp_path), "t")
        assert isinstance(as_long.schema["ts"].dataType, LongType)
        spark.conf.set(key, "false")
        # a memo hit would hand back the LongType schema; inferring again
        # either yields a non-long type or refuses the NANOS column
        try:
            dtype = catalog.load_table(spark, str(tmp_path), "t").schema["ts"].dataType
        except Exception as e:
            assert "NANOS" in str(e), e
        else:
            assert not isinstance(dtype, LongType)
    finally:
        spark.conf.set(key, before)
    assert len(memo) == 1


def test_directories_and_file_uris_read_like_spark(spark, tmp_path, memo):
    d = tmp_path / "t.parquet"
    d.mkdir()
    _write(d / "part-0.parquet", k=[1, 2])
    _write(d / "part-1.parquet", k=[3])
    got = catalog.load_table(spark, str(tmp_path), "t")
    assert _rows(got) == _rows(spark.read.parquet(str(d))) == [(1,), (2,), (3,)]
    assert len(memo) == 0  # a directory is never memoized

    f = tmp_path / "f.parquet"
    _write(f, k=[7, 8])
    for _ in range(2):  # a miss, then a hit
        got = catalog.read_parquet(spark, f.as_uri())
        assert _rows(got) == _rows(spark.read.parquet(f.as_uri())) == [(7,), (8,)]
    assert len(memo) == 1


def test_only_local_parquet_files_have_a_footer_digest(tmp_path):
    f = tmp_path / "f.parquet"
    _write(f, k=[1])
    assert catalog._footer_digest(str(f)) is not None
    assert catalog._footer_digest(f.as_uri()) == catalog._footer_digest(str(f))
    (tmp_path / "junk.parquet").write_bytes(b"not parquet")
    (tmp_path / "tiny.parquet").write_bytes(b"PAR1")
    for path in (
        str(tmp_path),
        str(tmp_path / "missing.parquet"),
        str(tmp_path / "junk.parquet"),
        str(tmp_path / "tiny.parquet"),
        "s3://bucket/corpus/documents.parquet",
        "hdfs://nn:8020/warehouse/documents.parquet",
        f"file://otherhost{f}",
    ):
        assert catalog._footer_digest(path) is None, path


def test_the_memo_stays_within_its_bound(spark, tmp_path, memo, monkeypatch):
    monkeypatch.setattr(catalog, "_SCHEMA_MEMO_CAP", 3)
    for i in range(5):
        _write(tmp_path / f"t{i}.parquet", **{f"c{i}": [i]})
        catalog.load_table(spark, str(tmp_path), f"t{i}")
        assert len(memo) == min(i + 1, 3)
    assert [s.names for s in memo.values()] == [["c2"], ["c3"], ["c4"]]


def test_concurrent_reads_keep_the_memo_bounded_and_keyed(tmp_path, memo, monkeypatch):
    # overlap threads share the memo: with more threads than cores and a
    # short switch interval, every read must still get its own file's
    # schema and the memo must stay within its bound (a fake session:
    # this pins the memo's bookkeeping, not Spark)
    import sys
    import threading
    import types

    from pyspark.sql.types import StructField, StructType

    cap, n_files, n_threads = 4, 12, 16
    monkeypatch.setattr(catalog, "_SCHEMA_MEMO_CAP", cap)
    paths = [str(tmp_path / f"t{i}.parquet") for i in range(n_files)]
    for i, path in enumerate(paths):
        _write(path, **{f"c{i}": [i]})

    def column(path):  # t<i>.parquet holds the one column c<i>
        return "c" + os.path.basename(path)[1 : -len(".parquet")]

    class Reader:
        def __init__(self, schema=None):
            self._schema = schema

        def schema(self, schema):
            return Reader(schema)

        def parquet(self, path):
            inferred = StructType([StructField(column(path), LongType())])
            if self._schema is not None:
                assert self._schema == inferred, (path, self._schema)
            return types.SimpleNamespace(schema=self._schema or inferred)

    fake = types.SimpleNamespace(
        conf=types.SimpleNamespace(get=lambda key: "v"),
        read=Reader(),
    )
    errors = []

    def worker(k):
        try:
            for j in range(60):
                path = paths[(k * 7 + j) % n_files]
                got = catalog.read_parquet(fake, path).schema
                assert got.names == [column(path)]
        except Exception as e:  # collected: a thread's assertion is not the test's
            errors.append(e)

    before = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(before)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert 1 <= len(memo) <= cap
