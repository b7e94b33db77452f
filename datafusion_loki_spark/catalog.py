"""Load the driver's parquet tables (see TESTDATA.md / FIXTURES.md).

The one wrinkle: ``events.ts`` has shipped in two physical encodings across
testdata generations: parquet ``TIMESTAMP(NANOS)`` (which Spark can only read
as raw int64 via ``spark.sql.legacy.parquet.nanosAsLong``) and plain
``TIMESTAMP(MICROS)`` (which reads natively as timestamp_ntz). We
type-dispatch on the loaded dtype: int64 → floor-convert ns→µs (the same
truncation DuckDB applies), timestamp → pass through, cast to timestamp_ntz
for a uniform logical schema either way. This mirrors the reference's
ns-precision decision (reference: datafusion-loki/src/table.rs:17,
SURVEY.md §7.4): ns on the wire, µs in SQL.
"""

from __future__ import annotations

import hashlib
import os
import re
import threading
from collections import OrderedDict
from urllib.parse import unquote, urlparse

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType

from datafusion_loki_spark.session import parquet_schema_confs

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _local_path(path: str) -> "str | None":
    """``path`` as a local filesystem path, or None when the local
    filesystem cannot see it: a scheme-prefixed URI (s3://, hdfs:// —
    i.e. exactly the at-scale deployment) or a ``file://`` URI naming
    another host. A ``file:`` URI is local, so it is unwrapped."""
    if path.lower().startswith("file:"):
        url = urlparse(path)
        if url.netloc not in ("", "localhost") or not url.path:
            return None
        return unquote(url.path)
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", path):
        return None
    return path


def _footer_digest(path: str) -> "bytes | None":
    """Digest of the footer of the local parquet FILE at ``path``: the
    bytes Spark reads to infer its schema. None for anything else — a
    directory, a remote URI, a file that does not end in a plain
    parquet footer."""
    local = _local_path(path)
    if local is None or not os.path.isfile(local):
        return None
    try:
        with open(local, "rb") as f:
            f.seek(-8, os.SEEK_END)
            tail = f.read(8)
            if tail[4:] != b"PAR1":
                return None
            f.seek(-8 - int.from_bytes(tail[:4], "little"), os.SEEK_END)
            return hashlib.blake2b(f.read()).digest()
    except OSError:
        return None


_SCHEMA_MEMO_CAP = 256
_schema_memo: "OrderedDict[tuple, StructType]" = OrderedDict()
_schema_memo_lock = threading.Lock()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without re-inferring a schema this
    process has already inferred: Spark infers a parquet schema by
    running a footer-reading job on every read.

    For a local parquet file the memo key is the footer's digest plus
    the session's values of the confs that shape inference, so a
    rewritten file (same size and mtime too) or a flipped conf infers
    again. A hit reads with the memoized schema as the user schema;
    every read still lists and scans its file, and only the StructType
    is kept. Directories and remote URIs read exactly as
    ``spark.read.parquet`` does. Overlap threads may race a miss: at
    worst one inference runs twice."""
    digest = _footer_digest(path)
    if digest is None:
        return spark.read.parquet(path)
    key = (digest, parquet_schema_confs(spark))
    with _schema_memo_lock:
        schema = _schema_memo.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _schema_memo_lock:
        _schema_memo[key] = df.schema
        while len(_schema_memo) > _SCHEMA_MEMO_CAP:
            _schema_memo.popitem(last=False)
    return df


def probe_events_ts_is_long(spark: SparkSession, path: str) -> bool:
    """Whether the events parquet at ``path`` carries ts as raw int64
    nanos (TIMESTAMP(NANOS) physical encoding — readable only with
    nanosAsLong) rather than TIMESTAMP(MICROS). The ONE probe shared by
    the batch loader and the file-stream source, so the two paths can
    never disagree on the encoding dispatch."""
    try:
        df = read_parquet(spark, path)
    except Exception:
        # TIMESTAMP(NANOS) parquet: Spark raises unless read as raw int64.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, path)
    return isinstance(df.schema["ts"].dataType, LongType)


def normalize_events_ts(df: DataFrame, ts_is_long: bool) -> DataFrame:
    """events.ts → TIMESTAMP_NTZ(µs), the ONE conversion shared by the
    batch loader and the file-stream source (int64 ns floor-divides to
    µs exactly like DuckDB; µs timestamps just re-type)."""
    if ts_is_long:
        return df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


_SCAN_SPLIT_BYTES = 128 * 1024 * 1024  # Spark's default maxPartitionBytes


def _est_scan_tasks(path: str) -> "int | None":
    """Estimate how many scan tasks Spark will create for the parquet
    file/dir at ``path``: one per started 128 MB of each file (the
    split math's upper shape; a file below 128 MB with one row group
    yields exactly one non-empty task). os.stat only — no JVM roundtrip
    and no RDD-conversion probe (the cost `_spread`'s docstring warns
    about), so it is safe to call on every load_table.

    Returns None — "can't tell" — for any path the LOCAL filesystem
    cannot list (``_local_path``) or a dir with no visible parquet
    files. The caller must treat None as FAIL CLOSED (skip the
    fan-out): the r15 shape returned 1 here, which would have
    round-robin-shuffled every payload byte of a full-corpus remote
    scan (r16 worklist #2)."""
    import glob

    path = _local_path(path)
    if path is None:
        return None
    if os.path.isfile(path):
        files = [path]
    else:
        files = glob.glob(os.path.join(path, "*.parquet")) or glob.glob(
            os.path.join(path, "**", "*.parquet"), recursive=True
        )
    if not files:
        return None
    return sum(1 + os.path.getsize(f) // _SCAN_SPLIT_BYTES for f in files)


def scan_fanout(
    df: DataFrame, spark: SparkSession, path: str, key: "str | None" = None
) -> DataFrame:
    """Scale-adaptive read fan-out (OPTIMIZATION_r15 change 1).

    The driver's test tables are single-file/single-row-group parquet,
    which `spark.sql.files.maxPartitionBytes` cannot subdivide — every
    scan arrives as ONE task and everything up to the first exchange
    (the whole Arrow-kernel decode family, tokenize/explode stages)
    runs on one core of local[32]. When the on-disk size says the scan
    cannot fill the cluster, repartition round-robin to the default
    parallelism; on a 100 TB input the estimate is thousands of tasks
    and this is a provable no-op (no exchange in the plan), so payload
    bytes still never shuffle at scale.

    Opt-in per call-site (`load_table(..., fanout=True)` /
    `media_table(..., fanout=True)`), NOT automatic: measured this
    round (OPTIMIZATION_r15.md), the exchange pays for itself only
    when the pre-exchange work is expensive (ms-scale Arrow decode
    kernels, char-gram explodes). For cheap kernels, keyed pipelines
    whose `_spread` exchange doubles as the downstream groupBy
    partitioning, and the iterative/index-writing embeddings
    operators, the extra stage is a measured net loss — those sites
    stay opted out.

    ``key`` (OPTIMIZATION_r15 change 2): hash-repartition on that
    COLUMN instead of round-robin. For consumers whose first wide
    operation is keyed by it (the winnowing family's doc-partitioned
    window over the gram explode), this moves the unavoidable exchange
    BEFORE the explode: the shuffle carries one narrow row per
    document instead of one 40+-byte row per character gram (guide
    §3.3 "explode multiplies the shuffle" / §8 "move small rows"), and
    the downstream Window/distinct then run exchange-free on the
    exploded frame. Unlike the round-robin fan-out this is NOT gated
    on the scan-task estimate — the keyed exchange replaces one the
    consumer would pay anyway, at every scale. The partition count is
    pinned to defaultParallelism (REPARTITION_BY_NUM) because AQE
    would otherwise coalesce the pre-explode exchange by its INPUT
    size — a few MB of document rows — onto one task and serialize
    the gram explode behind it."""
    target = spark.sparkContext.defaultParallelism
    if key is not None:
        return df.repartition(target, F.col(key))
    est = _est_scan_tasks(path)
    if est is None or est >= target:
        # None = the local FS can't see the input (remote URI / nothing
        # listable): fail CLOSED — never add an exchange on a scan whose
        # size we cannot bound (it may be the full 100 TB corpus)
        return df
    return df.repartition(target)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fanout=False
) -> DataFrame:
    """Read one driver table; normalizes events.ts ns→µs TIMESTAMP_NTZ.

    ``fanout=True`` applies the adaptive scan fan-out above;
    ``fanout="col"`` the keyed variant — opt in only where the
    consumer's pre-exchange work is expensive enough to beat the extra
    stage (see scan_fanout's docstring)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        ts_is_long = probe_events_ts_is_long(spark, path)
        df = normalize_events_ts(read_parquet(spark, path), ts_is_long)
    else:
        df = read_parquet(spark, path)
    if fanout:
        df = scan_fanout(
            df, spark, path, key=fanout if isinstance(fanout, str) else None
        )
    return df

