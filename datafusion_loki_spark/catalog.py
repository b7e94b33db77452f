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

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def probe_events_ts_is_long(spark: SparkSession, path: str) -> bool:
    """Whether the events parquet at ``path`` carries ts as raw int64
    nanos (TIMESTAMP(NANOS) physical encoding — readable only with
    nanosAsLong) rather than TIMESTAMP(MICROS). The ONE probe shared by
    the batch loader and the file-stream source, so the two paths can
    never disagree on the encoding dispatch."""
    try:
        df = spark.read.parquet(path)
    except Exception:
        # TIMESTAMP(NANOS) parquet: Spark raises unless read as raw int64.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
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
    cannot list: a scheme-prefixed URI (s3://, hdfs:// — i.e. exactly
    the at-scale deployment) or a dir with no visible parquet files.
    The caller must treat None as FAIL CLOSED (skip the fan-out): the
    r15 shape returned 1 here, which would have round-robin-shuffled
    every payload byte of a full-corpus remote scan (r16 worklist #2).
    A ``file://`` URI is local, so it is unwrapped to its path first."""
    import glob
    import re
    from urllib.parse import unquote, urlparse

    if path.lower().startswith("file:"):
        url = urlparse(path)
        if url.netloc not in ("", "localhost") or not url.path:
            return None
        path = unquote(url.path)
    # scheme-prefixed URI: not a local path, os.stat would lie
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", path):
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
        df = normalize_events_ts(spark.read.parquet(path), ts_is_long)
    else:
        df = spark.read.parquet(path)
    if fanout:
        df = scan_fanout(
            df, spark, path, key=fanout if isinstance(fanout, str) else None
        )
    return df

