"""SparkSession factory tuned for the engine.

Scale posture: these configs are chosen so the same code runs on a
1000-executor cluster against ~100 TB — AQE handles runtime re-planning
(partition coalescing, skew-join splitting), broadcast joins are enabled
with an explicit threshold, and Arrow makes the Python<->JVM boundary
columnar. Tests run on local[N]; nothing here is local-mode specific.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession


@functools.cache
def _socket_dir() -> str:
    """This process's directory for Spark's Python-worker Unix sockets:
    made once under ``/tmp`` (mode 0700, whatever TMPDIR says) and
    removed when the interpreter that made it exits."""
    path = tempfile.mkdtemp(prefix="spark-uds-", dir="/tmp")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def get_spark(
    app_name: str = "datafusion-loki-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # On a real cluster shuffle parallelism scales with the data
        # (set it to ~input_bytes / 128 MB and let AQE coalesce down);
        # locally it defaults to the core count. The env override is
        # the round-11 x64 finding operationalized: the positional-
        # winnowing ladder at 64x sf0.1 spilled under 32 fixed
        # partitions and ran 1.7x faster at 128 — scale harnesses
        # raise it without touching code.
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0")
        ) or max(cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime shuffle-partition coalescing + skew-join handling —
        # the 100 TB insurance policy.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # coalescePartitions.parallelismFirst=false — measured and
        # REJECTED in round 16 (VERDICT r15 next-#3 asked to right-size
        # small shuffles for the weak 8-vs-32-core scaling faces). The
        # size-targeted coalescing hypothesis: tiny shuffles pay 32
        # near-empty reduce tasks of scheduling overhead. Interleaved
        # same-session A/B over 22 faces at local[32] (3 rounds, min):
        # pf=false LOST 1.06x overall and lost on every face the r15
        # driver flagged — dedup_exact_docs 1.19x, log_asof_join_chunked
        # 1.34x, log_time_bucket 1.21x, dedup_minhash_lsh 1.24x,
        # mm_chunk_dedup 1.66x (its SMJ+pair-explode reduce stage is
        # compute-dense per byte, exactly what byte-targeted coalescing
        # starves). The r15 "8-core faster than 32-core" reads came from
        # the driver's ambient-degraded 32-core session (its own
        # calibration flagged it); on a healthy machine the extra reduce
        # tasks win. Keep the default (parallelism-first) — do not retry
        # without re-measuring (OPTIMIZATION_r16.md change 7).
        # Broadcast small dimension tables (region/nation/etc.).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for pandas UDFs / toPandas — vectorized Python boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The driver's events table is TIMESTAMP(NANOS) parquet, which Spark
        # rejects by default; read the raw int64 nanos and convert ourselves
        # (catalog.load_table does the ns→µs conversion).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python data source filter pushdown (the loki reader's pushFilters).
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Fork Python workers from a daemon that has already imported
        # pandas, pyarrow and this package's worker-side modules
        # (_daemon.py): a worker that Spark discards, as a LIMIT that
        # stops reading a Python scan early does, is replaced without
        # re-paying ~0.6 s of imports.
        .config("spark.python.daemon.module", "datafusion_loki_spark._daemon")
        # Talk to Python workers over a Unix domain socket, not loopback
        # TCP. Over TCP every JVM<->worker round trip can wait for
        # Nagle's algorithm to meet the peer's delayed ACK, Linux's
        # 40 ms minimum timer: a 1-row mapInArrow waited 40-47 ms for
        # its one input row, 0.1-2 ms over the socket, and a Loki scan
        # task pays it per call. The socket lives in a directory of its
        # own (_socket_dir): short, because the worker daemon binds
        # <dir>/.<uuid4>.sock and Linux caps that path at 107 bytes,
        # which TMPDIR or java.io.tmpdir (Spark's default) under a deep
        # checkout exceeds; and private (0700), because over the socket
        # pyspark.daemon skips the auth secret it checks over TCP, so
        # the directory's permissions are the only access control.
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", _socket_dir())
        # Deterministic timestamp semantics: string→timestamp casts and
        # date functions resolve in UTC everywhere (the loki wire protocol
        # is ns-since-epoch; a host-tz-dependent session would make the
        # same query return different instants on different clusters).
        .config("spark.sql.session.timeZone", "UTC")
        # Read-side parallelism: keep file splits small enough that sf0.1
        # still fans out across cores; on a real cluster the default 128 MB
        # is fine, this only lowers the floor.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Whole-stage codegen compiles one class per stage; a long-lived
        # session running many distinct plans (the bench suite, a notebook,
        # a multi-query job server) fills HotSpot's default ~240 MB code
        # cache, after which the JIT stops compiling and everything runs
        # interpreted — observed as a uniform ~15-25% suite-wide slowdown.
        # Reserve more; applies at JVM launch (no-op on an already-running
        # gateway).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
        # ContextCleaner housekeeping — measured and REJECTED this round
        # (OPTIMIZATION_r15): lowering spark.cleaner.periodicGC.interval
        # to 2min looked attractive (a fixed probe query ran 5.98 s after
        # 60 suite queries and 4.01 s right after a manual System.gc() in
        # the same session — the cleaner only releases dead broadcasts/
        # checkpoint blocks after a JVM GC), but two full bench runs with
        # the 2min trigger showed multi-second stop-the-world stalls
        # clustered near the 2-minute marks (single queries inflating
        # 5-11x), and a third run at the 30min default was clean and
        # faster overall. The default stays.
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Every Spark SQL conf whose value changes the schema Spark infers from a
# parquet footer: the ones ParquetToSparkSchemaConverter reads in Spark
# 4.1.2. They key catalog.read_parquet's schema memo and choose no path.
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
)


def parquet_schema_confs(spark: SparkSession) -> tuple:
    """The session's values of the confs that shape parquet schema
    inference, in ``_PARQUET_SCHEMA_CONFS`` order."""
    return tuple(spark.conf.get(key) for key in _PARQUET_SCHEMA_CONFS)
