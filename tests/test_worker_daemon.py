"""Python workers of a ``get_spark`` session fork from the package's
preloading daemon (``datafusion_loki_spark/_daemon.py``)."""

from __future__ import annotations

import os
import sys
import time

import pytest

from datafusion_loki_spark import loki_table
from tests.emulator import LokiEmulator

NS = 1_000_000_000


def test_workers_fork_from_the_package_daemon(spark):
    def parent_cmdline(_):
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            return f.read().split(b"\0")

    (argv,) = spark.sparkContext.parallelize([0], 1).map(parent_cmdline).collect()
    assert argv[1:3] == [b"-m", b"datafusion_loki_spark._daemon"], argv


def test_plain_worker_inherits_the_preloaded_modules(spark):
    # the modules are in the worker before any task asked for them: the
    # daemon imported them ahead of its own loop module, so they precede
    # ``pyspark.daemon`` in sys.modules' insertion order (a module a task
    # imports lands after it)
    wanted = ("pyarrow.parquet", "pandas", "datafusion_loki_spark.sources.loki")

    def imported_before_the_loop(_):
        order = list(sys.modules)
        loop = order.index("pyspark.daemon") if "pyspark.daemon" in order else -1
        return [m in sys.modules and order.index(m) < loop for m in wanted]

    flags = spark.sparkContext.parallelize(range(4), 4).map(imported_before_the_loop)
    assert flags.collect() == [[True] * len(wanted)] * 4


@pytest.fixture(scope="module")
def emulator():
    em = LokiEmulator().start()
    t0 = time.time_ns() - 4 * 3600 * NS
    em.seed(
        [
            (t0 + i * 3600 * NS // 500, {"app": "a"}, f"line {i}")
            for i in range(2000)
        ]
    )
    yield em
    em.stop()


def test_scan_after_a_spark_side_limit_returns_every_row(spark, emulator):
    # a Spark-side LIMIT stops reading the Python scan's stream after one
    # row and discards that worker; the next 4-wide scan forks its
    # replacement from the daemon and must still read every row
    first = loki_table(spark, emulator.endpoint, labels={"app": "a"}).limit(1)
    assert len(first.collect()) == 1
    rows = loki_table(
        spark, emulator.endpoint, labels={"app": "a"}, partitions=4
    ).collect()
    assert sorted(r.line for r in rows) == sorted(f"line {i}" for i in range(2000))
