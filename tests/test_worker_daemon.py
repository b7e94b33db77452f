"""Python workers of a ``get_spark`` session fork from the package's
preloading daemon (``datafusion_loki_spark/_daemon.py``) and talk to
the JVM over a Unix domain socket in a private, short directory."""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys
import textwrap
import time
import uuid

import pytest

from datafusion_loki_spark import loki_table
from datafusion_loki_spark.sources.loki import LokiDataSource, LokiDataSourceReader
from tests.emulator import LokiEmulator

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# pyspark.daemon binds <dir>/.<uuid4>.sock; Linux's sun_path holds 107
# bytes of path
SOCK_NAME_LEN = len(f"/.{uuid.uuid4()}.sock")
SUN_PATH_MAX = 107

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


# the two settings a worker's transport follows (read inside each
# worker-side closure: test-module functions do not unpickle in workers)
TRANSPORT_ENV = ("PYTHON_UNIX_DOMAIN_ENABLED", "PYTHON_WORKER_FACTORY_SOCK_DIR")


def _assert_private_short_socket_dir(spark, transport):
    enabled, sock_dir = transport
    # Spark exports "True"; pyspark.daemon and the worker compare it
    # case-insensitively
    assert enabled.lower() == "true"
    assert sock_dir == spark.sparkContext.getConf().get(
        "spark.python.unix.domain.socket.dir"
    )
    st = os.stat(sock_dir)
    assert stat.S_ISDIR(st.st_mode)
    assert stat.S_IMODE(st.st_mode) == 0o700
    assert st.st_uid == os.getuid()
    assert len(sock_dir) + SOCK_NAME_LEN <= SUN_PATH_MAX


def test_plain_worker_talks_over_a_private_unix_socket(spark):
    keys = TRANSPORT_ENV
    transports = (
        spark.sparkContext.parallelize(range(2), 2)
        .map(lambda _: tuple(os.environ.get(k) for k in keys))
        .collect()
    )
    for transport in transports:
        _assert_private_short_socket_dir(spark, transport)


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


def test_loki_scan_worker_talks_over_a_private_unix_socket(spark, emulator, tmp_path):
    # the Loki reader, wrapped to note each worker's transport in a file:
    # partitions() runs in the planning worker, read() in the scan worker
    out, keys = str(tmp_path), TRANSPORT_ENV

    def note(step):
        with open(os.path.join(out, f"{step}-{os.getpid()}.json"), "w") as f:
            json.dump([os.environ.get(k) for k in keys], f)

    class Reader(LokiDataSourceReader):
        def partitions(self):
            note("plan")
            return super().partitions()

        def read(self, partition):
            note("read")
            yield from super().read(partition)

    class Source(LokiDataSource):
        @classmethod
        def name(cls):
            return "loki_transport_probe"

        def reader(self, schema):
            return Reader(self.options)

    spark.dataSource.register(Source)
    rows = (
        spark.read.format("loki_transport_probe")
        .option("endpoint", emulator.endpoint)
        .option("labels", json.dumps({"app": "a"}))
        .option("partitions", "2")
        .load()
        .collect()
    )
    assert sorted(r.line for r in rows) == sorted(f"line {i}" for i in range(2000))
    notes = sorted(os.listdir(out))
    assert {n.split("-")[0] for n in notes} == {"plan", "read"}, notes
    for name in notes:
        with open(os.path.join(out, name)) as f:
            _assert_private_short_socket_dir(spark, tuple(json.load(f)))


def test_long_tmpdir_leaves_the_socket_short_and_gone_at_exit(tmp_path):
    # TMPDIR and java.io.tmpdir (Spark's default socket directory) both
    # far past the sun_path limit: workers still start, and the socket
    # directory goes away with the interpreter
    deep = tmp_path / ("d" * 60) / ("t" * 60)
    deep.mkdir(parents=True)
    assert len(str(deep)) > 120
    script = textwrap.dedent(
        """
        import os

        import pyarrow as pa
        import pyarrow.compute as pc
        from datafusion_loki_spark.session import get_spark

        spark = get_spark(app_name="long-tmpdir", master="local[2]")
        sock_dir = spark.sparkContext.getConf().get(
            "spark.python.unix.domain.socket.dir"
        )
        assert os.path.isdir(sock_dir)
        print("SOCKDIR", sock_dir, flush=True)

        def double(batches):
            for b in batches:
                yield pa.RecordBatch.from_pydict(
                    {"id": b.column(0), "twice": pc.multiply(b.column(0), 2)}
                )

        rows = spark.range(0, 5, 1, 2).mapInArrow(double, "id long, twice long")
        print("ROWS", sorted((r.id, r.twice) for r in rows.collect()), flush=True)
        spark.stop()
        """
    )
    env = dict(
        os.environ,
        TMPDIR=str(deep),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={deep}",
        SPARK_GRAFT_CPUS="2",
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = dict(
        line.split(" ", 1)
        for line in proc.stdout.splitlines()
        if line.startswith(("SOCKDIR ", "ROWS "))
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert lines["ROWS"] == str([(i, 2 * i) for i in range(5)])
    sock_dir = lines["SOCKDIR"]
    assert len(sock_dir) + SOCK_NAME_LEN <= SUN_PATH_MAX
    assert not os.path.exists(sock_dir)
