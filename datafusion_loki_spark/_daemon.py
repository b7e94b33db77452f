"""The Python-worker daemon of a ``get_spark`` session.

Spark starts every Python worker by forking it from one daemon process
(``pyspark.daemon``). A fresh fork imports what its first task needs:
pandas, pyarrow, ``pyspark.sql.datasource`` and this package's Loki
reader or operators, ~0.6 s on a 4-vCPU host before the task's first
row. Workers are reused, so each pays it once, but it returns whenever
Spark discards one: a Spark-side LIMIT that stops reading a Python
scan's stream early closes that worker's socket, and the next wide scan
forks a replacement.

This module imports that set once, in the daemon, and then runs Spark's
own daemon loop, so every fork inherits it. ``PRELOAD`` is the set a
freshly forked worker imported on its first task of the benchmark's
Loki reads, ingests and pipeline faces (measured by diffing
``sys.modules``). The closing ``importlib.invalidate_caches()`` primes
``_zipcache``'s archive stamps here, so a new worker's first call skips
the ``pyspark.zip`` directory re-read too.

Spark launches it as ``python -m datafusion_loki_spark._daemon
<worker module>``; ``pyspark.daemon`` reads the worker module from
``sys.argv[1]`` when imported.

The daemon and its workers accept on a Unix domain socket, not on
loopback TCP: ``get_spark`` sets ``spark.python.unix.domain.socket.enabled``
and points ``spark.python.unix.domain.socket.dir`` at a private, short
directory of the driver process, where ``manager()`` binds
``.<uuid4>.sock``. Over that socket a worker skips the auth secret it
checks over TCP, so the directory's 0700 mode is the access control.
"""

import importlib

PRELOAD = (
    "encodings.idna",
    "pandas",
    "pyarrow.compute",
    "pyarrow.ipc",
    "pyarrow.pandas_compat",
    "pyarrow.parquet",
    "pyarrow.vendored.version",
    "pyspark.sql.datasource",
    "pyspark.sql.worker.plan_data_source_read",
    "datafusion_loki_spark.sources.loki",
    "datafusion_loki_spark.operators.dedup",
    "datafusion_loki_spark.operators.jpeg",
    "datafusion_loki_spark.operators.multimodal",
    "datafusion_loki_spark.operators.similarity",
    "datafusion_loki_spark.operators.text",
    "datafusion_loki_spark.plans.logs",
)

if __name__ == "__main__":
    for name in PRELOAD:
        importlib.import_module(name)
    importlib.invalidate_caches()

    from pyspark.daemon import manager

    manager()
