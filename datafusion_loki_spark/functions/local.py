"""The one local-vs-distributed gate for bounded operator state.

Four operators hold training or labelling state that is bounded at
every test and candidate scale but unbounded at web scale: the CC edge
list (``dedup._cc_labels``), the BPE word table (``text._bpe_train``)
and the k-means / PQ train samples (``similarity._local_fit_inputs``).
Each collects that state and finishes on the driver when it fits a cap,
and runs its distributed Spark loop otherwise. Both halves of that
decision live here:

- ``bounded_collect`` makes the decision once: a narrow probe, then the
  collect;
- ``local_frame`` is the one way a driver-side result re-enters Spark.

Tests force every gate onto its distributed twin by patching
``bounded_collect`` to return None (``tests/conftest.py::gates_off``);
callers therefore look it up through this module at call time.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def bounded_collect(df: DataFrame, cap: int) -> "list | None":
    """``df``'s rows, or None when it has more than ``cap`` rows.

    The probe is narrow: it ships one constant per row and stops at
    ``cap + 1`` rows, so an above-cap frame never ships its wide columns
    (embedding vectors) to the driver. Only a frame that provably fits
    is collected. The probe is a CollectLimit, which scans partitions
    incrementally; ``limit().count()`` would plan a single-partition
    exchange instead (measured 305 vs 121 ms warm on the k-means sample
    at sf0.1).

    The probe and the collect are two evaluations of ``df``, so ``df``
    must be deterministic: a checkpoint, or a filter over parquet. A
    nondeterministic frame could pass the probe and collect more than
    ``cap`` rows."""
    if len(df.select(F.lit(1).alias("one")).limit(cap + 1).collect()) > cap:
        return None
    return df.collect()


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """A frame over driver-side ``rows`` (tuples in ``schema`` field
    order; ``schema`` a DDL string or StructType).

    Built through pandas and Arrow, so the plan is a JVM LocalTableScan.
    ``createDataFrame(list)`` would plan a pickled-Python RDD instead,
    and every consumer action (keep-list compositions, per-round BPE
    apply joins, centroid writes, probe joins) would pay a Python-worker
    round-trip (measured 6.7x dearer per action on the CC labels).
    Values cross as Arrow data, doubles as IEEE float64 bits, so rows
    come back identical."""
    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=schema.names), schema=schema
    )
