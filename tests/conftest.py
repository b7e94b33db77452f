from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from datafusion_loki_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    spark = get_spark(app_name="tests", master=f"local[{cpus}]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def gates_off():
    """A context manager that sends every bounded-state gate (CC labels,
    BPE training, the k-means and PQ fits) to its distributed loop:
    inside it ``functions.local.bounded_collect`` refuses every frame.
    It yields the list of caps the refused calls asked for, so a test
    can check that a gate was reached."""
    from unittest import mock

    from datafusion_loki_spark.functions import local

    @contextlib.contextmanager
    def off():
        calls: list = []

        def refuse(df, cap):
            calls.append(cap)
            return None

        with mock.patch.object(local, "bounded_collect", refuse):
            yield calls

    return off


@pytest.fixture
def fast_paths_off():
    """A context manager that takes every scale-adaptive fast path off
    the plan: inside it ``catalog.scan_fanout`` and ``dedup._spread``
    return their input frame, and ``overlap.materialize_concurrently``
    calls its thunks one after another, in order."""
    from unittest import mock

    from datafusion_loki_spark import catalog
    from datafusion_loki_spark.functions import overlap
    from datafusion_loki_spark.operators import dedup

    @contextlib.contextmanager
    def off():
        with mock.patch.object(
            catalog, "scan_fanout", lambda df, *a, **k: df
        ), mock.patch.object(
            dedup, "_spread", lambda df, *keys: df
        ), mock.patch.object(
            overlap,
            "materialize_concurrently",
            lambda *thunks: tuple(t() for t in thunks),
        ):
            yield

    return off
