"""Spark-free unit tests of the Loki push kernel (sources/loki.py
push_batches) against the in-process emulator: null rejection, the
batch_rows flush cadence, stream grouping, exact µs → ns conversion and
the exact JSON bytes on the wire."""

from __future__ import annotations

import json
import random
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pytest

from datafusion_loki_spark.sources.loki import push_batches
from tests.emulator import LokiEmulator

_LABELS_TYPE = pa.map_(pa.string(), pa.string())


def _batch(us, labels, lines, tz="UTC"):
    return pa.record_batch(
        [
            pa.array(us, pa.timestamp("us", tz)),
            pa.array(labels, _LABELS_TYPE),
            pa.array(lines, pa.string()),
        ],
        ["timestamp", "labels", "line"],
    )


def _float_unsafe_us(n):
    """The µs values test_write_roundtrip_exact_microseconds writes: ones
    whose float ``timestamp() * 1e6`` product truncates 1 µs short."""
    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    rng = random.Random(7)
    out = []
    while len(out) < n:
        us = rng.randrange(0, 2_000_000_000_000_000)
        if int((epoch + timedelta(microseconds=us)).timestamp() * 1_000_000) != us:
            out.append(us)
    return out


@pytest.fixture
def em():
    emulator = LokiEmulator().start()
    yield emulator
    emulator.stop()


@pytest.mark.parametrize("column", [0, 1, 2])
def test_null_in_any_column_raises(em, column):
    cols = [[1_000_000, 2_000_000], [[("app", "a")]] * 2, ["x", "y"]]
    cols[column] = [cols[column][0], None]
    with pytest.raises(ValueError, match="non-null"):
        push_batches(em.endpoint, [_batch(*cols)], 4096)
    assert em.pushes == []


def test_batch_rows_flush_cadence(em):
    # 7 rows at batch_rows=3 flush after rows 3 and 6, plus the tail;
    # the cadence counts rows across Arrow batch boundaries
    labels = [[("app", "a")]]
    batches = [
        _batch([0], labels, ["r0"]),
        _batch([1], labels, ["r1"]),
        _batch(list(range(2, 7)), labels * 5, [f"r{i}" for i in range(2, 7)]),
    ]
    assert push_batches(em.endpoint, batches, 3) == 7
    assert len(em.pushes) == 3
    assert [line for _, _, line in em.rows] == [f"r{i}" for i in range(7)]


def test_consecutive_equal_label_sets_share_one_stream(em):
    ab, b = [("app", "a"), ("env", "p")], [("app", "b")]
    # the third row's map lists the same pairs in another order: still
    # the same label set, so still the same stream object
    batch = _batch(
        [1, 2, 3, 4, 5],
        [ab, ab, list(reversed(ab)), b, ab],
        ["l0", "l1", "l2", "l3", "l4"],
    )
    assert push_batches(em.endpoint, [batch], 4096) == 5
    (body,) = em.pushes
    streams = json.loads(body)["streams"]
    assert [(s["stream"], len(s["values"])) for s in streams] == [
        ({"app": "a", "env": "p"}, 3),
        ({"app": "b"}, 1),
        ({"app": "a", "env": "p"}, 1),
    ]


@pytest.mark.parametrize("tz", ["UTC", "America/New_York", None])
def test_float_unsafe_microseconds_land_exactly(em, tz):
    bad_us = _float_unsafe_us(3)
    batch = _batch(bad_us, [[("app", "exact")]] * 3, [f"row-{u}" for u in bad_us], tz)
    push_batches(em.endpoint, [batch], 4096)
    stored = {line: ns for ns, _labels, line in em.rows}
    assert stored == {f"row-{u}": u * 1_000 for u in bad_us}


# The push bodies the former row-at-a-time writer (Row iterator,
# logql.datetime_to_ns, dict(labels)) produced for _golden_batch() at
# batch_rows=3.
_GOLDEN_BODIES = [
    b'{"streams": [{"stream": {"app": "a", "env": "p"}, "values": '
    b'[["541922093566863000", "l0"], ["139302744690089000", "l1"], '
    b'["559407892891565000", "l2"]]}]}',
    b'{"streams": [{"stream": {"app": "b"}, "values": '
    b'[["1767286800000000000", "l3 \\u00fcn\\u00efcode \\"q\\""], '
    b'["1767286800000001000", "l4"]]}, {"stream": {"app": "a", "env": "p"}, '
    b'"values": [["1767286800000002000", "l5"]]}]}',
    b'{"streams": [{"stream": {"app": "a", "env": "p"}, "values": '
    b'[["1767286800000003000", ""]]}]}',
]


def _golden_batch():
    ab = [("app", "a"), ("env", "p")]
    base = 1767286800_000_000
    return _batch(
        _float_unsafe_us(3) + [base, base + 1, base + 2, base + 3],
        [ab, ab, list(reversed(ab)), [("app", "b")], [("app", "b")], ab, ab],
        ["l0", "l1", "l2", 'l3 ünïcode "q"', "l4", "l5", ""],
    )


def test_payload_bytes_match_row_writer(em):
    assert push_batches(em.endpoint, [_golden_batch()], 3) == 7
    assert em.pushes == _GOLDEN_BODIES


def test_empty_input_pushes_nothing(em):
    assert push_batches(em.endpoint, [], 4096) == 0
    assert push_batches(em.endpoint, [_batch([], [], [])], 4096) == 0
    assert em.pushes == []
