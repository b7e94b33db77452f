"""Unit tests for bench_compare's timelines-sidecar merge (no Spark).

bench.py writes its per-sample timelines to a fixed-path sidecar that
every run overwrites; the headline line and the sidecar both carry the
run's applicationId as ``run_id``, and the merge happens only when the
two match.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)

import bench_compare  # noqa: E402

TIMELINES = {
    "calibration_timeline": [[0.5, 1.2], [40.0, 1.3]],
    "query_end_times": {"q1_pricing_summary": 3.2},
}


def _bench(tmp_path, line_run_id, sidecar_run_id) -> str:
    side = tmp_path / "bench_timelines.json"
    side.write_text(json.dumps({"run_id": sidecar_run_id, **TIMELINES}))
    line = {
        "metric": "headline_queries_total",
        "queries": {"q1_pricing_summary": 0.5},
        "calibration_sec": 1.25,
        "timelines_sidecar": str(side),
    }
    if line_run_id is not None:
        line["run_id"] = line_run_id
    path = tmp_path / "BENCH.json"
    path.write_text(json.dumps({"tail": json.dumps(line)}))
    return str(path)


def test_sidecar_merged_when_run_ids_match(tmp_path):
    d = bench_compare.load(_bench(tmp_path, "local-1", "local-1"))
    assert d["query_end_times"] == TIMELINES["query_end_times"]
    assert d["calibration_timeline"] == TIMELINES["calibration_timeline"]


def test_sidecar_from_another_run_is_not_merged(tmp_path):
    d = bench_compare.load(_bench(tmp_path, "local-1", "local-2"))
    assert "query_end_times" not in d
    assert "calibration_timeline" not in d
    assert d["queries"] == {"q1_pricing_summary": 0.5}


def test_line_without_run_id_is_not_merged(tmp_path):
    # a line written before the token existed cannot prove the sidecar
    # is its own
    d = bench_compare.load(_bench(tmp_path, None, "local-1"))
    assert "query_end_times" not in d
