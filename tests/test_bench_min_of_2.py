"""bench._min_of_2 frees each run's dead checkpoints between runs, outside
every timing window (no Spark: the sweep helpers and the clock are
stubbed and every call is logged in order)."""

from __future__ import annotations

import bench


def test_min_of_2_frees_each_run_between_timing_windows(monkeypatch):
    log: list = []
    live = {1}  # an rdd that predates the query: never freed
    clock = iter(range(100))

    def perf_counter():
        log.append("clock")
        return next(clock) * 0.1  # every run reads 0.1 s: a third run

    class Frame:
        def count(self):
            run = sum(1 for e in log if e == "run")
            live.add(10 + run)  # each run leaves one dead checkpoint
            log.append("run")

    monkeypatch.setattr(bench.time, "perf_counter", perf_counter)
    monkeypatch.setattr(bench, "_persistent_rdd_ids", lambda spark: set(live))

    def free(spark, ids):
        log.append(("free", sorted(ids)))
        live.difference_update(ids)

    monkeypatch.setattr(bench, "_free_rdds", free)
    assert bench._min_of_2(lambda spark, sf: Frame(), None, "sf") == 0.1
    assert log == [
        "clock", "run", "clock", ("free", [10]),
        "clock", "run", "clock", ("free", [11]),
        "clock", "run", "clock", ("free", [12]),
    ]
    assert live == {1}
