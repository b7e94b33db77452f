"""tools/dump_plans.py masks the tokens that differ between two runs of
unchanged code, and nothing else (Spark-free: canned plan text)."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)

import dump_plans  # noqa: E402

_PLAN = """\
== Physical Plan ==
AdaptiveSparkPlan (9)
+- BroadcastHashJoin Inner BuildRight (8)
   :- Scan ExistingRDD (1)
   +- BroadcastExchange (7)

(1) Scan ExistingRDD
Output [2]: [doc_a#{a}L, doc_b#{b}L]
Arguments: [doc_a#{a}L, doc_b#{b}L], MapPartitionsRDD[{rdd}] at localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)

(7) BroadcastExchange
Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id={pid}]

(8) Scan parquet
Location: InMemoryFileIndex [file:/tmp/spark_graft_indexes/ivf_retrain/local-{app}/sf0.1-ddbe1476/base-v{ver}-{nonce}/members.parquet]
ReadSchema: struct<vec_id:bigint>
Staging: /tmp/stage/{uuid}/part-0
"""

_RUN_1 = dict(
    a=560, b=561, rdd=150, pid=2567, app=1792270618586, ver=1,
    nonce="ac0d74ba", uuid="0f8e4b1c-9a2d-4c7e-8b11-3f5a6d7e8c90",
)
_RUN_2 = dict(
    a=1022, b=1023, rdd=161, pid=2628, app=1792270663615, ver=2,
    nonce="10741ac4", uuid="7a1b2c3d-4e5f-4a6b-9c8d-0e1f2a3b4c5d",
)


def test_two_runs_of_unchanged_code_mask_equal():
    one, two = _PLAN.format(**_RUN_1), _PLAN.format(**_RUN_2)
    assert one != two
    assert dump_plans.mask(one) == dump_plans.mask(two)
    masked = dump_plans.mask(one)
    for token in ("560", "150", "2567", "1792270618586", "ac0d74ba", "0f8e4b1c"):
        assert token not in masked, token
    # stable parts survive: operator ids, types, the partition hash
    assert "(8) Scan parquet" in masked
    assert "input[0, bigint, false]" in masked
    assert "sf0.1-ddbe1476" in masked


def test_a_plan_change_still_shows():
    one = _PLAN.format(**_RUN_1)
    changed = one.replace("BuildRight", "BuildLeft")
    assert dump_plans.mask(one) != dump_plans.mask(changed)
