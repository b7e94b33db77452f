"""Run every queries() entry against its DuckDB oracle at sf0.001 —
the local mirror of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.parity import compare, duckdb_con

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_parity(name, spark, sf_dir, con):
    df = _QUERIES[name](spark, sf_dir)
    if name not in _ORACLES:
        # rows-only check (driver does the same for non-SQL-expressible ops)
        assert df.count() >= 0
        return
    ok, msg = compare(df, _ORACLES[name], con)
    assert ok, f"{name}: {msg}"


# registry faces that reach a bounded-state gate (functions/local.py:
# CC labels, BPE training, the k-means and PQ fits) at sf0.001
_GATED = (
    # CC labels
    "dedup_cc_groups",
    "dedup_keep_list",
    "dedup_canonical_by_rank",
    "dedup_pipeline_funnel",
    "mix_quality_vs_dedup",
    "corpus_build_manifest",
    # CC labels and the k-means fit
    "mm_dedup_keep_list",
    "mm_pipeline_funnel",
    "mm_corpus_manifest",
    "corpus_ship_card",
    # BPE training
    "text_bpe_vocab",
    "text_tokenize_bpe",
    "text_tokenize_bpe_oov",
    # the k-means or PQ fit
    "sim_ivf_index_topk",
    "sim_ivf_index_append",
    "sim_ivf_index_delete",
    "sim_ivf_index_retrain",
    "sim_ivf_snapshot_reads",
    "sim_ivf_kmeans_topk",
    "sim_pq_adc_topk",
    "emb_kmeans_assign",
    "sim_cell_balance",
    "sim_probe_recall_curve",
    "sim_recall_audit",
    "sim_pq_recall_audit",
    "dedup_semantic_cluster",
    "mm_semantic_dedup",
    "dedup_lexical_vs_semantic",
)


@pytest.mark.parametrize("name", _GATED)
def test_query_parity_gates_off(
    name, spark, sf_dir, con, gates_off, fast_paths_off
):
    # every scale-gated fast path against the oracle through its
    # distributed twin, with overlap, scan fan-out and spread off too
    with fast_paths_off(), gates_off() as refused:
        ok, msg = compare(_QUERIES[name](spark, sf_dir), _ORACLES[name], con)
    assert refused, f"{name} reached no bounded-state gate"
    assert ok, f"{name}: {msg}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_correctness_window_is_pinned():
    # The driver's correctness harness evaluates only the FIRST 50
    # registry entries. Since round 8 the window is DERIVED (round-7
    # VERDICT #2): hand-pinned new/changed entries lead, then the
    # stalest tail computed from the committed CORRECTNESS_r*.json
    # files. This test checks the derivation's CONTRACT independently:
    # the window must contain the stalest entries in the registry.
    import __spark_entry__ as e

    names = list(e.queries())
    window = names[: e._WINDOW_SIZE]
    assert len(window) == e._WINDOW_SIZE == 50
    assert tuple(window) == e._window()
    # hand-pinned new/changed entries lead the window
    pinned = [n for n in e._R16_PINNED if n in names]
    assert window[: len(pinned)] == pinned
    # no windowed entry may be oracle-less
    oracles = e.oracle_sql()
    for n in window:
        assert n in oracles, f"windowed entry {n} has no oracle"
    # THE staleness invariant, parsed from the committed files: no entry
    # outside the window may be strictly staler than a non-pinned entry
    # inside it (never-green counts as staleness -1, stalest possible)
    latest = e._latest_green_round()
    inside = [latest.get(n, -1) for n in window[len(pinned):]]
    outside = [latest.get(n, -1) for n in names[e._WINDOW_SIZE:]]
    # derived tail is ordered stale-first
    assert inside == sorted(inside)
    if inside and outside:
        assert max(inside) <= min(outside), (
            "an entry outside the window is staler than a windowed one"
        )
    assert len(names) == len(set(names)) >= 163


def test_unchecked_queries_lead_the_window():
    # Structural guard (round-6 VERDICT #2): a query registered after the
    # window was pinned used to wait silently for a full round. Parse the
    # committed CORRECTNESS_r*.json files — every registry entry that has
    # NEVER earned a driver row must sit inside the current 50-entry
    # window prefix, so the next driver run checks it. If this fails,
    # rotate _WINDOW_PRIORITY before adding more queries.
    import glob
    import json
    import os

    import __spark_entry__ as e

    repo = os.path.dirname(os.path.abspath(e.__file__))
    checked: set[str] = set()
    files = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    assert files, "no committed CORRECTNESS files found"
    for f in files:
        checked.update(json.load(open(f)))
    names = list(e.queries())
    never = [n for n in names if n not in checked]
    window = names[:50]
    missing = [n for n in never if n not in set(window)]
    assert not missing, (
        f"never-driver-checked queries outside the 50-entry window: "
        f"{missing} — the derived window should have placed them; check "
        f"_window_priority"
    )
    # staleness-ordering assertion (round-7 VERDICT #2): within the
    # derived (non-pinned) part of the window, never-GREEN entries
    # (never checked, or latest row red) precede ever-green ones
    latest = e._latest_green_round()
    pinned = set(e._R16_PINNED)
    derived = [n for n in window if n not in pinned]
    seen_green = False
    for n in derived:
        if latest.get(n, -1) >= 0:
            seen_green = True
        else:
            assert not seen_green, (
                f"never-green {n} sits after a green entry in the "
                f"derived window"
            )



def test_window_priority_regression_and_typo_semantics():
    # Round-8 review findings, pinned as units over the pure derivation:
    # (a) an entry RED at its latest driver check sorts as never-green
    #     (-1) even if an earlier round was green — a fresh regression
    #     must lead the next rotation, not file among the freshest;
    # (b) a pinned name absent from the registry raises (the pin list is
    #     the only hand-maintained piece; a typo must be loud).
    import __spark_entry__ as e

    registered = list(e.queries())
    fresh, regressed = registered[-1], registered[-2]
    latest = {n: 7 for n in registered}
    latest[fresh] = 8
    latest[regressed] = -1  # _latest_green_round maps latest-check-red to -1
    window = e._window_priority(registered, latest=latest)
    tail = [n for n in window if n not in e._R16_PINNED]
    assert tail[0] == regressed, "latest-check-red entry must lead the tail"
    assert fresh not in window or window.index(fresh) > window.index(regressed)

    import pytest

    with pytest.raises(KeyError):
        e._window_priority(["only_query"], latest={})  # pins missing
