"""BPE induction at production merge counts (round-10 verdict Next #2;
round-12 Next #2 raised the budget to BPE_ITERS x BPE_BATCH = 6144 and
decoupled the oracle from it).

The driver corpus cannot exercise the merge budget: its synthetic
documents use 31 distinct words, so sum(len(w) - 1) = 107 word-internal
merges exist in total (measured; the module comment in operators/text.py
records it). Two crafted corpora close the gap:

- a 2.6k-word lowercase-letters corpus proves the delta-maintained loop
  still matches the DuckDB full-recount oracle bit-for-bit at depth —
  delta maintenance is exact, so a recount replay must agree at ANY
  number of levels;
- a wide-alphabet (caseless CJK single-char symbols) corpus gives the
  greedy symbol-disjoint selection real per-round headroom — 26 letters
  cap a batch at ~13-20 disjoint rules no matter the budget — and
  proves the production loop consumes >= 4096 merges within its default
  budget while text_tokenize_bpe stays hash-green against its staged-
  artifact apply oracle.
"""

from __future__ import annotations

import random
import string

import duckdb
import pytest

from datafusion_loki_spark.operators.text import (
    _bpe_train,
    _oracle_bpe_sql,
    _oracle_tokenize_bpe,
    text_bpe_vocab,
    text_tokenize_bpe,
)
from tests.parity import compare

_DEPTH_ITERS = 40  # letters corpus: early rounds fill ~13-20 (letter-
# disjointness caps symbol-disjoint rules over a 26-letter alphabet);
# 40 full-recount-checked levels is comfortable depth evidence


def _write_docs(spark, rows, d):
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")


def _docs_view(d):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{d}/documents.parquet/*.parquet')"
    )
    return con


@pytest.fixture(scope="module")
def crafted_dir(spark, tmp_path_factory):
    rng = random.Random(11)
    words = sorted(
        {
            "".join(
                rng.choice(string.ascii_lowercase)
                for _ in range(rng.randint(5, 10))
            )
            for _ in range(2600)
        }
    )
    rows = []
    for i in range(4000):
        n = rng.randint(20, 40)
        # quadratic skew: early-sorted words dominate, giving the pair
        # distribution the Zipf-ish head real corpora have
        text = " ".join(
            words[int(len(words) * rng.random() ** 2)] for _ in range(n)
        )
        rows.append((i, text))
    d = str(tmp_path_factory.mktemp("bpe_scale"))
    _write_docs(spark, rows, d)
    return d


@pytest.fixture(scope="module")
def wide_alpha_dir(spark, tmp_path_factory):
    # caseless single-code-point symbols (CJK range): lower() is the
    # identity in BOTH engines, so the normalizer passes them through,
    # and 1000 distinct initial symbols give every round enough
    # symbol-disjoint candidates to fill BPE_BATCH
    rng = random.Random(11)
    alpha = [chr(0x4E00 + i) for i in range(1000)]
    words = sorted(
        {
            "".join(rng.choice(alpha) for _ in range(rng.randint(4, 9)))
            for _ in range(12000)
        }
    )
    rows = []
    for i in range(3000):
        n = rng.randint(25, 45)
        rows.append(
            (
                i,
                " ".join(
                    words[int(len(words) * rng.random() ** 2)]
                    for _ in range(n)
                ),
            )
        )
    d = str(tmp_path_factory.mktemp("bpe_wide"))
    _write_docs(spark, rows, d)
    return d


def test_bpe_oracle_exact_at_depth(spark, crafted_dir):
    df = text_bpe_vocab(spark, crafted_dir, iters=_DEPTH_ITERS)
    con = _docs_view(crafted_dir)
    ok, msg = compare(df, _oracle_bpe_sql(iters=_DEPTH_ITERS), con)
    assert ok, msg
    n = df.count()
    assert n >= 512, f"only {n} merges selected at {_DEPTH_ITERS} rounds"


def test_bpe_production_budget_consumes_4096_merges(spark, wide_alpha_dir):
    # the round-12 Next #2 bar: the DEFAULT production budget learns a
    # >= 4096-merge tokenizer on a corpus with real headroom, and the
    # apply face stays hash-green against its staged-artifact oracle
    # (budget-independent by construction)
    import pyspark.sql.functions as F

    batches, _vocab = _bpe_train(spark, wide_alpha_dir)
    consumed = sum(
        b.select(F.size("batch").alias("n")).first().n for b in batches
    )
    assert consumed >= 4096, f"only {consumed} merges under default budget"
    df = text_tokenize_bpe(spark, wide_alpha_dir)
    con = _docs_view(wide_alpha_dir)
    ok, msg = compare(df, _oracle_tokenize_bpe(), con)
    assert ok, msg


def test_bpe_local_matches_distributed(spark, crafted_dir, gates_off):
    # OPTIMIZATION_r15 change 5: the scale gate sends bounded
    # vocabularies through the driver-side loop; this pins the two
    # paths bit-identical (merge batches, maps, final vocab) on the
    # crafted Zipf-ish corpus — and keeps the DISTRIBUTED loop
    # exercised now that every test-scale corpus takes the local path
    def snap(batches, vocab):
        bs = [
            tuple(map(tuple, b.select("batch").first()["batch"]))
            for b in batches
        ]
        ms = [sorted(b.select("m").first()["m"].items()) for b in batches]
        return bs, ms, sorted(map(tuple, vocab.collect()))

    b_loc, v_loc = _bpe_train(spark, crafted_dir, iters=6)
    local = snap(b_loc, v_loc)
    with gates_off():
        b_dist, v_dist = _bpe_train(spark, crafted_dir, iters=6)
        dist = snap(b_dist, v_dist)
    assert local == dist


def test_bpe_early_stop_is_exact(spark, crafted_dir):
    # a tiny 2-word corpus exhausts in a handful of rounds; the loop must
    # BREAK (fewer batch frames than the budget) and still match a
    # full-depth oracle replay, whose post-exhaustion levels are carries
    rows = [(i, "alpha beta alpha") for i in range(30)]
    d = crafted_dir + "/tiny"
    _write_docs(spark, rows, d)
    batches, _vocab = _bpe_train(spark, d, iters=12)
    assert len(batches) < 12, "loop did not early-stop on exhaustion"
    df = text_bpe_vocab(spark, d, iters=12)
    con = _docs_view(d)
    ok, msg = compare(df, _oracle_bpe_sql(iters=12), con)
    assert ok, msg
    # 'alpha' and 'beta' fully fuse: 4 + 3 internal merges
    assert df.count() == 7
