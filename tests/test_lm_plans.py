"""LM family semantics (plans/lm_plans.py) the registry oracle can't
express: KN probability mass behavior and the typicality ranking on a
planted-outlier corpus, engine-parallel on hostile fixtures."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from github_data_pipeline_spark.plans import all_plans

# canonical registration order FIRST, then the direct module import
# (importing lm_plans ahead of all_plans() would re-seat the driver
# window; see test_driver_window_invariants)
REG = all_plans()

from github_data_pipeline_spark.plans import lm_plans  # noqa: E402


def _run_both(spark, name, pdf):
    q = REG[name]
    sdf = spark.createDataFrame(pdf)
    orig = lm_plans.load_table
    lm_plans.load_table = lambda _s, _d, _t: sdf
    try:
        got = [tuple(r) for r in q.builder(spark, "x").collect()]
    finally:
        lm_plans.load_table = orig
    con = duckdb.connect()
    con.register("documents", pdf)
    want = [tuple(r) for r in con.execute(q.oracle).fetchall()]
    con.close()
    return got, want


def _docs(rows):
    return pd.DataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(rows)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )


_HOSTILE = _docs(
    [
        "",  # no tokens
        "one",  # single token: no bigram
        "  padded   whitespace  runs  ",  # phantom-token guard
        "a b a b a b a b a b",  # high-probability loop
        "a b a b a b c d c d",  # mixed
        "zq wx kj vn pq rs tu mn zq wx",  # planted outlier transitions
    ]
)


@pytest.mark.parametrize(
    "name", ["lm_bigram_counts", "lm_kn_bigram_probs", "lm_doc_typicality"]
)
def test_engine_parity_hostile(spark, name):
    got, want = _run_both(spark, name, _HOSTILE)
    assert got == want


def test_typicality_ranks_planted_outlier_lowest(spark):
    """A corpus of docs built from one shared bigram loop, plus one doc
    of never-repeated transitions: the outlier must rank first
    (lowest mean KN probability), and every doc under the min-bigram
    floor must be absent."""
    base = ["a b c d " * 6] * 8  # 8 typical docs, same transitions
    outlier = "q w e r t y u i o p"  # every bigram unique
    tiny = "a b"  # 1 bigram < LM_MIN_BIGRAMS -> excluded
    pdf = _docs(base + [outlier, tiny])
    got, want = _run_both(spark, "lm_doc_typicality", pdf)
    assert got == want
    assert got, "expected scored docs"
    doc_ids = [r[0] for r in got]
    assert doc_ids[0] == 8, f"outlier should rank first, got {got[:3]}"
    assert 9 not in doc_ids, "sub-floor doc must be excluded"
    # the outlier's mean must be strictly below every typical doc's
    means = {r[0]: r[2] for r in got}
    assert all(means[8] < means[d] for d in doc_ids if d != 8)


def test_kn_probability_mass_bounded(spark, sf_dir):
    """On the real corpus: every reported KN probability lies in
    (0, 1e9], and the discounted term never exceeds the ML estimate
    (the discount only ever removes mass from seen bigrams)."""
    rows = REG["lm_kn_bigram_probs"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["p_kn_e9"] <= 10**9
        # ML estimate in the same fixed point, truncating the same way
        ml = (r["bigram_count"] * lm_plans.KN_SCALE) // r["left_count"]
        # KN adds back lambda * P_cont <= D * distinct/left <= 1, so
        # p_kn can exceed the discounted term but not ML + lambda;
        # the hard invariant is p_kn <= ml + lambda_max where
        # lambda_max = D * left_distinct / left_count <= 1
        assert r["p_kn_e9"] <= ml + lm_plans.KN_SCALE


@pytest.mark.parametrize(
    "row_bound, checkpoints",
    [
        (None, 2),  # footprint unreadable -> UNBOUNDED -> "assume large"
        (lm_plans.LM_COUNTS_CKPT_MIN_DOCS - 1, 1),
        (lm_plans.LM_COUNTS_CKPT_MIN_DOCS, 2),
    ],
)
def test_typicality_vocab_checkpoint_gate(
    spark, tmp_path, monkeypatch, row_bound, checkpoints
):
    """The per-doc bigram table is always checkpointed; the vocabulary
    counts only when the corpus is known large OR of unknown size."""
    from pyspark.sql.classic.dataframe import DataFrame

    real = DataFrame.localCheckpoint
    calls = []

    def counting(self, eager=True):
        calls.append(self)
        return real(self, eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", counting)
    sdf = spark.createDataFrame(_HOSTILE)
    monkeypatch.setattr(lm_plans, "load_table", lambda _s, _d, _t: sdf)
    if row_bound is not None:
        monkeypatch.setattr(lm_plans, "parquet_row_bound", lambda _d, _t: row_bound)
    REG["lm_doc_typicality"].builder(spark, str(tmp_path / "missing"))
    assert len(calls) == checkpoints
