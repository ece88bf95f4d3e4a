"""Edge cases for the classifier family (plans/classifier_plans.py):
empty/whitespace-only docs (t=0 guard), sub-trigram docs (typ 0,
atypical), and engine-parallel checks of both on a hostile fixture."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest


def _run_engine_parallel(spark, name, pdf):
    from github_data_pipeline_spark.plans import all_plans
    from github_data_pipeline_spark.plans import classifier_plans as cp

    reg = all_plans()
    sdf = spark.createDataFrame(pdf)
    orig = cp.load_table
    cp.load_table = lambda _s, _d, _t: sdf
    try:
        got = {
            tuple(r) for r in reg[name].builder(spark, "x").collect()
        }
    finally:
        cp.load_table = orig
    con = duckdb.connect()
    con.register("documents", pdf)
    want = {tuple(r) for r in con.execute(reg[name].oracle).fetchall()}
    con.close()
    return got, want


_HOSTILE = pd.DataFrame(
    [
        # whitespace-only: zero tokens -> score 0, fails gate; zero
        # trigrams after trim -> typ 0, atypical
        (1, "   ", "en", "srcA", 3),
        # sub-trigram doc: "ab" has no trigram
        (2, "ab", "en", "srcA", 2),
        # stopword-rich, diverse, long-token doc: passes the gate
        (3, "the quick brown foxes jumped over the lazy dogs in it", "en", "srcA", 53),
        # repeated single token: low TTR, zero stopwords
        (4, "zz zz zz zz zz zz zz zz", "en", "srcB", 23),
        # shares trigrams with doc 3 -> typical relative to this corpus
        (5, "the quick brown foxes jumped over and over", "en", "srcB", 43),
    ],
    columns=["doc_id", "text", "lang", "source", "n_chars"],
)


def test_linear_gate_hostile_fixture(spark):
    got, want = _run_engine_parallel(spark, "doc_quality_linear_gate", _HOSTILE)
    assert got == want
    by_src = {r[0]: r for r in got}
    # srcA: whitespace-only fails (t=0 guard -> score 0); "ab" PASSES
    # (a single-token doc has TTR 1.0 -> 2*10000 alone clears the
    # threshold — the model's known blind spot, which is why deployed
    # pipelines pair a classifier with a length gate); doc 3 passes
    assert by_src["srcA"][1] == 3 and by_src["srcA"][2] == 2
    # srcB: "zz..." low-TTR/no-stopword doc fails, doc 5 passes
    assert by_src["srcB"][1] == 2 and by_src["srcB"][2] == 1


def test_typicality_hostile_fixture(spark):
    got, want = _run_engine_parallel(
        spark, "doc_char_trigram_typicality", _HOSTILE
    )
    assert got == want
    by_src = {r[0]: r for r in got}
    # both trigram-less srcA docs are atypical (typ 0); with
    # ATYPICAL_PCT=60 over a 5-doc corpus the threshold is typ < 3
    assert by_src["srcA"][3] >= 2
    # docs exist in every source row
    assert by_src["srcA"][1] == 3 and by_src["srcB"][1] == 2


def test_typicality_score_values(spark):
    """Hand-checked typ on a 3-doc corpus: 'aaaa' has one distinct
    trigram 'aaa' (df=2 with 'aaah' sharing... construct exactly)."""
    pdf = pd.DataFrame(
        [
            (1, "aaaa", "en", "s", 4),  # distinct trigrams: {aaa}
            (2, "aaab", "en", "s", 4),  # {aaa, aab}
            (3, "xyzw", "en", "s", 4),  # {xyz, yzw}
        ],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    # df: aaa->2, aab->1, xyz->1, yzw->1
    # typ: doc1 = 2//1 = 2; doc2 = (2+1)//2 = 1; doc3 = (1+1)//2 = 1
    # avg = (2+1+1)//3 = 1; atypical (typ*100 < 60*3=180): doc2, doc3
    got, want = _run_engine_parallel(
        spark, "doc_char_trigram_typicality", pdf
    )
    assert got == want == {("s", 3, 1, 2)}


# -- property: engine parity under fuzzed corpora --------------------------

import os as _os

from hypothesis import given, settings
from hypothesis import strategies as st

HYPO_EXAMPLES = int(_os.environ.get("SPARK_GRAFT_HYPO_EXAMPLES", "0")) or 10

_texts = st.lists(
    st.lists(
        st.sampled_from(["a", "bz", "the", " ", "  ", "\t", "é", "0"]),
        max_size=20,
    ).map("".join),
    min_size=1,
    max_size=8,
)


@given(texts=_texts)
@settings(max_examples=HYPO_EXAMPLES, deadline=None)
def _check_linear_gate_parity(texts):
    spark = _check_linear_gate_parity.spark
    pdf = pd.DataFrame(
        [
            (i, t, "en", f"s{i % 2}", len(t))
            for i, t in enumerate(texts)
        ],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    got, want = _run_engine_parallel(spark, "doc_quality_linear_gate", pdf)
    assert got == want


def test_linear_gate_parity_property(spark):
    """Fuzzed engine parity for the fixed-point linear gate: random
    whitespace-heavy/unicode/empty docs must score identically on
    Spark and DuckDB (tokenizer edge cases + integral-division
    parity). Spark fixture rides in on an attribute; @given doesn't
    mix with pytest fixtures."""
    _check_linear_gate_parity.spark = spark
    _check_linear_gate_parity()


@pytest.mark.parametrize(
    "name",
    [
        "doc_token_profile",
        "doc_quality_by_source",
        "weak_label_vote_report",
        "doc_quality_linear_gate",
        "classifier_pr_curve",
        "classifier_roc_auc",
    ],
)
def test_token_features_tokenize_once_per_scan(spark, sf_dir, name):
    """Each scan of documents splits the text once, not once per token
    feature. classifier_pr_curve unions one branch per threshold, each
    with its own scan; classifier_isotonic_calibration checkpoints its
    bins inside the builder, through the same token_features."""
    from github_data_pipeline_spark.plans import all_plans

    df = all_plans()[name].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    scans = plan.count("Relation [")
    assert scans >= 1
    assert plan.count("split(trim(") == scans, plan
