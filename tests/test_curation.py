"""Curation surface: text cleaning and language ID (functions/text.py)
and training-mix budget allocation (operators/budget.py)."""

from __future__ import annotations

import os
import pathlib
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from github_data_pipeline_spark.functions import text as T
from github_data_pipeline_spark.operators.budget import (
    HASH_BUCKETS,
    allocation_rates,
    budget_sample,
)
from github_data_pipeline_spark.sources.tables import load_table
from github_data_pipeline_spark.testing import register_duckdb_views


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_clean_text_composition(spark):
    raw = (
        "<p>Contact   me: bob@example.com</p>\x07 from "
        "192.168.0.1\nid 123456789012."
    )
    got = _one(spark, T.clean_text(F.lit(raw)))
    assert got == "Contact me: <EMAIL> from <IP> id <ID>."


def test_clean_text_keeps_plain_text(spark):
    raw = "Plain text with 123 and a date 2024-01-01 stays."
    assert _one(spark, T.clean_text(F.lit(raw))) == raw


def test_strip_html_bounded(spark):
    # unterminated '<' runs must not be eaten wholesale
    raw = "a < b and <b>bold</b>"
    got = _one(spark, T.normalize_whitespace(T.strip_html(F.lit(raw))))
    assert got == "a < b and bold"


def test_dedupe_lines_keeps_first_occurrence(spark):
    raw = "Accept cookies\nreal content one\nAccept cookies\n\n  real content one  \nreal content two"
    got = _one(spark, T.dedupe_lines(F.lit(raw)))
    assert got == "Accept cookies\nreal content one\nreal content two"


def test_max_ngram_repetition_scores(spark):
    looping = " ".join(["buy now"] * 20)  # one bigram dominates
    natural = "the quick brown fox jumps over the lazy dog again"
    tiny = "one two"  # fewer tokens than n -> zero grams
    rep = lambda s: _one(spark, T.max_ngram_repetition(T.tokens(F.lit(s)), 2))
    assert rep(looping) > 0.4
    assert rep(natural) <= 0.2
    assert rep(tiny) == pytest.approx(1.0)  # single bigram == the mode
    assert _one(
        spark, T.max_ngram_repetition(T.tokens(F.lit("one")), 2)
    ) == 0.0


def test_repetition_functions_are_jvm_only(spark):
    df = spark.range(5).select(
        T.max_ngram_repetition(
            T.tokens(T.dedupe_lines(F.concat(F.lit("a b a b \nx"), F.col("id"))))
        ).alias("r")
    )
    assert "EvalPython" not in df._jdf.queryExecution().executedPlan().toString()


def test_clean_text_is_jvm_only(spark):
    df = spark.range(5).select(
        T.clean_text(F.concat(F.lit("<i>x</i> a@b.co "), F.col("id"))).alias("t")
    )
    assert "EvalPython" not in df._jdf.queryExecution().executedPlan().toString()


def test_allocation_rates_math():
    rates = allocation_rates(
        {"web": 1000, "code": 100, "books": 500},
        {"web": 0.5, "code": 0.25, "books": 0.25},
        token_budget=400,
    )
    assert rates["web"] == pytest.approx(0.2)     # 200 target / 1000
    assert rates["code"] == 1.0                   # 100 target >= 100 tokens
    assert rates["books"] == pytest.approx(0.2)   # 100 target / 500


def test_allocation_rejects_zero_weights():
    with pytest.raises(ValueError):
        allocation_rates({"web": 10}, {"web": 0.0}, 100)


def test_budget_sample_deterministic_and_proportional(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sources = [r["source"] for r in docs.select("source").distinct().collect()]
    rates = {s: (0.5 if i % 2 == 0 else 0.0) for i, s in enumerate(sorted(sources))}
    kept = budget_sample(docs, rates)
    a = {r["doc_id"] for r in kept.collect()}
    b = {r["doc_id"] for r in kept.collect()}
    assert a == b  # deterministic across runs
    zero_sources = {s for s, r in rates.items() if r == 0.0}
    kept_sources = {r["source"] for r in kept.select("source").distinct().collect()}
    assert kept_sources.isdisjoint(zero_sources)
    # keep-rate lands near 0.5 for the sampled sources (hash uniformity)
    half = docs.filter(F.col("source").isin([s for s in sources if rates[s] > 0]))
    ratio = kept.count() / max(half.count(), 1)
    assert 0.3 < ratio < 0.7


def test_budget_sample_unknown_source_dropped(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    assert budget_sample(docs, {"no-such-source": 1.0}).count() == 0


# --- language ID: the argmax, its DuckDB twin and the old fold ----------


def _fold_lang_id(tok):
    """The CASE-cascade fold ``lang_id`` was before the argmax: keep the
    strictly greater score over the languages in sorted order. Kept
    here as the reference for the argmax's tie-break."""
    scores = T.lang_scores(tok)
    ordered = sorted(scores)
    best_lang, best_score = F.lit(ordered[0]), scores[ordered[0]]
    for lang in ordered[1:]:
        better = scores[lang] > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, scores[lang]).otherwise(best_score)
    return best_lang


LANG_CASES = [
    ([], "de"),  # empty list: every score 0
    (["hello", "world"], "de"),  # all-zero scores
    (["the", "el"], "en"),  # en/es tie
    (["el", "le"], "es"),  # es/fr tie
    (["de5", "shi4", "the"], "zh"),  # unique zh maximum
    (["The", "DIE"], "de"),  # mixed case: en/de tie after lower()
]


def test_lang_id_matches_twin_and_fold_on_edge_lists(spark):
    df = spark.createDataFrame(
        [(i, toks) for i, (toks, _) in enumerate(LANG_CASES)],
        "i int, toks array<string>",
    )
    rows = df.orderBy("i").select(
        T.lang_id(F.col("toks")).alias("argmax"),
        _fold_lang_id(F.col("toks")).alias("fold"),
    ).collect()
    con = duckdb.connect()
    try:
        duck = [
            con.execute(
                f"SELECT {T.lang_id_sql('toks')} FROM "
                "(SELECT ?::VARCHAR[] AS toks)",
                [toks],
            ).fetchone()[0]
            for toks, _ in LANG_CASES
        ]
    finally:
        con.close()
    want = [lang for _, lang in LANG_CASES]
    assert [r["argmax"] for r in rows] == want
    assert [r["fold"] for r in rows] == want
    assert duck == want


def test_lang_id_matches_twin_and_fold_on_documents(spark, sf_dir):
    # the sf0.01 documents beside the fixture's scale factor, when present
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    sf = sf if os.path.isdir(sf) else sf_dir
    toks = T.tokens("text")
    spark_rows = {
        r["doc_id"]: (r["argmax"], r["fold"])
        for r in load_table(spark, sf, "documents")
        .select(
            "doc_id",
            T.lang_id(toks).alias("argmax"),
            _fold_lang_id(toks).alias("fold"),
        )
        .collect()
    }
    con = duckdb.connect()
    try:
        register_duckdb_views(con, sf)
        duck = dict(
            con.execute(
                f"SELECT doc_id, {T.lang_id_sql('toks')} FROM "
                f"(SELECT doc_id, {T.tokens_sql()} AS toks FROM documents)"
            ).fetchall()
        )
    finally:
        con.close()
    assert spark_rows and set(spark_rows) == set(duck)
    assert {d: a for d, (a, _) in spark_rows.items()} == duck
    assert all(a == f for a, f in spark_rows.values())
    # non-vacuous: more than one language is predicted
    assert len(set(duck.values())) > 1


# the marker/stopword-hit count over a token list, in any string form;
# functions/fulltext.analyze_sql removes stopwords (no lower()) and is
# a different operation
_HIT_SQL = re.compile(r'list_contains\((?:"\s*f?")?\s*\[[^\]]*\],\s*lower\(')


def test_stopword_hit_sql_only_in_text_module():
    pkg = pathlib.Path(__file__).resolve().parents[1] / "github_data_pipeline_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        text = path.read_text()
        offenders += [
            f"{rel}:{text.count(chr(10), 0, m.start()) + 1}"
            for m in _HIT_SQL.finditer(text)
            if rel != "functions/text.py"
        ]
    assert offenders == []
