"""End-to-end curation funnel (curation.py): stage composition,
monotonicity, and the dedup keeper rule."""

from __future__ import annotations

import pytest

from github_data_pipeline_spark.curation import (
    clean_stage,
    funnel,
    gate,
    language_pred,
    neardup_drop_stage,
    quality_pred,
    repetition_pred,
)
from github_data_pipeline_spark.functions import text as T
from github_data_pipeline_spark.sources.tables import load_table, spread


def _docs(spark, sf_dir):
    return spread(load_table(spark, sf_dir, "documents"))


def _lazy_stages(docs):
    """The funnel as a plain chain of lazy filters over ``docs``, each
    gate re-tokenizing the text — the reference :func:`funnel` must
    agree with."""
    toks = T.tokens("text")
    cleaned = clean_stage(docs)
    language = cleaned.filter(language_pred(toks))
    quality = language.filter(quality_pred(toks))
    repetition = quality.filter(repetition_pred(toks))
    return [
        ("raw", docs),
        ("cleaned_nonempty", cleaned),
        ("language", language),
        ("quality", quality),
        ("repetition", repetition),
        ("neardup_dropped", neardup_drop_stage(repetition)),
    ]


def _report(counts):
    return [(r["stage"], r["survivors"]) for r in counts.collect()]


def _by_id(df):
    return sorted(df.collect(), key=lambda r: r["doc_id"])


def test_funnel_monotone_and_nonempty(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    _kept, counts = funnel(docs)
    report = _report(counts)
    names = [n for n, _ in report]
    assert names == [
        "raw", "cleaned_nonempty", "language", "quality", "repetition",
        "neardup_dropped",
    ]
    counts = [c for _, c in report]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert counts[0] > 0 and counts[-1] > 0
    # every gate must actually gate something on this corpus OR pass all
    # through — but the near-dup stage must drop the planted dups
    assert counts[4] > counts[5], "near-dup stage dropped nothing"


def test_neardup_drop_keeps_lowest_id(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    kept = neardup_drop_stage(docs)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    # recompute the verified pairs directly: for every dropped pair the
    # lower id must survive unless itself dropped by an earlier pair
    from github_data_pipeline_spark.plans import all_plans

    pairs = (
        all_plans()["neardup_jaccard_pairs"]
        .builder(spark, sf_dir)
        .select("doc_a", "doc_b")
        .collect()
    )
    assert len(pairs) > 0
    for r in pairs:
        assert not (r["doc_a"] in kept_ids and r["doc_b"] in kept_ids), (
            "both sides of a >=0.8 pair survived"
        )


def test_survivor_counts_match_stage_by_stage(spark, sf_dir):
    """The one-scan funnel's counts (what the data build and the
    registry's curation_funnel_report ship) must equal counting each
    prefix of the lazy filter chain directly: the two share the gate
    predicate functions, and this pins that the checkpoint/semi-join
    replumbing changed cost, not semantics."""
    docs = _docs(spark, sf_dir)
    want = [(n, df.count()) for n, df in _lazy_stages(docs)]
    assert _report(funnel(docs)[1]) == want


def test_gate_survivors_keep_every_column(spark, sf_dir):
    """``gate``'s survivors are the lazy chain's repetition survivors,
    row for row and with every input column (text cleaned), plus their
    token array; ``funnel``'s kept rows are the chain's near-dup
    survivors."""
    docs = _docs(spark, sf_dir)
    stages = dict(_lazy_stages(docs))
    _flags, survivors = gate(docs)
    assert survivors.columns == docs.columns + ["toks"]
    rows = survivors.collect()
    assert rows and all(list(r["toks"]) == r["text"].split(" ") for r in rows)
    assert _by_id(survivors.drop("toks")) == _by_id(stages["repetition"])
    kept, _counts = funnel(docs)
    assert _by_id(kept.drop("toks")) == _by_id(stages["neardup_dropped"])


def test_funnel_report_plan_has_no_full_refunnel(spark, sf_dir):
    """The report must execute from checkpointed flag/survivor state:
    its physical plan may scan `documents` for the raw count and the
    survivor semi-join, but must NOT contain the cleaning regexes more
    than twice (the naive per-stage report carries them 5x)."""
    docs = _docs(spark, sf_dir)
    plan = funnel(docs)[1]._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "extended"
        )
    )
    assert plan.count("<EMAIL>") <= 2, "cleaning regexes re-run per stage"


def test_survivor_boundary_stores_are_equivalent(spark, sf_dir, tmp_path):
    """The survivor-text materialization must yield the identical
    funnel report under all three storage options — localCheckpoint
    (bench SFs), DISK_ONLY persist, and a parquet scratch table (the
    100-TB boundary that survives executor loss)."""
    docs = _docs(spark, sf_dir)
    base = funnel(docs)[1].collect()
    disk = funnel(docs, survivor_store="disk")[1].collect()
    table = funnel(
        docs, survivor_store="table", scratch_dir=str(tmp_path)
    )[1].collect()
    assert [r.asDict() for r in base] == [r.asDict() for r in disk]
    assert [r.asDict() for r in base] == [r.asDict() for r in table]
    with pytest.raises(ValueError, match="scratch_dir"):
        funnel(docs, survivor_store="table")
    with pytest.raises(ValueError, match="unknown boundary store"):
        funnel(docs, survivor_store="ram")


def test_gate_flags_tokenize_once(spark, sf_dir, monkeypatch):
    """The flags scan runs the tokenizer once per document, not once
    per language score plus once for the quality gate."""

    class Captured(Exception):
        pass

    def capture(self, *args, **kwargs):
        raise Captured(self)

    docs = _docs(spark, sf_dir)
    # the first checkpoint in gate is the flags frame's
    monkeypatch.setattr(type(docs), "localCheckpoint", capture)
    with pytest.raises(Captured) as c:
        gate(docs)
    flags = c.value.args[0]
    plan = flags._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(trim(") == 1, plan
