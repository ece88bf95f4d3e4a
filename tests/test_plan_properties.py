"""Physical-plan regression guards: the properties that make these
queries scale must not silently disappear (filter pushdown, column
pruning, broadcast dims, TakeOrderedAndProject, partial aggregation,
no Python row-at-a-time UDFs in JVM-only pipelines)."""

from __future__ import annotations

import pytest

from github_data_pipeline_spark.plans import all_plans

REGISTRY = all_plans()


def _plan(spark, sf_dir, name, mode="simple") -> str:
    df = REGISTRY[name].builder(spark, sf_dir)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary", "formatted")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    # column pruning: only the 7 needed columns in ReadSchema
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_dim_joins_broadcast(spark, sf_dir):
    for q in ("revenue_by_nation", "top_customers_by_revenue"):
        plan = _plan(spark, sf_dir, q)
        assert "BroadcastHashJoin" in plan, q
    # nation must never be the shuffled side
    assert "SortMergeJoin" not in _plan(spark, sf_dir, "top_customers_by_revenue")


def test_topk_lowers_to_take_ordered(spark, sf_dir):
    assert "TakeOrderedAndProject" in _plan(
        spark, sf_dir, "top_customers_by_revenue"
    )


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary", "formatted")
    # two HashAggregate nodes (partial + final) around one exchange
    assert plan.count("HashAggregate") >= 2


def test_no_python_udfs_in_jvm_pipelines(registry_explains):
    # every query except the explicitly-Python multimodal decode must
    # stay JVM-side (no BatchEvalPython / ArrowEvalPython nodes)
    python_ok = {"multimodal_decode_features"}
    for q in REGISTRY:
        if q.name in python_ok:
            continue
        plan = registry_explains[q.name].simple
        assert "EvalPython" not in plan, f"{q.name} fell off the JVM path"


def test_multimodal_decode_is_arrow_batched(spark, sf_dir):
    plan = _plan(spark, sf_dir, "multimodal_decode_features")
    assert "MapInPandas" in plan  # Arrow-batched, not row-at-a-time


@pytest.mark.parametrize(
    "name", ["events_sessionization", "top_orders_per_customer"]
)
def test_single_shuffle_windows(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    # the window functions share one hash partitioning on the key
    assert plan.count("Exchange hashpartitioning") <= 2


def test_generator_child_not_duplicated_into_scan(spark, sf_dir):
    # InferFiltersFromGenerate would clone the full ngram-shingle
    # expression into a size()>0 filter pushed below the exchange,
    # re-evaluating it single-partition before the spread — excluded in
    # tune_session; this guards the exclusion.
    plan = _plan(spark, sf_dir, "neardup_jaccard_pairs", "formatted")
    scan_lines = [l for l in plan.splitlines() if "Scan parquet" in l or "DataFilters" in l]
    for line in scan_lines:
        assert "slice(" not in line and "transform(" not in line, (
            "shingle expression leaked into the parquet scan filters"
        )


def test_jaccard_posting_list_plan(spark, sf_dir):
    # the quadratic-bucket guard: shingles are grouped into posting
    # lists capped at NEARDUP_DF_CAP docs and pairs are generated
    # map-side from the sorted list — the plan must contain NO
    # self-join of the inverted index (the only joins left are the
    # broadcast size lookups) and must keep the df-cap filter
    plan = _plan(spark, sf_dir, "neardup_jaccard_pairs")
    assert "SortMergeJoin" not in plan, "inverted-index self-join is back"
    assert "collect_list" in plan, "posting-list aggregate missing"
    assert "size(docs" in plan, "df-cap posting-list filter missing"
    # exactly the two broadcast joins that attach grams_a / grams_b
    assert plan.count("BroadcastHashJoin") == 2


def test_lsh_verify_stage_broadcasts_candidates(spark, sf_dir):
    # the exact-verify stage must join via the (tiny) candidate set,
    # broadcast — never a shuffled join of the full shingle table
    plan = _plan(spark, sf_dir, "minhash_lsh_candidates")
    assert "BroadcastHashJoin" in plan


def test_repetition_gates_gram_stream_never_shuffles(spark, sf_dir):
    """Round-6 replan guard: the only exchanges are the explicit
    doc_id repartition and the tiny per-source rollup — the exploded
    gram stream must not appear on a shuffle boundary, and the
    repartition must carry an explicit partition count (a bare
    repartition("doc_id") gets AQE-coalesced to one partition and
    serializes the heavy per-gram compute)."""
    plan = _plan(spark, sf_dir, "doc_repetition_gates")
    assert plan.count("Exchange") == 2
    assert "REPARTITION_BY_NUM" in plan  # explicit count, not BY_COL


def test_typicality_scans_and_broadcast_df(spark, sf_dir):
    """The trigram DF table must come back as a BROADCAST join (it is
    charset-bounded), and corpus data is scanned exactly twice plus
    one footer-only count scan."""
    plan = _plan(spark, sf_dir, "doc_char_trigram_typicality")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Scan parquet") == 3


def test_hybrid_fusion_lists_stay_tiny(spark, sf_dir):
    """Hybrid retrieval: the lexical side keeps the one-pass BM25
    shape (TakeOrderedAndProject top-k). The fusion itself is the
    ONLY sort-merge join (Spark cannot broadcast a full-outer join)
    and both its inputs are rank-limited to <=K rows, so the sort is
    over <=2K rows regardless of corpus size; every corpus-sized join
    stays broadcast."""
    plan = _plan(spark, sf_dir, "doc_hybrid_retrieval")
    # BOTH sides pre-limit before ranking: the lexical BM25 top-k AND
    # the vector cosine top-k (r7 fix — the rank window previously
    # dragged every embedding into one unpartitioned-Window task)
    assert plan.count("TakeOrderedAndProject") >= 2
    assert plan.count("SortMergeJoin") == 1  # the <=2K-row fusion only
    assert "FullOuter" in plan
