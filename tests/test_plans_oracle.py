"""Every registered query must exactly match its DuckDB oracle at
sf0.001 (the driver re-runs the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from github_data_pipeline_spark.plans import all_plans
from github_data_pipeline_spark.plans.core import DRIVER_WINDOW, ORDER, Registry
from github_data_pipeline_spark.testing import diff_frames, run_oracle

REGISTRY = all_plans()
NAMES = [q.name for q in REGISTRY]


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    q = REGISTRY[name]
    sdf = q.builder(spark, sf_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    if q.oracle is None:
        assert len(s_rows) >= 0  # rows-only contract: must at least run
        return
    d_cols, d_rows = run_oracle(duck, q.oracle)
    msg = diff_frames(sdf.columns, s_rows, d_cols, d_rows)
    assert msg is None, f"{name}: {msg}"


def test_entry_contract(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    assert df.count() > 0
    assert set(mod.oracle_sql()) <= set(mod.queries())


def test_driver_window_invariants():
    """The driver verdicts exactly the first DRIVER_WINDOW registry
    entries, so every windowed entry must be oracle-backed (a rows-only
    entry would waste a verdict slot) and the pinned entries must stay
    inside the window."""
    names = list(REGISTRY.queries())
    window = names[:DRIVER_WINDOW]
    assert len(window) == DRIVER_WINDOW
    assert [n for n in window if REGISTRY[n].oracle is None] == []
    for q in (
        "neardup_cluster_keepers",
        "incremental_split_update",
        "events_item_pagerank",
        "bpe_learned_merges",
        "lm_kn_trigram_probs",
        "ann_ivfpq_topk",
        "stream_sliding_rollup",
        "stream_sessionization",
        "stream_watermark_dedup",
        "doc_source_lang_cube",
        "curation_funnel_report",
        "stream_interval_join",
        "cdc_apply_changes",
        "salted_group_topk",
        "json_roundtrip_events",
        "stream_restart_recovery",
        "pca_power_iteration",
        "stream_restart_keyed_ledger",
        "bucketed_priority_revenue",
        "token_heavy_hitters",
        "jaccard_prefix_filter_pairs",
        "lang_token_byte_regression",
        "stream_static_enrichment",
        "seq_packing_manifest",
        "cms_token_frequency",
        "snm_neardup_pairs",
        "stream_interval_join_outer",
        "pca_topk_deflation",
        "doc_length_percentile_cont",
        "local_supplier_revenue_q5",
        "bloom_prejoin_report",
        "part_bag_set_ops",
        "lsh_capped_star_components",
        "dpp_partition_prune_report",
        "stream_cms_equality",
        "classifier_isotonic_calibration",
        "weak_label_vote_report",
        "volume_shipping_q7",
        "market_share_q8",
        "promo_revenue_q14",
        "top_supplier_q15",
        "small_qty_revenue_q17",
        "large_volume_customer_q18",
        "late_only_supplier_q21",
        "bt_preference_strengths",
        "discounted_revenue_q19",
    ):
        assert q in window, f"{q} fell out of the driver window"
    # no registry entry is rows-only, in the tail either
    for n in names[DRIVER_WINDOW:]:
        assert REGISTRY[n].oracle is not None, n


def test_registry_follows_order_manifest():
    assert list(REGISTRY.queries()) == list(ORDER)


def _builder(spark, sf_dir):
    raise AssertionError("never built")


def test_reorder_rejects_unlisted_entry():
    reg = Registry()
    reg.add("listed", None)(_builder)
    reg.add("stray_entry", None)(_builder)
    with pytest.raises(ValueError, match="stray_entry"):
        reg.reorder(("listed",))


def test_reorder_rejects_unregistered_name():
    reg = Registry()
    reg.add("listed", None)(_builder)
    with pytest.raises(ValueError, match="ghost_entry"):
        reg.reorder(("listed", "ghost_entry"))
