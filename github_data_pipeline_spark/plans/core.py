"""Query registry — the engine's oracle-checkable analytics surface.

Every operator from SURVEY.md §2 is exposed here as a named query:
a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) an ANSI-SQL oracle string DuckDB runs on the same
parquet tables. The driver hash-compares both sides at sf=0.01, so the
builders alias every computed column to the exact oracle column name.

Hash-stability rules (see functions/money.py):

* aggregate money in integer cents, divide once at the end;
* never emit a double produced by a shuffled double-SUM;
* deterministic ORDER/tie-breaks wherever LIMIT/top-k is involved.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
from collections.abc import Callable, Iterable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    """One oracle-checkable query/operator demonstration."""

    name: str
    builder: Builder
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


class Registry:
    def __init__(self) -> None:
        self._queries: dict[str, Query] = {}

    def add(
        self,
        name: str,
        oracle: str | None,
        doc: str = "",
        tags: Iterable[str] = (),
    ) -> Callable[[Builder], Builder]:
        """Decorator: register ``fn(spark, sf_dir) -> DataFrame``."""

        def deco(fn: Builder) -> Builder:
            if name in self._queries:
                raise ValueError(f"duplicate query name {name!r}")
            self._queries[name] = Query(
                name=name, builder=fn, oracle=oracle, doc=doc, tags=tuple(tags)
            )
            return fn

        return deco

    def queries(self) -> dict[str, Builder]:
        return {n: q.builder for n, q in self._queries.items()}

    def oracle_sql(self) -> dict[str, str]:
        return {
            n: q.oracle for n, q in self._queries.items() if q.oracle is not None
        }

    def reorder(self, order: Sequence[str]) -> None:
        """Put the entries in ``order``, which must name every registered
        entry and nothing else."""
        unlisted = [n for n in self._queries if n not in order]
        unknown = [n for n in order if n not in self._queries]
        if unlisted or unknown:
            raise ValueError(
                f"registry/ORDER mismatch: not in ORDER {unlisted}, "
                f"not registered {unknown}"
            )
        self._queries = {n: self._queries[n] for n in order}

    def __getitem__(self, name: str) -> Query:
        return self._queries[name]

    def __iter__(self):
        return iter(self._queries.values())

    def __len__(self) -> int:
        return len(self._queries)


REGISTRY = Registry()

# The driver verdicts the first DRIVER_WINDOW entries of ORDER.
DRIVER_WINDOW = 50

ORDER: tuple[str, ...] = (
    "neardup_cluster_keepers",
    "jaccard_prefix_filter_pairs",
    "json_roundtrip_events",
    "gh_prs_with_linked_issues",
    "gh_cross_repo_links",
    "gh_blame_file_summary",
    "multimodal_frame_sample",
    "local_supplier_revenue_q5",
    "part_bag_set_ops",
    "pca_power_iteration",
    "pca_topk_deflation",
    "bpe_learned_merges",
    "doc_length_percentile_cont",
    "curation_funnel_report",
    "incremental_split_update",
    "events_item_pagerank",
    "classifier_isotonic_calibration",
    "lm_kn_trigram_probs",
    "ann_ivfpq_topk",
    "salted_group_topk",
    "cdc_apply_changes",
    "stream_sliding_rollup",
    "stream_sessionization",
    "stream_watermark_dedup",
    "stream_interval_join",
    "stream_restart_recovery",
    "stream_restart_keyed_ledger",
    "stream_static_enrichment",
    "stream_interval_join_outer",
    "doc_source_lang_cube",
    "bucketed_priority_revenue",
    "token_heavy_hitters",
    "lang_token_byte_regression",
    "seq_packing_manifest",
    "lsh_capped_star_components",
    "cms_token_frequency",
    "stream_cms_equality",
    "snm_neardup_pairs",
    "bloom_prejoin_report",
    "dpp_partition_prune_report",
    "weak_label_vote_report",
    "volume_shipping_q7",
    "market_share_q8",
    "promo_revenue_q14",
    "top_supplier_q15",
    "small_qty_revenue_q17",
    "large_volume_customer_q18",
    "late_only_supplier_q21",
    "discounted_revenue_q19",
    "bt_preference_strengths",
    # ---- driver window edge: the entries above get driver verdicts;
    # the tail below runs under the local cell-exact checker only ----
    "stream_bt_equality",
    "schema_evolution_report",
    "events_top_users_per_type",
    "customer_order_windows",
    "shipping_priority",
    "orders_per_customer_histogram",
    "orders_rollup",
    "customers_above_nation_avg",
    "label_centroids",
    "events_sessionization",
    "events_asof_last_click",
    "multimodal_meta_rollup",
    "pricing_summary",
    "revenue_by_nation",
    "multimodal_decode_features",
    "gh_contributors_drift",
    "customer_order_left_join",
    "doc_sampling_gates",
    "events_hourly_rollup",
    "ann_topk",
    "doc_token_profile",
    "simhash_hamming_pairs",
    "embedding_neardup_pairs",
    "doc_fulltext_standard",
    "gh_blame_author_totals",
    "urgent_orders_with_late_items",
    "customers_without_orders",
    "gh_commit_time_range",
    "events_type_pivot",
    "events_gap_fill_hourly",
    "doc_quality_by_source",
    "kmeans_cluster_sizes",
    "embedding_quantization_report",
    "bpe_encoded_profile",
    "events_funnel_steps",
    "neardup_editdist_pairs",
    "gh_commit_first_lines",
    "substring_dup_spans",
    "doc_chunk_windows",
    "ann_lsh_topk",
    "events_trailing_hour_window",
    "doc_length_percentiles",
    "events_value_outliers",
    "decontam_overlap",
    "budget_sample_counts",
    "doc_fulltext_porter",
    "leakage_safe_splits",
    "kmv_sketch_stats",
    "doc_repetition_gates",
    "gh_stable_ids",
    "gh_issue_comments",
    "gh_contributions_recompute",
    "lang_id_confusion",
    "doc_fulltext_search",
    "train_shard_manifest",
    "exact_dedup_reingest",
    "nation_set_ops",
    "incremental_merge_orders",
    "top_orders_per_customer",
    "neardup_jaccard_pairs",
    "gh_repo_meta",
    "orders_profile",
    "events_range_attribution",
    "scd2_order_priority_history",
    "mixture_alpha_sampling",
    "doc_quality_linear_gate",
    "lm_bigram_counts",
    "doc_hybrid_overlap_slice",
    "doc_char_trigram_typicality",
    "embedding_covariance",
    "lm_kn_bigram_probs",
    "ann_pq_adc_topk",
    "doc_winnow_fingerprints",
    "source_shingle_overlap",
    "minhash_lsh_candidates",
    "gh_issue_stats",
    "top_customers_by_revenue",
    "stream_user_ledger",
    "ann_recall",
    "doc_pii_scrub",
    "gh_issues_closed_by_commits",
    "salted_priority_revenue",
    "approx_lineitem_stats",
    "doc_dup_ngram_rate",
    "lm_bigram_lift",
    "hard_negative_mining",
    "dq_referential_audit",
    "classifier_pr_curve",
    "rollup_incremental_merge",
    "events_retention_cohorts",
    "doc_gates_unpivot_long",
    "lm_doc_typicality",
    "winnow_shared_fp_pairs",
    "zorder_clustering_stats",
    "lsh_incremental_index",
    "doc_hybrid_retrieval",
    "ann_pq_recall",
    "events_bfs_reach",
    "stratified_sample_exact",
    "doc_length_quantiles_histogram",
    "kmv_incremental_merge",
    "classifier_roc_auc",
    "events_triangle_census",
    "embedding_covariance_pairs",
    "events_hourly_ohlc",
    "events_robust_outliers",
    "events_user_skew_report",
    "gh_pr_issue_state_join",
)


def all_plans() -> Registry:
    """Import every plan module (side-effect: registration) and return
    the populated registry in ``ORDER``."""
    for mod in pkgutil.iter_modules([os.path.dirname(__file__)]):
        importlib.import_module(f"{__package__}.{mod.name}")
    REGISTRY.reorder(ORDER)
    return REGISTRY
