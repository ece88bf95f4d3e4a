"""Registry entry: leakage-safe train/val/test splits.

The training-data failure this guards against: hashing each document
independently into train/val/test puts near-duplicates on both sides
of the split, so eval measures memorization of paraphrased training
data.  ``operators/splits.py`` keys the split on the near-dup
CLUSTER (connected components over the Jaccard >= 0.8 pair set —
exactly the ``neardup_cluster_keepers`` cluster structure), making
cross-split leakage structurally impossible.

The query reports, per split: document count, cluster count, and two
scalar audit columns — ``leaky_clusters`` (clusters spanning >1 split
under the safe assignment: 0 by construction, verified by the oracle,
not asserted) and ``naive_leaky_clusters`` (the same count under the
broken per-doc hash: the measured leak the safe assignment closes).

Scale shape: the component table only contains docs in some near-dup
pair; the corpus-side work is one equi-join plus map-side hash
expressions; the audit aggregates carry (cluster_key, split) pairs
only.  Both scalar audits attach by 1-row broadcast (the whitelisted
plan-audit shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_h32, md5_h32_sql
from ..operators.splits import (
    HASH_BUCKETS,
    assign_leakage_safe_splits,
    leaky_cluster_count,
    split_thresholds,
    update_splits,
)
from ..sources.tables import load_table, spread
from .core import REGISTRY
from .dedup_plans import COMPONENT_CTES, verified_pair_artifact

FRACTIONS = {"train": 0.90, "val": 0.05, "test": 0.05}


def _hb_sql(x: str) -> str:
    return f"({md5_h32_sql(x)} % {HASH_BUCKETS})"


def _split_sql(x: str) -> str:
    whens = " ".join(
        f"WHEN {_hb_sql(x)} < {thr} THEN '{name}'"
        for name, thr in split_thresholds(FRACTIONS)[:-1]
    )
    last = split_thresholds(FRACTIONS)[-1][0]
    return f"CASE {whens} ELSE '{last}' END"


_ORACLE = f"""
WITH RECURSIVE {COMPONENT_CTES}, assigned AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_key
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
), sp AS (
  SELECT doc_id, cluster_key,
         {_split_sql("cluster_key")} AS split,
         {_split_sql("doc_id")} AS naive_split
  FROM assigned
), leak AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS leaky_clusters FROM (
    SELECT cluster_key FROM sp GROUP BY cluster_key
    HAVING COUNT(DISTINCT split) > 1)
), nleak AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS naive_leaky_clusters FROM (
    SELECT cluster_key FROM sp GROUP BY cluster_key
    HAVING COUNT(DISTINCT naive_split) > 1)
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS docs,
       CAST(COUNT(DISTINCT cluster_key) AS BIGINT) AS clusters,
       leak.leaky_clusters,
       nleak.naive_leaky_clusters
FROM sp, leak, nleak
GROUP BY split, leak.leaky_clusters, nleak.naive_leaky_clusters
"""


@REGISTRY.add(
    "leakage_safe_splits",
    _ORACLE,
    doc="Deterministic 90/5/5 train/val/test assignment keyed on the "
    "near-dup CLUSTER id (connected components over the Jaccard>=0.8 "
    "pair set — the exact neardup_cluster_keepers structure, resolved "
    "by pointer-jumping in Spark and a recursive CTE in the oracle) "
    "instead of the document id, so near-duplicates cannot straddle "
    "splits. Per-split doc/cluster counts plus two oracle-verified "
    "audit scalars: leaky_clusters == 0 under the safe assignment "
    "(counted, not assumed) and naive_leaky_clusters — what the "
    "per-doc hash would leak on the same corpus. Split assignment is "
    "the budget-sampler md5-bucket (operators/splits.py): no rand(), "
    "identical docs in every engine/run/partitioning. Beyond the "
    "reference: a training-pipeline operator the dedup stack makes "
    "possible.",
    tags=("curation", "splits", "components"),
)
def leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id"))
    # the verified pair set is the persisted artifact shared with
    # neardup_cluster_keepers / incremental_split_update — read, not
    # recomputed (dedup_plans.verified_pair_artifact)
    pairs = verified_pair_artifact(spark, sf_dir)
    # materialize the split manifest once: (doc_id, cluster_key, split)
    # IS the artifact a real pipeline persists (like the MinHash
    # signature table), and three consumers read it below — without
    # this the corpus join + hash exprs replay per consumer
    assigned = assign_leakage_safe_splits(
        docs, pairs, FRACTIONS
    ).localCheckpoint()
    leaky = leaky_cluster_count(assigned)
    naive = leaky_cluster_count(
        assigned, split="naive_split", out_col="naive_leaky_clusters"
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.count_distinct("cluster_key").alias("clusters"),
        )
        .crossJoin(F.broadcast(leaky))
        .crossJoin(F.broadcast(naive))
    )


_UPDATE_ORACLE = f"""
WITH RECURSIVE {COMPONENT_CTES}, assigned AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_key
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
), sp AS (
  SELECT doc_id, cluster_key,
         {_split_sql("cluster_key")} AS split
  FROM assigned
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS docs,
       CAST(COUNT(DISTINCT cluster_key) AS BIGINT) AS clusters
FROM sp GROUP BY split
"""


@REGISTRY.add(
    "incremental_split_update",
    _UPDATE_ORACLE,
    doc="The incremental-manifest equivalence claim, ORACLE-CHECKED "
    "instead of only unit-pinned: Spark builds the split manifest in "
    "two ingest batches (a deterministic md5 quarter of the corpus "
    "arrives second; batch-1 docs and their internal near-dup edges "
    "form the persisted manifest, then operators/splits.update_splits "
    "folds in the remaining docs and every edge touching them by "
    "collapsing those edges through the old cluster keys and running "
    "components on the batch-sized graph only). The DuckDB oracle "
    "knows nothing about batches — it is the single-shot full "
    "recompute over all documents and the full Jaccard>=0.8 pair set. "
    "Cell-equality of the per-split doc/cluster counts IS the "
    "incremental==full proof, scored by the correctness gate at "
    "every SF.",
    tags=("curation", "splits", "incremental"),
)
def incremental_split_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id"))
    # the persisted pair artifact (shared with leakage_safe_splits and
    # neardup_cluster_keepers) — p1 and p2 below both filter it, and
    # reading the parquet manifest means the shingle -> capped
    # posting-list -> exact-verify pipeline runs once per sf_dir, not
    # once per consumer
    pairs = verified_pair_artifact(spark, sf_dir)

    def late(c):
        return md5_h32(c) % 4 == 0

    batch1 = docs.filter(~late(F.col("doc_id")))
    p1 = pairs.filter(~late(F.col("doc_a")) & ~late(F.col("doc_b")))
    p2 = pairs.filter(late(F.col("doc_a")) | late(F.col("doc_b")))
    # the persisted manifest after batch 1 (materialized, like any
    # real checkpoint between ingest days)
    manifest = (
        assign_leakage_safe_splits(batch1, p1, FRACTIONS)
        .select("doc_id", "cluster_key")
        .localCheckpoint()
    )
    updated = update_splits(manifest, docs, p2, FRACTIONS)
    return updated.groupBy("split").agg(
        F.count(F.lit(1)).alias("docs"),
        F.count_distinct("cluster_key").alias("clusters"),
    )
