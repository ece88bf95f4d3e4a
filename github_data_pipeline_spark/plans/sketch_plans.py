"""Tail registry entry: engine-neutral approximate aggregates.

``approx_lineitem_stats`` exposes Spark's native sketch surface
(HLL++, GK quantiles) and is rows-only by contract — those sketches
are engine-specific.  This entry is the complementary claim: the
SEMANTICS of sketching (bounded-memory distinct counts and quantiles)
do not require engine-specific algorithms.  Both estimators here are
deterministic functions of md5, so DuckDB reproduces Spark's output
cell-exactly, and every output column is integral — no float hashing
risk at all.

* **KMV distinct estimate** (k-minimum-values, Bar-Yossef et al.
  2002): hash each value to 32 bits (the md5-bucket family every
  sampler in this repo uses), keep the k smallest distinct hashes,
  estimate |D| ~ (k-1) * 2^32 / h_(k).  The k-smallest set is a
  ``TakeOrderedAndProject`` (distributed top-k, never a full sort)
  over the distinct hashes; memory is O(k) per group at any corpus
  size.  Output is ``floor``-ed to BIGINT — floor, not round, so
  there is no half-way-rounding divergence between engines.
* **Discrete quantiles over a deterministic hash sample**: rows whose
  md5 bucket of (orderkey, linenumber) falls under the sample rate —
  the budget-sampler predicate, so both engines select the SAME rows
  — then the exact value at rank ``ceil(p * n_sample)`` of the sorted
  sample, computed with the same formula in both engines (array sort
  + element_at).  Values are integer cents (functions/money.py
  discipline).  The sample is collected into one array per aggregate:
  bounded by rate * |table|; a production deployment pins the sample
  size with a fixed-size bottom-k-by-hash instead (same md5 machinery
  as KMV) — the rate form keeps the oracle a pure SQL expression.

The local cell-exact checker (CORRECTNESS_TAIL.json) and the bench
cover it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_h32, md5_h32_sql
from ..sources.tables import load_table
from .core import REGISTRY

KMV_K = 256
SAMPLE_BUCKETS = 1_000_000
SAMPLE_THRESHOLD = 20_000  # 2% deterministic row sample
QUANTILES = {"p50": 0.5, "p95": 0.95, "p99": 0.99}
_POW32 = 4294967296.0  # 2^32 as a double, exact


# the repo-wide md5-h32 family (functions/hashing.py)
_h32_col = md5_h32
_h32_sql = md5_h32_sql


def _kmv_est_col(hk):
    return F.floor(F.lit(KMV_K - 1) * F.lit(_POW32) / hk).cast("long")


def _kmv_cte(col: str, name: str) -> str:
    return f"""{name}_d AS (
      SELECT DISTINCT {_h32_sql(col)} AS h FROM lineitem
    ), {name}_k AS (
      SELECT MAX(h) AS hk FROM (
        SELECT h FROM {name}_d ORDER BY h ASC LIMIT {KMV_K})
    )"""


def _q_sql(tag: str, p: float) -> str:
    return (
        f"sample_cents[CAST(greatest(1, ceil({p} * len(sample_cents)))"
        f" AS BIGINT)] AS {tag}_cents"
    )


_ORACLE = f"""
WITH {_kmv_cte("l_orderkey", "ok")}, {_kmv_cte("l_partkey", "pk")},
exact AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts
  FROM lineitem
), samp AS (
  -- COALESCE: list() over zero sampled rows is NULL in DuckDB but an
  -- empty array in Spark (collect_list); normalize so sample_rows=0
  -- and NULL quantiles agree across engines at any input size
  SELECT COALESCE(
           list_sort(list(CAST(ROUND(l_extendedprice * 100) AS BIGINT))),
           CAST([] AS BIGINT[])) AS sample_cents
  FROM lineitem
  WHERE ({_h32_sql("l_orderkey || '-' || l_linenumber")}
         % {SAMPLE_BUCKETS}) < {SAMPLE_THRESHOLD}
)
SELECT
  CAST(floor({KMV_K - 1} * {_POW32} / ok_k.hk) AS BIGINT) AS kmv_orders,
  exact.exact_orders,
  CAST(floor({KMV_K - 1} * {_POW32} / pk_k.hk) AS BIGINT) AS kmv_parts,
  exact.exact_parts,
  {", ".join(_q_sql(t, p) for t, p in QUANTILES.items())},
  CAST(len(sample_cents) AS BIGINT) AS sample_rows
FROM ok_k, pk_k, exact, samp
"""


@REGISTRY.add(
    "kmv_sketch_stats",
    _ORACLE,
    doc="Engine-neutral approximate aggregates, oracle-checked "
    "cell-exact: KMV (k-minimum-values) distinct estimates for "
    "orderkey/partkey — k smallest distinct 32-bit md5 hashes via "
    "distributed top-k (TakeOrderedAndProject, O(k) memory at any "
    "scale), estimate floor((k-1)*2^32/h_k) as BIGINT, shown next to "
    "the exact COUNT DISTINCT so the error is visible — plus "
    "discrete p50/p95/p99 price quantiles in integer cents over a 2% "
    "deterministic md5-sampled row subset (both engines select the "
    "same rows and the same sorted-rank element). The complementary "
    "claim to rows-only approx_lineitem_stats: bounded-memory "
    "sketching semantics without engine-specific sketch binaries. "
    "Every output column is integral — zero float-hash surface.",
    tags=("approx", "sketch", "agg"),
)
def kmv_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketch_over(load_table(spark, sf_dir, "lineitem"))


def sketch_over(li: DataFrame) -> DataFrame:
    """The sketch pipeline over any lineitem-shaped DataFrame —
    factored out so tests can pin partitioning-independence."""

    def kmv(col: str):
        hashes = li.select(_h32_col(F.col(col)).alias("h")).distinct()
        return (
            hashes.orderBy(F.asc("h"))
            .limit(KMV_K)
            .agg(F.max("h").alias("hk"))
        )

    exact = li.agg(
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.count_distinct("l_partkey").alias("exact_parts"),
    )
    skey = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    samp = (
        li.filter(_h32_col(skey) % SAMPLE_BUCKETS < SAMPLE_THRESHOLD)
        .select(
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("cents")
        )
        .agg(F.sort_array(F.collect_list("cents")).alias("sample_cents"))
    )
    # try_element_at: on an empty sample (possible below ~50 rows) the
    # rank index 1 is out of bounds — return NULL like the DuckDB
    # twin's out-of-bounds list index instead of an ANSI error
    q_cols = [
        F.try_element_at(
            F.col("sample_cents"),
            F.greatest(
                F.lit(1),
                F.ceil(F.lit(p) * F.size("sample_cents")),
            ).cast("int"),
        ).alias(f"{tag}_cents")
        for tag, p in QUANTILES.items()
    ]
    return (
        kmv("l_orderkey")
        .select(_kmv_est_col(F.col("hk")).alias("kmv_orders"))
        .crossJoin(F.broadcast(exact))
        .crossJoin(
            F.broadcast(
                kmv("l_partkey").select(
                    _kmv_est_col(F.col("hk")).alias("kmv_parts")
                )
            )
        )
        .crossJoin(F.broadcast(samp))
        .select(
            "kmv_orders",
            "exact_orders",
            "kmv_parts",
            "exact_parts",
            *q_cols,
            F.size("sample_cents").cast("long").alias("sample_rows"),
        )
    )


# --- mergeable-sketch IVM: batch-merged KMV == from-scratch KMV ----------
#
# rollup_incremental_merge (plans/audit_plans.py) proves incremental
# maintenance for ADDITIVE aggregates (SUM/COUNT monoids). The statistic
# a 100-TB warehouse actually struggles to maintain incrementally is
# COUNT DISTINCT — not additive across batches. The mergeable-sketch
# answer: keep a KMV sketch per ingest batch (the k smallest distinct
# hashes — O(k) memory), merge by unioning the survivor sets and
# re-truncating to the k smallest. KMV's merge is LOSSLESS (the k
# smallest of a union are a subset of the per-part k-smallest sets), so
# batch-merged == from-scratch EXACTLY — which makes it oracle-checkable
# cell-exact, a strictly stronger claim than an error envelope: the
# Spark side computes the estimate by 3-batch merge, the DuckDB oracle
# from scratch, and the values must hash-equal.

#: shipdate boundaries splitting lineitem into three "ingest batches"
KMV_BATCH_BOUNDS = ("1994-01-01", "1996-01-01")
#: estimator error envelope: 3 standard errors, se = 1/sqrt(k) = 1/16
KMV_SE_DEN = 16  # sqrt(KMV_K)
KMV_SE_MUL = 3


def _kmv_corrected_sql(col: str) -> str:
    """From-scratch KMV estimate of COUNT(DISTINCT col) with the
    standard small-cardinality mode: while fewer than k distinct hashes
    exist the sketch holds all of them and reports the exact count."""
    return f"""(
      SELECT CASE WHEN COUNT(*) < {KMV_K} THEN COUNT(*)
                  ELSE CAST(floor({KMV_K - 1} * {_POW32} / MAX(h)) AS BIGINT)
             END
      FROM (SELECT h FROM (SELECT DISTINCT {_h32_sql(col)} AS h FROM lineitem)
            ORDER BY h ASC LIMIT {KMV_K})
    )"""


def _kmv_row_sql(col: str) -> str:
    est = _kmv_corrected_sql(col)
    return f"""
    SELECT '{col}' AS key_col,
           {est} AS merged_kmv,
           {est} AS scratch_kmv,
           (SELECT CAST(COUNT(DISTINCT {col}) AS BIGINT) FROM lineitem)
             AS exact_distinct,
           CAST(1 AS BIGINT) AS within_3se"""


@REGISTRY.add(
    "kmv_incremental_merge",
    f"""
    {_kmv_row_sql("l_orderkey")}
    UNION ALL
    {_kmv_row_sql("l_partkey")}
    ORDER BY key_col ASC
    """,
    doc="Incremental view maintenance for COUNT DISTINCT via mergeable "
    "KMV sketches, proved exact: lineitem is split into three ingest "
    "batches by shipdate, each batch's k-minimum-value set (k smallest "
    "distinct 32-bit md5 hashes — a distributed TakeOrderedAndProject, "
    "O(k) memory per batch at any corpus size) is computed separately, "
    "and the stored-sketch merge (union the <=3k survivors, distinct, "
    "re-truncate to the k smallest) produces the estimate. The oracle "
    "recomputes the SAME estimator from scratch over all rows: KMV's "
    "merge is lossless, so the cell-exact equality is the IVM proof — "
    "a warehouse folds each batch's O(k) sketch into the stored one "
    "instead of rescanning history, and COUNT DISTINCT (non-additive, "
    "the statistic the additive rollup_incremental_merge proof cannot "
    "cover) stays maintainable. Small-cardinality mode (fewer than k "
    "hashes -> exact count) applies identically in both engines. "
    "within_3se pins |est - exact| <= 3 * exact / sqrt(k) as a literal "
    "1 in the oracle — the estimate drifting out of its envelope on "
    "any fixture becomes a hash mismatch, the approx_lineitem_stats "
    "discipline. scratch_kmv is also computed by Spark from scratch, "
    "so merged == scratch is pinned per-engine AND cross-engine.",
    tags=("approx", "sketch", "incremental"),
)
def kmv_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    lo, hi = (
        F.lit(KMV_BATCH_BOUNDS[0]).cast("timestamp"),
        F.lit(KMV_BATCH_BOUNDS[1]).cast("timestamp"),
    )
    ship = F.col("l_shipdate")
    # a PARTITION of the table: the last batch takes the null-shipdate
    # remainder so no row can escape the merged sketch silently
    batches = [
        li.filter(ship < lo),
        li.filter((ship >= lo) & (ship < hi)),
        li.filter((ship >= hi) | ship.isNull()),
    ]

    def kmin(df: DataFrame, col: str) -> DataFrame:
        """The k smallest distinct hashes — TakeOrderedAndProject
        (per-partition heaps), never a full sort."""
        return (
            df.select(_h32_col(F.col(col)).alias("h"))
            .distinct()
            .orderBy(F.asc("h"))
            .limit(KMV_K)
        )

    def estimate(kset: DataFrame) -> DataFrame:
        return kset.agg(
            F.when(F.count("h") < KMV_K, F.count("h"))
            .otherwise(
                F.floor(F.lit(KMV_K - 1) * F.lit(_POW32) / F.max("h"))
            )
            .cast("long")
            .alias("est")
        )

    out = None
    for col in ("l_orderkey", "l_partkey"):
        merged_set = batches[0].transform(lambda d: kmin(d, col))
        for b in batches[1:]:
            merged_set = merged_set.unionByName(kmin(b, col))
        # the sketch merge: <=3k rows -> distinct -> k smallest
        merged_set = (
            merged_set.distinct().orderBy(F.asc("h")).limit(KMV_K)
        )
        merged = estimate(merged_set).select(
            F.col("est").alias("merged_kmv")
        )
        scratch = estimate(kmin(li, col)).select(
            F.col("est").alias("scratch_kmv")
        )
        exact = li.agg(
            F.count_distinct(col).cast("long").alias("exact_distinct")
        )
        # all three sides are 1-row aggregates: forced-broadcast attach
        row = (
            merged.crossJoin(F.broadcast(scratch))
            .crossJoin(F.broadcast(exact))
            .select(
                F.lit(col).alias("key_col"),
                "merged_kmv",
                "scratch_kmv",
                "exact_distinct",
                (
                    F.abs(F.col("merged_kmv") - F.col("exact_distinct"))
                    * KMV_SE_DEN
                    <= F.lit(KMV_SE_MUL) * F.col("exact_distinct")
                )
                .cast("long")
                .alias("within_3se"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy(F.asc("key_col"))
