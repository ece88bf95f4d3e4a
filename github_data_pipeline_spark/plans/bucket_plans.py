"""Registry exposure for bucketed-table co-located joins — the
pre-shuffle physical layout a 100-TB warehouse leans on hardest.

A repeated fact-fact join (orders x lineitem on order key here; at
production scale, any two event/fact tables joined on an entity key)
shuffles BOTH sides on every run — at 100 TB that single exchange is
the dominant cost of the whole query. The classic fix is to pay the
shuffle ONCE at write time: persist both tables bucketed (and
per-file sorted) on the join key with the same bucket count, and
every subsequent join plans as a SortMergeJoin with ZERO pre-join
exchanges — Spark proves co-location from the catalog's bucket spec
and skips hash-partitioning entirely (often the sort too, since the
files are bucket-sorted).

``tests/test_bucketing.py`` proves the exchange-free plan shape in a
unit test; this entry makes the claim ORACLE-SCORED, the way
``zorder_clustering_stats`` did for the other half of the layout
story: the Spark side reads the bucketed tables (written once per
corpus from the raw parquet — the write-time cost the
layout trades for repeated-join savings) and joins them under an
explicit ``MERGE`` hint (at 100 TB neither fact side is
broadcastable; the hint pins the strategy the layout exists to
serve instead of letting the test-SF auto-broadcast hide it), while
the DuckDB oracle computes the identical join + aggregation from the
RAW parquet. Cell-equality proves bucketing is pure physical-plan
surgery — same rows, cheaper exchange structure — and the plan-audit
row pins the exchange-free shape declaratively.

Beyond-reference scope: the reference pipeline
(`/root/reference/src/retrieval/indexer.py:22-178`) re-shuffles on
every es-bulk partition pass; a layout-aware engine is what replaces
that at warehouse scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .artifacts import build_once
from .core import REGISTRY

#: Bucket count for both sides — MUST match for the co-location proof
#: (mismatched counts make Spark re-shuffle the smaller-bucketed side).
#: 16 keeps test-SF files non-trivial; a 100-TB deployment sizes this
#: to target-file-size instead (thousands), same machinery.
BUCKETS = 16


def _bucketed_twin(
    spark: SparkSession, sf_dir: str, table: str, bucket_col: str
) -> str:
    """Catalog name of ``table`` bucketed+sorted on ``bucket_col``."""

    def write(tmp: str) -> None:
        # the explicit path makes the scratch table EXTERNAL, so
        # dropping it keeps the files
        scratch = f"{table}_bkt_build"
        try:
            (
                load_table(spark, sf_dir, table)
                .write.bucketBy(BUCKETS, bucket_col)
                .sortBy(bucket_col)
                .option("path", tmp)
                .saveAsTable(scratch)
            )
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {scratch}")

    loc = build_once(
        sf_dir, f"{table}_bkt", (table,), f"{bucket_col}:{BUCKETS}", write
    )
    name = f"{table}_bkt_{os.path.basename(loc)}"
    if not spark.catalog.tableExists(name):
        ddl = load_table(spark, sf_dir, table).schema.toDDL()
        spark.sql(
            f"CREATE TABLE {name} ({ddl}) USING PARQUET "
            f"CLUSTERED BY ({bucket_col}) "
            f"SORTED BY ({bucket_col}) INTO {BUCKETS} BUCKETS "
            f"LOCATION '{loc}'"
        )
    return name


def ensure_bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Create (once per corpus) the bucketed twins of orders and
    lineitem, both bucketed+sorted on the order key with :data:`BUCKETS`
    buckets, register them in the session catalog and return their
    catalog names.

    This is the write-time half of the layout trade: one full shuffle
    each at build time buys every later key-join ZERO exchanges. The
    files are a build_once artifact, so a new session (whose in-memory
    catalog has forgotten the tables) re-registers the committed files
    with the same bucket spec instead of rewriting them — the metadata,
    not the data, is what proves co-location to the planner."""
    return (
        _bucketed_twin(spark, sf_dir, "orders", "o_orderkey"),
        _bucketed_twin(spark, sf_dir, "lineitem", "l_orderkey"),
    )


@REGISTRY.add(
    "bucketed_priority_revenue",
    """
    SELECT o.o_orderpriority AS priority,
           l.l_returnflag AS returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000)
                         AS BIGINT)) AS BIGINT) AS revenue_c4
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc=f"Fact-fact join over PRE-BUCKETED tables: orders and lineitem "
    f"are persisted bucketed+sorted on the order key ({BUCKETS} buckets "
    "each side), so the MERGE-hinted join plans with ZERO pre-join "
    "exchanges — the catalog's bucket spec proves co-location and the "
    "shuffle a 100-TB fact-fact join would otherwise pay on EVERY run "
    "was paid once at write time. Revenue aggregates discounted price "
    "in exact fixed-point (4 decimals: 2-decimal price x 2-decimal "
    "discount factor) per (priority, returnflag). The oracle computes "
    "the identical join from the RAW parquet, so cell-equality proves "
    "bucketing changed the exchange structure, never the rows; the "
    "plan-audit row and tests/test_bucketing.py pin the exchange-free "
    "SortMergeJoin shape itself.",
    tags=("join", "layout", "bucketing", "agg"),
)
def bucketed_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    ot, lt = ensure_bucketed_pair(spark, sf_dir)
    orders = spark.table(ot).select("o_orderkey", "o_orderpriority")
    li = spark.table(lt).select(
        "l_orderkey",
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        # 2-dec price x 2-dec (1-discount) = exactly 4 decimals; FLOOR/
        # ROUND parity is safe because the product sits ~ulps from an
        # integer at scale 1e4, never at a .5 boundary
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
        .cast("long")
        .alias("rev_c4"),
    )
    return (
        li.hint("merge")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("l_returnflag").alias("returnflag"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("qty").cast("long").alias("sum_qty"),
            F.sum("rev_c4").cast("long").alias("revenue_c4"),
        )
        .orderBy(F.asc("priority"), F.asc("returnflag"))
    )
