"""SCD Type-2 history as an oracle-checked query (upgrades
``operators/incremental.scd2_merge`` from unit-pinned to
driver-checkable — §2.10 extension class, sibling of
``incremental_merge_orders`` which covers the type-1 overwrite the
reference implements).

The query builds each customer's order-priority HISTORY (validity
intervals, not latest-wins) by folding two date-split batches through
``scd2_merge`` — bootstrap from an empty history, then merge the
second batch into the first's output. The DuckDB oracle is
batch-blind: one window pass over all versions. Cell-equality between
the two IS the incremental==full equivalence proof (same pattern as
``incremental_split_update``): closing currents with the next batch's
first update must land exactly where the single-shot LEAD() lands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.incremental import scd2_merge
from ..sources.tables import load_table, rows_to_dataframe
from .core import REGISTRY

_add = REGISTRY.add

SPLIT_DATE = "1998-01-01"  # batch 1 strictly before, batch 2 from here

_FMT_SQL = "%Y-%m-%dT%H:%M:%SZ"
_FMT_SPARK = "yyyy-MM-dd'T'HH:mm:ss'Z'"


@_add(
    "scd2_order_priority_history",
    f"""
    WITH dedup AS (
      SELECT o_custkey, o_orderpriority, o_orderdate FROM (
        SELECT o_custkey, o_orderpriority, o_orderdate,
               ROW_NUMBER() OVER (
                 PARTITION BY o_custkey, o_orderdate
                 ORDER BY o_orderkey DESC
               ) AS rn
        FROM orders
      ) WHERE rn = 1
    )
    SELECT o_custkey,
           o_orderpriority,
           CAST(STRFTIME(o_orderdate, '{_FMT_SQL}') AS VARCHAR)
             AS valid_from,
           CAST(STRFTIME(
             LEAD(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
             ), '{_FMT_SQL}') AS VARCHAR) AS valid_to,
           CAST(CASE WHEN LEAD(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
             ) IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
    FROM dedup
    """,
    doc="SCD Type-2 validity-interval history of each customer's "
    "order priority. Spark folds TWO date-split batches through "
    "operators/incremental.scd2_merge (empty-history bootstrap, then "
    "an incremental merge that closes the first batch's current rows "
    "at the second batch's first update); the oracle is batch-blind "
    "(one LEAD() window over all versions) — cell-equality IS the "
    "incremental==full proof. Deterministic version set: one row per "
    "(customer, date), highest orderkey wins. Plan: one window + one "
    "aggregate + one join per merge, keyed on the customer — no "
    "global sort, composes with dynamic-partition upserts at 100 TB.",
    tags=("orders", "scd2", "incremental"),
)
def scd2_order_priority_history(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w_d = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.desc("o_orderkey")
    )
    # materialize the deduped version set once: both batches, and both
    # uses inside each scd2_merge (new-version chain + first-update
    # aggregate + history joins), hang off it — without the checkpoint
    # the orders scan + dedup window replays ~6x through the fold
    base = (
        o.select(
            "o_custkey",
            "o_orderpriority",
            "o_orderdate",
            F.row_number().over(w_d).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .localCheckpoint()
    )
    cut = F.lit(SPLIT_DATE).cast("timestamp")
    b1 = base.filter(F.col("o_orderdate") < cut)
    b2 = base.filter(F.col("o_orderdate") >= cut)
    empty = rows_to_dataframe(
        spark,
        [],
        T.StructType(
            [
                T.StructField("o_custkey", T.LongType()),
                T.StructField("o_orderpriority", T.StringType()),
                T.StructField("valid_from", T.TimestampType()),
                T.StructField("valid_to", T.TimestampType()),
                T.StructField("is_current", T.BooleanType()),
            ]
        ),
    )
    # batch-1 history is read twice by the second merge (current-row
    # close + untouched anti join); materialize it once
    h1 = scd2_merge(empty, b1, "o_custkey", "o_orderdate").localCheckpoint()
    h2 = scd2_merge(h1, b2, "o_custkey", "o_orderdate")
    return h2.select(
        "o_custkey",
        "o_orderpriority",
        F.date_format("valid_from", _FMT_SPARK).alias("valid_from"),
        F.date_format("valid_to", _FMT_SPARK).alias("valid_to"),
        F.col("is_current").cast("long").alias("is_current"),
    )
