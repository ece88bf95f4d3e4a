"""Schema-evolution scan: merging artifact GENERATIONS whose schemas
drifted — the lake-maintenance face no other entry covers.

A 100 TB corpus is never written by one job with one schema: columns
get added mid-history, and the reader must union old and new files
without rewriting petabytes. The entry materializes exactly that
situation as a deterministic artifact — the orders table split into
two "generations": gen1 (even orderkeys) written WITHOUT a channel
column, gen2 (odd orderkeys) written WITH ``o_channel`` (derived
deterministically from the orderkey, so the oracle can recompute it) —
then reads both generations in ONE scan via Spark's ``mergeSchema``
(missing columns null-fill per file, the Parquet schema-merge
contract) and aggregates per channel with the legacy lane coalesced
explicitly.

The DuckDB oracle never sees the artifact: it recomputes the identical
report straight from the base ``orders`` view using the same
orderkey-derived generation and channel rules. Cell equality therefore
pins the SEMANTICS of the evolved-schema scan — that the merged read
loses no rows, null-fills exactly the old generation, and keeps typed
columns aligned across files.

Scale notes (100 TB): mergeSchema's cost is schema RECONCILIATION
(footer reads across files — bounded by file count, not data), after
which the scan is an ordinary columnar read; the aggregate is one
partial-combined exchange keyed by |channels|+1 groups. No shuffle is
added by the evolution itself — which is the point: schema drift
handled at read time, no rewrite.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import cents_of
from ..sources.tables import load_table
from .artifacts import build_once
from .core import REGISTRY

#: channel assignment for the NEW generation (odd orderkeys), derived
#: from the orderkey so the oracle recomputes it without the artifact
_CHANNELS = ("web", "store", "phone")


def _channel_col():
    k = F.col("o_orderkey") % 3
    return (
        F.when(k == 0, _CHANNELS[0])
        .when(k == 1, _CHANNELS[1])
        .otherwise(_CHANNELS[2])
    )


def orders_two_generations(spark: SparkSession, sf_dir: str) -> str:
    """Orders split into two schema generations under the artifact
    cache: ``gen1/`` (even orderkeys, NO o_channel column) and
    ``gen2/`` (odd orderkeys, WITH o_channel). Built once per sf_dir."""

    def write(tmp: str) -> None:
        o = load_table(spark, sf_dir, "orders")
        o.filter(F.col("o_orderkey") % 2 == 0).write.parquet(
            os.path.join(tmp, "gen1")
        )
        o.filter(F.col("o_orderkey") % 2 == 1).withColumn(
            "o_channel", _channel_col()
        ).write.parquet(os.path.join(tmp, "gen2"))

    return build_once(sf_dir, "orders_two_gens", ("orders",), "gens:v1", write)


@REGISTRY.add(
    "schema_evolution_report",
    """
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'legacy'
                WHEN o_orderkey % 3 = 0 THEN 'web'
                WHEN o_orderkey % 3 = 1 THEN 'store'
                ELSE 'phone' END AS channel,
           CAST(COUNT(*) AS BIGINT) AS orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(MIN(o_orderdate) AS DATE) AS first_order,
           CAST(MAX(o_orderdate) AS DATE) AS last_order
    FROM orders
    GROUP BY 1
    """,
    doc="Schema-evolution scan: orders materialized as two artifact "
    "generations (gen1 = even orderkeys WITHOUT o_channel, gen2 = odd "
    "orderkeys WITH it, channel derived from the orderkey), read back "
    "in ONE mergeSchema scan — Parquet schema merge null-fills the "
    "missing column per old-generation file — and aggregated per "
    "channel with the legacy lane coalesced from the null fill. The "
    "oracle recomputes the report from the BASE orders view via the "
    "same orderkey rules, so equality pins the merged read's "
    "semantics: no rows lost, nulls exactly on the old generation, "
    "columns aligned across files. mergeSchema's cost is footer "
    "reconciliation (file-count bounded), not data — schema drift "
    "handled at read time with zero rewrite, the only sane contract "
    "at 100 TB. tests/test_evolution.py additionally pins that gen1 "
    "REALLY lacks the column on disk (read alone: no o_channel) and "
    "that the null-fill count equals gen1's row count.",
    tags=("scan", "schema-evolution", "agg", "lake"),
)
def schema_evolution_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = orders_two_generations(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "gen1"), os.path.join(path, "gen2")
    )
    return (
        merged.select(
            F.coalesce(F.col("o_channel"), F.lit("legacy")).alias("channel"),
            cents_of(F.col("o_totalprice"), 2).alias("cents"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("orders"),
            F.sum("cents").alias("revenue_cents"),
            F.min("d").alias("first_order"),
            F.max("d").alias("last_order"),
        )
    )
