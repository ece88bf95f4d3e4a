"""Registry entry: α-temperature mixture weights for source sampling.

Multilingual / multi-source training runs don't sample sources
proportionally — they flatten the distribution with temperature
sampling, ``p_i ∝ n_i^α`` (XLM-R, Conneau et al. 2020, α=0.3–0.7;
mT5's language sampling is the same scheme).  This query computes the
α = 1/2 mixing table per document source: token mass, the α-weight,
and the per-source token allocation under a fixed sampling budget.

Engine-exactness is the design problem: ``n^α`` is irrational, and a
shuffled double-SUM is the repo's banned hash hazard.  α = 1/2 makes
it exact-able: IEEE ``sqrt`` is correctly rounded (bit-identical in
Spark and DuckDB), and the ONLY float steps are
``floor(sqrt(n) * 10^6)`` per source — same double ops, same bits,
floored straight back into BIGINT.  Everything after is integer
arithmetic: the normalizing total is a SUM of BIGINTs
(order-independent, unlike a float total), weights are
parts-per-million via int64 floor division, and the budget allocation
is ``budget * s_i div total``.  Every output column is integral.

Scale shape: one map-side-partial groupBy(source) over the corpus —
the shuffle carries (source, count) partials only — then a 1-row
scalar-aggregate broadcast attach (the whitelisted plan-audit shape)
and per-source integer expressions. |sources| is bounded, the corpus
is scanned once, text never shuffles.

Int64 bound: ``sqrt_scaled ≈ sqrt(n) * 1e6``, so the largest product
``sqrt_scaled * PPM`` stays under 2^63 for any per-source token mass
up to ~8×10^13 — comfortably past a 100 TB corpus (~2.5×10^13 tokens
total); raise a source past that and SQRT_SCALE must shrink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..sources.tables import load_table, spread
from .core import REGISTRY

SQRT_SCALE = 1_000_000  # fixed-point scale for floor(sqrt(n) * SCALE)
PPM = 1_000_000  # weights reported in parts-per-million
SAMPLE_BUDGET = 1_000_000  # tokens to allocate across sources


_ORACLE = f"""
WITH per_source AS (
  SELECT source,
         CAST(SUM(len({T.tokens_sql()})) AS BIGINT) AS tokens
  FROM documents GROUP BY source
), scaled AS (
  SELECT source, tokens,
         CAST(FLOOR(SQRT(CAST(tokens AS DOUBLE)) * {SQRT_SCALE}) AS BIGINT)
           AS sqrt_scaled
  FROM per_source
), tot AS (
  SELECT CAST(SUM(sqrt_scaled) AS BIGINT) AS total_scaled FROM scaled
)
SELECT source, tokens,
       sqrt_scaled * {PPM} // total_scaled AS alpha_weight_ppm,
       CAST({SAMPLE_BUDGET} AS BIGINT) * sqrt_scaled // total_scaled
         AS sample_tokens
FROM scaled, tot
"""


@REGISTRY.add(
    "mixture_alpha_sampling",
    _ORACLE,
    doc="Temperature-sampling mixture table (XLM-R/mT5 α-sampling, "
    "α=1/2): per-source token mass flattened with p_i ∝ sqrt(n_i), "
    "reported as parts-per-million weights plus the token allocation "
    "under a 1M-token budget. The only float ops are IEEE sqrt (correctly "
    "rounded, bit-identical across engines) and one multiply, floored "
    "immediately back to BIGINT; the normalizing total is an "
    "order-independent integer SUM and every division is int64 floor "
    "division — all output columns integral, zero float-hash surface. "
    "One map-side-partial groupBy(source) + the whitelisted 1-row "
    "scalar broadcast attach.",
    tags=("curation", "sampling", "mixture"),
)
def mixture_alpha_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("source", "text"))
    per_source = d.select(
        "source", F.size(T.tokens("text")).alias("n")
    ).groupBy("source").agg(F.sum("n").alias("tokens"))
    scaled = per_source.select(
        "source",
        "tokens",
        F.floor(F.sqrt(F.col("tokens").cast("double")) * SQRT_SCALE)
        .cast("long")
        .alias("sqrt_scaled"),
    )
    tot = scaled.agg(F.sum("sqrt_scaled").alias("total_scaled"))
    return scaled.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.expr(f"sqrt_scaled * {PPM} div total_scaled").alias(
            "alpha_weight_ppm"
        ),
        F.expr(f"CAST({SAMPLE_BUDGET} AS BIGINT) * sqrt_scaled div total_scaled").alias(
            "sample_tokens"
        ),
    )
