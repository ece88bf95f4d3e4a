"""Grouped closed-form OLS regression in exact integer staging —
the statistics step between profiling (means, percentiles) and
modeling (classifier inference) that neither family covers.

Use case straight from LLM-data practice: TOKEN-BUDGET CALIBRATION.
A 100-TB byte census (cheap: parquet footers + n_chars columns) can
price a training mix in tokens without running a tokenizer over the
corpus — IF you have per-language linear coefficients tokens ~ a +
b * chars. This entry fits exactly that, per language, by closed-form
least squares:

    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)
    intercept = (Sy - slope*Sx) / n
    r^2 = (n*Sxy - Sx*Sy)^2 / ((n*Sxx - Sx^2) * (n*Syy - Sy^2))

Exactness discipline (the embedding_covariance / lm_bigram_lift
pattern): the five moment sums are integers accumulated in
DECIMAL(38,0) (HUGEINT in the oracle) — per-row products fit BIGINT
(x <= ~1e5 chars, y <= ~2e4 tokens), but at 10^11 docs/group the
SUMS pass 2^63 (Sxy ~ 2e20) and the normal-equation products reach
~1e29, so 128-bit staging is load-bearing, not decorative. Doubles
appear ONLY in the final per-group scalar arithmetic, written as the
IDENTICAL expression tree on both engines over identical integers —
no shuffled float sum ever exists, so the hash matches cell-exact.

Scale shape (100 TB): ONE corpus scan collapses to five
map-side-combinable moment sums per group (the sufficient statistic —
the whole point of closed-form OLS at scale); the shuffle moves
|groups| * 5 numbers. Adding features means adding moment columns
(the X'X entries), same shape — this is literally how Spark MLlib's
own linear regression "normal" solver aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..sources.tables import load_table, spread
from .core import REGISTRY


# the five moment sums, HUGEINT-exact (DuckDB SUM(BIGINT) -> HUGEINT)
_MOMENTS_SQL = """
    WITH b AS (
      SELECT lang, n_chars AS x,
             CAST(len({toks}) AS BIGINT) AS y
      FROM documents
    ), s AS (
      SELECT lang, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
      FROM b GROUP BY lang
    )
""".format(toks=T.tokens_sql())


@REGISTRY.add(
    "lang_token_byte_regression",
    f"""
    {_MOMENTS_SQL}
    SELECT lang, CAST(n AS BIGINT) AS docs,
      CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
        AS tokens_per_char,
      (CAST(sy AS DOUBLE)
         - (CAST(n*sxy - sx*sy AS DOUBLE)
            / CAST(n*sxx - sx*sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        / CAST(n AS DOUBLE) AS intercept_tokens,
      (CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE))
        / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
        AS r2
    FROM s ORDER BY lang
    """,
    doc="Per-language closed-form OLS fit tokens ~ a + b*chars (the "
    "token-budget calibration a byte census needs to price a training "
    "mix without tokenizing 100 TB): one corpus scan collapses to "
    "five integer moment sums per language — the sufficient "
    "statistic, map-side combinable, staged in DECIMAL(38,0)/HUGEINT "
    "because Sxy passes 2^63 at ~1e11 docs and the normal-equation "
    "products reach ~1e29 — then slope/intercept/r2 come from the "
    "identical final scalar expression tree on both engines, so even "
    "the doubles hash cell-exact (no shuffled float sum exists "
    "anywhere). Fixture r2 ~ 0.995: the fit is real, not vacuous.",
    tags=("text", "statistics", "regression", "profiling"),
)
def lang_token_byte_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(
        load_table(spark, sf_dir, "documents").select("lang", "text", "n_chars")
    )
    b = d.select(
        "lang",
        F.col("n_chars").alias("x"),
        F.size(T.tokens("text")).cast("long").alias("y"),
    )
    dec = "decimal(38,0)"
    s = b.groupBy("lang").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
    )
    num = F.expr("CAST(n*sxy - sx*sy AS DOUBLE)")
    den = F.expr("CAST(n*sxx - sx*sx AS DOUBLE)")
    den2 = F.expr("CAST(n*syy - sy*sy AS DOUBLE)")
    slope = num / den
    return s.select(
        "lang",
        F.col("n").cast("long").alias("docs"),
        slope.alias("tokens_per_char"),
        (
            (F.expr("CAST(sy AS DOUBLE)") - slope * F.expr("CAST(sx AS DOUBLE)"))
            / F.expr("CAST(n AS DOUBLE)")
        ).alias("intercept_tokens"),
        ((num * num) / (den * den2)).alias("r2"),
    ).orderBy(F.asc("lang"))
