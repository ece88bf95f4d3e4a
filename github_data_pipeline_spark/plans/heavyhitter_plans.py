"""Registry exposure for exact distributed heavy hitters
(operators/heavyhitters.py): Misra-Gries candidate cut + exact
recount, proved against the plain GROUP BY oracle.

The registry's other top-k entries cover sort-based
(top_customers_by_revenue), window-based (salted_group_topk) and
skew-salted shapes; this is the remaining canonical one — top by
FREQUENCY over a stream whose full aggregation would shuffle the
entire corpus. The oracle runs that full aggregation (fine at test SF,
the thing being avoided at 100 TB); cell-equality proves the two-pass
candidate algorithm returns EXACTLY the true heavy hitters under the
same tokenizer, i.e. the candidate cut is physical, never semantic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators.heavyhitters import misra_gries_candidates
from ..operators.hints import broadcast_if_bounded
from ..sources.tables import load_table, spread
from .core import REGISTRY

#: Misra-Gries counters per partition; the exact-output threshold is
#: tied to it: heavy = global count strictly above N/(HH_K+1) (1% of
#: the token stream at HH_K=99). The guarantee needs the SAME k in the
#: candidate pass and the threshold, so they share the constant.
HH_K = 99


@REGISTRY.add(
    "token_heavy_hitters",
    f"""
    WITH tok AS (
      SELECT UNNEST({T.tokens_sql("lower(text)")}) AS token FROM documents
    ), total AS (
      SELECT COUNT(*) AS n FROM tok
    )
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST((SELECT n FROM total) AS BIGINT) AS n_tokens
    FROM tok
    GROUP BY token
    HAVING COUNT(*) * {HH_K + 1} > (SELECT n FROM total)
    ORDER BY cnt DESC, token ASC
    """,
    doc=f"Exact heavy-hitter tokens (global count strictly above "
    f"N/{HH_K + 1}) by the two-pass candidate algorithm: pass 1 folds "
    f"each partition's token stream through a {HH_K}-counter "
    "Misra-Gries summary (Arrow-batched mapInPandas — pandas "
    "value_counts per batch + an O(k log k) shrink; NOTHING shuffles, "
    "each task emits <= k candidates plus a processed-count sentinel "
    "that makes N free); pass 2 exactly recounts ONLY the candidate "
    "set via a count-gated broadcast semi-join on the re-scanned "
    "stream and applies the threshold. The MG bound guarantees every "
    "true heavy hitter is a candidate; exact recounting discards the "
    "false ones, so the OUTPUT is partitioning-independent even "
    "though the candidate set is not (pinned by a unit test). The "
    "oracle runs the full GROUP BY the candidate cut avoids: at "
    "10^13 tokens that full-stream shuffle is the cost this operator "
    "deletes — the exchange is bounded by k x partitions instead of "
    "the corpus.",
    tags=("text", "topk", "heavy-hitters", "two-pass"),
)
def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("text"))
    toks = docs.select(
        F.explode(T.tokens(F.lower(F.col("text")))).alias("token")
    )
    summary = misra_gries_candidates(toks, HH_K).localCheckpoint()
    n_tokens = (
        summary.filter(F.col("token").isNull())
        .agg(F.sum("cnt"))
        .collect()[0][0]
    )
    cands = summary.filter(F.col("token").isNotNull()).select("token").distinct()
    # candidate cardinality is exactly known (<= HH_K x partitions, and
    # the summary is already materialized) — gate the broadcast on it
    cands = broadcast_if_bounded(cands, summary.count())
    return (
        toks.join(cands, "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") * (HH_K + 1) > F.lit(int(n_tokens)))
        .select("token", "cnt", F.lit(int(n_tokens)).cast("long").alias("n_tokens"))
        .orderBy(F.desc("cnt"), F.asc("token"))
    )
