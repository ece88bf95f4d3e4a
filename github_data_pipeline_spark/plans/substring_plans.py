"""Registry entry for cross-document substring dedup.

Oracle parity note: the Spark side groups windows by ``xxhash64`` of
the gram purely as a shuffle-width optimization; the oracle groups by
the raw gram string. The outputs are identical unless xxhash64
collides two distinct grams in the same corpus (2^-64-scale at this
cardinality), in which case the checker would catch it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators.substring_dedup import DEFAULT_WINDOW, duplicate_spans
from ..sources.tables import load_table, spread
from .core import REGISTRY

_N = DEFAULT_WINDOW  # 8-token windows

_ORACLE = f"""
    WITH wins AS (
      SELECT doc_id, {T.word_ngrams_sql("t", _N)} AS w
      FROM (SELECT doc_id, {T.tokens_sql()} AS t FROM documents)
    ), grams AS (
      SELECT doc_id, i - 1 AS start, w[i] AS g
      FROM wins, UNNEST(generate_series(1, len(w))) AS u(i)
    ), owners AS (
      SELECT g, MIN(doc_id) AS owner FROM grams GROUP BY g
    ), flagged AS (
      SELECT gr.doc_id, gr.start, gr.start + {_N - 1} AS fin
      FROM grams gr JOIN owners o ON gr.g = o.g AND gr.doc_id <> o.owner
    ), isl AS (
      SELECT doc_id, start, fin,
             CASE WHEN start > COALESCE(MAX(fin) OVER (
                 PARTITION BY doc_id ORDER BY start
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
             THEN 1 ELSE 0 END AS new_island
      FROM flagged
    ), isl2 AS (
      SELECT *, SUM(new_island) OVER (
          PARTITION BY doc_id ORDER BY start
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM isl
    )
    SELECT doc_id,
           CAST(MIN(start) AS BIGINT) AS span_start,
           CAST(MAX(fin) AS BIGINT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS windows
    FROM isl2 GROUP BY doc_id, island
"""


@REGISTRY.add(
    "substring_dup_spans",
    _ORACLE,
    doc="Cross-document exact-substring duplicate spans (fixed-window "
    "suffix-array approximation, Lee et al. 2021): maximal merged "
    f"spans of {_N}-token windows owned by a smaller-id document. "
    "Operator: operators/substring_dedup.duplicate_spans — positional "
    "ngram hashes, one (hash, doc, start) shuffle, islands span merge.",
    tags=("dedup", "substring", "text"),
)
def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    spans = duplicate_spans(docs, _N)
    return spans.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("windows").cast("long").alias("windows"),
    )
