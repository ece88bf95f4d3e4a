"""Registry entry: Gopher-style intra-document repetition gates.

Rae et al.'s Gopher data pipeline (arXiv:2112.11446, Table A1) filters
documents by repetition statistics — fraction of the text occupied by
the most frequent word / n-gram and by duplicated n-grams.  The
curation module already applies a map-side single-gram gate
(``curation.repetition_pred`` over
``functions/text.max_ngram_repetition``); this query is the
oracle-checked, multi-gate REPORT form a pipeline runs to calibrate
those thresholds, and it uses the distributed plan shape that also
covers corpora whose single documents are too large for per-row array
folds.

Per document, over raw whitespace tokens: top-word occupancy, top-
bigram occupancy, and duplicate-trigram fraction; three Gopher-style
gates evaluated in exact integer arithmetic (``top*100 <= thr*total``
— no float ever enters a predicate), rolled up per source as pure
BIGINT counts.

Scale shape (100 TB): the documents are hash-repartitioned by doc_id
(one corpus-bytes exchange), after which BOTH heavy aggregations —
per (doc, k, gram) then per doc — are exchange-free: doc_id leads
every grouping key, so the partitioning satisfies their clustered
distributions and the ~3x-token-count gram stream never shuffles (nor
needs hashing — grams group by exact text on both engines). Only the
tiny per-source rollup exchanges after that. Hot grams cannot skew a
partition because work is partitioned by document, never by gram.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..sources.tables import load_table
from .core import REGISTRY

# Gate thresholds: top word <= 20% of word occurrences, top bigram
# <= 10% of bigrams, duplicate trigrams <= 5% of trigram occurrences.
# Gopher's published char-fraction thresholds sit near 0.20/0.18/0.15;
# these word-count analogs are calibrated against the synthetic corpus
# (top-word p99 = 0.21, top-bigram p99 = 0.11, dup-trigram p99 = 0.018
# at sf0.01) so every gate rejects a real tail — a threshold no
# document can fail verifies nothing.
TOP_WORD_PCT = 20
TOP_BIGRAM_PCT = 10
DUP_TRIGRAM_PCT = 5

_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, {T.tokens_sql()} AS w FROM documents
), grams AS (
  SELECT doc_id, source, 1 AS k, unnest(w) AS g FROM toks
  UNION ALL
  SELECT doc_id, source, 2, unnest({T.word_ngrams_sql("w", 2)}) FROM toks
  UNION ALL
  SELECT doc_id, source, 3, unnest({T.word_ngrams_sql("w", 3)}) FROM toks
), gc AS (
  SELECT doc_id, source, k, g, COUNT(*) AS c
  FROM grams GROUP BY 1, 2, 3, 4
), per_doc AS (
  SELECT doc_id, source,
         SUM(CASE WHEN k = 1 THEN c ELSE 0 END) AS w_total,
         COALESCE(MAX(CASE WHEN k = 1 THEN c END), 0) AS w_top,
         SUM(CASE WHEN k = 2 THEN c ELSE 0 END) AS b_total,
         COALESCE(MAX(CASE WHEN k = 2 THEN c END), 0) AS b_top,
         SUM(CASE WHEN k = 3 THEN c ELSE 0 END) AS t_total,
         SUM(CASE WHEN k = 3 THEN 1 ELSE 0 END) AS t_distinct
  FROM gc GROUP BY 1, 2
), gated AS (
  SELECT source,
         CASE WHEN w_top * 100 <= {TOP_WORD_PCT} * w_total
              THEN 1 ELSE 0 END AS g_word,
         CASE WHEN b_total = 0 OR b_top * 100 <= {TOP_BIGRAM_PCT} * b_total
              THEN 1 ELSE 0 END AS g_bigram,
         CASE WHEN t_total = 0
                OR (t_total - t_distinct) * 100 <= {DUP_TRIGRAM_PCT} * t_total
              THEN 1 ELSE 0 END AS g_trigram,
         w_total, w_top
  FROM per_doc
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS docs,
       CAST(SUM(g_word) AS BIGINT) AS pass_top_word,
       CAST(SUM(g_bigram) AS BIGINT) AS pass_top_bigram,
       CAST(SUM(g_trigram) AS BIGINT) AS pass_dup_trigram,
       CAST(SUM(g_word * g_bigram * g_trigram) AS BIGINT) AS pass_all,
       CAST(SUM(w_total) AS BIGINT) AS words,
       CAST(SUM(w_top) AS BIGINT) AS top_word_hits
FROM gated GROUP BY source
"""


@REGISTRY.add(
    "doc_repetition_gates",
    _ORACLE,
    doc="Gopher-style repetition filter report (Rae et al. 2021, "
    "Table A1 analogs over words): per-document top-word occupancy, "
    "top-bigram occupancy, and duplicate-trigram fraction, gated in "
    "exact integer arithmetic and rolled up per source as BIGINT "
    "pass counts. Documents are hash-repartitioned by doc_id once, "
    "making both heavy aggregations exchange-free (doc_id leads every "
    "grouping key) — the gram stream never shuffles and a corpus-hot "
    "phrase cannot skew a partition (work is partitioned by document, "
    "never by gram). Complements curation.repetition_pred (the map-side "
    "array-fold gate): same family, the distributed shape for "
    "documents too large to fold per-row.",
    tags=("text", "quality", "repetition"),
)
def doc_repetition_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Repartition the DOCUMENTS by doc_id (one corpus-bytes exchange)
    # instead of letting the exploded gram rows shuffle: a hash
    # partitioning on doc_id satisfies the clustered distribution of
    # BOTH downstream groupBys (doc_id leads each key set), so
    # Catalyst plans them exchange-free — the ~3x-token-count gram
    # stream (≈15x the corpus bytes as shuffle rows) never crosses the
    # wire, and the gram text can be grouped directly with no hash
    # function at all. The partition count is EXPLICIT: with a bare
    # repartition("doc_id") AQE sees a tiny shuffle and coalesces it
    # to one partition, serializing the heavy per-gram compute on a
    # single core (the input bytes are small; the work per byte is
    # not).
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).repartition(spark.sparkContext.defaultParallelism, "doc_id")
    # every token position opens one window carrying its 1-, 2- and
    # 3-gram; the two trailing windows run past the end, so their
    # longer grams are NULL and drop out
    w = T.token_windows(
        d, T.tokens("text"), 3, "doc_id", "source", pad=(0, 2)
    )
    grams = w.select(
        "doc_id",
        "source",
        F.inline(
            F.array(
                *[
                    F.struct(F.lit(k).alias("k"), T.window_gram(k).alias("g"))
                    for k in (1, 2, 3)
                ]
            )
        ),
    ).where(F.col("g").isNotNull())
    return _gates_report(grams)


def _gates_report(exploded: DataFrame) -> DataFrame:
    gc = exploded.groupBy("doc_id", "source", "k", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    k1 = F.col("k") == 1
    k2 = F.col("k") == 2
    k3 = F.col("k") == 3
    per_doc = gc.groupBy("doc_id", "source").agg(
        F.sum(F.when(k1, F.col("c")).otherwise(F.lit(0))).alias("w_total"),
        F.coalesce(F.max(F.when(k1, F.col("c"))), F.lit(0)).alias("w_top"),
        F.sum(F.when(k2, F.col("c")).otherwise(F.lit(0))).alias("b_total"),
        F.coalesce(F.max(F.when(k2, F.col("c"))), F.lit(0)).alias("b_top"),
        F.sum(F.when(k3, F.col("c")).otherwise(F.lit(0))).alias("t_total"),
        F.sum(F.when(k3, F.lit(1)).otherwise(F.lit(0))).alias("t_distinct"),
    )
    g_word = (F.col("w_top") * 100 <= TOP_WORD_PCT * F.col("w_total")).cast(
        "int"
    )
    g_bigram = (
        (F.col("b_total") == 0)
        | (F.col("b_top") * 100 <= TOP_BIGRAM_PCT * F.col("b_total"))
    ).cast("int")
    g_trigram = (
        (F.col("t_total") == 0)
        | (
            (F.col("t_total") - F.col("t_distinct")) * 100
            <= DUP_TRIGRAM_PCT * F.col("t_total")
        )
    ).cast("int")
    gated = per_doc.select(
        "source",
        g_word.alias("g_word"),
        g_bigram.alias("g_bigram"),
        g_trigram.alias("g_trigram"),
        "w_total",
        "w_top",
    )
    return gated.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("g_word").alias("pass_top_word"),
        F.sum("g_bigram").alias("pass_top_bigram"),
        F.sum("g_trigram").alias("pass_dup_trigram"),
        F.sum(
            F.col("g_word") * F.col("g_bigram") * F.col("g_trigram")
        ).alias("pass_all"),
        F.sum("w_total").alias("words"),
        F.sum("w_top").alias("top_word_hits"),
    )


_GATE_METRICS = (
    "docs",
    "pass_top_word",
    "pass_top_bigram",
    "pass_dup_trigram",
    "pass_all",
    "words",
    "top_word_hits",
)


@REGISTRY.add(
    "doc_gates_unpivot_long",
    f"""
    WITH gates AS ({_ORACLE})
    SELECT source, metric, CAST(value AS BIGINT) AS value
    FROM (UNPIVOT gates ON {", ".join(_GATE_METRICS)}
          INTO NAME metric VALUE value)
    """,
    doc="Wide-to-long reshape (UNPIVOT/melt — the inverse of the "
    "events_type_pivot conditional-aggregation pivot): the per-source "
    "repetition-gate report unpivoted to (source, metric, value) "
    "rows, the shape reporting/metric stores ingest. Spark side uses "
    "the native DataFrame.unpivot (Catalyst Expand node: one "
    "projection per metric over the 20-row aggregate — trivially "
    "cheap because the reshape happens AFTER aggregation; unpivoting "
    "before aggregating would multiply the scan by the metric count, "
    "the classic melt-too-early mistake).",
    tags=("text", "reshape"),
)
def doc_gates_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = doc_repetition_gates(spark, sf_dir)
    return wide.unpivot(
        ["source"], list(_GATE_METRICS), "metric", "value"
    ).select("source", "metric", F.col("value").cast("long").alias("value"))
