"""Text-analysis queries over the ``documents`` table (SURVEY.md §7.9:
language-ID, quality scoring, token counting, document fingerprinting).

Everything is built-in-function Catalyst expressions (functions/text.py)
— zero Python in the hot path — and every query has an exact DuckDB
oracle: the same token pipeline re-expressed with list lambdas. Token
hashes are engine-neutral arithmetic (length/ascii polynomials or
md5-hex prefixes) rather than engine hash builtins, precisely so the
oracle can reproduce them.

Scale: per-document expressions are embarrassingly parallel (no
shuffle); the only shuffles are the final small aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.hashing import md5_h32_sql
from ..sources.tables import load_table, spread
from .core import REGISTRY

_H32_DOC = md5_h32_sql("doc_id")

_add = REGISTRY.add

# DuckDB fragments shared by the oracles ----------------------------------

_POLY = (
    "list_transform({toks}, t -> "
    "(length(t)*961 + ascii(substr(t,1,1))*31 + ascii(substr(t,-1,1)))::BIGINT)"
)


# --------------------------------------------------------------------------


@_add(
    "doc_token_profile",
    f"""
    SELECT
      doc_id,
      CAST(len(toks) AS BIGINT) AS token_cnt,
      CAST(len(list_distinct(toks)) AS BIGINT) AS uniq_tokens,
      CAST(COALESCE(list_sum(list_transform(toks, t -> length(t))), 0) AS BIGINT)
        AS token_chars,
      CAST(list_reduce(list_prepend(0, {_POLY.format(toks='toks')}),
                       (a, b) -> (a*31 + b) % 1000003) AS BIGINT)
        AS fingerprint
    FROM (SELECT doc_id, {T.tokens_sql()} AS toks FROM documents)
    """,
    doc="Per-document token statistics and identity in one narrow "
    "map-only pass: whitespace tokenization, distinct count, character "
    "totals, plus the order-sensitive rolling document fingerprint "
    "(Karp-Rabin fold, functions/text.py). The polynomial token hash "
    "is plain arithmetic so DuckDB folds to the identical value; "
    "production would swap in xxhash64 (fingerprint64) with no plan "
    "change. Reads (doc_id, text), no shuffle, scales linearly.",
    tags=("text", "fingerprint"),
)
def doc_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = F.col("toks")
    return d.select("doc_id", T.tokens("text").alias("toks")).select(
        "doc_id",
        F.size(toks).cast("long").alias("token_cnt"),
        F.size(F.array_distinct(toks)).cast("long").alias("uniq_tokens"),
        T.char_count(toks).cast("long").alias("token_chars"),
        T.fingerprint_rolling(toks).alias("fingerprint"),
    )


_MARKER_SCORE_COLS = ",\n      ".join(
    f"{T.stopword_hits_sql('toks', markers)} AS score_{lang}"
    for lang, markers in sorted(T.LANG_MARKERS.items())
)


@_add(
    "lang_id_confusion",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
      {_MARKER_SCORE_COLS}
      FROM (SELECT doc_id, lang, {T.tokens_sql()} AS toks FROM documents)
    ), ranked AS (
      SELECT doc_id, lang, s.cand AS predicted,
        ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY s.score DESC, s.cand ASC
        ) AS rn
      FROM scored, UNNEST([{", ".join(f"{{'cand': '{lang}', 'score': score_{lang}}}" for lang in sorted(T.LANG_MARKERS))}]) AS u(s)
    )
    SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS docs
    FROM ranked WHERE rn = 1
    GROUP BY lang, predicted
    """,
    doc="Language-ID confusion matrix: marker-word argmax (ties break "
    "lexicographically) vs the labeled lang. The Spark side is one "
    "array_max over (score, -rank, lang) structs (functions/text.py "
    "lang_id); the oracle re-ranks per-language scores with "
    "ROW_NUMBER, independently of that tie-break.",
    tags=("text", "langid"),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", "lang", T.tokens("text").alias("toks"))
        .select("doc_id", "lang", T.lang_id(F.col("toks")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("docs"))
    )


@_add(
    "doc_quality_by_source",
    f"""
    WITH q AS (
      SELECT
        source,
        len(toks) AS token_cnt,
        {T.stopword_hits_sql("toks")} AS stop_hits,
        list_sum(list_transform(toks, t -> length(t))) AS token_chars,
        len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_cnt,
        length(text) AS chars
      FROM (SELECT source, text, {T.tokens_sql()} AS toks FROM documents)
    )
    SELECT
      source,
      CAST(COUNT(*) AS BIGINT) AS docs,
      CAST(SUM(token_cnt) AS BIGINT) AS tokens,
      CAST(SUM(stop_hits) AS BIGINT) AS stopword_hits,
      CAST(SUM(CASE WHEN token_cnt BETWEEN 20 AND 400
                     AND stop_hits * 10 >= token_cnt THEN 1 ELSE 0 END) AS BIGINT)
        AS quality_docs,
      CAST(SUM(token_chars) AS DOUBLE) / SUM(token_cnt) AS avg_token_len,
      CAST(SUM(bpe_cnt) AS BIGINT) AS subword_tokens,
      CAST(SUM(chars) AS BIGINT) AS chars,
      CAST(SUM(bpe_cnt) AS DOUBLE) / SUM(chars) AS tokens_per_char
    FROM q GROUP BY source
    """,
    doc="Quality scoring and token budgeting rolled up by source: "
    "length-window and stopword-ratio gates (ratio test kept in exact "
    "integer form: hits*10 >= tokens instead of hits/tokens >= 0.1), "
    "plus token counting with a BPE-ish pretokenizer regex (letter "
    "runs | digit runs | single punctuation — the GPT-2-style split "
    "shape) next to plain whitespace counts: the budget estimator a "
    "training pipeline runs before the real tokenizer. Map-side "
    "expressions (pure regexp_extract_all, stays in codegen) + one "
    "small aggregation.",
    tags=("text", "quality", "tokens"),
)
def doc_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = F.col("toks")
    bpe = F.size(
        F.regexp_extract_all(
            F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)
        )
    )
    scored = d.select("source", "text", T.tokens("text").alias("toks")).select(
        "source",
        F.size(toks).alias("token_cnt"),
        T.stopword_hits(toks).alias("stop_hits"),
        T.char_count(toks).alias("token_chars"),
        bpe.alias("bpe_cnt"),
        F.length("text").alias("chars"),
    )
    is_quality = (
        F.col("token_cnt").between(20, 400)
        & (F.col("stop_hits") * 10 >= F.col("token_cnt"))
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("token_cnt").alias("tokens"),
            F.sum("stop_hits").alias("stopword_hits"),
            F.sum(is_quality.cast("int")).alias("quality_docs"),
            (
                F.sum("token_chars").cast("double") / F.sum("token_cnt")
            ).alias("avg_token_len"),
            F.sum("bpe_cnt").alias("subword_tokens"),
            F.sum("chars").alias("chars"),
            (F.sum("bpe_cnt").cast("double") / F.sum("chars")).alias(
                "tokens_per_char"
            ),
        )
    )


@_add(
    "doc_sampling_gates",
    f"""
    WITH sample AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS sampled_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
      FROM documents
      WHERE {_H32_DOC} % 10 = 0
      GROUP BY source
    ), decile AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS decile_docs,
             CAST(MIN(token_cnt) AS BIGINT) AS decile_token_floor
      FROM (
        SELECT source, len(toks) AS token_cnt,
               NTILE(10) OVER (
                 PARTITION BY source ORDER BY len(toks) DESC, doc_id ASC
               ) AS decile
        FROM (SELECT source, doc_id, {T.tokens_sql()} AS toks FROM documents)
      ) WHERE decile = 1
      GROUP BY source
    )
    SELECT s.source, s.sampled_docs, s.sampled_chars,
           d.decile_docs, d.decile_token_floor
    FROM sample s JOIN decile d ON s.source = d.source
    """,
    doc="The two deterministic curation gates a training pipeline "
    "applies, rolled up per source. (1) ~10%% eval-split sample via "
    "content-hash bucketing (hash(doc_id) %% 10) — reproducible "
    "across runs, engines and cluster sizes, unlike rand()-based "
    "sampling; pushdown-friendly map-side filter. (2) Quality gate by "
    "distributional position: the per-source top decile of token "
    "counts via NTILE with a full deterministic ordering — the "
    "percentile-threshold filter shape (keep longest 10%% of docs per "
    "domain), reported as the surviving doc count and the token floor "
    "the gate implies.",
    tags=("text", "sampling", "quantile"),
)
def doc_sampling_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spread(load_table(spark, sf_dir, "documents"))
    from ..functions.hashing import md5_h32

    bucket = md5_h32(F.col("doc_id")) % 10
    sample = (
        d.filter(bucket == 0)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("sampled_docs"),
            F.sum("n_chars").alias("sampled_chars"),
        )
    )
    token_cnt = F.size(T.tokens("text"))
    w = Window.partitionBy("source").orderBy(
        token_cnt.desc(), F.col("doc_id").asc()
    )
    decile = (
        d.select(
            "source",
            token_cnt.alias("token_cnt"),
            F.ntile(10).over(w).alias("decile"),
        )
        .filter(F.col("decile") == 1)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("decile_docs"),
            F.min("token_cnt").cast("long").alias("decile_token_floor"),
        )
    )
    return sample.join(decile, "source")
