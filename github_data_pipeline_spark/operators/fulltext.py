"""Distributed BM25 ranked search and positional phrase match.

The reference's interactive text queries run inside Elasticsearch,
whose ``match`` queries score with Lucene BM25 over the ``text_en``
analyzer its schema declares — a standard analyzer with English
stopwords (reference ``src/indexing/schema.py:13-20``, analyzer
wiring; ``src/retrieval/search.py`` issues the match queries).  This
module is the Spark-native equivalent, with two execution paths and a
``mode`` knob selecting the analyzer (``standard`` = faithful
reference twin, ``light_en``, ``porter`` — see
``functions/fulltext.py``):

**Scan path** (:func:`bm25_scan_topk`) — one pass over the corpus:

* per-document term frequencies for the (few) analyzed query terms are
  computed map-side with ``F.filter``/``F.size`` over the analyzed
  token array — no explode, no shuffle for the per-doc work;
* corpus statistics (N, Σdl, per-term document frequencies) come from
  ONE single-row aggregate, attached back with a 1-row broadcast
  nested-loop join (the same whitelisted scalar-attach shape as
  ``orders_profile``);
* scoring is a pure expression; top-k is ``TakeOrderedAndProject``.

At 100 TB this is: one column-pruned scan (``doc_id``, ``text``), a
1-row aggregate, map-side scoring, and a per-partition top-k — no
wide shuffle anywhere.

**Index path** (:func:`build_text_index` / :func:`bm25_index_topk`) —
what a real search deployment does: persist an inverted postings list
``(term, doc_id, tf, dl)`` bucketed by ``term`` plus a 1-row stats
table, then answer queries WITHOUT touching the corpus: filter the
postings on the analyzed query terms (predicate pushdown on the bucket
column), aggregate per-term df from the pruned postings, score, top-k.
Cost is proportional to the posting lists of the query terms, not the
corpus.  ``tests/test_fulltext.py`` pins index == scan results.

BM25 uses Lucene's idf form ``ln(1 + (N - df + 0.5)/(df + 0.5))`` so
scores are non-negative; ``k1=1.2``, ``b=0.75`` defaults.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.fulltext import DEFAULT_MODE, analyze, analyze_py

K1 = 1.2
B = 0.75


def query_terms(query: str, mode: str = DEFAULT_MODE) -> list[str]:
    """Analyzed, de-duplicated query terms (order-stable)."""
    return list(dict.fromkeys(analyze_py(query, mode)))


def doc_terms(
    docs: DataFrame,
    text_col: str = "text",
    mode: str = DEFAULT_MODE,
    guard_terms: list[str] | None = None,
) -> DataFrame:
    """(doc_id, toks) with the analyzed token array.

    ``guard_terms`` opts into the equality-only analyzer contract
    (see :func:`..functions.fulltext.analyze`) — pass the query terms
    when the array is only compared against them, so porter mode
    stems just the prefix-candidate tokens."""
    return docs.select(
        "doc_id", analyze(text_col, mode, guard_terms).alias("toks")
    )


def _per_doc_tfs(
    base: DataFrame,
    terms: list[str],
    phrase_terms: list[str] | None = None,
) -> DataFrame:
    """Map-side per-document dl and tf per query term (no explode)."""
    cols = [F.col("doc_id"), F.size("toks").alias("dl")]

    def _eq(term: str):
        # NB: must stay a 1-arg lambda — F.filter interprets a 2-arg
        # function as (element, index).
        return lambda t: t == F.lit(term)

    for i, term in enumerate(terms):
        cols.append(
            F.size(F.filter(F.col("toks"), _eq(term))).alias(f"tf_{i}")
        )
    if phrase_terms is not None:
        cols.append(phrase_hit(F.col("toks"), phrase_terms).alias("phrase_hit"))
    return base.select(*cols)


def _bm25_sum(
    terms: list[str],
    n_docs: Column,
    total_dl: Column,
    df_of,
    tf_of,
    dl: Column,
    k1: float,
    b: float,
) -> Column:
    avgdl = total_dl.cast("double") / n_docs.cast("double")
    norm = F.lit(1.0 - b) + F.lit(b) * dl.cast("double") / avgdl
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = tf_of(i).cast("double")
        df = df_of(i).cast("double")
        idf = F.log(
            F.lit(1.0)
            + (n_docs.cast("double") - df + F.lit(0.5)) / (df + F.lit(0.5))
        )
        score = score + idf * tf * F.lit(k1 + 1.0) / (tf + F.lit(k1) * norm)
    return score


def bm25_scan_topk(
    docs: DataFrame,
    query: str,
    k: int = 15,
    *,
    text_col: str = "text",
    phrase: str | None = None,
    k1: float = K1,
    b: float = B,
    mode: str = DEFAULT_MODE,
) -> DataFrame:
    """BM25 top-k over the corpus in one scan — no inverted index.

    Returns (doc_id, score, matched_terms), score rounded to 4 decimals
    for cross-engine hash stability, ordered score desc / doc_id asc.
    With ``phrase``, a ``phrase_hit`` flag (ES ``match_phrase``
    semantics) is computed in the SAME per-document pass.  ``mode``
    picks the analyzer (standard / light_en / porter) for both the
    corpus and the query string.
    """
    terms = query_terms(query, mode)
    pterms = query_terms(phrase, mode) if phrase is not None else None
    # the scan only ever compares tokens against the query/phrase terms
    # (tf, df, dl, phrase n-grams), so the analyzer may skip stemming
    # tokens that cannot match them — the porter-mode fast path
    guard = terms + (pterms or [])
    per = _per_doc_tfs(doc_terms(docs, text_col, mode, guard), terms, pterms)
    stats = per.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    joined = per.crossJoin(F.broadcast(stats))
    score = _bm25_sum(
        terms,
        F.col("n_docs"),
        F.col("total_dl"),
        lambda i: F.col(f"df_{i}"),
        lambda i: F.col(f"tf_{i}"),
        F.col("dl"),
        k1,
        b,
    )
    matched = sum(
        ((F.col(f"tf_{i}") > 0).cast("long") for i in range(len(terms))),
        F.lit(0).cast("long"),
    )
    out_cols = [
        F.col("doc_id"),
        F.round(score, 4).alias("score"),
        matched.alias("matched_terms"),
    ]
    if pterms is not None:
        out_cols.append(F.col("phrase_hit"))
    return (
        joined.select(*out_cols)
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def phrase_hit(toks: Column, phrase_terms: list[str]) -> Column:
    """True when the analyzed phrase occurs at consecutive positions.

    Token-position semantics (the residual SURVEY §1.2 dropped): the
    n-gram join of adjacent analyzed tokens must contain the analyzed
    phrase — substring matching over the joined text would false-match
    across token boundaries ("joining stream" vs "join stream").
    """
    n = len(phrase_terms)
    phrase = " ".join(phrase_terms)
    if n == 0:
        return F.lit(False)
    if n == 1:
        return F.array_contains(toks, phrase)
    return F.array_contains(T.word_ngrams(toks, n), F.lit(phrase))


# -- Persisted inverted index ----------------------------------------------


def build_text_index(
    docs: DataFrame,
    table: str,
    *,
    text_col: str = "text",
    buckets: int = 32,
    mode: str = DEFAULT_MODE,
) -> None:
    """Persist postings (term, doc_id, tf, dl) bucketed by term, plus a
    single-row ``{table}_stats`` (n_docs, total_dl).

    Bucketing by ``term`` means a query's posting lookup prunes to the
    buckets of its few terms and the per-term df aggregate needs no
    extra shuffle (bucket files are already term-partitioned).
    """
    base = doc_terms(docs, text_col, mode)
    posts = (
        base.select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    (
        posts.write.mode("overwrite")
        .bucketBy(buckets, "term")
        .sortBy("term")
        .saveAsTable(table)
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(F.size("toks")).alias("total_dl")
    )
    stats.write.mode("overwrite").saveAsTable(f"{table}_stats")


def bm25_index_topk(
    spark: SparkSession,
    table: str,
    query: str,
    k: int = 15,
    *,
    k1: float = K1,
    b: float = B,
    mode: str = DEFAULT_MODE,
) -> DataFrame:
    """Answer a BM25 query from the persisted index — corpus untouched.

    ``mode`` must match the mode the index was built with."""
    terms = query_terms(query, mode)
    posts = spark.table(table).filter(F.col("term").isin(terms))
    stats = spark.table(f"{table}_stats")
    dfs = posts.groupBy("term").agg(
        F.count_distinct("doc_id").alias("term_df")
    )
    # both hints are bounded: dfs has one row per QUERY term (posts is
    # already filtered to the query's handful of terms), stats is 1 row
    scored = posts.join(F.broadcast(dfs), "term").crossJoin(
        F.broadcast(stats)
    )
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs").cast("double")
    norm = F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / avgdl
    tf = F.col("tf").cast("double")
    df_ = F.col("term_df").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - df_ + F.lit(0.5))
        / (df_ + F.lit(0.5))
    )
    contrib = idf * tf * F.lit(k1 + 1.0) / (tf + F.lit(k1) * norm)
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum(contrib), 4).alias("score"),
            F.count(F.lit(1)).alias("matched_terms"),
        )
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
