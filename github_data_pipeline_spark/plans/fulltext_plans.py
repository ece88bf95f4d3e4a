"""Registry entries for BM25 ranked search + positional phrase match.

Covers the reference's Elasticsearch ``match`` / ``match_phrase``
query surface (reference ``src/indexing/schema.py:13-20`` declares
``text_en``: a *standard* analyzer with English stopwords; ES ranks
matches with Lucene BM25) — the SURVEY §1.2 residual VERDICT r01
flagged ("no stemming/token-position semantics").

Three analyzer modes, three registry entries:

* ``doc_fulltext_search``   — ``light_en`` (historical default: small
  first-match suffix stemmer), with the phrase flag;
* ``doc_fulltext_standard`` — ``standard``: the FAITHFUL twin of the
  analyzer the reference's schema actually declares (stopwords, no
  stemming) — registered in ``fulltext_analyzer_plans``;
* ``doc_fulltext_porter``   — classic 1980 Porter stemmer, the
  enhanced-recall analyzer (``functions/porter.py``) — registered in
  ``fulltext_analyzer_plans``.

Oracle parity notes: the DuckDB SQL mirrors the Spark expression tree
shape (same association order, casts, and Lucene idf form) so both
engines produce bit-identical doubles before the shared ROUND(,4);
ordering and the top-k boundary are deterministic because both sides
rank by the ROUNDED score with doc_id as tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.fulltext import DEFAULT_MODE, analyze_sql
from ..functions.text import word_ngrams_sql
from ..operators.fulltext import K1, B, bm25_scan_topk, query_terms
from ..sources.tables import load_table, spread
from .core import REGISTRY

QUERY = "spark joins streaming tables"
PHRASE = "join stream"
TOP_K = 15


def _tf_sql(i: int, term: str) -> str:
    return f"len(list_filter(toks, t -> t = '{term}')) AS tf_{i}"


def _contrib_sql(i: int) -> str:
    # Mirrors operators/fulltext._bm25_sum association order exactly:
    # idf * tf * (k1+1) / (tf + k1 * ((1-b) + b*dl/avgdl))
    idf = (
        f"ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{i} AS DOUBLE) + 0.5))"
    )
    norm = (
        f"{1.0 - B} + {B} * CAST(dl AS DOUBLE)"
        f" / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    )
    return (
        f"{idf} * CAST(tf_{i} AS DOUBLE) * {K1 + 1.0}"
        f" / (CAST(tf_{i} AS DOUBLE) + {K1} * ({norm}))"
    )


def bm25_oracle(
    query: str,
    *,
    phrase: str | None = None,
    top_k: int = TOP_K,
    mode: str = DEFAULT_MODE,
    table_sql: str = "documents",
) -> str:
    """DuckDB oracle SQL for ``bm25_scan_topk`` with the same args.

    ``table_sql`` swaps the corpus relation (e.g. a subquery
    restricting to embedded docs — the hybrid-retrieval entry); BM25
    stats (N, df, Σdl) are then computed over that restriction,
    matching a Spark side that filters before scoring."""
    terms = query_terms(query, mode)
    # zero analyzed terms (stopword-only query): emit valid SQL that
    # returns no rows, matching the Spark side's score=0 filter
    score_sql = " + ".join(
        ["0.0", *(_contrib_sql(i) for i in range(len(terms)))]
    )
    matched_sql = " + ".join(
        [
            "CAST(0 AS BIGINT)",
            *(
                f"CAST(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END AS BIGINT)"
                for i in range(len(terms))
            ),
        ]
    )
    per_cols = [
        "len(toks) AS dl",
        *[_tf_sql(i, t) for i, t in enumerate(terms)],
    ]
    out_cols = "doc_id, score, matched_terms"
    if phrase is not None:
        pterms = query_terms(phrase, mode)
        phrase_str = " ".join(pterms)
        pn = len(pterms)
        per_cols.append(
            f"list_contains({word_ngrams_sql('toks', pn)}, '{phrase_str}')"
            " AS phrase_hit"
        )
        out_cols += ", phrase_hit"
    return f"""
WITH base AS (
  SELECT doc_id, {analyze_sql("text", mode)} AS toks FROM {table_sql}
), per AS (
  SELECT doc_id, {", ".join(per_cols)}
  FROM base
), stats AS (
  SELECT {", ".join(["COUNT(*) AS n_docs", "SUM(dl) AS total_dl", *(f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}" for i in range(len(terms)))])}
  FROM per
), scored AS (
  SELECT doc_id,
    ROUND({score_sql}, 4) AS score,
    {matched_sql} AS matched_terms{", phrase_hit" if phrase is not None else ""}
  FROM per, stats
)
SELECT {out_cols}
FROM scored WHERE score > 0
ORDER BY score DESC, doc_id ASC
LIMIT {top_k}
"""


@REGISTRY.add(
    "doc_fulltext_search",
    bm25_oracle(QUERY, phrase=PHRASE),
    doc="BM25 ranked search (Lucene idf, k1=1.2 b=0.75) over the "
    "light_en analyzer (lowercase/tokenize/stopword/light stem — "
    "functions/fulltext.py, one spec rendered for Spark, DuckDB, and "
    "Python) plus a match_phrase flag from adjacent-token n-grams, "
    "all in ONE corpus pass: per-doc term frequencies are map-side "
    "array ops (no explode), corpus stats (N, Σdl, per-term df) are "
    "a single-row aggregate attached by 1-row broadcast, scoring is "
    "pure expression, top-k is TakeOrderedAndProject. The persisted "
    "inverted-index variant (operators/fulltext.bm25_index_topk, "
    "postings bucketed by term) is pinned equal in tests/"
    "test_fulltext.py. Covers the reference's ES match/match_phrase "
    "surface (indexing/schema.py:13-20); the analyzer the reference "
    "schema literally declares (standard + stopwords, no stemming) is "
    "the doc_fulltext_standard entry, and the Porter-stemmed "
    "enhanced-recall variant is doc_fulltext_porter.",
    tags=("text", "fulltext", "bm25"),
)
def doc_fulltext_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return bm25_scan_topk(docs, QUERY, TOP_K, phrase=PHRASE)
