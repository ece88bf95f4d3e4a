"""Training-data mining operators (round 8): contrastive hard-negative
mining, exact per-stratum sampling quotas, bigram lift (collocation
mining), and the cross-document duplicate n-gram rate.

Four curation-pipeline staples the earlier families don't cover:

* ``hard_negative_mining`` — the contrastive-learning data step: for
  every anchor embedding, the nearest neighbors carrying a DIFFERENT
  label (the "hard negatives" that make a triplet/contrastive batch
  informative). Per-anchor top-k with a label-inequality predicate —
  the ann_topk brute-force discipline (corpus x broadcast anchor set,
  one corpus scan).
* ``stratified_sample_exact`` — EXACT per-stratum quotas (take exactly
  Q docs per source), the mixture-building primitive the rate-based
  ``budget_sample_counts`` can't express: hash-rate gates hit a quota
  only in expectation. Selection order is md5(doc_id) — deterministic,
  seed-free, cluster-stable (the splits/budget discipline) — so the
  sample is reproducible on any engine.
* ``lm_bigram_lift`` — collocation mining by lift (the integer-exact
  sibling of PMI: lift = P(a,b) / (P(a)P(b)); PMI is its log, which is
  float-hostile across engines). High-lift pairs are multiword
  expressions; the statistic is orthogonal to the KN family's
  smoothing view of the same counts.
* ``doc_dup_ngram_rate`` — the RefinedWeb/Gopher-style CROSS-document
  duplicate-gram curation signal: per doc, the share of its distinct
  3-gram shingles that occur in at least one OTHER document.
  Complements ``doc_repetition_gates`` (WITHIN-doc repetition) and the
  pairwise dedup family (this is a per-doc scalar, not a pair list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions import vectors as V
from ..operators.neardup import shingle_sets_sql
from ..sources.tables import load_table, spread
from .core import REGISTRY
from .similarity_plans import _duck_cos

_add = REGISTRY.add

N_ANCHORS = 8  # vec_id < 8 are the anchor vectors (ann-family constant)
NEG_TOP_K = 5
Q_PER_STRATUM = 5
MIN_PAIR = 5  # lift stability floor: pairs seen fewer times are noise
LIFT_SCALE = 1_000_000
TOP_LIFT = 50
TOP_DUP_DOCS = 200


@_add(
    "hard_negative_mining",
    f"""
    SELECT anchor_id, rank, negative_id, neg_label, cosine FROM (
      SELECT q.vec_id AS anchor_id, c.vec_id AS negative_id,
             c.label AS neg_label,
             {_duck_cos('q', 'c')} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_duck_cos('q', 'c')} DESC, c.vec_id ASC
             ) AS rank
      FROM embeddings q JOIN embeddings c ON c.label <> q.label
      WHERE q.vec_id < {N_ANCHORS}
    ) WHERE rank <= {NEG_TOP_K}
    ORDER BY anchor_id ASC, rank ASC
    """,
    doc="Contrastive hard-negative mining: for each anchor vector the "
    f"top-{NEG_TOP_K} most-similar embeddings with a DIFFERENT label "
    "— the informative negatives a triplet/contrastive trainer wants "
    "(a random negative is trivially far; a hard one is near the "
    "decision boundary). One corpus scan against the broadcast "
    "anchor set (the ann_topk brute-force discipline: the non-equi "
    "label predicate rides the bounded broadcast side, never a "
    "corpus x corpus join); cosine is the ordered zip_with/aggregate "
    "fold, bit-identical to DuckDB's in-order list_reduce.",
    tags=("similarity", "mining", "contrastive"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < N_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("avec"),
    )
    cands = e.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("neg_label"),
        "embedding",
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), F.asc("negative_id")
    )
    return (
        cands.join(
            F.broadcast(anchors),
            F.col("neg_label") != F.col("anchor_label"),
        )
        .select(
            "anchor_id",
            "negative_id",
            "neg_label",
            V.cosine("avec", "embedding").alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= NEG_TOP_K)
        .select("anchor_id", "rank", "negative_id", "neg_label", "cosine")
        .orderBy(F.asc("anchor_id"), F.asc("rank"))
    )


@_add(
    "stratified_sample_exact",
    f"""
    SELECT source, doc_id, CAST(pick_rank AS BIGINT) AS pick_rank FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
             ) AS pick_rank
      FROM documents
    ) WHERE pick_rank <= {Q_PER_STRATUM}
    ORDER BY source ASC, pick_rank ASC
    """,
    doc=f"Exact stratified sampling: exactly {Q_PER_STRATUM} documents "
    "per source, selected by md5(doc_id) order — deterministic, "
    "seed-free, and engine/cluster-stable (the splits/budget md5 "
    "discipline; rand() would be neither reproducible nor "
    "oracle-checkable). This is the exact-quota primitive that "
    "rate-based hash sampling (budget_sample_counts) cannot express: "
    "a rate hits its quota only in expectation. One shuffle on the "
    "stratum key; the per-group sort is bounded by the largest "
    "stratum — for heavy strata at 100 TB, pre-filtering on a "
    "conservative md5-bucket rate bound (keep ~2Q candidates) before "
    "the exact rank cuts the sort to a sliver without changing the "
    "selected set.",
    tags=("curation", "sampling", "mining"),
)
def stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("source", "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= Q_PER_STRATUM)
        .select("source", "doc_id", F.col("pick_rank").cast("long").alias("pick_rank"))
        .orderBy(F.asc("source"), F.asc("pick_rank"))
    )


@_add(
    "lm_bigram_lift",
    f"""
    WITH toks AS (
      SELECT {T.tokens_sql("lower(text)")} AS w FROM documents
    ), uni AS (
      SELECT t, COUNT(*) AS cu FROM (
        SELECT w[i] AS t FROM toks, UNNEST(generate_series(1, len(w))) AS x(i)
      ) GROUP BY 1
    ), bi AS (
      SELECT a, b, COUNT(*) AS cab FROM (
        SELECT w[i] AS a, w[i+1] AS b
        FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS x(i)
      ) GROUP BY 1, 2
    ), nu AS (
      SELECT CAST(SUM(cu) AS BIGINT) AS n_uni FROM uni
    ), nb AS (
      SELECT CAST(SUM(cab) AS BIGINT) AS n_bi FROM bi
    )
    SELECT a AS left_tok, b AS right_tok,
           CAST(cab AS BIGINT) AS pair_count,
           CAST((((CAST(cab AS HUGEINT) * n_uni * {LIFT_SCALE})
                   // (CAST(ua.cu AS HUGEINT) * ub.cu))
                 * n_uni) // n_bi AS BIGINT) AS lift_e6
    FROM bi
    JOIN uni ua ON ua.t = a
    JOIN uni ub ON ub.t = b, nu, nb
    WHERE cab >= {MIN_PAIR}
    ORDER BY lift_e6 DESC, a ASC, b ASC
    LIMIT {TOP_LIFT}
    """,
    doc="Collocation mining by LIFT — P(a,b) / (P(a)P(b)) as a "
    f"scale-{LIFT_SCALE} integer via the staged truncating divisions "
    "both engines share (PMI is lift's log: float-hostile, so the "
    "monotone-equivalent integer statistic ships instead). High-lift "
    "pairs under a count floor are multiword expressions. ONE corpus "
    "scan: the unigram table derives from the bigram stream plus a "
    "per-doc NULL-right edge term (every token is exactly one 'left' "
    "occurrence), the lm_kn_trigram_probs trick one level down; "
    "unigram lookups are vocab-keyed joins (no forced broadcast), "
    "instance totals are 1-row attaches.",
    tags=("text", "lm", "mining", "collocation"),
)
def lm_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("text"))
    # the bigram stream padded one token off the back: every token is
    # exactly one window's a, and the last window of each document is
    # the edge row (b = NULL) the unigram table needs
    combined = (
        T.token_windows(d, T.tokens(F.lower("text")), 2, pad=(0, 1))
        .select(F.col("w0").alias("a"), F.col("w1").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cab"))
        # vocab-sized; checkpoint pins the single corpus scan for the
        # three derived tables (uni, bi, totals)
        .localCheckpoint()
    )
    uni = combined.groupBy("a").agg(F.sum("cab").cast("long").alias("cu"))
    bi = combined.filter(F.col("b").isNotNull())
    nu = uni.agg(F.sum("cu").cast("long").alias("n_uni"))
    nb = bi.agg(F.sum("cab").cast("long").alias("n_bi"))
    ua = uni.select(F.col("a"), F.col("cu").alias("cu_a"))
    ub = uni.select(F.col("a").alias("b"), F.col("cu").alias("cu_b"))
    # unigram tables are vocab-sized (sub-linear but unbounded): keyed
    # shuffle joins, no forced broadcast — the lm-family judgment
    return (
        bi.filter(F.col("cab") >= MIN_PAIR)
        .join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(nu))  # 1-row instance totals
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("a").alias("left_tok"),
            F.col("b").alias("right_tok"),
            F.col("cab").alias("pair_count"),
            # 128-bit staging (DECIMAL(38,0) here, HUGEINT in the
            # oracle) with the SAME two floor points as the all-BIGINT
            # form it replaces: cab*n_uni*SCALE reaches ~6e32 at the
            # 100-TB point (~2.5e13 tokens) and cu_a*cu_b ~6e26 — both
            # silently wrap (non-ANSI) or error (ANSI) in BIGINT. The
            # two div quotients stay under 2^63 while
            # n_uni <= ~4.6e13 (~180 TB of text): the first is
            # <= SCALE*n_uni/MIN_PAIR (cab <= cu_a, cu_b >= MIN_PAIR),
            # the second <= twice that (n_bi >= n_uni/2) — past that
            # bound the *final* lift_e6 of a minimum-count pair
            # itself exceeds BIGINT, so the staging is not the limit.
            F.expr(
                f"(CAST((CAST(cab AS DECIMAL(38,0)) * n_uni"
                f" * {LIFT_SCALE}L)"
                " div (CAST(cu_a AS DECIMAL(38,0)) * cu_b)"
                " AS DECIMAL(38,0)) * n_uni) div n_bi"
            )
            .cast("long")
            .alias("lift_e6"),
        )
        .orderBy(F.desc("lift_e6"), F.asc("left_tok"), F.asc("right_tok"))
        .limit(TOP_LIFT)
    )


@_add(
    "doc_dup_ngram_rate",
    f"""
    WITH dg AS (
      SELECT doc_id, UNNEST(g) AS g FROM ({shingle_sets_sql()})
    ), df AS (
      SELECT g, COUNT(*) AS n_docs FROM dg GROUP BY 1
    ), per AS (
      SELECT doc_id, COUNT(*) AS n_grams,
             SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup
      FROM dg JOIN df USING (g) GROUP BY 1
    )
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_dup AS BIGINT) AS n_dup,
           CAST((n_dup * 100) // n_grams AS BIGINT) AS dup_pct
    FROM per
    ORDER BY dup_pct DESC, doc_id ASC
    LIMIT {TOP_DUP_DOCS}
    """,
    doc="Cross-document duplicate n-gram rate (the RefinedWeb/Gopher "
    "curation signal): per document, the share of its DISTINCT "
    "3-gram shingles that occur in at least one other document — "
    "high rates mean boilerplate/templated content even when no "
    "single pair crosses a dedup threshold. Distinct grams per doc "
    "are a per-doc array expression; document frequency is a COUNT "
    "window over the gram-partitioned stream — one exchange of the "
    "gram stream, computed once, instead of the r12 shape's separate "
    "df aggregation joined back (which built the whole tokenize+gram "
    "pipeline twice and auto-broadcast the gram-VOCABULARY-sized df "
    "table at bench scale — the table that must never broadcast at "
    "100 TB). The per-doc rollup is the second and last shuffle. "
    "Within-doc repetition is doc_repetition_gates' job; this is "
    "the between-doc complement.",
    tags=("text", "dedup", "mining", "curation"),
)
def doc_dup_ngram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    dg = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(T.word_ngrams(T.tokens("text"), 3))
        ).alias("g"),
    )
    # document frequency as a COUNT window over the gram-partitioned
    # stream: dg rows are distinct (doc_id, g), so the partition count
    # IS the df — identical to the old groupBy(g)+join-back, but the
    # tokenize+gram pipeline runs ONCE (the join form planned it as
    # two full scan+generate subtrees) and nothing vocabulary-sized is
    # ever broadcast (the join form auto-broadcast the df table at
    # bench scale; at 100 TB that table cannot broadcast and the join
    # degrades to a second full exchange of the gram stream). A hot
    # boilerplate gram lands in one window partition, exactly as it
    # landed in one sort-merge-join partition before — same skew
    # surface, one pass (guide §1.2 / §2.4).
    n_docs = F.count(F.lit(1)).over(Window.partitionBy("g"))
    per = (
        dg.select("doc_id", (n_docs >= 2).alias("is_dup"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("long")
            .alias("n_dup"),
        )
    )
    return (
        per.select(
            "doc_id",
            "n_grams",
            "n_dup",
            F.expr("(n_dup * 100L) div n_grams").alias("dup_pct"),
        )
        .orderBy(F.desc("dup_pct"), F.asc("doc_id"))
        .limit(TOP_DUP_DOCS)
    )
