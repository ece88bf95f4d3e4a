"""N-gram language-model count tables — the classic small-LM prep
step over a curated corpus (Kneser-Ney smoothing consumes exactly
these statistics: raw n-gram counts plus CONTINUATION counts, i.e.
in how many distinct left contexts a unit appears; Kneser & Ney 1995,
Chen & Goodman 1999).

Spark-first shape: one tokenize + one explode produce the bigram
stream; the count table is a hash aggregation with map-side combine
(the key space is the distinct-bigram vocabulary, far smaller than
the stream, so partial aggregation collapses most of the traffic
before the exchange); the continuation count is a second aggregation
over the DISTINCT (left, right) pairs — derived from the same
grouped table, no second corpus scan. All counts are BIGINTs; the
top-k report is deterministic via count-desc / bigram-asc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators.hints import broadcast_if_bounded, parquet_row_bound
from ..sources.tables import load_table, spread
from .core import REGISTRY

TOP_N = 50


@REGISTRY.add(
    "lm_bigram_counts",
    f"""
    WITH toks AS (
      SELECT {T.tokens_sql("lower(text)")} AS w FROM documents
    ), bi AS (
      SELECT w[i] AS left_tok, w[i+1] AS right_tok
      FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS u(i)
    ), counts AS (
      SELECT left_tok, right_tok, COUNT(*) AS c
      FROM bi GROUP BY 1, 2
    ), cont AS (
      SELECT right_tok, COUNT(*) AS continuation
      FROM counts GROUP BY 1
    )
    SELECT counts.left_tok, counts.right_tok,
           CAST(counts.c AS BIGINT) AS bigram_count,
           CAST(cont.continuation AS BIGINT) AS right_continuation
    FROM counts JOIN cont ON counts.right_tok = cont.right_tok
    ORDER BY counts.c DESC, counts.left_tok ASC, counts.right_tok ASC
    LIMIT {TOP_N}
    """,
    doc="Kneser-Ney count tables for a bigram LM: raw bigram counts "
    "plus the right unit's CONTINUATION count (distinct left contexts "
    "it follows — the statistic KN smoothing uses instead of raw "
    "unigram frequency), top-50 with deterministic tie-breaks. One "
    "tokenize + one explode; the count table aggregates with "
    "map-side combine (key space = bigram vocabulary << stream), the "
    "continuation count derives from the grouped table with no "
    "second corpus scan, and the vocabulary-sized continuation table "
    "joins back keyed on right_tok (no forced broadcast — AQE "
    "broadcasts it at runtime when it is actually small).",
    tags=("text", "lm", "ngram"),
)
def lm_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("text"))
    counts = (
        T.token_windows(d, T.tokens(F.lower("text")), 2)
        .select(F.col("w0").alias("left_tok"), F.col("w1").alias("right_tok"))
        .groupBy("left_tok", "right_tok")
        .agg(F.count(F.lit(1)).alias("bigram_count"))
    )
    cont = counts.groupBy("right_tok").agg(
        F.count(F.lit(1)).alias("right_continuation")
    )
    # cont is vocabulary-sized — sub-linear in the corpus but UNBOUNDED,
    # so no forced broadcast hint (the trigram query's judgment call,
    # lm_kn_trigram_probs): the join is keyed on right_tok, the planner
    # shuffle-joins it at scale, and AQE converts to a runtime broadcast
    # when the vocabulary is actually small (it is at every tested SF).
    return (
        counts.join(cont, "right_tok")
        .select(
            "left_tok",
            "right_tok",
            F.col("bigram_count").cast("long").alias("bigram_count"),
            F.col("right_continuation")
            .cast("long")
            .alias("right_continuation"),
        )
        .orderBy(
            F.desc("bigram_count"), F.asc("left_tok"), F.asc("right_tok")
        )
        .limit(TOP_N)
    )


# Interpolated Kneser-Ney with absolute discount D = 3/4 (the
# Chen-Goodman standard value), all arithmetic integer fixed-point at
# scale 1e9 so both engines produce bit-identical BIGINTs:
#
#   P_KN(w|v) = max(c(v,w) - D, 0)/c(v) + lambda(v) * P_cont(w)
#   lambda(v) = D * N1+(v,*) / c(v)
#   P_cont(w) = N1+(*,w) / N1+(*,*)
#
# Staged divisions keep every intermediate under 2^63 (a single-
# denominator rendering would need ~1e20): each stage is the same
# truncating integer division on both engines (Spark `div` == DuckDB
# `//` for non-negatives), so parity is exact BY CONSTRUCTION even
# though the fixed-point value rounds twice.
KN_SCALE = 1_000_000_000
KN_D_NUM, KN_D_DEN = 3, 4  # discount D = 0.75


@REGISTRY.add(
    "lm_kn_bigram_probs",
    f"""
    WITH toks AS (
      SELECT {T.tokens_sql("lower(text)")} AS w FROM documents
    ), bi AS (
      SELECT w[i] AS left_tok, w[i+1] AS right_tok
      FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS u(i)
    ), counts AS (
      SELECT left_tok, right_tok, COUNT(*) AS c
      FROM bi GROUP BY 1, 2
    ), lstats AS (
      SELECT left_tok, CAST(SUM(c) AS BIGINT) AS left_count,
             COUNT(*) AS left_distinct
      FROM counts GROUP BY 1
    ), rcont AS (
      SELECT right_tok, COUNT(*) AS rc FROM counts GROUP BY 1
    ), tot AS (
      SELECT COUNT(*) AS n_types FROM counts
    ), scored AS (
      SELECT co.left_tok, co.right_tok,
             CAST(co.c AS BIGINT) AS bigram_count,
             l.left_count,
             (GREATEST({KN_D_DEN} * co.c - {KN_D_NUM}, 0) * {KN_SCALE})
               // ({KN_D_DEN} * l.left_count) AS term1_e9,
             ({KN_D_NUM} * l.left_distinct * {KN_SCALE})
               // ({KN_D_DEN} * l.left_count) AS lambda_e9,
             (r.rc * {KN_SCALE}) // t.n_types AS pcont_e9
      FROM counts co
      JOIN lstats l USING (left_tok)
      JOIN rcont r USING (right_tok), tot t
    )
    SELECT left_tok, right_tok, bigram_count, left_count,
           CAST(term1_e9 + (lambda_e9 * pcont_e9) // {KN_SCALE}
                AS BIGINT) AS p_kn_e9
    FROM scored
    ORDER BY p_kn_e9 DESC, left_tok ASC, right_tok ASC
    LIMIT {TOP_N}
    """,
    doc="Interpolated Kneser-Ney bigram probabilities (D = 0.75) on "
    "top of the lm_bigram_counts statistics: discounted ML term plus "
    "back-off weight times continuation probability, all in scale-1e9 "
    "integer fixed-point with staged truncating divisions so the "
    "BIGINT output is engine-exact. One corpus scan feeds the bigram "
    "count table; left-context totals, continuation counts, and the "
    "type total all derive from that grouped table (no rescan); the "
    "two vocab-sized stat tables broadcast back onto it and the type "
    "total is a 1-row broadcast attach. Top-50 by probability with "
    "deterministic tie-breaks.",
    tags=("text", "lm", "ngram", "kneser-ney"),
)
def lm_kn_bigram_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("text"))
    # The bigram count table is vocabulary-sized (sub-linear in the
    # corpus but UNBOUNDED). Materializing it once (localCheckpoint —
    # the corpus is scanned and gram-shuffled exactly once, at build)
    # gives an EXACT cardinality for free, so the broadcast hints on
    # the derived 1-dim stat tables are size-gated on the real count:
    # under the bound the joins stay map-side (the fast plan at every
    # tested SF); over it they degrade to vocab-keyed shuffle joins
    # that scale, and AQE re-broadcasts at runtime if actually small.
    counts = (
        T.token_windows(d, T.tokens(F.lower("text")), 2)
        .select(F.col("w0").alias("left_tok"), F.col("w1").alias("right_tok"))
        .groupBy("left_tok", "right_tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    n_vocab = counts.count()  # cheap: already materialized
    lstats = counts.groupBy("left_tok").agg(
        F.sum("c").cast("long").alias("left_count"),
        F.count(F.lit(1)).cast("long").alias("left_distinct"),
    )
    rcont = counts.groupBy("right_tok").agg(
        F.count(F.lit(1)).cast("long").alias("rc")
    )
    tot = counts.agg(F.count(F.lit(1)).cast("long").alias("n_types"))

    scored = (
        counts.join(broadcast_if_bounded(lstats, n_vocab), "left_tok")
        .join(broadcast_if_bounded(rcont, n_vocab), "right_tok")
        .crossJoin(F.broadcast(tot))  # 1-row type-total attach
        .select(
            "left_tok",
            "right_tok",
            F.col("c").alias("bigram_count"),
            "left_count",
            F.expr(
                f"(GREATEST({KN_D_DEN} * c - {KN_D_NUM}, 0L)"
                f" * {KN_SCALE}L) div ({KN_D_DEN} * left_count)"
            ).alias("term1_e9"),
            F.expr(
                f"({KN_D_NUM} * left_distinct * {KN_SCALE}L)"
                f" div ({KN_D_DEN} * left_count)"
            ).alias("lambda_e9"),
            F.expr(f"(rc * {KN_SCALE}L) div n_types").alias("pcont_e9"),
        )
    )
    return (
        scored.select(
            "left_tok",
            "right_tok",
            "bigram_count",
            "left_count",
            (
                F.col("term1_e9")
                + F.expr(f"(lambda_e9 * pcont_e9) div {KN_SCALE}L")
            )
            .cast("long")
            .alias("p_kn_e9"),
        )
        .orderBy(F.desc("p_kn_e9"), F.asc("left_tok"), F.asc("right_tok"))
        .limit(TOP_N)
    )


# Per-document LM typicality — the classic CCNet/Wenzek-style "score
# every document against a LM trained on the corpus itself" curation
# signal, here with the interpolated-KN bigram model above. A doc's
# score is the mean KN probability of its bigrams (scale-1e9 fixed
# point; mean, not product, so the statistic stays integer-exact —
# the log-space perplexity variant is float-hostile across engines).
# Low mean = the doc's token transitions are atypical for the corpus.
N_ATYPICAL = 50
LM_MIN_BIGRAMS = 5  # too-short docs make the mean meaningless
#: Materialize the vocab-sized bigram-counts table only when the corpus
#: is big enough that re-aggregating docbi four times costs more than
#: one localCheckpoint round trip (measured crossover is well under
#: 30x the 5k-doc bench corpus; the bench SF itself sits below it).
LM_COUNTS_CKPT_MIN_DOCS = 50_000


@REGISTRY.add(
    "lm_doc_typicality",
    f"""
    WITH toks AS (
      SELECT doc_id, {T.tokens_sql("lower(text)")} AS w FROM documents
    ), docbi AS (
      SELECT doc_id, w[i] AS left_tok, w[i+1] AS right_tok,
             COUNT(*) AS dc
      FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS u(i)
      GROUP BY 1, 2, 3
    ), counts AS (
      SELECT left_tok, right_tok, CAST(SUM(dc) AS BIGINT) AS c
      FROM docbi GROUP BY 1, 2
    ), lstats AS (
      SELECT left_tok, CAST(SUM(c) AS BIGINT) AS left_count,
             COUNT(*) AS left_distinct
      FROM counts GROUP BY 1
    ), rcont AS (
      SELECT right_tok, COUNT(*) AS rc FROM counts GROUP BY 1
    ), tot AS (
      SELECT COUNT(*) AS n_types FROM counts
    ), model AS (
      SELECT co.left_tok, co.right_tok,
             (GREATEST({KN_D_DEN} * co.c - {KN_D_NUM}, 0) * {KN_SCALE})
               // ({KN_D_DEN} * l.left_count)
             + ((({KN_D_NUM} * l.left_distinct * {KN_SCALE})
                 // ({KN_D_DEN} * l.left_count))
                * ((r.rc * {KN_SCALE}) // t.n_types)) // {KN_SCALE}
               AS p_kn_e9
      FROM counts co
      JOIN lstats l USING (left_tok)
      JOIN rcont r USING (right_tok), tot t
    ), scored AS (
      SELECT d.doc_id,
             CAST(SUM(d.dc) AS BIGINT) AS n_bigrams,
             SUM(d.dc * m.p_kn_e9) AS p_sum
      FROM docbi d JOIN model m USING (left_tok, right_tok)
      GROUP BY 1
    )
    SELECT doc_id, n_bigrams,
           CAST(p_sum // n_bigrams AS BIGINT) AS mean_pkn_e9
    FROM scored
    WHERE n_bigrams >= {LM_MIN_BIGRAMS}
    ORDER BY mean_pkn_e9 ASC, doc_id ASC
    LIMIT {N_ATYPICAL}
    """,
    doc="Per-document LM typicality (CCNet-style curation signal): "
    "every doc scored against the corpus-trained interpolated-KN "
    "bigram model; score = mean KN bigram probability in scale-1e9 "
    "fixed point (integer-exact across engines, unlike log-space "
    "perplexity), lowest-50 = the curation-reject candidates. ONE "
    "corpus scan: the per-(doc, bigram) count table feeds BOTH the "
    "global model statistics (a second aggregation over the grouped "
    "table, no rescan) and the scoring join; the model is keyed by "
    "the distinct-bigram vocabulary, so the scoring join shuffles "
    "the grouped doc-bigram table, never the raw token stream. "
    f"Docs with < {LM_MIN_BIGRAMS} bigrams are excluded.",
    tags=("text", "lm", "quality", "kneser-ney"),
)
def lm_doc_typicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # The per-doc bigram table is the query's ONE corpus-scale
    # intermediate (it feeds both the model derivation and the scoring
    # join). Materializing it once (localCheckpoint) means the corpus
    # is scanned and gram-shuffled exactly once; everything derived —
    # counts, stat tables, the model — is vocabulary-sized and cheap
    # off the materialized copy. At 100 TB this materialization is the
    # standard persisted feature table a production scorer writes
    # (swap localCheckpoint for a parquet intermediate); the scoring
    # join's model side is then size-gated on the EXACT vocab count.
    docbi = (
        T.token_windows(d, T.tokens(F.lower("text")), 2, "doc_id")
        .select(
            "doc_id",
            F.col("w0").alias("left_tok"),
            F.col("w1").alias("right_tok"),
        )
        .groupBy("doc_id", "left_tok", "right_tok")
        .agg(F.count(F.lit(1)).cast("long").alias("dc"))
        .localCheckpoint()
    )
    # counts is VOCAB-sized (one row per distinct bigram) but the r12
    # shape re-aggregated the corpus-scale docbi checkpoint for every
    # consumer — lstats, rcont, tot and the model each planned their
    # own docbi scan + groupBy (four extra corpus-scale aggregations
    # per call, visible as four ExistingRDD+HashAggregate chains in
    # plans/r13/lm_doc_typicality_before.txt). Materializing the small
    # table makes each consumer a vocab-sized scan — but the
    # materialization job itself has fixed cost, so it is SIZE-GATED
    # on the corpus footer row count like every other data-adaptive
    # decision here (events_state_shards, broadcast_if_bounded):
    # measured 16.2 -> 14.3 s at 30x the bench corpus and 2.4 -> 3.1 s
    # AGAINST at the 5k-doc bench SF, where four re-aggregations of a
    # tiny docbi are cheaper than one materialization round trip
    # (guide §1.2/§5.1 — bounded materializations, compute once).
    counts = docbi.groupBy("left_tok", "right_tok").agg(
        F.sum("dc").cast("long").alias("c")
    )
    # For a materialization decision an unknown size (UNBOUNDED: the
    # footprint cannot be read) means "assume large" and checkpoints;
    # the opposite of the broadcast hints, where unknown means "hint
    # off". tests/test_lm_plans.py pins this.
    if parquet_row_bound(sf_dir, "documents") >= LM_COUNTS_CKPT_MIN_DOCS:
        counts = counts.localCheckpoint()
    n_vocab = counts.count()
    lstats = counts.groupBy("left_tok").agg(
        F.sum("c").cast("long").alias("left_count"),
        F.count(F.lit(1)).cast("long").alias("left_distinct"),
    )
    rcont = counts.groupBy("right_tok").agg(
        F.count(F.lit(1)).cast("long").alias("rc")
    )
    tot = counts.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    model = (
        counts.join(broadcast_if_bounded(lstats, n_vocab), "left_tok")
        .join(broadcast_if_bounded(rcont, n_vocab), "right_tok")
        .crossJoin(F.broadcast(tot))  # 1-row type-total attach
        .select(
            "left_tok",
            "right_tok",
            (
                F.expr(
                    f"(GREATEST({KN_D_DEN} * c - {KN_D_NUM}, 0L)"
                    f" * {KN_SCALE}L) div ({KN_D_DEN} * left_count)"
                )
                + F.expr(
                    f"((({KN_D_NUM} * left_distinct * {KN_SCALE}L)"
                    f" div ({KN_D_DEN} * left_count))"
                    f" * ((rc * {KN_SCALE}L) div n_types))"
                    f" div {KN_SCALE}L"
                )
            ).alias("p_kn_e9"),
        )
    )
    return (
        # the model rides map-side onto the corpus-scale docbi stream
        # under the same vocab-count gate (model rows <= n_vocab)
        docbi.join(broadcast_if_bounded(model, n_vocab), ["left_tok", "right_tok"])
        .groupBy("doc_id")
        .agg(
            F.sum("dc").cast("long").alias("n_bigrams"),
            F.sum(F.col("dc") * F.col("p_kn_e9")).alias("p_sum"),
        )
        .filter(F.col("n_bigrams") >= LM_MIN_BIGRAMS)
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("p_sum div n_bigrams").cast("long").alias("mean_pkn_e9"),
        )
        .orderBy(F.asc("mean_pkn_e9"), F.asc("doc_id"))
        .limit(N_ATYPICAL)
    )


# Full three-level interpolated Kneser-Ney (Chen & Goodman 1999,
# eq. 18) — the recursion the bigram query above is the base case of:
#
#   P3(w|u,v) = max(c(uvw) - D, 0)/c(uv)   + D*N1+(uv.)/c(uv)   * P2(w|v)
#   P2(w|v)   = max(N1+(.vw) - D, 0)/N1+(.v.) + D*N1+(v..)/N1+(.v.) * P1(w)
#   P1(w)     = N1+(.w) / N1+(..)
#
# where N1+(.vw) counts DISTINCT u preceding (v,w) — the continuation
# statistic that replaces raw counts below the top level — N1+(.v.)
# sums those over w, N1+(v..) counts distinct (v,w) types, and the
# unigram level comes from bigram types. Every statistic derives from
# the trigram count table plus the bigram count table; the corpus is
# scanned twice (once per explode order), never more.
#
# Same integer discipline as the bigram query: D = 3/4 folded into
# 4x-scaled numerators/denominators, scale-1e9 fixed point, staged
# truncating divisions (Spark `div` == DuckDB `//` on non-negatives)
# so the BIGINT output is engine-exact by construction.


@REGISTRY.add(
    "lm_kn_trigram_probs",
    f"""
    WITH toks AS (
      SELECT {T.tokens_sql("lower(text)")} AS w FROM documents
    ), tri AS (
      SELECT w[i] AS u, w[i+1] AS v, w[i+2] AS t, COUNT(*) AS c3
      FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS x(i)
      GROUP BY 1, 2, 3
    ), bi AS (
      SELECT w[i] AS v, w[i+1] AS t, COUNT(*) AS c2
      FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS x(i)
      GROUP BY 1, 2
    ), ctx AS (
      SELECT u, v, CAST(SUM(c3) AS BIGINT) AS cuv,
             COUNT(*) AS n1p_uv
      FROM tri GROUP BY 1, 2
    ), cont_vw AS (
      SELECT v, t, COUNT(*) AS n1p_vw FROM tri GROUP BY 1, 2
    ), cont_v AS (
      SELECT v, CAST(SUM(n1p_vw) AS BIGINT) AS n1p_v_,
             COUNT(*) AS n1p_v__types
      FROM cont_vw GROUP BY 1
    ), uni AS (
      SELECT t, COUNT(*) AS n1p_w FROM bi GROUP BY 1
    ), tot AS (
      SELECT COUNT(*) AS n_bi_types FROM bi
    ), p1 AS (
      SELECT t, (n1p_w * {KN_SCALE}) // n_bi_types AS p1_e9
      FROM uni, tot
    ), p2 AS (
      SELECT cw.v, cw.t,
             (GREATEST({KN_D_DEN} * cw.n1p_vw - {KN_D_NUM}, 0)
               * {KN_SCALE}) // ({KN_D_DEN} * cv.n1p_v_)
             + ((({KN_D_NUM} * cv.n1p_v__types * {KN_SCALE})
                 // ({KN_D_DEN} * cv.n1p_v_)) * p1.p1_e9) // {KN_SCALE}
               AS p2_e9
      FROM cont_vw cw
      JOIN cont_v cv USING (v)
      JOIN p1 ON p1.t = cw.t
    )
    SELECT tri.u, tri.v, tri.t AS w,
           CAST(tri.c3 AS BIGINT) AS trigram_count,
           ctx.cuv AS context_count,
           CAST((GREATEST({KN_D_DEN} * tri.c3 - {KN_D_NUM}, 0)
                  * {KN_SCALE}) // ({KN_D_DEN} * ctx.cuv)
                + ((({KN_D_NUM} * ctx.n1p_uv * {KN_SCALE})
                    // ({KN_D_DEN} * ctx.cuv)) * p2.p2_e9) // {KN_SCALE}
                AS BIGINT) AS p_kn3_e9
    FROM tri
    JOIN ctx ON ctx.u = tri.u AND ctx.v = tri.v
    JOIN p2 ON p2.v = tri.v AND p2.t = tri.t
    ORDER BY p_kn3_e9 DESC, tri.u ASC, tri.v ASC, w ASC
    LIMIT {TOP_N}
    """,
    doc="Full interpolated Kneser-Ney TRIGRAM probabilities — the "
    "three-level Chen-Goodman recursion with D = 0.75 at every "
    "level: discounted trigram ML backed off through a continuation-"
    "count bigram level (distinct-predecessor counts replace raw "
    "counts below the top, the defining KN move) down to the "
    "continuation unigram. Every statistic derives from ONE combined "
    "(u,v,t) count table — the bigram level is recovered from the "
    "trigram stream plus a NULL-u edge term per document, so the "
    "corpus is scanned and shuffled exactly once and all higher "
    "aggregations are vocabulary-sized. "
    "Scale-1e9 integer fixed point with staged truncating divisions "
    "keeps three levels of interpolation engine-exact. Top-50 with "
    "full deterministic tie-breaks.",
    tags=("text", "lm", "ngram", "kneser-ney"),
)
def lm_kn_trigram_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("text"))

    # ONE corpus scan: the bigram stream is recoverable from the
    # trigram stream plus a per-doc edge term. A trigram at position i
    # covers the bigram (v, t) at position i+1, i.e. positions 2..L-1;
    # the one missing bigram per document is position 1, the window
    # padded one token off the front (u = NULL; docs with exactly two
    # tokens have no trigrams and contribute only that edge row). One
    # (u, v, t) aggregation — NULL u is its own group — then yields the
    # trigram table (u IS NOT NULL) and the full bigram table (sum
    # over u), both vocab-side, so the corpus is scanned and shuffled
    # exactly once.
    combined = (
        T.token_windows(d, T.tokens(F.lower("text")), 3, pad=(1, 0))
        .select(
            F.col("w0").alias("u"), F.col("w1").alias("v"), F.col("w2").alias("t")
        )
        .groupBy("u", "v", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        # both derived tables (tri: filter, bi: re-agg) consume this
        # vocab-sized result; checkpointing it pins the single corpus
        # scan (without it each consumer re-plans the scan) and roots
        # every downstream stat table at a vocabulary-sized RDD
        .localCheckpoint()
    )
    # combined is localCheckpointed, so its count is a free exact bound
    # on every vocab-derived table below (|V|, |T|, |(v,t)| are all
    # <= the (u,v,t)-type count); gate the 1-dim broadcasts on it
    # instead of forcing them — same rule the bigram family applies.
    n_types = combined.count()
    tri = combined.filter(F.col("u").isNotNull()).withColumnRenamed("c", "c3")
    bi = combined.groupBy("v", "t").agg(F.sum("c").cast("long").alias("c2"))
    ctx = tri.groupBy("u", "v").agg(
        F.sum("c3").cast("long").alias("cuv"),
        F.count(F.lit(1)).cast("long").alias("n1p_uv"),
    )
    cont_vw = tri.groupBy("v", "t").agg(
        F.count(F.lit(1)).cast("long").alias("n1p_vw")
    )
    cont_v = cont_vw.groupBy("v").agg(
        F.sum("n1p_vw").cast("long").alias("n1p_v_"),
        F.count(F.lit(1)).cast("long").alias("n1p_v__types"),
    )
    uni = bi.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("n1p_w"))
    tot = bi.agg(F.count(F.lit(1)).cast("long").alias("n_bi_types"))
    p1 = uni.crossJoin(F.broadcast(tot)).select(
        "t", F.expr(f"(n1p_w * {KN_SCALE}L) div n_bi_types").alias("p1_e9")
    )
    p2 = (
        cont_vw.join(broadcast_if_bounded(cont_v, n_types), "v")
        .join(broadcast_if_bounded(p1, n_types), "t")
        .select(
            "v",
            "t",
            (
                F.expr(
                    f"(GREATEST({KN_D_DEN} * n1p_vw - {KN_D_NUM}, 0L)"
                    f" * {KN_SCALE}L) div ({KN_D_DEN} * n1p_v_)"
                )
                + F.expr(
                    f"((({KN_D_NUM} * n1p_v__types * {KN_SCALE}L)"
                    f" div ({KN_D_DEN} * n1p_v_)) * p1_e9)"
                    f" div {KN_SCALE}L"
                )
            ).alias("p2_e9"),
        )
    )
    # ctx is (u,v)-keyed and p2 is (v,t)-keyed — both scale with the
    # CONTEXT vocabulary (can be corpus-large), so they shuffle-join
    # rather than broadcast; the 1-dim vocab tables (cont_v, p1) are
    # size-gated on n_types above (the 1-row type total stays forced)
    return (
        tri.join(ctx, ["u", "v"])
        .join(p2, ["v", "t"])
        .select(
            "u",
            "v",
            F.col("t").alias("w"),
            F.col("c3").alias("trigram_count"),
            F.col("cuv").alias("context_count"),
            (
                F.expr(
                    f"(GREATEST({KN_D_DEN} * c3 - {KN_D_NUM}, 0L)"
                    f" * {KN_SCALE}L) div ({KN_D_DEN} * cuv)"
                )
                + F.expr(
                    f"((({KN_D_NUM} * n1p_uv * {KN_SCALE}L)"
                    f" div ({KN_D_DEN} * cuv)) * p2_e9)"
                    f" div {KN_SCALE}L"
                )
            )
            .cast("long")
            .alias("p_kn3_e9"),
        )
        .orderBy(
            F.desc("p_kn3_e9"), F.asc("u"), F.asc("v"), F.asc("w")
        )
        .limit(TOP_N)
    )
