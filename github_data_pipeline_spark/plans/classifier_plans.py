"""Model-based document filtering — the classifier family of a
training-data pipeline, in exact integer arithmetic.

Two industry-standard quality-filter shapes the gate/profile queries
don't cover:

* ``doc_quality_linear_gate`` — a linear quality classifier applied as
  a filter (the C4 / fastText-classifier shape, Raffel et al. 2020;
  Joulin et al. 2016): per-doc features -> fixed-point dot product with
  shipped weights -> threshold gate. Inference only; the weights are
  constants "trained offline", which is exactly how such classifiers
  deploy in a pipeline (the model never trains inside the scan job).
* ``doc_char_trigram_typicality`` — the CCNet-style LM-proxy (Wenzek
  et al. 2020 use a real KenLM; the deployable integer-exact analog is
  character-n-gram typicality): per-doc mean corpus document-frequency
  of its distinct char trigrams, normalized by corpus size. Junk/noise
  scores atypically low because its trigrams appear in few other
  documents.

Integer-exactness rules (hash-parity with DuckDB): all ratios are
fixed-point via integral division (Spark ``div`` == DuckDB ``//``,
both exact truncation), doubles never enter a predicate or an output.

Scale shape (100 TB):

* the linear gate is map-only + one tiny per-source aggregation —
  embarrassingly parallel, no shuffle of document text;
* typicality hash-repartitions documents by doc_id once, so the
  per-doc aggregation after the DF join is exchange-free (same trick
  as plans/repetition_plans.py); the trigram DF table is bounded by
  the charset (|Σ|³, ~50k entries real-world) — built with map-side
  partial aggregation collapsing to per-partition distinct trigrams,
  then BROADCAST back, so the doc×trigram stream never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..sources.tables import load_table, spread
from .core import REGISTRY

_add = REGISTRY.add


FP_SCALE = 10_000  # ratio fixed point: 1.0 -> 10000
LEN_SCALE = 100  # mean-token-length fixed point: 1 char -> 100

# "offline-trained" linear model: weights over (stopword ratio,
# type-token ratio, mean token length). Positive on all three — junk
# in this corpus family is low-stopword, low-diversity, short-token.
W_STOP, W_TTR, W_LEN = 3, 2, 10
# calibrated on the synthetic corpus so the gate is non-vacuous both
# ways (score p25 = 13731 at sf0.01 -> ~75% pass / ~25% fail)
SCORE_THRESHOLD = 13_700


def token_features(d: DataFrame, *keys: str) -> DataFrame:
    """``keys`` plus the integer quality features of ``d.text`` — t
    tokens, s stopword hits, u distinct tokens, c token chars — over
    ONE tokenization: ``toks`` is projected in its own select, and
    Catalyst does not inline a non-cheap alias used more than once."""
    toks = F.col("toks")
    return d.select(*keys, T.tokens("text").alias("toks")).select(
        *keys,
        F.size(toks).cast("long").alias("t"),
        T.stopword_hits(toks).cast("long").alias("s"),
        F.size(F.array_distinct(toks)).cast("long").alias("u"),
        T.char_count(toks).cast("long").alias("c"),
    )


@_add(
    "doc_quality_linear_gate",
    f"""
    WITH f AS (
      SELECT source,
        len(toks) AS t,
        {T.stopword_hits_sql("toks")}
          AS s,
        len(list_distinct(toks)) AS u,
        COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS c
      FROM (SELECT source, {T.tokens_sql()} AS toks FROM documents)
    ), scored AS (
      SELECT source,
        CASE WHEN t = 0 THEN 0 ELSE
          {W_STOP} * ((s * {FP_SCALE}) // t)
          + {W_TTR} * ((u * {FP_SCALE}) // t)
          + {W_LEN} * ((c * {LEN_SCALE}) // t)
        END AS score
      FROM f
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(CASE WHEN score >= {SCORE_THRESHOLD} THEN 1 ELSE 0 END)
                AS BIGINT) AS passed,
           CAST(SUM(score) // COUNT(*) AS BIGINT) AS avg_score_fp
    FROM scored GROUP BY source
    """,
    doc="Linear quality-classifier gate (C4/fastText-classifier shape: "
    "offline-trained weights shipped as constants, inference in the "
    "scan job): per-doc fixed-point features — stopword ratio, "
    "type-token ratio, mean token length — dotted with integer "
    "weights and thresholded; per-source pass counts + mean score. "
    "All ratios are integral divisions (Spark div == DuckDB //, exact "
    "truncation), so the score is hash-exact at any scale. Map-only "
    "expressions + one tiny per-source aggregation; document text "
    "never shuffles. Threshold calibrated non-vacuous (~25% of the "
    "fixture fails).",
    tags=("text", "quality", "classifier"),
)
def doc_quality_linear_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("source", "text"))
    f = token_features(d, "source")
    score = F.when(F.col("t") == 0, F.lit(0).cast("long")).otherwise(
        F.lit(W_STOP) * F.expr(f"(s * {FP_SCALE}) div t")
        + F.lit(W_TTR) * F.expr(f"(u * {FP_SCALE}) div t")
        + F.lit(W_LEN) * F.expr(f"(c * {LEN_SCALE}) div t")
    )
    return (
        f.select("source", score.alias("score"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum((F.col("score") >= SCORE_THRESHOLD).cast("int"))
            .cast("long")
            .alias("passed"),
            F.expr("CAST(sum(score) div count(*) AS BIGINT)").alias(
                "avg_score_fp"
            ),
        )
    )


# a doc is "atypical" when the average document-frequency of its
# trigrams covers less than this percentage of the corpus (calibrated:
# fixture typicality runs 57-71% of corpus size, p05 ≈ 59% -> ~15% of
# docs flagged at 60)
ATYPICAL_PCT = 60


@_add(
    "doc_char_trigram_typicality",
    f"""
    WITH d AS (
      SELECT doc_id, source, lower(trim(text)) AS s FROM documents
    ), tri AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(s) - 2, 0)),
               i -> substr(s, i, 3)))) AS t
      FROM d
    ), df AS (
      SELECT t, COUNT(*) AS df FROM tri GROUP BY t
    ), typ AS (
      SELECT tri.doc_id, SUM(df.df) // COUNT(*) AS typ
      FROM tri JOIN df USING (t) GROUP BY 1
    ), tot AS (SELECT COUNT(*) AS total FROM d)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(COALESCE(typ.typ, 0)) // COUNT(*) AS BIGINT)
             AS avg_typicality,
           CAST(SUM(CASE WHEN COALESCE(typ.typ, 0) * 100
                         < {ATYPICAL_PCT} * tot.total
                    THEN 1 ELSE 0 END) AS BIGINT) AS atypical_docs
    FROM d LEFT JOIN typ ON d.doc_id = typ.doc_id CROSS JOIN tot
    GROUP BY d.source
    """,
    doc="LM-proxy typicality score (the integer-exact analog of "
    "CCNet's KenLM perplexity bucket, Wenzek et al. 2020): per doc, "
    "the mean corpus document-frequency of its distinct character "
    "trigrams; docs whose trigrams appear in under "
    f"{ATYPICAL_PCT}% of the corpus flagged atypical. Corpus-statistic "
    "join-back shape: the trigram DF table (bounded by charset^3) is "
    "built with map-side partial aggregation and BROADCAST back onto "
    "the doc-trigram stream, which itself never shuffles — documents "
    "are hash-repartitioned by doc_id once, making the per-doc "
    "aggregation exchange-free (the repetition_plans trick), and "
    "explode_outer keeps trigram-less docs on the same stream (typ 0, "
    "atypical) so no extra scan re-lists the doc universe. The "
    "corpus-size normalizer is a footer-only count(*) attached as the "
    "whitelisted 1-row broadcast. Corpus data is scanned exactly "
    "twice (DF pass + score pass) by design — the stats pass of "
    "every deployed CCNet-style filter.",
    tags=("text", "quality", "classifier", "typicality"),
)
def doc_char_trigram_typicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.lower(F.trim(F.col("text"))).alias("s")
    )
    d = raw.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    tri_arr = F.when(
        F.length("s") >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length("s") - 2),
                lambda i: F.col("s").substr(i, F.lit(3)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    # explode_outer keeps len<3 docs as one t=NULL row, so the doc
    # universe rides the same stream — no third corpus scan to re-list
    # doc_ids for a left join
    e = d.select("doc_id", "source", F.explode_outer(tri_arr).alias("t"))
    df_tbl = (
        e.filter(F.col("t").isNotNull())
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    # per-doc mean DF; a trigram-less doc contributes its single NULL
    # row: sum(df) NULL -> 0, count 1 -> typ = 0 (atypical by
    # definition). groupBy(doc_id, source) is exchange-free (doc_id
    # hash partitioning from the repartition above).
    typ = (
        e.join(F.broadcast(df_tbl), "t", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.expr(
                "CAST(coalesce(sum(df), 0) div count(*) AS BIGINT)"
            ).alias("typ")
        )
    )
    # corpus-size normalizer: count(*) over the raw scan prunes every
    # column — parquet answers it from footer rowcounts, not data
    total = raw.groupBy().agg(F.count(F.lit(1)).alias("total"))
    scored = typ.crossJoin(F.broadcast(total))
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.expr("CAST(sum(typ) div count(*) AS BIGINT)").alias(
            "avg_typicality"
        ),
        F.sum(
            (F.col("typ") * 100 < ATYPICAL_PCT * F.col("total")).cast("int")
        )
        .cast("long")
        .alias("atypical_docs"),
    )


# --- round 9: threshold-sweep evaluation (PR curve) ------------------------
#
# A trained quality classifier is useless without an evaluation
# against the labeling rule it approximates. The "label" here is the
# curation funnel's RULE gate (curation.quality_pred — length window +
# stopword ratio); the score is this module's linear classifier. One
# corpus scan computes (score, label) per doc; the threshold sweep is
# a single 1-row aggregate of SUM(CASE) confusion counts per
# threshold (NO grouping-sets EXPAND — the r7 trap), unpivoted to one
# row per threshold afterwards. Counts are exact integers; precision/
# recall are derivable offline, so no float leaves the query.

PR_THRESHOLDS = (11_000, 12_500, 13_700, 15_000, 17_000)


@_add(
    "classifier_pr_curve",
    f"""
    WITH f AS (
      SELECT len(toks) AS t,
        {T.stopword_hits_sql("toks")}
          AS s,
        len(list_distinct(toks)) AS u,
        COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS c
      FROM (SELECT {T.tokens_sql()} AS toks FROM documents)
    ), scored AS (
      SELECT
        CASE WHEN t = 0 THEN 0 ELSE
          {W_STOP} * ((s * {FP_SCALE}) // t)
          + {W_TTR} * ((u * {FP_SCALE}) // t)
          + {W_LEN} * ((c * {LEN_SCALE}) // t)
        END AS score,
        CASE WHEN t BETWEEN 20 AND 400 AND s * 10 >= t
             THEN 1 ELSE 0 END AS label
      FROM f
    ), agg AS (
      SELECT
        {", ".join(
            f"CAST(SUM(CASE WHEN score >= {t} AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp_{t}, "
            f"CAST(SUM(CASE WHEN score >= {t} AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp_{t}, "
            f"CAST(SUM(CASE WHEN score <  {t} AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn_{t}, "
            f"CAST(SUM(CASE WHEN score <  {t} AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn_{t}"
            for t in PR_THRESHOLDS
        )}
      FROM scored
    )
    {" UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS threshold, tp_{t} AS tp, fp_{t} AS fp,"
        f" fn_{t} AS fn, tn_{t} AS tn FROM agg"
        for t in PR_THRESHOLDS
    )}
    ORDER BY threshold ASC
    """,
    doc="Classifier evaluation at corpus scale: the linear quality "
    "score swept over five thresholds against the curation funnel's "
    "RULE gate as the label (the exact quality_pred arithmetic — "
    "integer length window + stopword ratio), emitting exact "
    "confusion counts (tp/fp/fn/tn) per threshold. ONE corpus scan, "
    "ONE 1-row aggregate holding all 20 conditional counts (separate "
    "SUM(CASE) columns — no grouping-sets EXPAND), then a constant "
    "unpivot to long rows. This is how a 100-TB pipeline calibrates "
    "its shipped threshold: the sweep is free relative to the scan, "
    "and the chosen SCORE_THRESHOLD's operating point is visible "
    "against its neighbors. Non-vacuous: every threshold row has "
    "nonzero tp AND nonzero fp+fn on the fixture.",
    tags=("text", "quality", "classifier", "eval"),
)
def classifier_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("text"))
    f = token_features(d)
    score = F.when(F.col("t") == 0, F.lit(0).cast("long")).otherwise(
        F.lit(W_STOP) * F.expr(f"(s * {FP_SCALE}) div t")
        + F.lit(W_TTR) * F.expr(f"(u * {FP_SCALE}) div t")
        + F.lit(W_LEN) * F.expr(f"(c * {LEN_SCALE}) div t")
    )
    label = (
        F.col("t").between(20, 400) & (F.col("s") * 10 >= F.col("t"))
    ).cast("int")
    scored = f.select(score.alias("score"), label.alias("label"))
    aggs = []
    for t in PR_THRESHOLDS:
        hit = F.col("score") >= t
        pos = F.col("label") == 1
        aggs += [
            F.sum((hit & pos).cast("int")).cast("long").alias(f"tp_{t}"),
            F.sum((hit & ~pos).cast("int")).cast("long").alias(f"fp_{t}"),
            F.sum((~hit & pos).cast("int")).cast("long").alias(f"fn_{t}"),
            F.sum((~hit & ~pos).cast("int")).cast("long").alias(f"tn_{t}"),
        ]
    one = scored.agg(*aggs)
    out = None
    for t in PR_THRESHOLDS:
        row = one.select(
            F.lit(t).cast("long").alias("threshold"),
            F.col(f"tp_{t}").alias("tp"),
            F.col(f"fp_{t}").alias("fp"),
            F.col(f"fn_{t}").alias("fn"),
            F.col(f"tn_{t}").alias("tn"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy(F.asc("threshold"))


# --- round 10: global ranking statistic (ROC-AUC via rank-sum) --------------
#
# The PR curve evaluates the classifier at FIVE shipped thresholds;
# ROC-AUC evaluates it at ALL of them at once — the Mann-Whitney U
# statistic (Mann & Whitney 1947; Hanley & McNeil 1982 for the
# AUC identity): AUC = P(score_pos > score_neg) + P(tie)/2. The naive
# definition is an all-pairs comparison (n_pos x n_neg — quadratic,
# dead at corpus scale); the rank-sum identity computes it from ONE
# grouped aggregation + ONE running sum over the DISTINCT-SCORE table:
#
#   2U = sum over scores s of  pos(s) * (2 * neg_below(s) + neg(s))
#
# which counts each (pos, neg) pair twice when the positive outranks
# the negative and once on a tie — exact integers end to end, so the
# Spark side and the DuckDB twin agree cell-exact with no float until
# the single final division.
#
# Scale shape (100 TB): the corpus collapses to per-distinct-score
# (pos, neg) counts in one map-side-combinable aggregation; the score
# is fixed-point on a bounded grid (<= W_STOP*FP_SCALE + W_TTR*FP_SCALE
# + W_LEN*LEN_SCALE*max_token_len distinct values, ~10^5 — a property
# of the classifier, not the corpus), so the unpartitioned running
# window that follows runs over a GRID-bounded table, never a
# corpus-bounded one. 2U itself reaches 2*n_pos*n_neg ~ 10^22 at
# 10^11 docs — past BIGINT — so the accumulation and the final
# auc_e6 division are staged in DECIMAL(38,0) (HUGEINT in the
# oracle), the lm_bigram_lift discipline; auc_e6 <= 10^6 so the
# OUTPUT stays BIGINT at any scale.

AUC_SCALE = 1_000_000


@_add(
    "classifier_roc_auc",
    f"""
    WITH f AS (
      SELECT len(toks) AS t,
        {T.stopword_hits_sql("toks")}
          AS s,
        len(list_distinct(toks)) AS u,
        COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS c
      FROM (SELECT {T.tokens_sql()} AS toks FROM documents)
    ), scored AS (
      SELECT
        CASE WHEN t = 0 THEN 0 ELSE
          {W_STOP} * ((s * {FP_SCALE}) // t)
          + {W_TTR} * ((u * {FP_SCALE}) // t)
          + {W_LEN} * ((c * {LEN_SCALE}) // t)
        END AS score,
        CASE WHEN t BETWEEN 20 AND 400 AND s * 10 >= t
             THEN 1 ELSE 0 END AS label
      FROM f
    ), per AS (
      SELECT score,
             SUM(label) AS pos,
             COUNT(*) - SUM(label) AS neg
      FROM scored GROUP BY score
    ), cum AS (
      SELECT pos, neg,
             COALESCE(SUM(neg) OVER (ORDER BY score ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_below
      FROM per
    )
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           CAST(COUNT(*) AS BIGINT) AS n_scores,
           CAST((SUM(pos * (2 * neg_below + neg)) * {AUC_SCALE // 2})
                // (SUM(pos) * SUM(neg)) AS BIGINT) AS auc_e6
    FROM cum
    """,
    doc="ROC-AUC of the linear quality classifier against the curation "
    "funnel's rule gate, by the Mann-Whitney rank-sum identity: "
    "2U = sum_s pos(s)*(2*neg_below(s)+neg(s)) over the "
    "distinct-score table (ties count half, exactly). ONE corpus scan "
    "collapses to per-score (pos, neg) counts — map-side combinable — "
    "then a running negative count over the fixed-point score GRID "
    "(bounded by the classifier's arithmetic, ~1e5 rows, not the "
    "corpus) finishes the statistic; the all-pairs n_pos*n_neg "
    "comparison the definition implies never executes. 2U is staged "
    "in DECIMAL(38,0)/HUGEINT (it passes BIGINT at ~4e9 docs); the "
    "output auc_e6 <= 1e6 is BIGINT at any scale. Complements the "
    "PR-curve entry: threshold-free global ranking quality (fixture: "
    "0.6826), exact to the last integer digit.",
    tags=("text", "quality", "classifier", "eval", "ranking"),
)
def classifier_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spread(load_table(spark, sf_dir, "documents").select("text"))
    f = token_features(d)
    score = F.when(F.col("t") == 0, F.lit(0).cast("long")).otherwise(
        F.lit(W_STOP) * F.expr(f"(s * {FP_SCALE}) div t")
        + F.lit(W_TTR) * F.expr(f"(u * {FP_SCALE}) div t")
        + F.lit(W_LEN) * F.expr(f"(c * {LEN_SCALE}) div t")
    )
    label = (
        (F.col("t").between(20, 400) & (F.col("s") * 10 >= F.col("t")))
        .cast("long")
    )
    per = (
        f.select(score.alias("score"), label.alias("label"))
        .groupBy("score")
        .agg(
            F.sum("label").alias("pos"),
            (F.count(F.lit(1)) - F.sum("label")).alias("neg"),
        )
    )
    # running sum over the GRID-bounded distinct-score table: the
    # unpartitioned window is safe because its input is bounded by the
    # classifier's fixed-point arithmetic (~1e5 rows), not the corpus
    w = Window.orderBy(F.asc("score")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = per.select(
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w), F.lit(0)).alias("neg_below"),
    )
    # 2U accumulates in DECIMAL(38,0) (BIGINT dies at ~4e9 docs); the
    # single floor division emits the bounded BIGINT auc_e6
    return cum.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.count(F.lit(1)).cast("long").alias("n_scores"),
        F.expr(
            "CAST((SUM(CAST(pos AS DECIMAL(38,0)) * (2 * neg_below + neg))"
            f" * {AUC_SCALE // 2})"
            " div (SUM(CAST(pos AS DECIMAL(38,0))) * SUM(neg)) AS BIGINT)"
        ).alias("auc_e6"),
    )


# --- round 12: isotonic (PAV) calibration of the classifier ---------------
#
# The step between a trained quality classifier and a usable sampling
# probability: raw scores are NOT probabilities, and the standard
# fix (Zadrozny & Elkan 2002) is isotonic regression of the empirical
# label rate onto the score order — pool-adjacent-violators (PAV).
# PAV's textbook form is a sequential stack, but its SOLUTION has a
# closed relational characterization (the minimax theorem of isotonic
# L2 regression, Ayer et al. 1955; Robertson-Wright-Dykstra):
#
#   fit(k) = max_{i <= k} min_{j >= k} mean(label over bins i..j)
#
# which is pure joins + aggregates over prefix sums — no recursion, no
# UDF, and both engines replay it bit-identically in exact integer
# arithmetic. Scores coarsen to BIN-domain-bounded reliability bins
# (score div CAL_BINW — bounded by the classifier's fixed-point score
# range, NOT the corpus), so the triangular pair/triple joins are
# B^2/B^3 over B <= ~30 rows: constant work at any corpus size, while
# the only corpus-sized stage is the one scan that bins (score, label).
#
# Exactness of the fixed point: bin means are distinct fractions with
# denominators <= corpus docs n, so two distinct means differ by
# >= 1/n^2; the e12 truncation keeps them strictly ordered for
# n <= 1e6 docs and the max-min over truncated values equals the
# truncated max-min. (Past that, raise the fixed point with the
# corpus; the fixture SFs sit 5+ orders inside the bound.)

CAL_BINW = 1_000  # reliability-bin width in score fixed-point units
CAL_FP = 10**12

_CAL_SCORED_SQL = f"""f AS (
      SELECT len(toks) AS t,
        {T.stopword_hits_sql("toks")}
          AS s,
        len(list_distinct(toks)) AS u,
        COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS c
      FROM (SELECT {T.tokens_sql()} AS toks FROM documents)
    ), scored AS (
      SELECT
        CASE WHEN t = 0 THEN 0 ELSE
          {W_STOP} * ((s * {FP_SCALE}) // t)
          + {W_TTR} * ((u * {FP_SCALE}) // t)
          + {W_LEN} * ((c * {LEN_SCALE}) // t)
        END AS score,
        CASE WHEN t BETWEEN 20 AND 400 AND s * 10 >= t
             THEN 1 ELSE 0 END AS label
      FROM f
    )"""


@_add(
    "classifier_isotonic_calibration",
    f"""
    WITH {_CAL_SCORED_SQL}, b AS (
      SELECT score // {CAL_BINW} AS bin,
             SUM(label) AS pos, COUNT(*) AS cnt
      FROM scored GROUP BY 1
    ), pre AS (
      SELECT bin, pos, cnt,
             SUM(pos) OVER (ORDER BY bin) AS p,
             SUM(cnt) OVER (ORDER BY bin) AS c
      FROM b
    ), pairs AS (
      SELECT a.bin AS i, z.bin AS j,
             ((z.p - a.p + a.pos) * {CAL_FP})
               // (z.c - a.c + a.cnt) AS m
      FROM pre a JOIN pre z ON a.bin <= z.bin
    ), mins AS (
      SELECT k.bin AS bin, pr.i AS i, MIN(pr.m) AS mn
      FROM pairs pr JOIN pre k
        ON pr.i <= k.bin AND k.bin <= pr.j
      GROUP BY 1, 2
    ), fit AS (
      SELECT bin, MAX(mn) AS fit FROM mins GROUP BY bin
    )
    SELECT CAST(b.bin AS BIGINT) AS score_bin,
           CAST(b.cnt AS BIGINT) AS docs,
           CAST(b.pos AS BIGINT) AS pos,
           CAST((b.pos * {CAL_FP}) // b.cnt AS BIGINT) AS rate_e12,
           CAST(ft.fit AS BIGINT) AS fit_e12,
           CAST(CASE WHEN LAG(ft.fit) OVER (ORDER BY b.bin) IS NULL
                     OR ft.fit >= LAG(ft.fit) OVER (ORDER BY b.bin)
                THEN 1 ELSE 0 END AS INT) AS monotone_ok
    FROM b JOIN fit ft ON ft.bin = b.bin
    ORDER BY score_bin ASC
    """,
    doc="Isotonic (PAV) calibration of the quality classifier — the "
    "score-to-probability step every classifier-gated sampling "
    "pipeline needs: empirical label rates per reliability bin "
    f"(score div {CAL_BINW}; the fixture has 5-7 adjacent-rate "
    "VIOLATIONS at every SF, so the pooling is non-vacuous) fitted "
    "by the closed minimax form of isotonic L2 regression, "
    "fit(k) = max over i<=k of min over j>=k of mean(label, bins "
    "i..j) — PAV's exact solution as joins + aggregates over prefix "
    "sums, no sequential stack, no UDF, replayed bit-identically by "
    "both engines in e12 integer fixed point (distinct bin means "
    "stay strictly ordered under truncation for corpora to 1e6 "
    "docs). The per-row monotone_ok flag pins the defining "
    "invariant. Scale: the only corpus-sized stage is one scan "
    "binning (score, label); the triangular pair/triple joins are "
    "B^2/B^3 over a SCORE-domain-bounded bin table (B <= ~30 — "
    "bounded by the classifier's fixed-point range, not the corpus), "
    "so calibration is constant work on top of the scan at 100 TB.",
    tags=("classifier", "calibration", "isotonic", "quality"),
)
def classifier_isotonic_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    d = spread(load_table(spark, sf_dir, "documents").select("text"))
    f = token_features(d)
    score = F.when(F.col("t") == 0, F.lit(0).cast("long")).otherwise(
        F.lit(W_STOP) * F.expr(f"(s * {FP_SCALE}) div t")
        + F.lit(W_TTR) * F.expr(f"(u * {FP_SCALE}) div t")
        + F.lit(W_LEN) * F.expr(f"(c * {LEN_SCALE}) div t")
    )
    label = (
        (F.col("t").between(20, 400) & (F.col("s") * 10 >= F.col("t")))
        .cast("long")
    )
    # the one corpus-sized stage: bin (score, label); everything after
    # operates on the score-domain-bounded bin table
    b = (
        f.select(score.alias("score"), label.alias("label"))
        .groupBy(F.expr(f"score div {CAL_BINW}").alias("bin"))
        .agg(
            F.sum("label").alias("pos"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .localCheckpoint()  # <= ~30 rows; feeds pre, the triple join
        # and the output assembly
    )
    # unpartitioned running sums are safe here for the same reason as
    # classifier_roc_auc's: the input is bin-domain-bounded, not the
    # corpus
    wcum = Window.orderBy(F.asc("bin")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = b.select(
        "bin",
        "pos",
        "cnt",
        F.sum("pos").over(wcum).alias("p"),
        F.sum("cnt").over(wcum).alias("c"),
    )
    a = pre.alias("a")
    z = pre.alias("z")
    m = F.expr(
        f"CAST((CAST(z.p - a.p + a.pos AS DECIMAL(38,0)) * {CAL_FP})"
        " div CAST(z.c - a.c + a.cnt AS DECIMAL(38,0)) AS BIGINT)"
    )
    pairs = a.join(z, F.col("a.bin") <= F.col("z.bin")).select(
        F.col("a.bin").alias("i"), F.col("z.bin").alias("j"), m.alias("m")
    )
    k = pre.select(F.col("bin").alias("k"))
    mins = (
        pairs.join(
            k, (F.col("i") <= F.col("k")) & (F.col("k") <= F.col("j"))
        )
        .groupBy("k", "i")
        .agg(F.min("m").alias("mn"))
    )
    fit = mins.groupBy("k").agg(F.max("mn").alias("fit"))
    wlag = Window.orderBy(F.asc("score_bin"))
    out = (
        b.join(fit, b["bin"] == fit["k"])
        .select(
            F.col("bin").cast("long").alias("score_bin"),
            F.col("cnt").cast("long").alias("docs"),
            F.col("pos").cast("long").alias("pos"),
            F.expr(
                f"CAST((CAST(pos AS DECIMAL(38,0)) * {CAL_FP})"
                " div CAST(cnt AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("rate_e12"),
            F.col("fit").cast("long").alias("fit_e12"),
        )
    )
    return out.select(
        "*",
        F.when(
            F.lag("fit_e12").over(wlag).isNull()
            | (F.col("fit_e12") >= F.lag("fit_e12").over(wlag)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("monotone_ok"),
    ).orderBy(F.asc("score_bin"))
