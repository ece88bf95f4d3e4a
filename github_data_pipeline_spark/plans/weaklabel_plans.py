"""Registry entry: weak-supervision label aggregation (Snorkel-style).

The step that turns heuristic LABELING FUNCTIONS into training labels
(Ratner et al., "Snorkel: Rapid Training Data Creation with Weak
Supervision", VLDB 2017 — public): K cheap rules each vote
keep(1) / junk(0) / abstain(-1) per document, the votes aggregate by
majority into a per-doc label, and — just as important in practice —
the per-LF diagnostics (coverage, overlap, conflict, majority
agreement) tell the pipeline owner which rules earn their keep. This
is the exact-arithmetic majority baseline of the label-model family
(the learned generative model is a refinement of the same vote
matrix); at 100 TB the vote matrix is the thing you can afford to
materialize, so its shape is what this entry pins.

Scale shape: ONE corpus scan computes all K votes plus the per-doc
pos/neg tallies as map-side expressions; a single 1-row aggregate
folds the K x 6 diagnostic counters (map-side combinable SUM(CASE)),
and the K output rows come from unpivoting THAT row — the corpus is
never exploded K-fold and nothing but the 1-row counter frame moves.
All thresholds are integer ratios (Spark div-free comparisons ==
DuckDB), so every cell is hash-exact.

The five LFs are deliberately heterogeneous: two can vote both ways
(stopword density, type diversity), one is positive-or-abstain with
near-full coverage (token length), one negative-lane-dormant on this
fixture (length band — the dormancy itself is a diagnostic the report
surfaces), and one is metadata-only (lang == 'en'). The fixture
yields real conflicts (stopword-junk vs length-keep disagreements),
pinned non-vacuous by tests/test_r12_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..sources.tables import load_table, spread
from .classifier_plans import token_features
from .core import REGISTRY

#: coverage fixed point: 1.0 -> 1e6
WL_FP = 10**6

#: (name, DuckDB vote expression over the feature CTE columns
#: t/s/u/c/lang) — the Spark twin builds the same votes from the same
#: integer features; keep the two in sync
LF_SQL: list[tuple[str, str]] = [
    (
        "lf_length",
        "CASE WHEN t BETWEEN 20 AND 400 THEN 1 "
        "WHEN t < 20 THEN 0 ELSE -1 END",
    ),
    (
        "lf_stopword",
        "CASE WHEN t >= 10 AND s * 10 >= t THEN 1 "
        "WHEN t >= 10 AND s = 0 THEN 0 ELSE -1 END",
    ),
    (
        "lf_diversity",
        "CASE WHEN t >= 10 AND u * 10 >= t * 8 THEN 1 "
        "WHEN t >= 10 AND u * 10 < t * 3 THEN 0 ELSE -1 END",
    ),
    (
        "lf_tokenlen",
        "CASE WHEN t > 0 AND c * 10 BETWEEN t * 30 AND t * 80 THEN 1 "
        "WHEN t > 0 AND c * 10 > t * 100 THEN 0 ELSE -1 END",
    ),
    (
        "lf_lang_en",
        "CASE WHEN lang = 'en' THEN 1 ELSE -1 END",
    ),
]

_K = len(LF_SQL)


def _per_lf_counters_sql() -> str:
    cols = []
    for i, (_name, _expr) in enumerate(LF_SQL):
        v = f"v{i}"
        cols += [
            f"SUM(CASE WHEN {v} <> -1 THEN 1 ELSE 0 END) AS votes_{i}",
            f"SUM(CASE WHEN {v} = 1 THEN 1 ELSE 0 END) AS pos_{i}",
            f"SUM(CASE WHEN {v} = 0 THEN 1 ELSE 0 END) AS neg_{i}",
            # overlap: this LF voted AND at least one other LF voted
            f"SUM(CASE WHEN {v} <> -1 AND n_votes >= 2 THEN 1 ELSE 0 END)"
            f" AS overlap_{i}",
            # conflict: this LF voted and some other non-abstaining LF
            # voted the OTHER way
            f"SUM(CASE WHEN ({v} = 1 AND neg_votes > 0)"
            f" OR ({v} = 0 AND pos_votes > 0) THEN 1 ELSE 0 END)"
            f" AS conflict_{i}",
            # agreement with the final majority label (labeled docs)
            f"SUM(CASE WHEN {v} <> -1 AND {v} = final THEN 1 ELSE 0 END)"
            f" AS agree_{i}",
        ]
    return ", ".join(cols)


@REGISTRY.add(
    "weak_label_vote_report",
    f"""
    WITH f AS (
      SELECT lang, len(toks) AS t,
        {T.stopword_hits_sql("toks")}
          AS s,
        len(list_distinct(toks)) AS u,
        COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS c
      FROM (SELECT lang, {T.tokens_sql()} AS toks FROM documents)
    ), votes AS (
      SELECT {", ".join(f"({expr}) AS v{i}"
                        for i, (_n, expr) in enumerate(LF_SQL))}
      FROM f
    ), tallied AS (
      SELECT *,
        {" + ".join(f"(CASE WHEN v{i} = 1 THEN 1 ELSE 0 END)"
                    for i in range(_K))} AS pos_votes,
        {" + ".join(f"(CASE WHEN v{i} = 0 THEN 1 ELSE 0 END)"
                    for i in range(_K))} AS neg_votes
      FROM votes
    ), finals AS (
      SELECT *,
        pos_votes + neg_votes AS n_votes,
        CASE WHEN pos_votes > neg_votes THEN 1
             WHEN neg_votes > pos_votes THEN 0 ELSE -1 END AS final
      FROM tallied
    ), counters AS (
      SELECT COUNT(*) AS docs, {_per_lf_counters_sql()} FROM finals
    )
    {" UNION ALL ".join(
        f"SELECT '{name}' AS lf,"
        f" CAST(votes_{i} AS BIGINT) AS votes,"
        f" CAST((votes_{i} * {WL_FP}) // docs AS BIGINT) AS coverage_e6,"
        f" CAST(pos_{i} AS BIGINT) AS pos,"
        f" CAST(neg_{i} AS BIGINT) AS neg,"
        f" CAST(overlap_{i} AS BIGINT) AS overlaps,"
        f" CAST(conflict_{i} AS BIGINT) AS conflicts,"
        f" CAST(agree_{i} AS BIGINT) AS majority_agree"
        f" FROM counters"
        for i, (name, _e) in enumerate(LF_SQL)
    )}
    ORDER BY lf ASC
    """,
    doc=f"Weak-supervision label aggregation (Snorkel-family majority "
    f"baseline): {_K} heterogeneous labeling functions — length band, "
    "stopword density, type diversity, mean token length, metadata "
    "lang — each vote keep/junk/abstain per document in exact integer "
    "ratios; per-doc majority resolves the training label, and the "
    "report emits the per-LF diagnostics every weak-supervision "
    "pipeline triages by: coverage, positive/negative counts, overlap "
    "(voted alongside another LF), conflict (contradicted by another "
    "non-abstaining LF — real on this fixture: stopword-junk vs "
    "length-keep disagreements), and majority agreement. ONE corpus "
    "scan computes all votes + per-doc tallies map-side, one 1-row "
    "SUM(CASE) aggregate folds the K x 6 counters, and the K output "
    "rows unpivot THAT row — the corpus is never exploded K-fold, the "
    "100 TB shape for vote-matrix analysis. Cell-exact: every "
    "threshold is an integer-ratio comparison identical in both "
    "engines.",
    tags=("training", "weak-supervision", "labels", "report"),
)
def weak_label_vote_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(
        load_table(spark, sf_dir, "documents").select("lang", "text")
    )
    f = token_features(d, "lang")
    # the same vote expressions, evaluated by Spark SQL over the same
    # integer features (LF_SQL is the single source of truth)
    votes = f.select(
        *[
            F.expr(expr).cast("int").alias(f"v{i}")
            for i, (_n, expr) in enumerate(LF_SQL)
        ]
    )
    pos_votes = sum(
        F.when(F.col(f"v{i}") == 1, 1).otherwise(0) for i in range(_K)
    )
    neg_votes = sum(
        F.when(F.col(f"v{i}") == 0, 1).otherwise(0) for i in range(_K)
    )
    finals = votes.select(
        "*",
        pos_votes.alias("pos_votes"),
        neg_votes.alias("neg_votes"),
        (pos_votes + neg_votes).alias("n_votes"),
        F.when(pos_votes > neg_votes, F.lit(1))
        .when(neg_votes > pos_votes, F.lit(0))
        .otherwise(F.lit(-1))
        .alias("final"),
    )
    counters = finals.agg(
        F.count(F.lit(1)).alias("docs"),
        *[
            F.expr(e).alias(a)
            for i in range(_K)
            for e, a in (
                (f"SUM(CASE WHEN v{i} <> -1 THEN 1 ELSE 0 END)", f"votes_{i}"),
                (f"SUM(CASE WHEN v{i} = 1 THEN 1 ELSE 0 END)", f"pos_{i}"),
                (f"SUM(CASE WHEN v{i} = 0 THEN 1 ELSE 0 END)", f"neg_{i}"),
                (
                    f"SUM(CASE WHEN v{i} <> -1 AND n_votes >= 2"
                    " THEN 1 ELSE 0 END)",
                    f"overlap_{i}",
                ),
                (
                    f"SUM(CASE WHEN (v{i} = 1 AND neg_votes > 0)"
                    f" OR (v{i} = 0 AND pos_votes > 0)"
                    " THEN 1 ELSE 0 END)",
                    f"conflict_{i}",
                ),
                (
                    f"SUM(CASE WHEN v{i} <> -1 AND v{i} = final"
                    " THEN 1 ELSE 0 END)",
                    f"agree_{i}",
                ),
            )
        ],
    )
    # unpivot the single counter row to K diagnostic rows (stack
    # lowers to one Expand over ONE row)
    stack_args = ", ".join(
        f"'{name}', votes_{i}, CAST((votes_{i} * {WL_FP}) div docs"
        f" AS BIGINT), pos_{i}, neg_{i}, overlap_{i}, conflict_{i},"
        f" agree_{i}"
        for i, (name, _e) in enumerate(LF_SQL)
    )
    return (
        counters.select(
            F.expr(
                f"stack({_K}, {stack_args}) AS (lf, votes, coverage_e6,"
                " pos, neg, overlaps, conflicts, majority_agree)"
            )
        )
        .select(
            "lf",
            F.col("votes").cast("long").alias("votes"),
            "coverage_e6",
            F.col("pos").cast("long").alias("pos"),
            F.col("neg").cast("long").alias("neg"),
            F.col("overlaps").cast("long").alias("overlaps"),
            F.col("conflicts").cast("long").alias("conflicts"),
            F.col("majority_agree").cast("long").alias("majority_agree"),
        )
        .orderBy(F.asc("lf"))
    )
