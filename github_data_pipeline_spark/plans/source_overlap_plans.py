"""Source-level shingle overlap — the curation question one level up
from document dedup: how much do whole SOURCES duplicate each other?
A crawl snapshot and a curated dump of the same site, two mirrors, or
a dataset republished inside another one show up as a high-Jaccard
source pair long before per-document near-dup reveals the pattern —
this is the first diagnostic a mixture designer reads before
assigning sampling weights (redundant sources get merged or
down-weighted, not double-counted).

Spark-first shape: one scan shingles the corpus; (source, shingle)
distinct collapses map-side; the pairwise intersection reuses the
posting-list discipline (one shuffle on the shingle, map-side C(m,2)
over the per-shingle SOURCE list). Unlike document postings, the
source list needs no df cap: its length is bounded by |sources| — a
catalog-sized constant (dozens), not a corpus-sized one — so the
worst-case fan-out per shingle is C(|sources|, 2), fixed at plan
time. Per-source distinct-shingle sizes broadcast onto the ≤
C(|sources|, 2)-row pair table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators.neardup import shingle_sets_sql
from ..sources.tables import load_table, spread
from .core import REGISTRY

TOP_PAIRS = 100


@REGISTRY.add(
    "source_shingle_overlap",
    f"""
    WITH ss AS (
      SELECT DISTINCT source, unnest(g) AS s
      FROM ({shingle_sets_sql("source")})
    ), sizes AS (
      SELECT source, COUNT(*) AS n FROM ss GROUP BY 1
    ), postings AS (
      SELECT s, list_sort(list(source)) AS srcs
      FROM ss GROUP BY s
    ), pairs AS (
      SELECT srcs[i] AS src_a, srcs[j] AS src_b, COUNT(*) AS shared
      FROM postings,
           UNNEST(generate_series(1, len(srcs) - 1)) AS u(i),
           UNNEST(generate_series(1, len(srcs))) AS v(j)
      WHERE j > i
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, CAST(shared AS BIGINT) AS shared,
           CAST(sa.n AS BIGINT) AS shingles_a,
           CAST(sb.n AS BIGINT) AS shingles_b,
           CAST((shared * 100) // (sa.n + sb.n - shared) AS BIGINT)
             AS jaccard_pct,
           CAST((shared * 100) // LEAST(sa.n, sb.n) AS BIGINT)
             AS containment_pct
    FROM pairs
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    ORDER BY jaccard_pct DESC, src_a ASC, src_b ASC
    LIMIT {TOP_PAIRS}
    """,
    doc="Pairwise shingle overlap between SOURCES (mixture-design "
    "diagnostic: mirrored/republished sources surface as high-Jaccard "
    "pairs to merge or down-weight before sampling): distinct "
    "(source, 3-gram shingle) pairs collapse map-side, one shuffle "
    "groups per-shingle source lists, pairs generate map-side C(m,2) "
    "— m is bounded by the source CATALOG size, a plan-time constant, "
    "so no df cap is needed where document postings require one. "
    "Integer Jaccard and containment percentages; per-source size "
    "table broadcasts onto the catalog-bounded pair table.",
    tags=("curation", "dedup", "mixture", "source"),
)
def source_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(
        load_table(spark, sf_dir, "documents").select("source", "text")
    )
    ss = (
        T.token_windows(d, T.tokens("text"), 3, "source")
        .select("source", T.window_gram(3).alias("s"))
        .distinct()
    )
    posting = ss.groupBy("s").agg(
        F.array_sort(F.collect_list("source")).alias("srcs")
    )
    # per-source shingle counts DERIVED FROM THE POSTING AGGREGATE:
    # exploding srcs reproduces exactly the distinct (s, source) rows,
    # so the count per source is identical to ss.groupBy(source) — but
    # because this subtree shares posting's shuffle, the planner emits
    # ReusedExchange and the scan+tokenize+3-gram pipeline runs ONCE
    # for the whole query. The r12 shape derived sizes from ss
    # directly and fed two separate broadcasts (sa, sb), which planned
    # the full gram pipeline THREE times (guide §1.2 — don't compute
    # things twice; plans/r13/source_shingle_overlap_{before,after}).
    sizes = (
        posting.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("srcs"),
            lambda x, i: F.transform(
                F.slice(F.col("srcs"), i + F.lit(2), F.size(F.col("srcs"))),
                lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
            ),
        )
    )
    pairs = (
        posting.filter(F.size("srcs") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("shingles_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("shingles_b"))
    return (
        pairs.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared",
            "shingles_a",
            "shingles_b",
            F.expr(
                "(shared * 100L) div (shingles_a + shingles_b - shared)"
            ).alias("jaccard_pct"),
            F.expr(
                "(shared * 100L) div least(shingles_a, shingles_b)"
            ).alias("containment_pct"),
        )
        .orderBy(F.desc("jaccard_pct"), F.asc("src_a"), F.asc("src_b"))
        .limit(TOP_PAIRS)
    )
