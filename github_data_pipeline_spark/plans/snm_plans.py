"""Registry entry: sorted-neighborhood near-dup discovery (SNM).

The sixth dedup design point (after exact hash, MinHash-LSH, df-capped
postings, prefix-filter exact join, SimHash, and embedding LSH): the
classic sorted-neighborhood method (Hernandez & Stolfo 1995) — derive
a blocking key per record, SORT the corpus by it, and compare only
records within a fixed window of the sorted order. Candidates are
bounded by corpus_size x (window-1) x passes BY CONSTRUCTION — no
posting lists, no hash tables, no quadratic anything — which is why
SNM remains the method of choice when records are short and keys are
discriminating (entity resolution, log dedup).

Honest recall frame: SNM finds a pair only if some pass sorts its two
members within the window. The standard mitigation is multiple passes
with INDEPENDENT keys; this entry runs two (smallest-3-tokens and
largest-3-tokens of each doc's distinct token set — near-identical
docs share both ends of their sorted vocabulary), then exact-verifies
every candidate with the same 3-gram Jaccard >= 4/5 predicate the
exact-join entries use. The output is the verified pairs SNM
DISCOVERS — the method's contract, stated as data; corpus-complete
discovery is the prefix-filter entry's job one module over.

Scale shape: each pass is one range-sort keyed by (block, key) — the
window runs PARTITIONED by a short key prefix, so no task ever holds
more than one block and the lead() scan is sequential within sorted
runs (the production form range-partitions on the key itself and
overlaps w boundary rows per partition; the block-prefix form here is
the fully-declarative rendering of the same bound). Verification
joins candidate ids against per-doc hashed shingle arrays — only
candidates move.

The DuckDB oracle replays BOTH passes with the identical window
machinery (lead() over the same partition/order) and the identical
verify predicate — cell-exact, no heuristic slack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators.neardup import shingle_sets_sql
from ..sources.tables import load_table, spread
from .core import REGISTRY
from .dedup_plans import PPJ_T_DEN, PPJ_T_NUM, shingle_h120

#: window span (each record compares to the next W-1 in sorted order)
SNM_W = 4
#: window-partition block = this many leading chars of the sort key
SNM_BLOCK_CHARS = 1


def _key_sql(largest: bool) -> str:
    arr = f"list_sort(list_distinct({T.tokens_sql()}))"
    if largest:
        arr = f"list_reverse({arr})"
    return f"array_to_string(list_slice({arr}, 1, 3), ' ')"


def _pass_sql(largest: bool) -> str:
    leads = ", ".join(
        f"lead(doc_id, {i}) OVER w AS b{i}" for i in range(1, SNM_W)
    )
    unions = " UNION ALL ".join(
        f"SELECT doc_id AS a, b{i} AS b FROM ranked WHERE b{i} IS NOT NULL"
        for i in range(1, SNM_W)
    )
    return f"""
    SELECT LEAST(a, b) AS doc_a, GREATEST(a, b) AS doc_b FROM (
      WITH ranked AS (
        SELECT doc_id, {leads}
        FROM (SELECT doc_id, {_key_sql(largest)} AS k FROM documents)
        WINDOW w AS (PARTITION BY substr(k, 1, {SNM_BLOCK_CHARS})
                     ORDER BY k, doc_id)
      )
      {unions}
    )"""


@REGISTRY.add(
    "snm_neardup_pairs",
    f"""
    WITH cands AS (
      SELECT DISTINCT doc_a, doc_b FROM (
        {_pass_sql(False)}
        UNION ALL
        {_pass_sql(True)}
      )
    ), grams AS (
      {shingle_sets_sql()}
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(ga.g, gb.g)) AS BIGINT) AS inter,
           CAST(len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g))
                AS BIGINT) AS union_size
    FROM cands c
    JOIN grams ga ON ga.doc_id = c.doc_a
    JOIN grams gb ON gb.doc_id = c.doc_b
    WHERE len(list_intersect(ga.g, gb.g)) * {PPJ_T_DEN}
          >= (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)))
             * {PPJ_T_NUM}
    """,
    doc=f"Sorted-neighborhood near-dup discovery (Hernandez-Stolfo "
    f"SNM), two passes with independent blocking keys (smallest-3 / "
    "largest-3 distinct tokens), window "
    f"W={SNM_W} over the sorted order, candidates exact-verified at "
    f"3-gram Jaccard >= {PPJ_T_NUM}/{PPJ_T_DEN} — the sixth dedup "
    "design point: candidate count is bounded by "
    f"corpus x {SNM_W - 1} x 2 BY CONSTRUCTION (no postings, no "
    "hash tables), the right tool when records are short and keys "
    "discriminate. Each pass is one range-sort; the window runs "
    "partitioned by a key prefix so no task holds more than a block "
    "and lead() scans sorted runs sequentially. Recall is honestly "
    "the method's: a pair is found only if a pass sorts it within "
    "the window (corpus-complete discovery is "
    "jaccard_prefix_filter_pairs' contract). Verification joins "
    "candidates against per-doc 120-bit DECIMAL gram-hash arrays "
    "(the shared shingle_h120 key — strings drop before anything "
    "shuffles); the oracle replays both passes with identical window "
    "machinery and intersects the RAW gram strings, so every gate "
    "run is also a live no-collision witness — cell-exact.",
    tags=("dedup", "snm", "window", "documents"),
)
def snm_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.array_sort(F.array_distinct(T.tokens("text")))
    keyed = d.select(
        "doc_id",
        F.array_join(F.slice(toks, 1, 3), " ").alias("k_small"),
        F.array_join(F.slice(F.reverse(toks), 1, 3), " ").alias("k_large"),
    ).localCheckpoint()  # ONE tokenize pass feeds both sort passes

    def snm_pass(key: str) -> DataFrame:
        w = Window.partitionBy(
            F.substring(F.col(key), 1, SNM_BLOCK_CHARS)
        ).orderBy(F.col(key), F.col("doc_id"))
        leads = keyed.select(
            F.col("doc_id").alias("a"),
            *[
                F.lead("doc_id", i).over(w).alias(f"b{i}")
                for i in range(1, SNM_W)
            ],
        )
        pairs = leads.select(
            "a",
            F.explode(
                F.array(*[F.col(f"b{i}") for i in range(1, SNM_W)])
            ).alias("b"),
        ).filter(F.col("b").isNotNull())
        return pairs.select(
            F.least("a", "b").alias("doc_a"),
            F.greatest("a", "b").alias("doc_b"),
        )

    cands = (
        snm_pass("k_small").unionByName(snm_pass("k_large")).distinct()
    )
    # verify against HASHED gram arrays (the shared 120-bit
    # DECIMAL(38,0) key — dedup_plans.shingle_h120): gram strings drop
    # before the candidate join, so no dedup verify path ships raw
    # string arrays (the prefix-filter sibling moved after a measured
    # OOM; SNM's candidates are linear-bounded, but the hashed form is
    # uniform). The ORACLE intersects the raw strings, so every gate
    # run doubles as a live no-collision witness — a collision would
    # shrink a hashed set and fail cell-equality loudly.
    grams = d.select(
        "doc_id",
        F.transform(
            F.array_distinct(T.word_ngrams(T.tokens("text"), 3)),
            lambda s: shingle_h120(s),
        ).alias("g"),
    )
    ga = grams.select(
        F.col("doc_id").alias("doc_a"), F.col("g").alias("ga")
    )
    gb = grams.select(
        F.col("doc_id").alias("doc_b"), F.col("g").alias("gb")
    )
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size("ga") + F.size("gb") - inter
    return (
        cands.join(ga, "doc_a")
        .join(gb, "doc_b")
        .filter(inter * PPJ_T_DEN >= union * PPJ_T_NUM)
        .select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("inter"),
            union.cast("long").alias("union_size"),
        )
    )
