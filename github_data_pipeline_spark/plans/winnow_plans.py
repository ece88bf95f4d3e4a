"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
SIGMOD 2003, the MOSS algorithm): hash every character k-gram, then
keep the minimum hash of every w-window of consecutive gram hashes.
The selected set is position-robust — any shared substring of length
>= k + w - 1 between two documents is GUARANTEED to contribute at
least one common fingerprint — while storing only ~2/(w+1) of the
gram hashes, which is what makes fingerprint-join plagiarism/overlap
detection tractable at corpus scale.

Spark-first shape: the gram hashes, the window minima, and the
distinct-fingerprint selection are ALL per-document array expressions
(transform / slice / array_min / array_distinct) — pure codegen, zero
shuffle until the (doc_id, fingerprint) stream aggregates. The pair
query then reuses the posting-list discipline of
``neardup_jaccard_pairs`` (plans/dedup_plans.py): one shuffle on the
fingerprint, df-capped posting lists, map-side C(m,2) pair
generation — no exploded self-join, no quadratic bucket under
boilerplate fingerprints.

The gram hash is the repo-wide md5 32-bit prefix
(functions/hashing.md5_h32), bit-identical in DuckDB, so the oracle
reproduces the exact fingerprint sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.hints import broadcast_if_bounded, parquet_num_rows
from ..sources.tables import load_table, read_parquet_cached_schema, spread
from .artifacts import build_once
from .core import REGISTRY

_add = REGISTRY.add

WIN_K = 8  # character k-gram length
WIN_W = 4  # winnowing window (consecutive gram hashes per window)
# guarantee threshold: any shared substring of this length or longer
# leaves a common fingerprint
WIN_GUARANTEE = WIN_K + WIN_W - 1
WIN_DF_CAP = 10  # fingerprints shared by more docs are boilerplate
WIN_MIN_SHARED = 8  # pair report floor (shared fingerprints)
TOP_DOCS = 200
TOP_PAIRS = 100

# gram hashes as a per-doc BIGINT array; '' docs yield the empty array
# (sequence(1, 0) in Spark is the DESCENDING [1, 0] — hence the guard)
_H_SPARK = (
    f"CASE WHEN length(text) >= {WIN_K} THEN "
    f"transform(sequence(1, length(text) - {WIN_K - 1}), "
    f"i -> conv(substring(md5(substring(text, i, {WIN_K})), 1, 8), 16, 10)"
    "::bigint) ELSE array()::array<bigint> END"
)
# window minima -> distinct fingerprints; slice clips at the array end,
# so a doc with fewer than W grams winnows its whole hash list
_FPS_SPARK = (
    f"array_distinct(transform(sequence(1, greatest(size(h) - {WIN_W - 1},"
    f" 1)), j -> array_min(slice(h, j, {WIN_W}))))"
)

_H_DUCK = (
    f"list_transform(generate_series(1, greatest(length(text) - {WIN_K - 1},"
    " 0)), i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER),"
    f" {WIN_K})), 1, 8)) AS BIGINT))"
)
_FPS_DUCK = (
    f"list_distinct(list_transform(generate_series(1, greatest(len(h) -"
    f" {WIN_W - 1}, 1)), j -> list_min(h[CAST(j AS INTEGER):CAST(j +"
    f" {WIN_W - 1} AS INTEGER)])))"
)

_FP_CTES = f"""
    g AS (
      SELECT doc_id, {_H_DUCK} AS h FROM documents
    ), fp AS (
      SELECT doc_id, len(h) AS n_grams, {_FPS_DUCK} AS fps
      FROM g WHERE len(h) > 0
    )
"""


def _winnowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_grams, fps ARRAY<BIGINT>) for every non-empty doc."""
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return (
        d.withColumn("h", F.expr(_H_SPARK))
        .filter(F.size("h") > 0)
        .select(
            "doc_id",
            F.size("h").cast("long").alias("n_grams"),
            F.expr(_FPS_SPARK).alias("fps"),
        )
    )


def winnowed_fp_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc winnowed fingerprint table, persisted per sf_dir and
    REUSED by both registry consumers (doc_winnow_fingerprints,
    winnow_shared_fp_pairs) — the O(chars) md5 evaluations per document
    dominate the family's cost, and a real pipeline persists the
    fingerprint table next to the corpus instead of re-hashing it per
    downstream job (the verified_pair_artifact pattern,
    plans/dedup_plans.py). Keyed on the governing constants (k, w)."""
    path = build_once(
        sf_dir,
        "winnow_fps",
        ("documents",),
        f"k{WIN_K}w{WIN_W}",
        lambda tmp: _winnowed(spark, sf_dir).write.parquet(tmp),
    )
    return read_parquet_cached_schema(spark, path)


@_add(
    "doc_winnow_fingerprints",
    f"""
    WITH {_FP_CTES}
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(fps) AS BIGINT) AS n_fps,
           CAST((len(fps) * 100) // n_grams AS BIGINT) AS density_pct,
           CAST(list_min(fps) AS BIGINT) AS min_fp
    FROM fp
    ORDER BY doc_id ASC
    LIMIT {TOP_DOCS}
    """,
    doc="Winnowing fingerprint profile (Schleimer et al. 2003): md5 "
    f"32-bit hashes of character {WIN_K}-grams, minimum per "
    f"{WIN_W}-window, distinct selection — any shared substring of "
    f">= {WIN_GUARANTEE} chars is guaranteed a common fingerprint. "
    "Per-doc gram hashing, window minima, and selection are single "
    "array expressions (transform/slice/array_min/array_distinct): "
    "pure whole-stage codegen, zero shuffle, embarrassingly parallel "
    "at any corpus size. The fingerprint table is computed ONCE per "
    "sf_dir and persisted (winnowed_fp_artifact) — the pair query "
    "reuses it instead of re-hashing the corpus. Reports grams, "
    "selected-fingerprint count, integer density, and the min "
    "fingerprint per doc.",
    tags=("text", "fingerprint", "winnowing", "dedup"),
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = winnowed_fp_artifact(spark, sf_dir)
    return (
        w.select(
            "doc_id",
            "n_grams",
            F.size("fps").cast("long").alias("n_fps"),
            F.expr("(size(fps) * 100L) div n_grams").alias("density_pct"),
            F.array_min("fps").cast("long").alias("min_fp"),
        )
        .orderBy(F.asc("doc_id"))
        .limit(TOP_DOCS)
    )


@_add(
    "winnow_shared_fp_pairs",
    f"""
    WITH {_FP_CTES}, postings AS (
      SELECT fp_hash, list_sort(list(doc_id)) AS docs
      FROM (SELECT doc_id, UNNEST(fps) AS fp_hash FROM fp)
      GROUP BY fp_hash
      HAVING COUNT(*) <= {WIN_DF_CAP}
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_fps
      FROM (SELECT UNNEST(docs) AS doc_id FROM postings) GROUP BY 1
    ), pairs AS (
      SELECT docs[i] AS doc_a, docs[j] AS doc_b, COUNT(*) AS shared
      FROM postings,
           UNNEST(generate_series(1, len(docs) - 1)) AS u(i),
           UNNEST(generate_series(1, len(docs))) AS v(j)
      WHERE j > i
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared,
           CAST(sa.n_fps AS BIGINT) AS fps_a,
           CAST(sb.n_fps AS BIGINT) AS fps_b,
           CAST((shared * 100) // LEAST(sa.n_fps, sb.n_fps) AS BIGINT)
             AS containment_pct
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE shared >= {WIN_MIN_SHARED}
    ORDER BY shared DESC, doc_a ASC, doc_b ASC
    LIMIT {TOP_PAIRS}
    """,
    doc="Document-overlap pairs by shared winnowing fingerprints "
    "(MOSS-style plagiarism/near-dup detection): one shuffle groups "
    "the (doc, fingerprint) stream into posting lists, lists longer "
    f"than the df cap ({WIN_DF_CAP}) are dropped as boilerplate, and "
    "each survivor generates its C(m,2) pairs MAP-SIDE (sorted list, "
    "suffix pairing — the neardup_jaccard_pairs discipline), so a "
    "fingerprint shared by 1%% of a 100 TB corpus prunes instead of "
    "exploding. Integer containment = shared/min(|A|,|B|); per-doc "
    "size tables join size-gated (broadcast under the footer-count "
    "bound, keyed shuffle beyond it). Reads the persisted "
    "winnowed_fp_artifact — the expensive per-char hashing runs once "
    "per corpus, not once per consumer.",
    tags=("dedup", "fingerprint", "winnowing"),
)
def winnow_shared_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = winnowed_fp_artifact(spark, sf_dir)
    stream = w.select("doc_id", F.explode("fps").alias("fp_hash"))
    posting = (
        stream.groupBy("fp_hash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") <= WIN_DF_CAP)
    )
    sizes = (
        posting.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_fps"))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("docs"),
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + F.lit(2), F.size(F.col("docs"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    pairs = (
        posting.filter(F.size("docs") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .filter(F.col("shared") >= WIN_MIN_SHARED)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fps").alias("fps_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fps").alias("fps_b"))
    # per-doc size tables are |docs| rows — unbounded at 100 TB, so the
    # broadcast hint is gated on the parquet footer row count (the
    # neardup_jaccard_pairs discipline); over the bound the doc-keyed
    # joins degrade to shuffles and AQE re-broadcasts when small
    n_docs = parquet_num_rows(sf_dir, "documents")
    return (
        pairs.join(broadcast_if_bounded(sa, n_docs), "doc_a")
        .join(broadcast_if_bounded(sb, n_docs), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared",
            "fps_a",
            "fps_b",
            F.expr("(shared * 100L) div least(fps_a, fps_b)").alias(
                "containment_pct"
            ),
        )
        .orderBy(F.desc("shared"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(TOP_PAIRS)
    )
