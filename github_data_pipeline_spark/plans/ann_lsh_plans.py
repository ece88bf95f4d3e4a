"""Random-hyperplane LSH ANN — the bucketed similarity-search scale
path that needs no learned structure (complement of ann_topk's IVF
variant, which probes a coarse cell).

Signed-random-projection LSH: bit_j = sign(<v, plane_j>) over
``_N_PLANES`` fixed hyperplanes; vectors agreeing on every bit share a
bucket, and the probe is an equi-join on the bucket id — cost scales
with bucket occupancy, never corpus size. Collision probability is
1 - angle/pi per bit (Charikar 2002, SimHash for cosine), so bucket
mates are angularly close and exact cosine re-ranks the candidates.

Engine-neutral determinism: the planes' ±1 entries derive from md5
parity at module load (hashlib) and are embedded as literals in BOTH
the Spark expression and the DuckDB oracle — no RNG, no engine hash.
The signed dot folds in array order on both engines (the
functions/vectors.py convention), so even the bucket-boundary sign
tests are bit-identical.

The local cell-exact checker and bench cover it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..functions.lsh import bucket_col, duck_bucket
from ..sources.tables import load_table
from .core import REGISTRY
from .similarity_plans import N_QUERIES, TOP_K, _duck_cos

_add = REGISTRY.add

_N_PLANES = 6  # 64 buckets: keeps buckets populated at every test SF


def _bucket_col(vec) -> F.Column:
    return bucket_col(vec, _N_PLANES)


def _duck_bucket(tbl: str) -> str:
    return duck_bucket(tbl, _N_PLANES)


@_add(
    "ann_lsh_topk",
    f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {_duck_bucket('embeddings')} AS bucket
      FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_duck_cos('q', 'c')} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_duck_cos('q', 'c')} DESC, c.vec_id ASC
             ) AS rank
      FROM bucketed q
      JOIN bucketed c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(rank AS BIGINT) AS rank,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           cosine
    FROM scored WHERE rank <= {TOP_K}
    """,
    doc="ANN top-k via random-hyperplane LSH buckets: "
    f"{_N_PLANES} md5-derived ±1 hyperplanes give a "
    f"{1 << _N_PLANES}-bucket space; the probe is an equi-join on the "
    "bucket id (like SimHash's prefix band), so candidate cost tracks "
    "bucket occupancy, not corpus size — and unlike the IVF variant "
    "it needs no training pass. Bucketing is one map-side fold per "
    "vector; exact cosine re-ranks bucket mates with deterministic "
    "tie-breaks.",
    tags=("similarity", "ann", "lsh"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    bucketed = e.select(
        "vec_id",
        "label",
        "embedding",
        _bucket_col("embedding").alias("bucket"),
    )
    return _topk(
        bucketed,
        "lsh",
        (F.col("bucket") == F.col("qbucket"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).select("query_id", "rank", "neighbor_id", "cosine")


def _topk(e: DataFrame, method: str, join_cond) -> DataFrame:
    """Shared top-k shape: broadcast query set against a (vec_id,
    label, embedding, bucket) relation, exact cosine, deterministic
    rank. Returns (method, query_id, rank, neighbor_id, cosine);
    callers project the columns they report."""
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("bucket").alias("qbucket"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qvec"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), "bucket", "label", "embedding"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        c.join(F.broadcast(q), join_cond)
        .select(
            "query_id",
            "neighbor_id",
            V.cosine("qvec", "embedding").alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            F.lit(method).alias("method"),
            F.col("query_id").cast("long").alias("query_id"),
            F.col("rank").cast("long").alias("rank"),
            F.col("neighbor_id").cast("long").alias("neighbor_id"),
            "cosine",
        )
    )


IVF_PROBE_WIDTHS = (1, 2, 4)  # nearest-P centroid cells; nested sets
_NANO = 1_000_000_000
_DIM = 64


def _duck_cent_cos(q: str, cvec: str) -> str:
    """Cosine of an embedding row against a centroid DOUBLE list —
    the same left-fold-in-array-order as functions/vectors.cosine."""
    qq = (
        f"list_reduce(list_transform(generate_series(1, {_DIM}), "
        f"i -> {q}.embedding[i]::DOUBLE * {q}.embedding[i]::DOUBLE), "
        "(x, y) -> x + y)"
    )
    cc = (
        f"list_reduce(list_transform(generate_series(1, {_DIM}), "
        f"i -> {cvec}[i] * {cvec}[i]), (x, y) -> x + y)"
    )
    qc = (
        f"list_reduce(list_transform(generate_series(1, {_DIM}), "
        f"i -> {q}.embedding[i]::DOUBLE * {cvec}[i]), (x, y) -> x + y)"
    )
    return f"({qc} / (sqrt({qq}) * sqrt({cc})))"


def _duck_recall_cte() -> str:
    probe_structs = ", ".join(
        ["{'b': q.bucket, 'h': 0}"]
        + [f"{{'b': xor(q.bucket, {1 << j}), 'h': 1}}" for j in range(_N_PLANES)]
    )
    ctes = [
        f"""
    bucketed AS (
      SELECT vec_id, label, embedding, {_duck_bucket('embeddings')} AS bucket
      FROM embeddings
    )""",
        # nano fixed-point per-label centroid (label_centroids math),
        # widened back to DOUBLE by one constant division
        f"""
    cent AS (
      SELECT label, list(c ORDER BY pos) AS cvec FROM (
        SELECT label, u.i AS pos,
               CAST(CAST(FLOOR(
                 CAST(SUM(CAST(ROUND(embedding[u.i]::DOUBLE * {_NANO})
                          AS BIGINT)) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 AS DOUBLE) / {_NANO} AS c
        FROM embeddings, UNNEST(generate_series(1, {_DIM})) AS u(i)
        GROUP BY label, u.i
      ) GROUP BY label
    )""",
        f"""
    probe AS (
      SELECT query_id, label, prank FROM (
        SELECT q.vec_id AS query_id, c.label,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_duck_cent_cos('q', 'c.cvec')} DESC, c.label ASC
               ) AS prank
        FROM embeddings q CROSS JOIN cent c
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE prank <= {max(IVF_PROBE_WIDTHS)}
    )""",
        f"""
    ivf_pairs AS (
      SELECT p.query_id, c.vec_id AS neighbor_id, p.prank,
             {_duck_cos('q', 'c')} AS cosine
      FROM probe p
      JOIN embeddings q ON q.vec_id = p.query_id
      JOIN embeddings c ON c.label = p.label AND c.vec_id <> p.query_id
    )""",
        f"""
    lsh_pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, u.p.h AS hdist,
             {_duck_cos('q', 'c')} AS cosine
      FROM bucketed q
      CROSS JOIN UNNEST([{probe_structs}]) AS u(p)
      JOIN bucketed c ON c.bucket = u.p.b AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )""",
        f"""
    brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_duck_cos('q', 'c')} DESC, c.vec_id ASC
               ) AS rank
        FROM bucketed q JOIN bucketed c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE rank <= {TOP_K}
    )""",
        f"""
    ivf_own AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_duck_cos('q', 'c')} DESC, c.vec_id ASC
               ) AS rank
        FROM bucketed q
        JOIN bucketed c ON c.label = q.label AND c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE rank <= {TOP_K}
    )""",
    ]
    for p in IVF_PROBE_WIDTHS:
        ctes.append(f"""
    m_ivf_p{p} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC
               ) AS rank
        FROM ivf_pairs WHERE prank <= {p}
      ) WHERE rank <= {TOP_K}
    )""")
    for tag, cond in (("h0", "hdist = 0"), ("h1", "hdist <= 1")):
        ctes.append(f"""
    m_lsh_{tag} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC
               ) AS rank
        FROM lsh_pairs WHERE {cond}
      ) WHERE rank <= {TOP_K}
    )""")
    return ",".join(ctes)


_RECALL_UNION_SQL = "\n      UNION ALL\n      ".join(
    [
        "SELECT 'ivf' AS method, * FROM ivf_own",
        "SELECT 'lsh' AS method, * FROM m_lsh_h0",
    ]
    + [
        f"SELECT 'ivf_p{p}' AS method, * FROM m_ivf_p{p}"
        for p in IVF_PROBE_WIDTHS
    ]
    + ["SELECT 'lsh_h1' AS method, * FROM m_lsh_h1"]
)


def _label_centroids(e: DataFrame) -> DataFrame:
    """(label, cvec ARRAY<DOUBLE>): nano fixed-point mean per dim
    (label_centroids math) widened back to DOUBLE by one constant
    division — exact/order-independent, so both engines agree."""
    comp = e.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "val")
    ).groupBy("label", "pos").agg(
        F.sum(F.round(F.col("val").cast("double") * _NANO).cast("long")).alias(
            "s"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    per_dim = comp.select(
        "label",
        "pos",
        (
            F.floor(F.col("s").cast("double") / F.col("n"))
            .cast("long")
            .cast("double")
            / _NANO
        ).alias("c"),
    )
    return per_dim.groupBy("label").agg(
        F.array_sort(F.collect_list(F.struct("pos", "c")))
        .getField("c")
        .alias("cvec")
    )


def _method_topk(pairs: DataFrame, method: str, cond) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        pairs.filter(cond)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(F.lit(method).alias("method"), "query_id", "neighbor_id")
    )


_RECALL_METHODS = (
    ["ivf"]
    + [f"ivf_p{p}" for p in IVF_PROBE_WIDTHS]
    + ["lsh", "lsh_h1"]
)
_METHODS_SQL = ", ".join(f"'{m}'" for m in _RECALL_METHODS)


@_add(
    "ann_recall",
    f"""
    WITH {_duck_recall_cte()},
    universe AS (
      SELECT u.method, q.vec_id AS query_id
      FROM embeddings q, UNNEST([{_METHODS_SQL}]) AS u(method)
      WHERE q.vec_id < {N_QUERIES}
    ), scored AS (
      SELECT m.method, m.query_id,
             CAST(COUNT(b.neighbor_id) AS BIGINT) AS hits
      FROM (
        {_RECALL_UNION_SQL}
      ) m
      LEFT JOIN brute b
        ON b.query_id = m.query_id AND b.neighbor_id = m.neighbor_id
      GROUP BY m.method, m.query_id
    )
    SELECT un.method, un.query_id,
           CAST(COALESCE(s.hits, 0) AS BIGINT) AS hits,
           CAST(COALESCE(s.hits, 0) AS DOUBLE) / {TOP_K}
             AS recall_at_{TOP_K}
    FROM universe un
    LEFT JOIN scored s
      ON s.method = un.method AND s.query_id = un.query_id
    """,
    doc="Multi-probe ANN quality measurement, in-engine: recall@"
    f"{TOP_K} per query vector and per PROBE WIDTH against the exact "
    "brute-force top-k — the 'measure, don't guess' gate that tells a "
    "production deployment how many probes buy how much recall before "
    "an approximate index replaces an exact scan. IVF probes the "
    f"nearest-P centroid cells (P in {IVF_PROBE_WIDTHS}; cells ranked "
    "by exact cosine to the nano fixed-point label centroid, so the "
    "probe order is deterministic and engine-identical; the sets are "
    "nested, so recall is monotone in P) next to the own-label 'ivf' "
    "single-probe baseline; LSH probes the query's own bucket "
    "('lsh' = Hamming-0) and all Hamming-1 neighbor buckets "
    f"('lsh_h1': {_N_PLANES}+1 bucket equi-joins — flipping one sign "
    "bit per probe, the standard multi-probe trick that buys recall "
    "without more planes). Candidate cosines are computed once per "
    "family at the widest probe and each narrower method re-ranks a "
    "filtered subset, so widening the probe adds no extra corpus "
    "scans. On i.i.d. synthetic vectors single-probe recall is "
    "honestly low (~0.1) and rises with probe width — the measured "
    "dial this gate exists to expose.",
    tags=("similarity", "ann", "recall"),
)
def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    bucketed = e.withColumn("bucket", _bucket_col("embedding"))
    brute = _topk(
        bucketed, "brute", F.col("neighbor_id") != F.col("query_id")
    ).select(
        F.col("query_id").alias("b_query_id"),
        F.col("neighbor_id").alias("true_id"),
    )

    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    # IVF multi-probe: rank cells by centroid cosine, keep nearest-P
    probes = (
        q.crossJoin(F.broadcast(_label_centroids(e)))
        .select(
            "query_id",
            "label",
            "qvec",
            V.cosine("qvec", "cvec").alias("pcos"),
        )
        .withColumn(
            "prank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("pcos"), F.asc("label")
                )
            ),
        )
        .filter(F.col("prank") <= max(IVF_PROBE_WIDTHS))
        .select("query_id", "label", "prank", "qvec")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), "label", "embedding")
    ivf_pairs = (
        c.join(F.broadcast(probes), "label")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "prank",
            V.cosine("qvec", "embedding").alias("cosine"),
        )
    )

    # LSH multi-probe: own bucket (h=0) + one flipped sign bit per
    # plane (h=1) — each candidate matches at most one probe bucket,
    # so no dedup stage is needed
    qb = bucketed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.explode(
            F.array(
                F.struct(
                    F.col("bucket").alias("b"), F.lit(0).alias("h")
                ),
                *[
                    F.struct(
                        F.col("bucket")
                        .bitwiseXOR(F.lit(1 << j))
                        .alias("b"),
                        F.lit(1).alias("h"),
                    )
                    for j in range(_N_PLANES)
                ],
            )
        ).alias("p"),
    )
    cb = bucketed.select(
        F.col("vec_id").alias("neighbor_id"), "bucket", "embedding"
    )
    lsh_pairs = (
        cb.join(F.broadcast(qb), F.col("bucket") == F.col("p.b"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.col("p.h").alias("hdist"),
            V.cosine("qvec", "embedding").alias("cosine"),
        )
    )

    ivf_own = _topk(
        bucketed,
        "ivf",
        (F.col("label") == F.col("qlabel"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).select("method", "query_id", "neighbor_id")
    approx = ivf_own
    for p in IVF_PROBE_WIDTHS:
        approx = approx.unionByName(
            _method_topk(ivf_pairs, f"ivf_p{p}", F.col("prank") <= p)
        )
    approx = approx.unionByName(
        _method_topk(lsh_pairs, "lsh", F.col("hdist") == 0)
    ).unionByName(_method_topk(lsh_pairs, "lsh_h1", F.col("hdist") <= 1))

    hits = (
        approx.join(
            F.broadcast(brute),
            (F.col("query_id") == F.col("b_query_id"))
            & (F.col("neighbor_id") == F.col("true_id")),
            "left",
        )
        .groupBy("method", "query_id")
        .agg(F.count("true_id").alias("hits"))
    )
    # (method x query) universe with explicit zeros: a probe that finds
    # NO candidate for some query must report recall 0, not silently
    # drop the row — otherwise "found nothing" is indistinguishable
    # from "not measured" and downstream per-method averages overstate
    # recall (array-explode universe, no cross join for the audit)
    universe = q.select(
        "query_id",
        F.explode(
            F.array(*[F.lit(m) for m in _RECALL_METHODS])
        ).alias("method"),
    )
    return universe.join(hits, ["method", "query_id"], "left").select(
        "method",
        "query_id",
        F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
        (
            F.coalesce(F.col("hits"), F.lit(0)).cast("double") / TOP_K
        ).alias(f"recall_at_{TOP_K}"),
    )
