"""Deduplication operators over ``documents``/``embeddings`` — the
training-data-pipeline core (BASELINE.json north-star): exact hash
dedup, n-gram Jaccard near-dup, MinHash+LSH, SimHash, and
embedding-cosine near-dup.

Every variant is oracle-checked. Hashes are engine-neutral on purpose:
md5-hex prefixes parsed to integers (identical in Spark and DuckDB)
instead of engine-specific hash builtins, so the oracle reproduces the
exact signatures. Production swaps in xxhash64 without any plan change.

Scale design (100 TB):

* exact dedup — one hash-partitioned groupBy on the content hash; the
  hash is computed map-side so the shuffle carries (hash, id) only.
* n-gram Jaccard — one shuffle groups shingles into posting lists
  (capped at NEARDUP_DF_CAP docs, so hot boilerplate shingles are
  pruned, not joined); pairs are generated map-side from each list and
  one more shuffle sums shared counts per pair. No self-join exists in
  the plan, so no shingle — however common — can create a quadratic
  bucket; at scale the exact form still runs best *after* LSH banding
  has cut candidates.
* MinHash LSH — signatures are 16 map-side aggregates over one shingle
  shuffle; banding multiplies rows by bands (4x), and the band join is
  an equi-join whose skew AQE handles; candidate pairs << full cross.
* SimHash — map-side 32 conditional sums per doc, then near-neighbor
  search restricted to a 16-bit prefix band (65k buckets) before the
  hamming filter, avoiding the full cross join.
* embedding near-dup — coarse-partition (label = IVF cell) before the
  quadratic in-cell scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.lsh import (
    MAX_PLANES,
    adaptive_n_planes,
    bucket_col,
    duck_bucket_masked,
)
from ..operators.hints import (
    BROADCAST_MAX_HEAVY_ROWS,
    broadcast_if_bounded,
    parquet_num_rows,
)
from ..operators.neardup import (
    LSH_BUCKET_CAP,
    MINHASH_K,
    SIMHASH_BUCKET_CAP,
    band_index,
    band_index_sql,
    capped_bucket_pairs,
    doc_shingle_stream,
    doc_shingles,
    lsh_candidates_capped,
    minhash_signatures,
    minhash_signatures_sql,
    shingle_sets_sql,
)
from ..sources.tables import load_table, read_parquet_cached_schema, spread
from .artifacts import build_once
from .core import REGISTRY

_add = REGISTRY.add


def _duck_capped_pairs(cap: int, fallback: str = "star") -> str:
    """DuckDB twin of operators/neardup.capped_bucket_pairs over a
    ``buckets(docs)`` CTE (docs list-sorted): all C(m,2) pairs for
    occupancy <= cap; above it, star pairs (first element vs rest) or
    chain pairs (consecutive elements) per ``fallback``."""
    if fallback == "star":
        over = """list_transform(generate_series(2, len(docs)),
             j -> {'a': docs[1], 'b': docs[j]})"""
    else:
        over = """list_transform(generate_series(1, len(docs)-1),
             i -> {'a': docs[i], 'b': docs[i+1]})"""
    return f"""
      SELECT unnest(CASE WHEN len(docs) <= {cap}
        THEN flatten(list_transform(generate_series(1, len(docs)-1),
             i -> list_transform(generate_series(i+1, len(docs)),
                  j -> {{'a': docs[i], 'b': docs[j]}})))
        ELSE {over}
        END) AS p
      FROM buckets
    """


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s): distinct 3-gram shingles per document."""
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return doc_shingles(d)


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


@_add(
    "exact_dedup_reingest",
    """
    WITH reingested AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id, text FROM documents
    ), grouped AS (
      SELECT md5(text) AS content_hash,
             MIN(doc_id) AS keeper_doc_id,
             COUNT(*) AS copies
      FROM reingested GROUP BY md5(text)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS distinct_docs,
           CAST(SUM(copies) AS BIGINT) AS total_rows,
           CAST(SUM(copies - 1) AS BIGINT) AS dropped,
           CAST(SUM(keeper_doc_id) AS BIGINT) AS keeper_id_sum
    FROM grouped
    """,
    doc="Exact content-hash dedup over a simulated double ingest: "
    "groupBy(md5(text)) keeping the smallest id. The hash is computed "
    "map-side; the shuffle carries (hash, id) pairs only — at 100 TB "
    "the text never moves.",
    tags=("dedup", "exact"),
)
def exact_dedup_reingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grouped = (
        d.unionByName(d)
        .select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("copies"),
        )
    )
    return grouped.agg(
        F.count(F.lit(1)).alias("distinct_docs"),
        F.sum("copies").alias("total_rows"),
        F.sum(F.col("copies") - 1).alias("dropped"),
        F.sum("keeper_doc_id").alias("keeper_id_sum"),
    )


# --------------------------------------------------------------------------
# N-gram Jaccard near-dup (exact pairwise via inverted shingle index)
# --------------------------------------------------------------------------


NEARDUP_DF_CAP = 10  # shingles seen in more docs than this are boilerplate


# shared CTE chain: capped-DF shingle index -> exact-jaccard pair
# candidates (neardup_jaccard_pairs emits them scored; the cluster
# query below closes them transitively)
_JACCARD_CTES = f"""ex0 AS (
      SELECT doc_id, unnest(g) AS s FROM ({shingle_sets_sql()})
    ), hot AS (
      SELECT s FROM ex0 GROUP BY s HAVING COUNT(*) > {NEARDUP_DF_CAP}
    ), ex AS (
      SELECT doc_id, s FROM ex0 WHERE s NOT IN (SELECT s FROM hot)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_grams FROM ex GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""


@_add(
    "neardup_jaccard_pairs",
    f"""
    WITH {_JACCARD_CTES}
    SELECT doc_a, doc_b,
           CAST(shared AS BIGINT) AS shared,
           CAST(ga.n_grams + gb.n_grams - shared AS BIGINT) AS union_size,
           CAST(shared AS DOUBLE) / (ga.n_grams + gb.n_grams - shared) AS jaccard
    FROM pairs
    JOIN sizes ga ON ga.doc_id = doc_a
    JOIN sizes gb ON gb.doc_id = doc_b
    WHERE shared * 5 >= (ga.n_grams + gb.n_grams - shared) * 4
    """,
    doc="Exact 3-gram-shingle Jaccard >= 0.8 pairs via an inverted "
    "shingle index, with stopword-shingle pruning: shingles whose "
    "document frequency exceeds NEARDUP_DF_CAP are dropped from the "
    "sets (both sizes and intersections computed post-pruning, "
    "identically in the oracle). Rather than self-joining the exploded "
    "index (which shuffles it twice and re-shingles the corpus per "
    "side), the plan groups shingles into POSTING LISTS — one shuffle "
    "on the shingle — then generates each list's C(m,2) pairs "
    "map-side; the df cap bounds m <= 10, so no list ever fans out "
    "more than 45 pairs and a boilerplate shingle shared by 1%% of a "
    "100 TB corpus cannot create a quadratic bucket (it is pruned, "
    "not joined). The sizes branch reuses the same shingle exchange "
    "(ReusedExchange — the corpus is scanned and shingled ONCE). The "
    "threshold test stays in integers (shared*5 >= union*4) so no "
    "float enters the predicate.",
    tags=("dedup", "jaccard"),
)
def neardup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles(spark, sf_dir)
    # posting list per shingle; lists longer than the df cap are
    # boilerplate and dropped before any pair work
    posting = (
        sh.groupBy("s")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") <= NEARDUP_DF_CAP)
    )
    sizes = (
        posting.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"))
    )
    # map-side pair generation: docs is sorted, so pairing each element
    # with its suffix yields doc_a < doc_b exactly once per shingle
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
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("grams_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("grams_b")
    )
    union_size = F.col("grams_a") + F.col("grams_b") - F.col("shared")
    # The per-doc size tables are |docs| rows — UNBOUNDED at the 100-TB
    # design point, so the broadcast hint is size-gated on the parquet
    # footer row count (a true upper bound on |sizes|, read without a
    # Spark job). Under the bound: broadcast, so the (much larger) pair
    # table never shuffles. Over it: both joins are keyed on doc_a /
    # doc_b, so the planner degrades to a shuffled join that scales,
    # and AQE re-broadcasts at runtime if the actual size allows.
    n_docs = parquet_num_rows(sf_dir, "documents")
    return (
        pairs.join(broadcast_if_bounded(sa, n_docs), "doc_a")
        .join(broadcast_if_bounded(sb, n_docs), "doc_b")
        .filter(F.col("shared") * 5 >= union_size * 4)
        .select(
            "doc_a",
            "doc_b",
            F.col("shared").cast("long").alias("shared"),
            union_size.cast("long").alias("union_size"),
            (F.col("shared").cast("double") / union_size).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding
# --------------------------------------------------------------------------

_SIG_MATCHES_SQL = " + ".join(
    f"(CASE WHEN sa.sig{i} = sb.sig{i} THEN 1 ELSE 0 END)"
    for i in range(MINHASH_K)
)


@_add(
    "minhash_lsh_candidates",
    f"""
    WITH grams AS (
      {shingle_sets_sql()}
    ), ex AS (
      SELECT doc_id, unnest(g) AS s FROM grams
    ), sigs AS (
      {minhash_signatures_sql("ex")}
    ), bands AS (
      {band_index_sql("sigs")}
    ), buckets AS (
      SELECT band, key, list_sort(list(doc_id)) AS docs
      FROM bands GROUP BY band, key HAVING COUNT(*) >= 2
    ), rawpairs AS (
      {_duck_capped_pairs(LSH_BUCKET_CAP)}
    ), cands AS (
      SELECT DISTINCT p.a AS doc_a, p.b AS doc_b FROM rawpairs
    )
    SELECT c.doc_a, c.doc_b,
           CAST(({_SIG_MATCHES_SQL}) AS BIGINT) AS matching_components,
           CAST(({_SIG_MATCHES_SQL}) AS DOUBLE) / {MINHASH_K}
             AS estimated_jaccard,
           CAST(len(list_intersect(ga.g, gb.g)) AS BIGINT) AS shared,
           CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
             / (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)))
             AS exact_jaccard
    FROM cands c
    JOIN sigs sa ON sa.doc_id = c.doc_a
    JOIN sigs sb ON sb.doc_id = c.doc_b
    JOIN grams ga ON ga.doc_id = c.doc_a
    JOIN grams gb ON gb.doc_id = c.doc_b
    """,
    doc="The full 100 TB near-dup path in one plan: MinHash (k=16, "
    "md5-derived shingle hashes, 16 affine permutations mod 1e9+7) "
    "banded 4x4 into LSH buckets; candidate pairs share at least one "
    "band; then each CANDIDATE (and only candidates — the exact stage "
    "never sees a non-candidate pair) is verified with the exact "
    "shingle-set intersection, reported next to the unbiased signature "
    "estimator (matching components / k) — the recall/precision dial "
    "for choosing k and band shape. Signatures are 16 map-side MINs "
    "over one shingle shuffle; candidates come from CAPPED bucket "
    "posting lists (all pairs at occupancy <= LSH_BUCKET_CAP, star "
    "pairs above — a boilerplate mega-cluster links every member to "
    "its minimum instead of exploding C(m,2), preserving connectivity "
    "for cluster resolution), and the verify join moves only candidate "
    "docs' shingle arrays — the structure that makes 100 TB near-dup "
    "linear-ish instead of quadratic even under hot-band skew.",
    tags=("dedup", "minhash", "lsh"),
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    # shingle stream with duplicates kept: the signature MIN is
    # identical over multiset and set. The groupBy exchange carries
    # only (doc_id, 16 partial mins) per task after map-side
    # aggregation.
    sh = doc_shingle_stream(d, distinct=False)
    # materialize the signature table ONCE: every downstream consumer
    # (band index, both verify sides) reads the checkpointed 17-column
    # row of longs instead of re-running the corpus-wide shingle
    # explode + groupBy — previously the cands checkpoint job shingled
    # the corpus and then the final job shingled it AGAIN for sa/sb
    # (ReusedExchange only dedups within a job). Signatures are
    # n_docs x 16 longs (~128 B/doc) — at 100 TB this is the persisted
    # signature table a production pipeline would write anyway.
    sigs = minhash_signatures(sh).localCheckpoint()
    bands = band_index(sigs)
    # candidates are a tiny fraction of the corpus; materializing them
    # too makes the three downstream broadcast uses (cands itself + the
    # two id sets pruning the verify sides) free instead of each
    # re-running the bucket grouping
    cands = lsh_candidates_capped(bands).localCheckpoint()
    # ...but "tiny fraction" still grows LINEARLY with the corpus, so
    # every downstream broadcast hint is size-gated on the exact
    # candidate count (cheap — cands is already materialized). Over the
    # bound, all five joins below carry doc-id equi-keys and degrade to
    # shuffled joins that scale; AQE re-broadcasts at runtime if small.
    n_cands = cands.count()
    # verify stage: the signature and shingle-array lookups become
    # map-side joins that move only candidate docs' data
    sa = sigs.alias("sa")
    sb = sigs.alias("sb")
    matches = None
    for i in range(MINHASH_K):
        term = F.when(
            F.col(f"sa.sig{i}") == F.col(f"sb.sig{i}"), 1
        ).otherwise(0)
        matches = term if matches is None else matches + term
    # shingle arrays are needed ONLY for candidate docs — semi-join the
    # (broadcast-tiny) candidate id sets BEFORE the expensive n-gram
    # compute, so each verify side tokenizes |candidates| docs instead
    # of re-shingling the whole corpus (the sigs pass above remains the
    # single corpus-wide shingle computation).
    ids_a = cands.select(F.col("doc_a").alias("doc_id")).distinct()
    ids_b = cands.select(F.col("doc_b").alias("doc_id")).distinct()
    ga = (
        d.join(broadcast_if_bounded(ids_a, n_cands), "doc_id")
        .select(
            F.col("doc_id").alias("doc_a"),
            F.array_distinct(T.word_ngrams(T.tokens("text"), 3)).alias("ga"),
        )
    )
    gb = (
        d.join(broadcast_if_bounded(ids_b, n_cands), "doc_id")
        .select(
            F.col("doc_id").alias("doc_b"),
            F.array_distinct(T.word_ngrams(T.tokens("text"), 3)).alias("gb"),
        )
    )
    shared = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    union_size = F.size("ga") + F.size("gb") - shared
    # ga/gb rows are bounded by n_cands but carry the distinct-3-gram
    # ARRAYS (~KBs/row) — gate them on the tighter heavy-row bound.
    return (
        sa.join(broadcast_if_bounded(cands, n_cands), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .join(broadcast_if_bounded(ga, n_cands, BROADCAST_MAX_HEAVY_ROWS), "doc_a")
        .join(broadcast_if_bounded(gb, n_cands, BROADCAST_MAX_HEAVY_ROWS), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            matches.cast("long").alias("matching_components"),
            (matches.cast("double") / MINHASH_K).alias("estimated_jaccard"),
            shared.cast("long").alias("shared"),
            (shared.cast("double") / union_size).alias("exact_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

_SIMHASH_BITS = 32
_DUCK_H32 = "CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)"
_BITSUM_COLS_SQL = ",\n      ".join(
    f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN w ELSE -w END) AS b{j}"
    for j in range(_SIMHASH_BITS)
)
_ASSEMBLE_SQL = " + ".join(
    f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_BITS)
)


@_add(
    "simhash_hamming_pairs",
    f"""
    WITH tokc AS (
      SELECT doc_id, tok, COUNT(*) AS w
      FROM (SELECT doc_id, unnest({T.tokens_sql()}) AS tok
            FROM documents)
      GROUP BY doc_id, tok
    ), hashed AS (
      SELECT doc_id, {_DUCK_H32} AS h, w FROM tokc
    ), bitsums AS (
      SELECT doc_id, {_BITSUM_COLS_SQL}
      FROM hashed GROUP BY doc_id
    ), sims AS (
      SELECT doc_id, CAST({_ASSEMBLE_SQL} AS BIGINT) AS simhash FROM bitsums
    ), buckets AS (
      SELECT (simhash >> 16) AS pfx,
             list_sort(list({{'h': simhash, 'd': doc_id}})) AS docs
      FROM sims GROUP BY (simhash >> 16) HAVING COUNT(*) >= 2
    ), rawpairs AS (
      {_duck_capped_pairs(SIMHASH_BUCKET_CAP, fallback="chain")}
    )
    SELECT least(p.a.d, p.b.d) AS doc_a,
           greatest(p.a.d, p.b.d) AS doc_b,
           CAST(bit_count(xor(p.a.h, p.b.h)) AS BIGINT) AS hamming
    FROM rawpairs
    WHERE bit_count(xor(p.a.h, p.b.h)) <= 6
    """,
    doc="32-bit SimHash near-dup: per-token md5-derived hash, "
    "occurrence-weighted bit votes, sign-assembled signature; pairs "
    "must agree on the high-16-bit prefix band (bucketing that avoids "
    "the full cross join) and lie within hamming distance 6. The "
    "signature is one map-side array fold per document (aggregate + "
    "zip_with over the token array) — zero shuffles until the bucket "
    "grouping, vs. the naive explode + two grouped aggregates which "
    "shuffles every (doc, token) pair. Voting ±1 per token occurrence "
    "equals the oracle's ±count per distinct token. Prefix buckets are "
    "OCCUPANCY-CAPPED (SIMHASH_BUCKET_CAP): an oversized bucket "
    "degrades to the signature-sorted consecutive-pair scan (Manku et "
    "al. WWW'07) — equal/near signatures sort adjacent so identical "
    "docs stay paired, where a doc-id star hub could sit hamming>6 "
    "from every member and drop the whole cluster.",
    tags=("dedup", "simhash"),
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Zero-token guard: for NULL text the oracle's unnest produces no
    # row (doc absent), and for empty/whitespace-only text the oracle's
    # list_filter drops the '' token so the doc contributes no hashed
    # rows either — while a map-side fold over an empty/NULL array
    # would emit simhash=0. Both engines must drop zero-token docs
    # identically, so filter on token count, not just NULL.
    d = spread(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(
            F.col("text").isNotNull() & (F.size(T.tokens("text")) > 0)
        )
    )

    def bit_votes(h):  # ±1 vote per bit of one token hash
        return F.array(*[
            F.when(F.shiftright(h, j).bitwiseAND(1) == 1, F.lit(1))
            .otherwise(F.lit(-1))
            for j in range(_SIMHASH_BITS)
        ])

    from ..functions.hashing import md5_h32

    hashes = F.transform(T.tokens("text"), md5_h32)
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), _SIMHASH_BITS),
        lambda acc, h: F.zip_with(acc, bit_votes(h), lambda a, b: a + b),
    )
    voted = d.select("doc_id", votes.alias("votes"))
    simhash = None
    for j in range(_SIMHASH_BITS):
        term = F.when(
            F.element_at(F.col("votes"), j + 1) > 0, F.lit(1 << j)
        ).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    sims = voted.select(
        "doc_id",
        simhash.cast("long").alias("simhash"),
        F.shiftright(simhash.cast("long"), 16).alias("pfx"),
    )
    # posting-list pairs per prefix bucket, occupancy-capped; the
    # payload struct carries each doc's signature so hamming computes
    # map-side with no re-join against sims. Signature-FIRST payload +
    # chain fallback: an oversized prefix bucket degrades to the
    # sorted-fingerprint consecutive scan (equal/near signatures are
    # adjacent, so identical docs stay paired through the hamming
    # filter) — a doc-id star hub could be far from every member and
    # silently drop all of a mega-bucket's true pairs
    pairs = capped_bucket_pairs(
        sims,
        ["pfx"],
        ["simhash", "doc_id"],
        SIMHASH_BUCKET_CAP,
        fallback="chain",
    )
    hamming = F.bit_count(
        F.col("p.a.simhash").bitwiseXOR(F.col("p.b.simhash"))
    )
    return (
        pairs.filter(hamming <= 6)
        .select(
            F.least(F.col("p.a.doc_id"), F.col("p.b.doc_id")).alias("doc_a"),
            F.greatest(F.col("p.a.doc_id"), F.col("p.b.doc_id")).alias("doc_b"),
            hamming.cast("long").alias("hamming"),
        )
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dup (IVF-style coarse partition first)
# --------------------------------------------------------------------------

_DUCK_DOT = (
    "list_reduce(list_transform(generate_series(1, len(a.embedding)), "
    "i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x, y) -> x + y)"
)
_DUCK_NORM = (
    "sqrt(list_reduce(list_transform(generate_series(1, len({v}.embedding)), "
    "i -> {v}.embedding[i]::DOUBLE * {v}.embedding[i]::DOUBLE), (x, y) -> x + y))"
)

# adaptive sub-celling: per-(label, bucket) occupancy stays ~bounded as
# the corpus grows (planes double the bucket count per step). The count
# comparisons are pure integers — no log/ceil float boundary hazard.
# NOTE: the inequality is strict, and sf0.1 ships EXACTLY 2000
# embeddings — on the boundary by coincidence, so n_planes is 0 at
# every test SF and oracle results are unchanged; a regenerated corpus
# crossing the target flips planes on in BOTH engines in lockstep (the
# correctness gate still passes; only bench baselines would shift).
NEARDUP_CELL_TARGET = 2000

_DUCK_NP = " + ".join(
    f"(CASE WHEN COUNT(*) > {NEARDUP_CELL_TARGET * (1 << p)} THEN 1 ELSE 0 END)"
    for p in range(MAX_PLANES)
)


@_add(
    "embedding_neardup_pairs",
    f"""
    WITH np AS (
      SELECT ({_DUCK_NP}) AS np FROM embeddings
    ), bucketed AS (
      SELECT vec_id, label, embedding,
             {duck_bucket_masked('embeddings', 'np.np')} AS bucket
      FROM embeddings, np
    ), scored AS (
      SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_DUCK_DOT} / ({_DUCK_NORM.format(v='a')} * {_DUCK_NORM.format(v='b')})
               AS cosine
      FROM bucketed a JOIN bucketed b
        ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT label, vec_a, vec_b, cosine FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY label ORDER BY cosine DESC, vec_a ASC, vec_b ASC
      ) AS rn FROM scored
    ) WHERE rn <= 3
    """,
    doc="Embedding near-dup candidates: most-similar pairs within a "
    "coarse partition (label plays the IVF cell / LSH bucket), so the "
    "quadratic scan is per-cell, not global. Production applies a "
    "cosine threshold; the query ranks top-3 per cell so the check "
    "stays informative at every scale factor. The dot product is a "
    "left-fold of doubles in array order on both engines — "
    "bit-identical, no UDF (functions/vectors.py). Cells are "
    "ADAPTIVE: when per-label occupancy outgrows NEARDUP_CELL_TARGET, "
    "deterministic hyperplane-LSH sub-buckets (functions/lsh.py) split "
    "each label cell — plane count derives from COUNT(*) via integer "
    "comparisons, identically in both engines, so the measured "
    "30x-corpus blowup of the fixed-cell plan (410 s, exponent 1.6 — "
    "SCALING.md before this change) collapses back to bounded "
    "per-cell work while small corpora keep the exact single-cell "
    "results. The learned-centroid version of the same knob is "
    "operators/clustering.assign_cells.",
    tags=("dedup", "embedding"),
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import vectors as V

    e = load_table(spark, sf_dir, "embeddings")
    # adaptive plane count from the corpus size. e.count() runs one
    # narrow Spark job at builder time (parquet row-group counts, no
    # column data) — the eager cost of making the plan shape follow
    # the data; both engines compute the same integer from the same
    # relation, so bucket widths agree
    n_planes = adaptive_n_planes(e.count(), NEARDUP_CELL_TARGET)
    # precompute each vector's norm once (|rows| folds) instead of
    # twice per pair (|pairs| folds) — identical IEEE result, ~2/3
    # fewer array folds in the quadratic stage
    withnorm = e.select(
        "vec_id",
        "label",
        "embedding",
        V.norm("embedding").alias("nrm"),
        bucket_col("embedding", n_planes).alias("bucket"),
    )
    a = withnorm.alias("a")
    b = withnorm.alias("b")
    cos = V.dot("a.embedding", "b.embedding") / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    scored = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.label").alias("label"),
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        cos.alias("cosine"),
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("cosine"), F.asc("vec_a"), F.asc("vec_b")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("label", "vec_a", "vec_b", "cosine")
    )


# --------------------------------------------------------------------------
# Cluster resolution: connected components over verified near-dup pairs
# --------------------------------------------------------------------------


# The Jaccard >= 0.8 pair set closed into connected components with a
# recursive CTE — shared by neardup_cluster_keepers and the
# leakage-safe split oracle (plans/split_plans.py), which must agree
# on the exact same cluster structure.
COMPONENT_CTES = f"""{_JACCARD_CTES}, jp AS (
      SELECT doc_a, doc_b
      FROM pairs
      JOIN sizes ga ON ga.doc_id = doc_a
      JOIN sizes gb ON gb.doc_id = doc_b
      WHERE shared * 5 >= (ga.n_grams + gb.n_grams - shared) * 4
    ), edges AS (
      SELECT doc_a AS u, doc_b AS v FROM jp
      UNION
      SELECT doc_b AS u, doc_a AS v FROM jp
    ), nodes AS (
      SELECT DISTINCT u AS node FROM edges
    ), reach(node, lab) AS (
      SELECT node, node AS lab FROM nodes
      UNION
      SELECT e.v AS node, r.lab
      FROM reach r JOIN edges e ON e.u = r.node
    ), comp AS (
      SELECT node, MIN(lab) AS component FROM reach GROUP BY node
    )"""


def verified_pair_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified (doc_a, doc_b) Jaccard >= 0.8 pair table, persisted
    per sf_dir and REUSED across its consumers (neardup_cluster_keepers,
    leakage_safe_splits, incremental_split_update) — a real pipeline
    persists this manifest next to the MinHash signature table instead
    of replaying the shingle -> posting-list -> verify pipeline per
    downstream job, and at 100 TB that artifact is tiny (pairs only,
    no text). Keyed on the governing algorithm constants, so editing
    the Jaccard threshold or df cap cannot silently reuse a stale
    table."""
    path = build_once(
        sf_dir,
        "neardup_pairs",
        ("documents",),
        f"jaccard4of5:dfcap{NEARDUP_DF_CAP}",
        lambda tmp: neardup_jaccard_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .write.parquet(tmp),
    )
    return read_parquet_cached_schema(spark, path)


@_add(
    "neardup_cluster_keepers",
    f"""
    WITH RECURSIVE {COMPONENT_CTES}
    SELECT component,
           CAST(COUNT(*) AS BIGINT) AS size,
           CAST(SUM(node) AS BIGINT) AS id_sum,
           CAST(MAX(node) AS BIGINT) AS max_member
    FROM comp GROUP BY component
    """,
    doc="The dedup decision itself, oracle-checked end-to-end: exact "
    "Jaccard >= 0.8 pairs (the neardup_jaccard_pairs semantics, same "
    "DF-capped shingle index) resolved into TRANSITIVE clusters with "
    "the keeper elected as each component's smallest doc_id — pairwise "
    "drop rules over-drop on chains (A~B, B~C without A~C must still "
    "be one cluster). Spark runs the distributed min-label propagation "
    "with pointer jumping (operators/components.py: O(log n) rounds, "
    "labels are (long, long) rows, text never enters the loop); the "
    "oracle closes the same edge set with a recursive CTE — two "
    "entirely different fixpoint algorithms that must land on "
    "identical components, sizes and membership sums. Upgrades "
    "cluster resolution from unit-pinned to driver-verdictable.",
    tags=("dedup", "components"),
)
def neardup_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components

    pairs = verified_pair_artifact(spark, sf_dir)
    comp = connected_components(pairs)
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("size"),
        F.sum("node").alias("id_sum"),
        F.max("node").alias("max_member"),
    )


# --------------------------------------------------------------------------
# Prefix-filtered EXACT Jaccard join (All-Pairs / PPJoin family)
# --------------------------------------------------------------------------
#
# The registry's other near-dup entries trade semantics for scale:
# neardup_jaccard_pairs PRUNES boilerplate shingles (df cap — the
# result is Jaccard over post-pruning sets), MinHash+LSH is
# probabilistic-candidate + exact-verify. This entry is the third
# canonical point in the design space: EXACT threshold Jaccard over
# the TRUE shingle sets, made scalable by PREFIX FILTERING (Chaudhuri
# et al. 2006; Bayardo et al., All-Pairs, WWW 2007; Xiao et al.,
# PPJoin, WWW 2008):
#
#   order every doc's shingles by ascending global document frequency
#   (ties by shingle — a strict total order); if J(x,y) >= t then
#   |x∩y| >= ceil(t|x|), and the smallest common shingle in that
#   order sits within the first |x| - ceil(t|x|) + 1 of x (and
#   symmetrically for y) — so candidate pairs need only be generated
#   from each doc's PREFIX postings. High-df boilerplate shingles
#   sort to the suffix and never generate a single pair; the pruning
#   is PHYSICAL (completeness is a theorem), not semantic.
#
# Cell-equality against the naive all-pairs oracle (self-join over
# the FULL inverted index — the quadratic plan this operator deletes)
# proves exactly that.

#: Jaccard threshold 0.8 as the exact ratio (num, den) — shared by
#: the prefix-length arithmetic and the verify predicate, which the
#: completeness lemma requires.
PPJ_T_NUM, PPJ_T_DEN = 4, 5


def shingle_h120(col: str = "s") -> F.Column:
    """120 md5 bits of a shingle/gram string packed into ONE
    DECIMAL(38,0): two 60-bit hex halves combined as hi*2^60 + lo.

    The canonical hashed-shingle key for every dedup verify path
    (jaccard_prefix_filter_pairs, snm_neardup_pairs, and the tests
    that re-derive prefixes): strings drop before anything shuffles,
    decimals keep the codegen fast paths the 16-byte BINARY form
    misses (measured 10x slower end-to-end), and 2^120 birthday-
    collides at ~10^18 distinct shingles — out of reach where a
    single 60-bit prefix would collide at ~1e9. Factored here so the
    entry, its tests, and sibling plans key on ONE expression instead
    of hand-synced copies.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast(
        "decimal(38,0)"
    ) * F.lit(2**60).cast("decimal(38,0)") + F.conv(
        F.substring(F.md5(col), 16, 15), 16, 10
    ).cast("decimal(38,0)")


@_add(
    "jaccard_prefix_filter_pairs",
    f"""
    WITH ex AS (
      SELECT doc_id, unnest(g) AS s FROM ({shingle_sets_sql()})
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(inter AS BIGINT) AS inter,
           CAST(sa.n + sb.n - inter AS BIGINT) AS union_size,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE inter * {PPJ_T_DEN} >= (sa.n + sb.n - inter) * {PPJ_T_NUM}
    """,
    doc=f"EXACT 3-gram-shingle Jaccard >= "
    f"{PPJ_T_NUM}/{PPJ_T_DEN} join via prefix filtering (All-Pairs/"
    "PPJoin): shingles sort by ascending global df (ties by value — "
    "a strict total order), and only each doc's first "
    "n - ceil(t*n) + 1 shingles emit candidate postings; the lemma "
    "that any qualifying pair shares its SMALLEST-order common "
    "shingle inside both prefixes makes the cut complete, so unlike "
    "the df-capped entry the result is Jaccard over the TRUE sets — "
    "boilerplate shingles sort to the suffix and generate ZERO pairs "
    "instead of being semantically pruned. The PPJoin POSITIONAL "
    "filter then prunes candidates whose shared prefix slots sit too "
    "late for the intersection to reach the threshold (exact integer "
    "bound 1 + min(na-i, nb-j) from the smallest common slot's "
    "positions — provably keeps every qualifying pair; ~9x fewer "
    "pairs reach verify at sf0.1). Candidates dedupe and "
    "exact-verify against per-doc shingle-HASH arrays (120 md5 bits "
    "as one DECIMAL(38,0) — strings drop before anything shuffles, "
    "~8x less verify heap, and collision odds stay negligible past "
    "1e9+ distinct shingles where a 60-bit prefix would birthday; "
    "the raw-string oracle makes every gate run a live no-collision "
    "witness) under the integer predicate "
    "inter*5 >= union*4; the double emits from one division. The "
    "oracle self-joins the FULL inverted index — the quadratic plan "
    "the prefix filter deletes; at 100 TB the candidate stream is "
    "bounded by the (1-t) prefix fraction of the rarest shingles "
    "while the naive plan's hot-shingle buckets are corpus-quadratic. "
    "Semantics bound (measured in the hotband smoke): an exact join's "
    "OUTPUT over a k-member near-identical cluster is C(k,2) by "
    "definition — no exact algorithm shrinks it; mega-cluster corpora "
    "want the df-capped or LSH entries instead.",
    tags=("dedup", "jaccard", "prefix-filter", "exact"),
)
def jaccard_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles(spark, sf_dir)  # (doc_id, s): distinct per doc
    # Drop shingle STRINGS before anything shuffles: 120 bits of the
    # md5 as TWO 60-bit longs packed into one DECIMAL(38,0) — no
    # truncation worth worrying about (a single 60-bit prefix would
    # birthday-collide at ~1e9 distinct shingles, exactly the
    # cardinality a 100-TB corpus exceeds; 2^120 collides at ~10^18,
    # out of reach), ~8x less heap per row than the raw 3-gram
    # strings (which OOMed the verify stage over a 1000-member hot
    # cluster's ~5e5 candidate pairs before this rework), and a FIXED-
    # WIDTH comparable the whole pipeline keys on. The full-16-byte
    # BINARY form was tried first and measured 10x slower end-to-end
    # (binary group/join keys miss the codegen fast paths longs and
    # decimals get). The prefix lemma only needs A strict total order,
    # so (df, h) serves exactly as (df, s) did; and because the ORACLE
    # still self-joins the raw strings, every gate run is also a live
    # no-collision witness — a collision would shrink a hashed set and
    # fail cell-equality loudly, never silently.
    shh = sh.select("doc_id", shingle_h120("s").alias("h"))
    # Document frequency as a COUNT window over the hash-partitioned
    # shingle stream: shh rows are distinct (doc_id, h), so the
    # partition count IS the df — identical to the r12 shape's
    # separate groupBy(h) aggregate joined back, but the
    # scan+tokenize+shingle+md5 pipeline is planned ONCE instead of
    # twice, and the vocab-sized df table (which auto-broadcast at
    # bench scale and cannot broadcast at 100 TB) disappears from the
    # plan. One exchange of shh by h feeds the window; the doc-keyed
    # aggregation is unchanged (guide §1.2/§2.4).
    dfw = F.count(F.lit(1)).over(Window.partitionBy("h"))
    arrs = (
        shh.select("doc_id", "h", dfw.alias("df"))
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("h")))
            ).alias("arr")
        )
        .localCheckpoint()  # doc-bounded; reused by postings + verify
    )
    n = F.size("arr")
    # ceil(t*n) = (NUM*n + DEN-1) div DEN, exact in integers
    keep = n - F.expr(
        f"({PPJ_T_NUM} * size(arr) + {PPJ_T_DEN - 1}) div {PPJ_T_DEN}"
    ) + F.lit(1)
    # Positional postings (PPJoin): each prefix slot carries its doc's
    # set size and its 1-based rank in the (df, h) total order — two
    # ints per row over the plain (h, doc_id) posting.
    postings = arrs.select(
        "doc_id",
        n.alias("n"),
        F.posexplode(F.slice("arr", 1, keep)).alias("i", "p"),
    ).select(
        F.col("p.h").alias("h"), "doc_id", "n", (F.col("i") + 1).alias("pos")
    )
    pa = postings.select(
        "h",
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("na"),
        F.col("pos").alias("ia"),
    )
    pb = postings.select(
        "h",
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("nb"),
        F.col("pos").alias("jb"),
    )
    # Positional filter (Xiao et al., PPJoin): for a qualifying pair
    # the SMALLEST-order common shingle x sits in both prefixes at
    # positions (i*, j*), and every common shingle orders >= x, so
    # inter <= 1 + min(na - i*, nb - j*). Aggregating MIN positions
    # over the observed prefix matches gives min_i <= i*, min_j <= j*
    # (x IS an observed match), which only WEAKENS the bound — the
    # filter can never drop a qualifying pair. Against the plain
    # DISTINCT cut it removes the pairs whose shared prefix slots sit
    # too late to ever reach inter*(DEN+NUM) >= NUM*(na+nb)
    # (equivalent to the verify predicate): measured at sf0.1 the
    # candidate set falls 118,806 -> 12,806 and the array_intersect
    # verify from 4.3 s to 1.2 s, output identical. It also subsumes
    # the PPJoin length filter (the bound is <= min(na, nb)).
    s_nd = PPJ_T_NUM + PPJ_T_DEN
    cand = (
        pa.join(pb, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.min("ia").alias("ia"),
            F.min("jb").alias("jb"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
        .filter(
            (F.lit(1) + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("jb")))
            * s_nd
            >= PPJ_T_NUM * (F.col("na") + F.col("nb"))
        )
        .select("doc_a", "doc_b", "na", "nb")
    )
    ga = arrs.select(
        F.col("doc_id").alias("doc_a"),
        F.expr("transform(arr, x -> x.h)").alias("sa"),
    )
    gb = arrs.select(
        F.col("doc_id").alias("doc_b"),
        F.expr("transform(arr, x -> x.h)").alias("sb"),
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.col("na") + F.col("nb") - F.col("inter")
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("inter", inter)
        .filter(F.col("inter") * PPJ_T_DEN >= union * PPJ_T_NUM)
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("long").alias("inter"),
            union.cast("long").alias("union_size"),
            (F.col("inter").cast("double") / union).alias("jaccard"),
        )
    )
