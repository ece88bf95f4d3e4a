"""Near-duplicate building blocks: shingling, MinHash signatures, LSH
banding — shared by the oracle-checked plans (plans/dedup_plans.py) and
the incremental maintenance path below. Each builder the oracles
replay has its DuckDB twin (``*_sql``) beside it.

Incremental maintenance is the piece that makes near-dup viable on a
*daily* 100 TB pipeline: when a new batch of documents lands, only the
new docs are shingled/hashed/banded, and candidates come from joining
the new band keys against the persisted band index — cost is
O(new batch) + the bucket collisions it touches, never a full-corpus
recompute. (The reference has no near-dup at all; this extends its
incremental-merge semantics, SURVEY §2.10, to the dedup domain.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T

# p keeps the permutation products in int64 on both engines: a < p and
# the shingle hash (mod p) < 2^30
MINHASH_P = 1_000_000_007
MINHASH_K = 16
MINHASH_BAND_ROWS = 4
MINHASH_PERMS: list[tuple[int, int]] = [
    ((i * 2_654_435_761 + 104_729) % MINHASH_P, (i * 40_503 + 7) % MINHASH_P)
    for i in range(1, MINHASH_K + 1)
]

SIG_COLS = [f"sig{i}" for i in range(MINHASH_K)]


def shingle_hash(s: F.Column) -> F.Column:
    """60-bit md5 prefix -> integer mod p (engine-neutral; identical in
    DuckDB via :func:`shingle_hash_sql`)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % MINHASH_P


def shingle_hash_sql(s: str) -> str:
    """DuckDB twin of :func:`shingle_hash`."""
    return f"(CAST(('0x' || substr(md5({s}), 1, 15)) AS BIGINT) % {MINHASH_P})"


def doc_shingle_stream(
    docs: DataFrame, n: int = 3, distinct: bool = True
) -> DataFrame:
    """(doc_id, s) word n-gram shingle stream of ``docs.text``.

    ``distinct=True`` keeps each document's shingle set (one
    hash-aggregate whose map-side partial drops within-task
    duplicates). ``distinct=False`` skips that exchange for consumers
    that are duplicate-insensitive — the MinHash signature path, whose
    per-doc MIN is identical over multiset and set. Docs with fewer
    than n tokens emit no rows."""
    out = T.token_windows(docs, T.tokens("text"), n, "doc_id").select(
        "doc_id", T.window_gram(n).alias("s")
    )
    return out.distinct() if distinct else out


def doc_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, s): distinct word n-gram shingles per document."""
    return doc_shingle_stream(docs, n, distinct=True)


def shingle_sets_sql(keep: str = "doc_id") -> str:
    """DuckDB twin of the per-document shingle set: a SELECT over
    ``documents`` yielding (keep, g), g the distinct word 3-gram list
    (the rows :func:`doc_shingles` emits, one list per document)."""
    return (
        f"SELECT {keep}, list_distinct({T.word_ngrams_sql('t', 3)}) AS g"
        f" FROM (SELECT {keep}, {T.tokens_sql()} AS t FROM documents)"
    )


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """(doc_id, sig0..sigK-1): K map-side MINs over one shuffle of the
    row-shaped (doc_id, s) shingle stream."""
    hashed = shingles.select(
        "doc_id", shingle_hash(F.col("s")).alias("h")
    )
    sig_cols = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"sig{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return hashed.groupBy("doc_id").agg(*sig_cols)


def minhash_signatures_sql(shingles: str) -> str:
    """DuckDB twin of :func:`minhash_signatures`: a SELECT over the
    relation ``shingles`` of (doc_id, s) rows."""
    sigs = ",\n  ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_P}) AS sig{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    return (
        f"SELECT doc_id,\n  {sigs}\n"
        f"FROM (SELECT doc_id, {shingle_hash_sql('s')} AS h FROM {shingles})\n"
        "GROUP BY doc_id"
    )


def minhash_signatures_from_arrays(grams: DataFrame) -> DataFrame:
    """(doc_id, sig0..sigK-1) from (doc_id, g ARRAY<STRING>): explodes
    the array and reuses the row-shaped aggregation, so the values
    equal ``minhash_signatures(doc_shingles(...))``. Docs with no
    shingles explode to no rows."""
    return minhash_signatures(
        grams.select("doc_id", F.explode("g").alias("s"))
    )


def band_index(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, key): the LSH bucket index — K/R bands, each keyed
    by the md5 of its R signature components. This is the table a
    production pipeline PERSISTS (partitioned/bucketed by (band, key))
    so future batches join against it instead of recomputing."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.md5(
                    F.concat_ws(
                        "-",
                        *[
                            F.col(f"sig{band * MINHASH_BAND_ROWS + r}")
                            for r in range(MINHASH_BAND_ROWS)
                        ],
                    )
                ).alias("key"),
            )
            for band in range(MINHASH_K // MINHASH_BAND_ROWS)
        ]
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.key").alias("key")
    )


def band_index_sql(sigs: str) -> str:
    """DuckDB twin of :func:`band_index` over the relation ``sigs``."""
    structs = ", ".join(
        "{'band': %d, 'key': md5(%s)}"
        % (
            band,
            " || '-' || ".join(
                f"sig{band * MINHASH_BAND_ROWS + r}"
                for r in range(MINHASH_BAND_ROWS)
            ),
        )
        for band in range(MINHASH_K // MINHASH_BAND_ROWS)
    )
    return (
        "SELECT doc_id, u.b.band AS band, u.b.key AS key"
        f" FROM {sigs}, UNNEST([{structs}]) AS u(b)"
    )


LSH_BUCKET_CAP = 32  # band buckets: all-pairs below, star-pairs above
SIMHASH_BUCKET_CAP = 64  # 16-bit-prefix buckets (denser than bands)


def capped_bucket_pairs(
    rows: DataFrame,
    bucket_cols: list[str],
    payload_cols: list[str],
    cap: int,
    fallback: str = "star",
) -> DataFrame:
    """Bucket-local pair generation with an occupancy cap — the skew
    guard for every LSH family.

    One shuffle groups rows into a sorted posting list per bucket
    (payload struct ordered by its fields in order — put the field
    that should define adjacency first). Buckets at or under ``cap``
    emit all C(m, 2) pairs map-side; an OVERSIZED bucket — one
    boilerplate mega-cluster at 100 TB — degrades to linear fan-out
    by ``fallback``:

    * ``"star"`` — list minimum vs. each other member. Right when
      bucket membership itself implies similarity (MinHash bands: a
      shared band key IS an estimated-Jaccard match), so any member
      works as the hub and every member still lands in one connected
      component for cluster resolution.
    * ``"chain"`` — consecutive pairs of the sorted list. Right when
      the bucket is only a COARSE prefilter (SimHash prefix buckets:
      prefix equality says nothing about the low bits) and pairs face
      a further similarity filter: sorting by the full signature puts
      identical/near signatures adjacent, so equal-signature runs stay
      transitively connected while a similarity-elected hub does not
      exist — the sorted-fingerprint scan of Manku et al. (WWW'07).
      A star here would funnel through the doc-id minimum, and every
      star edge can fail the downstream hamming filter even though
      close pairs exist.

    Returns one row per pair: (*bucket_cols, p struct<a, b>) with
    ``p.a <= p.b`` in SORT order (callers wanting id order apply
    least/greatest). Compare NEARDUP_DF_CAP, which *drops* hot
    shingles because a shingle is evidence, not identity.
    """
    if fallback not in ("star", "chain"):
        raise ValueError(f"unknown fallback {fallback!r}")
    s = F.struct(*[F.col(c) for c in payload_cols])
    posting = (
        rows.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_list(s)).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    all_pairs = F.flatten(
        F.transform(
            F.col("docs"),
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + F.lit(2), F.size(F.col("docs"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    if fallback == "star":
        over = F.transform(
            F.slice(F.col("docs"), 2, F.size(F.col("docs"))),
            lambda y: F.struct(
                F.element_at(F.col("docs"), 1).alias("a"), y.alias("b")
            ),
        )
    else:
        over = F.zip_with(
            F.slice(F.col("docs"), 1, F.size("docs") - 1),
            F.slice(F.col("docs"), 2, F.size("docs") - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        )
    pairs = F.when(F.size("docs") <= cap, all_pairs).otherwise(over)
    return posting.select(*bucket_cols, F.explode(pairs).alias("p"))


def lsh_candidates_capped(
    bands: DataFrame, cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """Distinct candidate pairs from the band index with the occupancy
    cap engaged — the scale-safe full-build path (the uncapped
    ``lsh_candidates`` join remains for exact incremental-equivalence
    proofs on bounded corpora)."""
    p = capped_bucket_pairs(bands, ["band", "key"], ["doc_id"], cap)
    return p.select(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
    ).distinct()


def lsh_candidates(bands: DataFrame) -> DataFrame:
    """All-pairs candidates within one band index (full build)."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def persist_band_index(bands: DataFrame, table: str, buckets: int = 64) -> None:
    """Persist the LSH band index as a table bucketed on (band, key).

    This is the storage layout that makes DAILY incremental dedup cheap
    at 100 TB: the candidate join is an equi-join on exactly (band,
    key), so a bucketed corpus index is already hash-distributed on the
    join key — every future batch's join reads the index WITHOUT
    shuffling it (only the small new-batch side exchanges into the
    bucket layout). Re-bucketing petabytes per day is the cost this
    avoids; tests/test_neardup_incremental.py pins the zero-exchange
    plan property.
    """
    (
        bands.write.mode("overwrite")
        .bucketBy(buckets, "band", "key")
        .sortBy("band", "key")
        .saveAsTable(table)
    )


def append_band_index(new_bands: DataFrame, table: str, buckets: int = 64) -> None:
    """Append a batch's index rows into the persisted bucketed index.

    The bucket spec must restate the table's — Spark validates the
    append and each new file lands in its (band, key) bucket, so the
    index stays co-located join-ready without ever rewriting old data.
    """
    (
        new_bands.write.mode("append")
        .bucketBy(buckets, "band", "key")
        .sortBy("band", "key")
        .saveAsTable(table)
    )


def incremental_candidates_vs_index(
    spark, new_docs: DataFrame, table: str
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup against the PERSISTED bucketed band index
    (the production entry point: shingle/sign/band only the batch, join
    against the stored index shuffle-free on the index side)."""
    return incremental_lsh_candidates(new_docs, spark.table(table))


def persist_bucket_stats(stats: DataFrame, table: str, buckets: int = 64) -> None:
    """Persist the per-bucket summary next to the band index, bucketed
    the same way ((band, key)) so the capped candidate join reads both
    stored sides shuffle-free.

    The merged stats of a batch READ the previous stats table, and
    Spark refuses to overwrite a table from its own scan — the summary
    is |buckets| fixed-width rows, so materializing it first
    (localCheckpoint) is cheap and makes overwrite-in-place the normal
    update path (the big band INDEX never needs this: it only ever
    appends)."""
    (
        stats.localCheckpoint()
        .write.mode("overwrite")
        .bucketBy(buckets, "band", "key")
        .sortBy("band", "key")
        .saveAsTable(table)
    )


def incremental_candidates_vs_index_capped(
    spark,
    new_docs: DataFrame,
    index_table: str,
    stats_table: str,
    cap: int = LSH_BUCKET_CAP,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Production entry point for the skew-safe daily path: capped
    candidates against the persisted index + stats tables. Append the
    returned ``new_bands`` to ``index_table`` (append_band_index) and
    overwrite ``stats_table`` with the returned merged stats
    (persist_bucket_stats) to complete the batch."""
    return incremental_lsh_candidates_capped(
        new_docs,
        spark.table(index_table),
        stats=spark.table(stats_table),
        cap=cap,
    )


def incremental_lsh_candidates(
    new_docs: DataFrame, existing_bands: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Near-dup maintenance for a new ingest batch.

    Returns ``(candidates, updated_bands)``:

    * ``candidates`` — every (old_or_new, new) pair sharing an LSH
      bucket: new-vs-corpus pairs from the equi-join against the
      persisted index, plus new-vs-new pairs within the batch. Column
      ``doc_a < doc_b`` ordering matches the full-build convention, so
      ``incremental ∪ previous == full recompute`` (pinned in
      tests/test_neardup_incremental.py).
    * ``updated_bands`` — the index rows for the new docs, to be
      appended to the persisted index (dynamic-partition append on
      (band, key) buckets; sources/sinks.write_upsert shape).

    Cost: shingle/sign/band ONLY the new batch; the join touches only
    buckets the new docs collide with. The full corpus is never
    re-shingled — this is what keeps a daily 100 TB dedup feasible.
    """
    new_bands = band_index(minhash_signatures(doc_shingle_stream(new_docs, distinct=False)))
    n = new_bands.alias("n")
    e = existing_bands.alias("e")
    vs_corpus = n.join(
        e,
        (F.col("n.band") == F.col("e.band"))
        & (F.col("n.key") == F.col("e.key"))
        & (F.col("n.doc_id") != F.col("e.doc_id")),
    ).select(
        F.least(F.col("n.doc_id"), F.col("e.doc_id")).alias("doc_a"),
        F.greatest(F.col("n.doc_id"), F.col("e.doc_id")).alias("doc_b"),
    )
    vs_batch = lsh_candidates(new_bands)
    candidates = vs_corpus.unionByName(vs_batch).distinct()
    return candidates, new_bands


def bucket_stats(bands: DataFrame) -> DataFrame:
    """(band, key, min_doc, cnt): the compact per-bucket summary a
    daily pipeline persists NEXT TO the band index (bucket it the same
    way). min and count are mergeable monoids, so the table maintains
    incrementally under append-only ingest — it is what lets the capped
    candidate join decide clique-vs-star per bucket without ever
    grouping the stored index again."""
    return bands.groupBy("band", "key").agg(
        F.min("doc_id").alias("min_doc"),
        F.count(F.lit(1)).alias("cnt"),
    )


def merge_bucket_stats(
    stats: DataFrame,
    new_bands: DataFrame,
    new_stats: DataFrame | None = None,
) -> DataFrame:
    """Fold a batch's index rows into the stats table (min of mins,
    sum of counts — replay-idempotence is the caller's concern, same
    as the band-index append). Pass ``new_stats`` when the batch's
    ``bucket_stats`` is already at hand to avoid re-aggregating."""
    if new_stats is None:
        new_stats = bucket_stats(new_bands)
    return (
        stats.unionByName(new_stats)
        .groupBy("band", "key")
        .agg(
            F.min("min_doc").alias("min_doc"),
            F.sum("cnt").cast("long").alias("cnt"),
        )
    )


def incremental_lsh_candidates_capped(
    new_docs: DataFrame,
    existing_bands: DataFrame,
    stats: DataFrame | None = None,
    cap: int = LSH_BUCKET_CAP,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Skew-safe daily-batch candidates — the incremental twin of
    ``lsh_candidates_capped``, so the full build and the daily path
    apply ONE occupancy rule.

    Per bucket, total occupancy (stored ``cnt`` + batch count) decides:

    * ``<= cap`` — exact incremental all-pairs: batch rows equi-join
      the stored index (zero-exchange on the bucketed side) plus
      within-batch pairs;
    * ``> cap`` — STAR: each new member pairs with the bucket's global
      minimum only. Under the monotone-id ingest contract (new ids >
      all indexed ids, the same contract
      ``incremental_flagged_windows`` documents) the stored ``min_doc``
      never changes, and every earlier member already connects to it
      (clique while the bucket was small, star once it was not) — so
      the TRANSITIVE CLUSTERS equal a capped full recompute even
      though the edge sets differ (cliques frozen at the size they
      had when emitted). Connectivity is the dedup semantic; the
      equivalence test pins components, not edges.

    Returns ``(candidates, new_bands, merged_stats)`` — append
    ``new_bands`` to the index and overwrite the stats with
    ``merged_stats``, and the next batch never rescans either.
    """
    # materialize the batch's index rows once: they feed FOUR subtrees
    # (batch stats, the under-cap join, the star join, the stats
    # merge), and without the checkpoint each one re-shingles and
    # re-minhashes the batch (same discipline as the sigs checkpoint
    # in plans/dedup_plans.minhash_lsh_candidates). Batches are the
    # daily increment — n_docs x 4 band rows of longs, cheap to hold.
    new_bands = band_index(
        minhash_signatures(doc_shingle_stream(new_docs, distinct=False))
    ).localCheckpoint()
    if stats is None:
        stats = bucket_stats(existing_bands)
    batch_stats = bucket_stats(new_bands)
    occ = (
        stats.select(
            "band",
            "key",
            F.col("min_doc").alias("old_min"),
            F.col("cnt").alias("old_cnt"),
        )
        .join(
            batch_stats.select(
                "band",
                "key",
                F.col("min_doc").alias("new_min"),
                F.col("cnt").alias("new_cnt"),
            ),
            ["band", "key"],
            "right",  # only buckets the batch touches can emit pairs
        )
    )
    total = F.coalesce("old_cnt", F.lit(0)) + F.col("new_cnt")
    under = occ.filter(total <= cap).select("band", "key")
    over = occ.filter(total > cap).select(
        "band",
        "key",
        F.least(
            F.coalesce("old_min", F.col("new_min")), F.col("new_min")
        ).alias("min_doc"),
    )

    nb_under = new_bands.join(under, ["band", "key"])
    n = nb_under.alias("n")
    e = existing_bands.alias("e")
    vs_corpus = n.join(
        e,
        (F.col("n.band") == F.col("e.band"))
        & (F.col("n.key") == F.col("e.key"))
        & (F.col("n.doc_id") != F.col("e.doc_id")),
    ).select(
        F.least(F.col("n.doc_id"), F.col("e.doc_id")).alias("doc_a"),
        F.greatest(F.col("n.doc_id"), F.col("e.doc_id")).alias("doc_b"),
    )
    vs_batch = capped_bucket_pairs(
        nb_under, ["band", "key"], ["doc_id"], cap
    ).select(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
    )
    star = (
        new_bands.join(over, ["band", "key"])
        .filter(F.col("doc_id") != F.col("min_doc"))
        .select(
            F.least("doc_id", "min_doc").alias("doc_a"),
            F.greatest("doc_id", "min_doc").alias("doc_b"),
        )
    )
    candidates = (
        vs_corpus.unionByName(vs_batch).unionByName(star).distinct()
    )
    merged = merge_bucket_stats(stats, new_bands, new_stats=batch_stats)
    return candidates, new_bands, merged


def verify_candidates_edit_distance(
    candidates: DataFrame,
    docs: DataFrame,
    max_dist: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Exact edit-distance verification over LSH CANDIDATE pairs only:
    (doc_a, doc_b, edit_distance <= max_dist).

    Two guards keep the exact stage cheap at scale: a length prefilter
    (|len_a - len_b| > max_dist can never pass, and lengths ride the
    id join for free) and the thresholded ``levenshtein(a, b, k)``
    built-in, which abandons a pair at O(len * k) instead of computing
    the full O(len^2) matrix. Never call this on all pairs — its input
    contract is the banded candidate set (``lsh_candidates`` /
    ``incremental_lsh_candidates``), the same routing as the exact-
    Jaccard verifier in plans/dedup_plans.py.
    """
    d = docs.select(
        "doc_id",
        F.col(text_col).alias("_t"),
        F.length(text_col).alias("_len"),
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("_t").alias("_ta"),
        F.col("_len").alias("_la"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("_t").alias("_tb"),
        F.col("_len").alias("_lb"),
    )
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.abs(F.col("_la") - F.col("_lb")) <= max_dist)
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("_ta", "_tb", max_dist).alias("edit_distance"),
        )
        .filter(F.col("edit_distance") >= 0)  # thresholded form: -1 = over
    )
