"""Cross-document exact-substring deduplication.

Whole-document dedup (exact hash, MinHash/SimHash in
``plans/dedup_plans.py``) misses the common corpus pathology of a
boilerplate paragraph shared by thousands of otherwise-distinct pages.
The published remedy (suffix-array dedup in "Deduplicating Training
Data Makes Language Models Better", Lee et al. 2021) removes every
repeated token span above a length threshold, keeping one occurrence.

The suffix-array construction does not map onto a shuffle-based engine,
but its *fixed-window* approximation does, in three Catalyst-only
stages (no Python row path):

1. positional token n-grams: ``(doc_id, start, gram_hash)`` from the
   ``functions/text.token_windows`` generator — one narrow explode;
2. ownership: per gram, the canonical owner is the smallest ``doc_id``
   containing it; every *other* occurrence is a flagged window. One
   shuffle on ``gram_hash`` (a min-aggregate, map-side combinable);
3. span merge + excision per doc: overlapping flagged windows merge
   into maximal spans (running-max "islands" window over ``start``),
   then the doc's tokens are rebuilt skipping covered positions —
   higher-order ``filter``/``exists`` over the collected span array,
   no explode of the text itself.

A window of n tokens flags exactly the spans a length->=n suffix-array
pass would, modulo tokenization. Scale shape: the only wide exchange
carries ``(gram_hash, doc_id, start)`` triples — text never shuffles —
and hot boilerplate grams are bounded per-doc by ``array_distinct``
before ownership, so the aggregate skew ceiling is corpus doc count,
handled by AQE skew splitting like any heavy-hitter groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T

DEFAULT_WINDOW = 8


def positional_ngrams(docs: DataFrame, n: int = DEFAULT_WINDOW) -> DataFrame:
    """(doc_id, start, gram_hash) for every token window of length n.

    ``start`` is the 0-based token index; ``gram_hash`` is xxhash64 of
    the space-joined window (the string ``functions/text.word_ngrams``
    emits). Docs shorter than n produce no rows (nothing to
    deduplicate at this granularity).
    """
    return T.token_windows(docs, T.tokens("text"), n, "doc_id").select(
        "doc_id", "start", F.xxhash64(T.window_gram(n)).alias("gram_hash")
    )


def flagged_windows(docs: DataFrame, n: int = DEFAULT_WINDOW) -> DataFrame:
    """Non-canonical duplicate windows: (doc_id, start, end, owner_doc).

    A window is flagged iff the same n tokens appear in a different,
    smaller-id document — that smallest id is the canonical owner and
    keeps its occurrence. Within the owner itself repeats are NOT
    flagged here (intra-doc repetition is handled by
    ``functions/text.max_ngram_repetition`` / dedupe_lines).
    """
    from pyspark.sql import Window

    grams = positional_ngrams(docs, n)
    # min-over-partition instead of groupBy+join: the groupBy form
    # re-derives the gram table for the join side (the agg subtree
    # differs, so no ReusedExchange) — the corpus was tokenized,
    # hashed and exploded TWICE and the gram triples crossed two
    # exchanges. One window pass exchanges the (gram_hash, doc_id,
    # start) triples once and computes the owner in place.
    owner = F.min("doc_id").over(Window.partitionBy("gram_hash"))
    return (
        grams.withColumn("owner_doc", owner)
        .filter(F.col("doc_id") != F.col("owner_doc"))
        .select(
            "doc_id",
            "start",
            (F.col("start") + n - 1).alias("end"),
            "owner_doc",
        )
    )


def duplicate_spans(docs: DataFrame, n: int = DEFAULT_WINDOW) -> DataFrame:
    """Maximal merged duplicate spans per doc: (doc_id, span_start,
    span_end, windows) — overlapping/adjacent flagged windows coalesced
    by the running-max islands pattern (one window-function pass over
    data partitioned by doc)."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("start")
    prev_max = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = (
        flagged_windows(docs, n)
        .withColumn(
            "new_island",
            F.when(prev_max.isNull() | (F.col("start") > prev_max + 1), 1).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return flagged.groupBy("doc_id", "island").agg(
        F.min("start").alias("span_start"),
        F.max("end").alias("span_end"),
        F.count(F.lit(1)).alias("windows"),
    ).drop("island")


def gram_index(docs: DataFrame, n: int = DEFAULT_WINDOW) -> DataFrame:
    """The persisted ownership index: (gram_hash, owner_doc) with one
    row per distinct gram — what a daily pipeline stores between
    batches (bucket it on gram_hash like the LSH band index so the
    daily join never shuffles the stored side)."""
    return (
        positional_ngrams(docs, n)
        .groupBy("gram_hash")
        .agg(F.min("doc_id").alias("owner_doc"))
    )


def incremental_flagged_windows(
    new_docs: DataFrame, index: DataFrame, n: int = DEFAULT_WINDOW
) -> DataFrame:
    """Daily-batch twin of ``flagged_windows``: flag duplicate windows
    in ``new_docs`` against the persisted ``gram_index`` plus the batch
    itself, touching only the new batch's grams.

    Matches the full recompute exactly when doc_ids are monotone
    (new ids > all indexed ids — the ingest contract; deterministic
    keys in functions/hashing.py stamp arrival order): a gram's global
    owner is then the indexed owner if the gram was ever seen, else
    the batch's min doc_id. Cost is O(batch grams) + the index join —
    never a corpus re-scan, the same shape as
    ``operators/neardup.incremental_lsh_candidates``.
    """
    grams = positional_ngrams(new_docs, n)
    batch_owners = grams.groupBy("gram_hash").agg(
        F.min("doc_id").alias("batch_owner")
    )
    owners = (
        batch_owners.join(
            index.withColumnRenamed("owner_doc", "indexed_owner"),
            "gram_hash",
            "left",
        )
        .select(
            "gram_hash",
            F.least(
                F.col("batch_owner"),
                F.coalesce(F.col("indexed_owner"), F.col("batch_owner")),
            ).alias("owner_doc"),
        )
    )
    return (
        grams.join(owners, "gram_hash")
        .filter(F.col("doc_id") != F.col("owner_doc"))
        .select(
            "doc_id",
            "start",
            (F.col("start") + n - 1).alias("end"),
            "owner_doc",
        )
    )


def merge_gram_index(
    index: DataFrame, new_docs: DataFrame, n: int = DEFAULT_WINDOW
) -> DataFrame:
    """Fold a new batch into the ownership index (min wins, so replays
    are idempotent and order-independent)."""
    return (
        index.unionByName(gram_index(new_docs, n))
        .groupBy("gram_hash")
        .agg(F.min("owner_doc").alias("owner_doc"))
    )


def excise_duplicate_spans(docs: DataFrame, n: int = DEFAULT_WINDOW) -> DataFrame:
    """Rebuild each doc's text with duplicate spans removed (canonical
    occurrences kept). Adds ``tokens_removed``; docs without flagged
    spans pass through unchanged with ``tokens_removed = 0``.

    The span array per doc is small (merged islands), so it rides a
    left join and the rebuild is a higher-order ``filter`` over the
    token array — the 100 TB cost is the one gram-hash shuffle in
    ``flagged_windows``.
    """
    spans = (
        duplicate_spans(docs, n)
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("spans"),
            F.sum(F.col("span_end") - F.col("span_start") + 1).alias(
                "tokens_removed"
            ),
        )
    )
    tok = T.tokens("text")
    covered = lambda i: F.exists(  # noqa: E731
        F.col("spans"),
        lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
    )
    kept = F.filter(
        F.transform(tok, lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda p: ~covered(p["i"]),
    )
    out = docs.join(spans, "doc_id", "left")
    return out.select(
        *[c for c in docs.columns if c != "text"],
        F.when(F.col("spans").isNull(), F.col("text"))
        .otherwise(F.concat_ws(" ", F.transform(kept, lambda p: p["t"])))
        .alias("text"),
        F.coalesce(F.col("tokens_removed"), F.lit(0)).alias("tokens_removed"),
    )
