"""The end-to-end training-data curation funnel over ``documents``:

    raw -> clean (line-dedup + normalize) -> language gate
        -> quality gate -> repetition gate -> near-dup drop

Each stage is one of the engine's first-class operators (functions/
text.py, operators/neardup.py, plans/dedup semantics); this module
composes them into the one funnel every batch caller runs — the data
build, ``run_pipeline.py --curate``, the incremental update and the
registry's ``curation_funnel_report``: :func:`gate` computes the
per-document gate flags in one scan and materializes the gate
survivors, :func:`funnel` adds the near-dup drop and the per-stage
survivor counts. The only shuffles are the near-dup stage's (shingle +
band join).

At 100 TB each arrow is the same plan — the gates run before the
expensive dedup so the shingle shuffle sees only surviving docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import text as T
from .operators.components import connected_components
from .operators.hints import broadcast_if_bounded
from .operators.neardup import (
    band_index,
    lsh_candidates,
    minhash_signatures_from_arrays,
)

JACCARD_KEEP_NUM, JACCARD_KEEP_DEN = 4, 5  # drop pairs with jaccard >= 0.8


def clean_stage(docs: DataFrame) -> DataFrame:
    """Normalize text; keep non-empty. Duplicate-line removal runs
    FIRST (clean_text's whitespace collapse erases newlines, so line
    structure only exists here)."""
    out = docs.withColumn("text", T.clean_text(T.dedupe_lines("text")))
    return out.filter(F.length("text") > 0)


# Gate PREDICATES over a token-array column — the single definition of
# each gate, evaluated once per document by :func:`gate`.


def language_pred(toks, lang: str = "en"):
    """Marker-argmax language matches ``lang``."""
    return T.lang_id(toks) == lang


def quality_pred(toks, min_tokens: int = 20, max_tokens: int = 400):
    """Length window + stopword-ratio gate (exact integer ratio test)."""
    token_cnt = F.size(toks)
    return token_cnt.between(min_tokens, max_tokens) & (
        T.stopword_hits(toks) * 10 >= token_cnt
    )


def repetition_pred(toks, n: int = 2, max_frac: float = 0.2):
    """A single n-gram accounting for more than ``max_frac`` of the
    doc's n-gram occurrences marks generated/boilerplate text
    (C4-style intra-doc repetition gate). Map-side array fold."""
    return T.max_ngram_repetition(toks, n) <= max_frac


def neardup_drop_stage(docs: DataFrame, toks_col: str | None = None) -> DataFrame:
    """Keep one canonical doc per near-dup CLUSTER.

    LSH candidates first (band equi-join), exact shingle-set Jaccard
    only on candidates; verified pairs are then resolved into
    connected components so the keeper is the smallest id of each
    transitive cluster — pairwise drop rules over-drop on chains
    (A~B, B~C but not A~C would lose C's only survivor B).

    Both the candidate-pair table and the dropped-id table grow
    LINEARLY with the corpus (RefinedWeb-class near-dup drop rates are
    tens of percent — nothing here is "tiny relative to the corpus" at
    the 100-TB design point), so their broadcast hints are size-gated
    on exact counts of the already-materialized tables: under the
    bound the joins stay map-side, over it they degrade to doc_id-keyed
    shuffle joins that scale (AQE re-broadcasts at runtime if small).
    """
    # One evaluation of the tokenize + 3-gram + distinct fold: grams
    # feed THREE consumers (signatures, verify side a, verify side b)
    # — uncheckpointed, each re-ran the fold over the full upstream.
    # Survivor-bounded like the stage's other materializations.
    # When the caller already materialized the token arrays (the funnel
    # checkpoints them on its survivor boundary), read them instead of
    # re-running the tokenizer regex over the survivor text.
    toks = F.col(toks_col) if toks_col else T.tokens("text")
    grams = docs.select(
        "doc_id",
        F.array_distinct(T.word_ngrams(toks, 3)).alias("g"),
    ).localCheckpoint()
    cands = lsh_candidates(
        band_index(minhash_signatures_from_arrays(grams))
    ).localCheckpoint()
    n_cands = cands.count()
    ga = grams.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga"))
    gb = grams.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("gb"))
    shared = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    union = F.size("ga") + F.size("gb") - shared
    verified = (
        ga.join(broadcast_if_bounded(cands, n_cands), "doc_a")
        .join(gb, "doc_b")
        .filter(shared * JACCARD_KEEP_DEN >= union * JACCARD_KEEP_NUM)
        .select("doc_a", "doc_b")
    )
    dups = (
        connected_components(verified)
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
        .localCheckpoint()
    )
    n_dups = dups.count()
    return docs.join(
        broadcast_if_bounded(dups, n_dups), "doc_id", "left_anti"
    )


def materialize_boundary(
    df: DataFrame,
    store: str = "checkpoint",
    scratch_dir: str | None = None,
    name: str = "boundary",
) -> DataFrame:
    """Materialize a pipeline boundary under the caller-chosen storage.

    * ``"checkpoint"`` — ``localCheckpoint``: executor storage memory
      (spilling to local disk). Right at bench SFs; at 100 TB the
      survivor TEXT of a funnel would evict the working set.
    * ``"disk"`` — ``persist(DISK_ONLY)`` + a materializing count:
      executor local disk only, zero storage-memory pressure, still
      lost with the executor.
    * ``"table"`` — parquet scratch round-trip under ``scratch_dir``:
      the production boundary — survives executor loss, readable by
      downstream jobs, and exactly what a real funnel persists between
      its gate and dedup phases. ``scratch_dir`` required.

    All three return a frame with identical rows; the funnel test pins
    that equality.
    """
    if store == "checkpoint":
        return df.localCheckpoint()
    if store == "disk":
        from pyspark import StorageLevel

        out = df.persist(StorageLevel.DISK_ONLY)
        out.count()
        return out
    if store == "table":
        if not scratch_dir:
            raise ValueError("store='table' requires scratch_dir")
        import os

        path = os.path.join(scratch_dir, f"{name}.parquet")
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)
    raise ValueError(f"unknown boundary store {store!r}")


def gate(
    docs: DataFrame,
    lang: str = "en",
    survivor_store: str = "checkpoint",
    scratch_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(flags, survivors): the clean, language, quality and repetition
    gates over ``docs``, each document feature computed once.

    A filter chain cannot do that: predicate pushdown puts a
    projection's definition back into every predicate, so each gate
    would re-run the cleaning regexes and the tokenizer over the raw
    text. Structure:

    * one corpus scan computes the cleaned text and the cheap gate
      flags, checkpointed as the small ``flags`` table
      (doc_id, lang_ok, qual_ok) over the cleaned non-empty docs;
    * survivor TEXT is re-derived by semi-joining the gate survivor
      ids against ``docs``, so the cleaning expressions run a second
      time on gate SURVIVORS only, and the tokens and the repetition
      flag are computed there once. That is the one materialization
      whose size is corpus-scale; its storage is caller-chosen (see
      :func:`materialize_boundary`).

    ``survivors`` keeps every column of ``docs`` with ``text``
    cleaned, plus its token array ``toks``."""
    # tokens in their own projection: a multiply-referenced non-cheap
    # alias is not inlined, so the tokenizer runs once per document
    flags = (
        clean_stage(docs)
        .select("doc_id", T.tokens("text").alias("toks"))
        .select(
            "doc_id",
            language_pred(F.col("toks"), lang).alias("lang_ok"),
            quality_pred(F.col("toks")).alias("qual_ok"),
        )
        .localCheckpoint()
    )
    surv_ids = flags.filter(F.col("lang_ok") & F.col("qual_ok")).select(
        "doc_id"
    )
    n_surv = surv_ids.count()
    surv = materialize_boundary(
        clean_stage(
            docs.join(
                broadcast_if_bounded(surv_ids, n_surv), "doc_id", "left_semi"
            )
        )
        .withColumn("toks", T.tokens("text"))
        .withColumn("rep_ok", repetition_pred(F.col("toks"))),
        store=survivor_store,
        scratch_dir=scratch_dir,
        name="funnel_survivors",
    )
    return flags, surv.filter(F.col("rep_ok")).drop("rep_ok")


def funnel(
    docs: DataFrame,
    lang: str = "en",
    survivor_store: str = "checkpoint",
    scratch_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(kept, counts): :func:`gate` then the near-dup drop.

    ``kept`` is the gate survivors minus near-duplicates, with
    ``toks``. ``counts`` is (stage_idx, stage, survivors), one row per
    stage, built so executing it costs O(gate survivors): stages 1-3
    are sums over the checkpointed flags, the repetition and near-dup
    counts read the survivor boundary."""
    flags, survivors = gate(docs, lang, survivor_store, scratch_dir)
    kept = neardup_drop_stage(survivors, toks_col="toks")

    def row(idx: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("survivors")
        ).select(
            F.lit(idx).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            "survivors",
        )

    def flag_row(idx: int, name: str, cond) -> DataFrame:
        return flags.agg(
            F.sum(cond.cast("long")).cast("long").alias("survivors")
        ).select(
            F.lit(idx).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            "survivors",
        )

    counts = (
        row(0, "raw", docs)
        .unionByName(flag_row(1, "cleaned_nonempty", F.lit(True)))
        .unionByName(flag_row(2, "language", F.col("lang_ok")))
        .unionByName(
            flag_row(3, "quality", F.col("lang_ok") & F.col("qual_ok"))
        )
        .unionByName(row(4, "repetition", survivors))
        .unionByName(row(5, "neardup_dropped", kept))
        .orderBy(F.asc("stage_idx"))
    )
    return kept, counts
