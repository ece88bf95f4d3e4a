"""Registry entry: sequence packing (FFD bin-packing) invariants.

``operators/packing.py`` is the step between curation and the
trainer's data loader: assemble tokenized documents into fixed-budget
training rows (pack to 512/4k/8k context). The packing itself is
imperative per shard (first-fit-decreasing — the standard practice;
global bin packing is NP-hard and buys nothing at corpus scale), so
its OUTPUT cannot be a SQL expression — but its INVARIANTS can be
data, which is how ``doc_chunk_windows`` made chunking oracle-scorable
and ``approx_lineitem_stats`` made sketches oracle-scorable:

* exact corpus statistics the oracle recomputes independently (doc
  count, total token count, oversize-doc count, the bin-count lower
  bound ceil(packable_tokens/budget) + oversize singletons), and
* verdict flags the oracle pins to 1: every doc packed exactly once
  (explode + anti-joins both ways + duplicate count), no non-oversize
  pack over budget, token conservation (sum over packs == corpus
  sum), and the first-fit upper bound n_packs <= oversize +
  2*packable_tokens/budget + shards (all but at most one open bin per
  shard is more than half full — the classic FF argument).

The entry shards by ``pmod(doc_id, PACK_SHARDS)`` instead of
``spark_partition_id()`` so the packing is a pure function of the
data — bit-identical packs under any input partitioning (pinned by
``tests/test_packing.py``); production keeps the zero-shuffle
partition-id default.

Scale: token counts are computed JVM-side; the Arrow stage sees only
(pid, doc_id, n_tokens) longs — document text never crosses the
Python boundary — and emits pack manifests, whose row count is
bounded by the doc count. Every check afterwards is one exchange on
doc_id or a 1-row aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators.packing import pack_sequences
from ..sources.tables import load_table, spread
from .core import REGISTRY

#: pack budget in whitespace tokens — fixture docs run 10-99 tokens,
#: so 96 produces real multi-doc packs AND a non-vacuous oversize lane
#: (docs over budget become flagged singletons instead of silently
#: truncating); production would use 4k/8k
PACK_BUDGET = 96
PACK_SHARDS = 8


@REGISTRY.add(
    "seq_packing_manifest",
    f"""
    WITH t AS (
      SELECT doc_id, len({T.tokens_sql()}) AS n FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN n > {PACK_BUDGET} THEN 1 ELSE 0 END)
                AS BIGINT) AS oversize_docs,
           CAST(SUM(CASE WHEN n > {PACK_BUDGET} THEN 1 ELSE 0 END)
                + (SUM(CASE WHEN n <= {PACK_BUDGET} THEN n ELSE 0 END)
                   + {PACK_BUDGET - 1}) // {PACK_BUDGET}
                AS BIGINT) AS packs_lower_bound,
           CAST(1 AS INT) AS every_doc_packed_once,
           CAST(1 AS INT) AS no_pack_over_budget,
           CAST(1 AS INT) AS tokens_conserved,
           CAST(1 AS INT) AS packs_within_ff_bound
    FROM t
    """,
    doc=f"Sequence-packing manifest report: FFD bin-packing of the "
    f"document corpus into {PACK_BUDGET}-token training rows across "
    f"{PACK_SHARDS} deterministic shards (pmod(doc_id, shards) — a "
    "pure function of the data, so packs are bit-identical under any "
    "input partitioning), verified as DATA. The oracle independently "
    "recomputes the exact corpus statistics (docs, total tokens, "
    "oversize docs, the bin-count lower bound ceil(packable/budget) + "
    "oversize singletons) and pins four invariant flags to 1: every "
    "doc in exactly one pack (duplicate count + both anti-joins "
    "empty), no non-oversize pack over budget, token conservation, "
    "and the first-fit upper bound n_packs <= oversize + "
    "2*packable_tokens/budget + shards (all but at most one open bin "
    "per shard exceeds half capacity). Token counts fold JVM-side; "
    "the allowlisted Arrow stage sees only (pid, doc_id, n_tokens) "
    "longs and emits doc-bounded manifests — text never crosses the "
    "Python boundary, the 100-TB-safe shape for the packing step "
    "every training-data pipeline runs before sharding.",
    tags=("packing", "training", "mapinpandas", "report"),
)
def seq_packing_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    packs = pack_sequences(
        d,
        budget=PACK_BUDGET,
        pid=F.pmod(F.col("doc_id"), F.lit(PACK_SHARDS)),
    ).localCheckpoint()  # ONE FFD pass, reused by every check below
    docs = d.select(
        "doc_id", T.token_count("text").cast("long").alias("n_tokens")
    ).localCheckpoint()  # token counts computed once, reused 3x

    corpus = docs.agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum((F.col("n_tokens") > PACK_BUDGET).cast("long"))
        .cast("long")
        .alias("oversize_docs"),
        F.sum(
            F.when(F.col("n_tokens") <= PACK_BUDGET, F.col("n_tokens"))
            .otherwise(F.lit(0))
        )
        .cast("long")
        .alias("packable_tokens"),
    )
    pstats = packs.agg(
        F.count(F.lit(1)).cast("long").alias("n_packs"),
        F.sum("n_docs").cast("long").alias("packed_docs"),
        F.sum("total_tokens").cast("long").alias("packed_tokens"),
        F.coalesce(
            F.max(
                F.when(~F.col("oversize"), F.col("total_tokens"))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("max_nonoversize_tokens"),
    )
    member = packs.select(F.explode("doc_ids").alias("doc_id"))
    dups = (
        member.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("dup_docs"))
    )
    missing = docs.join(member, "doc_id", "left_anti").agg(
        F.count(F.lit(1)).cast("long").alias("missing_docs")
    )
    phantom = member.join(docs, "doc_id", "left_anti").agg(
        F.count(F.lit(1)).cast("long").alias("phantom_docs")
    )
    # five 1-row aggregates assembled by whitelisted broadcasts
    j = (
        corpus.crossJoin(F.broadcast(pstats))
        .crossJoin(F.broadcast(dups))
        .crossJoin(F.broadcast(missing))
        .crossJoin(F.broadcast(phantom))
    )
    lb = F.col("oversize_docs") + F.expr(
        f"(packable_tokens + {PACK_BUDGET - 1}) div {PACK_BUDGET}"
    )
    return j.select(
        "docs",
        "total_tokens",
        "oversize_docs",
        lb.cast("long").alias("packs_lower_bound"),
        (
            (F.col("dup_docs") == 0)
            & (F.col("missing_docs") == 0)
            & (F.col("phantom_docs") == 0)
            & (F.col("packed_docs") == F.col("docs"))
        )
        .cast("int")
        .alias("every_doc_packed_once"),
        (F.col("max_nonoversize_tokens") <= PACK_BUDGET)
        .cast("int")
        .alias("no_pack_over_budget"),
        (F.col("packed_tokens") == F.col("total_tokens"))
        .cast("int")
        .alias("tokens_conserved"),
        (
            (F.col("n_packs") - F.col("oversize_docs")) * PACK_BUDGET
            <= F.lit(2) * F.col("packable_tokens")
            + F.lit(PACK_SHARDS * PACK_BUDGET)
        )
        .cast("int")
        .alias("packs_within_ff_bound"),
    )
