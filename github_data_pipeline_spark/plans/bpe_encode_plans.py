"""Registry entry: corpus encoding with the learned BPE tokenizer,
entirely in Catalyst.
Helpers and the trainer-CTE chain live in :mod:`.bpe_plans`; see
``bpe_encoded_profile``'s doc for the in-order-replace encoding
identity and its equivalence to rank-greedy encoding."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.bpe import PRETOKEN_PATTERN
from ..sources.tables import load_table, spread
from .bpe_plans import (
    N_MERGES,
    _encode_ctes,
    _trainer_ctes,
    learned_merges_artifact,
)
from .core import REGISTRY

_ENCODE_ORACLE = (
    "WITH "
    + ",\n".join(_trainer_ctes(N_MERGES))
    + ",\n"
    + _encode_ctes(N_MERGES)
    + """
SELECT s.source,
       CAST(s.pretokens AS BIGINT) AS pretokens,
       CAST(s.subwords AS BIGINT) AS subwords,
       CAST(e.distinct_subwords AS BIGINT) AS distinct_subwords
FROM (SELECT source, SUM(pretokens) AS pretokens, SUM(len(sws)) AS subwords
      FROM sub GROUP BY source) s
JOIN (SELECT source, COUNT(DISTINCT sw) AS distinct_subwords
      FROM ex GROUP BY source) e USING (source)
"""
)


@REGISTRY.add(
    "bpe_encoded_profile",
    _ENCODE_ORACLE,
    doc="Corpus encoding with the learned tokenizer, ENTIRELY in "
    "Catalyst: the whole document becomes one double-space-joined "
    "symbol string (chr(1) separates pretokens — four spaces at "
    "boundaries, so no merge pattern can span tokens) and the 24 "
    "learned merges apply IN ORDER as a chain of literal "
    "non-overlapping replaces — equivalent to the classic rank-greedy "
    "encoder for sequentially-learned merge lists (later merges "
    "cannot enable earlier ones: operands of merge j only involve "
    "symbols from rounds < j; fuzz-verified against encode_word_py "
    "over 300 learned lists x 22 words incl. unseen). String ops stay "
    "in whole-stage codegen — no Python, no higher-order functions in "
    "the hot path; the Arrow encode_words path remains for dynamic "
    "merge tables. Reports per-source pretoken/subword/vocabulary "
    "counts; the oracle re-derives the SAME merges via the trainer "
    "CTE chain and encodes with patterns drawn from its own b{i} "
    "rows. The merge table itself is a persisted artifact "
    "(.cache/bpe_merges, mtime-keyed) shared with bpe_learned_merges.",
    tags=("text", "bpe", "encoding"),
)
def bpe_encoded_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    merges = learned_merges_artifact(spark, sf_dir)
    d = spread(load_table(spark, sf_dir, "documents").select("source", "text"))
    clean = F.replace(F.lower("text"), F.lit("\x01"), F.lit(" "))
    toks = F.regexp_extract_all(clean, F.lit(PRETOKEN_PATTERN), F.lit(0))
    joined = F.array_join(toks, "\x01")
    s = F.concat(
        F.lit("  "), F.regexp_replace(joined, "(.)", "$1  ")
    )
    for left, right, _freq in merges:
        s = F.replace(
            s,
            F.lit(f" {left}  {right} "),
            F.lit(f" {left}{right} "),
        )
    subs = F.filter(
        F.split(F.trim(s), " +"),
        lambda x: (x != F.lit("\x01")) & (x != F.lit("")),
    )
    per_doc = d.select(
        "source",
        F.size(toks).alias("pretokens"),
        subs.alias("sws"),
    )
    exploded = per_doc.select("source", F.explode("sws").alias("sw"))
    totals = per_doc.groupBy("source").agg(
        F.sum("pretokens").alias("pretokens"),
        F.sum(F.size("sws")).alias("subwords"),
    )
    distinct = exploded.groupBy("source").agg(
        F.count_distinct("sw").alias("distinct_subwords")
    )
    return totals.join(distinct, "source")
