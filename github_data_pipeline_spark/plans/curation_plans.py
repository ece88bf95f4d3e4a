"""Oracle-backed entries for the curation-side operators that were
previously unit-pinned only: benchmark decontamination
(operators/decontam.py) and training-mix budget sampling
(operators/budget.py). Both are beyond-reference LLM-pipeline surface
(the reference has no training-data stage at all); registering them
makes the decontam join shape and the deterministic hash-sampling
semantics driver-verdictable, not just unit-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.hashing import md5_h32_sql
from ..operators.budget import HASH_BUCKETS, allocation_rates, budget_sample
from ..operators.decontam import contamination_report
from ..operators.neardup import (
    band_index_sql,
    minhash_signatures_sql,
    shingle_sets_sql,
)
from ..sources.tables import load_table, spread
from .core import REGISTRY

_add = REGISTRY.add

DECONTAM_MIN_HITS = 2


@_add(
    "decontam_overlap",
    f"""
    WITH allsh AS (
      SELECT doc_id, unnest(g) AS s FROM ({shingle_sets_sql()})
    ), bench AS (
      SELECT doc_id AS bench_id, s FROM allsh WHERE doc_id % 97 = 0
    ), corp AS (
      SELECT doc_id, s FROM allsh WHERE doc_id % 97 <> 0
    )
    SELECT c.doc_id, b.bench_id, CAST(COUNT(*) AS BIGINT) AS hits
    FROM corp c JOIN bench b USING (s)
    GROUP BY 1, 2 HAVING COUNT(*) >= {DECONTAM_MIN_HITS}
    """,
    doc="Benchmark decontamination (operators/decontam.py): corpus "
    "docs sharing >= 2 distinct 3-gram shingles with any doc of the "
    "deterministic eval subset (doc_id % 97 == 0 plays the held-out "
    "benchmark). The benchmark shingle set BROADCASTS (benchmarks are "
    "thousands of docs next to a 100 TB corpus) so the overlap join "
    "is map-side; the grouped hit count shuffles only (doc_id, "
    "bench_id) longs — corpus text never moves, and the corpus-side "
    "shingling is the same doc_shingles pass the dedup family reuses. "
    "Non-vacuous at every SF (36 pairs at sf0.001, 12 at sf0.01).",
    tags=("curation", "decontam"),
)
def decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    benchmark = d.filter(F.col("doc_id") % 97 == 0)
    return contamination_report(
        corpus, benchmark, n=3, min_hits=DECONTAM_MIN_HITS
    ).select("doc_id", "bench_id", F.col("hits").cast("long").alias("hits"))


# static mixture weights for the 20 synthetic sources (srcN -> N%4+1),
# normalized once so BOTH engines consume the identical double
_BUDGET_WEIGHTS = {f"src{n}": float(n % 4 + 1) for n in range(20)}
_WSUM = sum(_BUDGET_WEIGHTS.values())
_NORM_WEIGHTS = {s: w / _WSUM for s, w in sorted(_BUDGET_WEIGHTS.items())}

_WEIGHTS_VALUES = ", ".join(
    f"('{s}', {w!r})" for s, w in _NORM_WEIGHTS.items()
)


@_add(
    "budget_sample_counts",
    f"""
    WITH tok AS (
      SELECT doc_id, source, len({T.tokens_sql()}) AS n FROM documents
    ), per_src AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS tokens FROM tok GROUP BY source
    ), budget AS (
      SELECT CAST(SUM(tokens) AS BIGINT) AS b FROM per_src
    ), wts(source, nw) AS (
      VALUES {_WEIGHTS_VALUES}
    ), thresholds AS (
      SELECT p.source,
             CAST(round_even(
               least(1.0, (budget.b * w.nw) / p.tokens) * {HASH_BUCKETS}, 0
             ) AS BIGINT) AS thr
      FROM per_src p JOIN wts w USING (source), budget
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS kept_docs,
           CAST(SUM(t.n) AS BIGINT) AS kept_tokens
    FROM tok t JOIN thresholds h USING (source)
    WHERE ({md5_h32_sql("t.doc_id")} % {HASH_BUCKETS}) < h.thr
    GROUP BY t.source
    """,
    doc="Training-mix budget sampling end-to-end "
    "(operators/budget.py): per-source token counts -> weighted "
    "keep-rates for a token budget equal to half-shaped mixture "
    "weights over the whole corpus (weights srcN -> N%4+1, budget = "
    "total corpus tokens, so heavy sources cap at rate 1.0 and light "
    "ones genuinely sample) -> deterministic md5-bucket doc sampling "
    "-> surviving docs/tokens per source. The per-source aggregate is "
    "|sources| rows (collected by design); the sampling predicate is "
    "a map-side hash filter — no rand(), identical doc sets on every "
    "engine/run/partitioning, which is what makes the final training "
    "mix reproducible. Python's round-half-even on the threshold is "
    "mirrored with DuckDB round_even.",
    tags=("curation", "budget"),
)
def budget_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
    ).withColumn("n", T.token_count("text"))
    per_source = {
        r["source"]: r["tokens"]
        for r in d.groupBy("source")
        .agg(F.sum("n").alias("tokens"))
        .collect()
    }
    budget = sum(per_source.values())
    # raw weights on purpose: allocation_rates divides by their sum
    # (exactly 50.0), producing bit-identical normalized doubles to
    # the _NORM_WEIGHTS literals the oracle consumes — passing the
    # normalized map would re-divide by a not-exactly-1.0 float sum
    rates = allocation_rates(per_source, _BUDGET_WEIGHTS, budget)
    kept = budget_sample(d, rates)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("n").alias("kept_tokens"),
    )


# ---- int8 quantization report (functions/vectors.py) ---------------------

_DUCK_MAXABS = (
    "list_reduce(list_prepend(0.0, list_transform(embedding,"
    " x -> abs(x::DOUBLE))), (a, b) -> greatest(a, b))"
)
_DUCK_DEQ = (
    "list_transform(embedding, x -> CAST(CAST(round(x::DOUBLE / scale)"
    " AS TINYINT) AS DOUBLE) * scale)"
)
_DUCK_PAIR_FOLD = (
    "list_reduce(list_prepend(0.0, list_transform("
    "generate_series(1, len(embedding)), i -> {expr})), (a, b) -> {red})"
)


@_add(
    "embedding_quantization_report",
    f"""
    WITH scaled AS (
      SELECT label, embedding,
             (CASE WHEN {_DUCK_MAXABS} > 0.0
                   THEN {_DUCK_MAXABS} / 127.0 ELSE 1.0 END) AS scale
      FROM embeddings
    ), deq AS (
      SELECT label, embedding, {_DUCK_DEQ} AS d FROM scaled
    ), per_vec AS (
      SELECT label,
        {_DUCK_PAIR_FOLD.format(expr="abs(embedding[i]::DOUBLE - d[i])", red="greatest(a, b)")}
          AS max_err,
        {_DUCK_PAIR_FOLD.format(expr="embedding[i]::DOUBLE * d[i]", red="a + b")}
          / (sqrt({_DUCK_PAIR_FOLD.format(expr="embedding[i]::DOUBLE * embedding[i]::DOUBLE", red="a + b")})
             * sqrt({_DUCK_PAIR_FOLD.format(expr="d[i] * d[i]", red="a + b")}))
          AS cos
      FROM deq
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           MAX(max_err) AS max_abs_err,
           MIN(cos) AS min_cosine
    FROM per_vec GROUP BY label
    """,
    doc="Int8 max-abs quantization quality gate "
    "(functions/vectors.quantize_int8): per IVF label, the worst "
    "element-wise reconstruction error and the worst original-vs-"
    "dequantized cosine across vectors — the numbers that justify "
    "running the ANN probe set at 4x less memory. Every float op "
    "folds in array order in BOTH engines (greatest-fold for max-abs, "
    "ordered sum folds for dot/norm), max/min per label are "
    "order-independent aggregates, so doubles hash bit-identical — "
    "no shuffled double-SUM anywhere.",
    tags=("similarity", "quantization"),
)
def embedding_quantization_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import vectors as V

    e = load_table(spark, sf_dir, "embeddings")
    deq = e.select(
        "label",
        "embedding",
        V.dequantize_int8(V.quantize_int8("embedding")).alias("d"),
    )
    errs = F.zip_with(
        F.col("embedding"),
        F.col("d"),
        lambda x, y: F.abs(x.cast("double") - y),
    )
    max_err = F.aggregate(
        errs, F.lit(0.0), lambda acc, v: F.greatest(acc, v)
    )
    per_vec = deq.select(
        "label",
        max_err.alias("max_err"),
        V.cosine("embedding", "d").alias("cos"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.max("max_err").alias("max_abs_err"),
        F.min("cos").alias("min_cosine"),
    )


# --- the composed curation funnel, oracle-checked end-to-end -------------
#
# Every stage of curation.funnel() is individually oracle-backed
# elsewhere (cleaning regexes via doc_pii_scrub, lang-id via
# lang_id_confusion, the quality gate via doc_quality_by_source,
# repetition via doc_repetition_gates, LSH/verify via
# minhash_lsh_candidates, components via neardup_cluster_keepers).
# This entry proves the COMPOSITION: the DuckDB oracle re-runs the
# whole funnel — line-dedup, the four-regex cleaner, the argmax
# language gate, the integer quality gate, the bigram repetition gate,
# then MinHash banding, exact-Jaccard verification and connected
# components over the SURVIVING text — and the per-stage survivor
# counts must hash-equal. A single stage drifting (a regex dialect
# divergence, a gate boundary, a band-key format) shifts a count.

def _funnel_oracle() -> str:
    from ..functions.text import (
        _CONTROL_RE,
        _EMAIL_RE,
        _HTML_TAG_RE,
        _IPV4_RE,
        _LONG_ID_RE,
    )

    counts = ",\n      ".join(
        f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {tbl}) AS c{i}"
        for i, tbl in enumerate(
            (
                "documents",
                "cleaned_nonempty",
                "language",
                "quality",
                "repetition",
                "neardup_survivors",
            )
        )
    )
    return f"""
WITH RECURSIVE lines AS (
  SELECT doc_id,
         list_transform(string_split(text, chr(10)), x -> trim(x)) AS ls
  FROM documents
), cleaned AS (
  SELECT doc_id,
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                array_to_string(
                  list_filter(ls, (x, i) ->
                    length(x) > 0 AND list_position(ls, x) = i),
                  chr(10)),
                '{_HTML_TAG_RE}', ' ', 'g'),
              '{_CONTROL_RE}', '', 'g'),
            '{_EMAIL_RE}', '<EMAIL>', 'g'),
          '{_IPV4_RE}', '<IP>', 'g'),
        '{_LONG_ID_RE}', '<ID>', 'g'),
      '\\s+', ' ', 'g')) AS text
  FROM lines
), cleaned_nonempty AS (
  SELECT doc_id, text FROM cleaned WHERE length(text) > 0
), toked AS (
  SELECT doc_id, text, {T.tokens_sql()} AS toks
  FROM cleaned_nonempty
), language AS (
  SELECT doc_id, text, toks FROM toked WHERE {T.lang_id_sql("toks")} = 'en'
), quality AS (
  SELECT doc_id, text, toks FROM language
  WHERE len(toks) BETWEEN 20 AND 400
    AND {T.stopword_hits_sql("toks")} * 10 >= len(toks)
), bigram_stats AS (
  SELECT doc_id, MAX(c) AS mx, SUM(c) AS n FROM (
    SELECT doc_id, g, COUNT(*) AS c FROM (
      SELECT doc_id, unnest({T.word_ngrams_sql("toks", 2)}) AS g
      FROM quality)
    GROUP BY 1, 2)
  GROUP BY doc_id
), repetition AS (
  SELECT q.doc_id, q.text, q.toks FROM quality q
  LEFT JOIN bigram_stats b ON b.doc_id = q.doc_id
  WHERE b.doc_id IS NULL OR (CAST(b.mx AS DOUBLE) / b.n) <= 0.2
), grams AS (
  SELECT doc_id, list_distinct({T.word_ngrams_sql("toks", 3)}) AS g
  FROM repetition
), shingles AS (
  SELECT doc_id, unnest(g) AS s FROM grams
), sigs AS (
  {minhash_signatures_sql("shingles")}
), bands AS (
  {band_index_sql("sigs")}
), cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
), verified AS (
  SELECT doc_a, doc_b FROM (
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(ga.g, gb.g)) AS shared,
           len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)) AS un
    FROM cands c
    JOIN grams ga ON ga.doc_id = c.doc_a
    JOIN grams gb ON gb.doc_id = c.doc_b)
  WHERE shared * 5 >= un * 4
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM verified
  UNION
  SELECT doc_b AS u, doc_a AS v FROM verified
), nodes AS (
  SELECT DISTINCT u AS node FROM edges
), reach(node, lab) AS (
  SELECT node, node AS lab FROM nodes
  UNION
  SELECT e.v AS node, r.lab FROM reach r JOIN edges e ON e.u = r.node
), comp AS (
  SELECT node, MIN(lab) AS component FROM reach GROUP BY node
), dups AS (
  SELECT node AS doc_id FROM comp WHERE node <> component
), neardup_survivors AS (
  SELECT r.doc_id FROM repetition r
  LEFT JOIN dups d ON d.doc_id = r.doc_id
  WHERE d.doc_id IS NULL
), cnt AS (
  SELECT
      {counts}
)
SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage, c0 AS survivors FROM cnt
UNION ALL SELECT 1, 'cleaned_nonempty', c1 FROM cnt
UNION ALL SELECT 2, 'language', c2 FROM cnt
UNION ALL SELECT 3, 'quality', c3 FROM cnt
UNION ALL SELECT 4, 'repetition', c4 FROM cnt
UNION ALL SELECT 5, 'neardup_dropped', c5 FROM cnt
ORDER BY stage_idx ASC
"""


@_add(
    "curation_funnel_report",
    _funnel_oracle(),
    doc="The composed end-to-end curation funnel (curation.funnel: "
    "line-dedup + 4-regex clean -> language argmax gate -> integer "
    "quality gate -> bigram repetition gate -> LSH near-dup drop), "
    "reported as per-stage survivor counts and oracle-checked as a "
    "WHOLE: the DuckDB side re-runs every stage including MinHash "
    "banding, exact-Jaccard verification and connected components "
    "over the surviving (cleaned) text, so a divergence in any stage "
    "or in their composition shifts a count and fails the hash. The "
    "gate flags come from one scan and a checkpoint, the survivor text "
    "is re-derived by semi-join and materialized once, so the "
    "expensive shingle shuffle sees only gate survivors — the 100-TB "
    "shape; the counts are aggregates over those boundaries. The "
    "data build runs the same funnel. The candidate/dropped-id joins "
    "inside the near-dup stage are size-gated broadcasts "
    "(curation.neardup_drop_stage). "
    "Proves what per-stage entries cannot: the stages compose.",
    tags=("curation", "funnel", "dedup"),
)
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..curation import funnel

    docs = spread(load_table(spark, sf_dir, "documents"))
    return funnel(docs.select("doc_id", "text"), lang="en")[1]
