"""Round-12 optimization pins.

The funnel optimization let ``neardup_drop_stage`` read a
caller-materialized token-array column instead of re-tokenizing the
text; the two call forms must keep identical survivor sets (the
components-init optimization is pinned by tests/test_components.py's
union-find comparisons, which run the fused init on 30 random graphs
plus a 45-node path).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from github_data_pipeline_spark.curation import neardup_drop_stage
from github_data_pipeline_spark.functions import text as T


def test_neardup_drop_stage_toks_col_parity(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "a completely different document about spark plans"),
            (4, "the quick brown fox jumps over the lazy dog tonight"),
            (5, "another unrelated text with its own words entirely"),
        ],
        "doc_id long, text string",
    )
    plain = {r["doc_id"] for r in neardup_drop_stage(docs).collect()}
    with_toks = {
        r["doc_id"]
        for r in neardup_drop_stage(
            docs.withColumn("toks", T.tokens("text")), toks_col="toks"
        ).collect()
    }
    assert plain == with_toks
    # the exact-duplicate pair 1/4 collapses to its smallest id (doc 2
    # differs in one token: 3-gram Jaccard 7/9 < 0.8, so it survives)
    assert plain == {1, 2, 3, 5}


def test_column_fragment_memoization(spark):
    """colcache memoizes deterministic Column trees: same key -> same
    object (no py4j rebuild), different key -> different tree, and a
    memoized fragment evaluates identically to a freshly built one
    (Columns are immutable, so reuse across plans is safe)."""
    from github_data_pipeline_spark.functions import vectors as Vx
    from github_data_pipeline_spark.functions.colcache import _CACHE
    from github_data_pipeline_spark.functions.fulltext import (
        _analyze_build,
        analyze,
    )

    assert analyze("text", "porter") is analyze("text", "porter")
    assert analyze("text", "porter") is not analyze("text", "standard")
    assert Vx.cosine("a", "b") is Vx.cosine("a", "b")
    # Column args bypass the cache (identity cannot key it)
    ca = F.col("a")
    assert Vx.cosine(ca, ca) is not Vx.cosine(ca, ca)
    assert any(k[0] == "fulltext.analyze" for k in _CACHE)

    df = spark.createDataFrame(
        [("Stemming makes analyzed tokens comparable tokens",)], "text string"
    )
    memoized = df.select(analyze("text", "porter").alias("t")).collect()
    fresh = df.select(_analyze_build("text", "porter").alias("t")).collect()
    assert memoized == fresh
    # the same memoized fragment attaches to a second plan unchanged
    again = df.select(analyze("text", "porter").alias("t")).collect()
    assert again == fresh


def test_bench_drops_leftover_rdd_blocks(spark):
    """bench.py's untimed inter-query hygiene: after a query that
    localCheckpoints finishes, the hook must release every pinned RDD
    block (ContextCleaner alone only reclaims them on driver GC, and
    the accumulated blocks measurably slow later hash aggregations in
    the 158-query bench session)."""
    from bench import _drop_leftover_rdd_blocks

    df = spark.range(1000).localCheckpoint()
    df.count()
    sc = spark.sparkContext._jsc.sc()
    assert sc.getPersistentRDDs().size() >= 1
    _drop_leftover_rdd_blocks(spark)
    assert sc.getPersistentRDDs().size() == 0
