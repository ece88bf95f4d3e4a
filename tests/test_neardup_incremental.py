"""Incremental LSH maintenance (operators/neardup.py): a new ingest
batch must produce exactly the candidate pairs a full recompute would
add, without re-shingling the existing corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from github_data_pipeline_spark.operators.neardup import (
    MINHASH_K,
    append_band_index,
    band_index,
    doc_shingles,
    incremental_candidates_vs_index,
    incremental_lsh_candidates,
    lsh_candidates,
    minhash_signatures,
    persist_band_index,
)
from github_data_pipeline_spark.sources.tables import load_table, spread


def _docs(spark, sf_dir):
    return spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def _pairs(df) -> set[tuple[int, int]]:
    return {(r["doc_a"], r["doc_b"]) for r in df.collect()}


def test_incremental_equals_full_recompute(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    # split the corpus: docs with doc_id % 5 == 0 arrive "later"
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)

    old_bands = band_index(minhash_signatures(doc_shingles(old)))
    full_bands = band_index(minhash_signatures(doc_shingles(docs)))

    full = _pairs(lsh_candidates(full_bands))
    prior = _pairs(lsh_candidates(old_bands))
    inc, new_bands = incremental_lsh_candidates(new, old_bands)
    inc_pairs = _pairs(inc)

    # the union reconstructs the full build exactly — no pair missed,
    # no pair invented
    assert prior | inc_pairs == full
    # and the incremental path only contributes pairs touching new docs
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    assert all(a in new_ids or b in new_ids for a, b in inc_pairs)
    # the full build actually finds near-dups in this corpus (the
    # planted pairs) — the invariant above is not vacuous
    assert len(full) > 0 and len(inc_pairs) > 0

    # the appended index rows cover exactly the new docs, one row per
    # band, same schema as the persisted index
    assert new_bands.columns == ["doc_id", "band", "key"]
    per_doc = new_bands.groupBy("doc_id").count().collect()
    assert {r["doc_id"] for r in per_doc} == new_ids
    assert all(r["count"] == MINHASH_K // 4 for r in per_doc)


def test_incremental_touches_only_new_batch_lineage(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    old_bands = band_index(minhash_signatures(doc_shingles(docs))).filter(
        F.col("doc_id") % 5 != 0
    )
    new = docs.filter(F.col("doc_id") % 5 == 0)
    inc, _ = incremental_lsh_candidates(new, old_bands)
    # the physical plan must not contain a second full-document scan
    # beyond the new batch + the provided index: the corpus text is
    # never re-shingled (scan count: new batch lineage + index lineage)
    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 4  # new-batch reads + index build


def test_persisted_bucketed_index_roundtrip(spark, sf_dir):
    """Daily-pipeline shape: persist the index bucketed on (band, key),
    run a batch against the table, append the batch's rows — the result
    matches a full recompute and the index side never shuffles."""
    import uuid

    table = f"band_index_{uuid.uuid4().hex[:8]}"
    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    persist_band_index(band_index(minhash_signatures(doc_shingles(old))), table)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        inc, new_bands = incremental_candidates_vs_index(spark, new, table)
        # candidate set: persisted-index path == in-memory path == the
        # delta a full recompute would add
        full = _pairs(
            lsh_candidates(band_index(minhash_signatures(doc_shingles(docs))))
        )
        prior = _pairs(
            lsh_candidates(band_index(minhash_signatures(doc_shingles(old))))
        )
        inc_pairs = _pairs(inc)
        assert prior | inc_pairs == full and len(inc_pairs) > 0

        # the corpus-index side of the vs-corpus join must come straight
        # off the bucketed scan. The join runs at the bucket count (64),
        # so exactly ONE side — the new batch — may exchange into that
        # layout; a second 64-partition (band, key) exchange (or none at
        # all, meaning the join fell back to 32 with both sides
        # shuffled) would mean bucketing was lost. The remaining
        # (band, key) exchanges belong to the new-vs-new self-join.
        # post-execution AQE toString repeats the tree ("Final Plan" +
        # "Initial Plan") — count within the final section only
        plan = inc._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        assert "Bucketed: true" in plan
        n_bucket_layout_exchanges = sum(
            "Exchange hashpartitioning(band" in line and ", 64)" in line
            for line in plan.splitlines()
        )
        assert n_bucket_layout_exchanges == 1, "persisted index was re-shuffled"

        # append the batch and verify the table now answers a fresh
        # batch with the full corpus as its index
        append_band_index(new_bands, table)
        assert spark.table(table).count() == (
            docs.count() * (MINHASH_K // 4)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_array_signatures_equal_row_signatures(spark, sf_dir):
    """The shuffle-free array-fold signature path must produce exactly
    the row-path signatures (same docs, same sig components)."""
    from github_data_pipeline_spark.functions import text as T
    from github_data_pipeline_spark.operators.neardup import (
        minhash_signatures_from_arrays,
    )

    docs = _docs(spark, sf_dir)
    row_sigs = minhash_signatures(doc_shingles(docs))
    arrays = docs.select(
        "doc_id", F.array_distinct(T.word_ngrams(T.tokens("text"), 3)).alias("g")
    )
    arr_sigs = minhash_signatures_from_arrays(arrays)
    cols = ["doc_id"] + [f"sig{i}" for i in range(MINHASH_K)]
    a = {tuple(r) for r in row_sigs.select(*cols).collect()}
    b = {tuple(r) for r in arr_sigs.select(*cols).collect()}
    assert a == b and len(a) > 0


def test_capped_bucket_pairs_star_fallback(spark):
    """Occupancy cap: small buckets emit all C(m,2) pairs; oversized
    buckets emit star pairs (min vs rest) — linear fan-out, same
    connected component."""
    from github_data_pipeline_spark.operators.neardup import (
        capped_bucket_pairs,
        lsh_candidates_capped,
    )

    rows = spark.createDataFrame(
        [("b1", i) for i in (3, 1, 2)] + [("b2", i) for i in (9, 7, 8, 6)],
        "key string, doc_id long",
    )
    got = capped_bucket_pairs(rows, ["key"], ["doc_id"], cap=3)
    pairs = sorted(
        (r["key"], r["p"]["a"]["doc_id"], r["p"]["b"]["doc_id"])
        for r in got.collect()
    )
    # b1 (m=3 <= cap): all pairs; b2 (m=4 > cap): star around 6
    assert pairs == [
        ("b1", 1, 2), ("b1", 1, 3), ("b1", 2, 3),
        ("b2", 6, 7), ("b2", 6, 8), ("b2", 6, 9),
    ]
    # capped candidate wrapper dedups across bands
    bands = spark.createDataFrame(
        [(0, "k", 1), (0, "k", 2), (1, "k2", 1), (1, "k2", 2)],
        "band int, key string, doc_id long",
    )
    cands = sorted(
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidates_capped(bands, cap=8).collect()
    )
    assert cands == [(1, 2)]


def test_capped_equals_uncapped_below_cap(spark):
    """With every bucket under the cap, the capped path must equal the
    all-pairs join exactly."""
    import random

    from github_data_pipeline_spark.operators.neardup import (
        lsh_candidates,
        lsh_candidates_capped,
    )

    rng = random.Random(7)
    rows = [
        (b % 4, f"key{rng.randrange(6)}", d)
        for b in range(4)
        for d in rng.sample(range(100), 12)
    ]
    bands = spark.createDataFrame(rows, "band int, key string, doc_id long")
    full = sorted(map(tuple, lsh_candidates(bands).collect()))
    capped = sorted(map(tuple, lsh_candidates_capped(bands, cap=64).collect()))
    assert full == capped


def test_capped_incremental_components_equal_full(spark):
    """One occupancy rule across the full build and the daily path:
    with a mega-bucket (14 identical docs, cap 8) plus a small clique,
    capped-incremental ∪ capped-prior must produce the SAME transitive
    clusters as a capped full recompute (edge sets legitimately
    differ — cliques freeze at the size they had when emitted)."""
    from github_data_pipeline_spark.operators.neardup import (
        band_index,
        bucket_stats,
        incremental_lsh_candidates_capped,
        lsh_candidates_capped,
    )

    hot = "alpha beta gamma delta epsilon zeta"
    small = "one two three four five six seven"
    rows = [(i, hot) for i in range(14)] + [
        (100, small), (101, small), (102, small)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = docs.filter(F.col("doc_id").isin(*range(10), 100, 101))
    new = docs.filter(F.col("doc_id").isin(10, 11, 12, 13, 102))

    def bands(d):
        return band_index(
            minhash_signatures(doc_shingles(d))
        )

    CAP = 8
    prior = _pairs(lsh_candidates_capped(bands(old), cap=CAP))
    full = _pairs(lsh_candidates_capped(bands(docs), cap=CAP))
    inc, new_bands, merged = incremental_lsh_candidates_capped(
        new, bands(old), cap=CAP
    )
    inc_pairs = _pairs(inc)

    def components(pairs):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {frozenset(k for k in parent if find(k) == r)
                for r in {find(x) for x in parent}}

    assert components(prior | inc_pairs) == components(full)
    # the mega-bucket contributed STAR edges only: each new hot doc
    # pairs with the stored minimum (0), never with the other 9+ members
    hot_inc = {p for p in inc_pairs if p[1] < 100}
    assert hot_inc == {(0, 10), (0, 11), (0, 12), (0, 13)}
    # the small under-cap bucket stays exact: new doc 102 joins both
    # stored clique members
    assert {p for p in inc_pairs if p[0] >= 100} == {(100, 102), (101, 102)}
    # merged stats == stats of the full index (mergeable monoids)
    got = {
        (r["band"], r["key"]): (r["min_doc"], r["cnt"])
        for r in merged.collect()
    }
    want = {
        (r["band"], r["key"]): (r["min_doc"], r["cnt"])
        for r in bucket_stats(bands(docs)).collect()
    }
    assert got == want


def test_capped_bucket_pairs_chain_fallback(spark):
    """Chain fallback: oversized buckets emit consecutive pairs of the
    payload-sorted list — adjacency follows the FIRST payload field, so
    equal-signature docs stay paired however far the bucket minimum
    doc_id sits."""
    from github_data_pipeline_spark.operators.neardup import (
        capped_bucket_pairs,
    )

    # simhash-first payload: docs 7,9 share sig 50; doc 1 sits at 99
    rows = spark.createDataFrame(
        [("b", 50, 7), ("b", 50, 9), ("b", 99, 1), ("b", 10, 4)],
        "key string, simhash long, doc_id long",
    )
    got = sorted(
        (r["p"]["a"]["doc_id"], r["p"]["b"]["doc_id"])
        for r in capped_bucket_pairs(
            rows, ["key"], ["simhash", "doc_id"], cap=3, fallback="chain"
        ).collect()
    )
    # sorted by simhash: (10,4) (50,7) (50,9) (99,1) -> chain 4-7, 7-9, 9-1
    assert got == [(4, 7), (7, 9), (9, 1)]


def test_capped_persisted_roundtrip(spark):
    """Daily-pipeline shape for the capped path: persist index + stats
    bucketed on (band, key), run a batch through the table entry point,
    fold the results back, and match a from-scratch rebuild."""
    import uuid

    from github_data_pipeline_spark.operators.neardup import (
        append_band_index,
        band_index,
        bucket_stats,
        incremental_candidates_vs_index_capped,
        persist_band_index,
        persist_bucket_stats,
    )

    hot = "alpha beta gamma delta epsilon zeta"
    rows = [(i, hot) for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = docs.filter(F.col("doc_id") < 9)
    new = docs.filter(F.col("doc_id") >= 9)

    def bands(d):
        return band_index(
            minhash_signatures(doc_shingles(d))
        )

    idx = f"nd_idx_{uuid.uuid4().hex[:8]}"
    st = f"nd_st_{uuid.uuid4().hex[:8]}"
    persist_band_index(bands(old), idx)
    persist_bucket_stats(bucket_stats(bands(old)), st)

    cands, new_bands, merged = incremental_candidates_vs_index_capped(
        spark, new, idx, st, cap=8
    )
    # 9 old + 3 new = 12 > cap: stars to the stored minimum only
    assert _pairs(cands) == {(0, 9), (0, 10), (0, 11)}

    append_band_index(new_bands, idx)
    persist_bucket_stats(merged, st)
    got = {
        (r["band"], r["key"]): (r["min_doc"], r["cnt"])
        for r in spark.table(st).collect()
    }
    want = {
        (r["band"], r["key"]): (r["min_doc"], r["cnt"])
        for r in bucket_stats(bands(docs)).collect()
    }
    assert got == want
    assert spark.table(idx).count() == bands(docs).count()
    spark.sql(f"DROP TABLE {idx}")
    spark.sql(f"DROP TABLE {st}")
