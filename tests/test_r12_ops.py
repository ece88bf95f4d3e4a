"""Round-12 operator tests.

Non-vacuity + independent-equivalence pins for the capped incremental
LSH components entry (``lsh_capped_star_components``): the DuckDB
oracle compares COMPONENTS because the capped edge set differs from
the full rebuild BY DESIGN — these tests prove that difference is real
on the fixture (the star lane fired; the edge sets genuinely diverge)
and that the connectivity contract holds against Spark's own uncapped
build, independent of DuckDB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from github_data_pipeline_spark.operators.components import (
    connected_components,
)
from github_data_pipeline_spark.operators.neardup import (
    band_index,
    bucket_stats,
    doc_shingle_stream,
    incremental_lsh_candidates_capped,
    lsh_candidates,
    lsh_candidates_capped,
    minhash_signatures,
)
from github_data_pipeline_spark.plans.lsh_incremental_plans import STAR_CAP
from github_data_pipeline_spark.sources.tables import load_table


def _entry_stages(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    thr = (lo + hi) // 2
    corpus = d.filter(F.col("doc_id") <= thr)
    batch = d.filter(F.col("doc_id") > thr)
    index = band_index(
        minhash_signatures(doc_shingle_stream(corpus, distinct=False))
    ).localCheckpoint()
    all_bands = band_index(
        minhash_signatures(doc_shingle_stream(d, distinct=False))
    ).localCheckpoint()
    return thr, batch, index, all_bands


def test_capped_star_lane_is_nonvacuous(spark, sf_dir):
    """The entry exists to score the STAR fallback: at least one band
    bucket touched by the ingest batch must exceed STAR_CAP on the
    fixture, or the capped path degenerates to the uncapped one and
    the components oracle proves nothing new."""
    thr, _batch, _index, all_bands = _entry_stages(spark, sf_dir)
    occ = all_bands.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum((F.col("doc_id") > thr).cast("long")).alias("new_c"),
    )
    over_batch = occ.filter(
        (F.col("c") > STAR_CAP) & (F.col("new_c") > 0)
    ).count()
    assert over_batch > 0, (
        f"no batch-touched bucket exceeds cap={STAR_CAP}: the star "
        "lane never fired — shrink STAR_CAP or fix the fixture"
    )
    # ...and under-cap buckets must ALSO exist, or the all-pairs lane
    # is the vacuous one
    under_batch = occ.filter(
        (F.col("c") <= STAR_CAP) & (F.col("c") >= 2) & (F.col("new_c") > 0)
    ).count()
    assert under_batch > 0


def _edge_set(df):
    return {(r["doc_a"], r["doc_b"]) for r in df.collect()}


def test_capped_edges_differ_but_components_match_uncapped(spark, sf_dir):
    """The theorem the entry states as data, proved engine-internally:
    the capped two-phase edge set is a STRICT subset-shape difference
    from the uncapped graph (so the oracle comparison is not trivially
    edge-equal), yet min-label closure lands on identical components."""
    thr, batch, index, all_bands = _entry_stages(spark, sf_dir)
    prior = lsh_candidates_capped(index, cap=STAR_CAP)
    inc, _nb, _ms = incremental_lsh_candidates_capped(
        batch, index, stats=bucket_stats(index), cap=STAR_CAP
    )
    capped = prior.unionByName(inc)
    full = lsh_candidates(all_bands)
    capped_set, full_set = _edge_set(capped), _edge_set(full)
    assert capped_set != full_set, (
        "capped and uncapped edge sets are identical — the star "
        "fallback changed nothing; the entry's reason to compare "
        "components instead of edges has evaporated"
    )
    # every capped edge joins two co-bucketed docs, so it exists in
    # the full graph (stars invent no edges, they only drop some)
    assert capped_set <= full_set

    def comps(edges):
        return {
            (r["component"], r["node"])
            for r in connected_components(edges).collect()
        }

    assert comps(capped) == comps(full)


def test_dpp_scan_carries_live_pruning_filter(spark, sf_dir):
    """The DPP entry's plan-shape half: the fact scan's
    PartitionFilters must carry a LIVE dynamicpruning expression.
    The failure mode this pins: a small fact elected as the broadcast
    build side degrades the pruning subquery to
    ``dynamicpruningexpression(true)`` — the scan then reads every
    partition while the plan still LOOKS like it has DPP (found while
    building the entry; the forced dim broadcast is the cure)."""
    from github_data_pipeline_spark.plans.dpp_plans import (
        pruned_fact_agg,
        scan_metrics,
    )

    q = pruned_fact_agg(spark, sf_dir)
    txt = q._jdf.queryExecution().executedPlan().toString()
    fact_lines = [
        ln for ln in txt.splitlines()
        if "dpp_fact" in ln and "PartitionFilters" in ln
    ]
    assert fact_lines, "fact scan not found in the executed plan"
    final_scan = fact_lines[0]  # Final Plan section precedes Initial
    assert "dynamicpruningexpression" in final_scan
    assert "dynamicpruningexpression(true)" not in final_scan, (
        "DPP degraded to the no-op fallback — the fact side was "
        "probably elected as the broadcast build side"
    )
    # ...and the runtime metric half: the executed scan must touch
    # strictly fewer partitions than exist
    q.collect()
    m = scan_metrics(q, "dpp_fact")
    assert 0 < m["numPartitions"] < 25


def test_isotonic_fit_matches_textbook_pav(spark, sf_dir):
    """The entry computes isotonic regression via the closed minimax
    form (fit(k) = max_{i<=k} min_{j>=k} mean(i..j)); this test runs
    the TEXTBOOK sequential pool-adjacent-violators stack in exact
    rational arithmetic (Fraction) over the same bins and demands the
    truncated-e12 fits agree — an independent proof of the minimax
    identity on real data, plus non-vacuity (the raw rates must
    actually violate monotonicity somewhere, or PAV pooled nothing)."""
    from fractions import Fraction

    from github_data_pipeline_spark.plans import all_plans
    from github_data_pipeline_spark.plans.classifier_plans import CAL_FP

    rows = sorted(
        (
            (r["score_bin"], r["docs"], r["pos"], r["rate_e12"], r["fit_e12"])
            for r in all_plans()["classifier_isotonic_calibration"]
            .builder(spark, sf_dir)
            .collect()
        )
    )
    assert len(rows) >= 5
    rates = [r[3] for r in rows]
    assert any(b < a for a, b in zip(rates, rates[1:])), (
        "raw bin rates are already monotone — PAV pooled nothing and "
        "the entry is vacuous on this fixture"
    )
    # textbook PAV: pools of (sum_pos, cnt); merge while the last pool's
    # mean is below its predecessor's
    pools: list[list[int]] = []  # [pos, cnt]
    for _bin, cnt, pos, _rate, _fit in rows:
        pools.append([pos, cnt])
        while len(pools) > 1 and Fraction(
            pools[-1][0], pools[-1][1]
        ) < Fraction(pools[-2][0], pools[-2][1]):
            p2 = pools.pop()
            pools[-1][0] += p2[0]
            pools[-1][1] += p2[1]
    want: list[int] = []
    idx = 0
    for pos, cnt in pools:
        fit_e12 = (pos * CAL_FP) // cnt  # nonneg: floor == truncation
        # the pool covers `cnt` docs spread over >= 1 bins; re-expand
        spanned = 0
        while spanned < cnt:
            spanned += rows[idx][1]
            want.append(fit_e12)
            idx += 1
    got = [r[4] for r in rows]
    assert got == want
    # monotone flag pinned on every row
    # (the oracle pins it too; this is the engine-internal replica)
    assert all(a <= b for a, b in zip(got, got[1:]))


def test_weak_label_votes_are_nonvacuous(spark, sf_dir):
    """The vote report is only informative if the fixture exercises
    the interesting lanes: real conflicts (some LF contradicted by
    another), real abstention (some LF covers < 100%), both vote
    polarities present somewhere, and overlap everywhere an LF votes
    alongside another. Also pins the per-LF arithmetic invariants
    (votes = pos + neg; conflict <= overlap <= votes)."""
    from github_data_pipeline_spark.plans import all_plans
    from github_data_pipeline_spark.plans.weaklabel_plans import WL_FP

    rows = {
        r["lf"]: r
        for r in all_plans()["weak_label_vote_report"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert len(rows) == 5
    for r in rows.values():
        assert r["votes"] == r["pos"] + r["neg"], r
        assert r["conflicts"] <= r["overlaps"] <= r["votes"], r
        assert 0 <= r["majority_agree"] <= r["votes"], r
    assert any(r["conflicts"] > 0 for r in rows.values()), (
        "no LF ever conflicts with another — the conflict diagnostic "
        "is vacuous on this fixture"
    )
    assert any(r["coverage_e6"] < WL_FP for r in rows.values()), (
        "every LF covers 100% — abstention is vacuous"
    )
    assert any(r["pos"] > 0 for r in rows.values())
    assert any(r["neg"] > 0 for r in rows.values())


def test_stream_cms_folds_multiple_batches(spark, sf_dir, duck):
    """stream_cms_equality's claim is INCREMENTAL build == from-scratch
    rebuild; with a single micro-batch the 'incremental' half is
    vacuous. The range-split artifact + maxFilesPerTrigger=1 must
    yield >= 2 non-empty folded batches, and the streamed grid must
    equal the batch-built cells engine-internally (the DuckDB half is
    the entry's oracle)."""
    from github_data_pipeline_spark.plans.cms_plans import (
        _batch_cells,
        stream_cms_equality,
    )
    from github_data_pipeline_spark.sources.tables import load_table

    out = {
        (r["r"], r["b"]): r["cnt"]
        for r in stream_cms_equality(spark, sf_dir).collect()
    }
    assert stream_cms_equality.last_fold_batches >= 2, (
        "the drain folded fewer than 2 non-empty micro-batches — the "
        "incremental claim is vacuous (did the range-split artifact "
        "collapse to one file?)"
    )
    batch = {
        (r["r"], r["b"]): r["c"]
        for r in _batch_cells(
            load_table(spark, sf_dir, "documents").select("text")
        ).collect()
    }
    assert out == batch and len(out) > 0
