"""Round-10 additions: hardening regressions + new operator units.

Oracle equivalence for the new registry entries lives in the shared
sweep (tests/test_plans_oracle.py); these tests pin the behaviors the
oracle can't see — error routing, plan shapes, option paths.
"""

from __future__ import annotations

from github_data_pipeline_spark.sources.tables import load_table


def test_covariance_pair_form_equals_one_row_form(spark, sf_dir):
    """The (dim_i, dim_j)-keyed shuffle formulation and the one-row
    O(d^2)-columns aggregate must be CELL-IDENTICAL — the re-keying is
    physical-plan surgery for high dimension, never a semantics change."""
    from github_data_pipeline_spark.plans import all_plans
    from github_data_pipeline_spark.plans.similarity_plans import (
        COV_DIMS,
        _cov_pairs_frame,
    )

    reg = all_plans()
    a = reg["embedding_covariance"].builder(spark, sf_dir).collect()
    # the registry pairs entry runs at the full d=64; the d=8 slice of
    # the SAME parameterized builder is what must equal the one-row form
    b = _cov_pairs_frame(spark, sf_dir, COV_DIMS).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_covariance_pairs_shuffle_is_keyed_not_wide(spark, sf_dir):
    """The scale claim itself: the pair form's corpus-side aggregate
    carries O(1) aggregate expressions (one SUM + one COUNT over keyed
    rows), not O(d^2) columns — visible as a hashpartitioning exchange
    on (dim_i, dim_j)."""
    from github_data_pipeline_spark.plans import all_plans

    df = all_plans()["embedding_covariance_pairs"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(dim_i" in plan


def test_pca_power_iteration_partition_invariant(spark, sf_dir):
    """Every accumulation in the recurrence is integer fixed-point, so
    the extracted eigenvector must be BIT-identical under a different
    input partitioning (a float-sum implementation would differ in low
    bits and the truncated divisions would amplify the difference)."""
    from github_data_pipeline_spark.plans import all_plans
    from github_data_pipeline_spark.plans.similarity_plans import COV_FP

    reg = all_plans()
    base = reg["pca_power_iteration"].builder(spark, sf_dir).collect()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        alt = reg["pca_power_iteration"].builder(spark, sf_dir).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert [r.asDict() for r in base] == [r.asDict() for r in alt]
    # infinity-norm normalization: the dominant component is exactly +-S
    assert max(abs(r["eigvec_fp"]) for r in base) == COV_FP


def test_heavy_hitters_output_is_partitioning_independent(spark, sf_dir):
    """The candidate SET depends on partition boundaries; the OUTPUT
    must not — exact recount + threshold discards false candidates, so
    1 partition and 13 partitions must agree cell-exactly."""
    from github_data_pipeline_spark.functions import text as T
    from github_data_pipeline_spark.operators.heavyhitters import (
        misra_gries_candidates,
    )
    from github_data_pipeline_spark.operators.hints import (
        broadcast_if_bounded,
    )
    from github_data_pipeline_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    k = 99
    toks_base = load_table(spark, sf_dir, "documents").select(
        F.explode(T.tokens(F.lower(F.col("text")))).alias("token")
    )

    def run(parts: int):
        toks = toks_base.repartition(parts)
        summ = misra_gries_candidates(toks, k).localCheckpoint()
        n = summ.filter(F.col("token").isNull()).agg(F.sum("cnt")).first()[0]
        cands = broadcast_if_bounded(
            summ.filter(F.col("token").isNotNull()).select("token").distinct(),
            summ.count(),
        )
        return sorted(
            toks.join(cands, "token", "left_semi")
            .groupBy("token")
            .count()
            .filter(F.col("count") * (k + 1) > n)
            .collect()
        )

    assert run(1) == run(13) != []


def test_misra_gries_never_misses_a_true_heavy_hitter(spark):
    """Adversarial placement: a key spread thin across every partition
    (locally never dominant) but globally heavy MUST survive the
    per-partition cut — the N/(k+1) guarantee, not a best-effort."""
    from github_data_pipeline_spark.operators.heavyhitters import (
        misra_gries_candidates,
    )
    from pyspark.sql import functions as F

    # 40 partitions x (5 copies of "hot" + 95 distinct fillers):
    # locally "hot" is 5/100; globally 200/4000 = 5% > 1/(k+1) at k=39
    rows = []
    for p in range(40):
        rows += [("hot",)] * 5 + [(f"f{p}_{i}",) for i in range(95)]
    toks = spark.createDataFrame(rows, "token string").repartition(40)
    k = 39
    summ = misra_gries_candidates(toks, k)
    cands = {
        r["token"]
        for r in summ.filter(F.col("token").isNotNull()).collect()
    }
    assert "hot" in cands
    n = summ.filter(F.col("token").isNull()).agg(F.sum("cnt")).first()[0]
    assert n == 4000  # sentinels account every processed row


# --- session-2 additions: properties the oracle equality can't see ---------


def test_triangle_orientation_outdegree_bound(spark, sf_dir):
    """The scale claim behind events_triangle_census: degree-ordered
    orientation caps every out-degree at sqrt(2m) (if out-deg(v)=k,
    each out-neighbor has degree >= deg(v) >= k, so 2m >= k^2). The
    oracle proves the COUNT; this pins the BOUND the algorithm exists
    for."""
    import math

    from github_data_pipeline_spark.plans.graph_plans import item_edges

    # the SAME thinned undirected edge set the entry orients — shared
    # builder, so the test cannot drift from the entry's extraction
    edges = [
        (r["a"], r["b"])
        for r in item_edges(spark, sf_dir, undirected=True).collect()
    ]
    m = len(edges)
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    out: dict[int, int] = {}
    for a, b in edges:
        src = a if (deg[a], a) < (deg[b], b) else b
        out[src] = out.get(src, 0) + 1
    assert max(out.values()) <= math.isqrt(2 * m) + 1


def test_prefix_postings_strictly_smaller_than_full_index(spark, sf_dir):
    """Prefix filtering must actually shrink the candidate-generating
    index (the 100-TB story), and the highest-df boilerplate shingle
    must never emit a posting (it sorts to every doc's suffix)."""
    from pyspark.sql import functions as F

    from github_data_pipeline_spark.plans.dedup_plans import (
        PPJ_T_DEN,
        PPJ_T_NUM,
        _shingles,
        shingle_h120,
    )

    sh = _shingles(spark, sf_dir)
    # the entry's OWN hashed form (shared helper — the test keys on the
    # same 120-bit DECIMAL expression, so it cannot drift from the plan)
    shh = sh.select("doc_id", shingle_h120("s").alias("h"))
    df_tbl = shh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    arrs = (
        shh.join(df_tbl, "h")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("h")))
            ).alias("arr")
        )
    )
    keep = F.size("arr") - F.expr(
        f"({PPJ_T_NUM} * size(arr) + {PPJ_T_DEN - 1}) div {PPJ_T_DEN}"
    ) + F.lit(1)
    counts = arrs.agg(
        F.sum(F.size("arr")).alias("full"), F.sum(keep).alias("prefix")
    ).collect()[0]
    assert counts["prefix"] < counts["full"]
    # the globally hottest shingle sorts last in every doc that has >1
    # distinct shingle, so it may appear in a prefix only via
    # single-shingle docs; on this fixture it must not appear at all
    hottest = df_tbl.orderBy(F.desc("df"), F.asc("h")).first()["h"]
    in_prefix = (
        arrs.select(F.explode(F.slice("arr", 1, keep)).alias("p"))
        .filter(F.col("p.h") == hottest)
        .count()
    )
    assert in_prefix == 0


def test_roc_auc_matches_allpairs_definition(spark, duck, sf_dir):
    """auc_e6 must equal the DEFINITION: (#(pos>neg) + #(pos==neg)/2)
    / (n_pos*n_neg), computed all-pairs in Python on the fixture."""
    from github_data_pipeline_spark.plans import all_plans

    row = (
        all_plans()["classifier_roc_auc"].builder(spark, sf_dir).collect()[0]
    )
    pairs = duck.sql(
        """
        WITH f AS (
          SELECT len(toks) AS t,
            len(list_filter(toks, x -> list_contains(
              ['the','a','an','of','and','to','in','is','it','on'],
              lower(x)))) AS s,
            len(list_distinct(toks)) AS u,
            COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS c
          FROM (SELECT list_filter(string_split_regex(trim(text), '\\s+'),
                                   t -> t <> '') AS toks FROM documents)
        )
        SELECT CASE WHEN t = 0 THEN 0 ELSE
                 3*((s*10000)//t) + 2*((u*10000)//t) + 10*((c*100)//t)
               END AS score,
               CASE WHEN t BETWEEN 20 AND 400 AND s*10 >= t
                    THEN 1 ELSE 0 END AS label
        FROM f
        """
    ).fetchall()
    pos = sorted(s for s, l in pairs if l == 1)
    neg = sorted(s for s, l in pairs if l == 0)
    u2 = sum(
        2 * sum(1 for n in neg if p > n) + sum(1 for n in neg if p == n)
        for p in pos
    )
    assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)
    assert row["auc_e6"] == (u2 * 500_000) // (len(pos) * len(neg))


def test_regression_matches_numpy_lstsq(spark, sf_dir):
    """Slope/intercept/r2 must match an independent float solver to
    float tolerance (the entry itself is exact-integer-staged; numpy
    is the cross-check that the CLOSED FORM is the right one)."""
    import numpy as np
    from pyspark.sql import functions as F

    from github_data_pipeline_spark.functions import text as T
    from github_data_pipeline_spark.plans import all_plans
    from github_data_pipeline_spark.sources.tables import load_table

    got = {
        r["lang"]: r
        for r in all_plans()["lang_token_byte_regression"]
        .builder(spark, sf_dir)
        .collect()
    }
    raw = (
        load_table(spark, sf_dir, "documents")
        .select(
            "lang",
            F.col("n_chars").alias("x"),
            F.size(T.tokens("text")).alias("y"),
        )
        .collect()
    )
    langs = {r["lang"] for r in raw}
    for lang in langs:
        x = np.array([r["x"] for r in raw if r["lang"] == lang], dtype=float)
        y = np.array([r["y"] for r in raw if r["lang"] == lang], dtype=float)
        slope, intercept = np.polyfit(x, y, 1)
        r = got[lang]
        assert abs(r["tokens_per_char"] - slope) < 1e-9 * max(1, abs(slope))
        assert abs(r["intercept_tokens"] - intercept) < 1e-6 * max(
            1, abs(intercept)
        )
        corr = np.corrcoef(x, y)[0, 1]
        assert abs(r["r2"] - corr * corr) < 1e-9


def test_bfs_matches_python_bfs(spark, sf_dir):
    """Hop levels must equal a driver-side BFS over the same thinned
    edge set (guards the unrolled-join recurrence against off-by-one
    frontier bugs the oracle shares by construction)."""
    from collections import deque

    from github_data_pipeline_spark.plans import all_plans
    from github_data_pipeline_spark.plans.graph_plans import (
        BFS_HOPS,
        item_edges,
    )

    # the SAME thinned directed edge set the entry iterates — shared
    # builder, so the test cannot drift from the entry's extraction
    adj: dict[int, list[int]] = {}
    nodes = set()
    for r in item_edges(spark, sf_dir, undirected=False).collect():
        adj.setdefault(r["src"], []).append(r["dst"])
        nodes.add(r["src"])
        nodes.add(r["dst"])
    dist = {v: 0 for v in nodes if v % 10 == 0}
    q = deque(dist)
    while q:
        v = q.popleft()
        if dist[v] >= BFS_HOPS:
            continue
        for nxt in adj.get(v, ()):  # noqa: B909
            if nxt not in dist:
                dist[nxt] = dist[v] + 1
                q.append(nxt)
    got = {
        r["item"]: r["hops"]
        for r in all_plans()["events_bfs_reach"].builder(spark, sf_dir).collect()
    }
    assert got == dist
