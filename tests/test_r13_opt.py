"""Round-13 optimization pins.

Covers the r12-verdict/advice hardening items: the covariance pairs
formulation's int64 fixed-point domain is runtime-enforced (not
assumed), colcache accepts keyword arguments and survives a
SparkContext identity change, list-valued cached fragments are frozen
against caller mutation, bench's previous-run recovery merges its two
ledger sources by timestamp, and the run-ledger write is atomic.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from github_data_pipeline_spark.plans.similarity_plans import (
    COV_FP,
    COV_PAIRS_MAX_ABS,
    _cov_fx_expr,
)


def test_cov_fx_domain_guard_in_range_identity(spark):
    """Inside the documented |v| < 3000 domain the guard term is +0:
    the fixed-point array is exactly FLOOR(v * COV_FP)."""
    df = spark.createDataFrame(
        [([0.5, -1.25, 2999.0, -2999.5],)], "embedding array<double>"
    )
    [row] = df.select(F.expr(_cov_fx_expr(4)).alias("fx")).collect()
    assert row["fx"] == [
        int(COV_FP * 0.5),
        -int(COV_FP * 1.25),
        int(COV_FP * 2999.0),
        -int(COV_FP * 2999.5),
    ]


def test_cov_fx_domain_guard_raises_out_of_range(spark):
    """A component at or above COV_PAIRS_MAX_ABS would let a pair
    product exceed 2^63 and silently wrap; the guard must raise."""
    df = spark.createDataFrame(
        [([1.0, COV_PAIRS_MAX_ABS + 1.0],)], "embedding array<double>"
    )
    with pytest.raises(Exception, match="int64-exact covariance domain"):
        df.select(F.expr(_cov_fx_expr(2)).alias("fx")).collect()


def test_colcache_kwargs_participate_in_key(spark):
    """memoize_when_keyable accepts keyword calls (latent TypeError in
    the r12 form) and keys them: same kwargs hit the same entry,
    different kwargs miss."""
    from github_data_pipeline_spark.functions.lsh import bucket_col

    a = bucket_col("sig", n_planes=4)
    b = bucket_col("sig", n_planes=4)
    c = bucket_col("sig", n_planes=8)
    assert a is b
    assert a is not c


def test_colcache_clears_on_context_change(spark):
    """Cached fragments hold py4j refs into one JVM; a SparkContext
    identity change must invalidate the whole cache."""
    from github_data_pipeline_spark.functions import colcache
    from github_data_pipeline_spark.functions.vectors import cosine

    cosine("x", "y")  # populate under the live context's token
    colcache._CACHE[("r13-sentinel",)] = object()
    colcache._CTX_TOKEN = -1  # simulate a restart (new ctx identity)
    cosine("x", "y")  # first build after the "restart" clears the cache
    assert ("r13-sentinel",) not in colcache._CACHE
    assert len(colcache._CACHE) >= 1  # repopulated under the new token


def test_colcache_freezes_list_values(spark):
    """List-valued fragments are stored as tuples so a caller mutating
    its 'copy' cannot poison later callers."""
    from github_data_pipeline_spark.functions.colcache import memo_col

    val = memo_col(("r13-test-frags",), lambda: ([F.lit(1)], [F.lit(2)]))
    assert isinstance(val, tuple)
    assert all(isinstance(part, tuple) for part in val)


def test_recover_prev_merges_sources_by_ts(tmp_path):
    """A stale bench_runs entry must not shadow a newer
    progress_timings entry (advice: merge by ts, not source order)."""
    from bench import _recover_prev

    progress = tmp_path / "PROGRESS.jsonl"
    runs = tmp_path / "BENCH_RUNS.jsonl"
    progress.write_text(
        json.dumps(
            {
                "event": "bench_delta",
                "ts": 200.0,
                "total": 11.0,
                "timings": {"q": 1.1},
            }
        )
        + "\n"
    )
    runs.write_text(
        json.dumps({"ts": 100.0, "total": 10.0, "timings": {"q": 1.0}})
        + "\n"
    )
    got = _recover_prev({"tail": ""}, str(progress), str(runs))
    assert got["queries"] == {"q": 1.1}
    assert got["source"] == "progress_timings_latest"


def test_append_run_ledger_atomic_and_capped(tmp_path):
    from bench import _append_run_ledger

    path = tmp_path / "BENCH_RUNS.jsonl"
    for i in range(15):
        _append_run_ledger(str(path), {"q": float(i)}, float(i), keep=12)
    lines = [json.loads(x) for x in path.read_text().splitlines()]
    assert len(lines) == 12
    assert lines[-1]["total"] == 14.0
    # no leftover temp files from the atomic replace
    assert list(tmp_path.glob("*.tmp.*")) == []


def test_read_parquet_cached_schema_identity_and_invalidation(
    spark, tmp_path
):
    """The (path, mtime)-keyed schema cache returns the same schema and
    rows as a fresh inferring read, and a rewrite (new mtime, new
    schema) invalidates the entry — the cache holds INPUT METADATA
    only, never rows."""
    import os

    from github_data_pipeline_spark.sources.tables import (
        _SCHEMA_CACHE,
        _tree_mtime_ns,
        read_parquet_cached_schema,
    )

    p = str(tmp_path / "t.parquet")
    spark.range(5).selectExpr("id", "id * 2 AS v").write.parquet(p)
    fresh = spark.read.parquet(p)
    first = read_parquet_cached_schema(spark, p)  # populates the cache
    second = read_parquet_cached_schema(spark, p)  # served from it
    assert first.schema == fresh.schema == second.schema
    assert sorted(r["v"] for r in second.collect()) == [0, 2, 4, 6, 8]
    key = (os.path.abspath(p), _tree_mtime_ns(os.path.abspath(p)))
    assert key in _SCHEMA_CACHE

    # rewrite with a different schema AND a bumped mtime: the stale
    # entry must not serve (the key includes mtime_ns)
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s").write.mode(
        "overwrite"
    ).parquet(p)
    os.utime(p, ns=(os.stat(p).st_atime_ns, os.stat(p).st_mtime_ns + 1))
    again = read_parquet_cached_schema(spark, p)
    assert dict(again.dtypes)["s"] == "string"
    assert sorted(r["s"] for r in again.collect()) == ["0", "1", "2"]
