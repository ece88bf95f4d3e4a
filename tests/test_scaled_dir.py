"""Interrupted factor-scaled input builds (tools/bench_scaled._scaled_dir)."""

from __future__ import annotations

import os

from tools import bench_scaled, scale_smoke


def _count(spark, sf_dir: str, table: str) -> int:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet")).count()


def test_half_written_dir_rebuilds_to_the_right_row_count(
    spark, sf_dir, tmp_path, monkeypatch
):
    build = scale_smoke.build_scaled_dir
    monkeypatch.setattr(bench_scaled, "TMP_ROOT", str(tmp_path))
    # build from the test tables, not the bench's sf0.1
    monkeypatch.setattr(
        scale_smoke,
        "build_scaled_dir",
        lambda spark, _base, *args: build(spark, sf_dir, *args),
    )
    out = tmp_path / "f2_tpch"
    # left by a build that died before writing _BUILT: a dimension copied
    # twice where the link belongs, and a partial fact table
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    nation.union(nation).write.parquet(str(out / "nation.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    orders.limit(3).write.parquet(str(out / "orders.parquet"))

    got = bench_scaled._scaled_dir(spark, 2, "tpch")

    assert got == str(out) and os.path.exists(out / "_BUILT")
    for table, factor in (("orders", 2), ("lineitem", 2), ("nation", 1)):
        assert _count(spark, got, table) == factor * _count(spark, sf_dir, table)
