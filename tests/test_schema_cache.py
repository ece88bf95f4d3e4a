"""The parquet schema cache (``sources.tables.read_parquet_cached_schema``)
must not serve a stale schema after a rewrite scoped to one partition."""

from __future__ import annotations

import os

from github_data_pipeline_spark.sources.tables import read_parquet_cached_schema


def test_partition_scoped_overwrite_reinfers_schema(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(3).selectExpr("id", "1 AS x").write.partitionBy("x").parquet(p)
    assert read_parquet_cached_schema(spark, p).columns == ["id", "x"]
    root = os.stat(p)

    # dynamic overwrite of partition x=1 with a wider schema
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        spark.range(2).selectExpr(
            "id", "CAST(id AS STRING) AS extra", "1 AS x"
        ).write.mode("overwrite").partitionBy("x").parquet(p)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # a committer that swaps the partition directory in place leaves
    # the table root's own mtime as it was; only x=1 is new
    os.utime(p, ns=(root.st_atime_ns, root.st_mtime_ns))

    again = read_parquet_cached_schema(spark, p)
    assert again.columns == ["id", "extra", "x"]
    assert sorted(r["extra"] for r in again.collect()) == ["0", "1"]
