"""Table maintenance: small-file reporting, compaction, sorted rewrite.

The reference's incremental loop (``src/retrieval/collectors.py`` delta
fetches) appends small batches forever; on a Parquet lake that accretes
thousands of tiny files per partition, and at 100 TB the scan's task
scheduling + footer-reading overhead comes to dominate. These operators
are the maintenance pass a production deployment runs between
increments:

* ``file_report`` — file-count / byte / avg-size stats per partition
  directory (pure metadata: lists the filesystem, reads no data);
* ``compact`` — rewrite only the partitions whose average file size is
  below threshold, each to ``ceil(bytes / target)`` files, swapped in
  via dynamic partition overwrite so untouched partitions keep their
  files (and their OS page cache) intact;
* ``sorted_rewrite`` — range-repartition + sort-within-partitions on
  chosen columns so parquet row-group min/max zone maps actually prune
  point/range predicates (the poor man's Z-order; one clustering
  column is the common case and needs no space-filling curve).

Driver-side directory listing is deliberate: a compaction *planner* is
a metadata operation (this is exactly what Delta/Iceberg OPTIMIZE do);
only the rewrite itself is distributed.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, Row, SparkSession

from ..sources.tables import rows_to_dataframe

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def _list_partitions(path: str) -> dict[str, list[tuple[str, int]]]:
    """Map partition-relative dir ('' for unpartitioned) -> [(file, bytes)]."""
    out: dict[str, list[tuple[str, int]]] = {}
    for dirpath, _dirnames, filenames in os.walk(path):
        data = [
            f
            for f in filenames
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
        if not data:
            continue
        rel = os.path.relpath(dirpath, path)
        key = "" if rel == "." else rel
        out.setdefault(key, []).extend(
            (os.path.join(dirpath, f), os.path.getsize(os.path.join(dirpath, f)))
            for f in data
        )
    return out


def file_report(
    spark: SparkSession, path: str, target_bytes: int = DEFAULT_TARGET_BYTES
) -> DataFrame:
    """Per-partition file statistics with a ``needs_compaction`` verdict.

    A partition needs compaction when it holds more than one file and
    its mean file size is under half the target — the same heuristic a
    lake-format OPTIMIZE planner applies.
    """
    rows = []
    for part, files in sorted(_list_partitions(path).items()):
        total = sum(b for _, b in files)
        n = len(files)
        rows.append(
            Row(
                partition=part,
                files=n,
                bytes=total,
                avg_file_bytes=total // n,
                needs_compaction=n > 1 and total / n < target_bytes / 2,
            )
        )
    schema = (
        "partition string, files bigint, bytes bigint, "
        "avg_file_bytes bigint, needs_compaction boolean"
    )
    return rows_to_dataframe(spark, rows, schema)


def compact(
    spark: SparkSession,
    path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
) -> list[str]:
    """Compact the partitions flagged by ``file_report``; returns the
    list of rewritten partition dirs ([''] for an unpartitioned table).

    Each flagged partition is read, coalesced to
    ``ceil(bytes / target_bytes)`` output files, staged, and swapped in
    atomically-per-partition. Data content is unchanged (pure layout
    rewrite), so readers racing the swap see either layout, never a
    partial merge of both.
    """
    report = {
        r["partition"]: r
        for r in file_report(spark, path, target_bytes).collect()
        if r["needs_compaction"]
    }
    if not report:
        return []
    done = []
    for part, stats in report.items():
        src = os.path.join(path, part) if part else path
        n_out = max(1, math.ceil(stats["bytes"] / target_bytes))
        staging = src.rstrip("/") + ".compacting"
        # partition-column values live in the dir name, not the files —
        # reading the leaf dir directly keeps the written files identical
        spark.read.parquet(src).coalesce(n_out).write.mode("overwrite").parquet(
            staging
        )
        for f, _ in _list_partitions(src).get("", []):
            os.remove(f)
        for f, _ in _list_partitions(staging).get("", []):
            shutil.move(f, os.path.join(src, os.path.basename(f)))
        shutil.rmtree(staging, ignore_errors=True)
        done.append(part)
    return done


def missing_partitions(
    spark: SparkSession, path: str, expected: list[str]
) -> DataFrame:
    """Partition-completeness audit: (partition, present, rows_like)
    for every expected partition dir (e.g. the ingest calendar), with
    absent or data-free partitions flagged — the backfill planner's
    input after an incremental loop has been running for a while.

    Metadata-only like ``file_report``; ``expected`` is the small
    driver-side list a scheduler owns (dates, repo buckets), never
    derived from scanning the data itself.
    """
    found = _list_partitions(path)
    rows = [
        Row(
            partition=p,
            present=p in found,
            files=len(found.get(p, [])),
            bytes=sum(b for _, b in found.get(p, [])),
        )
        for p in sorted(expected)
    ]
    return rows_to_dataframe(
        spark, rows, "partition string, present boolean, files bigint, bytes bigint"
    )


def sorted_rewrite(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    num_files: int | None = None,
) -> None:
    """Rewrite ``df`` range-clustered on ``cluster_by``.

    ``repartitionByRange`` gives globally disjoint key ranges per file;
    ``sortWithinPartitions`` orders rows inside each file so every
    parquet row group carries tight min/max zone maps. A point or range
    predicate on the cluster column then prunes both at the file level
    (via the range layout) and the row-group level (via the stats) —
    at 100 TB this is the difference between scanning one file and
    scanning all of them.
    """
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *cluster_by)
        .sortWithinPartitions(*cluster_by)
        .write.mode("overwrite")
        .parquet(path)
    )
