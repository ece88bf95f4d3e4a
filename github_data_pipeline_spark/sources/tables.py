"""Testdata table loaders and the driver-rows constructor.

The driver ships deterministic TPC-H-ish parquet tables plus an events
stream table and training-data tables (documents, embeddings) under
``/root/testdata/sf*/`` (see TESTDATA.md). These are the engine's
benchmark/correctness inputs.

Scans stay declarative (``spark.read.parquet``) so Catalyst gets native
predicate pushdown, column pruning and partition-size planning; never
collect-and-recreate.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor.
# (region/nation are constant-size; supplier/part/customer grow with SF but
# stay several orders of magnitude under the fact tables — still broadcast
# candidates at sf<=1; AQE re-checks at runtime.)
BROADCAST_DIMS = ("region", "nation", "supplier", "part", "customer")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: (abs path, mtime_ns) -> inferred StructType. Schema inference lists
#: the directory and reads parquet footers on the DRIVER on every
#: ``spark.read.parquet`` call — measured 100-190 ms per table at
#: sf0.1, paid by every builder invocation (158 builders x 1-5 tables
#: per bench pass). The inferred schema is a deterministic property of
#: the INPUT FILES (metadata, never data; exactly the file-listing
#: cache pattern of guide §6), so it is cached per (path, mtime) and
#: handed to the reader, which skips inference; the scan itself still
#: reads the parquet per execution. The mtime is the newest of the path
#: and its direct children (``_tree_mtime_ns``), so a rewrite scoped to
#: one partition directory invalidates too; a StructType is plain
#: Python, so the cache survives session restarts harmlessly.
_SCHEMA_CACHE: dict = {}


def _tree_mtime_ns(path: str) -> int:
    """Newest ``st_mtime_ns`` of ``path`` and its direct children.

    A partition-scoped rewrite (dynamic overwrite of ``x=*/``) replaces
    a child directory and need not touch the table root's own mtime.
    0 when the path is missing."""
    try:
        newest = os.stat(path).st_mtime_ns
    except OSError:
        return 0
    try:
        with os.scandir(path) as entries:
            for e in entries:
                try:
                    newest = max(newest, e.stat().st_mtime_ns)
                except OSError:
                    pass  # removed or a dangling link: not part of the table
    except NotADirectoryError:
        pass
    return newest


def read_parquet_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    key_path = os.path.abspath(path)
    key = (key_path, _tree_mtime_ns(key_path))
    st = _SCHEMA_CACHE.get(key)
    if st is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(st).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown testdata table {name!r}")
    # the driver hands builders ITS session, not one we built — apply
    # the session-scoped tuning (UTC, AQE, optimizer-rule exclusion)
    # here so every entry point benefits; idempotent via a marker conf
    from ..session import tune_session

    tune_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # some testdata generations write events.ts as parquet
        # TIMESTAMP(NANOS), which Spark's vectorized reader rejects.
        # Read nanos as long and floor-convert to microsecond
        # TimestampType — the same truncation DuckDB applies when it
        # narrows ns -> us, so both engines see identical values.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet_cached_schema(spark, path)
        if dict(df.dtypes).get("ts") == "bigint":
            # integer DIV, not /: nanos exceed 2^53 so a double division
            # would lose the low microsecond bits.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return _ltz(df)
    return _ltz(read_parquet_cached_schema(spark, path))


def _ltz(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to session-tz TimestampType.

    Parquet timestamps written without isAdjustedToUTC arrive as
    TIMESTAMP_NTZ, which Spark refuses to cast to numeric and treats
    asymmetrically in interval/window arithmetic. The session runs in
    UTC (session.tune_session), so reinterpreting the naive wall-clock
    as UTC instant is value-preserving and matches how the DuckDB
    oracle reads the very same column (naive TIMESTAMP).
    """
    casts = [
        F.col(c).cast("timestamp").alias(c) if t == "timestamp_ntz" else F.col(c)
        for c, t in df.dtypes
    ]
    if any(t == "timestamp_ntz" for _, t in df.dtypes):
        return df.select(*casts)
    return df


def rows_to_dataframe(
    spark: SparkSession, rows: Iterable, schema: StructType | str
) -> DataFrame:
    """Driver-held rows -> a typed DataFrame that plans as ``LocalTableScan``.

    ``spark.createDataFrame(list, schema)`` parallelizes pickled rows,
    so every scan of the frame re-runs a Python-worker pass (measured
    270-374 ms per scan of the fixture tables on local[4], against
    22-60 ms for the same rows held in the plan). Building an Arrow
    table on the driver instead gives a LocalRelation: no Python worker,
    no eager job, and no RDD blocks for an executor loss to drop.

    The checks are ``createDataFrame``'s: every row goes through the
    type verifier ``verifySchema=True`` runs, so a None in a
    non-nullable field raises ``PySparkValueError`` and a wrongly typed
    value ``PySparkTypeError``. ``Row`` and dict rows map to fields by
    name, tuples by position; ``schema`` is a StructType or a DDL string.
    Unlike ``createDataFrame``, one nested struct column takes either
    dicts or tuples, not a mix (pyarrow raises ``ArrowTypeError``), and
    naive datetimes are read as UTC, the session time zone the package
    runs in.

    For large backfills, distribute instead: build a DataFrame of page
    ranges or entity keys and fan the API client out from the executors.
    """
    if isinstance(schema, str):
        schema = spark._parse_ddl(schema)
    if not isinstance(schema, StructType):
        raise TypeError(f"schema must be a StructType, got {schema!r}")
    verify = _make_type_verifier(schema)
    names = schema.names
    records = []
    for row in rows:
        if isinstance(row, Row) and hasattr(row, "__fields__"):
            row = row.asDict(recursive=True)
        verify(row)
        records.append(row if isinstance(row, dict) else dict(zip(names, row)))
    table = pa.Table.from_pylist(records, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Fan a small scan out across cores before expensive per-row work.

    A table that fits one parquet split arrives as one partition, which
    serializes downstream explode/regex/ngram compute on a single core
    (and AQE keeps it coalesced). One cheap round-robin shuffle of the
    narrow input buys full parallelism for the heavy map stage.

    The repartition is CONDITIONAL: when the scan already has at least
    half the target parallelism (and at least 2 partitions — a lone
    partition always spreads, whatever the core count), spreading would
    be a pure-waste full shuffle of the data, so the input is returned
    untouched. An explicitly requested ``partitions`` value is always
    honored. The partition count comes from planning the scan stage
    (cheap for file scans, which is what every caller passes — no data
    job runs).
    """
    if partitions is not None:
        return df.repartition(partitions)
    n = df.sparkSession.sparkContext.defaultParallelism
    existing = df.rdd.getNumPartitions()
    if existing >= max(2, n // 2):
        return df
    return df.repartition(n)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(prefix + name)
