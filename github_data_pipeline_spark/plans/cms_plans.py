"""Registry entry: count-min sketch frequency estimation, cell-exact.

The count-min sketch (Cormode & Muthukrishnan 2005) is the canonical
bounded-memory frequency structure a streaming/training pipeline
carries next to its KMV distinct sketch: D hash rows x W buckets of
counters, update = +1 at (r, h_r(x)) for each row r, point estimate =
min over rows — an OVERESTIMATE by construction (collisions only add),
within eN/W with probability 1-(1/2)^D. Mergeable by elementwise add,
so partial aggregation builds it map-side and the exchange moves at
most D*W counters per task regardless of corpus size — the property
that makes it a 100-TB frequency oracle where exact per-token counts
need a vocabulary-sized shuffle.

Like the KMV entries (and unlike engine-specific HLL registers), the
hash family here is a deterministic md5 derivation, so DuckDB rebuilds
the IDENTICAL sketch and the entry is fully cell-exact — estimator
values themselves, not just envelope flags. The probe set is the exact
top-K tokens (deterministic tie-break), so the entry also reports the
exact count next to the estimate plus the never-underestimates flag,
making the overcount visible as data.

Exact heavy hitters (``token_heavy_hitters``) answers "which tokens
are frequent" with exact counts; this entry answers "how frequent is
ANY given token" from O(D*W) state — the two complementary faces of
frequency at scale.

``stream_cms_equality`` (r12) is the sketch's STREAMING face and the
tenth drained gate class: the same D x W grid built incrementally by a
``foreachBatch`` drain over a multi-file document stream — each
micro-batch folds to at most D*W counter rows before anything reaches
the driver, and the grids merge by elementwise addition (the monoid
property IS the entry's claim). The DuckDB oracle rebuilds the sketch
from scratch over the whole corpus; cell equality proves the
incremental build loses and invents nothing, batch boundaries
included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..sources.tables import load_table, rows_to_dataframe, spread
from .artifacts import build_once
from .core import REGISTRY

#: sketch geometry: D hash rows x W buckets (tiny on purpose so the
#: fixture actually collides and the overestimate lane is non-vacuous;
#: production sizes W ~ e/eps)
CMS_D = 3
CMS_W = 32
#: probe set: the exact top-K tokens (count desc, token asc)
CMS_PROBE_K = 20


def _h_sql(row: int, col: str = "tok") -> str:
    """DuckDB bucket hash for sketch row ``row`` over column ``col``
    (parameterized instead of post-hoc string surgery, so a future
    'tok' substring elsewhere in the expression cannot corrupt it)."""
    return (
        f"CAST(('0x' || substr(md5('r{row}:' || {col}), 1, 8)) AS BIGINT)"
        f" % {CMS_W}"
    )


def _h_col(row: int):
    """Spark twin of :func:`_h_sql`."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"r{row}:"), F.col("tok"))), 1, 8
            ),
            16,
            10,
        )
        .cast("long")
        % CMS_W
    )


def _cell_gen():
    """Memoized (r, bucket)-cell generator over column ``tok`` — the
    same deterministic fragment feeds the sketch build and the probe
    lookup (functions/colcache.py: plan fragments only, never data)."""
    from ..functions.colcache import memo_col

    return memo_col(
        ("cms._cell_gen", CMS_D, CMS_W),
        lambda: F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), _h_col(r).alias("b"))
                    for r in range(CMS_D)
                ]
            )
        ),
    )


@REGISTRY.add(
    "cms_token_frequency",
    f"""
    WITH toks AS (
      SELECT unnest({T.tokens_sql()}) AS tok FROM documents
    ), exact AS (
      SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
    ), probes AS (
      SELECT tok, cnt FROM exact
      ORDER BY cnt DESC, tok ASC LIMIT {CMS_PROBE_K}
    ), cells AS (
      {" UNION ALL ".join(
          f"SELECT {r} AS r, {_h_sql(r)} AS b, COUNT(*) AS c"
          f" FROM toks GROUP BY 2"
          for r in range(CMS_D)
      )}
    )
    SELECT p.tok AS token,
           CAST(p.cnt AS BIGINT) AS exact_cnt,
           CAST(MIN(cells.c) AS BIGINT) AS cms_est,
           CAST(CASE WHEN MIN(cells.c) >= p.cnt THEN 1 ELSE 0 END AS INT)
             AS never_underestimates
    FROM probes p
    JOIN cells ON (
      {" OR ".join(
          f"(cells.r = {r} AND cells.b = {_h_sql(r, 'p.tok')})"
          for r in range(CMS_D)
      )}
    )
    GROUP BY p.tok, p.cnt
    """,
    doc=f"Count-min sketch ({CMS_D} md5-derived hash rows x {CMS_W} "
    "buckets) over the document token stream, probed at the exact "
    f"top-{CMS_PROBE_K} tokens: per probe the exact count, the CMS "
    "point estimate (min over rows of the bucket counters), and the "
    "never-underestimates flag the structure guarantees. The sketch "
    "is one grouped count keyed by (row, bucket) — map-side partial "
    "aggregation collapses every task to at most "
    f"{CMS_D}x{CMS_W} counters before the exchange, the elementwise-"
    "mergeable bounded-memory shape that answers point-frequency "
    "queries at 100 TB without a vocabulary-sized shuffle (the "
    "complementary face of token_heavy_hitters' exact top-k). The "
    "hash family is engine-neutral md5 arithmetic, so the oracle "
    "rebuilds the IDENTICAL sketch and the estimates compare "
    "cell-exact — geometry deliberately tiny so collisions are real "
    "and the overestimate is visible as data, not prose.",
    tags=("sketch", "cms", "frequency", "documents"),
)
def cms_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("text"))
    toks = d.select(
        F.explode(
            F.filter(
                F.split(F.trim("text"), r"\s+"), lambda t: t != F.lit("")
            )
        ).alias("tok")
    ).localCheckpoint()  # ONE tokenize pass feeds exact + all D rows
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    probes = (
        exact.orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(CMS_PROBE_K)
        .localCheckpoint()  # K rows; broadcast side of the probe join
    )
    # the sketch: one generator per token occurrence emits its D
    # (row, bucket) cells; groupBy folds partials map-side so no task
    # ships more than D*W counters
    cells = (
        toks.select(
            _cell_gen().alias("cell")
        )
        .select("cell.r", "cell.b")
        .groupBy("r", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # probe lookup: attach each probe's D bucket ids, join the sketch
    # on (r, b) — the probe side is K*D rows, hint-free (AQE
    # broadcasts it at runtime)
    probe_cells = probes.select(
        "tok",
        "cnt",
        _cell_gen().alias("cell"),
    ).select("tok", "cnt", "cell.r", "cell.b")
    return (
        probe_cells.join(cells, ["r", "b"])
        .groupBy("tok", "cnt")
        .agg(F.min("c").alias("est"))
        .select(
            F.col("tok").alias("token"),
            F.col("cnt").cast("long").alias("exact_cnt"),
            F.col("est").cast("long").alias("cms_est"),
            (F.col("est") >= F.col("cnt"))
            .cast("int")
            .alias("never_underestimates"),
        )
    )


def docs_stream_artifact(spark: SparkSession, sf_dir: str) -> str:
    """The documents table re-persisted as TWO range-split files —
    the multi-file layout the streaming gate needs so an availableNow
    drain with maxFilesPerTrigger=1 runs >= 2 real micro-batches
    (the fixture tables are single files = single batches). Two is the
    NON-VACUITY MINIMUM: one cross-boundary merge already proves the
    incremental fold loses and invents nothing, and every extra
    micro-batch is a fixed cycle of per-batch planning + state setup
    + fold with no additional claim (r12 shipped 4; re-derived per
    guide §1.4 — measure the computation the proof needs). Built once
    per sf_dir."""
    return build_once(
        sf_dir,
        "docs_stream2",
        ("documents",),
        "files2:v1",
        lambda tmp: load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartitionByRange(2, "doc_id")
        .write.parquet(tmp),
    )


def _batch_cells(df: DataFrame) -> DataFrame:
    """(r, b, c) counter cells of the CMS grid for one document frame
    — shared by the batch probe entry and the per-micro-batch fold so
    the streamed and from-scratch sketches cannot drift."""
    toks = df.select(
        F.explode(
            F.filter(
                F.split(F.trim("text"), r"\s+"), lambda t: t != F.lit("")
            )
        ).alias("tok")
    )
    return (
        toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(r).alias("r"), _h_col(r).alias("b"))
                        for r in range(CMS_D)
                    ]
                )
            ).alias("cell")
        )
        .select("cell.r", "cell.b")
        .groupBy("r", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


@REGISTRY.add(
    "stream_cms_equality",
    f"""
    WITH toks AS (
      SELECT unnest({T.tokens_sql()}) AS tok FROM documents
    ), cells AS (
      {" UNION ALL ".join(
          f"SELECT {r} AS r, {_h_sql(r)} AS b, COUNT(*) AS c"
          f" FROM toks GROUP BY 2"
          for r in range(CMS_D)
      )}
    )
    SELECT CAST(r AS INT) AS r, CAST(b AS BIGINT) AS b,
           CAST(c AS BIGINT) AS cnt
    FROM cells ORDER BY r ASC, b ASC
    """,
    doc=f"Streaming count-min sketch == from-scratch rebuild (the "
    "tenth drained gate class, and the cheapest: state is the "
    f"{CMS_D}x{CMS_W} counter grid). The document corpus streams as "
    ">= 2 real micro-batches (range-split file source, "
    "maxFilesPerTrigger=1, availableNow — the non-vacuity minimum: "
    "one cross-boundary merge proves the fold, and extra batches are "
    "pure fixed cost); a foreachBatch drain folds "
    f"each batch to at most {CMS_D}x{CMS_W} (row, bucket, count) "
    "cells BEFORE anything reaches the driver and merges grids by "
    "elementwise addition — the mergeable-monoid property that makes "
    "CMS a 100-TB streaming frequency oracle is exercised as the "
    "proof itself. The DuckDB oracle rebuilds the identical sketch "
    "from scratch over the whole corpus (same engine-neutral md5 "
    "hash family); cell equality pins that the incremental build "
    "loses and invents nothing across batch boundaries. "
    "tests/test_r12_ops.py pins non-vacuity (>= 2 non-empty "
    "micro-batches actually folded).",
    tags=("streaming", "sketch", "cms", "incremental"),
)
def stream_cms_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import drain_blocking

    path = docs_stream_artifact(spark, sf_dir)
    stream = spark.readStream.schema(
        "doc_id long, text string"
    ).option("maxFilesPerTrigger", 1).parquet(path)
    grid: dict[tuple[int, int], int] = {}
    folded_batches: list[int] = []

    def fold(batch_df: DataFrame, _bid: int) -> None:
        rows = _batch_cells(batch_df).collect()  # <= D*W rows
        if rows:
            folded_batches.append(len(rows))
        for row in rows:
            key = (int(row["r"]), int(row["b"]))
            grid[key] = grid.get(key, 0) + int(row["c"])

    q = (
        stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain_blocking(q, "stream_cms_equality")
    # expose the fold count for the non-vacuity test (driver-local
    # telemetry, not part of the compared result)
    stream_cms_equality.last_fold_batches = len(folded_batches)  # type: ignore[attr-defined]
    data = sorted((r, b, c) for (r, b), c in grid.items())
    return rows_to_dataframe(
        spark, data, "r int, b long, cnt long"
    ).orderBy(F.asc("r"), F.asc("b"))
