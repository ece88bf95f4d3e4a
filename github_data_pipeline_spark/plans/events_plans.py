"""Analytics over the ``events`` stream table — the batch twins of the
streaming jobs in ``streaming/`` (SURVEY.md §2.10 extension target).

Tumbling windows, sessionization, JSON prop extraction and per-user
top-k are all expressed so the identical SQL runs on DuckDB: window
starts via date_trunc, sessions via the lag/gap-cumsum islands idiom
(what session_window() computes internally), props via regexp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.money import cents
from ..sources.tables import load_table
from .artifacts import build_once
from .core import REGISTRY

_add = REGISTRY.add

SESSION_GAP_MIN = 30


@_add(
    "events_hourly_rollup",
    """
    SELECT
      CAST(STRFTIME(date_trunc('hour', ts), '%Y-%m-%dT%H:%M:%SZ') AS VARCHAR) AS hour_start,
      event_type,
      CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) % 10 AS k_mod,
      CAST(COUNT(*) AS BIGINT) AS events,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
      CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="Tumbling 1-hour rollup — the batch twin of the streaming "
    "windowed agg (streaming/jobs.py) — keyed additionally by a "
    "semi-structured prop pulled out of the JSON payload (the "
    "reference parses JSON payloads everywhere, SURVEY §2.8; regexp "
    "extraction keeps the oracle engine-neutral and stays in "
    "codegen — from_json is the richer path). date_trunc keys the "
    "window start; with watermarking the same agg runs incrementally "
    "under Structured Streaming. Partial aggregation makes the "
    "shuffle carry only group rows.",
    tags=("events", "window", "json"),
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd'T'HH:mm:ss'Z'"
    k = F.regexp_extract("props", r'"k": (\d+)', 1).cast("long") % 10
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), fmt).alias("hour_start"),
            "event_type",
            k.alias("k_mod"),
        )
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.countDistinct("user_id").alias("users"),
            F.sum(cents("value")).alias("value_cents"),
        )
    )


@_add(
    "events_sessionization",
    f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
        CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL {SESSION_GAP_MIN} MINUTE
             OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts, event_id,
        SUM(is_new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_seq
      FROM ordered
    )
    SELECT user_id,
           CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS events,
           CAST(STRFTIME(MIN(ts), '%Y-%m-%dT%H:%M:%S.%fZ') AS VARCHAR) AS session_start,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_sec
    FROM numbered
    GROUP BY user_id, session_seq
    """,
    doc="Sessionization with a 30-minute inactivity gap via the "
    "lag/cumsum islands idiom — exactly what session_window() "
    "computes under Structured Streaming (streaming/jobs.py holds "
    "the stateful twin). One shuffle on user_id; all three window "
    "functions share it.",
    tags=("events", "session"),
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    is_new = (
        prev_ts.isNull()
        | (
            F.col("ts").cast("long") - prev_ts.cast("long")
            > SESSION_GAP_MIN * 60
        )
    ).cast("int")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = e.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(is_new).over(wsum).alias("session_seq"),
    )
    return (
        numbered.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.date_format(
                F.min("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
            ).alias("session_start"),
            (
                F.max("ts").cast("long") - F.min("ts").cast("long")
            ).alias("duration_sec"),
        )
        .withColumn("session_seq", F.col("session_seq").cast("long"))
    )


@_add(
    "events_top_users_per_type",
    """
    SELECT event_type, user_id, events, spend_cents FROM (
      SELECT event_type, user_id,
        CAST(COUNT(*) AS BIGINT) AS events,
        CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS spend_cents,
        ROW_NUMBER() OVER (
          PARTITION BY event_type
          ORDER BY SUM(CAST(ROUND(value * 100) AS BIGINT)) DESC, user_id ASC
        ) AS rn
      FROM events GROUP BY event_type, user_id
    ) WHERE rn <= 3
    """,
    doc="Grouped top-k (scenario-6 hotspot shape over the stream "
    "table): aggregate then per-type ROW_NUMBER with deterministic "
    "tie-break; WindowGroupLimit caps the sort buffers.",
    tags=("events", "topk"),
)
def events_top_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("events"),
        F.sum(cents("value")).alias("spend_cents"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("spend_cents"), F.asc("user_id")
    )
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_type", "user_id", "events", "spend_cents")
    )


@_add(
    "events_asof_last_click",
    """
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_left
      FROM events WHERE event_type IN ('purchase', 'click')
    ), carried AS (
      SELECT user_id, ts, event_id, event_type, value, is_left,
        LAST_VALUE(CASE WHEN is_left = 0 THEN ts END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY ts ASC, is_left ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS last_click_ts
      FROM tagged
    )
    SELECT user_id, event_id,
           CAST(ROUND(value * 100) AS BIGINT) AS purchase_cents,
           CAST(date_diff('second', last_click_ts, ts) AS BIGINT)
             AS sec_since_click
    FROM carried WHERE is_left = 1
    """,
    doc="As-of join (operators/asof.py): each purchase gets the latest "
    "prior-or-simultaneous click by the same user, via the union-merge "
    "+ last(ignorenulls) running window — one shuffle on user_id, no "
    "range cross-join. Null sec_since_click = purchase before any "
    "click.",
    tags=("events", "asof"),
)
def events_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias("click_ts")
    )
    joined = asof_join(
        purchases, clicks, key="user_id", ts="ts",
        right_value_cols=["click_ts"],
    )
    return joined.select(
        "user_id",
        "event_id",
        cents("value").alias("purchase_cents"),
        (
            F.col("ts").cast("long") - F.col("click_ts_asof").cast("long")
        ).alias("sec_since_click"),
    )


# --- round 9: JSON sink -> source round-trip, oracle-checked ---------------
#
# The reference's pipeline hands data between stages as JSON files
# (SURVEY §2.1: JSON file sink + permissive JSON source) and its
# nastiest interchange quirk is timestamp wire format. This entry
# proves the WHOLE round trip against the relational oracle: events is
# written to gzip JSON (timestamps serialized in the GitHub wire
# format), read back through the schema'd JSON source, and profiled —
# counts, id checksums, integer cents, min/max timestamps. The oracle
# computes the same profile straight off the parquet table, so ANY
# loss in the sink -> source hop (precision, escaping, null handling,
# timezone drift) shifts a value. The JSON copy is a cached artifact
# (plans/artifacts.build_once) — re-running the query measures the
# SOURCE, and a regenerated events table invalidates the copy.

_RT_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
_RT_TS_DUCK = "%Y-%m-%dT%H:%M:%S.%fZ"


def _events_json_copy(spark: SparkSession, sf_dir: str) -> str:
    return build_once(
        sf_dir,
        "events_json",
        ("events",),
        _RT_TS_FMT,
        lambda tmp: load_table(spark, sf_dir, "events")
        .write.option("compression", "gzip")
        .option("timestampFormat", _RT_TS_FMT)
        .json(tmp),
    )


@REGISTRY.add(
    "json_roundtrip_events",
    f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS events,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           CAST(SUM(user_id) AS BIGINT) AS user_sum,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents,
           STRFTIME(MIN(ts), '{_RT_TS_DUCK}') AS first_ts,
           STRFTIME(MAX(ts), '{_RT_TS_DUCK}') AS last_ts
    FROM events
    GROUP BY event_type
    ORDER BY event_type ASC
    """,
    doc="JSON interchange round-trip proved lossless: events written "
    "to a gzip JSON sink (timestamps in the reference's wire format, "
    "microsecond precision) and read back through the schema'd JSON "
    "source, then profiled per event type — row counts, id/user "
    "checksums, exact integer cents, min/max timestamps back in wire "
    "format. The oracle computes the identical profile directly from "
    "parquet, so sink- or source-side loss (timestamp truncation, "
    "double formatting, escaping, silent null-ing of malformed rows) "
    "is a hash mismatch. The source uses FAILFAST mode: an interchange "
    "file this pipeline wrote itself must parse completely, and the "
    "permissive+quarantine path for FOREIGN json stays covered by the "
    "catalog tests. Scale: the JSON copy is written once per corpus "
    "(a build_once artifact); both sides are one scan + one tiny "
    "aggregation.",
    tags=("source", "sink", "json", "timestamp"),
)
def json_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _events_json_copy(spark, sf_dir)
    back = (
        spark.read.schema(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        )
        .option("timestampFormat", _RT_TS_FMT)
        .option("mode", "FAILFAST")
        .json(path)
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("events"),
            F.sum("event_id").cast("long").alias("id_sum"),
            F.sum("user_id").cast("long").alias("user_sum"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_cents"),
            F.date_format(F.min("ts"), _RT_TS_FMT).alias("first_ts"),
            F.date_format(F.max("ts"), _RT_TS_FMT).alias("last_ts"),
        )
        .orderBy(F.asc("event_type"))
    )
