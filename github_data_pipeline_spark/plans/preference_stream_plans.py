"""Streaming Bradley-Terry equality gate — the preference face's
incremental twin (eleventh drained gate class).

A reward-model data pipeline never sees its comparisons all at once:
events arrive continuously, and the per-(user, type) value sums the
comparisons derive from must be maintained incrementally. The gate
proves that maintenance loses and invents nothing: the events table
streams as >= 2 real micro-batches (range-split by event_id so ONE
user's events span batches — the artifact layout makes cross-batch
merging unavoidable, not incidental; two batches are the non-vacuity
minimum, see events_stream_artifact), a genuine Structured Streaming
aggregation keeps per-(user, type) micros sums in the state store
(update output mode), and a ``foreachBatch`` drain folds each batch's
UPDATED keys into the final sums snapshot. The batch entry's shared
tail (:func:`preference_plans.bt_from_user_type_sums`) then derives
comparisons, the win matrix, and the T-iteration MM strengths from the
drained snapshot — and the DuckDB oracle is the IDENTICAL from-scratch
rebuild the batch entry compares against. Cell equality across all
four output columns pins the whole incremental path, batch boundaries
included.

Scale notes (100 TB): the streaming aggregation's state is bounded by
|users| x |event types| (the same entity-cardinality bound the ledger
gates carry — SCALING.md streamscale measures that axis); each
micro-batch's update set is at most that state, already aggregated
JVM-side before the drain touches it. Driver-side here the snapshot is
a dict because the gate must hand the sums to the comparison pipeline
in-process; a production job would sink the update stream to a keyed
store and run the comparison batch against it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import cents_of
from ..sources.tables import load_table, rows_to_dataframe
from .artifacts import build_once
from .core import REGISTRY
from .preference_plans import _bt_oracle, bt_from_user_type_sums


def events_stream_artifact(spark: SparkSession, sf_dir: str) -> str:
    """Events re-persisted as TWO files range-split by event_id (NOT
    by user_id — event ids are uncorrelated with users, so every
    user's rows land in both files and the per-key sums genuinely
    accumulate across micro-batches). Two is the NON-VACUITY MINIMUM:
    one batch boundary already forces cross-batch accumulation for
    essentially every key, and each extra micro-batch is a fixed
    cycle of planning + state-store work with no additional claim
    (r12 shipped 4; re-derived per guide §1.4). Only the columns the
    gate needs are kept, which also pins a stable stream schema
    regardless of the fixture's ts physical type. Built once per
    sf_dir."""
    return build_once(
        sf_dir,
        "events_stream2",
        ("events",),
        "files2:v1",
        lambda tmp: load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .repartitionByRange(2, "event_id")
        .write.parquet(tmp),
    )


@REGISTRY.add(
    "stream_bt_equality",
    _bt_oracle(),
    doc="Streaming Bradley-Terry == from-scratch rebuild (the eleventh "
    "drained gate class): per-(user, type) micros sums maintained by a "
    "REAL streaming aggregation (update mode, state store) over >= 2 "
    "micro-batches of an event_id-range-split stream (the non-vacuity "
    "minimum — one batch boundary forces cross-batch accumulation for "
    "essentially every key), snapshot folded "
    "by foreachBatch (last cumulative value per updated key), then the "
    "batch entry's shared comparison + MM tail runs on the snapshot. "
    "The oracle is bt_preference_strengths' identical from-scratch "
    "SQL, so cell equality proves the incremental sums — and "
    "everything derived from them: tie exclusions, win matrix, "
    "T=8 integer MM strengths — match the one-shot scan exactly, "
    "batch boundaries included. State is |users| x |types| keyed "
    "longs (the ledger gates' entity bound; streamscale measures the "
    "axis); each batch's update set is aggregated JVM-side before the "
    "drain folds it. tests/test_tpch_bt.py pins non-vacuity: at least "
    "one key must receive updates from >= 2 distinct micro-batches.",
    tags=("streaming", "preference", "incremental", "training-data"),
)
def stream_bt_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import drain_blocking

    path = events_stream_artifact(spark, sf_dir)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    sums = stream.groupBy("user_id", "event_type").agg(
        F.sum(cents_of(F.col("value"), 6)).alias("v")
    )
    state: dict[tuple[int, str], int] = {}
    updates_per_key: dict[tuple[int, str], int] = {}

    def fold(batch_df: DataFrame, _bid: int) -> None:
        # update mode: each row is the CURRENT cumulative sum for a key
        # touched this micro-batch — last write wins by construction
        for row in batch_df.collect():
            key = (int(row["user_id"]), str(row["event_type"]))
            state[key] = int(row["v"])
            updates_per_key[key] = updates_per_key.get(key, 0) + 1

    # per-batch state-store tasks dominate the drain at the default 32
    # shuffle partitions (4 batches x 32 stateful tasks for a
    # |users| x |types| state); 8 is plenty at any fixture SF — the
    # streaming_plans drains set the same bound
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            sums.writeStream.foreachBatch(fold)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        drain_blocking(q, "stream_bt_equality")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # driver-local telemetry for the non-vacuity test: cross-batch
    # accumulation must actually have happened
    stream_bt_equality.last_multibatch_keys = sum(  # type: ignore[attr-defined]
        1 for c in updates_per_key.values() if c >= 2
    )
    ut = rows_to_dataframe(
        spark,
        [(u, t, v) for (u, t), v in sorted(state.items())],
        "user_id long, event_type string, v long",
    )
    return bt_from_user_type_sums(ut)
