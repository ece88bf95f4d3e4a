"""The curation gates are stateless map-side filters, so the SAME code
runs under Structured Streaming: stream the documents table, apply
clean/language/quality/repetition, and the drained result must equal
the batch gates exactly."""

from __future__ import annotations

from github_data_pipeline_spark.curation import (
    clean_stage,
    language_pred,
    quality_pred,
    repetition_pred,
)
from github_data_pipeline_spark.functions import text as T
from github_data_pipeline_spark.sources.tables import load_table
from github_data_pipeline_spark.streaming.jobs import run_available_now


def test_streamed_gates_equal_batch(spark, sf_dir):
    batch_docs = load_table(spark, sf_dir, "documents")
    schema = batch_docs.schema
    stream_docs = spark.readStream.schema(schema).parquet(
        f"{sf_dir}/documents.parque*"
    )

    def gates(df):
        toks = T.tokens("text")
        return (
            clean_stage(df)
            .filter(
                language_pred(toks) & quality_pred(toks) & repetition_pred(toks)
            )
            .select("doc_id")
        )

    got = {
        r["doc_id"]
        for r in run_available_now(
            gates(stream_docs), "cur_t", output_mode="append"
        )
    }
    want = {r["doc_id"] for r in gates(batch_docs).collect()}
    assert got == want and len(want) > 0


def test_funnel_stream_matches_oracle_batch(spark, sf_dir):
    """Single availableNow drain of the stateful streaming funnel ==
    the oracle-checked events_funnel_steps cohorts on the fixture."""
    from collections import Counter

    from github_data_pipeline_spark.plans import all_plans
    from github_data_pipeline_spark.streaming.jobs import read_events_stream
    from github_data_pipeline_spark.streaming.stateful import funnel_stream

    rows = run_available_now(
        funnel_stream(read_events_stream(spark, sf_dir)),
        "funnel_t",
        output_mode="update",
    )
    got = Counter(r["steps_reached"] for r in rows)
    want = {
        r["steps_reached"]: r["users"]
        for r in all_plans()["events_funnel_steps"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert dict(got) == want
    assert want.get(3, 0) > 0  # non-vacuous: full conversions exist


def test_funnel_stream_multibatch_time_sliced(spark, tmp_path):
    """Three event-time-ordered micro-batches (maxFilesPerTrigger=1
    over time-sliced files) must fold to the same final cohorts as one
    batch — including a funnel whose stages SPAN batch boundaries, a
    same-instant view+click tie, and a cross-boundary horizon miss."""
    import datetime as dt

    from collections import Counter

    from github_data_pipeline_spark.streaming.stateful import funnel_stream

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    H = dt.timedelta(hours=24)

    def ev(eid, minutes, user, typ, abs_ts=None):
        return (
            eid,
            abs_ts if abs_ts is not None else base + dt.timedelta(minutes=minutes),
            user,
            typ,
            0.0,
            "{}",
        )

    # slice 1: user 1 views (+ same-instant click -> tie must count);
    #          user 2 views; user 3 clicks (no view yet -> never counts)
    s1 = [
        ev(1, 0, 1, "view"),
        ev(2, 0, 1, "click", abs_ts=base),  # same instant as the view
        ev(3, 10, 2, "view"),
        ev(4, 20, 3, "click"),
    ]
    # slice 2 (starts after slice 1): user 1 purchases in-horizon;
    #          user 2 clicks in-horizon; user 3 views
    s2 = [
        ev(5, 60, 1, "purchase"),
        ev(6, 90, 2, "click"),
        ev(7, 100, 3, "view"),
    ]
    # slice 3: user 2 purchase EXACTLY at t2+H (counts);
    #          user 3 click one microsecond past t1+H (does not)
    s3 = [
        ev(8, 0, 2, "purchase", abs_ts=base + dt.timedelta(minutes=90) + H),
        ev(
            9,
            0,
            3,
            "click",
            abs_ts=base + dt.timedelta(minutes=100, microseconds=1) + H,
        ),
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src = tmp_path / "events.parquet"
    # one file per time slice; lexicographic file order == event-time
    # order so maxFilesPerTrigger=1 yields ordered micro-batches
    # sequential writes -> strictly increasing file modification times,
    # which is the file source's processing order
    for rows in (s1, s2, s3):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = run_available_now(
        funnel_stream(stream), "funnel_mb_t", output_mode="update"
    )
    # update mode emits one row per user per micro-batch it appears in;
    # more rows than users proves the state actually folded across
    # multiple micro-batches rather than collapsing into one
    assert len(out) > 3
    # the LAST row per user is the final state
    last = {}
    for r in out:
        last[r["user_id"]] = r["steps_reached"]
    assert last == {1: 3, 2: 3, 3: 1}


def test_funnel_boundary_timestamp_contract(spark, tmp_path):
    """The strictly-after boundary contract is LOAD-BEARING, not
    pedantry: a purchase at ts == t2 delivered one micro-batch before
    the click that sets t2 is missed by the fold (state keeps only the
    stage timestamps), while the same events in one batch — or sliced
    strictly between distinct timestamps — count 3 steps. This pins
    the documented counterexample from streaming/stateful.py."""
    import datetime as dt

    from github_data_pipeline_spark.streaming.stateful import funnel_stream

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t60 = base + dt.timedelta(minutes=60)
    view = (1, base, 1, "view", 0.0, "{}")
    purchase = (2, t60, 1, "purchase", 0.0, "{}")
    click = (3, t60, 1, "click", 0.0, "{}")

    def drain(slices, name):
        src = tmp_path / name
        for rows in slices:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = run_available_now(
            funnel_stream(stream), f"funnel_{name}", output_mode="update"
        )
        return {r["user_id"]: r["steps_reached"] for r in out}

    # VIOLATING slicing: ts-60 straddles the boundary (at-or-after but
    # not strictly-after) -> the purchase is lost, 2 steps
    assert drain([[view, purchase], [click]], "straddle") == {1: 2}
    # CONFORMING slicing (equal-ts events share a slice) -> 3 steps,
    # equal to the batch twin's >= t2 tie semantics
    assert drain([[view], [purchase, click]], "strict") == {1: 3}
