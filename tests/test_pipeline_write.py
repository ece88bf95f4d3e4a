"""``pipeline.write_repo_tables`` writes a refresh's tables as concurrent
Spark jobs. Pinned here: the files equal a plain ``write_table`` of the
same frames, ``paths`` keeps table order, the caller's job group reaches
every write, and one failing table neither hides its error nor stops
the others."""

from __future__ import annotations

import os
import sys
import threading

import pytest
from py4j.protocol import Py4JJavaError

from github_data_pipeline_spark import pipeline
from github_data_pipeline_spark.pipeline import process_repo, write_repo_tables
from github_data_pipeline_spark.sources.fixtures import REPO, load_fixtures
from github_data_pipeline_spark.sources.sinks import write_table


@pytest.fixture(scope="module")
def repo_tables(spark):
    return process_repo(load_fixtures(spark), REPO)


def _sorted_rows(df):
    return sorted(map(repr, df.collect()))


def test_concurrent_write_equals_plain_write(spark, repo_tables, tmp_path):
    paths = write_repo_tables(repo_tables, str(tmp_path / "concurrent"))
    assert list(paths) == list(repo_tables)
    for name, df in repo_tables.items():
        plain = str(tmp_path / "plain" / name)
        write_table(df, plain)
        got = spark.read.parquet(paths[name])
        want = spark.read.parquet(plain)
        assert got.schema == want.schema, name
        assert _sorted_rows(got) == _sorted_rows(want), name


def test_paths_keep_input_order(spark, tmp_path):
    # more tables than cores, with frequent thread switches, so the
    # writes really interleave
    names = [f"t{i:02d}" for i in range(12)][::-1]
    frames = {
        n: spark.range(i + 1).selectExpr("id", "'r' AS repo_name")
        for i, n in enumerate(names)
    }
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        paths = write_repo_tables(frames, str(tmp_path))
    finally:
        sys.setswitchinterval(interval)
    assert list(paths) == names
    assert paths == {n: str(tmp_path / n) for n in names}
    for i, n in enumerate(names):
        assert spark.read.parquet(paths[n]).count() == i + 1


def test_no_tables_writes_nothing(tmp_path):
    assert write_repo_tables({}, str(tmp_path)) == {}


def test_caller_job_group_reaches_every_write(spark, repo_tables, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("pipeline-write-group", "concurrent write")
    try:
        write_repo_tables(repo_tables, str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    grouped = tracker.getJobIdsForGroup("pipeline-write-group")
    assert len(grouped) >= len(repo_tables)
    # no write escaped the group into a thread without it
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_each_write_thread_has_its_own_local_properties(
    spark, monkeypatch, tmp_path
):
    """One inheritable wrapper per table: a local property one write
    sets in its thread is seen neither by the other writes nor by the
    caller."""
    sc = spark.sparkContext
    names = ["a", "b", "c", "d"]
    barrier = threading.Barrier(len(names), timeout=60)
    seen = {}

    def probe(df, path):
        name = os.path.basename(path)
        sc.setLocalProperty("pipeline.write.probe", name)
        barrier.wait()  # every write has set its own value
        seen[name] = sc.getLocalProperty("pipeline.write.probe")

    monkeypatch.setattr(pipeline, "write_table", probe)
    write_repo_tables({n: spark.range(1) for n in names}, str(tmp_path))
    assert seen == {n: n for n in names}
    assert sc.getLocalProperty("pipeline.write.probe") is None


def test_failed_table_raises_first_error_and_others_still_written(
    spark, tmp_path
):
    df = spark.range(4).selectExpr("id", "'r' AS repo_name")
    # regular files where two tables' parent directories must go
    for blocker in ("x", "y"):
        (tmp_path / blocker).write_text("not a directory")
    tables = {"first": df, "x/t": df, "mid": df, "y/t": df, "last": df}
    with pytest.raises(Py4JJavaError) as raised:
        write_repo_tables(tables, str(tmp_path))
    msg = str(raised.value)
    assert "ParentNotDirectoryException" in msg
    assert f"{tmp_path / 'x'}\n" in msg and str(tmp_path / "y") not in msg
    for name in ("first", "mid", "last"):
        assert spark.read.parquet(str(tmp_path / name)).count() == 4
