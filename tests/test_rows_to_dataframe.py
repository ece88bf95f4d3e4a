"""Driver-held rows become Arrow LocalRelations (sources/tables.rows_to_dataframe).

The constructor must keep ``createDataFrame``'s checks and results while
planning as a ``LocalTableScan``, and stay the package's only way of
turning Python rows into a frame.
"""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.errors import PySparkTypeError, PySparkValueError
from pyspark.sql import Row

from github_data_pipeline_spark import schemas
from github_data_pipeline_spark.pipeline import process_repo
from github_data_pipeline_spark.sources.fixtures import (
    REPO,
    fixture_rows,
    load_fixtures,
)
from github_data_pipeline_spark.sources.tables import rows_to_dataframe

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "github_data_pipeline_spark",
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _canon(v):
    """Rows as nested tuples, maps as sorted entries: map entry order is
    not part of a result."""
    if isinstance(v, Row):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, list):
        return [_canon(x) for x in v]
    return v


def _rows(df) -> list:
    return sorted((_canon(r) for r in df.collect()), key=repr)


def test_fixture_tables_plan_as_local_table_scans(spark):
    for name, df in load_fixtures(spark).items():
        plan = _plan(df)
        assert "LocalTableScan" in plan, (name, plan)
        assert "ExistingRDD" not in plan, (name, plan)


def test_construction_runs_no_job(spark):
    sc = spark.sparkContext
    sc.setJobGroup("rows_to_dataframe:no-job", "construction only")
    try:
        load_fixtures(spark)
        jobs = sc.statusTracker().getJobIdsForGroup("rows_to_dataframe:no-job")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []


@pytest.mark.parametrize(
    "bad, error",
    [
        ({"number": None}, PySparkValueError),  # non-nullable key
        ({"number": "seven"}, PySparkTypeError),  # string in an int field
    ],
)
def test_type_checks_match_create_dataframe(spark, bad, error):
    row = {**fixture_rows()["issues_raw"][0][0], **bad}
    with pytest.raises(error) as new:
        rows_to_dataframe(spark, [row], schemas.ISSUES)
    with pytest.raises(error) as old:
        spark.createDataFrame([row], schemas.ISSUES)
    assert new.value.getCondition() == old.value.getCondition()


def test_empty_rows_keep_the_exact_schema(spark):
    df = rows_to_dataframe(spark, [], schemas.ISSUES)
    assert df.schema == schemas.ISSUES
    assert df.count() == 0


@pytest.mark.parametrize(
    "rows",
    [
        [(1, "t", (10, "p")), (2, "r", None)],
        # Row fields out of schema order map by name, nested ones too
        [Row(s=Row(b="p", a=10), y="t", x=1), Row(y="r", x=2, s=None)],
        [{"y": "t", "x": 1, "s": {"b": "p", "a": 10}}, {"x": 2, "y": "r"}],
    ],
    ids=["tuples", "rows", "dicts"],
)
def test_ddl_schema_and_row_shapes(spark, rows):
    ddl = "x int, y string, s struct<a: bigint, b: string>"
    df = rows_to_dataframe(spark, rows, ddl)
    assert df.schema == spark.createDataFrame([], ddl).schema
    assert [tuple(r) for r in df.orderBy("x").collect()] == [
        (1, "t", (10, "p")),
        (2, "r", None),
    ]


def test_tuple_rows_of_the_wrong_length_are_rejected(spark):
    with pytest.raises(PySparkValueError):
        rows_to_dataframe(spark, [(1,)], "x int, y string")


def test_process_repo_outputs_match_the_list_built_path(spark):
    arrow = process_repo(load_fixtures(spark), REPO)
    listed = process_repo(
        {
            name: spark.createDataFrame(rows, schema)
            for name, (rows, schema) in fixture_rows().items()
        },
        REPO,
    )
    assert len(arrow) == 10 and arrow.keys() == listed.keys()
    for name, df in arrow.items():
        assert df.schema == listed[name].schema, name
        assert _rows(df) == _rows(listed[name]), name


def _create_dataframe_calls(path: str) -> list[str]:
    """Innermost enclosing function of every ``<x>.createDataFrame(...)``."""
    with open(path) as f:
        tree = ast.parse(f.read())
    owner = {}
    # ast.walk is breadth-first, so an inner function overwrites its outer
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for node in ast.walk(fn):
                owner[id(node)] = fn.name
    return [
        owner.get(id(node), "<module>")
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


def test_no_create_dataframe_outside_the_constructor():
    calls = []
    for root, _, files in os.walk(PKG_DIR):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                rel = os.path.relpath(path, PKG_DIR)
                calls += [f"{rel}::{fn}" for fn in _create_dataframe_calls(path)]
    assert calls == [os.path.join("sources", "tables.py") + "::rows_to_dataframe"]
