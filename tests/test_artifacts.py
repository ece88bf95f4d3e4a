"""The build-once artifact protocol (plans/artifacts.build_once): cache
key, success marker, promote-by-rename and the failure policy. All but
the two ``_events_json_copy`` tests run without Spark."""

from __future__ import annotations

import glob
import os
import pathlib
import re

import pytest

from github_data_pipeline_spark.plans.artifacts import artifact_path, build_once


@pytest.fixture
def cache(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    return tmp_path / "cache"


def _write_part(content: str):
    def write(tmp: str) -> None:
        os.makedirs(tmp)
        pathlib.Path(tmp, "part-0").write_text(content)

    return write


def _tmp_dirs(path: str) -> list[str]:
    return glob.glob(f"{glob.escape(path)}.tmp.*")


def test_events_json_copy_reraises_non_race_rename_failure(
    spark, sf_dir, tmp_path, monkeypatch
):
    """os.replace failing when NO concurrent writer produced the target
    (cross-device cache mount, permissions) must surface at the copy
    site, not as a confusing spark.read.json error far from the cause."""
    from github_data_pipeline_spark.plans import events_plans

    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path))

    def boom(src, dst):
        raise OSError("cross-device link")

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(OSError, match="cross-device"):
        events_plans._events_json_copy(spark, sf_dir)


def test_events_json_copy_swallows_benign_lost_race(
    spark, sf_dir, tmp_path, monkeypatch
):
    """If os.replace fails but the target exists (a concurrent writer
    won the rename), the loser must return the winner's path."""
    from github_data_pipeline_spark.plans import events_plans

    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path))
    real_replace = os.replace

    def lose_race(src, dst):
        # the "winner" commits its complete copy first, then our
        # rename fails
        os.makedirs(dst, exist_ok=True)
        open(os.path.join(dst, "_SUCCESS"), "w").close()
        raise OSError("would clobber")

    monkeypatch.setattr(os, "replace", lose_race)
    path = events_plans._events_json_copy(spark, sf_dir)
    monkeypatch.setattr(os, "replace", real_replace)
    assert os.path.isdir(path)
    assert path == artifact_path(
        sf_dir, "events_json", ("events",), events_plans._RT_TS_FMT
    )


def test_lost_race_returns_winners_path(cache, tmp_path, monkeypatch):
    sf = str(tmp_path)

    def lose_race(src, dst):
        os.makedirs(dst)
        pathlib.Path(dst, "part-0").write_text("winner")
        pathlib.Path(dst, "_SUCCESS").touch()
        raise OSError("would clobber")

    monkeypatch.setattr(os, "replace", lose_race)
    path = build_once(sf, "a", ("orders",), "k", _write_part("loser"))
    assert path == artifact_path(sf, "a", ("orders",), "k")
    assert pathlib.Path(path, "part-0").read_text() == "winner"
    assert _tmp_dirs(path) == []


def test_non_race_rename_failure_raises(cache, tmp_path, monkeypatch):
    sf = str(tmp_path)

    def boom(src, dst):
        raise OSError("cross-device link")

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(OSError, match="cross-device"):
        build_once(sf, "a", ("orders",), "k", _write_part("x"))
    path = artifact_path(sf, "a", ("orders",), "k")
    assert not os.path.exists(path)
    assert _tmp_dirs(path) == []


def test_interrupted_write_leaves_no_artifact_and_rebuilds(cache, tmp_path):
    sf = str(tmp_path)
    path = artifact_path(sf, "a", ("orders",), "k")

    def dies_midway(tmp: str) -> None:
        _write_part("half")(tmp)
        raise RuntimeError("executor lost")

    with pytest.raises(RuntimeError, match="executor lost"):
        build_once(sf, "a", ("orders",), "k", dies_midway)
    assert not os.path.exists(path)
    assert _tmp_dirs(path) == []

    assert build_once(sf, "a", ("orders",), "k", _write_part("full")) == path
    assert sorted(os.listdir(path)) == ["_SUCCESS", "part-0"]
    assert pathlib.Path(path, "part-0").read_text() == "full"

    def must_not_run(tmp: str) -> None:
        raise AssertionError("a complete artifact was rebuilt")

    assert build_once(sf, "a", ("orders",), "k", must_not_run) == path


def test_key_follows_only_the_tables_read(tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    for table in ("orders", "documents"):
        (sf / f"{table}.parquet").touch()
        os.utime(sf / f"{table}.parquet", ns=(10**18, 10**18))
    before = artifact_path(str(sf), "a", ("orders",), "k")

    os.utime(sf / "documents.parquet", ns=(2 * 10**18, 2 * 10**18))
    assert artifact_path(str(sf), "a", ("orders",), "k") == before

    os.utime(sf / "orders.parquet", ns=(2 * 10**18, 2 * 10**18))
    assert artifact_path(str(sf), "a", ("orders",), "k") != before


_PROTOCOL = re.compile(r"_SUCCESS|os\.rename|os\.replace|getpid")


def test_publish_protocol_only_in_artifacts_module():
    """Every plan module publishes through build_once: the success
    marker, the temp dir and the rename live in plans/artifacts.py."""
    plans = (
        pathlib.Path(__file__).resolve().parents[1]
        / "github_data_pipeline_spark"
        / "plans"
    )
    offenders = []
    for path in sorted(plans.rglob("*.py")):
        rel = path.relative_to(plans).as_posix()
        text = path.read_text()
        offenders += [
            f"{rel}:{text.count(chr(10), 0, m.start()) + 1}"
            for m in _PROTOCOL.finditer(text)
            if rel != "artifacts.py"
        ]
    assert offenders == []
