"""Unit tests for the ingest-once artifact lifecycle (artifacts.py):
absolute-path keying, content-fingerprint staleness in BOTH directions
(newer AND older restored sources), rename-atomic publish, and build
short-circuiting. No Spark session — the warehouse root is stubbed.
"""

from __future__ import annotations

import json
import os

import pytest

from reconciliation_hive_data_spark import artifacts


class _FakeSpark:
    """Just enough of SparkSession for warehouse_root()."""

    def __init__(self, warehouse: str):
        self._w = warehouse

        class _Conf:
            def get(inner, key, default=None):  # noqa: N805
                return self._w

        self.conf = _Conf()


@pytest.fixture
def env(tmp_path):
    src_dir = tmp_path / "sfX"
    src_dir.mkdir()
    (src_dir / "events.parquet").write_bytes(b"v1-payload")
    warehouse = tmp_path / "warehouse"
    warehouse.mkdir()
    return _FakeSpark(str(warehouse)), str(src_dir)


def _build_counter(calls):
    def build(tmp: str) -> None:
        calls.append(tmp)
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "data"), "w") as fh:
            fh.write(f"build-{len(calls)}")

    return build


def test_builds_once_then_short_circuits(env):
    spark, src = env
    calls: list[str] = []
    loc1, rebuilt1 = artifacts.ensure_artifact(
        spark, src, "t", ["events.parquet"], _build_counter(calls)
    )
    loc2, rebuilt2 = artifacts.ensure_artifact(
        spark, src, "t", ["events.parquet"], _build_counter(calls)
    )
    assert (rebuilt1, rebuilt2) == (True, False)
    assert loc1 == loc2
    assert len(calls) == 1
    with open(os.path.join(loc1, "data")) as fh:
        assert fh.read() == "build-1"


def test_location_keyed_by_absolute_path_not_basename(env, tmp_path):
    spark, src = env
    other = tmp_path / "elsewhere" / "sfX"  # same basename, different dir
    other.mkdir(parents=True)
    assert artifacts.artifact_location(
        spark, src, "t"
    ) != artifacts.artifact_location(spark, str(other), "t")


@pytest.mark.parametrize("direction", ["newer", "older"])
def test_source_change_invalidates_regardless_of_mtime_direction(env, direction):
    spark, src = env
    calls: list[str] = []
    artifacts.ensure_artifact(spark, src, "t", ["events.parquet"], _build_counter(calls))
    p = os.path.join(src, "events.parquet")
    with open(p, "wb") as fh:
        fh.write(b"v2-restored-from-archive")
    if direction == "older":
        past = os.stat(p).st_mtime - 3600
        os.utime(p, (past, past))  # archive restore: OLDER mtime than artifact
    _, rebuilt = artifacts.ensure_artifact(
        spark, src, "t", ["events.parquet"], _build_counter(calls)
    )
    assert rebuilt
    assert len(calls) == 2


def test_failed_build_leaves_no_published_artifact(env):
    spark, src = env

    def exploding(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        artifacts.ensure_artifact(spark, src, "t", ["events.parquet"], exploding)
    loc = artifacts.artifact_location(spark, src, "t")
    assert not os.path.exists(loc)
    assert not os.path.exists(loc + ".meta.json")
    # and a later good build still publishes
    calls: list[str] = []
    _, rebuilt = artifacts.ensure_artifact(
        spark, src, "t", ["events.parquet"], _build_counter(calls)
    )
    assert rebuilt and len(calls) == 1


def test_build_source_text_change_invalidates(env):
    # two closures with IDENTICAL source (same factory) must not rebuild;
    # a build whose source text differs must — stale transform code is a
    # staleness condition exactly like stale source data
    spark, src = env
    calls: list[str] = []

    def build_b(tmp: str) -> None:
        calls.append(tmp)
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "data"), "w") as fh:
            fh.write("variant-b")

    artifacts.ensure_artifact(spark, src, "t", ["events.parquet"], _build_counter(calls))
    _, same = artifacts.ensure_artifact(
        spark, src, "t", ["events.parquet"], _build_counter(calls)
    )
    _, changed = artifacts.ensure_artifact(spark, src, "t", ["events.parquet"], build_b)
    assert (same, changed) == (False, True)
    assert len(calls) == 2


def test_code_dependency_invalidates(env):
    # the code= hook: a helper the build delegates to (here modeled by a
    # version string, as a bumped-kind-name stand-in) is part of the
    # fingerprint, so editing it rebuilds even though build + data match
    spark, src = env
    calls: list[str] = []
    b = _build_counter(calls)
    artifacts.ensure_artifact(spark, src, "t", ["events.parquet"], b, code=["v1"])
    _, same = artifacts.ensure_artifact(
        spark, src, "t", ["events.parquet"], b, code=["v1"]
    )
    _, bumped = artifacts.ensure_artifact(
        spark, src, "t", ["events.parquet"], b, code=["v2"]
    )
    assert (same, bumped) == (False, True)
    assert len(calls) == 2


def test_fingerprint_covers_directory_sources(tmp_path):
    d = tmp_path / "ds"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"a")
    fp1 = artifacts.source_fingerprint([str(d)])
    (d / "part-1.parquet").write_bytes(b"b")  # new file, same old files
    fp2 = artifacts.source_fingerprint([str(d)])
    assert fp1 != fp2


def test_prune_orphans_removes_only_artifacts_of_deleted_sources(env, tmp_path):
    spark, src = env
    gone = tmp_path / "gone"
    gone.mkdir()
    (gone / "events.parquet").write_bytes(b"v1-payload")
    calls: list[str] = []
    kept, _ = artifacts.ensure_artifact(
        spark, src, "t", ["events.parquet"], _build_counter(calls)
    )
    orphan, _ = artifacts.ensure_artifact(
        spark, str(gone), "t", ["events.parquet"], _build_counter(calls)
    )
    (gone / "events.parquet").unlink()
    gone.rmdir()

    assert artifacts.prune_orphans(artifacts.warehouse_root(spark)) == [orphan]
    for suffix in ("", ".meta.json", ".lock"):
        assert not os.path.exists(orphan + suffix)
        assert os.path.exists(kept + suffix)
    _, rebuilt = artifacts.ensure_artifact(
        spark, src, "t", ["events.parquet"], _build_counter(calls)
    )
    assert not rebuilt
