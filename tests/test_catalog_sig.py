"""The relation cache's stat signature (catalog._path_sig) must change when
any part file of a directory dataset is rewritten in place. No Spark
session."""

from __future__ import annotations

import os

from reconciliation_hive_data_spark.catalog import _path_sig


def test_in_place_rewrite_past_the_64th_entry_changes_signature(tmp_path):
    for i in range(70):
        (tmp_path / f"part-{i:05d}.parquet").write_bytes(b"v1")
    before = _path_sig(str(tmp_path))
    assert _path_sig(str(tmp_path)) == before

    last = tmp_path / "part-00069.parquet"
    dir_mtime = os.stat(tmp_path).st_mtime_ns
    st = os.stat(last)
    last.write_bytes(b"v2")  # same name, same size
    os.utime(last, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert os.stat(tmp_path).st_mtime_ns == dir_mtime
    assert _path_sig(str(tmp_path)) != before


def test_relation_cache_evicts_least_recently_used(monkeypatch):
    """A hit refreshes an entry and an overflow drops the oldest one, so
    the tables a run keeps using stay cached."""
    from collections import OrderedDict
    from types import SimpleNamespace

    from reconciliation_hive_data_spark import catalog

    built = []

    def fake_load(spark, sf_dir, name):
        built.append(name)
        return object()

    monkeypatch.setattr(catalog, "_RELATION_CACHE", OrderedDict())
    monkeypatch.setattr(catalog, "_RELATION_CACHE_MAX", 2)
    monkeypatch.setattr(catalog, "_load_uncached", fake_load)
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="app"), _jsparkSession=object()
    )

    def load(name):
        return catalog.load(spark, "/nonexistent", name)

    orders = load("orders")
    load("lineitem")
    assert load("orders") is orders  # hit: orders is now the newest entry
    load("part")  # overflow evicts lineitem, the least recently used
    assert load("orders") is orders
    load("lineitem")
    assert built == ["orders", "lineitem", "part", "lineitem"]
    assert len(catalog._RELATION_CACHE) == 2
