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
