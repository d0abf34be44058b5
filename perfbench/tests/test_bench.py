"""Tests of the benchmark's generator and output checks (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402

ROWS = 5_000


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


@pytest.fixture(scope="module")
def pair(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pair"))
    ledger = gen.recon_pair(root, 7, ROWS, 0.01)
    src = pq.read_table(os.path.join(root, "src")).to_pandas()
    tgt = pq.read_table(os.path.join(root, "tgt")).to_pandas()
    return ledger, src, tgt


def test_same_seed_gives_identical_inputs_and_ledger(tmp_path):
    a = gen.recon_pair(str(tmp_path / "a"), 3, ROWS, 0.01)
    b = gen.recon_pair(str(tmp_path / "b"), 3, ROWS, 0.01)
    assert a == b
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    gen.fixture_dir(str(tmp_path / "f1"), 3, 50, 1_500)
    gen.fixture_dir(str(tmp_path / "f2"), 3, 50, 1_500)
    assert _files(str(tmp_path / "f1")) == _files(str(tmp_path / "f2"))


def test_other_seed_damages_other_keys(tmp_path):
    a = gen.recon_pair(str(tmp_path / "a"), 3, ROWS, 0.01)
    b = gen.recon_pair(str(tmp_path / "b"), 4, ROWS, 0.01)
    for kind in ("missing", "changed", "nulled", "duplicated"):
        assert a["faults"][kind] != b["faults"][kind]


def test_ledger_describes_the_target(pair):
    ledger, src, tgt = pair
    f = ledger["faults"]
    assert all(len(f[k]) == ROWS * 0.01 / 5 for k in gen.FAULT_KINDS)
    assert len(checks.damaged_keys(ledger)) == sum(len(v) for v in f.values())
    assert src["o_orderdate"].dtype == "datetime64[us]"
    counts = tgt["o_orderkey"].value_counts()
    assert set(counts[counts > 1].index) == set(f["duplicated"])
    assert not set(f["missing"]) & set(tgt["o_orderkey"])
    assert not set(f["extra"]) & set(src["o_orderkey"])
    s, t = src.set_index("o_orderkey"), tgt.drop_duplicates().set_index("o_orderkey")
    price = (t.loc[f["changed"], "o_totalprice"] - s.loc[f["changed"], "o_totalprice"])
    assert (price.abs() >= 1.0).all()
    assert t.loc[f["nulled"], ledger["nulled_col"]].isna().all()
    same = sorted(set(s.index) - checks.damaged_keys(ledger))
    pd.testing.assert_frame_equal(s.loc[same], t.loc[same])
    assert len(tgt) == ledger["tgt_rows"]


def _reports(ledger: dict) -> dict[str, list[dict]]:
    """The reports a correct program returns for ``ledger``'s pair."""
    f = ledger["faults"]
    want = checks.expected_summary(ledger)
    summary = [
        {"check": c, "violations": 1 if n is None else n,
         "status": "MATCH" if n == 0 else "DIFF"}
        for c, n in want.items()
    ]
    buckets: dict[int, int] = {}
    for k in checks.damaged_keys(ledger):
        buckets[checks.bucket_of(k)] = buckets.get(checks.bucket_of(k), 0) + 1
    key_diff = [{"o_orderkey": k, "side": "MISSING_IN_TARGET"} for k in f["missing"]]
    key_diff += [{"o_orderkey": k, "side": "MISSING_IN_SOURCE"} for k in f["extra"]]
    cells = [{"o_orderkey": k, "col_name": "o_totalprice", "src_val": "1.0",
              "tgt_val": "2.0"} for k in f["changed"]]
    cells += [{"o_orderkey": k, "col_name": ledger["nulled_col"], "src_val": "5-LOW",
               "tgt_val": None} for k in f["nulled"]]
    return {
        "summary": summary,
        "bucket": [{"bucket": b, "n_bad_keys": n} for b, n in buckets.items()],
        "key_diff": key_diff,
        "cell_diff": cells,
    }


CHECKS = {
    "summary": checks.check_summary,
    "bucket": checks.check_bucket_report,
    "key_diff": checks.check_key_diff,
    "cell_diff": checks.check_cell_diff,
}


def test_correct_reports_pass(pair):
    ledger = pair[0]
    for name, rows in _reports(ledger).items():
        assert CHECKS[name](rows, ledger) == [], name


def test_clean_pair_expects_all_match(tmp_path):
    ledger = gen.recon_pair(str(tmp_path), 1, 1_000, 0.0)
    assert set(checks.expected_summary(ledger).values()) == {0}
    assert checks.check_bucket_report([], ledger) == []


@pytest.mark.parametrize(
    "report, corrupt",
    [
        ("summary", lambda rows: rows[1].update(violations=rows[1]["violations"] - 1)),
        ("summary", lambda rows: rows[0].update(status="MATCH")),
        ("bucket", lambda rows: rows[0].update(n_bad_keys=rows[0]["n_bad_keys"] + 1)),
        ("bucket", lambda rows: rows.pop()),
        ("key_diff", lambda rows: rows.pop()),
        ("key_diff", lambda rows: rows.append(dict(rows[0]))),
        ("key_diff", lambda rows: rows[0].update(side="MISSING_IN_SOURCE")),
        ("cell_diff", lambda rows: rows[0].update(o_orderkey=-1)),
        ("cell_diff", lambda rows: rows[-1].update(tgt_val="5-LOW")),
    ],
)
def test_corrupted_report_is_caught(pair, report, corrupt):
    ledger = pair[0]
    rows = _reports(ledger)[report]
    corrupt(rows)
    assert CHECKS[report](rows, ledger)


def test_tpch_tables_have_fixture_shape_and_resolving_keys(tmp_path):
    gen.fixture_dir(str(tmp_path), 5, 50, 1_500)
    t = {
        name: pq.read_table(str(tmp_path / f"{name}.parquet"))
        for name in ("region", "nation", "supplier", "customer", "orders", "lineitem")
    }
    assert t["orders"].schema.field("o_orderdate").type == "timestamp[us]"
    assert t["lineitem"].schema.field("l_shipdate").type == "timestamp[us]"
    assert t["nation"].schema.field("n_nationkey").type == "int32"
    df = {name: tab.to_pandas() for name, tab in t.items()}
    li, o = df["lineitem"], df["orders"]
    assert set(li["l_orderkey"]) <= set(o["o_orderkey"])
    assert set(li["l_suppkey"]) <= set(df["supplier"]["s_suppkey"])
    assert set(o["o_custkey"]) <= set(df["customer"]["c_custkey"])
    assert not li.duplicated(["l_orderkey", "l_linenumber"]).any()
    ship = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    assert (ship["l_shipdate"] > ship["o_orderdate"]).all()
    assert (li["l_extendedprice"] * 100).round(6).mod(1).eq(0).all()
