"""Seeded input generator for the benchmark workloads (pyarrow, no Spark).

Every table follows the fixture schema the engine is built for (the TPC-H
style tables and documents), with ``o_orderdate`` and ``l_shipdate`` kept
as ``timestamp[us]``. The same seed
writes byte-identical parquet files and the same fault ledger; the program
under test only ever sees the parquet.

Recon workloads write a source and a target directory of parquet part files.
The target holds the source's rows reordered and re-split into a different
number of files, so no reconciliation can shortcut on file identity. On the
dirty workload the target additionally carries five kinds of damage, each
on its own disjoint key set recorded in ``ledger.json``:

- ``missing``: the key's row is absent from the target;
- ``extra``: a key absent from the source appears in the target;
- ``changed``: ``o_totalprice`` differs by at least 1.00;
- ``nulled``: ``o_orderpriority`` is NULL in the target;
- ``duplicated``: the key's (identical) row appears twice in the target.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FAULT_KINDS = ("missing", "extra", "changed", "nulled", "duplicated")
NULLED_COL = "o_orderpriority"

_STATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_WORDS = np.array(
    "a the key agg row scan slow fast table value part hash merge batch spark"
    " line sort window order data column join small customer query big"
    " stream filter group vector".split()
)
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_RETURNFLAGS = np.array(["A", "N", "R"])
_LINESTATUS = np.array(["F", "O"])
_LANGS = np.array(["de", "en", "es", "fr", "zh"])
_DAY_US = 86_400_000_000
_FIRST_DAY = 9131  # 1995-01-01 as days since the epoch
_N_DAYS = 2404  # through 2001-08-01

ORDERS_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]
)


def orders(rng: np.random.Generator, keys: np.ndarray) -> dict[str, np.ndarray]:
    """Orders rows for ``keys`` as column arrays (fixture value domains:
    2-dp prices, whole-day dates, 15k customers)."""
    n = len(keys)
    cents = rng.integers(100_000, 50_000_000, n)
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, 15_000, n).astype(np.int64),
        "o_orderstatus": _STATUS[rng.integers(0, 3, n)],
        "o_totalprice": np.round(cents / 100.0, 2),
        "o_orderdate": (_FIRST_DAY + rng.integers(0, _N_DAYS, n)) * _DAY_US,
        "o_orderpriority": _PRIORITY[rng.integers(0, 5, n)].astype(object),
    }


def _orders_table(cols: dict[str, np.ndarray]) -> pa.Table:
    arrays = [
        pa.array(cols[f.name], type=f.type, from_pandas=True) for f in ORDERS_SCHEMA
    ]
    return pa.Table.from_arrays(arrays, schema=ORDERS_SCHEMA)


def _take(cols: dict[str, np.ndarray], idx: np.ndarray) -> dict[str, np.ndarray]:
    return {k: v[idx] for k, v in cols.items()}


def _write_parts(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def recon_pair(root: str, seed: int, rows: int, fault_frac: float) -> dict:
    """Write ``root/src`` and ``root/tgt`` (orders-shaped, ``rows`` rows in
    the source) plus ``root/ledger.json``; return the ledger.

    ``fault_frac`` of the source keys are damaged, split evenly over the
    five fault kinds (0 gives a clean pair)."""
    rng = np.random.default_rng(seed)
    src = orders(rng, np.arange(rows, dtype=np.int64))
    n_each = int(rows * fault_frac) // len(FAULT_KINDS)
    picked = rng.choice(rows, size=4 * n_each, replace=False)
    missing, changed, nulled, duplicated = np.split(picked, 4)

    # source key k sits at row k, so the kept keys are also row numbers
    kept = np.setdiff1d(np.arange(rows), missing)
    tgt = _take(src, np.concatenate([kept, duplicated]))
    ch, nu = np.searchsorted(kept, changed), np.searchsorted(kept, nulled)
    delta = rng.integers(100, 10_000, len(ch)) / 100
    tgt["o_totalprice"][ch] = np.round(tgt["o_totalprice"][ch] + delta, 2)
    tgt[NULLED_COL][nu] = None
    extra_keys = np.arange(rows, rows + n_each, dtype=np.int64)
    extra = orders(rng, extra_keys)
    tgt = {k: np.concatenate([tgt[k], extra[k]]) for k in tgt}
    tgt = _take(tgt, rng.permutation(len(tgt["o_orderkey"])))

    n_src_files = max(2, rows // 25_000)
    _write_parts(_orders_table(src), os.path.join(root, "src"), n_src_files)
    _write_parts(_orders_table(tgt), os.path.join(root, "tgt"), n_src_files + 3)
    ledger = {
        "seed": seed,
        "src_rows": rows,
        "tgt_rows": len(tgt["o_orderkey"]),
        "nulled_col": NULLED_COL,
        "faults": {
            "missing": sorted(int(k) for k in missing),
            "extra": [int(k) for k in extra_keys],
            "changed": sorted(int(k) for k in changed),
            "nulled": sorted(int(k) for k in nulled),
            "duplicated": sorted(int(k) for k in duplicated),
        },
    }
    with open(os.path.join(root, "ledger.json"), "w") as fh:
        json.dump(ledger, fh, sort_keys=True)
    return ledger


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup documents over a 31-word vocabulary (the fixture's shape)."""
    lengths = rng.integers(8, 90, n)
    words = _WORDS[rng.integers(0, len(_WORDS), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(_LANGS[rng.integers(0, len(_LANGS), n)]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def tpch_tables(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    """region, nation, supplier, customer, orders and lineitem in the
    fixture's shapes and proportions (per 15k orders: 100 suppliers, 1.5k
    customers, about 60k lines), with every foreign key resolving."""
    n_supp, n_cust, n_part = n_orders // 150, n_orders // 10, n_orders * 2 // 15
    nation_keys = np.arange(25, dtype=np.int32)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(_REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nation_keys),
                "n_name": pa.array([f"NATION_{k}" for k in nation_keys]),
                "n_regionkey": pa.array(nation_keys % 5),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
                "s_acctbal": pa.array(rng.integers(-99_999, 999_999, n_supp) / 100),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
                "c_acctbal": pa.array(rng.integers(-99_999, 999_999, n_cust) / 100),
                "c_mktsegment": pa.array(_SEGMENTS[rng.integers(0, 5, n_cust)]),
            }
        ),
    }
    o = orders(rng, np.arange(n_orders, dtype=np.int64))
    o["o_custkey"] = rng.integers(0, n_cust, n_orders).astype(np.int64)
    tables["orders"] = _orders_table(o)

    lines = rng.integers(1, 8, n_orders)  # 1-7 lines an order
    n = int(lines.sum())
    order_of = np.repeat(np.arange(n_orders), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    part = rng.integers(0, n_part, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    cents = (90_000 + part % 20_001 * 10) * qty.astype(np.int64)  # qty x retail
    ship = o["o_orderdate"][order_of] + rng.integers(1, 122, n) * _DAY_US
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(order_of.astype(np.int64)),
            "l_partkey": pa.array(part.astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n).astype(np.int64)),
            "l_linenumber": pa.array((np.arange(n) - first + 1).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(cents / 100),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100),
            "l_returnflag": pa.array(_RETURNFLAGS[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(_LINESTATUS[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
        }
    )
    return tables


def fixture_dir(sf_dir: str, seed: int, docs: int, n_orders: int = 0) -> None:
    """Write ``documents.parquet`` and, with ``n_orders``, the TPC-H style
    tables into ``sf_dir``, one file a table, as the engine's fixture
    loader expects."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {"documents": documents(rng, docs)}
    if n_orders:
        tables.update(tpch_tables(rng, n_orders))
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
