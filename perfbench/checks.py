"""Output checks for every benchmark operation (pure Python, no Spark).

Recon reports are checked against the generator's fault ledger (registry
queries are compared with their DuckDB oracle by ``tests.parity.compare``).
Each check returns a list of problem strings, empty when the output is
correct. Rows arrive as plain dicts
(``Row.asDict()``), so the checks can be tested without a session.
"""

from __future__ import annotations

import hashlib
from collections import Counter

BUCKETS = 4096  # recon_scale's digest fan-out


def bucket_of(key: int) -> int:
    """recon_scale's key bucket: the first 16 bits of md5(key text)."""
    return int(hashlib.md5(str(key).encode()).hexdigest()[:4], 16) % BUCKETS


def damaged_keys(ledger: dict) -> set[int]:
    return {k for keys in ledger["faults"].values() for k in keys}


def expected_summary(ledger: dict) -> dict[str, int | None]:
    """Violations per summary check; None means 'at least one'."""
    f = {kind: len(keys) for kind, keys in ledger["faults"].items()}
    dirty = any(f.values())
    return {
        "count_diff_grains": int(ledger["src_rows"] != ledger["tgt_rows"]),
        "keys_missing": f["missing"] + f["extra"],
        "duplicate_keys": f["duplicated"],
        "row_hash_diffs": f["changed"] + f["nulled"],
        "cell_diffs": f["changed"] + f["nulled"],
        "fingerprint_diffs": None if dirty else 0,
    }


def check_summary(rows: list[dict], ledger: dict) -> list[str]:
    got = {r["check"]: r for r in rows}
    want = expected_summary(ledger)
    problems = []
    if set(got) != set(want):
        return [f"summary checks {sorted(got)} != {sorted(want)}"]
    for check, n in want.items():
        v, status = got[check]["violations"], got[check]["status"]
        ok = v > 0 if n is None else v == n
        if not ok or status != ("MATCH" if v == 0 else "DIFF"):
            problems.append(f"summary {check}: {v} {status}, want {n}")
    return problems


def check_bucket_report(rows: list[dict], ledger: dict) -> list[str]:
    want = Counter(bucket_of(k) for k in damaged_keys(ledger))
    got = {r["bucket"]: r["n_bad_keys"] for r in rows}
    if got != dict(want):
        wrong = sorted(set(got.items()) ^ set(want.items()))[:5]
        return [
            f"bucket report: {len(got)} buckets / {sum(got.values())} bad keys,"
            f" want {len(want)} / {sum(want.values())}; e.g. {wrong}"
        ]
    return []


def _set_problem(what: str, got: set, want: set) -> list[str]:
    if got == want:
        return []
    return [
        f"{what}: {len(got - want)} unexpected, {len(want - got)} absent;"
        f" e.g. {sorted(got ^ want)[:5]}"
    ]


def check_key_diff(rows: list[dict], ledger: dict) -> list[str]:
    f = ledger["faults"]
    want = {(k, "MISSING_IN_TARGET") for k in f["missing"]}
    want |= {(k, "MISSING_IN_SOURCE") for k in f["extra"]}
    got = [(r["o_orderkey"], r["side"]) for r in rows]
    problems = _set_problem("key_diff", set(got), want)
    if len(got) != len(set(got)):
        problems.append(f"key_diff: {len(got)} rows for {len(set(got))} keys")
    return problems


def check_cell_diff(rows: list[dict], ledger: dict) -> list[str]:
    f = ledger["faults"]
    want = {(k, "o_totalprice") for k in f["changed"]}
    want |= {(k, ledger["nulled_col"]) for k in f["nulled"]}
    got = [(r["o_orderkey"], r["col_name"]) for r in rows]
    problems = _set_problem("cell_diff", set(got), want)
    if len(got) != len(set(got)):
        problems.append(f"cell_diff: {len(got)} rows for {len(set(got))} cells")
    nulled = [r for r in rows if r["col_name"] == ledger["nulled_col"]]
    if any(r["tgt_val"] is not None or r["src_val"] is None for r in nulled):
        problems.append("cell_diff: a nulled cell does not read value -> NULL")
    return problems
