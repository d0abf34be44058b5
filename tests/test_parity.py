"""Oracle-parity test for every registered query (the primary gate,
SURVEY.md §5.1). Runs each queries()[name] against its oracle_sql()[name]
via DuckDB at the fixture scale in RHDS_TEST_SF_DIR (default sf0.001)."""

from __future__ import annotations

import pytest

from reconciliation_hive_data_spark import registry

from .parity import compare

registry.load_all_modules()
_WITH_ORACLE = sorted(n for n, s in registry.REGISTRY.items() if s.oracle)
_ROWS_ONLY = sorted(n for n, s in registry.REGISTRY.items() if not s.oracle)


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_parity(spark, sf_dir, name):
    spec = registry.get(name)
    problems = compare(spec.fn(spark, sf_dir), spec.oracle, sf_dir, name)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_runs(spark, sf_dir, name):
    spec = registry.get(name)
    df = spec.fn(spark, sf_dir)
    assert df.count() > 0
    assert len(df.columns) > 0


def test_entry_contract_is_registration_order():
    """``queries()`` is the whole registry in registration order, and
    ``oracle_sql()`` is exactly the queries that carry an oracle, in the
    same order."""
    import __spark_entry__

    names = list(__spark_entry__.queries())
    assert names == list(registry.REGISTRY)
    assert len(names) == 213
    oracles = __spark_entry__.oracle_sql()
    assert list(oracles) == [n for n in names if registry.REGISTRY[n].oracle]
    assert all(oracles[n] == registry.REGISTRY[n].oracle for n in oracles)


def test_python_ds_runs_outside_repo_root(tmp_path):
    """src_python_ds's reader runs in Python workers, which start in the
    driver's working directory. A driver whose working directory is not
    the repo root (this package on ``sys.path`` only) must still read
    every row, in a plain session like the driver's."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        f"import sys; sys.path.insert(0, {repo!r})\n"
        "from pyspark.sql import SparkSession\n"
        "from reconciliation_hive_data_spark.sources.python_ds import src_python_ds\n"
        "spark = SparkSession.builder.master('local[2]')"
        ".config('spark.ui.enabled', 'false').getOrCreate()\n"
        "print('ROWS', src_python_ds(spark, '').count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "ROWS 2000" in r.stdout, r.stderr[-3000:]


def test_oracles_reference_only_known_tables():
    """Static sanity over every oracle SQL string: any bare FROM/JOIN
    table identifier must be a driver-registered view or a CTE defined in
    the same oracle — a typo'd table name should fail here, not in the
    driver's DuckDB run."""
    import re

    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    known = {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    for name, spec in registry.REGISTRY.items():
        if not spec.oracle:
            continue
        # strip `--` line comments (prose like "differs from X") and
        # EXTRACT(unit FROM expr) calls — both contain FROM tokens that
        # are not table references
        sql = re.sub(r"--[^\n]*", "", spec.oracle)
        sql = re.sub(r"EXTRACT\s*\([^)]*\)", "", sql, flags=re.I)
        # SQL keywords are case-insensitive, so lowercase-normalize once and
        # match everything (CTE extraction, FROM/JOIN refs, the DISTINCT
        # lookbehind) against the normalized text — a lowercase `with x as (`
        # or `is not distinct from` must behave like its uppercase twin.
        low = sql.lower()
        # CTE names defined in this oracle — WITH a AS (...), b AS (...),
        # including the column-list form `WITH a(x, y) AS (...)`
        ctes = set(
            re.findall(
                r"(?:with|,)\s*(?:recursive\s+)?([a-z_][\w]*)"
                r"\s*(?:\([^)]*\))?\s+as\s*\(",
                low,
            )
        )
        refs = set(
            m.group(1)
            for m in re.finditer(
                # exclude the comparison operator `IS [NOT] DISTINCT FROM x`
                r"(?<!distinct )\b(?:from|join)\s+([a-z_][\w]*)",
                low,
            )
        )
        unknown = refs - known - ctes
        # subquery openers / functions caught by the regex are fine to list
        allowed_noise = {"range", "generate_series", "unnest", "read_parquet"}
        unknown -= allowed_noise
        assert not unknown, f"{name}: oracle references unknown tables {unknown}"
