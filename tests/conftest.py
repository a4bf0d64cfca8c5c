from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stellar_ingest.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "stellar-ingest-tests",
        cores=4,
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g", "spark.sql.warehouse.dir": "/tmp/si-warehouse"},
    )
    yield s


@pytest.fixture()
def spark_apply(monkeypatch):
    """Every CDC epoch takes the Spark data path: no epoch is small
    enough for the driver-side apply (lake/write.py)."""
    from stellar_ingest.lake import write

    monkeypatch.setattr(write, "DRIVER_APPLY_MAX_ROWS", 0)


@pytest.fixture()
def tmp_table(tmp_path):
    return str(tmp_path / "table")


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
