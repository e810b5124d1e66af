from __future__ import annotations

import pytest

from airline_data_warehouse_spark.operators.dedup import cache_scope
from airline_data_warehouse_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="adw-tests", master="local[4]",
                  extra_conf={"spark.sql.shuffle.partitions": "4",
                              "spark.ui.enabled": "false"})
    yield s


@pytest.fixture(autouse=True)
def _owned_caches():
    """Each test owns the caches it persists: the ones operators
    register while it runs are released when it ends."""
    with cache_scope():
        yield


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
