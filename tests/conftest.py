from __future__ import annotations

import os

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


def drop_file(directory, name: str, text: str) -> None:
    """Write ``text`` to ``directory/name`` under a hidden name, then
    rename it into place. A running file-source stream lists its
    directory at any moment and never re-reads a file it picked up
    half-written; names starting with "." are skipped by the listing."""
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, os.path.join(directory, name))


def jobs_launched(spark, fn):
    """(fn(), the number of Spark jobs fn launched): fn runs under a
    job group of its own, counted in the status store once the
    listener bus has delivered every event."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, group_jobs(spark, group)


def group_jobs(spark, group: str) -> int:
    """The number of Spark jobs launched so far under job group `group`
    (a streaming query runs its jobs under ``str(query.runId)``)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    groups = [jobs.apply(i).jobGroup() for i in range(jobs.size())]
    return sum(1 for g in groups if g.isDefined() and g.get() == group)
