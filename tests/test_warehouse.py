"""Warehouse materialization tests: partition layout on disk, partition
pruning visible in the physical plan, append semantics."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from airline_data_warehouse_spark.sources import atomic as at
from airline_data_warehouse_spark.sources.atomic import read_table
from airline_data_warehouse_spark.warehouse import Warehouse
from tests.test_plans import detailed_plan_of


def _units(spark, root) -> dict[str, str]:
    """partition directory name -> the live unit holding it, from the
    table's latest manifest."""
    return {u.rsplit("/", 1)[-1]: os.path.join(root, u)
            for u in at.manifest(spark, root)["units"]}


def _bootstrap(spark, df, dest, key="k", partition_col="p"):
    """A table's first committed version (a MERGE into nothing)."""
    at.upsert_parquet(spark, df, dest, key=key, partition_col=partition_col)


def _mk_fact(spark):
    rows = [
        ("TA000001", 20230115, "P001", "AA100"),
        ("TA000002", 20230220, "P002", "AA100"),
        ("CO000003", 20240301, "P001", "AF023"),
    ]
    return (spark.createDataFrame(
        rows, "transaction_id string, date_key int, passenger_key string, flight_key string")
        .withColumn("total_amount", F.lit(100.0).cast("decimal(10,2)")))


def test_fact_partition_layout(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    wh.write_fact_sales(_mk_fact(spark))
    parts = sorted(_units(spark, wh.path("fact_sales")))
    assert parts == ["sale_year_month=202301", "sale_year_month=202302",
                     "sale_year_month=202403"]
    assert wh.table(spark, "fact_sales").count() == 3


def test_partition_pruning_in_plan(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    wh.write_fact_sales(_mk_fact(spark))
    sliced = wh.fact_sales_for_range(spark, 20230101, 20230131)
    assert [r["transaction_id"] for r in sliced.collect()] == ["TA000001"]
    plan = detailed_plan_of(sliced)
    # the partition filter must appear as PartitionFilters (directory-level
    # pruning), not as a data filter
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "sale_year_month" in seg


def _jobs_launched(spark, fn):
    """(fn(), the number of Spark jobs fn launched): fn runs under a
    job group of its own, counted in the status store once the
    listener bus has delivered every event."""
    import uuid

    sc = spark.sparkContext
    group = f"wh-open-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, _group_jobs(spark, group)


def _group_jobs(spark, group: str) -> int:
    """The number of Spark jobs launched so far under job group `group`."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    groups = [jobs.apply(i).jobGroup() for i in range(jobs.size())]
    return sum(1 for g in groups if g.isDefined() and g.get() == group)


def test_reopen_reuses_schema_and_sees_new_partitions(spark, tmp_path):
    """The managed fact's manifest carries its schema, so no open —
    first or later — launches a job, yet every open resolves the latest
    version: a month partition an upsert commits shows on the next
    open, partition pruning included."""
    wh = Warehouse(str(tmp_path))
    wh.write_fact_sales(_mk_fact(spark))
    first, n_first = _jobs_launched(
        spark, lambda: wh.table(spark, "fact_sales"))
    assert n_first == 0
    again, n_again = _jobs_launched(
        spark, lambda: wh.table(spark, "fact_sales"))
    assert n_again == 0
    assert again.schema == first.schema and again.count() == 3

    wh.upsert_fact_incremental(spark, spark.createDataFrame(
        [("TA000010", 20240515, "P010", "AA100")],
        "transaction_id string, date_key int, passenger_key string, "
        "flight_key string")
        .withColumn("total_amount", F.lit(50.0).cast("decimal(10,2)")))
    sliced, n_slice = _jobs_launched(
        spark, lambda: wh.fact_sales_for_range(spark, 20240501, 20240531))
    assert n_slice == 0
    assert [r["transaction_id"] for r in sliced.collect()] == ["TA000010"]
    assert wh.table(spark, "fact_sales").count() == 4
    # a second Warehouse over the same root resolves on its own
    _, n_fresh = _jobs_launched(
        spark, lambda: Warehouse(str(tmp_path)).table(spark, "fact_sales"))
    assert n_fresh == 0


def test_reopen_sees_status_sink_appends(spark, tmp_path):
    """Rows the status feed's append sink commits after a table's schema
    was recorded are visible on the next open (the sink's file log is
    read per open), with no inference job."""
    import json

    from airline_data_warehouse_spark.streaming import status as st
    from tests.conftest import drop_file

    wh = Warehouse(str(tmp_path / "wh"))
    landing = tmp_path / "landing"
    landing.mkdir()

    def land(name: str, fk: str, delay: int) -> None:
        msg = {"flight_key": fk, "status": "delayed", "delay_minutes": delay,
               "update_timestamp": "2023-06-01T10:00:00Z"}
        drop_file(landing, name, json.dumps(
            {"key": fk, "value": json.dumps(msg)}) + "\n")
        q = st.append_status_sink(
            st.parse_status_stream(st.file_status_source(spark, str(landing))),
            wh.path("flight_status_updates"), str(tmp_path / "ck"))
        assert q.awaitTermination(600)

    land("b0.json", "AA100", 300)
    assert wh.table(spark, "flight_status_updates").count() == 1
    land("b1.json", "AF023", 30)
    table, n = _jobs_launched(
        spark, lambda: wh.table(spark, "flight_status_updates"))
    assert n == 0
    assert st.check_insurance(table, "AF023").collect()[0]["delay_minutes"] == 30


def test_writer_refreshes_recorded_schema(spark, tmp_path):
    """A Warehouse writer forgets its table's recorded schema, so a
    dimension rewritten with an added column opens with it; a writer
    outside the Warehouse that changes columns needs a fresh one."""
    wh = Warehouse(str(tmp_path))
    wh.write_dim("dim_x", spark.createDataFrame([(1, "a")], "k int, v string"))
    assert wh.table(spark, "dim_x").columns == ["k", "v"]
    wh.write_dim("dim_x", spark.createDataFrame(
        [(1, "a", 2.0)], "k int, v string, w double"))
    assert wh.table(spark, "dim_x").collect() == [(1, "a", 2.0)]

    (spark.createDataFrame([(1, "a", 2.0, True)],
                           "k int, v string, w double, z boolean")
     .write.mode("overwrite").parquet(wh.path("dim_x")))
    assert wh.table(spark, "dim_x").columns == ["k", "v", "w"]
    assert Warehouse(str(tmp_path)).table(spark, "dim_x").columns == \
        ["k", "v", "w", "z"]


def test_incremental_fact_upsert_touches_only_affected_partitions(spark, tmp_path):
    import time
    wh = Warehouse(str(tmp_path))
    wh.write_fact_sales(_mk_fact(spark))
    untouched = _units(spark, wh.path("fact_sales"))["sale_year_month=202403"]
    before_mtime = max(os.path.getmtime(os.path.join(untouched, f))
                       for f in os.listdir(untouched))
    time.sleep(1.1)

    new_rows = (spark.createDataFrame(
        [("TA000001", 20230115, "P001", "AA100"),   # update existing
         ("TA000009", 20230120, "P009", "ZZ999")],  # new row, same month
        "transaction_id string, date_key int, passenger_key string, flight_key string")
        .withColumn("total_amount", F.lit(999.0).cast("decimal(10,2)")))
    wh.upsert_fact_incremental(spark, new_rows)

    table = read_table(spark, wh.path("fact_sales"))
    assert table.count() == 4  # 3 original + 1 new, TA000001 replaced
    rows = {r["transaction_id"]: r for r in table.collect()}
    assert rows["TA000001"]["total_amount"] == 999.0
    assert rows["CO000003"]["total_amount"] == 100.0  # other month untouched
    # the 2024-03 partition files were not rewritten
    assert _units(spark, wh.path("fact_sales"))["sale_year_month=202403"] \
        == untouched
    after_mtime = max(os.path.getmtime(os.path.join(untouched, f))
                      for f in os.listdir(untouched))
    assert after_mtime == before_mtime


def test_upsert_parquet_crash_recovery(spark, tmp_path):
    """Generalized crash-safe upsert: a partitioned rewrite that crashed
    after writing its data but before its manifest leaves an orphan
    commit directory. The table still reads its previous version, the
    retry converges to the merged table, and the retry's expire deletes
    the orphan."""
    import os

    from airline_data_warehouse_spark.sources.atomic import upsert_parquet

    base = spark.createDataFrame(
        [("K1", 10, "A"), ("K2", 20, "A"), ("K3", 30, "B")],
        "k string, v int, p string")
    dest = str(tmp_path / "t")
    _bootstrap(spark, base, dest)
    before = sorted(tuple(r) for r in read_table(spark, dest).collect())

    # the crashed attempt: its rewrite of p=A landed, no manifest did
    orphan = os.path.join(dest, "commit=00002")
    (spark.createDataFrame([("K2", 99, "A"), ("K9", -1, "A")],
                           "k string, v int, p string")
     .write.partitionBy("p").parquet(orphan))
    assert sorted(tuple(r) for r in read_table(spark, dest).collect()) \
        == before

    src = spark.createDataFrame([("K2", 99, "A"), ("K4", 40, "B")],
                                "k string, v int, p string")
    upsert_parquet(spark, src, dest, key="k", partition_col="p")

    rows = {r["k"]: (r["v"], r["p"]) for r in read_table(spark, dest).collect()}
    assert rows == {"K1": (10, "A"), "K2": (99, "A"),
                    "K3": (30, "B"), "K4": (40, "B")}
    assert not os.path.exists(orphan)


def test_upsert_parquet_migrates_key_across_partitions(spark, tmp_path):
    """A key whose partition value changes must MOVE, not duplicate: its
    old partition is rewritten without it — and dropped outright when
    that empties it — while the new partition receives it."""
    import os

    from airline_data_warehouse_spark.sources.atomic import upsert_parquet

    base = spark.createDataFrame(
        [("K1", 1, "A"), ("K2", 2, "B"), ("K3", 3, "B")],
        "k string, v int, p string")
    dest = str(tmp_path / "t")
    _bootstrap(spark, base, dest)

    src = spark.createDataFrame([("K1", 11, "C")], "k string, v int, p string")
    upsert_parquet(spark, src, dest, key="k", partition_col="p")

    rows = {r["k"]: (r["v"], r["p"]) for r in read_table(spark, dest).collect()}
    assert rows == {"K1": (11, "C"), "K2": (2, "B"), "K3": (3, "B")}
    # p=A held only K1 -> emptied -> it left the manifest, not stale
    assert "p=A" not in _units(spark, dest)
    assert os.path.isdir(_units(spark, dest)["p=C"])


def test_upsert_parquet_retry_is_idempotent(spark, tmp_path):
    """Running the same delta twice (the checkpoint-retry shape) leaves
    the table identical — the convergence property the crash-recovery
    protocol relies on."""
    from airline_data_warehouse_spark.sources.atomic import upsert_parquet

    base = spark.createDataFrame([("K1", 1, "A"), ("K2", 2, "B")],
                                 "k string, v int, p string")
    dest = str(tmp_path / "t")
    _bootstrap(spark, base, dest)
    src = spark.createDataFrame([("K1", 9, "A"), ("K9", 90, "B")],
                                "k string, v int, p string")
    upsert_parquet(spark, src, dest, key="k", partition_col="p")
    first = sorted(tuple(r) for r in read_table(spark, dest).collect())
    upsert_parquet(spark, src, dest, key="k", partition_col="p")
    assert sorted(tuple(r) for r in read_table(spark, dest).collect()) == first


def test_jsonl_fallback_sink(spark, tmp_path):
    from airline_data_warehouse_spark.sources.sinks import append_jsonl
    dirty = spark.createDataFrame([("passengers", "{}", "Invalid passenger key")],
                                  "source_table string, original_data string, error_reason string")
    path = str(tmp_path / "dirty_backup")
    append_jsonl(dirty, path)
    append_jsonl(dirty, path)  # append mode accumulates (S11 semantics)
    assert spark.read.json(path).count() == 2


def test_status_append_and_dirty_partitioning(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    upd = spark.createDataFrame(
        [("AA100", "delayed", 300, "2023-06-01 10:00:00")],
        "flight_key string, status string, delay_minutes int, update_timestamp string") \
        .withColumn("update_timestamp", F.to_timestamp("update_timestamp"))
    wh.append_status_updates(upd)
    wh.append_status_updates(upd)  # append twice → 2 rows (at-least-once)
    assert spark.read.parquet(wh.path("flight_status_updates")).count() == 2

    dirty = spark.createDataFrame(
        [(1, "passengers", "{}", "Invalid passenger key")],
        "id long, source_table string, original_data string, error_reason string") \
        .withColumn("created_at", F.current_timestamp())
    wh.append_dirty(dirty)
    assert os.path.isdir(os.path.join(wh.path("dirty_data"), "source_table=passengers"))


def _files(spark, root, part) -> set[str]:
    """The parquet files of partition ``part``'s live units."""
    import glob
    return {f for u in at.manifest(spark, root)["units"]
            if u.rsplit("/", 1)[-1] == part
            for f in glob.glob(os.path.join(root, u, "*.parquet"))}


def test_compact_partitions_bounds_files_and_preserves_rows(spark, tmp_path):
    """Compaction: a partition accreted to many files collapses to one,
    an already-compact partition is left untouched (not rewritten), and
    the table's rows are byte-identical before/after."""
    from airline_data_warehouse_spark.sources.atomic import compact_partitions

    dest = str(tmp_path / "t")
    # partition a: 6 appends -> >=6 files; partition b: single write
    for i in range(6):
        at._commit(spark, dest, spark.createDataFrame(
            [(i, "a")], "id long, p string"), "p", mode="append")
    at._commit(spark, dest, spark.createDataFrame(
        [(100, "b")], "id long, p string"), "p", mode="append")

    before = sorted(r["id"] for r in read_table(spark, dest).collect())
    assert len(_files(spark, dest, "p=a")) >= 6
    b_files = _files(spark, dest, "p=b")

    rewritten = compact_partitions(spark, dest, "p", target_files=1)
    assert rewritten == ["p=a"]
    assert len(_files(spark, dest, "p=a")) == 1
    assert _files(spark, dest, "p=b") == b_files  # untouched
    after = sorted(r["id"] for r in read_table(spark, dest).collect())
    assert after == before
    # idempotent: second run is a no-op
    assert compact_partitions(spark, dest, "p", target_files=1) == []


def test_schema_evolution_merge_read(spark, tmp_path):
    """Two parquet generations (v2 adds a column) read as one table with
    mergeSchema: old rows surface NULL for the new column — the
    add-a-column migration path without rewriting history."""
    dest = str(tmp_path / "evo")
    (spark.createDataFrame([(1, 10.0)], "id long, amount double")
     .write.mode("append").parquet(dest))
    (spark.createDataFrame([(2, 20.0, "EUR")],
                           "id long, amount double, currency string")
     .write.mode("append").parquet(dest))
    got = {r["id"]: r for r in
           spark.read.option("mergeSchema", "true").parquet(dest).collect()}
    assert got[1]["currency"] is None
    assert got[2]["currency"] == "EUR"
    assert set(got[1].asDict()) == {"id", "amount", "currency"}


def test_compact_partitions_crash_recovery(spark, tmp_path):
    """Compaction inherits the commit protocol's crash window: a
    crashed prior compaction's orphan commit directory is invisible,
    and the next run converges to the compacted table with identical
    rows and collects the orphan."""
    import os

    from airline_data_warehouse_spark.sources.atomic import compact_partitions

    dest = str(tmp_path / "t")
    for i in range(5):
        at._commit(spark, dest, spark.createDataFrame(
            [(i, "a")], "id long, p string"), "p", mode="append")
    before = sorted(r["id"] for r in read_table(spark, dest).collect())

    # the crashed attempt: its compacted p=a landed, no manifest did
    orphan = os.path.join(dest, "commit=00006")
    (spark.createDataFrame([(i, "a") for i in range(5)], "id long, p string")
     .coalesce(1).write.partitionBy("p").parquet(orphan))
    assert sorted(r["id"] for r in read_table(spark, dest).collect()) \
        == before

    rewritten = compact_partitions(spark, dest, "p", target_files=1)
    assert rewritten == ["p=a"]
    assert len(_files(spark, dest, "p=a")) == 1
    after = sorted(r["id"] for r in read_table(spark, dest).collect())
    assert after == before
    assert not os.path.exists(orphan)


def test_merge_parquet_with_deletes(spark, tmp_path):
    """MERGE with per-source-row clause semantics: a tombstone row
    deletes its target key (inserting nothing), other rows upsert; a
    partition emptied by deletes disappears as a directory; untouched
    partitions are not rewritten."""
    import os

    from airline_data_warehouse_spark.sources.atomic import merge_parquet

    base = spark.createDataFrame(
        [("K1", 10, "A"), ("K2", 20, "A"), ("K3", 30, "B"), ("K4", 40, "C")],
        "k string, v int, p string")
    dest = str(tmp_path / "t")
    _bootstrap(spark, base, dest)
    unit_c = _units(spark, dest)["p=C"]
    before_c = set(os.listdir(unit_c))

    src = spark.createDataFrame(
        [("K2", -1, "A", True),    # tombstone: delete K2
         ("K3", -1, "B", True),    # tombstone: empties p=B entirely
         ("K1", 11, "A", False),   # update
         ("K5", 50, "A", False)],  # insert
        "k string, v int, p string, forget boolean")
    merge_parquet(spark, src.select("k", "v", "p"), dest,
                  key="k", partition_col="p",
                  delete_condition=src["forget"])
    # NOTE: delete_condition must be evaluable on the projected source;
    # pass it as a string when the flag column is dropped — re-run the
    # same merge via the SQL-string form to pin both entry points
    rows = {r["k"]: (r["v"], r["p"]) for r in read_table(spark, dest).collect()}
    assert rows == {"K1": (11, "A"), "K4": (40, "C"), "K5": (50, "A")}
    assert "p=B" not in _units(spark, dest)   # emptied -> dropped
    assert _units(spark, dest)["p=C"] == unit_c  # untouched
    assert set(os.listdir(unit_c)) == before_c

    # idempotent retry: replaying the same merge converges to the same table
    merge_parquet(spark, src.select("k", "v", "p"), dest,
                  key="k", partition_col="p", delete_condition=src["forget"])
    rows2 = {r["k"]: (r["v"], r["p"]) for r in read_table(spark, dest).collect()}
    assert rows2 == rows


def test_merge_parquet_string_condition_and_null_handling(spark, tmp_path):
    """String-form delete_condition; NULL condition rows upsert (never
    silently delete)."""
    from airline_data_warehouse_spark.sources.atomic import merge_parquet

    dest = str(tmp_path / "t")
    _bootstrap(spark, spark.createDataFrame([("K1", 1, "A"), ("K2", 2, "A")],
                                            "k string, v int, p string"), dest)
    src = spark.createDataFrame(
        [("K1", 0, "A"), ("K2", 9, "A"), ("K3", 3, "A")],
        "k string, v int, p string")
    merge_parquet(spark, src, dest, key="k", partition_col="p",
                  delete_condition="CASE WHEN v = 0 THEN true "
                                   "WHEN v = 9 THEN NULL ELSE false END")
    rows = {r["k"]: r["v"] for r in read_table(spark, dest).collect()}
    assert rows == {"K2": 9, "K3": 3}  # K1 deleted; NULL-cond K2 upserted


def test_merge_parquet_fresh_table_filters_tombstones(spark, tmp_path):
    """Bootstrapping a table through merge: tombstone rows must not be
    inserted when there is no target to delete from."""
    from airline_data_warehouse_spark.sources.atomic import merge_parquet

    dest = str(tmp_path / "fresh")
    src = spark.createDataFrame(
        [("K1", 1, "A"), ("K2", 0, "A"), ("K3", 3, "B")],
        "k string, v int, p string")
    merge_parquet(spark, src, dest, key="k", partition_col="p",
                  delete_condition="v = 0")
    rows = {r["k"]: r["v"] for r in read_table(spark, dest).collect()}
    assert rows == {"K1": 1, "K3": 3}


def test_merge_parquet_all_tombstone_bootstrap_is_noop(spark, tmp_path):
    """A delete-only source against a MISSING table must be a no-op —
    writing the empty insert set would create a directory holding only
    _SUCCESS, and every later read of the 'table' would fail schema
    inference (a permanently poisoned path). The retry path (a real
    merge afterwards) must still work."""
    import os

    from airline_data_warehouse_spark.sources.atomic import merge_parquet

    dest = str(tmp_path / "ghost")
    tomb = spark.createDataFrame([("K1", 0, "A")], "k string, v int, p string")
    merge_parquet(spark, tomb, dest, key="k", partition_col="p",
                  delete_condition="v = 0")
    assert not os.path.exists(dest)
    # and the path is not poisoned: a later real merge bootstraps fine
    src = spark.createDataFrame([("K2", 5, "B")], "k string, v int, p string")
    merge_parquet(spark, src, dest, key="k", partition_col="p",
                  delete_condition="v = 0")
    assert {r["k"] for r in read_table(spark, dest).collect()} == {"K2"}


def test_merge_parquet_rejects_undroppable_partition_values(spark, tmp_path):
    """The emptied-partition drop list is built from str(value), which
    only names the real directory for int / plain-string values — a
    value Spark Hive-escapes ('2024/01' → '2024%2F01') or a NULL
    (__HIVE_DEFAULT_PARTITION__) would leave a ghost partition holding
    its supposedly-deleted rows. merge_parquet must refuse loudly."""
    import pytest

    from airline_data_warehouse_spark.sources.atomic import merge_parquet

    dest = str(tmp_path / "esc")
    base = spark.createDataFrame([("K1", 1, "2024/01")],
                                 "k string, v int, p string")
    _bootstrap(spark, base, dest)
    src = spark.createDataFrame([("K1", 0, "2024/01")],
                                "k string, v int, p string")
    with pytest.raises(ValueError, match="Hive-escapes"):
        merge_parquet(spark, src, dest, key="k", partition_col="p",
                      delete_condition="v = 0")
    ndest = str(tmp_path / "nul")
    nbase = spark.createDataFrame([("K1", 1, "A")], "k string, v int, p string")
    _bootstrap(spark, nbase, ndest)
    nsrc = spark.createDataFrame([("K2", 2, None)], "k string, v int, p string")
    with pytest.raises(ValueError, match="NULL p value"):
        merge_parquet(spark, nsrc, ndest, key="k", partition_col="p")


def test_merge_parquet_date_partition_values(spark, tmp_path):
    """Date-typed partition values (what Spark's partition inference
    yields for yyyy-MM-dd directories) round-trip through merge_parquet
    — str(date) IS the directory name; timestamps still raise
    (ADVICE r13-low)."""
    import datetime
    import os

    import pytest as _pytest

    from airline_data_warehouse_spark.sources.atomic import (
        _check_partition_values_droppable,
        merge_parquet,
    )

    _check_partition_values_droppable(
        "d", [datetime.date(2024, 1, 3), 7, "A"])
    with _pytest.raises(ValueError, match="timestamp"):
        _check_partition_values_droppable(
            "d", [datetime.datetime(2024, 1, 3, 4, 5)])

    dest = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("K1", 10, datetime.date(2024, 1, 3)),
         ("K2", 20, datetime.date(2024, 1, 4))],
        "k string, v int, d date")
    _bootstrap(spark, base, dest, partition_col="d")
    src = spark.createDataFrame(
        [("K1", 11, datetime.date(2024, 1, 3)),
         ("K3", 30, datetime.date(2024, 1, 5))],
        "k string, v int, d date")
    merge_parquet(spark, src, dest, key="k", partition_col="d")
    rows = {r["k"]: (r["v"], str(r["d"]))
            for r in read_table(spark, dest).collect()}
    assert rows == {"K1": (11, "2024-01-03"), "K2": (20, "2024-01-04"),
                    "K3": (30, "2024-01-05")}
    assert os.path.isdir(_units(spark, dest)["d=2024-01-05"])
