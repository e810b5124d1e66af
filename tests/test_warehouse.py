"""Warehouse materialization tests: partition layout on disk, partition
pruning visible in the physical plan, append semantics."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from airline_data_warehouse_spark.warehouse import Warehouse
from tests.test_plans import detailed_plan_of


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
    parts = sorted(d for d in os.listdir(wh.path("fact_sales"))
                   if d.startswith("sale_year_month="))
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
    """The first open of a table infers its schema (one footer-reading
    job); later opens pass the recorded schema and launch none, yet
    still list the files: a month partition written outside the
    Warehouse shows on the next open, partition pruning included."""
    wh = Warehouse(str(tmp_path))
    wh.write_fact_sales(_mk_fact(spark))
    first, n_first = _jobs_launched(
        spark, lambda: wh.table(spark, "fact_sales"))
    assert n_first >= 1
    again, n_again = _jobs_launched(
        spark, lambda: wh.table(spark, "fact_sales"))
    assert n_again == 0
    assert again.schema == first.schema and again.count() == 3

    (spark.createDataFrame(
        [("TA000010", 20240515, "P010", "AA100")],
        "transaction_id string, date_key int, passenger_key string, "
        "flight_key string")
     .withColumn("total_amount", F.lit(50.0).cast("decimal(10,2)"))
     .withColumn("sale_year_month", F.lit(202405))
     .write.mode("append").partitionBy("sale_year_month")
     .parquet(wh.path("fact_sales")))
    sliced, n_slice = _jobs_launched(
        spark, lambda: wh.fact_sales_for_range(spark, 20240501, 20240531))
    assert n_slice == 0
    assert [r["transaction_id"] for r in sliced.collect()] == ["TA000010"]
    assert wh.table(spark, "fact_sales").count() == 4
    # a second Warehouse over the same root resolves on its own
    _, n_fresh = _jobs_launched(
        spark, lambda: Warehouse(str(tmp_path)).table(spark, "fact_sales"))
    assert n_fresh >= 1


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
    untouched = os.path.join(wh.path("fact_sales"), "sale_year_month=202403")
    before_mtime = max(os.path.getmtime(os.path.join(untouched, f))
                       for f in os.listdir(untouched))
    time.sleep(1.1)

    new_rows = (spark.createDataFrame(
        [("TA000001", 20230115, "P001", "AA100"),   # update existing
         ("TA000009", 20230120, "P009", "ZZ999")],  # new row, same month
        "transaction_id string, date_key int, passenger_key string, flight_key string")
        .withColumn("total_amount", F.lit(999.0).cast("decimal(10,2)")))
    wh.upsert_fact_incremental(spark, new_rows)

    table = spark.read.parquet(wh.path("fact_sales"))
    assert table.count() == 4  # 3 original + 1 new, TA000001 replaced
    rows = {r["transaction_id"]: r for r in table.collect()}
    assert rows["TA000001"]["total_amount"] == 999.0
    assert rows["CO000003"]["total_amount"] == 100.0  # other month untouched
    # the 2024-03 partition files were not rewritten
    after_mtime = max(os.path.getmtime(os.path.join(untouched, f))
                      for f in os.listdir(untouched))
    assert after_mtime == before_mtime


def test_upsert_parquet_crash_recovery(spark, tmp_path):
    """Generalized crash-safe upsert (r07): every crash window the
    stage-then-swap protocol can leave behind — a partition stranded in
    its hidden backup (crash between the two renames), a stale backup
    whose destination exists (crash after the second rename), and an
    orphaned staging directory (crash mid-staging-write) — must be
    healed by the retry, which then converges to the merged table."""
    import os

    from airline_data_warehouse_spark.sources.atomic import upsert_parquet

    base = spark.createDataFrame(
        [("K1", 10, "A"), ("K2", 20, "A"), ("K3", 30, "B")],
        "k string, v int, p string")
    dest = str(tmp_path / "t")
    base.write.partitionBy("p").parquet(dest)

    # crash window 1: partition p=A's only copy is in the hidden backup
    os.rename(os.path.join(dest, "p=A"), os.path.join(dest, ".p=A.replaced"))
    # crash window 2: stale backup whose destination DOES exist
    os.makedirs(os.path.join(dest, ".p=B.replaced"))
    # crash window 3: orphaned staging dir from a crashed pre-swap attempt
    os.makedirs(os.path.join(dest + "__upsert_staging", "p=Z"))

    src = spark.createDataFrame([("K2", 99, "A"), ("K4", 40, "B")],
                                "k string, v int, p string")
    upsert_parquet(spark, src, dest, key="k", partition_col="p")

    rows = {r["k"]: (r["v"], r["p"]) for r in spark.read.parquet(dest).collect()}
    assert rows == {"K1": (10, "A"), "K2": (99, "A"),
                    "K3": (30, "B"), "K4": (40, "B")}
    assert [f for f in os.listdir(str(tmp_path)) if "staging" in f] == []
    assert [f for f in os.listdir(dest) if f.endswith(".replaced")] == []


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
    base.write.partitionBy("p").parquet(dest)

    src = spark.createDataFrame([("K1", 11, "C")], "k string, v int, p string")
    upsert_parquet(spark, src, dest, key="k", partition_col="p")

    rows = {r["k"]: (r["v"], r["p"]) for r in spark.read.parquet(dest).collect()}
    assert rows == {"K1": (11, "C"), "K2": (2, "B"), "K3": (3, "B")}
    # p=A held only K1 -> emptied -> its directory is gone, not stale
    assert not os.path.isdir(os.path.join(dest, "p=A"))
    assert os.path.isdir(os.path.join(dest, "p=C"))


def test_upsert_parquet_retry_is_idempotent(spark, tmp_path):
    """Running the same delta twice (the checkpoint-retry shape) leaves
    the table identical — the convergence property the crash-recovery
    protocol relies on."""
    from airline_data_warehouse_spark.sources.atomic import upsert_parquet

    base = spark.createDataFrame([("K1", 1, "A"), ("K2", 2, "B")],
                                 "k string, v int, p string")
    dest = str(tmp_path / "t")
    base.write.partitionBy("p").parquet(dest)
    src = spark.createDataFrame([("K1", 9, "A"), ("K9", 90, "B")],
                                "k string, v int, p string")
    upsert_parquet(spark, src, dest, key="k", partition_col="p")
    first = sorted(tuple(r) for r in spark.read.parquet(dest).collect())
    upsert_parquet(spark, src, dest, key="k", partition_col="p")
    assert sorted(tuple(r) for r in spark.read.parquet(dest).collect()) == first


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


def test_compact_partitions_bounds_files_and_preserves_rows(spark, tmp_path):
    """Compaction: a partition accreted to many files collapses to one,
    an already-compact partition is left untouched (not rewritten), and
    the table's rows are byte-identical before/after."""
    from airline_data_warehouse_spark.sources.atomic import compact_partitions

    dest = str(tmp_path / "t")
    # partition a: 6 appends -> >=6 files; partition b: single write
    for i in range(6):
        (spark.createDataFrame([(i, "a")], "id long, p string")
         .write.mode("append").partitionBy("p").parquet(dest))
    (spark.createDataFrame([(100, "b")], "id long, p string")
     .write.mode("append").partitionBy("p").parquet(dest))

    import glob
    before = sorted(r["id"] for r in spark.read.parquet(dest).collect())
    assert len(glob.glob(f"{dest}/p=a/*.parquet")) >= 6
    b_files = set(glob.glob(f"{dest}/p=b/*.parquet"))

    rewritten = compact_partitions(spark, dest, "p", target_files=1)
    assert rewritten == ["p=a"]
    assert len(glob.glob(f"{dest}/p=a/*.parquet")) == 1
    assert set(glob.glob(f"{dest}/p=b/*.parquet")) == b_files  # untouched
    after = sorted(r["id"] for r in spark.read.parquet(dest).collect())
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
    """Compaction inherits the swap protocol's crash windows: a
    partition stranded in its hidden backup and a leftover .compacting
    staging dir are both healed on the next run, which converges to the
    compacted table with identical rows."""
    import glob
    import os

    from airline_data_warehouse_spark.sources.atomic import compact_partitions

    dest = str(tmp_path / "t")
    for i in range(5):
        (spark.createDataFrame([(i, "a")], "id long, p string")
         .write.mode("append").partitionBy("p").parquet(dest))
    before = sorted(r["id"] for r in spark.read.parquet(dest).collect())

    # crash window 1: p=a stranded in its hidden backup mid-swap
    os.rename(os.path.join(dest, "p=a"), os.path.join(dest, ".p=a.replaced"))
    # crash window 2: orphaned staging dir from a crashed prior attempt
    os.makedirs(dest + ".compacting/p=zz")

    rewritten = compact_partitions(spark, dest, "p", target_files=1)
    assert rewritten == ["p=a"]
    assert len(glob.glob(f"{dest}/p=a/*.parquet")) == 1
    after = sorted(r["id"] for r in spark.read.parquet(dest).collect())
    assert after == before
    assert not os.path.exists(dest + ".compacting")
    assert [f for f in os.listdir(dest) if f.endswith(".replaced")] == []


class _RacingFS:
    """A FileSystem stand-in: delegates to the real one, except that its
    ``lose``-th rename first runs ``race`` (the concurrent actor) and
    then reports failure, as a rename that lost the race does."""

    def __init__(self, real, lose: int, race):
        self.real, self.lose, self.race, self.n = real, lose, race, 0

    def __getattr__(self, name):
        return getattr(self.real, name)

    def rename(self, src, dst):
        self.n += 1
        if self.n == self.lose:
            self.race()
            return False
        return self.real.rename(src, dst)


def test_swap_race_branches(spark, tmp_path, monkeypatch):
    """The convergence branches of sources/atomic.py's swap and heal,
    driven with a racing FileSystem: (1) a directory replace whose
    second rename loses to a reader's heal returns False, keeps the old
    content and leaves no staging or backup; (2) a partition rewrite in
    the same state raises IOError with the old rows whole; (3) a heal
    whose rename loses to a live swap's second rename deletes the
    backup and does not raise."""
    import os

    import pytest as _pytest

    from airline_data_warehouse_spark.sources import atomic as at

    hpath, real = at._fs(spark, str(tmp_path))

    def racing(lose, race):
        fs = _RacingFS(real, lose, race)
        monkeypatch.setattr(at, "_fs", lambda spark_, path: (hpath, fs))

    def heal(dest):  # a reader renames the backup back mid-swap
        d = hpath(dest)
        return lambda: real.rename(at._backup(hpath, d), d)

    # (1) directory replace
    dest = str(tmp_path / "state")
    at.replace_directory(spark, spark.createDataFrame([(1,)], "k long"),
                         dest)
    racing(2, heal(dest))
    assert at.replace_directory(
        spark, spark.createDataFrame([(2,)], "k long"), dest) is False
    monkeypatch.undo()
    assert [r["k"] for r in spark.read.parquet(dest).collect()] == [1]
    assert sorted(os.listdir(tmp_path)) == ["state"]

    # (2) partition rewrite
    table = str(tmp_path / "t")
    spark.createDataFrame([("K1", 1, "A")], "k string, v int, p string") \
        .write.partitionBy("p").parquet(table)
    racing(2, heal(f"{table}/p=A"))
    with _pytest.raises(IOError, match="concurrent heal"):
        at.upsert_parquet(spark, spark.createDataFrame(
            [("K1", 9, "A")], "k string, v int, p string"),
            table, key="k", partition_col="p")
    monkeypatch.undo()
    assert [tuple(r) for r in spark.read.parquet(table).collect()] \
        == [("K1", 1, "A")]
    assert [f for f in os.listdir(table) if f.endswith(".replaced")] == []

    # (3) heal losing to a live swap
    log = tmp_path / "log"
    backup = tmp_path / ".log.replaced"
    staged = tmp_path / "log.replacing"
    backup.mkdir()
    staged.mkdir()
    fs = _RacingFS(real, 1, lambda: real.rename(hpath(str(staged)),
                                                hpath(str(log))))
    at._heal(fs, hpath(str(backup)), hpath(str(log)))
    assert log.is_dir() and not backup.exists() and not staged.exists()


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
    base.write.partitionBy("p").parquet(dest)
    before_c = set(os.listdir(os.path.join(dest, "p=C")))

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
    rows = {r["k"]: (r["v"], r["p"]) for r in spark.read.parquet(dest).collect()}
    assert rows == {"K1": (11, "A"), "K4": (40, "C"), "K5": (50, "A")}
    assert not os.path.isdir(os.path.join(dest, "p=B"))   # emptied -> dropped
    assert set(os.listdir(os.path.join(dest, "p=C"))) == before_c  # untouched

    # idempotent retry: replaying the same merge converges to the same table
    merge_parquet(spark, src.select("k", "v", "p"), dest,
                  key="k", partition_col="p", delete_condition=src["forget"])
    rows2 = {r["k"]: (r["v"], r["p"]) for r in spark.read.parquet(dest).collect()}
    assert rows2 == rows


def test_merge_parquet_string_condition_and_null_handling(spark, tmp_path):
    """String-form delete_condition; NULL condition rows upsert (never
    silently delete)."""
    from airline_data_warehouse_spark.sources.atomic import merge_parquet

    dest = str(tmp_path / "t")
    spark.createDataFrame([("K1", 1, "A"), ("K2", 2, "A")],
                          "k string, v int, p string") \
        .write.partitionBy("p").parquet(dest)
    src = spark.createDataFrame(
        [("K1", 0, "A"), ("K2", 9, "A"), ("K3", 3, "A")],
        "k string, v int, p string")
    merge_parquet(spark, src, dest, key="k", partition_col="p",
                  delete_condition="CASE WHEN v = 0 THEN true "
                                   "WHEN v = 9 THEN NULL ELSE false END")
    rows = {r["k"]: r["v"] for r in spark.read.parquet(dest).collect()}
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
    rows = {r["k"]: r["v"] for r in spark.read.parquet(dest).collect()}
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
    assert {r["k"] for r in spark.read.parquet(dest).collect()} == {"K2"}


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
    base.write.partitionBy("p").parquet(dest)
    src = spark.createDataFrame([("K1", 0, "2024/01")],
                                "k string, v int, p string")
    with pytest.raises(ValueError, match="Hive-escapes"):
        merge_parquet(spark, src, dest, key="k", partition_col="p",
                      delete_condition="v = 0")
    ndest = str(tmp_path / "nul")
    nbase = spark.createDataFrame([("K1", 1, "A")], "k string, v int, p string")
    nbase.write.partitionBy("p").parquet(ndest)
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
    base.write.partitionBy("d").parquet(dest)
    src = spark.createDataFrame(
        [("K1", 11, datetime.date(2024, 1, 3)),
         ("K3", 30, datetime.date(2024, 1, 5))],
        "k string, v int, d date")
    merge_parquet(spark, src, dest, key="k", partition_col="d")
    rows = {r["k"]: (r["v"], str(r["d"]))
            for r in spark.read.parquet(dest).collect()}
    assert rows == {"K1": (11, "2024-01-03"), "K2": (20, "2024-01-04"),
                    "K3": (30, "2024-01-05")}
    assert os.path.isdir(os.path.join(dest, "d=2024-01-05"))
