"""Snapshot-versioned plain-parquet tables: multi-version commits,
as-of reads (time travel), and retention — the plain-parquet skeleton
of what a transactional table format's log provides. A snapshot
version IS a manifest version of sources/atomic.py's commit protocol:
each commit replaces the whole table, and a version is visible iff its
manifest exists.

Commit protocol (sources/atomic.py): ``vN``'s data is written
completely into its own ``commit=N`` directory, then its manifest is
created. Readers resolve "latest" as the highest version WITH a
manifest, so a crash mid-data-write leaves an invisible orphan
directory and the table still reads as the previous version; the
orphan's number is never reused. Committed directories are immutable,
which is what makes concurrent readers safe during a commit and makes
as-of reads reproducible (the property a training pipeline needs: "the
run used snapshot 17" stays true forever, until retention expires 17).
Unlike the package's other managed tables, a snapshot commit expires
nothing on its own: retention is the caller's `expire_snapshots` call.

Single-writer, like every managed table: two concurrent committers
could allocate the same version; serialize commits per table at the
orchestrator. On object stores, swap the manifest for the table
format's transaction log — the call sites keep the same shape.

Reference parity: the reference has no versioning at all (Postgres
tables mutate in place); this is the reproducibility layer a 100 TB
corpus build adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from airline_data_warehouse_spark.sources.atomic import (
    _expire,
    _history,
    _publish,
    _write_version,
    read_table,
)


def snapshot_commit(spark: SparkSession, df: DataFrame, root: str) -> int:
    """Write ``df`` as the next snapshot version; returns the version.
    Data lands fully before the manifest is created, so a crash anywhere
    in between leaves the table readable at the previous version."""
    root = root.rstrip("/")
    version, units = _write_version(spark, root, df)
    rows = spark.read.parquet(f"{root}/{units[0]}").count()
    return _publish(spark, root, version, units, df.schema,
                    meta={"rows": rows, "columns": df.columns}, retain=None)


def latest_version(spark: SparkSession, root: str) -> int | None:
    history = _history(spark, root)
    return history[-1]["version"] if history else None


def snapshot_read(spark: SparkSession, root: str,
                  version: int | None = None) -> DataFrame:
    """Read the latest committed snapshot, or an explicit as-of version.
    Raises ValueError (never a half-read) for uncommitted, expired, or
    unknown versions."""
    return read_table(spark, root, version)


def snapshot_history(spark: SparkSession, root: str) -> list[dict]:
    """Commit metadata (version, rows, columns), oldest first."""
    return [{k: m[k] for k in ("version", "rows", "columns")}
            for m in _history(spark, root)]


def expire_snapshots(spark: SparkSession, root: str, keep: int = 2) -> list[int]:
    """Retention: drop all but the newest ``keep`` committed versions
    (data first, then manifest — a crash in between is finished by the
    next expire), plus every orphan directory a crashed commit left.
    Returns expired versions."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    return _expire(spark, root.rstrip("/"), keep)


def snapshot_diff(spark: SparkSession, root: str, key: str,
                  v_from: int | None = None,
                  v_to: int | None = None) -> DataFrame:
    """CDC-style change feed between two committed snapshots: one row
    per key that was added, removed, or changed, with the old and new
    images as structs. Defaults to (latest-1) → latest.

    Shape: a single FULL OUTER shuffle join on the key with null-safe
    struct comparison (``<=>`` over the non-key columns) — the same
    plan as the certified ``snapshot_reconciliation`` registry query,
    generalized over arbitrary schemas. At 100 TB both sides shuffle
    once on the key; nothing is collected.
    """
    committed = [m["version"] for m in _history(spark, root)]
    if v_to is None:
        v_to = committed[-1] if committed else None
    if v_from is None and committed:
        earlier = [v for v in committed if v_to is not None and v < v_to]
        v_from = earlier[-1] if earlier else None
    if v_from is None or v_to is None:
        raise ValueError(f"need two committed snapshots under {root}, "
                         f"have {committed}")
    from pyspark.sql import functions as F

    old = snapshot_read(spark, root, v_from)
    new = snapshot_read(spark, root, v_to)
    cols = [c for c in new.columns if c != key]
    if set(old.columns) != set(new.columns):
        raise ValueError("snapshot_diff requires matching schemas; got "
                         f"{sorted(old.columns)} vs {sorted(new.columns)}")
    o = old.select(F.col(key), F.struct(*cols).alias("old_image"))
    n = new.select(F.col(key), F.struct(*cols).alias("new_image"))
    joined = o.join(n, key, "full_outer")
    change = (F.when(F.col("old_image").isNull(), "added")
               .when(F.col("new_image").isNull(), "removed")
               .when(~F.expr("old_image <=> new_image"), "changed"))
    return (joined.withColumn("change_type", change)
                  .filter(F.col("change_type").isNotNull())
                  .select(key, "change_type", "old_image", "new_image"))
