"""Snapshot-versioned plain-parquet tables: multi-version commits,
as-of reads (time travel), and retention — the plain-parquet skeleton
of what a transactional table format's log provides, built on one
filesystem invariant: a version is visible iff its COMMIT MARKER
exists.

Layout::

    table_root/
        v00001/           immutable parquet data, written fully first
        v00002/
        _commits/v00001   marker file (JSON: row count, schema fields)
        _commits/v00002

Commit protocol: write ``vN``'s data completely, then create the
marker. Readers resolve "latest" as the highest version WITH a marker,
so a crash mid-data-write leaves an invisible orphan directory and the
table still reads as the previous version — no rename-overwrite needed
(HDFS rename can't atomically replace, so pointer-file designs have a
torn window; marker-creation does not). Version directories are
immutable after commit, which is what makes concurrent readers safe
during a commit and makes as-of reads reproducible (the property a
training pipeline needs: "the run used snapshot 17" stays true
forever, until retention expires 17).

Single-writer, like the upsert path (sources/atomic.py): two
concurrent committers could allocate the same version; serialize
commits per table at the orchestrator. On object stores, swap the
marker check for the table format's transaction log — the call sites
keep the same shape.

Reference parity: the reference has no versioning at all (Postgres
tables mutate in place); this is the reproducibility layer a 100 TB
corpus build adds on top.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession

from airline_data_warehouse_spark.sources.atomic import _fs, _write_marker

# 5+ digits: %05d pads but does NOT truncate, so version 100000 writes
# v100000 — a 5-digit-only regex would make it invisible to _committed,
# the allocator would re-pick 100000, and every later commit would fail
# on mode('error'), wedging the table permanently (ADVICE r07). Sorting
# is numeric (int keys), so 6-digit versions order correctly too.
_VDIR = re.compile(r"^v(\d{5,})$")


def _marker_dir(root: str) -> str:
    return f"{root.rstrip('/')}/_commits"


def _vname(version: int) -> str:
    return f"v{version:05d}"


def _committed(spark: SparkSession, root: str) -> dict[int, str]:
    """version -> marker path, for every committed version."""
    hpath, fs = _fs(spark, root)
    mdir = hpath(_marker_dir(root))
    if not fs.exists(mdir):
        return {}
    out = {}
    for st in fs.listStatus(mdir):
        m = _VDIR.match(st.getPath().getName())
        if m:
            out[int(m.group(1))] = st.getPath().toString()
    return out


def snapshot_commit(spark: SparkSession, df: DataFrame, root: str) -> int:
    """Write ``df`` as the next snapshot version; returns the version.
    Data lands fully before the marker is created, so a crash anywhere
    in between leaves the table readable at the previous version."""
    hpath, fs = _fs(spark, root)
    existing = set(_committed(spark, root))
    # orphan dirs from crashed commits also reserve their number, so a
    # retry never writes into a half-written directory
    if fs.exists(hpath(root)):
        for st in fs.listStatus(hpath(root)):
            m = _VDIR.match(st.getPath().getName())
            if m:
                existing.add(int(m.group(1)))
    version = max(existing, default=0) + 1
    vpath = f"{root.rstrip('/')}/{_vname(version)}"
    df.write.mode("error").parquet(vpath)
    meta = {"version": version,
            "rows": spark.read.parquet(vpath).count(),
            "columns": df.columns}
    _write_marker(fs, hpath(f"{_marker_dir(root)}/{_vname(version)}"),
                  json.dumps(meta).encode())
    return version


def latest_version(spark: SparkSession, root: str) -> int | None:
    committed = _committed(spark, root)
    return max(committed) if committed else None


def snapshot_read(spark: SparkSession, root: str,
                  version: int | None = None) -> DataFrame:
    """Read the latest committed snapshot, or an explicit as-of version.
    Raises ValueError (never a half-read) for uncommitted, expired, or
    unknown versions."""
    committed = _committed(spark, root)
    if not committed:
        raise ValueError(f"no committed snapshots under {root}")
    if version is None:
        version = max(committed)
    if version not in committed:
        raise ValueError(
            f"snapshot v{version} is not committed (have "
            f"{sorted(committed)}) — expired or never landed")
    return spark.read.parquet(f"{root.rstrip('/')}/{_vname(version)}")


def snapshot_history(spark: SparkSession, root: str) -> list[dict]:
    """Commit metadata (version, rows, columns), oldest first."""
    hpath, fs = _fs(spark, root)
    out = []
    for version, mpath in sorted(_committed(spark, root).items()):
        stream = fs.open(hpath(mpath))
        try:
            raw = bytes(stream.readAllBytes())
        finally:
            stream.close()
        out.append(json.loads(raw.decode()))
    return out


def expire_snapshots(spark: SparkSession, root: str, keep: int = 2) -> list[int]:
    """Retention: drop all but the newest ``keep`` committed versions
    (marker first, then data — a crash in between leaves an orphan dir
    that a later commit's allocator still respects). Also removes orphan
    data dirs older than the retention floor. Returns expired versions."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    hpath, fs = _fs(spark, root)
    committed = _committed(spark, root)
    keep_set = set(sorted(committed)[-keep:])
    floor = min(keep_set, default=0)
    expired = []
    for version in sorted(committed):
        if version in keep_set:
            continue
        fs.delete(hpath(committed[version]), False)
        fs.delete(hpath(f"{root.rstrip('/')}/{_vname(version)}"), True)
        expired.append(version)
    for st in fs.listStatus(hpath(root)):
        m = _VDIR.match(st.getPath().getName())
        if m and int(m.group(1)) < floor and int(m.group(1)) not in committed:
            fs.delete(st.getPath(), True)  # orphan from a crashed commit
    return expired


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
    committed = sorted(_committed(spark, root))
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
