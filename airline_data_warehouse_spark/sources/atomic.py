"""Crash-safe plain-parquet table mutation. Every partition swap,
directory replace and crash heal in the package goes through the
helpers in this module: the batch upsert/MERGE, partition and directory
compaction, the linear-state folds (streaming/sketch.py) and the
streaming eligibility merge (streaming/status.py).

Protocol — the rename pair (`_swap_in`): the replacement is fully
written to a SIBLING staging directory while the destination is still
only being read, then swapped in with two renames — dest → hidden
``.name.replaced`` backup, staging → dest — and the backup is deleted.
Renames are atomic on HDFS and local filesystems and dot-prefixed
directories are invisible to Spark's parquet reader, so at every
instant each partition (or directory) is either completely old or
completely new. A partitioned rewrite (`_rewrite_partitions`) swaps one
partition at a time; a crash between partitions leaves a mixed but
internally consistent table.

Heal (`_heal`): a crash between the two renames leaves the ONLY copy
in the backup. A backup whose destination is missing is renamed back
(rollback to the old, complete content); a backup whose destination
exists is a post-swap leftover and is deleted. Rollback is conservative
for deletions too: a partition the crashed run had emptied comes back
whole. Every writer heals before it reads, stale staging directories
are deleted before staging, and mutation bodies are idempotent, so a
checkpointed or driver retry after a crash converges.

Single writer: an append racing the swap window can land in the backup
and be deleted with it, so call the writers from the thread that owns
the table's writes (a foreachBatch loop, a scheduled maintenance job).
Readers may heal concurrently, and both sides converge: a heal whose
rename loses to a live swap's second rename deletes the backup, and a
swap whose second rename loses to a heal drops its staged copy and
reports no swap (`replace_directory` returns False; a partition
rewrite, where the contract rules this out, raises).

Object stores without atomic rename (S3) should use a transactional
format (Delta/Iceberg MERGE) instead — these helpers are the
plain-parquet path for real filesystems, and a Delta MERGE drops in
where they are called.

Reference parity: the reference upserts through PostgREST with
per-table conflict columns (smartFileProcessor.js:167-174,
getConflictColumn :202-211) — Postgres gives it atomicity for free;
this module is what the same guarantee costs on raw parquet.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _fs(spark: SparkSession, path: str):
    """(Path factory, FileSystem) for ``path`` — the package's one
    Hadoop FileSystem lookup, so probes and markers hold for non-local
    paths too."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    return hpath, hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())


def _exists(spark: SparkSession, path: str) -> bool:
    hpath, fs = _fs(spark, path)
    return fs.exists(hpath(path))


def _write_marker(fs, path, data: bytes) -> None:
    """Create (or overwrite) the commit-marker file ``path`` holding
    ``data``. Writers create it after the data it commits, so its
    presence declares that data complete."""
    out = fs.create(path, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def _backup(hpath, dest):
    return hpath(dest.getParent(), f".{dest.getName()}.replaced")


def _heal(fs, backup, dest) -> None:
    """Heal one hidden backup left by a crashed swap (module
    docstring)."""
    if fs.exists(dest):
        fs.delete(backup, True)  # post-swap leftover: dest is new data
    elif not fs.rename(backup, dest):
        # a live swap's second rename can land between the check and
        # this rename: dest now exists and the backup is an ordinary
        # post-swap leftover. Only a failure with dest STILL missing is
        # real corruption.
        if not fs.exists(dest):
            raise IOError(f"recovery: rename {backup} -> {dest} failed")
        fs.delete(backup, True)


def _swap_in(fs, hpath, staged, dest) -> bool:
    """The rename pair (module docstring): swap the fully written
    ``staged`` directory into ``dest``; ``staged`` None removes
    ``dest``. Returns False when a concurrent heal put the old copy
    back between the two renames — the staged copy is dropped and
    ``dest`` holds its old content."""
    backup = _backup(hpath, dest)
    if fs.exists(backup):
        fs.delete(backup, True)  # leftover from a crashed prior swap
    if fs.exists(dest) and not fs.rename(dest, backup):
        raise IOError(f"swap: rename {dest} -> {backup} failed")
    if staged is not None and not fs.rename(staged, dest):
        if fs.exists(dest) and not fs.exists(backup):
            fs.delete(staged, True)
            return False
        raise IOError(f"swap: rename {staged} -> {dest} failed")
    fs.delete(backup, True)
    return True


def _stage(spark: SparkSession, writer, staging: str):
    """Write ``writer`` to the sibling ``staging`` dir, first deleting
    what a crashed prior attempt left there; returns `_fs`'s pair."""
    hpath, fs = _fs(spark, staging)
    if fs.exists(hpath(staging)):
        fs.delete(hpath(staging), True)
    writer.mode("overwrite").parquet(staging)
    return hpath, fs


def recover_partitions(spark: SparkSession, dest_root: str,
                       partition_col: str) -> None:
    """Heal every partition of ``dest_root`` a crash stranded mid-swap
    (module docstring). Run it before any read that precedes a swap: a
    stranded partition's only copy is invisible to Spark's reader, so a
    retry reading first would treat those rows as gone."""
    hpath, fs = _fs(spark, dest_root)
    if not fs.exists(hpath(dest_root)):
        return
    prefix = "." + partition_col + "="
    for st in fs.listStatus(hpath(dest_root)):
        name = st.getPath().getName()
        if (st.isDirectory() and name.startswith(prefix)
                and name.endswith(".replaced")):
            _heal(fs, st.getPath(),
                  hpath(dest_root, name[1:-len(".replaced")]))


def _rewrite_partitions(spark: SparkSession, frame: DataFrame,
                        dest_root: str, partition_col: str, staging: str,
                        drop_partitions: list[str] | None = None) -> None:
    """Stage ``frame`` partitioned by ``partition_col``, then swap each
    staged partition into ``dest_root`` and remove ``drop_partitions``
    (directory names like ``col=value``) the mutation emptied — one
    `_swap_in` each (module docstring) — and delete the staging dir."""
    hpath, fs = _stage(spark, frame.write.partitionBy(partition_col),
                       staging)
    recover_partitions(spark, dest_root, partition_col)
    prefix = partition_col + "="
    staged = {st.getPath().getName(): st.getPath()
              for st in fs.listStatus(hpath(staging))
              if st.isDirectory()  # not _SUCCESS and friends
              and st.getPath().getName().startswith(prefix)}
    for name in [*staged, *(n for n in drop_partitions or ()
                            if n.startswith(prefix) and n not in staged)]:
        if not _swap_in(fs, hpath, staged.get(name),
                        hpath(dest_root, name)):
            raise IOError(f"partition swap into {dest_root}/{name} lost "
                          "to a concurrent heal — single-writer "
                          "contract broken")
    fs.delete(hpath(staging), True)


def upsert_parquet(spark: SparkSession, source: DataFrame, dest_path: str,
                   key: str, partition_col: str,
                   sort_within: list[str] | None = None) -> None:
    """Crash-safe generalized keyed upsert into a partitioned parquet
    table: MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT with
    source-wins, the durable twin of `sinks.upsert` (which returns the
    merged DataFrame and leaves persistence to the caller).

    Partition-scoped: only partitions that hold a matched key or
    receive a source row are re-derived — (target rows there whose key
    is NOT in the source) ∪ (all source rows) — staged, and swapped in
    per partition (module docstring). A key whose partition value
    CHANGES is handled: its old partition is affected (holds the
    matched key, so it is rewritten without the row — or dropped
    outright if that empties it) and its new partition receives it.
    The cost is the affected directories' rewrite, not a table
    rewrite.
    """
    merge_parquet(spark, source, dest_path, key, partition_col,
                  delete_condition=None, sort_within=sort_within)


def merge_parquet(spark: SparkSession, source: DataFrame, dest_path: str,
                  key: str, partition_col: str,
                  delete_condition=None,
                  sort_within: list[str] | None = None) -> None:
    """Full MERGE with delete support — upsert_parquet's machinery plus
    WHEN MATCHED AND <delete_condition> THEN DELETE. Per-source-row
    clause semantics (like SQL MERGE): a source row where the condition
    holds removes the target row with its key and inserts nothing; every
    other source row upserts source-wins. The targeted-delete path is
    the right-to-be-forgotten / tombstone operation a long-lived corpus
    needs: partition-scoped directory rewrites (a partition emptied by
    deletes is dropped in the swap), never a table rewrite, under the
    module's crash protocol.

    ``delete_condition``: Column or SQL string evaluated against SOURCE
    rows; None degrades to plain upsert.
    """
    def _sorted(df: DataFrame) -> DataFrame:
        return df.sortWithinPartitions(*sort_within) if sort_within else df

    if isinstance(delete_condition, str):
        delete_condition = F.expr(delete_condition)

    recover_partitions(spark, dest_path, partition_col)
    if delete_condition is not None:
        inserts = source.filter(~F.coalesce(delete_condition, F.lit(False)))
    else:
        inserts = source
    if not _exists(spark, dest_path):
        # bootstrap guard: a delete-only source against a missing table
        # has nothing to insert — writing it anyway would create a
        # directory holding only _SUCCESS, and every later read of the
        # "table" would fail schema inference (a permanently poisoned
        # path). Nothing to do is a no-op, not an empty write.
        if inserts.limit(1).count() == 0:
            return
        _sorted(inserts).write.partitionBy(partition_col).parquet(dest_path)
        return
    target = spark.read.parquet(dest_path)
    source = source.select(*target.columns)
    inserts = inserts.select(*target.columns)
    # the delta-key joins are left to AQE: a typical delta's key set is
    # broadcast-sized and AQE picks that at runtime, but a large backfill
    # delta would make a FORCED key broadcast the OOM-at-scale hazard
    # (same class as the ngram_overlap_join holdout fix, r07). The
    # affected-partitions frame is bounded by the table's partition count
    # and stays hinted.
    keys = source.select(key).distinct()
    affected = (target.join(keys, key, "left_semi")
                      .select(partition_col)
                      .unionByName(inserts.select(partition_col))
                      .distinct())
    affected_vals = [r[0] for r in affected.collect()]
    if not affected_vals:
        return
    # the swap's drop list is built from str(value), so values whose
    # directory name Spark would ESCAPE (Hive-encoded %XX for '/', ':',
    # '=', '#', space …) or encode specially (NULL →
    # __HIVE_DEFAULT_PARTITION__) would produce names that match no
    # directory — the emptied partition would silently SURVIVE with its
    # old rows. Refuse such values loudly; the staging-side swap is
    # immune (its names come from listing real directories).
    _check_partition_values_droppable(partition_col, affected_vals)
    # rebuild the affected frame from the values just collected instead
    # of re-evaluating the two-join lineage a second time inside the
    # staging write (cheaper, and immune to a non-deterministic source
    # making the drop list diverge from what was staged)
    part_field = target.schema[partition_col]
    from airline_data_warehouse_spark.operators.frames import (
        jvm_local_frame,
    )
    aff_lit = jvm_local_frame(spark, [(v,) for v in affected_vals],
                              T.StructType([part_field]))
    surviving = (target
                 .join(F.broadcast(aff_lit), partition_col, "left_semi")
                 .join(keys, key, "left_anti"))
    merged = surviving.unionByName(inserts)
    _rewrite_partitions(
        spark, _sorted(merged), dest_path, partition_col,
        f"{dest_path.rstrip('/')}__upsert_staging",
        drop_partitions=[f"{partition_col}={v}" for v in affected_vals])


# characters Spark writes VERBATIM into a partition directory name —
# everything else is Hive-%XX-escaped (ExternalCatalogUtils), and NULL
# becomes __HIVE_DEFAULT_PARTITION__, so str(value) would not name the
# real directory
_DROP_SAFE = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "0123456789_-.+@")


def _check_partition_values_droppable(partition_col: str,
                                      vals: list) -> None:
    """Fail fast when a partition value's str() form cannot be trusted
    to equal its on-disk directory name (see merge_parquet). Integers
    and plain identifier-ish strings — every value this repo's tables
    partition by — pass; NULLs and escape-needing strings raise with
    the reason instead of leaving ghost partitions behind."""
    for v in vals:
        if v is None:
            raise ValueError(
                f"merge_parquet: NULL {partition_col} value — its "
                "directory is __HIVE_DEFAULT_PARTITION__, which the "
                "drop list cannot address; filter NULL partitions "
                "upstream")
        if isinstance(v, bool) or not isinstance(
                v, (int, str, datetime.date)):
            # datetime.date is safe: Spark's partition-type inference
            # yields date values for yyyy-MM-dd directories, and
            # str(date) is exactly that form (all _DROP_SAFE chars) —
            # rejecting it broke merge_parquet on date-partitioned
            # tables (ADVICE r13-low). datetime.datetime subclasses
            # date but its str() has spaces/colons Spark escapes, so
            # exclude it explicitly.
            raise ValueError(
                f"merge_parquet: {partition_col} value {v!r} of type "
                f"{type(v).__name__} — only int, plain-string, and "
                "date partition values round-trip to directory names; "
                "cast upstream")
        if isinstance(v, datetime.datetime):
            raise ValueError(
                f"merge_parquet: {partition_col} value {v!r} is a "
                "timestamp — its str() form contains characters Spark "
                "Hive-escapes in directory names; partition by a date "
                "or string key instead")
        if isinstance(v, str) and (not v or set(v) - _DROP_SAFE):
            raise ValueError(
                f"merge_parquet: {partition_col} value {v!r} contains "
                "characters Spark Hive-escapes in directory names — "
                "the emptied-partition drop would silently miss; use "
                "an escaped-safe partition key")


def compact_partitions(spark: SparkSession, dest_path: str,
                       partition_col: str, target_files: int = 1,
                       max_files_ok: int | None = None) -> list[str]:
    """Small-file compaction: every partition directory holding more
    parquet files than ``max_files_ok`` (default: ``target_files``) is
    rewritten to ``target_files`` files and swapped in under the
    module's crash protocol (layout only, rows unchanged, so the retry
    is idempotent).

    This is the maintenance job a 100 TB ingest needs: streaming
    appends and per-delta upserts accrete files per partition, and scan
    cost grows with file COUNT (task scheduling, footer reads, open
    costs) even when bytes are constant — the same pathology the
    streaming band store hit (SCALING.md: 2,540 files → 41 % latency
    growth; compaction flattened it). Returns the partition names it
    rewrote, so callers/tests can assert scope.
    """
    recover_partitions(spark, dest_path, partition_col)
    hpath, fs = _fs(spark, dest_path)
    if not fs.exists(hpath(dest_path)):
        return []
    limit = target_files if max_files_ok is None else max_files_ok
    crowded = [st.getPath().getName()
               for st in fs.listStatus(hpath(dest_path))
               if st.isDirectory()
               and st.getPath().getName().startswith(partition_col + "=")
               and sum(1 for f in fs.listStatus(st.getPath())
                       if f.getPath().getName().endswith(".parquet"))
               > limit]
    if not crowded:
        return []
    # repartition BY THE PARTITION COLUMN (plus a salt when target_files
    # > 1): all rows of one partition value land in exactly target_files
    # tasks, so the partitioned write emits exactly that many files per
    # directory — coalesce would interleave partitions across tasks and
    # write tasks×partitions files, recreating the problem being fixed
    sub = (spark.read.option("basePath", dest_path)
           .parquet(*[f"{dest_path}/{name}" for name in crowded]))
    if target_files == 1:
        sub = sub.repartition(len(crowded), F.col(partition_col))
    else:
        salt = (F.abs(F.xxhash64(*[F.col(c) for c in sub.columns]))
                % target_files)
        sub = sub.repartition(len(crowded) * target_files,
                              F.col(partition_col), salt)
    _rewrite_partitions(spark, sub, dest_path, partition_col,
                        dest_path.rstrip("/") + ".compacting")
    return sorted(crowded)


def recover_directory(spark: SparkSession, dest_path: str) -> None:
    """Heal ``dest_path`` if a crash stranded it mid-replace (module
    docstring). Readers of a replaced directory call this first."""
    hpath, fs = _fs(spark, dest_path)
    dest = hpath(dest_path)
    backup = _backup(hpath, dest)
    if fs.exists(backup):
        _heal(fs, backup, dest)


def compact_directory(spark: SparkSession, dest_path: str,
                      target_files: int = 1,
                      max_files_ok: int | None = None) -> bool:
    """Small-file compaction for an UNPARTITIONED parquet directory —
    the append-log twin of compact_partitions: when the directory holds
    more ``.parquet`` files than ``max_files_ok`` (default:
    ``target_files``), `replace_directory` it with its own rows in
    ``target_files`` files. Layout-only; same single-writer contract.
    Returns True when a rewrite happened.
    """
    recover_directory(spark, dest_path)
    hpath, fs = _fs(spark, dest_path)
    if not fs.exists(hpath(dest_path)):
        return False
    limit = target_files if max_files_ok is None else max_files_ok
    if sum(1 for f in fs.listStatus(hpath(dest_path))
           if f.getPath().getName().endswith(".parquet")) <= limit:
        return False
    return replace_directory(spark, spark.read.parquet(dest_path),
                             dest_path, target_files)


def replace_directory(spark: SparkSession, source: DataFrame,
                      dest_path: str, target_files: int = 1) -> bool:
    """Replace an UNPARTITIONED parquet directory's CONTENT with
    ``source`` under the module's crash protocol: staged to the sibling
    ``.replacing`` dir, then one rename pair. The building block for
    small derived state a maintenance loop folds wholesale (a Count-Min
    base sketch, a watermark table): the directory is schema-bounded,
    so a full rewrite is cheap, and readers see the old or the new
    content at every instant.

    ``source`` is fully materialized into the staging directory BEFORE
    the first rename, so it may (and typically does) read from
    ``dest_path`` itself.

    Returns True when the new content is in place, False when a
    concurrent reader's heal restored the OLD content instead. Callers
    whose follow-up work assumes the swap happened — a fold deleting
    the batch partitions it just absorbed — MUST check this: treating
    the no-op as success would destroy the only copy of the unfolded
    state."""
    recover_directory(spark, dest_path)
    staging = dest_path.rstrip("/") + ".replacing"
    hpath, fs = _stage(spark, source.coalesce(target_files).write, staging)
    return _swap_in(fs, hpath, hpath(staging), hpath(dest_path))
