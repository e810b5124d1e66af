"""Snapshot-consistent plain-parquet tables: one manifest-commit
protocol for every table the package mutates — the warehouse fact (its
load, batch upsert and eligibility fold) and its eligibility table (the
streaming eligibility merge, streaming/status.py), the IVF-PQ index's
code and vector tables and drift log, the linear sketch stores' base
and the Bloom bit store (streaming/sketch.py), and the
snapshot-versioned tables (sources/snapshots.py).

Layout::

    table_root/
        commit=00001/<partition_col>=<v>/part-*.parquet
        commit=00002/part-*.parquet          (an unpartitioned table)
        _manifests/v00001                    JSON: version, schema, units
        _manifests/v00002

Commit: a writer never renames, rewrites or deletes a committed file.
It writes its frame into the next unused ``commit=N`` directory, then
creates the manifest ``_manifests/vN`` (`_write_marker`) naming the
table's live UNITS — the data directories of this and earlier commits
that hold the table's current rows (one per partition, or one per
commit when unpartitioned) — and its schema. A version is committed
iff its manifest exists, so a crash before the manifest leaves an
orphan directory that no reader sees and the next expire collects. A
partitioned rewrite (`merge_parquet`, `compact_partitions`) names its
new partition directories and keeps every other unit; an append keeps
them all; a replace keeps none.

Read (`read_table`): the latest manifest's units, read with its
schema — ``spark.read.schema(s).option("basePath", root).parquet(
*units)`` — so an open lists one directory per partition and infers
nothing; the ``commit`` directory level reads as a partition column
the reader drops. Partition pruning applies as on a plain table.

Retention (`_expire`, run after every commit): the newest
``RETAINED_VERSIONS`` manifests and every unit they name stay; the
directories only older manifests name, then those manifests, then any
orphan directory are deleted. A DataFrame or view opened on a version
therefore keeps reading that snapshot until ``RETAINED_VERSIONS - 1``
later commits have landed.

Single writer: two concurrent committers could pick the same version,
and an expire deletes whatever a concurrent writer has not yet
committed, so call the writers from the thread that owns the table's
writes (a foreachBatch loop, a scheduled maintenance job). Readers need
no coordination. Object stores need the same write-once property plus
an atomic create for the manifest; a Delta/Iceberg log drops in where
these helpers are called.

Reference parity: the reference upserts through PostgREST with
per-table conflict columns (smartFileProcessor.js:167-174,
getConflictColumn :202-211) — Postgres gives it atomicity and
snapshot reads for free; this module is what the same guarantee costs
on raw parquet.
"""

from __future__ import annotations

import datetime
import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# versions each table keeps readable (module docstring, Retention)
RETAINED_VERSIONS = 4

_MANIFESTS = "_manifests"
_MANIFEST = re.compile(r"^v(\d{5,})$")
_COMMIT = "commit"
_COMMIT_DIR = re.compile(r"^commit=(\d+)$")


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


def _manifests(spark: SparkSession, root: str) -> dict[int, object]:
    """version -> manifest Path, for every manifest file under ``root``."""
    hpath, fs = _fs(spark, root)
    mdir = hpath(f"{root}/{_MANIFESTS}")
    if not fs.exists(mdir):
        return {}
    return {int(m.group(1)): st.getPath() for st in fs.listStatus(mdir)
            if (m := _MANIFEST.match(st.getPath().getName()))}


def _load(spark: SparkSession, path) -> dict | None:
    """One manifest's content; None for a torn (never committed) one."""
    _, fs = _fs(spark, path.toString())
    stream = fs.open(path)
    try:
        raw = bytes(stream.readAllBytes())
    finally:
        stream.close()
    try:
        return json.loads(raw.decode())
    except ValueError:
        return None


def _history(spark: SparkSession, root: str) -> list[dict]:
    """Every committed manifest under ``root``, oldest first."""
    found = _manifests(spark, root.rstrip("/"))
    return [m for v in sorted(found)
            if (m := _load(spark, found[v])) is not None]


def manifest(spark: SparkSession, root: str,
             version: int | None = None) -> dict | None:
    """The latest committed manifest of ``root`` (or ``version``'s);
    None when there is none."""
    found = _manifests(spark, root.rstrip("/"))
    for v in sorted(found, reverse=True) if version is None else [version]:
        if v in found and (m := _load(spark, found[v])) is not None:
            return m
    return None


def _read(spark: SparkSession, root: str, m: dict) -> DataFrame:
    """The rows manifest ``m`` of ``root`` names (module docstring)."""
    schema = T.StructType.fromJson(m["schema"])
    if not m["units"]:
        return spark.createDataFrame([], schema)
    root = root.rstrip("/")
    return (spark.read.schema(schema).option("basePath", root)
            .parquet(*[f"{root}/{u}" for u in m["units"]])
            .select(*schema.fieldNames()))


def read_table(spark: SparkSession, root: str,
               version: int | None = None) -> DataFrame:
    """The table at ``root`` as of its latest committed version (or
    ``version``). Raises ValueError when that version is not committed
    — never landed, or expired."""
    m = manifest(spark, root, version)
    if m is None:
        which = "no committed version" if version is None \
            else f"version {version} is not committed"
        raise ValueError(f"{which} under {root} — expired or never landed")
    return _read(spark, root, m)


def _write_version(spark: SparkSession, root: str, frame: DataFrame,
                   partition_col: str | None = None) -> tuple[int, list[str]]:
    """Write ``frame`` into the next unused ``commit=N`` directory of
    ``root`` — past every manifest and every orphan directory, so a
    retry never writes into a crashed attempt's files. Returns N and
    the units it wrote."""
    if _COMMIT in {c.lower() for c in frame.columns}:
        raise ValueError(f"a managed table cannot hold a {_COMMIT!r} "
                         "column: its directory level reads as one")
    hpath, fs = _fs(spark, root)
    taken = set(_manifests(spark, root))
    if fs.exists(hpath(root)):
        taken |= {int(m.group(1)) for st in fs.listStatus(hpath(root))
                  if (m := _COMMIT_DIR.match(st.getPath().getName()))}
    version = max(taken, default=0) + 1
    data = f"{_COMMIT}={version:05d}"
    writer = frame.write.mode("error")
    if partition_col is None:
        writer.parquet(f"{root}/{data}")
        return version, [data]
    writer.partitionBy(partition_col).parquet(f"{root}/{data}")
    names = [st.getPath().getName()
             for st in fs.listStatus(hpath(f"{root}/{data}"))]
    return version, sorted(f"{data}/{n}" for n in names
                           if n.startswith(partition_col + "="))


def _publish(spark: SparkSession, root: str, version: int,
             units: list[str], schema: T.StructType,
             meta: dict | None = None,
             retain: int | None = RETAINED_VERSIONS) -> int:
    """Commit ``version``: create its manifest, then expire down to
    ``retain`` versions (None keeps every version)."""
    hpath, fs = _fs(spark, root)
    body = {**(meta or {}), "version": version, "units": units,
            "schema": json.loads(schema.json())}
    _write_marker(fs, hpath(f"{root}/{_MANIFESTS}/v{version:05d}"),
                  json.dumps(body).encode())
    if retain is not None:
        _expire(spark, root, retain)
    return version


def _commit(spark: SparkSession, root: str, frame: DataFrame,
            partition_col: str | None = None, mode: str = "overwrite",
            drop: list[str] | tuple = (), base: dict | None = None,
            meta: dict | None = None) -> int:
    """One commit of ``frame`` into the table at ``root`` (module
    docstring). ``mode``: "overwrite" replaces the table; "append"
    keeps every live unit; "partitions" replaces the partitions the
    frame wrote plus ``drop`` (directory names like ``col=value``) the
    mutation emptied. ``base`` is the manifest the mutation read
    (default: the latest). Returns the committed version."""
    root = root.rstrip("/")
    version, new = _write_version(spark, root, frame, partition_col)
    if mode != "overwrite" and base is None:
        base = manifest(spark, root)
    if base is None or mode == "overwrite":
        fields = [T.StructField(f.name, f.dataType, True)
                  for f in frame.schema if f.name != partition_col]
        if partition_col is not None:
            fields.append(T.StructField(
                partition_col, frame.schema[partition_col].dataType, True))
        schema, kept = T.StructType(fields), []
    else:
        schema, kept = T.StructType.fromJson(base["schema"]), base["units"]
        if mode == "partitions":
            gone = {u.rsplit("/", 1)[-1] for u in new} | set(drop)
            kept = [u for u in kept if u.rsplit("/", 1)[-1] not in gone]
    return _publish(spark, root, version, kept + new, schema, meta)


def _expire(spark: SparkSession, root: str, keep: int) -> list[int]:
    """Retention (module docstring): delete all but the newest ``keep``
    manifests. The units only expired manifests name go first, then
    those manifests, then every ``commit=N`` directory no kept manifest
    names a unit in (a crashed commit's orphan, or a commit whose units
    were all superseded); a crash part-way is finished by the next
    expire. Returns the expired versions."""
    hpath, fs = _fs(spark, root)
    found = _manifests(spark, root)
    manifests = {v: _load(spark, found[v]) or {"units": []} for v in found}
    expired = sorted(found)[:-keep]
    live = {u for v in sorted(found)[-keep:] for u in manifests[v]["units"]}
    for u in {u for v in expired for u in manifests[v]["units"]} - live:
        fs.delete(hpath(f"{root}/{u}"), True)
    for v in expired:
        fs.delete(found[v], False)
    live_dirs = {u.split("/", 1)[0] for u in live}
    for st in fs.listStatus(hpath(root)):
        name = st.getPath().getName()
        if _COMMIT_DIR.match(name) and name not in live_dirs:
            fs.delete(st.getPath(), True)
    return expired


def upsert_parquet(spark: SparkSession, source: DataFrame, dest_path: str,
                   key: str, partition_col: str,
                   sort_within: list[str] | None = None) -> None:
    """Crash-safe generalized keyed upsert into a partitioned managed
    table: MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT with
    source-wins, the durable twin of `sinks.upsert` (which returns the
    merged DataFrame and leaves persistence to the caller).

    Partition-scoped: only partitions that hold a matched key or
    receive a source row are re-derived — (target rows there whose key
    is NOT in the source) ∪ (all source rows) — and committed as new
    partition units (module docstring). A key whose partition value
    CHANGES is handled: its old partition is affected (holds the
    matched key, so it is rewritten without the row — or dropped
    outright if that empties it) and its new partition receives it.
    The cost is the affected partitions' rewrite, not a table
    rewrite. A missing table is bootstrapped with the source.
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
    needs: partition-scoped rewrites (a partition emptied by deletes
    leaves the manifest), never a table rewrite, under the module's
    commit protocol.

    ``delete_condition``: Column or SQL string evaluated against SOURCE
    rows; None degrades to plain upsert.
    """
    def _sorted(df: DataFrame) -> DataFrame:
        return df.sortWithinPartitions(*sort_within) if sort_within else df

    if isinstance(delete_condition, str):
        delete_condition = F.expr(delete_condition)

    if delete_condition is not None:
        inserts = source.filter(~F.coalesce(delete_condition, F.lit(False)))
    else:
        inserts = source
    base = manifest(spark, dest_path)
    if base is None:
        # bootstrap guard: a delete-only source against a missing table
        # has nothing to insert — nothing to do is a no-op, not an
        # empty first version
        if inserts.limit(1).count() == 0:
            return
        _commit(spark, dest_path, _sorted(inserts), partition_col)
        return
    target = _read(spark, dest_path, base)
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
    # the drop list is built from str(value), so values whose directory
    # name Spark would ESCAPE (Hive-encoded %XX for '/', ':', '=', '#',
    # space …) or encode specially (NULL → __HIVE_DEFAULT_PARTITION__)
    # would produce names that match no unit — the emptied partition
    # would silently SURVIVE with its old rows. Refuse such values
    # loudly; the rewritten units are immune (their names come from
    # listing real directories).
    _check_partition_values_droppable(partition_col, affected_vals)
    # rebuild the affected frame from the values just collected instead
    # of re-evaluating the two-join lineage a second time inside the
    # write (cheaper, and immune to a non-deterministic source making
    # the drop list diverge from what was written)
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
    _commit(spark, dest_path, _sorted(merged), partition_col,
            mode="partitions", base=base,
            drop=[f"{partition_col}={v}" for v in affected_vals])


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


def _parquet_files(spark: SparkSession, root: str, unit: str) -> int:
    hpath, fs = _fs(spark, root)
    return sum(1 for f in fs.listStatus(hpath(f"{root}/{unit}"))
               if f.getPath().getName().endswith(".parquet"))


def compact_partitions(spark: SparkSession, dest_path: str,
                       partition_col: str, target_files: int = 1,
                       max_files_ok: int | None = None) -> list[str]:
    """Small-file compaction: every live partition whose units hold
    more parquet files than ``max_files_ok`` (default: ``target_files``) is
    rewritten to ``target_files`` files in one partition commit
    (layout only, rows unchanged, so the retry is idempotent).

    This is the maintenance job a 100 TB ingest needs: streaming
    appends and per-delta upserts accrete files per partition, and scan
    cost grows with file COUNT (task scheduling, footer reads, open
    costs) even when bytes are constant — the same pathology the
    streaming band store hit (SCALING.md: 2,540 files → 41 % latency
    growth; compaction flattened it). Returns the partition names it
    rewrote, so callers/tests can assert scope.
    """
    dest_path = dest_path.rstrip("/")
    base = manifest(spark, dest_path)
    if base is None:
        return []
    limit = target_files if max_files_ok is None else max_files_ok
    parts: dict[str, list[str]] = {}
    for u in base["units"]:
        parts.setdefault(u.rsplit("/", 1)[-1], []).append(u)
    crowded = {name: units for name, units in parts.items()
               if sum(_parquet_files(spark, dest_path, u) for u in units)
               > limit}
    if not crowded:
        return []
    # repartition BY THE PARTITION COLUMN (plus a salt when target_files
    # > 1): all rows of one partition value land in exactly target_files
    # tasks, so the partitioned write emits exactly that many files per
    # directory — coalesce would interleave partitions across tasks and
    # write tasks×partitions files, recreating the problem being fixed
    sub = _read(spark, dest_path,
                {**base, "units": [u for us in crowded.values() for u in us]})
    if target_files == 1:
        sub = sub.repartition(len(crowded), F.col(partition_col))
    else:
        salt = (F.abs(F.xxhash64(*[F.col(c) for c in sub.columns]))
                % target_files)
        sub = sub.repartition(len(crowded) * target_files,
                              F.col(partition_col), salt)
    _commit(spark, dest_path, sub, partition_col, mode="partitions",
            base=base)
    return sorted(crowded)


def compact_directory(spark: SparkSession, dest_path: str,
                      target_files: int = 1,
                      max_files_ok: int | None = None) -> bool:
    """Small-file compaction for an UNPARTITIONED managed table — the
    append-log twin of compact_partitions: when its live units hold
    more ``.parquet`` files than ``max_files_ok`` (default:
    ``target_files``), `replace_directory` it with its own rows in
    ``target_files`` files. Layout-only; same single-writer contract.
    Returns True when a rewrite happened.
    """
    dest_path = dest_path.rstrip("/")
    base = manifest(spark, dest_path)
    limit = target_files if max_files_ok is None else max_files_ok
    if base is None or sum(_parquet_files(spark, dest_path, u)
                           for u in base["units"]) <= limit:
        return False
    replace_directory(spark, _read(spark, dest_path, base), dest_path,
                      target_files)
    return True


def replace_directory(spark: SparkSession, source: DataFrame,
                      dest_path: str, target_files: int = 1) -> None:
    """Replace an UNPARTITIONED managed table's CONTENT with ``source``
    in ``target_files`` files, as one commit. The building block for
    small derived state a maintenance loop rewrites wholesale (a Bloom
    bit set, a drift log): readers see the old or the new content at
    every instant. ``source`` may (and typically does) read from
    ``dest_path`` itself — the old version's files stay in place."""
    _commit(spark, dest_path, source.coalesce(target_files))
