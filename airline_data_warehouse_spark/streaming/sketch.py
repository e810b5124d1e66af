"""Continuous sketch-state maintenance: keep persisted LINEAR sketch
states current against a stream — the live form of
`operators.sketches`, and the reason those sketches earned their
place (a LINEAR state is what a stream can actually keep: per-batch
frames merge into the running one by keyed addition, where an exact
per-token count table grows with Heaps' law forever and every merge
is vocabulary-sized). Three states share one store machinery
(_read_linear_state / _fold_linear_state): Count-Min cells
(frequency), q-digest leaf counts (quantiles — leaves rather than
compressed digests, because compression depends on the batch split
while leaf counts are a pure function of the row multiset), and the
Bloom blocklist (which needs no watermark at all — bit-set union is
idempotent, see start_bloom_ingest).

Exactly-once accounting on top of foreachBatch's at-least-once
replays, WITHOUT a keyed idempotent merge (keyed ADD double-counts
on a blind retry):

* Each micro-batch writes its OWN sketch to
  ``{store}/batches/batch_id=N`` with per-partition overwrite — the
  Structured Streaming contract replays a failed batch with the same
  batch_id and the same data, so the retry overwrites the partition
  with identical content instead of adding to it.
* A maintenance fold (every ``fold_every`` batches, inside the
  foreachBatch thread — single-maintenance-process, the index-ingest
  convention) aggregates base + new batch partitions into a fresh base
  version, committed under sources/atomic.py's manifest protocol with
  a ``folded_through`` WATERMARK in its manifest. Batch partitions ≤
  the watermark are ignored by every reader of that base version (the
  watermark, not directory presence, is truth), so a retry re-creating
  a folded partition never double-counts.
* Deferred batch cleanup: a fold deletes a batch partition only once
  no retained base version still needs it — once it is at or below the
  OLDEST retained version's watermark. A read that resolved an older
  base version keeps its batch partitions for as long as that version
  is retained, so a fold racing a reader deletes nothing the reader
  lists, and the read needs no retry.
* Read = base rows + batch partitions ABOVE the watermark, keyed
  sum — bounded by the state's own size class (d·w cells for CMS,
  the value domain for q-digest leaves), never the stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airline_data_warehouse_spark.operators.dedup import _persist
from airline_data_warehouse_spark.operators.sketches import (
    CMS_DEPTH,
    CMS_WIDTH,
    countmin_build,
)
from airline_data_warehouse_spark.streaming import start_foreach_batch

def _base_dir(store_dir: str) -> str:
    return f"{store_dir}/base"


def _batches_dir(store_dir: str) -> str:
    return f"{store_dir}/batches"


def _read_linear_state(spark: SparkSession, store_dir: str,
                       cols: str, keys: list[str],
                       val: str) -> DataFrame:
    """Shared read path for every LINEAR keyed sketch state (Count-Min
    cells, q-digest leaf counts): the latest base version + the batch
    partitions its watermark says are NOT yet folded, summed per key.
    Partitions at/below the watermark are ignored even when their
    directories exist — they await deferred cleanup or are a replayed
    batch's re-creation; counting them would double-add. ``cols``: the
    state schema ("k type, …, val type"); ``keys``/``val``: its key
    columns and the summed value column."""
    from airline_data_warehouse_spark.sources.atomic import (
        _exists,
        _read,
        manifest,
    )

    base_path = _base_dir(store_dir)
    base = manifest(spark, base_path)
    watermark = -1 if base is None else base["folded_through"]
    parts = [] if base is None else [
        _read(spark, base_path, base).select(*keys, val)]
    bdir = _batches_dir(store_dir)
    if _exists(spark, bdir):
        # explicit schema: a swept batches dir is EMPTY, where
        # inference would throw; batch_id is the directory-derived
        # partition column
        parts.append(spark.read.schema(f"{cols}, batch_id long")
                     .parquet(bdir)
                     .filter(F.col("batch_id") > watermark)
                     .select(*keys, val))
    if not parts:
        return spark.createDataFrame([], cols)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy(*keys).agg(F.sum(val).alias(val))


def _fold_linear_state(spark: SparkSession, store_dir: str,
                       cols: str, keys: list[str], val: str) -> int:
    """Shared fold for the linear stores: aggregate (base ∪ new batch
    partitions) per key and commit it as the next base version with
    folded_through = max folded batch_id, THEN delete the batch
    partitions no retained base version needs (module docstring).
    Returns the new watermark (-1 if nothing to fold)."""
    from airline_data_warehouse_spark.sources.atomic import (
        _commit,
        _fs,
        _history,
        manifest,
    )

    base_path = _base_dir(store_dir)
    base = manifest(spark, base_path)
    watermark = -1 if base is None else base["folded_through"]
    hpath, fs = _fs(spark, store_dir)  # Hadoop FS API: non-local stores
    bdir = _batches_dir(store_dir)
    if not fs.exists(hpath(bdir)):
        return watermark
    batch_ids = [int(st.getPath().getName().split("=", 1)[1])
                 for st in fs.listStatus(hpath(bdir))
                 if st.isDirectory()
                 and st.getPath().getName().startswith("batch_id=")]
    new_ids = [b for b in batch_ids if b > watermark]
    if new_ids:
        watermark = max(new_ids)
        _commit(spark, base_path,
                _read_linear_state(spark, store_dir, cols, keys, val)
                .coalesce(1),
                meta={"folded_through": watermark})
    # includes pre-watermark garbage (a replayed batch re-created
    # after its fold), which readers already ignore
    floor = min((m["folded_through"] for m in _history(spark, base_path)),
                default=-1)
    for b in batch_ids:
        if b <= floor:
            fs.delete(hpath(f"{bdir}/batch_id={b}"), True)
    return watermark


def read_countmin_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """The merged sketch (row, bucket, counter): base cells + the batch
    partitions the watermark says are NOT yet folded, cell-wise summed
    (_read_linear_state — CMS is a linear sketch, so the keyed sum IS
    the merge)."""
    return _read_linear_state(spark, store_dir,
                              "row int, bucket int, counter long",
                              ["row", "bucket"], "counter")

def fold_countmin_store(spark: SparkSession, store_dir: str,
                        depth: int = CMS_DEPTH,
                        width: int = CMS_WIDTH) -> int:
    """Fold every batch partition above the current watermark into the
    base (_fold_linear_state): the fold reads ≤ (1 + batches-since-
    fold)·d·w rows and writes ≤ d·w — constant-bounded, like everything
    else the sketch touches. Returns the new watermark (-1 if nothing
    to fold)."""
    return _fold_linear_state(spark, store_dir,
                              "row int, bucket int, counter long",
                              ["row", "bucket"], "counter")

def start_countmin_ingest(stream: DataFrame, store_dir: str,
                          checkpoint_dir: str | None = None,
                          token_col: str = "token",
                          weight_col: str | None = None,
                          depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
                          fold_every: int | None = 8):
    """foreachBatch loop: sketch each micro-batch
    (operators.sketches.countmin_build — the ≤ d·w-cell aggregation)
    into its own ``batch_id=N`` partition, folding into the watermarked
    base every ``fold_every`` batches. Retries converge by
    per-partition overwrite + the read-side watermark rule; fold runs
    inside this thread (single-maintenance-process). None disables
    folding (the read path still sums, just over more partitions)."""

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cells = countmin_build(batch_df, token_col=token_col,
                               weight_col=weight_col,
                               depth=depth, width=width)
        (cells.coalesce(1).write.mode("overwrite")
         .parquet(f"{_batches_dir(store_dir)}/batch_id={int(batch_id)}"))
        if fold_every and batch_id > 0 and batch_id % fold_every == 0:
            fold_countmin_store(spark, store_dir, depth, width)

    return start_foreach_batch(stream, ingest_batch, checkpoint_dir)


def read_bloom_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """The accumulated Bloom bit set (bit int, distinct): the bits
    store's latest committed version, de-duplicated across batch
    appends at read time."""
    from airline_data_warehouse_spark.sources.atomic import _read, manifest

    bdir = f"{store_dir}/bits"
    bits = manifest(spark, bdir)
    if bits is None:
        return spark.createDataFrame([], "bit int")
    return _read(spark, bdir, bits).select("bit").distinct()


def start_bloom_ingest(stream: DataFrame, store_dir: str,
                       checkpoint_dir: str | None = None,
                       hash_col: str = "sh",
                       hashes: int | None = None,
                       bits: int | None = None,
                       compact_every: int | None = 8):
    """foreachBatch loop: accumulate a growing Bloom blocklist from a
    member stream (new benchmark n-grams, newly revoked content) — the
    filter every decontamination probe then reads with
    read_bloom_store + operators.sketches.bloom_probe.

    Unlike the Count-Min store, NO watermark machinery is needed: a
    bit set is idempotent under union, so an at-least-once replay
    appending the same bits twice changes nothing the read-time
    DISTINCT doesn't absorb. Every ``compact_every`` batches the
    accumulated appends are rewritten as one de-duplicated file
    (replace_directory, one commit) — bounding both file count and row
    count at ≤ ``bits`` (the r10 unbounded-log lesson)."""
    from airline_data_warehouse_spark.operators.sketches import (
        BLOOM_BITS,
        BLOOM_HASHES,
        bloom_build,
    )
    from airline_data_warehouse_spark.sources.atomic import (
        _commit,
        replace_directory,
    )

    k = BLOOM_HASHES if hashes is None else hashes
    m = BLOOM_BITS if bits is None else bits
    bdir = f"{store_dir}/bits"

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _commit(spark, bdir,
                bloom_build(batch_df, hash_col, hashes=k, bits=m).coalesce(1),
                mode="append")
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            replace_directory(spark, read_bloom_store(spark, store_dir),
                              bdir)

    return start_foreach_batch(stream, ingest_batch, checkpoint_dir)


def _plan_dir(store_dir: str) -> str:
    return f"{store_dir.rstrip('/')}/plan"


def _pin_store_plan(spark: SparkSession, store_dir: str, offset: int,
                    levels: int, branch_bits: int, who: str) -> None:
    """Write the stream's (offset, levels, branch_bits) plan as a 1-row
    sidecar on first start; on restart, verify the caller's plan
    equals the pinned one and raise naming both otherwise — leaves are
    stored in the shifted domain, so a plan change mid-store would mix
    incommensurable ids silently (VERDICT r14 item 3; the
    qdigest_merge contract, persisted)."""
    pinned = _read_store_plan(spark, store_dir)
    if pinned is None:
        from airline_data_warehouse_spark.operators.frames import (
            jvm_local_frame,
        )
        (jvm_local_frame(
            spark,
            [(int(offset), int(levels), int(branch_bits))],
            "offset long, levels int, branch_bits int")
         .coalesce(1).write.mode("overwrite")
         .parquet(_plan_dir(store_dir)))
        return
    if pinned != (int(offset), int(levels), int(branch_bits)):
        raise ValueError(
            f"{who}: this store is pinned to plan (offset={pinned[0]}, "
            f"levels={pinned[1]}, branch_bits={pinned[2]}) but was "
            f"given (offset={int(offset)}, levels={int(levels)}, "
            f"branch_bits={int(branch_bits)}) — leaves under different "
            "plans are incommensurable; reuse the pinned plan or "
            "rebuild the store")


def _read_store_plan(spark: SparkSession,
                     store_dir: str) -> tuple[int, int, int] | None:
    """The pinned (offset, levels, branch_bits) sidecar, or None for a
    store without one (pre-r15 stores stay caller-trusted)."""
    from airline_data_warehouse_spark.sources.atomic import _fs

    hpath, fs = _fs(spark, _plan_dir(store_dir))
    if not fs.exists(hpath(_plan_dir(store_dir))):
        return None
    row = (spark.read.schema("offset long, levels int, branch_bits int")
           .parquet(_plan_dir(store_dir)).collect())
    if not row:
        return None
    return (int(row[0]["offset"]), int(row[0]["levels"]),
            int(row[0]["branch_bits"]))


def read_qdigest_leaves(spark: SparkSession, store_dir: str) -> DataFrame:
    """The accumulated LEAF-COUNT state (id, cnt): base + the batch
    partitions above the watermark, summed per value
    (_read_linear_state — leaf counts are linear like CMS cells, so
    the fold and replay reasoning transfers verbatim).

    The store keeps LEAF COUNTS, not compressed digests, on purpose:
    a compressed q-digest depends on the batch split (compression
    states differ), but leaf counts are a pure function of the row
    multiset — so the store stays bit-certifiable against a batch
    oracle AND any read can compress at whatever k it wants. Rows are
    bounded by the value DOMAIN (≤ 2^(branch_bits·levels)), not the
    stream length."""
    return _read_linear_state(spark, store_dir, "id long, cnt long",
                              ["id"], "cnt")

def fold_qdigest_store(spark: SparkSession, store_dir: str) -> int:
    """Fold batch partitions above the watermark into the base
    (_fold_linear_state — the Count-Min fold's reasoning verbatim).
    Returns the new watermark (-1 if nothing to fold)."""
    return _fold_linear_state(spark, store_dir, "id long, cnt long",
                              ["id"], "cnt")

def start_qdigest_ingest(stream: DataFrame, store_dir: str,
                         checkpoint_dir: str | None = None,
                         value_col: str = "v",
                         fold_every: int | None = 8,
                         offset: int = 0,
                         levels: int | None = None):
    """foreachBatch loop: per-batch leaf counts of an integer value
    stream into their own ``batch_id=N`` partition, folded into the
    watermarked base every ``fold_every`` batches — the quantile
    member of the streaming sketch-store family (CMS folds / Bloom
    appends). Any reader compresses the accumulated leaves at read
    time (operators/sketches._qd_compress via qdigest_store_quantiles)
    — so the stream maintains ONE linear state serving every k.

    Each batch enforces qdigest_build's universe guard BEFORE its
    partition is written (an out-of-domain value fails the streaming
    query loudly, never poisons the store): arithmetic shiftright
    keeps negative ids negative and oversized ids fold past the root,
    so a silently-stored bad leaf would mean silently wrong quantiles
    — the exact contract break the batch path raises on.

    ``offset``/``levels``: the general-universe plan (the batch side's
    qdigest_build_auto counterpart — VERDICT r13 item 1). A stream's
    plan must be FIXED at start (leaves are stored in the shifted
    domain; a mid-stream plan change would mix incommensurable ids):
    pick it up front from the known value domain via
    sketches.qdigest_plan and pass the SAME pair to every
    qdigest_store_quantiles read of this store. Defaults reproduce
    the original [0, 2^20) universe. The plan is PERSISTED as a 1-row
    ``{store_dir}/plan`` sidecar at stream start (VERDICT r14 item 3):
    a restart under a different plan raises here instead of appending
    incommensurable leaves, and reads verify against the sidecar
    instead of trusting their caller."""
    from airline_data_warehouse_spark.operators.sketches import (
        QD_BRANCH_BITS,
        QD_LEVELS,
    )

    lv = QD_LEVELS if levels is None else int(levels)
    cap = 1 << (QD_BRANCH_BITS * lv)
    off = int(offset)
    _pin_store_plan(stream.sparkSession, store_dir, off, lv,
                    QD_BRANCH_BITS, "start_qdigest_ingest")

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # persist: the guard probe and the partition write would
        # otherwise each re-run the full batch aggregation (2× the
        # scan+shuffle per micro-batch on the hot path); the leaf frame
        # derives only from this batch's rows — no mutated-file plan
        # for the CacheManager to substitute against
        leaves = _persist(
            batch_df.select((F.col(value_col).cast("long") - F.lit(off))
                            .alias("id"))
                    .filter(F.col("id").isNotNull())
                    .groupBy("id")
                    .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
        bad = leaves.filter((F.col("id") < 0)
                            | (F.col("id") >= cap)) \
                    .limit(1).collect()
        if bad:
            raise ValueError(
                f"start_qdigest_ingest: shifted value "
                f"{bad[0]['id']} (offset {off}) outside the "
                f"universe [0, {cap}) in batch {int(batch_id)} — "
                "rescale/offset values upstream or plan "
                "offset/levels from the domain (the batch "
                "builder's guard, per micro-batch)")
        (leaves.coalesce(1).write.mode("overwrite")
         .parquet(f"{_batches_dir(store_dir)}"
                  f"/batch_id={int(batch_id)}"))
        if fold_every and batch_id > 0 and batch_id % fold_every == 0:
            fold_qdigest_store(spark, store_dir)

    return start_foreach_batch(stream, ingest_batch, checkpoint_dir)


def qdigest_store_quantiles(spark: SparkSession, store_dir: str,
                            pcts: tuple[int, ...] = (25, 50, 75, 90, 99),
                            k: int | None = None,
                            offset: int = 0,
                            levels: int | None = None) -> DataFrame:
    """Quantile estimates off the accumulated store: compress the leaf
    state with the standard tree parameters (at read-time ``k``), then
    the canonical rank read — (pct, rnk, est_value). Because the leaf
    state ≡ the batch leaf counts of all streamed rows, this result is
    BIT-IDENTICAL to qdigest_build + qdigest_quantiles over the same
    rows, whatever the batch split or fold timing was (the property
    the stream_quantile_read certificate pins).

    The read re-validates the universe guard over the (store-bounded)
    leaf state before compressing — defense in depth behind the
    per-batch ingest guard: a store written by older code or touched
    out-of-band raises here instead of compressing out-of-domain ids
    into silently wrong quantiles.

    ``offset``/``levels``: MUST match the ingest's plan (the store
    keeps shifted leaves). The ingest pins its plan in a
    ``{store_dir}/plan`` sidecar, and this read VERIFIES the caller's
    pair against it — a mismatch raises naming both instead of
    shifting estimates into the wrong domain (VERDICT r14 item 3; a
    sidecar-less pre-r15 store stays caller-trusted, the old
    contract). Estimates shift back to the raw domain by ``offset``."""
    from airline_data_warehouse_spark.operators.sketches import (
        QD_BRANCH_BITS,
        QD_K,
        QD_LEVELS,
        _qd_compress,
        qdigest_quantiles,
    )

    kk = QD_K if k is None else k
    lv = QD_LEVELS if levels is None else int(levels)
    pinned = _read_store_plan(spark, store_dir)
    if pinned is not None and pinned != (int(offset), lv, QD_BRANCH_BITS):
        raise ValueError(
            f"qdigest_store_quantiles: read with (offset={int(offset)}, "
            f"levels={lv}, branch_bits={QD_BRANCH_BITS}) contradicts "
            f"the store's pinned plan (offset={pinned[0]}, "
            f"levels={pinned[1]}, branch_bits={pinned[2]}) — estimates "
            "would land in the wrong value domain; pass the pinned "
            "plan")
    cap = 1 << (QD_BRANCH_BITS * lv)
    leaves = (read_qdigest_leaves(spark, store_dir)
              .withColumn("lvl", F.lit(0).cast("int")))
    head = leaves.agg(F.sum("cnt").alias("n"), F.min("id").alias("lo"),
                      F.max("id").alias("hi")).collect()[0]
    if not head["n"]:
        return spark.createDataFrame(
            [], "pct int, rnk long, est_value long")
    if head["lo"] < 0 or head["hi"] >= cap:
        raise ValueError(
            f"qdigest_store_quantiles: store leaves span "
            f"[{head['lo']}, {head['hi']}] outside the universe "
            f"[0, {cap}) — the store was written outside the ingest "
            "guard; rebuild it")
    n = int(head["n"])
    dig = _qd_compress(leaves, max(1, n // kk), lv, QD_BRANCH_BITS)
    return qdigest_quantiles(dig, n, pcts, offset=int(offset))
