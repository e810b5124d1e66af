"""Streaming exact deduplication: drop already-seen document payloads at
INGEST time, across micro-batches, with state bounded by a watermark —
the streaming twin of ``operators.dedup.exact_dedup`` and the first
stage a continuously-fed training corpus runs before anything else
touches the data.

Built on ``dropDuplicatesWithinWatermark`` (content hash as the dedup
key): two payloads whose arrival times fall within the watermark delay
of each other dedup exactly, and state for hashes older than the
watermark is evicted — so state size is O(ingest rate × delay), not
O(corpus). That trade is the only scalable one for an unbounded stream;
re-deduplicating against the historical corpus is the batch
``incremental_minhash_pairs`` / ``exact_dedup`` job's role (run them
downstream on the silver table — same hash column, so the work
composes).

Batch parity: ``dedup_batch_exact`` is the same keep-first-by-hash
semantics expressed declaratively, used by the equivalence test to
replay a stream's input and assert the streaming path kept an identical
payload set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airline_data_warehouse_spark.operators.dedup import _persist
from airline_data_warehouse_spark.sources.atomic import (
    _fs,
    _publish,
    _read,
    _write_version,
    manifest,
    read_table,
)
from airline_data_warehouse_spark.streaming import start_foreach_batch


def with_content_hash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """md5 payload hash — the dedup key. One narrow column so the
    streaming state stores 32 bytes per kept doc, never the payload."""
    return df.withColumn("text_hash", F.md5(F.col(text_col)))


def dedup_stream_exact(stream: DataFrame, text_col: str = "text",
                       ts_col: str = "ts",
                       watermark: str = "10 minutes") -> DataFrame:
    """Keep the first arrival of each distinct payload within the
    watermark horizon; evict state as event time advances."""
    return (with_content_hash(stream, text_col)
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["text_hash"]))


def dedup_batch_exact(df: DataFrame, text_col: str = "text",
                      ts_col: str = "ts", id_col: str = "doc_id") -> DataFrame:
    """Batch replay twin: first row per payload hash by (event time, id)
    — what the stream keeps when every duplicate arrives within the
    watermark."""
    w = Window.partitionBy("text_hash").orderBy(ts_col, id_col)
    return (with_content_hash(df, text_col)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn"))



def _newest(m: dict | None) -> int | None:
    """The newest batch a store manifest's units hold (None: no store
    yet)."""
    return max((hi for _, hi in m["batches"].values()), default=None) \
        if m else None


def _open_stores(spark, dirs, batch_id: int,
                 checkpoint_dir: str | None) -> dict:
    """dir -> latest manifest (None before its first commit) of every
    signature/span store one micro-batch reads or appends: one lookup
    per store, shared by the first-batch gate, `_read_store` and
    `_append_batch`. A store already holding a batch AFTER ``batch_id``
    is ahead of the query's checkpoint (a fresh or rolled-back
    checkpoint on a live store): matching against it would read the
    future and appending would hold a batch twice, so it raises."""
    out = {}
    for d in dirs:
        out[d] = manifest(spark, d)
        newest = _newest(out[d])
        if newest is not None and newest > batch_id:
            raise ValueError(
                f"store {d} already holds batch {newest}, past batch "
                f"{batch_id} of the query checkpointed at "
                f"{checkpoint_dir} — the checkpoint is behind the store; "
                "restore the checkpoint that wrote it or start the query "
                "on an empty store_dir")
    return out


def _read_store(spark, path: str, m: dict | None, empty_like: DataFrame,
                batch_id: int, retention_batches: int | None) -> DataFrame:
    """Read ONE signature store for classification, independently of
    its siblings, as of its manifest ``m`` (`_open_stores`):

    * no manifest → empty frame with ``empty_like``'s schema. Any
      subset of batch 0's store commits may land before a crash
      (`_append_batch`), so a sibling can be missing while another
      store exists; empty IS its true content.
    * a corrupt store → the read raises and the micro-batch fails;
      structured streaming retries it (test
      test_stream_neardup_corrupt_store_fails_batch pins this).
    * rows with ``batch_id >=`` the current batch are excluded: they
      can only be a crashed attempt of THIS batch (its replay skips the
      committed append), and matching a batch against its own rows
      would flag every retried doc as a duplicate of itself. It also
      makes retried verdicts byte-identical to the crashed attempt's.

    A `cascade_store_build` store's rows carry batch −1, before a
    stream's batch 0. ``retention_batches=N`` keeps the N batches
    before this one (``batch_id >= b − N``, see start_neardup_ingest);
    the compactor's horizon (`_tier_compact`) sits one below, so it
    never drops a batch a reader still matches.
    """
    if m is None:
        return empty_like.limit(0)
    df = _read(spark, path, m).filter(F.col("batch_id") < F.lit(batch_id))
    if retention_batches is not None:
        df = df.filter(F.col("batch_id") >= batch_id - retention_batches)
    return df


def _commit_store(spark, path: str, frame: DataFrame, lo: int, hi: int,
                  base: dict | None, drop=(),
                  through: int | None = None) -> None:
    """Commit ``frame`` as the one unit holding batches ``lo..hi`` of
    the store at ``path`` — a manifest commit (sources/atomic.py) whose
    units are ``base``'s minus ``drop`` plus the new one. Its meta maps
    every live unit to its batch range and carries
    ``compacted_through``, the tier watermark (default: ``base``'s, −1
    for a new store)."""
    version, units = _write_version(spark, path, frame)
    base = base or {"batches": {}, "compacted_through": -1}
    batches = {u: r for u, r in base["batches"].items() if u not in drop}
    batches.update(dict.fromkeys(units, [lo, hi]))
    schema = (T.StructType.fromJson(base["schema"]) if "schema" in base
              else frame.schema)
    _publish(spark, path, version, list(batches), schema,
             {"batches": batches, "compacted_through": base[
                 "compacted_through"] if through is None else through})


def _tier_compact(spark, path: str, batch_id: int,
                  retention_batches: int | None = None,
                  retain: bool = True,
                  max_tiers: int | None = 8) -> None:
    """TIERED compaction of one streaming signature/span store: the
    units appended since the last compaction (``lo >
    compacted_through``) merge into one new tier unit, in ONE commit
    that also drops them — existing tiers are never re-read or
    rewritten, so bytes rewritten per compaction are proportional to
    the ACTIVE tier, not the accumulated store. A crash before the
    manifest leaves an orphan ``commit=N`` directory no reader sees;
    the next commit's expire collects it, and consumed units go once
    no retained version names them (sources/atomic.py).

    ``retain=False`` (the spans OUTPUT): no retention — the horizon
    applies to STATE, findings stand. With ``retain=True`` and a
    horizon, rows below it drop from the new tier and the same commit
    drops every unit wholly below it (a `cascade_store_build` unit,
    batch −1, included); a tier straddling the horizon stays until it
    falls entirely below (reads filter rows, so overhang is storage,
    never wrong answers).

    ``max_tiers`` bounds TIER-COUNT growth (one new tier per
    compact_every batches would otherwise grow the read-side listing
    linearly in stream lifetime): above the bound, the adjacent tier
    pair with the smallest combined bytes folds into one, in one more
    commit — the size-tiered LSM trade, amortized O(N log N) total
    write volume, one bounded merge per call. None disables folding."""
    m = manifest(spark, path)
    if m is None:
        return
    # batch b reads batches >= b - N (`_read_store`), a retry of this
    # batch included, so only batches below b - N may go
    horizon = (batch_id - retention_batches - 1
               if retain and retention_batches is not None else None)
    n_files = max(1, spark.sparkContext.defaultParallelism // 4)

    def merged(units):
        df = _read(spark, path, {**m, "units": units})
        if horizon is not None:
            df = df.filter(F.col("batch_id") > horizon)
        return df.coalesce(n_files)

    active = sorted((lo, hi, u) for u, (lo, hi) in m["batches"].items()
                    if lo > m["compacted_through"])
    if active:
        gone = [u for u, (_, hi) in m["batches"].items()
                if horizon is not None and hi <= horizon]
        lo, hi = active[0][0], max(t[1] for t in active)
        units = [u for _, _, u in active]
        _commit_store(spark, path, merged(units), lo, hi, m,
                      drop=units + gone, through=hi)
        m = manifest(spark, path)
    # SIZE-TIERED FOLD: when the tier count exceeds max_tiers, merge
    # the ADJACENT pair with the smallest combined bytes — one merge
    # per call, so each call's extra I/O is bounded by the smallest
    # pair while repeated folds give the geometric tier-size ladder (a
    # full fold-to-one would be the O(N²) rewrite tiering replaced)
    tiers = sorted((lo, hi, u) for u, (lo, hi) in m["batches"].items())
    if max_tiers is not None and len(tiers) > max_tiers:
        hpath, fs = _fs(spark, path)
        sizes = [fs.getContentSummary(hpath(f"{path}/{u}")).getLength()
                 for _, _, u in tiers]
        j = min(range(len(tiers) - 1),
                key=lambda i: sizes[i] + sizes[i + 1])
        (alo, _, a), (_, bhi, b) = tiers[j], tiers[j + 1]
        _commit_store(spark, path, merged([a, b]), alo, bhi, m,
                      drop=[a, b])


def _append_batch(spark, batch_id: int, stores: dict, writes,
                  compact_every: int | None,
                  retention_batches: int | None = None) -> None:
    """Append one micro-batch's frames, then run the tiered compaction
    every ``compact_every`` batches — the per-batch store step every
    ingest shares. ``stores`` maps each store dir to the manifest
    `_open_stores` resolved. ``writes`` holds
    ``(frame, dir, n_files, retain)``:
    each frame gains the ``batch_id`` column and is coalesced to
    ``n_files`` (None: as computed). ``retain`` None appends flat into
    ``dir`` (output logs such as pairs and verdicts, never compacted);
    True/False commits the frame as one unit of the managed store
    ``dir`` (`_commit_store`) and compacts that store with / without the
    retention horizon (`_tier_compact`'s ``retain``).

    Idempotent per batch: a store whose newest committed batch is
    already this one is skipped — the replay of an attempt that
    committed it and then failed on a sibling. foreachBatch replays the
    same input and every store frame derives from it deterministically,
    so the skip is exact.

    The appends run CONCURRENTLY (VERDICT r09 item 5): each is a tiny
    job whose cost is scheduling, not data — run one after another they
    were ~60% of the measured ~5 s/batch cascade floor; submitted
    together the wall-clock is max(job), not sum. Ordering is
    correctness-free by construction: appends commute with each other,
    and every frame that reads a store does so through `_read_store`'s
    ``batch_id < current`` filter on the manifest resolved before any
    append lands. The first failure fails the micro-batch. Each pool
    thread takes a copy of the caller's Spark local properties (job
    group, description, SQL execution), so the appends are cancelled
    and attributed with the stream's own batch."""
    from concurrent.futures import ThreadPoolExecutor

    bid = int(batch_id)
    sc = spark.sparkContext
    props = sc._jsc.sc().getLocalProperties()

    def append(frame: DataFrame, path: str, n_files: int | None,
               retain: bool | None) -> None:
        sc._jsc.sc().setLocalProperties(props.clone())
        if retain is not None and _newest(stores[path]) == bid:
            return
        frame = frame.withColumn("batch_id", F.lit(batch_id))
        if n_files:
            frame = frame.coalesce(n_files)
        if retain is None:
            frame.write.mode("append").parquet(path)
        else:
            _commit_store(spark, path, frame, bid, bid, stores[path])

    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futs = [pool.submit(append, *w) for w in writes]
        for fut in futs:
            fut.result()   # propagate the first failure
    if compact_every and bid > 0 and bid % compact_every == 0:
        for _, d, _, retain in writes:
            if retain is not None:
                _tier_compact(spark, d, bid, retention_batches, retain)


def start_neardup_ingest(stream: DataFrame, store_dir: str,
                         text_col: str = "text", id_col: str = "doc_id",
                         checkpoint_dir: str | None = None,
                         threshold: float = 0.6,
                         retention_batches: int | None = None,
                         compact_every: int | None = 16):
    """Continuous near-duplicate ingest: every micro-batch is MinHash-
    banded and joined against the ACCUMULATED corpus band store, flagged
    near-dups are appended to ``{store_dir}/pairs``, and the batch's own
    bands are appended to ``{store_dir}/bands`` — the
    ``incremental_minhash_pairs`` daily-ingest shape run continuously
    via foreachBatch.

    The store is the persisted signature state the batch operators
    describe (minhash_band_table docstring): ``bands`` (LSH_BANDS rows ×
    ~50 bytes per document) for candidate generation and ``shingles``
    (the 31-bit hash sets) for the exact-Jaccard verify — both orders of
    magnitude smaller than text, plain parquet that a 100 TB deployment
    swaps for a Delta/Iceberg table (append semantics are identical).
    The join is band-keyed — per-batch cost scales with |batch| ×
    collision rate, never corpus² — and only band-collision candidates
    ever touch the shingle sets.

    Exactly-once note: foreachBatch gives at-least-once sinks on
    retry. The bands/shingles stores are managed tables whose
    manifests record each unit's batch range, so a replayed batch
    skips a store it already committed (`_append_batch`) and no store
    holds a retry duplicate; ``pairs`` is a plain append log, so its
    retry duplicates are deduped on read. Batch-side
    near-dups WITHIN one micro-batch are reported by the batch
    ``ngram_jaccard_pairs`` over the silver table, matching the batch
    operator's contract.

    State story (r07, measured in SCALING.md "Streaming near-dup
    state"): every store row carries its ``batch_id``, and two knobs
    bound the two growth axes —

    * ``retention_batches``: only bands/shingles from the last N
      batches are matched against AND retained at compaction. This is
      the same trade ``dedup_stream_exact``'s watermark makes: state
      becomes O(rate × horizon) instead of O(corpus), and near-dups
      are only detected against the horizon. ``None`` (default) keeps
      the full corpus — the store is signatures, orders of magnitude
      smaller than text, so full-corpus state is usually the RIGHT
      trade; the real per-batch latency driver is file count, which
      compaction bounds independently.
    * ``compact_every``: every N batches the bands/shingles appends
      since the LAST compaction consolidate into a new tier in one
      commit (`_tier_compact` — existing tiers are never rewritten, so
      compaction I/O ∝ the active tier). Without it, one parquet file
      per partition
      per batch makes the corpus-side read cost grow linearly in
      BATCH COUNT even when state bytes are flat.
    """
    import os

    from airline_data_warehouse_spark.operators.dedup import (
        _band_candidates,
        _verified_jaccard_pairs,
        minhash_band_table,
        shingled,
    )

    bands_dir = os.path.join(store_dir, "bands")
    shingles_dir = os.path.join(store_dir, "shingles")
    pairs_dir = os.path.join(store_dir, "pairs")

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sh = _persist(shingled(batch_df, text_col, id_col))
        new_bands = _persist(minhash_band_table(sh, id_col))
        # coalesce the appends: a micro-batch's signatures are small,
        # and writing one file per shuffle partition per batch is
        # where baseline file-count growth (and with it corpus-read
        # latency) came from in the 50-batch probe. The coalesce
        # reads the PERSISTED frames, so the corpus join keeps its
        # full parallelism.
        writes = [(new_bands, bands_dir, 4, True),
                  (sh, shingles_dir, 4, True)]
        stores = _open_stores(spark, [bands_dir, shingles_dir], batch_id,
                              checkpoint_dir)
        # batch 0 (no store at all) skips the corpus join; each store
        # is then read on its own, so a sibling a crash left missing
        # reads as empty (_read_store)
        if stores[bands_dir] is not None:
            # a re-sent id never pairs with its own earlier copy
            cand = (_band_candidates(
                new_bands, _read_store(spark, bands_dir, stores[bands_dir],
                                       new_bands, batch_id,
                                       retention_batches), id_col)
                    .filter(F.col("inc_id") != F.col("corpus_id")))
            corpus_sh = _read_store(spark, shingles_dir,
                                    stores[shingles_dir], sh, batch_id,
                                    retention_batches)
            writes.append((_verified_jaccard_pairs(
                cand, sh, corpus_sh, "inc_id", "corpus_id", id_col,
                threshold), pairs_dir, None, None))
        _append_batch(spark, batch_id, stores, writes, compact_every,
                      retention_batches)

    return start_foreach_batch(stream, ingest_batch, checkpoint_dir)


def start_semantic_ingest(stream: DataFrame, store_dir: str,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          checkpoint_dir: str | None = None,
                          threshold: float = 0.99,
                          retention_batches: int | None = None,
                          compact_every: int | None = 16):
    """Continuous SEMANTIC near-duplicate ingest — the embedding twin of
    `start_neardup_ingest`: every micro-batch of (id, vector) rows is
    hyperplane-banded (4 bands × 8 Gaussian sign bits, the
    embedding_near_dup_pairs family) and joined against the ACCUMULATED
    corpus band store; band-collision candidates are verified with
    exact cosine against the accumulated vector store, pairs at/above
    ``threshold`` are appended to ``{store_dir}/pairs``, and the
    batch's own bands/vectors are appended — closing the tier the text
    stream variant lacks (the streaming counterpart of
    operators/dedup.incremental_cascade's tier 3; the store layout is
    cascade_store_build's emb_bands/vectors, so a nightly batch build
    and a continuous ingest can share state).

    Same 100 TB contract as the text twin: per-batch cost ∝ |batch| ×
    band collision rate, never corpus²; non-finite / zero-norm vectors
    are excluded at entry (similarity._finite_ok — one NaN shard must
    not poison every later batch's verify); vector frames are hinted
    shuffle_hash (corpus-proportional array payloads never reach a
    broadcast build); the corpus store appears only through band-keyed
    or id-keyed joins. ``retention_batches`` / ``compact_every`` bound
    the state and file-count growth axes exactly as documented on
    `start_neardup_ingest`, via the same tiered compaction
    (`_tier_compact`); a corrupt store READ fails the micro-batch
    (structured streaming retries) rather than being mistaken for the
    first batch.
    """
    import os

    from airline_data_warehouse_spark.operators.dedup import (
        _band_candidates,
        _vector_frames,
        _verified_cosine_pairs,
    )

    bands_dir = os.path.join(store_dir, "emb_bands")
    vectors_dir = os.path.join(store_dir, "vectors")
    pairs_dir = os.path.join(store_dir, "pairs")

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new_vecs, new_bands = map(
            _persist, _vector_frames(batch_df, id_col, vec_col))
        writes = [(new_bands, bands_dir, 4, True),
                  (new_vecs, vectors_dir, 4, True)]
        stores = _open_stores(spark, [bands_dir, vectors_dir], batch_id,
                              checkpoint_dir)
        # the bands manifest gates batch 0 only; a vectors store a
        # crash left missing reads as empty (_read_store)
        if stores[bands_dir] is not None:
            # a re-sent id never pairs with its own earlier copy
            cand = (_band_candidates(
                new_bands, _read_store(spark, bands_dir, stores[bands_dir],
                                       new_bands, batch_id,
                                       retention_batches), id_col)
                    .filter(F.col("inc_id") != F.col("corpus_id")))
            corpus_vecs = _read_store(spark, vectors_dir,
                                      stores[vectors_dir], new_vecs,
                                      batch_id, retention_batches)
            writes.append((_verified_cosine_pairs(
                cand, new_vecs, corpus_vecs, id_col, threshold),
                pairs_dir, None, None))
        _append_batch(spark, batch_id, stores, writes, compact_every,
                      retention_batches)

    return start_foreach_batch(stream, ingest_batch, checkpoint_dir)


def start_cascade_ingest(stream: DataFrame, store_dir: str,
                         text_col: str = "text", id_col: str = "doc_id",
                         vec_col: str = "embedding",
                         checkpoint_dir: str | None = None,
                         threshold: float = 0.6,
                         cos_threshold: float = 0.99,
                         retention_batches: int | None = None,
                         compact_every: int | None = 16):
    """The full three-tier cascade, CONTINUOUSLY: every micro-batch of
    (id, text, embedding) rows is classified against the accumulated
    corpus state — exact (md5 hash store) → lexical near-dup (MinHash
    band + shingle stores) → semantic (hyperplane band + vector stores)
    — and per-doc verdicts land in ``{store_dir}/verdicts`` while the
    batch's own signatures append to the same five stores
    `cascade_store_build` writes, so a nightly batch build, a daily
    `incremental_cascade` run, and this stream can hand the SAME state
    to each other. Classification is `operators.dedup.cascade_classify`
    — the identical frame-level core the certified batch key runs, so
    stream-vs-batch parity is structural, not reimplemented.

    First batch (no store yet): every doc is ``kept`` — the corpus is
    empty; within-batch duplicates are NOT classified against each
    other (the text/semantic twins' contract: run the batch operators
    over the silver table for intra-batch pairs). The ``hashes`` store
    appends one (text_md5, keeper=min id) row per batch per hash;
    `cascade_classify` takes the min over matching rows, so replayed
    or cross-batch keepers resolve deterministically.

    Scale/state posture identical to `start_neardup_ingest` /
    `start_semantic_ingest` (shared retention/compaction knobs, tiered
    compaction — `_tier_compact` — corrupt-read-fails-the-batch,
    shuffle_hash on every corpus-proportional side, finite-guarded
    vectors)."""
    import os

    from airline_data_warehouse_spark.operators.dedup import (
        _CASCADE_STORES,
        _cascade_frames,
        cascade_classify,
    )

    dirs = {name: os.path.join(store_dir, name)
            for name in _CASCADE_STORES + ("verdicts",)}

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = _persist(batch_df.select(id_col, text_col))
        emb = _persist(batch_df.select(F.col(id_col).alias("vec_id"),
                                       F.col(vec_col)))
        # the batch's own signature frames — appended to the five
        # stores below, and (as .limit(0)) the schema templates
        # _read_store substitutes for a store dir a crash left missing
        frames = _cascade_frames(docs, emb, text_col, id_col, vec_col)
        stores = _open_stores(spark, [dirs[n] for n in _CASCADE_STORES],
                              batch_id, checkpoint_dir)
        # gate on the hashes store only to detect a truly fresh
        # stream; a sibling a crash left missing reads as empty
        if stores[dirs["hashes"]] is not None:
            verdicts = cascade_classify(
                docs, emb,
                *(_read_store(spark, dirs[n], stores[dirs[n]], frames[n],
                              batch_id, retention_batches)
                  for n in _CASCADE_STORES),
                threshold=threshold, cos_threshold=cos_threshold,
                text_col=text_col, id_col=id_col, vec_col=vec_col)
        else:
            verdicts = docs.select(
                id_col, F.lit("kept").alias("verdict"),
                F.lit(None).cast("long").alias("partner_id"))
        _append_batch(spark, batch_id, stores,
                      [(verdicts, dirs["verdicts"], 4, None)]
                      + [(frames[n], dirs[n], 4, True)
                         for n in _CASCADE_STORES],
                      compact_every, retention_batches)

    return start_foreach_batch(stream, ingest_batch, checkpoint_dir)


def start_exact_substring_ingest(stream: DataFrame, store_dir: str,
                                 text_col: str = "text",
                                 id_col: str = "doc_id",
                                 checkpoint_dir: str | None = None,
                                 k: int = 8, min_tokens: int = 25,
                                 max_df: int = 16, max_occ: int = 256,
                                 retention_batches: int | None = None,
                                 compact_every: int | None = 16):
    """Continuous cross-document exact-substring detection — the
    STREAMING tier of the ExactSubstr family (batch =
    operators.dedup.exact_substring_spans, micro-batch =
    exact_substring_spans_incremental; this completes the
    batch/incremental/streaming cascade the MinHash family has).
    Every micro-batch's k-token window hashes join the ACCUMULATED
    window index; merged cross-document spans land in
    ``{store_dir}/spans``, the batch's windows and its per-hash
    distinct-doc counts append to ``{store_dir}/windows`` /
    ``{store_dir}/hashstats``.

    Three deliberate contracts, each mirrored from a sibling:

    * UNVERIFIED spans (unlike the batch tier): the window index
      stores hashes, never text, so the byte-equal verify-join is the
      downstream batch job's role (run exact_substring_spans over the
      flagged pairs' silver rows). The run merge itself is the
      amplifier — a ≥ min_tokens span is min_tokens − k + 1
      CONSECUTIVE 60-bit collisions, so a false span's odds are
      (2^-60)^(run), far below the single-hash tail.
    * EMIT-TIME boilerplate filter: the df count a window is judged by
      is the accumulated count as of this batch (hashstats is a
      LINEAR state — per-batch distinct-doc counts sum to the global
      count while doc ids are unique across batches, the CMS-cell
      convention). A window that becomes boilerplate later stops
      MATCHING from then on; spans it emitted earlier stand. The batch
      tier judges by final corpus df — the two agree exactly whenever
      no window's df crosses max_df mid-stream (the certificate
      fixture's case, and the common one: boilerplate is boilerplate
      early). A crossing by a hash that could already have matched
      (prior df >= 2) now raises a runtime ``warnings.warn`` naming
      the batch, so the divergence from a final-corpus batch run is
      observable instead of a silent prose assumption (ADVICE r14).
    * cross-BATCH pairs only, strictly-earlier matching: the corpus
      side is filtered to batch_id < current, so an at-least-once
      replay recomputes exactly the original batch's pairs (no
      self-batch matches through the replay's own appended windows);
      same-batch pairs are the batch operator's job over the silver
      table (the start_neardup_ingest contract).

    State story: the window index is O(corpus tokens) — ~24 bytes per
    token, the same order as the suffix array the reference method
    builds, and the honest price of exact spans (signatures cannot
    answer substring questions). ``retention_batches`` bounds it to a
    horizon (the dedup_stream_exact watermark trade);
    ``compact_every`` bounds file count via TIERED compaction
    (`_tier_compact`): each compaction consolidates only the units
    appended since the last one into a new tier — bytes rewritten per
    compaction ∝ the active tier, never the accumulated store. A
    replayed batch skips every store it already committed
    (`_append_batch`), so no store holds a retry duplicate."""
    import os

    from airline_data_warehouse_spark.operators.dedup import (
        _merged_spans,
        _token_window_hashes,
    )

    windows_dir = os.path.join(store_dir, "windows")
    stats_dir = os.path.join(store_dir, "hashstats")
    spans_dir = os.path.join(store_dir, "spans")

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bw = _persist(_token_window_hashes(batch_df, text_col, id_col, k))
        bstats = _persist(
            bw.groupBy("wh")
              .agg(F.count_distinct(F.col(id_col)).alias("n_docs"),
                   F.count(F.lit(1)).alias("n_occ")))
        stores = _open_stores(spark, [windows_dir, stats_dir, spans_dir],
                              batch_id, checkpoint_dir)
        prior = (_read_store(spark, stats_dir, stores[stats_dir], bstats,
                             batch_id, retention_batches)
                 .drop("batch_id")
                 .groupBy("wh").agg(F.sum("n_docs").alias("_pd"),
                                    F.sum("n_occ").alias("_po")))
        total = _persist(
            bstats.select("wh", F.col("n_docs").alias("_nd"),
                          F.col("n_occ").alias("_no"))
                  .join(prior, "wh", "full")
                  .select("wh", "_nd", "_pd",
                          (F.coalesce("_nd", F.lit(0))
                           + F.coalesce("_pd", F.lit(0))).alias("_df"),
                          (F.coalesce("_no", F.lit(0))
                           + F.coalesce("_po", F.lit(0))).alias("_occ")))
        # one scalar pass serves BOTH stream-health checks
        # (ADVICE r14, both lows on this function):
        # * worst: the batch tier's max_occ contract, streamed —
        #   but scoped to hashes THIS batch touches (_nd non-null);
        #   an accumulated high-occ hash the batch never joins
        #   cannot blow up the batch's pair join, and under a
        #   retention horizon a boilerplate hash re-entering the
        #   good set used to wedge every subsequent batch with
        #   remediation advice no upstream filter could satisfy.
        # * crossed: hashes whose ACCUMULATED df crossed max_df at
        #   this batch after previously sitting at >= 2 docs (i.e.
        #   they could already have matched) — exactly the case
        #   where the emit-time filter diverges from a final-corpus
        #   batch oracle (spans emitted before the crossing stand;
        #   the batch tier would have excluded them). Loud warning,
        #   not an error: the contract documents the divergence,
        #   the signal makes it observable instead of silent.
        head = total.agg(
            F.max(F.when((F.col("_df") <= max_df)
                         & F.col("_nd").isNotNull(), F.col("_occ")))
             .alias("worst"),
            F.count(F.when((F.col("_df") > max_df)
                           & (F.col("_pd") >= 2)
                           & (F.col("_pd") <= max_df), F.lit(1)))
             .alias("crossed")).collect()[0]
        if head["crossed"]:
            import warnings
            warnings.warn(
                f"start_exact_substring_ingest: {head['crossed']} "
                f"window hash(es) crossed max_df={max_df} at batch "
                f"{int(batch_id)} after previously matching — "
                "spans they emitted in earlier batches stand, but "
                "a final-corpus batch run (the oracle shape) would "
                "exclude them; reconcile via the downstream batch "
                "verify job if exact batch parity matters",
                stacklevel=2)
        if head["worst"] is not None and head["worst"] > max_occ:
            raise ValueError(
                f"start_exact_substring_ingest: a window hash in "
                f"batch {int(batch_id)} has {head['worst']} "
                f"accumulated occurrences (> max_occ={max_occ}) — "
                "the pair join fans out quadratically in a hash's "
                "occurrence count. Intra-document repetition: run "
                "the repetition filter upstream; legitimate "
                "accumulation across <= max_df documents: raise "
                "max_occ deliberately")
        good = total.filter(F.col("_df") <= max_df)
        cw = (_read_store(spark, windows_dir, stores[windows_dir], bw,
                          batch_id, retention_batches)
              .drop("batch_id"))
        a = (cw.join(good.select("wh"), "wh", "left_semi")
             .select("wh", F.col(id_col).alias("corpus_id"),
                     F.col("pos").alias("pa")))
        b = (bw.join(good.select("wh"), "wh", "left_semi")
             .select("wh", F.col(id_col).alias("inc_id"),
                     F.col("pos").alias("pb")))
        spans = _merged_spans(
            a.join(b, "wh")
            .filter(F.col("corpus_id") != F.col("inc_id")),
            k, min_tokens, "corpus_id", "inc_id",
            "start_corpus", "start_inc")
        # spans are findings, compacted without the state horizon
        _append_batch(spark, batch_id, stores,
                      [(bw, windows_dir, 4, True),
                       (bstats, stats_dir, 1, True),
                       (spans, spans_dir, 4, False)],
                      compact_every, retention_batches)

    return start_foreach_batch(stream, ingest_batch, checkpoint_dir)


def read_exact_substring_spans(spark, store_dir: str) -> DataFrame:
    """The accumulated streaming span findings, ORDER-NORMALIZED:
    which side was 'corpus' vs 'increment' depends on arrival order,
    so rows re-orient to (doc_a = lesser id, doc_b = greater, starts
    mapped to match) — the batch operator's canonical orientation,
    which is what makes the unordered pair set arrival-order-invariant
    (every cross-batch pair is found exactly once, by whichever side
    arrived later). DISTINCT, over the rows without their
    ``batch_id``, merges a span found again from a document re-sent in
    a later batch."""
    import os

    raw = (read_table(spark, os.path.join(store_dir, "spans"))
           .select("corpus_id", "inc_id", "start_corpus", "start_inc",
                   "span_tokens")
           .distinct())
    flip = F.col("corpus_id") > F.col("inc_id")
    return raw.select(
        F.when(flip, F.col("inc_id")).otherwise(F.col("corpus_id"))
         .alias("doc_a"),
        F.when(flip, F.col("corpus_id")).otherwise(F.col("inc_id"))
         .alias("doc_b"),
        F.when(flip, F.col("start_inc")).otherwise(F.col("start_corpus"))
         .alias("start_a"),
        F.when(flip, F.col("start_corpus")).otherwise(F.col("start_inc"))
         .alias("start_b"),
        "span_tokens")


def verify_spans_against_silver(spans: DataFrame, docs: DataFrame,
                                text_col: str = "text",
                                id_col: str = "doc_id") -> DataFrame:
    """The downstream batch VERIFY job the streaming tier's contract
    names (start_exact_substring_ingest: "the byte-equal verify-join
    is the downstream batch job's role" — the window index stores
    hashes, never text, so streamed spans are unverified by design):
    re-extract each span's text from BOTH documents in the silver
    corpus and keep only byte-equal spans — the batch tier's exact
    verify (operators.dedup._merged_verified_spans' filter), applied
    to already-merged runs. A window-hash collision can at worst have
    DROPPED a span upstream, never invented one that survives this;
    composing stream spans with this verify therefore reproduces the
    batch operator's answer exactly on cross-batch pairs (certified:
    the stream_exact_substring_verified registry key's oracle IS the
    batch chain with its verify kept).

    Scale shape: the silver corpus is SEMI-JOINED down to the
    documents that actually hold a candidate span before any
    tokenization (review r15 finding 4 — the join alone prunes output
    rows, not the corpus-wide split work), then tokenized ONCE and
    aliased for both sides — per-run cost is span-proportional, never
    docs × docs and never a full-corpus tokenize."""
    from airline_data_warehouse_spark.operators.dedup import (
        _token_arrays,
    )

    touched = (spans.select(F.col("doc_a").alias(id_col))
               .unionByName(spans.select(F.col("doc_b").alias(id_col)))
               .distinct())
    affected = docs.join(touched, id_col, "left_semi")
    arr = _token_arrays(affected, text_col, id_col, id_col, "_w")
    arr_a = arr.select(F.col(id_col).alias("doc_a"),
                       F.col("_w").alias("_wa"))
    arr_b = arr.select(F.col(id_col).alias("doc_b"),
                       F.col("_w").alias("_wb"))
    return (spans.join(arr_a, "doc_a").join(arr_b, "doc_b")
            .filter(F.expr(
                "array_join(slice(_wa, int(start_a), "
                "int(span_tokens)), ' ') = "
                "array_join(slice(_wb, int(start_b), "
                "int(span_tokens)), ' ')"))
            .select("doc_a", "doc_b", "start_a", "start_b",
                    "span_tokens"))
