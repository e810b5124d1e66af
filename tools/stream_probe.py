"""Streaming near-dup ingest state probe (VERDICT r06 item 3): replay
the sf0.1 documents table as ~50 micro-batches through
start_neardup_ingest and measure, per batch, wall-clock latency and the
bands/shingles store's size (files + bytes) — once per knob
configuration, so the growth story is measured rather than asserted:

  baseline   no compaction, unbounded retention (the r06 behavior)
  compact    compact_every=10, unbounded retention (full-corpus match,
             file count bounded)
  retained   compact_every=10, retention_batches=10 (horizon match,
             state bounded — the watermark-style trade)

Usage: python tools/stream_probe.py [n_batches] [sf_dir]
Prints per-batch CSV-ish lines and one JSON summary line per config.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _avg(xs: list[float]) -> float | None:
    """Mean rounded 3 dp, None for an empty window — n_batches <= 1
    leaves the first10 slice empty and sum/len would raise
    (ADVICE r11-low)."""
    return round(sum(xs) / len(xs), 3) if xs else None


def dir_stats(spark, path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``. A managed table
    (sources/atomic.py) counts only the units its latest manifest
    names: the units a compaction consumed stay on disk while a
    retained version still names them, and are not the store's size."""
    from airline_data_warehouse_spark.sources.atomic import manifest

    files = bytes_ = 0
    for root, dirs, names in os.walk(path):
        if "_manifests" in dirs:
            dirs[:] = []
            m = manifest(spark, root)
            for u in m["units"] if m else []:
                f, b = dir_stats(spark, os.path.join(root, u))
                files, bytes_ = files + f, bytes_ + b
            continue
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                bytes_ += os.path.getsize(os.path.join(root, n))
    return files, bytes_


def run_config(spark, docs_json: list[str], label: str, workdir: str,
               compact_every: int | None,
               retention_batches: int | None) -> dict:
    from airline_data_warehouse_spark.streaming.dedup import (
        start_neardup_ingest,
    )

    in_dir = os.path.join(workdir, f"{label}_in")
    store = os.path.join(workdir, f"{label}_store")
    os.makedirs(in_dir)
    src = (spark.readStream.schema("doc_id long, text string")
           .option("maxFilesPerTrigger", 1).json(in_dir))
    q = start_neardup_ingest(
        src, store, checkpoint_dir=os.path.join(workdir, f"{label}_ckpt"),
        compact_every=compact_every, retention_batches=retention_batches)
    per_batch = []
    try:
        for i, payload in enumerate(docs_json):
            with open(os.path.join(in_dir, f"b{i:03d}.json"), "w") as f:
                f.write(payload)
            t0 = time.time()
            q.processAllAvailable()
            dt = time.time() - t0
            files, nbytes = dir_stats(spark, os.path.join(store, "bands"))
            sfiles, sbytes = dir_stats(spark, os.path.join(store, "shingles"))
            per_batch.append({"batch": i, "sec": round(dt, 3),
                              "band_files": files,
                              "state_mb": round((nbytes + sbytes) / 1e6, 2)})
            if i % 10 == 0 or i == len(docs_json) - 1:
                print(f"{label} b{i:03d}: {dt:.2f}s "
                      f"files={files + sfiles} "
                      f"state={per_batch[-1]['state_mb']}MB", flush=True)
    finally:
        q.stop()
    pairs_dir = os.path.join(store, "pairs")
    n_pairs = (spark.read.parquet(pairs_dir).count()
               if os.path.isdir(pairs_dir) else 0)
    last10 = [b["sec"] for b in per_batch[-10:]]
    first10 = [b["sec"] for b in per_batch[1:11]]
    return {"config": label, "n_batches": len(per_batch),
            "first10_avg_sec": _avg(first10),
            "last10_avg_sec": _avg(last10),
            "final_band_files": per_batch[-1]["band_files"],
            "final_state_mb": per_batch[-1]["state_mb"],
            "n_pairs": n_pairs,
            "per_batch": per_batch}


def run_ingest(spark, payloads: list[str], label: str, workdir: str,
               schema: str, starter, state_subdirs: tuple[str, ...],
               verdict_dir: str | None = None) -> dict:
    """Generic ingest-path probe (VERDICT r08 item 4): replay payloads
    as micro-batches through ``starter(src, store, ckpt)`` and record
    per-batch wall-clock + the summed size of ``state_subdirs`` —
    the same flatness/growth evidence run_config collects for the
    lexical path, for any store layout."""
    in_dir = os.path.join(workdir, f"{label}_in")
    store = os.path.join(workdir, f"{label}_store")
    os.makedirs(in_dir)
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).json(in_dir))
    q = starter(src, store, os.path.join(workdir, f"{label}_ckpt"))
    per_batch = []
    try:
        for i, payload in enumerate(payloads):
            with open(os.path.join(in_dir, f"b{i:03d}.json"), "w") as f:
                f.write(payload)
            t0 = time.time()
            q.processAllAvailable()
            dt = time.time() - t0
            files = nbytes = 0
            for sub in state_subdirs:
                fs, bs = dir_stats(spark, os.path.join(store, sub))
                files += fs
                nbytes += bs
            per_batch.append({"batch": i, "sec": round(dt, 3),
                              "state_files": files,
                              "state_mb": round(nbytes / 1e6, 2)})
            if i % 10 == 0 or i == len(payloads) - 1:
                print(f"{label} b{i:03d}: {dt:.2f}s files={files} "
                      f"state={per_batch[-1]['state_mb']}MB", flush=True)
    finally:
        q.stop()
    out_dir = os.path.join(store, verdict_dir or "pairs")
    n_out = (spark.read.parquet(out_dir).count()
             if os.path.isdir(out_dir) else 0)
    last10 = [b["sec"] for b in per_batch[-10:]]
    first10 = [b["sec"] for b in per_batch[1:11]]
    return {"config": label, "n_batches": len(per_batch),
            "first10_avg_sec": _avg(first10),
            "last10_avg_sec": _avg(last10),
            "final_state_files": per_batch[-1]["state_files"],
            "final_state_mb": per_batch[-1]["state_mb"],
            ("n_pairs" if (verdict_dir or "pairs") == "pairs"
             else "n_verdicts"): n_out,
            "per_batch": per_batch}


def run_interval_join(spark, sf_dir: str, n_batches: int,
                      workdir: str) -> dict:
    """Replay sf error/signup events time-ordered through the
    stream-stream interval join and record, per batch, wall-clock and
    the join's state-store row count (query.lastProgress). The
    watermark (2 h) + tolerance (1 h) should keep state rows plateaued
    near the per-horizon arrival volume while total processed rows
    grow linearly — measured bounded-state evidence for
    streaming/interval_join.py."""
    from pyspark.sql import functions as F

    from airline_data_warehouse_spark.plans.registry import load
    from airline_data_warehouse_spark.streaming.interval_join import (
        error_signup_stream,
    )

    events = load(spark, sf_dir, "events")
    errs = (events.filter(F.col("event_type") == "error")
            .select(F.col("event_id").alias("error_id"), "user_id",
                    F.col("ts").alias("error_ts"))
            .orderBy("error_ts").collect())
    sups = (events.filter(F.col("event_type") == "signup")
            .select(F.col("event_id").alias("signup_id"),
                    F.col("user_id").alias("s_user_id"),
                    F.col("ts").alias("signup_ts"))
            .orderBy("signup_ts").collect())
    e_dir = os.path.join(workdir, "ivj_e")
    s_dir = os.path.join(workdir, "ivj_s")
    os.makedirs(e_dir); os.makedirs(s_dir)

    def chunks(rows, n):
        per = max(1, len(rows) // n)
        return [rows[i:i + per] for i in range(0, len(rows), per)][:n]

    e_chunks, s_chunks = chunks(errs, n_batches), chunks(sups, n_batches)

    def write_chunk(path, i, rows, ts_field):
        with open(os.path.join(path, f"b{i:04d}.json"), "w") as f:
            for r in rows:
                d = r.asDict()
                d[ts_field] = str(d[ts_field])
                f.write(json.dumps(d) + "\n")

    err_src = (spark.readStream
               .schema("error_id long, user_id long, error_ts timestamp")
               .option("maxFilesPerTrigger", 1).json(e_dir))
    sup_src = (spark.readStream
               .schema("signup_id long, s_user_id long, signup_ts timestamp")
               .option("maxFilesPerTrigger", 1).json(s_dir))
    q = (error_signup_stream(err_src, sup_src)
         .writeStream.outputMode("append").format("noop")
         .option("checkpointLocation", os.path.join(workdir, "ivj_ckpt"))
         .start())
    per_batch = []
    try:
        for i in range(max(len(e_chunks), len(s_chunks))):
            if i < len(e_chunks):
                write_chunk(e_dir, i, e_chunks[i], "error_ts")
            if i < len(s_chunks):
                write_chunk(s_dir, i, s_chunks[i], "signup_ts")
            t0 = time.time()
            q.processAllAvailable()
            dt = time.time() - t0
            prog = q.lastProgress
            state_rows = (prog["stateOperators"][0]["numRowsTotal"]
                          if prog and prog.get("stateOperators") else None)
            per_batch.append({"batch": i, "sec": round(dt, 3),
                              "state_rows": state_rows})
            if i % 10 == 0 or i == n_batches - 1:
                print(f"interval_join b{i:03d}: {dt:.2f}s "
                      f"state_rows={state_rows}", flush=True)
    finally:
        q.stop()
    last10 = [b["sec"] for b in per_batch[-10:]]
    first10 = [b["sec"] for b in per_batch[1:11]]
    states = [b["state_rows"] for b in per_batch if b["state_rows"]]
    return {"config": "interval_join", "n_batches": len(per_batch),
            "first10_avg_sec": _avg(first10),
            "last10_avg_sec": _avg(last10),
            "peak_state_rows": max(states) if states else None,
            "final_state_rows": states[-1] if states else None,
            "total_errors": len(errs), "total_signups": len(sups),
            "per_batch": per_batch}


def _merge_results(new_entries: list[dict]) -> None:
    """Merge probe summaries into stream_probe_results.json by config
    label, so per-path runs refresh their own rows without clobbering
    the others'."""
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "stream_probe_results.json")
    existing = []
    if os.path.exists(path):
        with open(path) as f:
            existing = json.load(f)
    by_label = {e["config"]: e for e in existing}
    for e in new_entries:
        by_label[e["config"]] = e
    with open(path, "w") as f:
        json.dump(list(by_label.values()), f, indent=1)


def run_semantic(spark, sf_dir: str, n_batches: int, workdir: str) -> dict:
    from airline_data_warehouse_spark.plans.registry import load
    from airline_data_warehouse_spark.streaming.dedup import (
        start_semantic_ingest,
    )

    rows = load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding").collect()
    per = max(1, len(rows) // n_batches)
    payloads = ["\n".join(
        json.dumps({"vec_id": r["vec_id"],
                    "embedding": [float(x) for x in r["embedding"]]})
        for r in rows[i:i + per])
        for i in range(0, len(rows), per)][:n_batches]
    print(f"semantic: {len(payloads)} batches x ~{per} vecs", flush=True)
    return run_ingest(
        spark, payloads, "semantic_compact", workdir,
        "vec_id long, embedding array<double>",
        lambda src, store, ckpt: start_semantic_ingest(
            src, store, checkpoint_dir=ckpt, compact_every=10),
        ("emb_bands", "vectors"))


def run_cascade(spark, sf_dir: str, n_batches: int, workdir: str) -> dict:
    from pyspark.sql import functions as F

    from airline_data_warehouse_spark.plans.registry import load
    from airline_data_warehouse_spark.streaming.dedup import (
        start_cascade_ingest,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding")
    rows = docs.join(emb, "doc_id").orderBy("doc_id").collect()
    per = max(1, len(rows) // n_batches)
    payloads = ["\n".join(
        json.dumps({"doc_id": r["doc_id"], "text": r["text"],
                    "embedding": [float(x) for x in r["embedding"]]})
        for r in rows[i:i + per])
        for i in range(0, len(rows), per)][:n_batches]
    print(f"cascade: {len(payloads)} batches x ~{per} docs", flush=True)
    return run_ingest(
        spark, payloads, "cascade_compact", workdir,
        "doc_id long, text string, embedding array<double>",
        lambda src, store, ckpt: start_cascade_ingest(
            src, store, checkpoint_dir=ckpt, compact_every=10),
        ("hashes", "bands", "shingles", "emb_bands", "vectors"),
        verdict_dir="verdicts")


def run_index(spark, sf_dir: str, n_batches: int, workdir: str,
              compact_every: int | None, label: str,
              vecs_per_batch: int | None = None) -> dict:
    """IVFADC streaming index-maintenance probe (VERDICT r10 item 3):
    build the index from the first half of the sf embeddings, replay
    the second half as micro-batches through start_index_ingest, and
    record per batch wall-clock, the index's parquet file count and MB
    (codes + vectors + log), and the drift-log file count — once
    without compaction (the r10 behavior: one log file per batch
    forever, per-delta fragmentation of the touched list partitions)
    and once with compact_every=10, so the file-count growth story is
    measured rather than asserted, exactly like the cascade store's."""
    from airline_data_warehouse_spark.operators.similarity import (
        ivfpq_index_build,
    )
    from airline_data_warehouse_spark.plans.registry import load
    from airline_data_warehouse_spark.streaming.index import (
        start_index_ingest,
    )

    rows = (load(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding").orderBy("vec_id").collect())
    half = len(rows) // 2
    base = spark.createDataFrame(
        [(r["vec_id"], [float(x) for x in r["embedding"]])
         for r in rows[:half]],
        "vec_id long, embedding array<double>")
    idx = os.path.join(workdir, f"{label}_index")
    ivfpq_index_build(base, idx, n_lists=8, m=4, codes_k=16, iters=2,
                      dims=64)
    inc = rows[half:]
    if vecs_per_batch:
        # production-batch-size mode (VERDICT r11 item 5): the sf
        # increment half is only ~1k vectors, so tile it with fresh
        # vec_ids to reach vecs_per_batch × n_batches rows — the MERGE
        # keys stay unique (real appends), the vector payloads are real
        # embedding values, and the per-batch volume matches a
        # production micro-batch instead of the 20-vector floor probe.
        per = vecs_per_batch
        base_id = max(r["vec_id"] for r in rows) + 1
        need = per * n_batches
        stream = [(base_id + j,
                   [float(x) for x in inc[j % len(inc)]["embedding"]])
                  for j in range(need)]
        payloads = ["\n".join(
            json.dumps({"vec_id": vid, "embedding": emb})
            for vid, emb in stream[i * per:(i + 1) * per])
            for i in range(n_batches)]
    else:
        per = max(1, len(inc) // n_batches)
        payloads = ["\n".join(
            json.dumps({"vec_id": r["vec_id"],
                        "embedding": [float(x) for x in r["embedding"]]})
            for r in inc[i:i + per])
            for i in range(0, len(inc), per)][:n_batches]
    print(f"{label}: {len(payloads)} batches x ~{per} vecs "
          f"on a {half}-vector index", flush=True)

    in_dir = os.path.join(workdir, f"{label}_in")
    os.makedirs(in_dir)
    src = (spark.readStream.schema("vec_id long, embedding array<double>")
           .option("maxFilesPerTrigger", 1).json(in_dir))
    q = start_index_ingest(
        src, idx, checkpoint_dir=os.path.join(workdir, f"{label}_ckpt"),
        m=4, dims=64, compact_every=compact_every)
    per_batch = []
    try:
        for i, payload in enumerate(payloads):
            with open(os.path.join(in_dir, f"b{i:03d}.json"), "w") as f:
                f.write(payload)
            t0 = time.time()
            q.processAllAvailable()
            dt = time.time() - t0
            files, nbytes = dir_stats(spark, idx)
            log_files, _ = dir_stats(spark, os.path.join(idx, "append_log"))
            per_batch.append({"batch": i, "sec": round(dt, 3),
                              "index_files": files,
                              "log_files": log_files,
                              "index_mb": round(nbytes / 1e6, 2)})
            if i % 10 == 0 or i == len(payloads) - 1:
                print(f"{label} b{i:03d}: {dt:.2f}s files={files} "
                      f"log={log_files} "
                      f"mb={per_batch[-1]['index_mb']}", flush=True)
    finally:
        q.stop()
    from airline_data_warehouse_spark.streaming.index import append_log
    log = append_log(spark, idx)
    n_logged = log.count()
    last10 = [b["sec"] for b in per_batch[-10:]]
    first10 = [b["sec"] for b in per_batch[1:11]]
    return {"config": label, "n_batches": len(per_batch),
            "first10_avg_sec": _avg(first10),
            "last10_avg_sec": _avg(last10),
            "final_index_files": per_batch[-1]["index_files"],
            "final_log_files": per_batch[-1]["log_files"],
            "final_index_mb": per_batch[-1]["index_mb"],
            "n_log_rows": n_logged,
            "per_batch": per_batch}


def main() -> int:
    interval_only = "--interval" in sys.argv
    semantic_only = "--semantic" in sys.argv
    cascade_only = "--cascade" in sys.argv
    index_only = "--index" in sys.argv
    vecs_per_batch = None
    argv = []
    it = iter(sys.argv[1:])
    for a in it:
        if a == "--vecs-per-batch":
            vecs_per_batch = int(next(it))
        elif a not in ("--interval", "--semantic", "--cascade",
                       "--index"):
            argv.append(a)
    n_batches = int(argv[0]) if argv else 50
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"

    from pyspark.sql import SparkSession

    from airline_data_warehouse_spark.plans.registry import load

    spark = (SparkSession.builder.appName("stream-probe")
             .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    if index_only:
        workdir = tempfile.mkdtemp(prefix="stream_probe_")
        try:
            out = []
            suffix = f"_{vecs_per_batch}pb" if vecs_per_batch else ""
            for label, every in ((f"index_baseline{suffix}", None),
                                 (f"index_compact{suffix}", 10)):
                summary = run_index(spark, sf_dir, n_batches, workdir,
                                    every, label,
                                    vecs_per_batch=vecs_per_batch)
                out.append(summary)
                print(json.dumps({k: v for k, v in summary.items()
                                  if k != "per_batch"}))
            _merge_results(out)
            return 0
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    if semantic_only or cascade_only:
        workdir = tempfile.mkdtemp(prefix="stream_probe_")
        try:
            fn = run_semantic if semantic_only else run_cascade
            summary = fn(spark, sf_dir, n_batches, workdir)
            _merge_results([summary])
            print(json.dumps({k: v for k, v in summary.items()
                              if k != "per_batch"}))
            return 0
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    rows = ([] if interval_only else
            load(spark, sf_dir, "documents")
            .select("doc_id", "text").collect())
    per = max(1, len(rows) // n_batches)
    docs_json = []
    for i in range(0, len(rows), per):
        docs_json.append("\n".join(
            json.dumps({"doc_id": r["doc_id"], "text": r["text"]})
            for r in rows[i:i + per]))
    docs_json = docs_json[:n_batches]
    print(f"{len(docs_json)} batches x ~{per} docs from {sf_dir}", flush=True)

    workdir = tempfile.mkdtemp(prefix="stream_probe_")
    try:
        out = []
        if interval_only:
            summary = run_interval_join(spark, sf_dir, n_batches, workdir)
            print(json.dumps({k: v for k, v in summary.items()
                              if k != "per_batch"}))
            return 0
        for label, ce, rb in [("baseline", None, None),
                              ("compact", 10, None),
                              ("retained", 10, 10)]:
            out.append(run_config(spark, docs_json, label, workdir, ce, rb))
        for summary in out:
            slim = {k: v for k, v in summary.items() if k != "per_batch"}
            print(json.dumps(slim))
        with open(os.path.join(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))), "stream_probe_results.json"),
                "w") as f:
            json.dump(out, f, indent=1)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
