"""Workload `curation`: the LLM-data pipeline over a seeded corpus.

Setup generates the corpus (with injected exact and near duplicates),
builds the IVF-PQ index with ``similarity.ivfpq_index_build``, and warms
up the service classes: one top-k batch, then the ingest stream's first
increment.
The timed phase is one client in a closed loop: equal-size increments through ``streaming.dedup.
start_exact_substring_ingest``, one file per trigger; the batch chain
``text.quality_score`` -> ``dedup.exact_dedup`` ->
``dedup.ngram_jaccard_pairs`` (MinHash LSH candidates, verified) ->
``dedup.connected_components``; top-k query batches against the index.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

from airline_data_warehouse_spark.operators import dedup, similarity, text
from airline_data_warehouse_spark.streaming import dedup as sdedup

import gen
import harness

N_DOCS = 500
INC_DOCS = 150
N_VECS = 600
QUERY_BATCH = 8
TOPK, SHORTLIST, N_PROBE = 5, 400, 3
PER_10S = {"chains": 1, "increments": 3, "topk": 3}


def run(ctx) -> dict:
    spark, tr, chk = ctx.spark, ctx.tracer, ctx.checks
    sched = harness.schedule(PER_10S, ctx.seconds)
    root = ctx.workdir
    inputs = gen.curation_inputs(
        os.path.join(root, "in"), ctx.seed, N_DOCS,
        n_inc=1 + sched["increments"], inc_docs=INC_DOCS, n_vecs=N_VECS,
        n_queries=1 + sched["topk"], query_batch=QUERY_BATCH)
    docs = spark.read.parquet(inputs.docs_path)
    vecs = spark.read.parquet(inputs.vec_path)
    index_dir = os.path.join(root, "index")

    with tr.span("similarity.index_build"):
        similarity.ivfpq_index_build(vecs, index_dir, iters=1)

    def chain(corpus) -> tuple[float, dict]:
        """One pass of the batch chain; returns its time and outputs."""
        t0 = time.perf_counter()
        with tr.span("job.chain"), dedup.cache_scope():
            with tr.span("text.quality_score"):
                q = text.quality_score(corpus)
                keep = [r[0] for r in q.filter(F.col("verdict") == "keep")
                        .select("doc_id").collect()]
            kept = _subset(corpus, keep)
            with tr.span("dedup.exact_dedup"):
                keepers = [r[0] for r in
                           dedup.exact_dedup(kept).select("doc_id").collect()]
            unique = _subset(corpus, keepers)
            with tr.span("dedup.ngram_jaccard_pairs"):
                pairs = [(r["id1"], r["id2"]) for r in
                         dedup.ngram_jaccard_pairs(unique).collect()]
            pairs_df = spark.createDataFrame(pairs, "id1 long, id2 long")
            with tr.span("dedup.connected_components"):
                comps = [(r["doc_id"], r["cluster_id"]) for r in
                         dedup.connected_components(
                             pairs_df, unique.select("doc_id")).collect()]
        dt = time.perf_counter() - t0
        return dt, {"keep": set(keep), "keepers": set(keepers),
                    "pairs": pairs, "comps": comps}

    def start_ingest():
        src = os.path.join(root, "ingest_src")
        os.makedirs(src)
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).json(src))
        store = os.path.join(root, "ingest_store")
        q = sdedup.start_exact_substring_ingest(
            stream, store, checkpoint_dir=os.path.join(root, "ck_ingest"))
        return src, store, q

    def ingest(src: str, q, i: int) -> float:
        t0 = time.perf_counter()
        with tr.span("request.ingest_batch"):
            with open(os.path.join(src, f"inc_{i:03d}.json"), "w") as f:
                f.write(inputs.inc_payloads[i])
            with tr.span("ingest.batch"):
                tr.bind_query(q)
                q.processAllAvailable()
        return time.perf_counter() - t0

    def topk(i: int) -> tuple[float, list]:
        t0 = time.perf_counter()
        with tr.span("request.topk"):
            queries = vecs.filter(
                F.col("vec_id").isin(inputs.query_batches[i]))
            with tr.span("similarity.topk"):
                rows = similarity.ivfpq_index_topk_rerank(
                    spark, index_dir, queries, k=TOPK, shortlist=SHORTLIST,
                    n_probe=N_PROBE).collect()
        return time.perf_counter() - t0, rows

    # -- warm-up of the service classes: one top-k batch and the stream's
    #    first increment. The batch chain runs once per job, so its cold
    #    start is part of what its user waits for: it gets no warm-up.
    topk(0)
    src, store, q = start_ingest()
    try:
        ingest(src, q, 0)

        # -- timed phase: closed loop, one client ----------------------
        ctx.begin_timed()
        batch_s = [ingest(src, q, 1 + i) for i in range(sched["increments"])]
    finally:
        q.stop()
    chain_s, outs = [], []
    for _ in range(sched["chains"]):
        dt, out = chain(docs)
        chain_s.append(dt)
        outs.append(out)
    topk_s, topk_rows = [], []
    for i in range(1, 1 + sched["topk"]):
        dt, rows = topk(i)
        topk_s.append(dt)
        topk_rows.append((i, rows))
    ctx.end_timed()

    # -- checks ---------------------------------------------------------------
    for out in outs:
        _check_chain(ctx, inputs, out)
    spans = sdedup.read_exact_substring_spans(spark, store)
    got = {(r["doc_a"], r["doc_b"]) for r in
           spans.select("doc_a", "doc_b").distinct().collect()}
    chk.expect(got == inputs.span_pairs,
               f"ingest span pairs {sorted(got ^ inputs.span_pairs)[:5]}")
    _check_topk(ctx, inputs, vecs, topk_rows)

    store_files = harness.data_files(store)
    in_bytes = sum(len(p.encode()) for p in inputs.inc_payloads)
    n = len(batch_s)
    third = max(1, n // 3)
    ctx.manifest = {
        "exact_dup_ids": sorted(inputs.exact_dup_ids),
        "near_dup_families": [sorted(f) for f in inputs.near_families],
        "cross_batch_span_pairs": sorted(inputs.span_pairs),
        "quality_kept": len(inputs.kept_quality),
        "exact_keepers": len(inputs.exact_keepers)}
    ctx.layer["ingest.store_files"] = len(store_files)
    ctx.layer["ingest.store_bytes"] = sum(store_files.values())
    ctx.layer["dedup.verified_pairs"] = len(outs[0]["pairs"])
    if ctx.trace:   # probe: the candidate count the verify step filters
        with tr.span("dedup.minhash_lsh_candidates"):
            with dedup.cache_scope():
                unique = _subset(docs, sorted(inputs.exact_keepers))
                ctx.layer["dedup.candidates"] = \
                    dedup.minhash_lsh_candidates(unique).count()
        ctx.layer["dedup.verify_yield"] = \
            ctx.layer["dedup.verified_pairs"] / ctx.layer["dedup.candidates"]
    ctx.samples["chain_s"] = chain_s
    ctx.samples["ingest_batch_ms"] = [x * 1000 for x in batch_s]
    ctx.samples["topk_ms"] = [x * 1000 for x in topk_s]
    ctx.layer["ingest.growth"] = (sum(batch_s[-third:]) / third) / \
        (sum(batch_s[:third]) / third)

    return {
        "rows_per_s": (inputs.n_docs * len(chain_s) / sum(chain_s), "rows/s"),
        "batch_p50_ms": (harness.median(ctx.samples["ingest_batch_ms"]), "ms"),
        "read_p50_ms": (harness.median(ctx.samples["topk_ms"]), "ms"),
        "write_amp": (sum(store_files.values()) / in_bytes, "bytes/byte"),
    }


def _subset(corpus, ids: list[int]):
    """The documents with the given ids (the previous step's output,
    collected for its check, joined back as the next step's input)."""
    keys = corpus.sparkSession.createDataFrame([(i,) for i in ids],
                                               "doc_id long")
    return corpus.join(F.broadcast(keys), "doc_id")


def _check_chain(ctx, inputs: gen.CurationInputs, out: dict) -> None:
    chk = ctx.checks
    chk.expect(out["keep"] == inputs.kept_quality,
               f"quality gate kept {len(out['keep'])} "
               f"!= {len(inputs.kept_quality)}")
    chk.expect(out["keepers"] == inputs.exact_keepers,
               f"exact_dedup kept {len(out['keepers'])} "
               f"!= {len(inputs.exact_keepers)}")
    removed = out["keep"] - out["keepers"]
    recall = len(removed & inputs.exact_dup_ids) / max(1, len(inputs.exact_dup_ids))
    chk.expect(recall == 1.0, f"exact-duplicate recall {recall}")
    # every verified pair and every multi-doc cluster lies inside one
    # injected near-duplicate family (random documents never reach the
    # Jaccard threshold); near-duplicate recall is reported, not gated,
    # because MinHash LSH may miss a pair by design
    family = {d: i for i, f in enumerate(inputs.near_families) for d in f}
    chk.expect(all(family.get(a, -1) == family.get(b, -2)
                   for a, b in out["pairs"]),
               "verified near-duplicate pair outside an injected family")
    clusters: dict[int, set[int]] = {}
    for d, c in out["comps"]:
        clusters.setdefault(c, set()).add(d)
    chk.expect(len(out["comps"]) == len(inputs.exact_keepers)
               and all(len({family.get(d, -1 - d) for d in m}) == 1
                       for m in clusters.values() if len(m) > 1),
               "connected components mix documents of different families")
    want = {(min(a, b), max(a, b)) for f in inputs.near_families
            for a in f for b in f if a < b}
    found = want & set(out["pairs"])
    ctx.layer["dedup.near_dup_recall"] = len(found) / max(1, len(want))


def _check_topk(ctx, inputs: gen.CurationInputs, vecs, batches) -> None:
    """Top-k ids of the first query batch against brute_force_topk:
    equal as sets of exact distances (ties may order differently)."""
    i, rows = batches[0]
    qids = inputs.query_batches[i]
    queries = vecs.filter(F.col("vec_id").isin(qids))
    bf = similarity.brute_force_topk(vecs, queries, k=TOPK).collect()
    emb = {r["vec_id"]: np.array(r["embedding"]) for r in vecs.collect()}

    def dists(pairs: list) -> dict[int, list[float]]:
        out: dict[int, list[float]] = {}
        for q, n in pairs:
            out.setdefault(q, []).append(
                round(float(np.sum((emb[q] - emb[n]) ** 2)), 9))
        return {q: sorted(v) for q, v in out.items()}

    got = dists([(r["query_id"], r["neighbor_id"]) for r in rows])
    want = dists([(r["query_id"], r["neighbor_id"]) for r in bf])
    ctx.checks.expect(got == want and len(got) == len(qids),
                      f"top-k of batch {i} differs from brute_force_topk")
