"""Scale probe: replicate the sf0.1 testdata N× into /tmp and measure
headline operators at 1× and N× to verify near-linear scaling (the
"would this survive a 100× scale-up" question, answered with numbers).

Replication remaps keys per copy so join fan-out and group cardinality
scale realistically (copy i shifts ids by i*10^9 for facts; dimension
tables stay fixed, as they would at 100 TB).

Usage: python tools/scale_probe.py [factor] [query ...]  (default 8, all)
       --keep      leave the scaled parquet in /tmp for re-probing
       --reuse     skip the build if the scaled dir already exists
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
PROBE_QUERIES = [
    "flagship_star_revenue",
    "role_playing_dim_join",
    "latest_event_per_key",
    "dedup_exact_hash",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "text_lang_id",
    "event_sessionization",
    "salted_aggregation",
    "dedup_simhash_multiprobe",
    "dedup_embedding_cosine",
    # r03 curation suite
    "dedup_cluster_representatives",
    "dedup_incremental_minhash",
    "benchmark_contamination",
    "boilerplate_ngrams",
    "source_overlap_matrix",
    "text_repetition_filter",
    "token_budget_sample",
    "deterministic_shuffle",
    # r06: plans rewritten/resurrected since the last SCALING.md refresh
    "profile_numeric_columns",
    "range_join_events",
    "vocab_frequency_table",
    # r06: new pipeline operators
    "chunk_documents",
    "embedding_quantize_int8",
    "embedding_random_projection",
    "decontaminated_train_split",
    "materialize_mixture",
    "chunked_packing_pipeline",
    # r07: composed pipelines
    "curation_pipeline",
    "dedup_cascade",
    "incremental_cascade_ingest",
    "train_quality_classifier",
    "dsir_importance_sample",
    "dsir_hashed_importance_sample",
    "dedup_prefix_filter_exact",
    "dedup_containment_exact",
    # r07 second wave: substring dedup, tokenize-to-ids, kmeans, search,
    # rolling features, curriculum
    "repeated_ngram_spans",
    "encode_documents_vocab",
    "kmeans_cluster_assign",
    "keyword_search_and",
    "rolling_event_features",
    "curriculum_training_order",
    "remove_repeated_spans",
    "tokenization_report",
    "funnel_conversion",
    "cohort_retention",
    "shipping_priority_topk",
    "local_supplier_volume",
    "pricing_summary",
    "data_quality_report",
    "per_source_document_cap",
    "bigram_lm_quality",
    "similarity_topk_ivf_trained",
    "similarity_topk_pq",
    "similarity_topk_ivfpq",
    "similarity_topk_pq_rerank",
    "embedding_covariance",
    # r10: persisted-index query paths + graph/PMI/split operators
    "similarity_topk_ivfpq_index",
    "similarity_topk_ivfpq_index_rerank",
    "trade_graph_pagerank",
    "quality_label_propagation",
    "token_pmi_table",
    "cluster_safe_split_report",
    "cosupplier_graph_triangles",
    # r11: weighted PageRank, k-core, whiten certificate, aHash oracle
    "trade_graph_pagerank_weighted",
    "graph_kcore",
    "embedding_whiten_invariants",
    "multimodal_image_near_dup",
    "zorder_cluster_keys",
    "graph_degree_profile",
    "diverse_kcenter_select",
    "quality_label_propagation_weighted",
    "pit_status_join",
    "weighted_sample_docs",
    "above_customer_average",
    "forward_fill_daily",
    "bm25_search_topk",
    "priority_count_exists",
    "last_touch_attribution",
    # r07 third wave: decision-support pack (plans/olap.py)
    "groupwise_min_parts",
    "nation_pair_trade_volume",
    "profit_by_nation_year",
    "returned_item_losses",
    "important_supplier_share",
    "customer_order_distribution",
    "promo_revenue_share",
    "top_supplier_revenue",
    "parts_supplier_distribution",
    "small_qty_order_revenue",
    "large_volume_orders",
    "disjunctive_predicate_revenue",
    "dormant_rich_customers",
    "forecast_revenue_change",
    "nation_market_share",
    "late_line_priority_mix",
    "dominant_part_suppliers",
    "blamed_suppliers_waiting",
    "grouping_sets_revenue",
    "snapshot_reconciliation",
    "source_divergence_report",
]
SCALED_TABLES = {"lineitem": "l_orderkey", "orders": "o_orderkey",
                 "events": "event_id", "documents": "doc_id",
                 "embeddings": "vec_id"}
FIXED_TABLES = ["region", "nation", "customer", "supplier", "part"]


_ALPHA = "abcdefghijklmnop"


def _perturb_translation(i: int) -> tuple[str, str]:
    """(from, to) translate maps for perturb copy i ≥ 1: lowercase and
    uppercase rotate by 1 + (i−1) mod 25, digits by 1 + (i−1) mod 9 —
    the rotation amount is NEVER 0 for any copy index, so every
    letter and digit changes in every copy (a plain rotate-by-i is
    the identity on digits at i ≡ 0 (mod 10) and on letters at
    i ≡ 0 (mod 26), which would re-admit the cross-copy shingle
    artifact at factors ≥ 10). Fixed-point-free by construction
    (rotation amount ∈ [1, len−1] on each alphabet)."""
    import string

    lo, up, dg = (string.ascii_lowercase, string.ascii_uppercase,
                  string.digits)
    rl = 1 + (i - 1) % 25
    rd = 1 + (i - 1) % 9
    full = lo + up + dg
    rot = lo[rl:] + lo[:rl] + up[rl:] + up[:rl] + dg[rd:] + dg[:rd]
    return full, rot


def build_scaled(spark, factor: int, out_dir: str,
                 perturb: bool = False) -> None:
    """``perturb`` (VERDICT r12 item 3 — retire the replica-clique
    probe artifact): the default copy transforms leave residual
    cross-copy identity — the 16-char substitution cipher only maps
    a–p, so any 9-gram shingle built from other characters is
    IDENTICAL in every copy, and those surviving shingles alone are
    enough to make cross-copy band collisions grow ~copies² (the
    superlinear envelope every similarity-family ratio was judged
    against). Perturb mode decorrelates every replica EVERYWHERE while
    preserving the within-copy near-dup structure exactly:

    * text — full-alphabet rotation (_perturb_translation: a–z/A–Z
      rotated by 1 + (i−1) mod 25, digits by 1 + (i−1) mod 9 —
      fixed-point-free at EVERY copy index), so every letter/digit
      changes and no content shingle survives across copies; within a
      copy, relative text structure (and thus every planted near-dup
      pair) is preserved bijectively.
    * embeddings — position rotation by i (as before) PLUS a per-copy
      deterministic sign mask (flip dims whose bit (i−1) mod 6 is
      set). Both are orthogonal transforms applied uniformly to a
      copy, so ALL within-copy inner products — the near-dup cliques
      the operators should find — are bit-preserved, while cross-copy
      cosines are decorrelated twice over.

    Copy 0 is always the untouched base."""
    from pyspark.sql import functions as F
    from airline_data_warehouse_spark.plans.registry import load
    os.makedirs(out_dir, exist_ok=True)
    for t in FIXED_TABLES:
        load(spark, BASE, t).write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
    for t, key in SCALED_TABLES.items():
        df = load(spark, BASE, t)
        copies = None
        for i in range(factor):
            shifted = df.withColumn(key, F.col(key) + F.lit(i * 1_000_000_000))
            if t == "documents" and i > 0:
                if perturb:
                    full, rot = _perturb_translation(i)
                    shifted = shifted.withColumn(
                        "text", F.translate("text", full, rot))
                else:
                    # substitution-cipher each copy's text so copies are
                    # NOT near-duplicates of each other — keeps near-dup
                    # volume linear in corpus size (residual caveat: see
                    # the perturb docstring)
                    rot = _ALPHA[i:] + _ALPHA[:i]
                    shifted = shifted.withColumn(
                        "text", F.translate("text", _ALPHA, rot))
            if t == "embeddings" and i > 0:
                # rotate each copy's vector by i positions: norm-preserving
                # but decorrelating, so copies of the same vector are not
                # cross-copy cosine near-dups (same fairness argument)
                shifted = shifted.withColumn(
                    "embedding",
                    F.concat(F.slice("embedding", i + 1, 64 - i),
                             F.slice("embedding", 1, i)))
                if perturb:
                    bit = 1 << ((i - 1) % 6)
                    shifted = shifted.withColumn(
                        "embedding",
                        F.expr("transform(embedding, (x, d) -> "
                               f"CASE WHEN (d div {bit}) % 2 = 1 "
                               "THEN -x ELSE x END)"))
            copies = shifted if copies is None else copies.unionByName(shifted)
        # fact keys shift identically on both sides (l_orderkey follows
        # o_orderkey), so joins keep matching while cardinality scales
        copies.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")


def time_queries(spark, sf_dir: str, names: list[str] | None = None) -> dict[str, float]:
    from airline_data_warehouse_spark.plans.registry import all_queries
    from airline_data_warehouse_spark.operators.dedup import cache_scope
    reg = all_queries()
    out = {}
    for name in names or PROBE_QUERIES:
        samples = []
        for _ in range(3):  # median-of-3: single-run container noise
            t0 = time.time()  # swamped ratios by ±60% in r06 measurements
            # operators persist signature-sized intermediates for their
            # own self-joins; one scope per run so one measurement
            # never pays (or benefits from) another's cache
            with cache_scope():
                reg[name].builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
                samples.append(time.time() - t0)
        out[name] = round(sorted(samples)[1], 2)
    return out


def recall_probe(spark, sf_dir: str, sample_docs: int = 300,
                 sample_vecs: int = 400) -> dict[str, float]:
    """Quality tracking for the approximate family (VERDICT r06 item 6):
    time alone can't catch band/probe parameter drift, so measure recall
    against exact ground truth at each scale.

    * ANN recall@5: LSH / IVF top-k neighbor sets vs the brute-force
      cosine top-k over the full corpus (registry queries, same 20-query
      workload the correctness gate certifies).
    * Near-dup pair recall: the production LSH-candidates→exact-verify
      pipelines vs ALL-PAIRS exact truth on a deterministic ~sample_docs
      subset (all-pairs on the full corpus is the quadratic the
      production path exists to avoid; the sample keeps truth O(s²) and
      includes each sampled doc's perturbed twin so true pairs exist at
      every scale).
    """
    from pyspark.sql import functions as F

    from airline_data_warehouse_spark.operators import dedup as dd
    from airline_data_warehouse_spark.operators import similarity as sim
    from airline_data_warehouse_spark.plans.registry import all_queries, load

    reg = all_queries()
    out: dict[str, float] = {}

    # --- ANN recall@5 vs brute force (full corpus, registry workload) ---
    truth = {(r["query_id"], r["neighbor_id"])
             for r in reg["similarity_topk_bruteforce"].builder(spark, sf_dir).collect()}
    for key, label in [("similarity_topk_lsh", "ann_lsh_recall_at5"),
                       ("similarity_topk_ivf", "ann_ivf_recall_at5")]:
        approx = {(r["query_id"], r["neighbor_id"])
                  for r in reg[key].builder(spark, sf_dir).collect()}
        out[label] = round(len(approx & truth) / max(len(truth), 1), 3)

    # --- PQ / IVFADC recall@5 vs exact squared-L2 truth (r09) ---
    # ADC approximates SQUARED L2, so its ground truth is the exact L2
    # top-5 — scoring it against the cosine workload above would
    # conflate quantization loss with metric mismatch. Self-matches
    # excluded to mirror the operators.
    from pyspark.sql import Window as W2

    emb_all = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    vv = (emb_all.filter(sim._finite_ok(F.col("embedding")))
          .select("vec_id",
                  F.col("embedding").cast("array<double>").alias("v")))
    qq = (vv.filter(F.col("vec_id") < 20)
          .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv")))
    wl = W2.partitionBy("query_id").orderBy(F.col("d2").asc(),
                                            F.col("vec_id").asc())
    l2_truth = {(r["query_id"], r["vec_id"]) for r in
                (vv.crossJoin(F.broadcast(qq))
                   .filter(F.col("query_id") != F.col("vec_id"))
                   .withColumn("d2", sim._sqdist(F.col("qv"), F.col("v")))
                   .withColumn("rk", F.row_number().over(wl))
                   .filter(F.col("rk") <= 5)
                   .select("query_id", "vec_id")).collect()}
    for key, label in [("similarity_topk_pq", "ann_pq_recall_at5"),
                       ("similarity_topk_ivfpq", "ann_ivfpq_recall_at5"),
                       ("similarity_topk_pq_rerank",
                        "ann_pq_rerank_recall_at5")]:
        with dd.cache_scope():
            approx = {(r["query_id"], r["neighbor_id"]) for r in
                      reg[key].builder(spark, sf_dir).collect()}
        out[label] = round(len(approx & l2_truth) / max(len(l2_truth), 1), 3)
    out["l2_truth_pairs"] = len(l2_truth)

    # --- MinHash near-dup pair recall vs exact Jaccard (sampled) ---
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    step = max(1, n_docs // sample_docs)
    sample = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(step)) == 0)
    pert = (sample.filter(F.length("text") >= 100)
            .select((F.col("doc_id") + 1000000).alias("doc_id"),
                    F.expr("substr(text, 1, (length(text) * 9) div 10)")
                     .alias("text")))
    corpus = sample.unionByName(pert)
    sh = dd.shingled(corpus, "text", "doc_id").select("doc_id", "hs")
    a = sh.select(F.col("doc_id").alias("id1"), F.col("hs").alias("h1"))
    b = sh.select(F.col("doc_id").alias("id2"), F.col("hs").alias("h2"))
    inter = F.size(F.array_intersect("h1", "h2"))
    uni = F.size("h1") + F.size("h2") - inter
    truth_pairs = {(r["id1"], r["id2"]) for r in
                   (a.join(b, F.col("id1") < F.col("id2"))
                     .withColumn("j", inter.cast("double") / uni)
                     .filter(F.col("j") >= 0.6)
                     .select("id1", "id2")).collect()}
    with dd.cache_scope():
        got_pairs = {(r["id1"], r["id2"]) for r in
                     dd.ngram_jaccard_pairs(corpus, threshold=0.6).collect()}
    out["minhash_pair_recall"] = round(
        len(got_pairs & truth_pairs) / max(len(truth_pairs), 1), 3)
    out["minhash_truth_pairs"] = len(truth_pairs)

    # --- FULL-corpus LSH pair recall vs the exact prefix-filter join ---
    # prefix_filter_jaccard_pairs is complete (no false negatives) and
    # feasible corpus-wide, so unlike the sampled truth above this reads
    # recall over EVERY pair. Both pipelines share the same exact-Jaccard
    # verify predicate, so the LSH output is a subset of the exact
    # output and recall reduces to a count ratio.
    full_corpus = docs.unionByName(
        docs.filter(F.length("text") >= 100)
            .select((F.col("doc_id") + 1000000).alias("doc_id"),
                    F.expr("substr(text, 1, (length(text) * 9) div 10)")
                     .alias("text")))
    with dd.cache_scope():
        exact_n = dd.prefix_filter_jaccard_pairs(full_corpus, threshold=0.6).count()
    with dd.cache_scope():
        lsh_n = dd.ngram_jaccard_pairs(full_corpus, threshold=0.6).count()
    out["minhash_pair_recall_fullcorpus"] = round(lsh_n / max(exact_n, 1), 3)
    out["minhash_fullcorpus_truth_pairs"] = exact_n

    # --- Embedding near-dup pair recall vs exact cosine (sampled) ---
    emb = load(spark, sf_dir, "embeddings")
    n_vecs = emb.count()
    vstep = max(1, n_vecs // sample_vecs)
    vs = (emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(vstep)) == 0)
             .select("vec_id", F.col("embedding").cast("array<double>")
                     .alias("embedding")))
    vpert = vs.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(F.array(F.element_at("embedding", 1) + 0.05),
                 F.slice(F.col("embedding"), 2, 63)).alias("embedding"))
    vcorp = vs.unionByName(vpert)
    va = vcorp.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("v1"))
    vb = vcorp.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("v2"))
    cos = sim.cosine(F.col("v1"), F.col("v2"))
    vtruth = {(r["id1"], r["id2"]) for r in
              (va.join(vb, F.col("id1") < F.col("id2"))
                 .withColumn("c", cos).filter(F.col("c") >= 0.99)
                 .select("id1", "id2")).collect()}
    with dd.cache_scope():
        vgot = {(r["id1"], r["id2"]) for r in
                sim.embedding_near_dup_pairs(vcorp, threshold=0.99).collect()}
    out["embedding_pair_recall"] = round(
        len(vgot & vtruth) / max(len(vtruth), 1), 3)
    out["embedding_truth_pairs"] = len(vtruth)

    # --- PLANNED-band near-dup recall (r14, lsh_band_plan wiring) ---
    # Same exact truth, but (bands, rows_per_band) derived from the
    # corpus count via planned_band_params — verifies the planner's
    # expected_recall >= 0.9 promise holds on real data at whatever
    # n the probe corpus has, not just in closed form.
    with dd.cache_scope():
        vgot_planned = {(r["id1"], r["id2"]) for r in
                        sim.embedding_near_dup_pairs(
                            vcorp, threshold=0.99, bands=None,
                            rows_per_band=None).collect()}
    out["embedding_pair_recall_planned"] = round(
        len(vgot_planned & vtruth) / max(len(vtruth), 1), 3)

    # --- Hard-negative mining recall vs the exact [low, high) band ---
    # The probe class that caught lsh_topk's recall 0.04 (r07), applied
    # to the mining path (VERDICT r07 item 7): truth = per anchor, the
    # exact-cosine top-5 of the band [0.2, 0.95) over the registry
    # query's own augmented corpus; recall = mined ∩ truth / truth.
    from pyspark.sql import Window

    from airline_data_warehouse_spark.plans.llmops import _vec_corpus

    hn_corpus = _vec_corpus(spark, sf_dir)
    qa = (hn_corpus.filter(F.col("vec_id") < 20)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("qv")))
    ca = hn_corpus.select(F.col("vec_id").alias("neighbor_id"),
                          F.col("embedding").alias("cv"))
    hcos = sim.cosine(F.col("qv"), F.col("cv"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("c").desc(), F.col("neighbor_id").asc())
    hn_truth = {(r["query_id"], r["neighbor_id"]) for r in
                (ca.crossJoin(F.broadcast(qa))
                   .filter(F.col("query_id") != F.col("neighbor_id"))
                   .withColumn("c", hcos)
                   .filter((F.col("c") >= 0.2) & (F.col("c") < 0.95))
                   .withColumn("rk", F.row_number().over(w))
                   .filter(F.col("rk") <= 5)
                   .select("query_id", "neighbor_id")).collect()}
    with dd.cache_scope():
        mined = {(r["query_id"], r["neighbor_id"]) for r in
                 reg["hard_negative_mining"].builder(spark, sf_dir).collect()}
    out["hard_negative_recall_at5"] = round(
        len(mined & hn_truth) / max(len(hn_truth), 1), 3)
    out["hard_negative_truth_pairs"] = len(hn_truth)
    return out


def main() -> None:
    keep = "--keep" in sys.argv
    reuse = "--reuse" in sys.argv
    recall = "--recall" in sys.argv
    perturb = "--perturb" in sys.argv
    argv = [a for a in sys.argv[1:]
            if a not in ("--keep", "--reuse", "--recall", "--perturb")]
    factor = int(argv[0]) if argv else 8
    names = argv[1:] or PROBE_QUERIES
    out_dir = f"/tmp/adw_scale_{factor}x" + ("_pert" if perturb else "")
    from airline_data_warehouse_spark.session import get_spark
    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    if not (reuse and os.path.isdir(out_dir)):
        build_scaled(spark, factor, out_dir, perturb=perturb)
    if recall:
        report = {"factor": factor,
                  "recall_base": recall_probe(spark, BASE),
                  "recall_scaled": recall_probe(spark, out_dir)}
        print(json.dumps(report, indent=2))
        if not keep:
            shutil.rmtree(out_dir, ignore_errors=True)
        return
    base = time_queries(spark, BASE, names)  # warm-up pass (JVM/codegen/footers)
    base = time_queries(spark, BASE, names)
    scaled = time_queries(spark, out_dir, names)  # warm-up for the scaled files
    scaled = time_queries(spark, out_dir, names)
    report = {
        "factor": factor,
        "queries": {
            name: {"base_s": base[name], "scaled_s": scaled[name],
                   "ratio": round(scaled[name] / max(base[name], 1e-6), 2)}
            for name in names
        },
    }
    print(json.dumps(report, indent=2))
    if not keep:
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
