"""ExactSubstr store probe — measures VERDICT r14 item 1's Done
criterion with numbers: per-batch cost of the STORE-MEDIATED
incremental (`exact_substring_spans_store`) is proportional to the
INCREMENT while the corpus store is read-only, and the store-mediated
path beats the recompute twin (`exact_substring_spans_incremental`,
which re-tokenizes + re-hashes the corpus frame every call).

Protocol: build the persisted window index ONCE from the sf0.1
documents corpus, then time

  * store-mediated spans at increment = 1x (the certified prefix-twin
    fixture) and increment = 8x (the same twins replicated under 8
    disjoint id offsets — match volume scales linearly by
    construction, so time ∝ increment is the honest expectation);
  * the recompute twin at increment = 1x (the corpus-re-hash baseline
    the store exists to amortize away).

Median of N runs each (default 3). Prints one JSON line.

Usage: python tools/es_store_probe.py [sf_dir] [runs]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _median(xs):
    xs = sorted(xs)
    return xs[len(xs) // 2]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from airline_data_warehouse_spark.operators import dedup as dd

    spark = (SparkSession.builder.master(
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "24g")
        .appName("es-store-probe").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    docs = (spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .select("doc_id", "text"))
    inc1 = (docs.filter(F.length("text") >= 100)
            .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                    F.expr("substr(text, 1, (length(text) * 9) div 10)")
                     .alias("text")))
    # 8 disjoint id offsets -> 8x increment rows, linear match volume
    inc8 = inc1
    for i in range(1, 8):
        inc8 = inc8.unionByName(inc1.select(
            (F.col("doc_id") + i * 10_000_000).alias("doc_id"), "text"))

    store = tempfile.mkdtemp(prefix="es_store_probe_")
    try:
        t0 = time.monotonic()
        dd.exact_substring_store_build(docs, store, overwrite=True)
        build_s = time.monotonic() - t0

        def timed(fn):
            out = []
            for _ in range(runs):
                t = time.monotonic()
                with dd.cache_scope():
                    n = fn().count()
                    out.append(time.monotonic() - t)
            return _median(out), n

        t_store1, n1 = timed(lambda: dd.exact_substring_spans_store(
            spark, store, inc1))
        t_store8, n8 = timed(lambda: dd.exact_substring_spans_store(
            spark, store, inc8))
        t_recomp1, nr = timed(lambda: dd.exact_substring_spans_incremental(
            docs, inc1))
        print(json.dumps({
            "store_build_s": round(build_s, 2),
            "store_mediated_inc1x_s": round(t_store1, 2),
            "store_mediated_inc8x_s": round(t_store8, 2),
            "inc8x_over_inc1x": round(t_store8 / t_store1, 2),
            "recompute_inc1x_s": round(t_recomp1, 2),
            "store_speedup_vs_recompute": round(t_recomp1 / t_store1, 2),
            "spans_1x": n1, "spans_8x": n8, "spans_recompute": nr,
            "runs": runs, "sf_dir": sf_dir}))
    finally:
        shutil.rmtree(store, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
