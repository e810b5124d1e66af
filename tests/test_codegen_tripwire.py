"""Codegen-fallback tripwire (VERDICT r02 #3).

Spark's whole-stage codegen catches Janino compile errors ("Code grows
beyond 64 KB") and silently falls back to interpreted execution — every
green signal (oracle, pytest, bench) stays green while the plan runs an
order of magnitude slower. r02 shipped exactly that bug in
`string_similarity_join`.

This test makes the fallback loud: with ``spark.sql.codegen.fallback=false``
a compile failure raises instead of degrading, so any headline query whose
generated code stops compiling fails CI here rather than rotting quietly.
"""

from __future__ import annotations

import pytest

from airline_data_warehouse_spark.operators.dedup import cache_scope
from airline_data_warehouse_spark.plans.registry import all_queries

import bench


@pytest.fixture(scope="module")
def strict_codegen(spark):
    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    yield spark
    spark.conf.set("spark.sql.codegen.fallback", prev)


@pytest.mark.parametrize("name", bench.HEADLINE)
def test_headline_query_compiles(strict_codegen, sf_dir, name):
    registry = all_queries()
    with cache_scope():
        df = registry[name].builder(strict_codegen, sf_dir)
        df.write.format("noop").mode("overwrite").save()


@pytest.mark.parametrize("name", ["dedup_ngram_jaccard",
                                  "dedup_incremental_minhash",
                                  "dedup_embedding_cosine",
                                  "incremental_cascade_ingest"])
def test_array_verify_joins_never_broadcast(spark, sf_dir, name):
    """Broadcast-hazard tripwire (r07): the shingle/vector-ARRAY sides of
    the verify joins must plan as ShuffledHashJoin, never
    BroadcastHashJoin — their in-heap hash-map expansion is 4-8x their
    shuffle bytes, so a (forced or AQE-chosen) broadcast build OOMs at
    scale even when the size threshold says it fits (the reproduced 8x
    dedup_cascade failure). The hint must survive refactors: if a
    BroadcastExchange feeds a join whose stream side carries the array
    column, this fails before the probe does.

    Plan-level check: the optimized plan must contain shuffled hash
    join operators for these queries and no broadcast join whose build
    side projects the shingle/vector array column."""
    with cache_scope():
        df = all_queries()[name].builder(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, f"{name}: array verify join lost its shuffle_hash hint"
    for line in plan.splitlines():
        if "BroadcastHashJoin" not in line:
            continue
        # broadcast joins are fine for band/candidate/centroid frames;
        # the array payload columns must not appear in one
        assert "hs#" not in line and "sh1" not in line and "sh2" not in line \
            and "v1" not in line and "v2" not in line, \
            f"{name}: array side reached a broadcast join: {line.strip()}"
