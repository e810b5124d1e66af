"""Query registry: the driver-facing catalog of implemented operators.

Each entry couples a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with an equivalent ANSI-SQL oracle string for DuckDB (or None for
non-SQL-expressible operators → rows-only check). Keys map 1:1 to
SURVEY.md §2 operator rows; dedup/similarity/text extension operators
register here too.

Oracle-parity conventions (see tools/check_correctness.py):
* money math is done in DECIMAL(18,2) (the testdata doubles are exact
  2-dp values) so sums are exact and identical in both engines; final
  decimal outputs are cast to DOUBLE, which is deterministic.
* every query with LIMIT/top-k orders by a unique tie-breaker.
* every computed column is aliased identically on both sides.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class QueryDef:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    operators: str  # SURVEY §2 row ids this query exercises
    description: str = ""


_REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None, operators: str, description: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QueryDef(name, fn, oracle, operators, description)
        return fn
    return deco


def set_oracle(name: str, oracle: str) -> None:
    """Attach/replace the oracle SQL of an already-registered query — for
    oracles assembled from SQL-fragment helpers defined later in the
    registering module (e.g. the composed curation_pipeline, whose
    decontamination stage reuses the keyed-hash/shingle-set helpers)."""
    import dataclasses
    _REGISTRY[name] = dataclasses.replace(_REGISTRY[name], oracle=oracle)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a testdata table. Some tables carry parquet TIMESTAMP(NANOS)
    columns, which Spark's vectorized reader refuses; read them as raw
    nanosecond longs and truncate to microseconds (`div 1000` — exactly
    what DuckDB's ns→us conversion does, so oracles agree)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # timestamps compare against a naive-UTC oracle; pin the session tz so
    # a caller-provided session on a non-UTC host can't shift collect()ed
    # datetimes
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # cleaning semantics are null-on-failure (quarantine model), never
    # throw-on-cast — pin ANSI off under caller-provided sessions too
    # (Spark 4 defaults it on)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if table == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Testdata regenerations have alternated between TIMESTAMP(NANOS),
    # TIMESTAMP(MICROS, adjustedToUTC) and TIMESTAMP(MICROS, naive); the
    # naive flavor reads as TIMESTAMP_NTZ under Spark 4, which breaks
    # unix_micros()/watermarks downstream. Session tz is pinned UTC above,
    # so casting NTZ→TIMESTAMP is value-identical and keeps every consumer
    # (and the DuckDB oracles, which see naive UTC either way) in agreement.
    for name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(name, F.col(name).cast("timestamp"))
    return df


# Queries whose physical plan changed since their last driver-green round:
# they sort into the validation window right after never-validated entries,
# so the driver re-certifies the new plan. (The r06 cohort — median NaN
# bucketing, contiguous-id vocab, SQL-string signature fast paths — all
# hash-matched in CORRECTNESS_r06 and was cleared.)
_REVALIDATE: tuple[str, ...] = (
    # (The r08 de-broadcast cohort and the r10 cohort — pq_rerank qv
    # source, covariance factoring — were re-certified green in the
    # r09/r10 driver windows, VERDICT r10 coverage table, and are
    # cleared. embedding_pca_whiten stays out of this list: it is a
    # no-oracle key the rotation demonstrably skips; its certification
    # path is now the oracle-backed twin embedding_whiten_invariants —
    # VERDICT r10 item 1.)
    #
    # (The r11 cohort — decimal halfup/edge-shape pageranks, widened
    # label propagation, cluster-split left-join fallback — was
    # re-certified green in the r11 driver window, VERDICT r11, and is
    # cleared.)
    #
    # (The r12 cohort — 9-dp whiten cells, decimal pagerank wsum +
    # localCheckpoint round barriers — was re-certified green in the
    # r12 driver window, CORRECTNESS_r12, and is cleared.)
    #
    # r13 (VERDICT r12 item 1 / ADVICE r12-medium): ams_f2_join_size
    # was the round's ONLY driver-red row (hash_match false in
    # CORRECTNESS_r12 while bit-green under tools/check_correctness.py
    # on the same commit+sf). The suspected surface was the key's two
    # DECIMAL(38,0) columns built via different widening routes per
    # engine (Spark decimal(19,0)² → 38,0 vs DuckDB HUGEINT→DECIMAL).
    # est_f2/true_f2 are now emitted as plain BIGINT in BOTH engines —
    # the magnitudes provably fit (F₂ ≤ N² ≈ 1e12 at sf0.1) — removing
    # the canonicalization surface entirely; the column types are
    # pinned engine-equal by a unit test.
    "ams_f2_join_size",               # driver-red r12; BIGINT re-emit
    # r13 (VERDICT r12 item 2): bounded_shortest_paths' silent
    # negative-weight filter became a loud ValueError guard — the
    # registry corpus has no negative weights so the result is
    # identical, but the physical plan lost the filter node.
    "graph_shortest_paths",           # r12 cert; filter -> guard probe
    # Shared ANN stages (operators/similarity.py): every probe/assign now
    # runs through _nearest_centroids (renamed score/norm columns, the
    # n=1 argmax filters rn <= 1); answers are bit-identical locally.
    "kmeans_cluster_assign",          # k-means assign via shared probe
    "similarity_topk_ivf",            # probe + ivf_assign via shared probe
    "similarity_topk_ivf_trained",    # k-means + IVF probe, shared probe
    "similarity_topk_ivfpq",          # k-means training via shared probe
    "dedup_semantic_ivf",             # ivf_assign via shared probe
    "similarity_topk_pq_rerank",      # _rerank_exact: lambda order only
    # r16 cohort (prefix/containment rewrite, compute-once barriers):
    # not re-certified by an oracle sample since r16
    "dedup_prefix_filter_exact",      # r16 asymmetric prefix + barrier
    "dedup_ngram_jaccard",            # r16 verify barrier
    "dedup_embedding_cosine",         # r16 verify barrier
    "dedup_containment_exact",        # r16 barrier; 6-dp threshold guard
    # r16 cascade cohort: not re-certified by an oracle sample since r16
    "dedup_cascade",                  # r16 cascade plans, never resampled
    "semantic_cluster_profile",       # r16 cascade plans, never resampled
    # shared incremental-dedup core (operators/dedup.py): the cascade's
    # tiers now run through _band_candidates / _verified_*_pairs /
    # _vector_frames (survivor semi-join before the vector frame)
    "incremental_cascade_ingest",     # r16 cohort; shared verify helpers
    # manifest-commit protocol (sources/atomic.py): these builders now
    # write and read their stores through manifests, not renames
    "stream_countmin_read",           # CMS base: manifest fold, no retry
    "stream_quantile_read",           # q-digest base: manifest fold
    "stream_bloom_read",              # Bloom bits: committed appends
    "similarity_topk_ivfpq_index",    # codes/vectors via read_table
    "similarity_topk_ivfpq_index_rerank",  # vectors via read_table
    "similarity_topk_after_delete",   # delete = one partition commit
    # stream dedup stores commit through the same manifests: appends
    # idempotent per batch, compaction one commit, reads without the
    # replay DISTINCTs (incremental_cascade_ingest above reads the
    # batch-built store through read_table)
    "stream_exact_substring_read",    # spans/windows/hashstats manifests
    "stream_exact_substring_verified",  # same ingest, verified read
)


def _driver_validated() -> dict[str, int]:
    """Map of name → LAST round holding a green (rows+schema+hash) row in
    a committed CORRECTNESS_r*.json. The driver validates a bounded prefix
    of the registry per round, so ordering is validation *priority*:
    entries without a green row yet come first, then entries whose plans
    changed (_REVALIDATE), then everything else OLDEST-CERTIFIED-FIRST —
    so certification staleness burns down round over round instead of the
    same prefix being re-checked forever (VERDICT r05 item 1).

    This is a dev-harness nicety, not library behavior: the artifacts are
    only looked for under a directory that is verifiably this repo's
    checkout (marker: SURVEY.md + tests/ next to the artifacts). Installed
    as a site-package, the marker is absent and the set is empty — every
    ordering tier collapses to plain registration order. Cached keyed on
    the artifact (path, mtime, size) fingerprint — not for the bare
    process lifetime — so a driver that writes a new CORRECTNESS_r*.json
    and calls all_queries() again in the same process sees fresh
    validation-priority ordering (ADVICE r03)."""
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    if not (os.path.isfile(os.path.join(root, "SURVEY.md"))
            and os.path.isdir(os.path.join(root, "tests"))):
        return {}
    paths = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    fingerprint = []
    for p in paths:
        try:
            stat = os.stat(p)
            fingerprint.append((p, stat.st_mtime_ns, stat.st_size))
        except OSError:
            continue
    return _parse_validated(tuple(fingerprint))


@functools.lru_cache(maxsize=4)
def _parse_validated(fingerprint: tuple[tuple[str, int, int], ...]) -> dict[str, int]:
    import json
    import re

    last_green: dict[str, int] = {}
    for path, _mtime, _size in fingerprint:
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict) or row.get("err"):
                continue
            if row.get("rows_match") and row.get("schema_match") is not False \
                    and row.get("hash_match") is not False:
                last_green[name] = max(last_green.get(name, 0), rnd)
    return last_green


def all_queries() -> dict[str, QueryDef]:
    # import for side effects: module-level @register calls
    from airline_data_warehouse_spark.plans import llmops, olap, relational, scalars  # noqa: F401
    last_green = _driver_validated()

    max_round = max(last_green.values(), default=0)

    def priority(name: str) -> tuple[int, int]:
        # Oracle-less entries can only ever earn a rows-only check — a
        # hash certification is impossible by construction — so they must
        # not squat in the bounded validation window ahead of keys that
        # CAN be certified (approx_distinct_count burned one sample slot
        # per round in tier 0 forever).
        #
        # Tier order rebalanced r08 per the r07 verdict's explicit ask
        # ("certify the 17-key tail; the rewritten keys land in
        # CORRECTNESS_r08"): with ~42 overdue keys and a ~50-key driver
        # window, the old overdue-first order would have crowded out
        # both the never-certified tail AND every plan-changed
        # revalidation for another full round. Never-certified keys have
        # NO driver record at all and plan-changed keys' last record
        # predates their current code — both are strictly less
        # certified than an overdue key whose green row still describes
        # the running plan — so they rank first; overdue staleness
        # burns down with the remaining slots, oldest first.
        if _REGISTRY[name].oracle is None:
            return (4, last_green.get(name, 0))
        if name not in last_green:
            return (0, 0)          # never driver-certified
        if name in _REVALIDATE:
            # Plan changed since its last green row: that row certifies
            # code that no longer exists. Every _REVALIDATE key is
            # locally hash-verified via tools/check_correctness.py when
            # it enters the list, so exposure until the driver
            # re-certifies is bounded — but it must not wait behind
            # keys whose certification is merely old.
            return (1, last_green[name])
        if last_green[name] <= max_round - 2:
            # OVERDUE: certified, but 2+ rounds behind the newest
            # certification round; refactors have touched shared
            # helpers since. Stalest first.
            return (2, last_green[name])
        return (3, last_green[name])  # freshly certified: stalest first

    ordered = sorted(_REGISTRY, key=priority)  # stable: registration order within tiers
    return {name: _REGISTRY[name] for name in ordered}
