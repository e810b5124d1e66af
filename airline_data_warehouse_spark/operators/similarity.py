"""Similarity search over embedding columns (array<float>).

* brute_force_topk — exact cosine top-k: broadcast the (small) query set
  against the corpus; one scan, no shuffle until the per-query top-k
  window. The 100 TB shape: queries are broadcast, corpus is scanned
  once, k rows per query survive.
* lsh_topk — the scale path: random-hyperplane signatures bucket the
  corpus; exact cosine is computed only inside the query's bucket.
  Hyperplanes are deterministic literals (operators/hashing.py) so the
  DuckDB oracle shares them.

All arithmetic is double-precision with sequential fold order, matching
the SQL oracle bit-for-bit; scores are rounded to 6 dp before ranking
with id tie-breaks so rankings are engine-independent.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from airline_data_warehouse_spark.operators.dedup import (
    _persist,
    _release_one,
    cache_scope,
)
from airline_data_warehouse_spark.operators.hashing import (
    gaussian_plane_weights, hyperplane_weights)
from airline_data_warehouse_spark.sources.atomic import (
    _commit,
    _exists,
    read_table,
    upsert_parquet,
)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def _lit_vec(w: list[float]) -> Column:
    """Array-of-double literal via ONE parsed SQL expression. Building it
    from per-element F.lit()s costs a py4j round trip per element —
    measured ~1 s of driver time per 2048-element plane matrix, paid on
    EVERY plan construction — where the SQL parser does it in ~5 ms.
    repr() is Python's shortest round-trip form and the D suffix parses
    as an exact double, so values are bit-identical to the lit path
    (asserted equal at introduction; holds for the ±1 JL planes and the
    6-dp Gaussian LSH planes alike — both round-trip exactly)."""
    return F.expr("array(" + ",".join(f"{x!r}D" for x in w) + ")")


def _lit_mat(planes: list[list[float]]) -> Column:
    return F.expr(
        "array(" + ",".join(
            "array(" + ",".join(f"{x!r}D" for x in w) + ")" for w in planes)
        + ")")


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0),
                              lambda acc, x: acc + x.cast("double") * x.cast("double")))


def _cos(a: Column, b: Column, an: Column, bn: Column) -> Column:
    """Rounded cosine from norms the caller hoisted out of its join
    fan-out (the same doubles, so the value is the naive form's)."""
    return F.round(_dot(a, b) / (an * bn), 6)


def cosine(a: Column, b: Column) -> Column:
    return _cos(a, b, _norm(a), _norm(b))


def _rank_topk(df: DataFrame, score: str, k: int,
               ascending: bool = False) -> DataFrame:
    """Each query's k best rows by ``score``, neighbor-id tie-break:
    (query_id, neighbor_id, score, rank INT) — a window per query,
    never a global sort."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = Window.partitionBy("query_id").orderBy(order,
                                               F.col("neighbor_id").asc())
    return (df.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= k)
              .select("query_id", "neighbor_id", score,
                      F.col("rank").cast("int").alias("rank")))


def _finite_ok(vec: Column) -> Column:
    """Scoring-path hygiene predicate: fully finite AND nonzero norm.

    Both Spark and DuckDB order NaN above every real AND evaluate
    NaN >= t as true, so one poisoned vector ranks first in every
    cosine top-k and passes every threshold filter it touches — at
    100 TB one corrupt shard silently wins every query (pinned by
    tests/test_fuzz.py::test_adversarial_embeddings). Since r08 every
    cosine-scoring operator applies this guard at entry (the DuckDB
    oracles carry the identical predicate, so parity is structural);
    `finite_vectors` remains the explicit pre-filter for when a
    dimension check or an early cut is wanted."""
    return (F.forall(vec, lambda x: ~F.isnan(x)
                     & (x > float("-inf")) & (x < float("inf")))
            & (_norm(vec) > 0))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k neighbors for each query (self-match excluded).

    Norms are hoisted into the per-side projections — computed once per
    vector, not once per (query, neighbor) pair; same doubles, same
    rounding, so results are bit-identical to the naive form."""
    corpus = corpus.filter(_finite_ok(F.col(vec_col)))
    queries = queries.filter(_finite_ok(F.col(vec_col)))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
                       _norm(F.col(vec_col)).alias("qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
                      _norm(F.col(vec_col)).alias("cn"))
    scored = (F.broadcast(q).crossJoin(c)
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      _cos(F.col("qv"), F.col("cv"), F.col("qn"),
                           F.col("cn")).alias("score")))
    return _rank_topk(scored, "score", k)


def hyperplane_bucket(vec: Column | str, n_planes: int = 8, dims: int = 64) -> Column:
    """Random-hyperplane LSH bucket id: bit j = sign of <vec, plane_j>.

    Planes are deterministic GAUSSIAN (Charikar 2002 SimHash: collision
    probability 1 - θ/π holds in every subspace). The r07 ±1 Rademacher
    planes had a diagnosed blind spot — on low-rank / axis-aligned
    inputs every ±1 boundary lies on a ±45° subspace diagonal, so
    banding could never recover recall there; see
    hashing.gaussian_plane_weights / hyperplane_weights docstrings.

    Pass the vector COLUMN NAME to get the fast construction path: the
    whole bucket expression is generated as one SQL string and parsed in
    a single py4j call. The Column path builds the identical expression
    through the Python HOF API, which costs ~25 ms of driver time per
    plane in py4j lambda round trips (~0.5 s per call site at 8 planes —
    measured; it dominated similarity_topk_lsh's bench time, since plan
    CONSTRUCTION is paid per query even when execution is distributed).
    Both paths produce the same aggregate(zip_with(...)) expression tree,
    so results are bit-identical."""
    planes = gaussian_plane_weights(n_planes, dims)
    if isinstance(vec, str):
        terms = []
        for j, w in enumerate(planes):
            arr = "array(" + ",".join(f"{x!r}D" for x in w) + ")"
            dot = (f"aggregate(zip_with(`{vec}`, {arr}, "
                   "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                   "0.0D, (acc, x) -> acc + x)")
            terms.append(f"(CASE WHEN round({dot}, 9) > 0 "
                         f"THEN {1 << j} ELSE 0 END)")
        return F.expr("0 + " + " + ".join(terms))
    bucket = F.lit(0)
    for j, w in enumerate(planes):
        d = F.round(_dot(vec, _lit_vec(w)), 9)
        bucket = bucket + F.when(d > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def hyperplane_band_keys_sql(vec: str, bands: int, rows_per_band: int,
                             dims: int = 64) -> list[Column]:
    """Per-band hyperplane keys built as parsed SQL strings — the fast
    construction path (one py4j call per band instead of ~25 ms of
    lambda round trips per plane; same expression tree and rounding as
    `hyperplane_band_keys`, so keys are bit-identical)."""
    planes = gaussian_plane_weights(bands * rows_per_band, dims)
    keys = []
    for b in range(bands):
        terms = []
        for r in range(rows_per_band):
            w = planes[b * rows_per_band + r]
            arr = "array(" + ",".join(f"{x!r}D" for x in w) + ")"
            dot = (f"aggregate(zip_with(`{vec}`, {arr}, "
                   "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                   "0.0D, (acc, x) -> acc + x)")
            terms.append(f"(CASE WHEN round({dot}, 9) > 0 "
                         f"THEN {1 << r} ELSE 0 END)")
        keys.append(F.expr("0 + " + " + ".join(terms)))
    return keys


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             bands: int | None = 8, rows_per_band: int | None = 4,
             dims: int = 64) -> DataFrame:
    """Approximate top-k via BANDED (multi-table) hyperplane LSH: a
    corpus vector is a candidate for a query iff ANY of the ``bands``
    band keys collide (OR-of-ANDs), then exact cosine ranks the
    candidate set.

    r07 rewrite: the original single-table design (one 2^8-bucket
    signature, candidates = the query's own bucket) measured recall@5
    of only 0.04 against brute force at sf0.1 — a 256-way partition of
    64-dim space almost never co-locates true neighbors. Banding is the
    standard amplification (same shape as `embedding_near_dup_pairs`,
    measured pair recall 1.0): recall comes from the band count, while
    per-query candidate mass ≈ bands × n / 2^rows_per_band — at larger
    corpus sizes raise ``rows_per_band`` (buckets grow 2^R, candidates
    shrink) and add bands to hold recall. Candidate ids are deduped
    across bands BEFORE vectors are joined back, so the exact-cosine
    stage never rescores a pair per collision. bands=None derives
    (bands, rows_per_band) from the corpus count via
    planned_band_params."""
    bands, rows_per_band = _resolve_band_params(corpus, bands,
                                                rows_per_band, (8, 4))
    scored = _lsh_scored(corpus, queries, id_col, vec_col,
                         bands, rows_per_band, dims)
    return _rank_topk(scored, "score", k)


def _lsh_scored(corpus: DataFrame, queries: DataFrame, id_col: str,
                vec_col: str, bands: int, rows_per_band: int,
                dims: int) -> DataFrame:
    """Shared LSH candidate + exact-cosine scoring stage of lsh_topk /
    hard_negatives: (query_id, neighbor_id, score) for every banded
    collision, deduped across bands before vectors join back."""
    corpus = corpus.filter(_finite_ok(F.col(vec_col)))
    queries = queries.filter(_finite_ok(F.col(vec_col)))
    keys = hyperplane_band_keys_sql(vec_col, bands, rows_per_band, dims)
    banded_c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(F.array(*keys)).alias("band", "band_key"))
    banded_q = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(F.array(*keys)).alias("band", "band_key"))
    cand = (F.broadcast(banded_q).join(banded_c, ["band", "band_key"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id").distinct())
    qvec = queries.select(F.col(id_col).alias("query_id"),
                          F.col(vec_col).alias("qv"),
                          _norm(F.col(vec_col)).alias("qn"))
    # corpus vectors: shuffle_hash, never broadcast (corpus-proportional
    # array payload — see embedding_near_dup_pairs); the query side stays
    # a broadcast, tiny by contract
    cvec = (corpus.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).alias("cv"),
                          _norm(F.col(vec_col)).alias("cn"))
                  .hint("shuffle_hash"))
    return (cand.join(F.broadcast(qvec), "query_id")
                .join(cvec, "neighbor_id")
                .select("query_id", "neighbor_id",
                        _cos(F.col("qv"), F.col("cv"), F.col("qn"),
                             F.col("cn")).alias("score")))


def hard_negatives(corpus: DataFrame, queries: DataFrame, k: int = 5,
                   low: float = 0.3, high: float = 0.95,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   bands: int = 8, rows_per_band: int = 4,
                   dims: int = 64) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training: for
    each anchor (query), the top-k most-similar corpus vectors whose
    cosine sits in [low, high) — similar enough to be informative
    negatives, but below the near-duplicate band where a "negative" is
    really an unlabeled positive (the classic false-negative trap in
    dense-retriever training; cf. DPR / ANCE hard-negative selection).

    Same banded-LSH candidate + exact-cosine machinery as lsh_topk
    (identical scale shape: queries broadcast, corpus never broadcast,
    candidates ∝ bands × n / 2^rows); the score band filters BEFORE the
    per-anchor rank window, so top-k ranks negatives only. At 100 TB
    this is the mining pass a retrieval pipeline runs per training
    epoch against the frozen corpus index.
    """
    # compute-once barrier before the band filter (r16): pushed into
    # the scoring join's condition the two band predicates would each
    # re-evaluate the interpreted-HOF dot product per candidate
    scored = _persist(_lsh_scored(corpus, queries, id_col, vec_col,
                                  bands, rows_per_band, dims))
    banded = scored.filter((F.col("score") >= low) & (F.col("score") < high))
    return _rank_topk(banded, "score", k)


def hyperplane_band_keys(vec: Column, bands: int = 4, rows_per_band: int = 8,
                         dims: int = 64) -> list[Column]:
    """Per-band hyperplane keys for banded (multi-table) cosine LSH: band b
    packs the sign bits of planes [b*R, (b+1)*R) into an int key. A pair is
    a candidate iff ANY band key collides (OR-of-ANDs), so recall comes
    from the band count while bucket granularity — and therefore the size
    of the within-bucket self-join — comes from 2^rows_per_band per band.
    At larger corpus sizes raise rows_per_band (buckets grow 2^R) and
    bands together to hold recall."""
    planes = gaussian_plane_weights(bands * rows_per_band, dims)
    keys = []
    for b in range(bands):
        key = F.lit(0)
        for r in range(rows_per_band):
            w = planes[b * rows_per_band + r]
            d = F.round(_dot(vec, _lit_vec(w)), 9)
            key = key + F.when(d > 0, F.lit(1 << r)).otherwise(F.lit(0))
        keys.append(key)
    return keys


def embedding_near_dup_pairs(corpus: DataFrame, threshold: float = 0.95,
                             id_col: str = "vec_id", vec_col: str = "embedding",
                             bands: int | None = 4,
                             rows_per_band: int | None = 8,
                             dims: int = 64) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id1 < id2) — the embedding
    twin of ngram_jaccard_pairs, banded like the MinHash path. See
    _banded_scored_pairs for the candidate/verify shape; this is that
    scorer plus the threshold filter. bands=None derives (bands,
    rows_per_band) from the corpus count via planned_band_params —
    band width then grows ~log n instead of a constant silently
    degrading into the ~n²/2^R collision floor."""
    bands, rows_per_band = _resolve_band_params(corpus, bands,
                                                rows_per_band, (4, 8))
    # compute-once barrier before the threshold filter (r16, the
    # dedup._verified_jaccard_pairs rationale): without it Catalyst
    # pushes the score predicate into the verify-join condition, where
    # join-condition evaluation has no common-subexpression elimination
    # and every candidate pays the 64-mult interpreted-HOF dot product
    # twice (once for the predicate, once for the projected score)
    scored = _persist(_banded_scored_pairs(corpus, id_col, vec_col,
                                           bands, rows_per_band, dims))
    return scored.filter(F.col("score") >= threshold)


def _banded_scored_pairs(corpus: DataFrame, id_col: str, vec_col: str,
                         bands: int, rows_per_band: int,
                         dims: int) -> DataFrame:
    """Exact-cosine-scored banded-LSH candidate pairs (id1 < id2,
    score) — the collision-linear candidate engine shared by the
    near-dup threshold filter (embedding_near_dup_pairs) and the banded
    mutual-kNN graph (mutual_knn_pairs_banded).

    Candidate generation explodes each vector into ``bands`` (band, key)
    rows — ids only, never vectors — and self-joins on the band key, so
    candidate volume scales with actual key collisions (tunable via
    rows_per_band), not bucket². Pairs colliding in several bands are
    deduplicated BEFORE the exact-cosine verify, which joins the vectors
    back by id. Replaces the r01 single-table design whose 2^8 buckets
    made the self-join quadratic in corpus/256.

    The plane dot products run ONCE per vector as a single dots-array
    projection BELOW the band explode (the Generate operator's child
    evaluates `_dots` once; band keys are computed per band row from the
    passed-through array). The earlier per-key formulation built an
    independent fold expression per plane, which the interpreted HOF
    path re-evaluated per band key — 2× slower measured at sf0.1, worse
    as bands grow. Fold order and rounding are unchanged, so keys stay
    bit-identical to the SQL oracle's."""
    corpus = corpus.filter(_finite_ok(F.col(vec_col)))
    planes = gaussian_plane_weights(bands * rows_per_band, dims)
    plane_mat = _lit_mat(planes)
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dots = F.transform(plane_mat, lambda p: F.round(
        F.aggregate(F.zip_with(F.col("_vd"), p, lambda a, b: a * b),
                    F.lit(0.0), lambda acc, x: acc + x), 9))
    key = F.lit(0)
    for r in range(rows_per_band):
        key = key + F.when(
            F.element_at(F.col("_dots"), F.col("band") * rows_per_band + r + 1) > 0,
            F.lit(1 << r)).otherwise(F.lit(0))
    # id-repartition before the plane-dot projection: the heavy per-vector
    # work (bands*rows dot products through the interpreted HOF path) must
    # track cores, not the input's file count — a small parquet reads as
    # 1-2 tasks and serializes the projection (measured 3.5→<2 s at
    # sf0.1; same fix the shingle family applies before md5)
    cores = corpus.sparkSession.sparkContext.defaultParallelism
    # persist (owned by the caller's dedup.cache_scope):
    # the self-join consumes the banded table twice — without the cache
    # the dot products run once per join side
    banded = _persist(
        corpus.repartition(cores, F.col(id_col))
              .withColumn("_vd", vec_d)
              .withColumn("_dots", dots)
              .select(F.col(id_col), F.col("_dots"),
                      F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"))
              .select(id_col, F.col("band").cast("int").alias("band"),
                      key.alias("band_key")))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("id1"),
                     F.col(f"b.{id_col}").alias("id2"))
             .distinct())
    # shuffle_hash on the vector-payload sides: the corpus grows without
    # bound and a vector frame's in-heap hash-map expansion far exceeds
    # its shuffle bytes, so an AQE broadcast decision here is the
    # OOM-at-scale class the r07 8x probe caught on the shingle twin
    v1 = (corpus.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("v1"),
                        _norm(F.col(vec_col)).alias("n1")).hint("shuffle_hash"))
    v2 = (corpus.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("v2"),
                        _norm(F.col(vec_col)).alias("n2")).hint("shuffle_hash"))
    return (cand.join(v1, "id1").join(v2, "id2")
                .select("id1", "id2",
                        _cos(F.col("v1"), F.col("v2"), F.col("n1"),
                             F.col("n2")).alias("score")))


def mutual_knn_pairs_banded(corpus: DataFrame, k: int = 3,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            bands: int | None = 4,
                            rows_per_band: int | None = 8,
                            dims: int = 64) -> DataFrame:
    """Mutual approximate-kNN graph edges, COLLISION-LINEAR: candidates
    come from the certified banded hyperplane LSH (never all-pairs,
    never fixed-bucket quadratic), each candidate pair gets its exact
    cosine, each vector keeps its top-k among ITS OWN candidates, and
    an edge survives only when RECIPROCATED — reciprocity prunes hub
    edges, so connected components are tight semantic neighborhoods.
    Canonical (id1 < id2) output.

    This is the 100 TB form of the mutual-kNN construction: the
    fixed-quantizer variant (mutual_knn_pairs) is exact WITHIN lists
    but its per-list quadratic blows up when the quantizer's k does not
    scale with the corpus — the 8× probe measured 18.9× growth on a
    fixed 8-list quantizer (SCALING.md r12), exactly the SemDeDup
    contract violation. Banding keeps candidate volume proportional to
    real key collisions at any corpus size. The kNN is approximate in
    the LSH sense (a neighbor sharing no band key is invisible — such a
    pair is low-cosine with overwhelming probability at 8 rows/band);
    every step is 6-dp-rounded with id tie-breaks, so the graph is
    deterministic by arithmetic and the oracle replays it exactly."""
    bands, rows_per_band = _resolve_band_params(corpus, bands,
                                                rows_per_band, (4, 8))
    # persist the scored pairs: the symmetrization union reads them
    # twice, and without the cache the whole candidate+verify join
    # subtree (the operator's dominant cost) runs once per union branch
    # (r16, guide §2.4 reuse); pair-proportional ids+score rows only
    scored = _persist(_banded_scored_pairs(corpus, id_col, vec_col,
                                           bands, rows_per_band, dims))
    sym = scored.select(F.col("id1").alias("qid"),
                        F.col("id2").alias("nid"), "score") \
                .unionByName(scored.select(
                    F.col("id2").alias("qid"),
                    F.col("id1").alias("nid"), "score"))
    return _mutual_edges(sym, k)


def _mutual_edges(scored: DataFrame, k: int) -> DataFrame:
    """Reciprocated top-k edges of a directed (qid, nid, score) frame
    as canonical (id1 < id2) pairs: per-qid window, score desc with
    nid tie-break. Top-k is persisted: the reciprocity semi-join reads
    it as both `topk` and its flipped `rev` — without the cache the
    scoring subtree + window run once per side (r16, guide §2.4
    reuse)."""
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(),
                                          F.col("nid").asc())
    topk = _persist(scored.withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") <= k).select("qid", "nid"))
    rev = topk.select(F.col("nid").alias("qid"), F.col("qid").alias("nid"))
    return (topk.join(rev, ["qid", "nid"], "left_semi")
            .filter(F.col("qid") < F.col("nid"))
            .select(F.col("qid").alias("id1"), F.col("nid").alias("id2")))


def semantic_dedup_pairs(corpus: DataFrame, centroids: DataFrame,
                         threshold: float = 0.95, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al., 2023): assign every
    vector to its nearest coarse-quantizer centroid, then compute exact
    cosine only WITHIN a cluster; (id1, id2, list_id, score) for pairs
    at/above the threshold. Complements the hyperplane-LSH near-dup
    path: clusters give interpretable scoping (and reuse an existing
    IVF quantizer) where banding gives collision-driven candidates.

    Scale shape: centroids broadcast (ivf_assign), one shuffle keyed on
    list_id for the within-cluster self-join. The quadratic is bounded
    by cluster size BY DESIGN — SemDeDup's contract is that k grows
    with the corpus so clusters stay bounded (paper uses ~100k clusters
    for LAION); for unbounded corpora with fixed k, use
    embedding_near_dup_pairs, which is collision-linear. Norms are
    hoisted per vector before the join."""
    corpus = corpus.filter(_finite_ok(F.col(vec_col)))
    assigned = _persist(ivf_assign(corpus, centroids, id_col, vec_col)
                        .withColumn("_n", _norm(F.col(vec_col))))
    a, b = assigned.alias("a"), assigned.alias("b")
    score = _cos(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"),
                 F.col("a._n"), F.col("b._n"))
    # compute-once barrier before the threshold filter (r16): pushed
    # into the self-join condition the interpreted-HOF dot product
    # would evaluate twice per within-list pair
    scored = _persist(
        a.join(b, (F.col("a.list_id") == F.col("b.list_id"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
         .select(F.col(f"a.{id_col}").alias("id1"),
                 F.col(f"b.{id_col}").alias("id2"),
                 F.col("a.list_id").alias("list_id"),
                 score.alias("score")))
    return scored.filter(F.col("score") >= threshold)


def mutual_knn_pairs(corpus: DataFrame, centroids: DataFrame, k: int = 3,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     max_list_size: int = 4096) -> DataFrame:
    """Mutual-kNN graph edges: each vector's exact cosine top-k WITHIN
    its own IVF list, kept only when RECIPROCATED (a ∈ knn(b) AND
    b ∈ knn(a)) — the classic mutual-kNN construction whose connected
    components are semantic clusters (reciprocity prunes hub edges: a
    generic vector near everything is in many top-k lists but its own
    top-k reciprocates only its true neighborhood). Canonical
    (id1 < id2) output, one row per undirected edge.

    Scale shape: centroids broadcast (ivf_assign), the scoring
    self-join keyed on list_id with the quadratic bounded by list size
    BY DESIGN (the SemDeDup contract — quantizer k grows with the
    corpus so lists stay bounded); top-k is a per-vector window inside
    the list partitions; the reciprocity check is one edge-keyed
    semi-join. Determinism: 6-dp rounded scores, neighbor-id
    tie-breaks — replayed bit-for-bit by the SQL oracle.

    ``max_list_size`` ENFORCES the contract (VERDICT r12 item 5): the
    r12 8× probe measured 18.9× growth when a stale 8-list quantizer
    met a grown corpus — the per-list quadratic silently eating the
    scale-up. A pre-pass aggregate (over the already-persisted
    assignment, one groupBy count) raises when any list exceeds the
    bound, pointing at `mutual_knn_pairs_banded` (collision-linear,
    no quantizer) instead of letting the self-join go quadratic; a
    caller who has sized executors for bigger lists can raise the
    bound deliberately."""
    corpus = corpus.filter(_finite_ok(F.col(vec_col)))
    assigned = _persist(ivf_assign(corpus, centroids, id_col, vec_col)
                        .withColumn("_n", _norm(F.col(vec_col))))
    biggest = (assigned.groupBy("list_id")
               .agg(F.count(F.lit(1)).alias("c"))
               .agg(F.max("c").alias("mx")).collect()[0]["mx"])
    if biggest is not None and biggest > max_list_size:
        raise ValueError(
            f"mutual_knn_pairs: largest IVF list holds {biggest} "
            f"vectors (> max_list_size={max_list_size}) — the per-list "
            "quadratic would dominate (the quantizer's k must grow "
            "with the corpus). Retrain a bigger quantizer, raise "
            "max_list_size deliberately, or use mutual_knn_pairs_banded"
            " (collision-linear, no quantizer needed)")
    a, b = assigned.alias("a"), assigned.alias("b")
    score = _cos(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"),
                 F.col("a._n"), F.col("b._n"))
    scored = (a.join(b, (F.col("a.list_id") == F.col("b.list_id"))
                     & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")))
              .select(F.col(f"a.{id_col}").alias("qid"),
                      F.col(f"b.{id_col}").alias("nid"),
                      score.alias("score")))
    return _mutual_edges(scored, k)


def label_centroids(corpus: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding", label_col: str = "label") -> DataFrame:
    """Per-label centroid vectors, computed dimension-wise via posexplode
    (one shuffle keyed on (label, dim)). Exact-decimal accumulation so
    the result is independent of aggregation order — float32 inputs are
    exactly representable in DECIMAL(20,10)."""
    corpus = corpus.filter(_finite_ok(F.col(vec_col)))
    exploded = corpus.select(
        F.col(label_col),
        F.posexplode(F.col(vec_col)).alias("dim", "val"))
    summed = (exploded.groupBy(label_col, "dim")
              .agg(F.sum(F.col("val").cast("decimal(20,10)")).alias("s"),
                   F.count("*").alias("n")))
    return summed.select(
        label_col, F.col("dim").cast("int").alias("dim"),
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("centroid_val"))


def centroid_vectors(corpus: DataFrame, label_col: str = "label",
                     vec_col: str = "embedding") -> DataFrame:
    """Centroids as (list_id, centroid) array rows — the coarse quantizer
    table for IVF. Built from label_centroids' exact per-dim means and
    re-assembled in dim order (deterministic array layout)."""
    per_dim = label_centroids(corpus, vec_col=vec_col, label_col=label_col)
    assembled = (per_dim.groupBy(label_col)
                 .agg(F.array_sort(F.collect_list(F.struct("dim", "centroid_val")))
                       .alias("pairs"))
                 .select(F.col(label_col).alias("list_id"),
                         F.transform("pairs", lambda p: p["centroid_val"])
                          .alias("centroid")))
    return assembled


def ivf_assign(corpus: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Inverted-file assignment: each vector goes to its highest-cosine
    centroid (rounded score, list_id tie-break). Centroids broadcast; one
    window over the n_centroids-fanout — no shuffle of the corpus beyond
    the per-vector argmax."""
    return (_nearest_centroids(corpus, id_col, vec_col, centroids, 1)
            .select(id_col, vec_col, "list_id"))


def _nearest_centroids(df: DataFrame, key: str, vec: str,
                       centroids: DataFrame, n: int) -> DataFrame:
    """The IVF probe: each ``key`` row's ``n`` highest-cosine
    (list_id, centroid) rows, as df's columns plus list_id, centroid and
    the rounded score ``cs`` (list_id tie-break). The centroid table
    (n_lists rows) is broadcast and both norms are hoisted out of the
    cross join; one window over the n_lists fan-out per key."""
    scored = (df.withColumn("_qn", _norm(F.col(vec)))
              .crossJoin(F.broadcast(
                  centroids.withColumn("_cn", _norm(F.col("centroid")))))
              .select(*df.columns, "list_id", "centroid",
                      _cos(F.col(vec), F.col("centroid"), F.col("_qn"),
                           F.col("_cn")).alias("cs")))
    w = Window.partitionBy(key).orderBy(F.col("cs").desc(),
                                        F.col("list_id").asc())
    return (scored.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") <= n))


def _ivf_search(probes: DataFrame, lists: DataFrame, k: int, id_col: str,
                vec_col: str) -> DataFrame:
    """Exact rounded cosine of each probe row (query_id, qv, qn,
    list_id) against the members (id, vec, list_id) of its probed list,
    self-matches excluded, ranked top-k."""
    scored = (probes.join(lists.withColumn("_vn", _norm(F.col(vec_col))),
                          "list_id")
              .filter(F.col("query_id") != F.col(id_col))
              .select("query_id", F.col(id_col).alias("neighbor_id"),
                      _cos(F.col("qv"), F.col(vec_col), F.col("qn"),
                           F.col("_vn")).alias("score")))
    return _rank_topk(scored, "score", k)


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5, n_probe: int = 3,
             id_col: str = "vec_id", vec_col: str = "embedding",
             label_col: str = "label") -> DataFrame:
    """IVF approximate top-k: probe the query's ``n_probe`` nearest
    inverted lists, exact cosine only within them. Complements lsh_topk:
    IVF recall degrades gracefully with n_probe instead of bucket
    boundaries."""
    corpus = corpus.filter(_finite_ok(F.col(vec_col)))
    queries = queries.filter(_finite_ok(F.col(vec_col)))
    cents = centroid_vectors(corpus, label_col, vec_col)
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"),
                       _norm(F.col(vec_col)).alias("qn"))
    probes = _nearest_centroids(q, "query_id", "qv", cents, n_probe)
    return _ivf_search(probes, assigned, k, id_col, vec_col)


def quantize_embeddings_int8(corpus: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 scalar quantization — the compression
    step a 100 TB embedding store runs before ANN serving (4× smaller
    than float32, 8× than float64; IVF/LSH recall loss is typically
    <1 % at 8 bits).

    scale = max(|x|)/127 (exact — NOT decimal-rounded: rounding the
    scale collapsed vectors with max|x| < ~6.35e-8 to all-zero codes
    and could push |code| past 127 near scale ≈ 1e-9; a raw IEEE
    division is also bit-identical across engines, ADVICE r06),
    code_i = clamp(round(x_i/scale), −127, 127). Output: (id, scale,
    n_dims, codes_hash, mse) — the md5 over the comma-joined codes
    makes the full code vector verifiable without shipping it; mse is
    the reconstruction error (0.0 for empty vectors — guarded
    divisor). All-zero vectors quantize to all-zero codes with scale 0
    (guarded division). Pure map over the corpus: no shuffle, no UDF,
    codegen-friendly array expressions.
    """
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    tmp = (corpus.select(F.col(id_col), vd.alias("_vd"))
           .withColumn("_scale",
                       F.coalesce(F.array_max(F.transform(F.col("_vd"), F.abs)),
                                  F.lit(0.0)) / F.lit(127.0))
           .withColumn("_codes",
                       F.when(F.col("_scale") == 0,
                              F.transform(F.col("_vd"),
                                          lambda x: F.lit(0)))
                        .otherwise(F.transform(
                            F.col("_vd"),
                            lambda x: F.greatest(
                                F.lit(-127),
                                F.least(F.lit(127),
                                        F.round(x / F.col("_scale"), 0)
                                         .cast("int")))))))
    sq_err = F.zip_with(F.col("_vd"), F.col("_codes"),
                        lambda x, c: (x - c.cast("double") * F.col("_scale"))
                                     * (x - c.cast("double") * F.col("_scale")))
    return tmp.select(
        F.col(id_col),
        F.col("_scale").alias("scale"),
        F.size("_vd").cast("int").alias("n_dims"),
        F.md5(F.array_join(F.transform(F.col("_codes"),
                                       lambda c: c.cast("string")), ","))
         .alias("codes_hash"),
        F.when(F.size("_vd") == 0, F.lit(0.0))
         .otherwise(F.round(F.aggregate(sq_err, F.lit(0.0),
                                        lambda acc, x: acc + x)
                            / F.size("_vd"), 9)).alias("mse"))


def random_projection(corpus: DataFrame, out_dims: int = 8,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      dims: int = 64) -> DataFrame:
    """Johnson-Lindenstrauss random projection: reduce each vector to
    ``out_dims`` coordinates p_j = <v, s_j> / sqrt(out_dims), where s_j
    are deterministic ±1 sign vectors (Achlioptas, "Database-friendly
    random projections", 2001 — ±1 entries preserve pairwise distances
    in expectation just like Gaussian planes, and stay exactly
    representable so both engines compute identical products).

    The dimensionality-reduction step a 100 TB embedding pipeline runs
    before clustering or coarse ANN when the full width is too wide to
    shuffle: 64→8 dims is an 8× cut in shuffle bytes for every
    downstream groupBy/join on vectors. Pure map over the corpus — no
    shuffle, no UDF; one whole-stage-codegen projection per output dim,
    built as a single parsed SQL expression (the py4j-cheap path, same
    trade as hyperplane_bucket). Signs use their own md5 seed family
    ("adw-rp") so the projection never aliases the LSH bucket planes.

    Each dot is rounded to 9 dp, then scaled and rounded to 6 dp — the
    identical double-rounding the DuckDB oracle replays, making the
    approximate operator bit-exactly checkable (the repo-wide parity
    convention, similarity.py cosine / hyperplane_bucket).
    """
    planes = hyperplane_weights(out_dims, dims, seed="adw-rp")
    inv = 1.0 / math.sqrt(out_dims)
    cols = []
    for j, w in enumerate(planes):
        arr = "array(" + ",".join(f"{x!r}D" for x in w) + ")"
        dot = (f"aggregate(zip_with(`{vec_col}`, {arr}, "
               "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
               "0.0D, (acc, x) -> acc + x)")
        cols.append(F.expr(f"round(round({dot}, 9) * {inv!r}D, 6)")
                    .alias(f"p{j}"))
    return corpus.select(F.col(id_col), *cols)


def kmeans_assign(corpus: DataFrame, k: int = 8, iters: int = 2,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Distributed spherical k-means (Lloyd's iterations, cosine
    objective) — trains the IVF coarse quantizer from the vectors
    themselves instead of borrowing a label column, making the ANN /
    SemDeDup family self-contained when no labels exist.

    Deterministic by construction so the run is replayable and
    oracle-checkable: seeds are the ``k`` lowest-id vectors and keep
    their vec_id as the cluster id (no order-assigning window over the
    corpus); each assignment is argmax cosine with a rounded score and
    a cluster-id tie-break; each update is the exact-decimal per-dim
    mean (label_centroids) — independent of aggregation order, so the
    same clustering falls out at any parallelism.

    Per iteration: one broadcast of the k×dims centroid table, one
    per-vector argmax window PARTITIONED by vector id, one
    (cluster, dim)-keyed mean. Nothing scales with corpus² and no
    centroid state lives on the driver; ``iters`` is fixed (the
    IVF-training shape) rather than convergence-tested — the
    connected-components operator is the iterate-to-fixpoint
    precedent, this one is deliberately bounded.

    Returns the FINAL assignment (id, cluster_id, score): cluster_id
    is the seed vec_id, score the rounded cosine to the final centroid.
    """
    corpus = corpus.filter(_finite_ok(F.col(vec_col)))
    seeds = (corpus.orderBy(F.col(id_col).asc()).limit(k)
             .select(F.col(id_col).alias("list_id"),
                     F.col(vec_col).cast("array<double>").alias("centroid")))
    vecs = corpus.select(F.col(id_col),
                         F.col(vec_col).cast("array<double>").alias("_v"))
    centroids = seeds
    assigned = None
    for it in range(iters):
        assigned = (_nearest_centroids(vecs, id_col, "_v", centroids, 1)
                    .select(id_col, "_v", "list_id",
                            F.col("cs").alias("score")))
        centroids = centroid_vectors(assigned, label_col="list_id",
                                     vec_col="_v")
        # deep runs: truncate lineage every few rounds, the same lazy
        # localCheckpoint trade connected_components uses — each
        # iteration otherwise nests the whole prior plan, and Catalyst
        # re-optimizes the growing tree per action. No-op at the
        # registry's iters=2 (plan unchanged, certification intact).
        if it >= 2 and (it + 1) % 3 == 0:
            assigned = assigned.localCheckpoint(eager=False)
            centroids = centroid_vectors(assigned, label_col="list_id",
                                         vec_col="_v")
    return assigned.select(
        F.col(id_col),
        F.col("list_id").cast("long").alias("cluster_id"),
        F.col("score"))


def _lowest_id_dims(corpus: DataFrame, id_col: str,
                    vec_col: str) -> int | None:
    """Length of the lowest-id vector (None for an empty corpus) — the
    index builds' dims pin: a 1-row scalar peek, same class as the CC
    convergence check, so wrong-dimension vectors can't smuggle into an
    arbitrary list with an all-NULL argmax."""
    ref = (corpus.select(F.size(F.col(vec_col)).alias("n"),
                         F.col(id_col).alias("i"))
                 .orderBy("i").limit(1).collect())
    return int(ref[0]["n"]) if ref else None


def _train_coarse(corpus: DataFrame, n_lists: int, iters: int,
                  id_col: str, vec_col: str) -> tuple[DataFrame, DataFrame]:
    """Train the coarse quantizer: (trained, coarse) where trained is
    (id, _v, list_id) — double vectors with their LAST k-means
    assignment, persisted (owned by the caller's cache_scope) because
    the centroid update, the residual encode and the ADD step all read
    it — and coarse the final centroid update (list_id, centroid),
    which that assignment lags by one step (Lloyd's, bounded iters)."""
    labels = kmeans_assign(corpus, k=n_lists, iters=iters,
                           id_col=id_col, vec_col=vec_col)
    trained = _persist(
        corpus.select(F.col(id_col),
                      F.col(vec_col).cast("array<double>").alias("_v"))
              .join(labels.select(id_col,
                                  F.col("cluster_id").alias("list_id")),
                    id_col))
    return trained, centroid_vectors(trained, label_col="list_id",
                                     vec_col="_v")


def _train_and_add(corpus: DataFrame, n_lists: int, iters: int,
                   id_col: str, vec_col: str) -> tuple[DataFrame, DataFrame]:
    """TRAIN then ADD, the FAISS split both index builds take: after
    `_train_coarse` every vector is re-assigned against the final
    centroids (`ivf_assign`), so the stored lists are exactly the
    stored quantizer's Voronoi partition — what the index queries probe
    and what appends assign against. Returns (labeled (id, _v,
    list_id), persisted; coarse (list_id, centroid))."""
    trained, coarse = _train_coarse(corpus, n_lists, iters, id_col, vec_col)
    labeled = _persist(ivf_assign(trained.select(id_col, "_v"), coarse,
                                  id_col=id_col, vec_col="_v"))
    return labeled, coarse


@cache_scope()
def ivf_index_build(corpus: DataFrame, index_dir: str, k: int = 8,
                    iters: int = 2, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Materialize an IVF index on disk: k-means-trained centroids plus
    the corpus laid out as parquet PARTITIONED BY inverted list — so a
    query touching ``n_probe`` lists physically reads n_probe/k of the
    corpus (directory-level partition pruning), which is the property
    that makes IVF an index rather than a scan order.

    Layout: ``{index_dir}/centroids.parquet`` (k rows) and
    ``{index_dir}/lists.parquet/cluster_id=<id>/`` (the vectors, one
    directory per list). Each vector's list is its nearest stored
    centroid (`_train_and_add`). Writing repartitions BY THE PARTITION
    COLUMN first so each list directory is written by the tasks owning
    that key — without it, every task appends a file to every list
    (tasks × k small files, the classic partitioned-write mistake).
    """
    # hygiene gate (see finite_vectors), dims pinned by the lowest id
    corpus = finite_vectors(corpus, vec_col,
                            dims=_lowest_id_dims(corpus, id_col, vec_col))
    labeled, coarse = _train_and_add(corpus, k, iters, id_col, vec_col)
    (labeled.select(id_col, F.col("_v").alias(vec_col),
                    F.col("list_id").alias("cluster_id"))
            .repartition(F.col("cluster_id"))
            .write.mode("overwrite").partitionBy("cluster_id")
            .parquet(f"{index_dir}/lists.parquet"))
    (coarse.withColumnRenamed("list_id", "cluster_id")
           .write.mode("overwrite").parquet(f"{index_dir}/centroids.parquet"))


def ivf_index_topk(spark, index_dir: str, queries: DataFrame, k: int = 5,
                   n_probe: int = 3, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Query a materialized IVF index with physical partition pruning:
    score the query set against the (tiny, collected) centroid table to
    pick each query's ``n_probe`` nearest lists, then scan ONLY those
    list directories via an IN-list partition filter and rank exact
    cosine within them.

    The one driver-side step is collecting the probe-list union —
    bounded by |queries| × n_probe ints (the query set is small by the
    same contract brute_force_topk broadcasts it); the corpus itself is
    never collected, and the pruned scan is visible as PartitionFilters
    in the physical plan (pinned by test_ivf_index_prunes_partitions).

    Results are identical to the in-memory `ivf_topk` run with
    ``label_col`` = the `kmeans_assign` cluster_id of the same corpus,
    k and iters: both take the centroids from those labels, file every
    vector under its nearest centroid, and share the probe
    (`_nearest_centroids`) and the within-list ranking (`_ivf_search`).
    """
    cents = (spark.read.parquet(f"{index_dir}/centroids.parquet")
             .withColumnRenamed("cluster_id", "list_id"))
    q = queries.filter(_finite_ok(F.col(vec_col))).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"))
    probes = _nearest_centroids(q.withColumn("qn", _norm(F.col("qv"))),
                                "query_id", "qv", cents, n_probe)
    probe_lists = sorted({r["list_id"] for r in
                          probes.select("list_id").distinct().collect()})
    lists = (spark.read.parquet(f"{index_dir}/lists.parquet")
             .filter(F.col("cluster_id").isin(probe_lists))
             .withColumnRenamed("cluster_id", "list_id"))
    return _ivf_search(probes, lists, k, id_col, vec_col)


def finite_vectors(df: DataFrame, vec_col: str = "embedding",
                   dims: int | None = None) -> DataFrame:
    """Vector hygiene pre-filter for the ANN/dedup family: keep only
    rows whose embedding is fully finite (no NaN/±Inf), has a nonzero
    norm, and — when ``dims`` is given — the expected length.

    Both Spark and DuckDB order NaN above every real number, so a
    single NaN-poisoned vector ranks FIRST in every cosine top-k it
    touches (pinned by tests/test_fuzz.py::test_adversarial_embeddings)
    — at 100 TB one corrupt shard silently wins every query. Since r08
    the cosine-scoring operators apply the finite+nonzero-norm part of
    this guard at entry themselves (see `_finite_ok`; the DuckDB
    oracles carry the identical predicate, so certified parity holds
    structurally — the deferred-to-r08 item in PLANS.md). This explicit
    pre-filter remains the API for the DIMENSION check (scoring can't
    know the expected width) and for cutting garbage once, early, ahead
    of a multi-operator pipeline. `ivf_index_build` applies it
    unconditionally — an index must never ingest garbage.
    """
    ok = _finite_ok(F.col(vec_col))
    if dims is not None:
        ok = ok & (F.size(F.col(vec_col)) == dims)
    return df.filter(ok)


# ---------------------------------------------------------------------------
# Product quantization (Jegou, Douze & Schmid 2011, "Product Quantization
# for Nearest Neighbor Search", IEEE TPAMI) — the memory-compressed ANN
# path that completes the family: brute force (exact), LSH (bucketed),
# IVF (partition-pruned), PQ (byte-coded). At 100 TB of float32
# embeddings the corpus itself is the bottleneck; PQ replaces each
# 64-dim x 4-byte vector with m=4 sub-codes (k=16 -> 4 nibbles), so the
# ADC scan reads codes, never vectors — a 64x smaller scan whose lookup
# tables fit in a broadcast no matter how large the corpus grows.


def _sqdist(a: Column, b: Column, aa: Column | None = None,
            bb: Column | None = None) -> Column:
    """Rounded squared L2 distance via the dot-product identity
    ||a-b||^2 = (<a,a> - 2<a,b>) + <b,b> — built from the same
    sequential-fold dot product the cosine family uses, so the DuckDB
    oracle (list_dot_product with the identical association) is
    bit-for-bit. ``aa``/``bb`` let callers hoist the self-dots out of a
    join fan-out; the value is unchanged."""
    aa = _dot(a, a) if aa is None else aa
    bb = _dot(b, b) if bb is None else bb
    return F.round(aa - F.lit(2.0) * _dot(a, b) + bb, 6)


def _sqdist_exact(a: Column, b: Column) -> Column:
    """EXACT squared L2 for 6-dp-rounded inputs: Σ(aᵢ−bᵢ)² with each
    squared difference cast to DECIMAL(38,12) — the difference of two
    6-dp decimals is a ≤6-dp decimal, its square a ≤12-dp decimal, and
    the double error (~1e-15 abs) is far under the 0.5e-12 cast
    threshold, so the decimal recovers the exact value
    (embedding_covariance's residual-rounding argument). The sum is
    exact decimal; rounding happens ON THE DECIMAL (both engines round
    decimals half-up for positives), THEN casts to double — so there is
    no float-boundary ambiguity at all. `_sqdist`'s float path rounds a
    raw double, where a true value ~1e-15 from a .xxxxxx5 boundary can
    legitimately round differently across engines (observed: 7 of
    2,000 stored d2 cells on the sf0.01 residual corpus); fine when the
    value is display-only, not when it feeds an argmin tie-break or a
    hash-compared result. Use this whenever BOTH inputs are 6-dp."""
    diff2 = F.zip_with(a, b,
                       lambda x, y: ((x - y) * (x - y)).cast("decimal(38,12)"))
    # merge re-casts: Spark promotes (38,12)+(38,12) to (38,11); values
    # here are O(dims × range²) — far inside (38,12), so the cast is
    # exact, it just restores the accumulator type
    s = F.aggregate(diff2, F.lit(0).cast("decimal(38,12)"),
                    lambda acc, v: (acc + v).cast("decimal(38,12)"))
    return F.round(s, 6).cast("double")


def _pq_subvectors(df: DataFrame, m: int, sub_dims: int,
                   id_col: str, vec_col: str) -> DataFrame:
    """Explode each vector into its m contiguous subvectors:
    (id, sub, sv, _svv) with _svv = <sv,sv> hoisted once per row."""
    v = F.col(vec_col).cast("array<double>")
    slices = F.array(*[F.slice(v, j * sub_dims + 1, sub_dims)
                       for j in range(m)])
    return (df.select(F.col(id_col), F.posexplode(slices).alias("sub", "sv"))
              .select(id_col, F.col("sub").cast("int").alias("sub"), "sv",
                      _dot(F.col("sv"), F.col("sv")).alias("_svv")))


def _pq_sub_centroids(assigned: DataFrame, exact: bool = False) -> DataFrame:
    """Per-(subspace, code) centroid update: exact DECIMAL(20,10)
    accumulation per dimension (order-independent at any parallelism,
    float32 inputs exactly representable), rounded to 6 dp and
    re-assembled in dim order — label_centroids generalized to the
    (sub, list_id) composite key.

    ``exact=True`` (the persisted-index convention, inputs 6-dp):
    6-dp sums divided by small member counts land on TRUE rational
    half-boundaries routinely (0.386715/6 = 0.0644525 exactly — 2 of
    2,048 cells on the sf0.01 residual corpus), and there the float
    round is engine-lore: Spark HALF_UPs the double's SHORTEST decimal
    string while DuckDB rounds x*1e6, and they disagree in BOTH
    directions. The exact path does the half-up division in integers —
    q + (2r >= n) over micro-units — which is deterministic by
    arithmetic, not convention. Micro-unit magnitudes are ≤ |members| ×
    max|value| × 1e6; BIGINT holds that to ~9e12 member-sums of
    unit-range values, far past any real cell."""
    exploded = assigned.select(
        "sub", "list_id", F.posexplode("sv").alias("dim", "val"))
    summed = (exploded.groupBy("sub", "list_id", "dim")
              .agg(F.sum(F.col("val").cast("decimal(20,10)")).alias("s"),
                   F.count("*").alias("n")))
    if exact:
        cv = F.expr("""
            CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END) *
                 ((abs(CAST(s * 1000000 AS BIGINT)) DIV n)
                  + (CASE WHEN 2 * (abs(CAST(s * 1000000 AS BIGINT)) % n)
                          >= n THEN 1 ELSE 0 END))
                 AS DOUBLE) / 1000000.0""")
    else:
        cv = F.round(F.col("s").cast("double") / F.col("n"), 6)
    per_dim = summed.select("sub", "list_id", "dim", cv.alias("cv"))
    return (per_dim.groupBy("sub", "list_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "cv")))
                  .alias("pairs"))
            .select("sub", "list_id",
                    F.transform("pairs", lambda p: p["cv"]).alias("centroid")))


def _pq_assign(subs: DataFrame, codebook: DataFrame,
               id_col: str, exact: bool = False) -> DataFrame:
    """One product-quantizer assignment step: nearest centroid per
    (vector, subspace) by rounded squared L2, code-id tie-break. The
    codebook (m x k rows) is broadcast; the argmin is a window over the
    k-fanout partitioned by (vector, subspace) — nothing corpus^2.

    ``exact=True`` switches to `_sqdist_exact`'s decimal path — the
    persisted-index convention, valid when subvectors AND centroids are
    6-dp (residual-encoded corpora): the argmin tie-break then has no
    float-boundary ambiguity across engines. The float path stays the
    certified convention for raw-vector corpora (pq_train on raw
    embeddings), where inputs aren't 6-dp and the decimal cast could
    not recover exact products anyway."""
    scored = _pq_dists(subs, codebook,
                       [id_col, "sub", "sv", "_svv", "list_id"], exact)
    w = Window.partitionBy(id_col, "sub").orderBy(F.col("d2").asc(),
                                                  F.col("list_id").asc())
    return (scored.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1).drop("rn"))


def _pq_dists(subs: DataFrame, codebook: DataFrame, cols: list,
              exact: bool = False) -> DataFrame:
    """``cols`` plus d2, the rounded squared L2 from each subvector
    (sub, sv, _svv) to every centroid of its subspace — the scoring
    step of `_pq_assign` and, over query subvectors, the ADC lookup
    table. The codebook (m × k rows, operator constants) is broadcast.
    ``exact`` takes `_sqdist_exact`'s decimal path (6-dp inputs);
    otherwise `_sqdist` with both self-dots hoisted."""
    if exact:
        cb, d2 = codebook, _sqdist_exact(F.col("sv"), F.col("centroid"))
    else:
        cb = codebook.withColumn("_cc", _dot(F.col("centroid"),
                                             F.col("centroid")))
        d2 = _sqdist(F.col("sv"), F.col("centroid"),
                     aa=F.col("_svv"), bb=F.col("_cc"))
    return subs.join(F.broadcast(cb), "sub").select(*cols, d2.alias("d2"))


def _adc_sum(coded: DataFrame, lut: DataFrame, on: list[str]) -> DataFrame:
    """ADC scoring: each neighbor's code rows join the broadcast LUT on
    ``on`` and its m table entries sum as DECIMAL(20,6) (order-
    independent) to (query_id, neighbor_id, adc_d2); self-matches
    excluded."""
    return (coded.join(F.broadcast(lut), on)
                 .filter(F.col("query_id") != F.col("neighbor_id"))
                 .groupBy("query_id", "neighbor_id")
                 .agg(F.round(F.sum(F.col("d2").cast("decimal(20,6)"))
                               .cast("double"), 6).alias("adc_d2")))


def _rerank_exact(short: DataFrame, queries: DataFrame, nv: DataFrame,
                  k: int, id_col: str, vec_col: str) -> DataFrame:
    """Exact squared-L2 re-rank of an ADC shortlist (query_id,
    neighbor_id): neighbor vectors ``nv`` (neighbor_id, _nv) join the
    broadcast shortlist (|queries| × shortlist rows), and query vectors
    are built from the QUERIES parameter — never fetched from the
    corpus by id (the r9 lesson) — so neither broadcast grows with the
    corpus. Float `_sqdist`: raw vectors are not 6-dp."""
    qv = queries.filter(_finite_ok(F.col(vec_col))).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"))
    exact = (nv.join(F.broadcast(short), "neighbor_id")
               .join(F.broadcast(qv), "query_id")
               .select("query_id", "neighbor_id",
                       _sqdist(F.col("_qv"), F.col("_nv")).alias("d2")))
    return _rank_topk(exact, "d2", k, ascending=True)


def pq_train(corpus: DataFrame, m: int = 4, k: int = 16, iters: int = 2,
             dims: int = 64, id_col: str = "vec_id",
             vec_col: str = "embedding",
             exact: bool = False) -> tuple[DataFrame, DataFrame]:
    """Train a product quantizer and encode the corpus in one pass:
    per-subspace L2 k-means (Lloyd's, ``iters`` bounded like
    kmeans_assign) over the m contiguous dims/m-wide subvectors.

    Deterministic by the family conventions so the DuckDB oracle can
    unroll the loop: seeds are the k lowest-id vectors' subvectors
    (code id = seed vec_id — stable, no order-assigning window over the
    corpus); assignment is argmin ROUNDED squared L2 with a code-id
    tie-break; updates are exact-decimal per-dim means. All m subspaces
    train in ONE DataFrame (a `sub` column), so each iteration is one
    broadcast of the m*k codebook + one (vec, sub)-argmin window + one
    (sub, code, dim)-keyed mean — per-iteration cost is a corpus scan,
    never corpus^2, and no centroid state lives on the driver.

    Returns (codes, codebook): codes = (id, sub, list_id, d2) — the
    FINAL assignment against the last-updated codebook — and that
    codebook (sub, list_id, centroid), which is what ADC scoring must
    use for the d2 values to be reconstruction errors under it.

    ``exact=True``: decimal-exact assignment distances (see
    `_pq_assign`) — pass when ``vec_col`` holds 6-dp values (residual
    corpora; the persisted-index convention).
    """
    if dims % m:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    corpus = corpus.filter(_finite_ok(F.col(vec_col)))
    # persist the exploded subvector frame (owned by the caller's
    # cache_scope): it feeds every assignment iteration and
    # the final encode — without it each reference re-reads and
    # re-explodes the corpus (.explain showed 6 full scans for the
    # iters=2 default; at 100 TB this is the difference between one
    # materialized pass and six)
    subs = _persist(_pq_subvectors(corpus, m, dims // m, id_col, vec_col))
    seed_rows = corpus.orderBy(F.col(id_col).asc()).limit(k)
    codebook = (_pq_subvectors(seed_rows, m, dims // m, id_col, vec_col)
                .select("sub", F.col(id_col).alias("list_id"),
                        F.col("sv").alias("centroid")))
    assigned = None
    for it in range(iters):
        assigned = _pq_assign(subs, codebook, id_col, exact=exact)
        if it + 1 < iters:
            codebook = _pq_sub_centroids(assigned, exact=exact)
    codes = assigned.select(id_col, "sub",
                            F.col("list_id").cast("long").alias("list_id"),
                            "d2")
    return codes, codebook


def pq_topk(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
            k: int = 5, m: int = 4, dims: int = 64,
            id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """ADC top-k search over PQ codes (Jegou et al. 2011 §4.2,
    asymmetric distance computation): per query, build the m×k lookup
    table of exact squared L2 distances from the query's subvectors to
    every codebook centroid, then score each corpus vector as the sum
    of its m code-indexed table entries — the scan reads CODES (m small
    ints per vector), never corpus vectors, which is the whole point at
    100 TB of embeddings.

    Join shape: the LUT is |queries| × m × k rows — bounded by the
    query set and two operator constants, so it broadcasts (a top-k
    search's query side is small by definition; the corpus side is the
    code table). The ADC sum groups the (codes ⋈ LUT) fan-out by
    (query, neighbor) — m rows each — and the top-k is a rank window
    per query, never a global sort.

    Exactness: per-sub distances are rounded 6 dp (_sqdist), summed as
    DECIMAL(20,6) (order-independent), so the DuckDB oracle unrolling
    the same codebook reproduces adc_d2 bit-for-bit. Ties rank by
    neighbor id. Self-matches (query id = corpus id) are excluded.
    ``codebook`` must be the one `pq_train` returned with these codes —
    ADC distances are reconstruction-based under THAT codebook.

    Recall routing (measured, SCALING.md "PQ/IVFADC recall"): on
    unstructured random vectors PQ recall plateaus (~0.29 at 4× the
    bits) because distances concentrate — route such corpora to banded
    LSH or brute force. PQ earns its keep on manifold-structured real
    embeddings, normally as a shortlist stage (raise ``k`` to the
    shortlist depth, exact-re-rank the survivors)."""
    q = queries.filter(_finite_ok(F.col(vec_col))).select(
        F.col(id_col).alias("query_id"), F.col(vec_col))
    qsubs = _pq_subvectors(q, m, dims // m, "query_id", vec_col)
    lut = _pq_dists(qsubs, codebook, ["query_id", "sub", "list_id"])
    coded = codes.select(F.col(id_col).alias("neighbor_id"), "sub",
                         "list_id")
    return _rank_topk(_adc_sum(coded, lut, ["sub", "list_id"]), "adc_d2",
                      k, ascending=True)


def pq_topk_rerank(codes: DataFrame, codebook: DataFrame,
                   corpus: DataFrame, queries: DataFrame, k: int = 5,
                   shortlist: int = 200, m: int = 4, dims: int = 64,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """The production PQ composition (Jegou et al. 2011 §4.4's
    re-ranking): ADC over codes produces a ``shortlist``-deep candidate
    set per query — the corpus-wide scan still reads CODES only — and
    the final top-k is an EXACT squared-L2 re-rank that fetches full
    vectors for just |queries| × shortlist rows. At 100 TB this reads
    the compressed code table once plus a per-query sliver of real
    vectors, and recall@k becomes the shortlist's containment rate
    instead of raw ADC resolution (measured on the synthetic corpus:
    0.18 raw ADC → 0.82 with shortlist=200 — SCALING.md "PQ/IVFADC
    recall"; on manifold-structured real embeddings containment
    saturates far earlier).

    The vector fetch is an id-keyed join of the shortlist (bounded by
    |queries| × shortlist — broadcast) against the corpus; exact
    distances round 6 dp with id tie-breaks, so the DuckDB oracle
    reproduces the ranking bit-for-bit.

    Broadcast bounds: ``short`` is |queries| × shortlist rows and
    ``qv`` is built from the QUERIES parameter (|queries| rows, one
    vector each) — never from the corpus, so neither broadcast grows
    with corpus size, and query sets not contained in the corpus (or
    colliding with corpus ids) get their own vectors, not a corpus
    row's (`_rerank_exact`)."""
    short = pq_topk(codes, codebook, queries, k=shortlist, m=m, dims=dims,
                    id_col=id_col, vec_col=vec_col) \
        .select("query_id", "neighbor_id")
    nv = corpus.filter(_finite_ok(F.col(vec_col))).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_nv"))
    return _rerank_exact(short, queries, nv, k, id_col, vec_col)


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
               n_lists: int = 8, n_probe: int = 3, m: int = 4,
               codes_k: int = 16, iters: int = 2, dims: int = 64,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """IVFADC — the production FAISS shape (Jegou et al. 2011 §5):
    a self-trained coarse k-means quantizer prunes each query to its
    ``n_probe`` best inverted lists, and within those lists neighbors
    are scored by ADC over PQ codes of the coarse RESIDUALS
    (v − centroid(list(v))) — the composition that makes billion-vector
    search tractable: the coarse tier cuts the scan to n_probe/n_lists
    of the corpus (at 100 TB, directory-pruned via ivf_index_build's
    layout), and the PQ tier replaces what remains with byte codes plus
    a broadcast per-(query, probed-list) lookup table. Completes the
    family: brute (exact) → LSH (bucketed) → IVF (pruned) → PQ
    (compressed) → IVF-PQ (pruned AND compressed).

    Determinism/exactness (so the DuckDB oracle can unroll everything):
    the coarse tier is `kmeans_assign` (lowest-id seeding, rounded
    cosine, id tie-breaks, exact-decimal updates); residuals are
    ROUNDED 6 dp at creation — a 6-dp double re-rounds to DECIMAL(20,10)
    unambiguously in both engines, which raw double differences would
    not — then PQ-trained with `pq_train`'s conventions; ADC sums are
    DECIMAL(20,6). Self-matches excluded; ties rank by neighbor id.

    Join shape: coarse centroids (n_lists rows) and the LUT
    (|queries| × n_probe × m × codes_k rows) broadcast — both bounded
    by operator constants and the query-set size; the codes⋈labels join
    is fixed-width id-keyed (AQE-planned); nothing corpus².

    Recall routing: compounds the coarse tier's probe loss with PQ's
    quantization loss — see pq_topk's routing note and SCALING.md
    "PQ/IVFADC recall" for the measured plateau on unstructured random
    corpora and when this composition is the right tool."""
    corpus = corpus.filter(_finite_ok(F.col(vec_col)))
    # lists are the lagged k-means assignment (no ADD step: the lists
    # this key's oracle certifies); the residual frame is persisted
    # (owned by the caller's cache_scope) so pq_train's scans reuse it
    # instead of re-running the encode (measured 2.34× → 1.8× on the 8×
    # probe together with _train_coarse's cache)
    labeled, coarse = _train_coarse(corpus, n_lists, iters, id_col, vec_col)
    res = _persist(_residuals(labeled, coarse, id_col))
    codes, codebook = pq_train(res, m=m, k=codes_k, iters=iters, dims=dims,
                               id_col=id_col, vec_col="rv")
    cb = codebook.select("sub", F.col("list_id").alias("code"),
                         "centroid")
    lut = _ivfpq_lut(queries, coarse, cb, n_probe, m, dims, id_col,
                     vec_col, exact=False)[1]
    coded = (codes.select(F.col(id_col).alias("neighbor_id"), "sub",
                          F.col("list_id").alias("code"))
             .join(labeled.select(F.col(id_col).alias("neighbor_id"),
                                  "list_id"), "neighbor_id"))
    return _rank_topk(_adc_sum(coded, lut, ["list_id", "sub", "code"]),
                      "adc_d2", k, ascending=True)


def _residual(a: Column, b: Column) -> Column:
    """v − centroid, ROUNDED 6 dp at creation: a 6-dp double re-rounds
    to DECIMAL unambiguously in both engines, raw differences would
    not."""
    return F.zip_with(a, b, lambda x, y: F.round(x - y, 6))


def _residuals(labeled: DataFrame, coarse: DataFrame,
               id_col: str) -> DataFrame:
    """Residual encode (id, list_id, rv) of list-labeled vectors (id,
    _v, list_id) against their list's centroid; the coarse table
    (n_lists rows) is broadcast."""
    return (labeled.join(F.broadcast(coarse), "list_id")
                   .select(id_col, "list_id",
                           _residual(F.col("_v"), F.col("centroid"))
                           .alias("rv")))


def _ivfpq_lut(queries: DataFrame, coarse: DataFrame, codebook: DataFrame,
               n_probe: int, m: int, dims: int, id_col: str, vec_col: str,
               exact: bool) -> tuple[DataFrame, DataFrame]:
    """The IVFADC query stages shared by `ivfpq_topk` and the index
    queries: probe each query's ``n_probe`` nearest coarse lists, take
    its residual against each probed centroid, and build the ADC lookup
    table (query_id, list_id, sub, code, d2) over the (sub, code,
    centroid) codebook — |queries| × n_probe × m × codes_k rows.
    Returns (probes keyed by qkey = (query_id, list_id), lut).
    ``exact`` as in `_pq_dists`: the index passes True (residual
    queries and stored centroids are both 6-dp, so its hash-compared
    result must not ride on cross-engine float-rounding luck)."""
    q = queries.filter(_finite_ok(F.col(vec_col))).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"))
    probes = (_nearest_centroids(q, "query_id", "qv", coarse, n_probe)
              .select(F.struct("query_id", "list_id").alias("qkey"),
                      _residual(F.col("qv"), F.col("centroid"))
                      .alias("rq")))
    qsubs = _pq_subvectors(probes, m, dims // m, "qkey", "rq")
    lut = _pq_dists(qsubs, codebook,
                    [F.col("qkey.query_id").alias("query_id"),
                     F.col("qkey.list_id").alias("list_id"), "sub", "code"],
                    exact)
    return probes, lut


# the side tables' schemas as `ivfpq_index_build` writes them, passed on
# every read so an index query infers none (pinned by
# test_ivfpq_side_table_schemas_match_build); codes/vectors are not
# listed, their id type comes from the corpus
_COARSE_SCHEMA = "list_id bigint, centroid array<double>"
_CODEBOOK_SCHEMA = "sub int, code bigint, centroid array<double>"


@cache_scope()
def ivfpq_index_build(corpus: DataFrame, index_dir: str, n_lists: int = 8,
                      m: int = 4, codes_k: int = 16, iters: int = 2,
                      dims: int = 64, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      store_vectors: bool = True) -> None:
    """Materialize an IVFADC index on disk — the FAISS-on-parquet shape
    that makes `ivfpq_topk` operational instead of per-query: train
    once, write the compressed codes list-partitioned, and every later
    query (`ivfpq_index_topk`) reads ONLY its probed lists' code
    partitions plus three schema-bounded side tables. At 100 TB of
    embeddings the r9 per-query form retrains both quantizers per call;
    this is the build/query split a billion-vector store actually runs.

    Layout under ``index_dir``:
    * ``coarse_centroids.parquet`` — (list_id, centroid): n_lists rows,
      the final-iteration k-means update (kmeans_assign lineage).
    * ``codebook.parquet`` — (sub, code, centroid): m × codes_k rows,
      the residual product-quantizer `pq_train` returned.
    * ``codes.parquet`` — (vec_id, sub, code, d2) PARTITIONED BY coarse
      list, a managed table (sources/atomic.py): m small ints + the
      per-subvector reconstruction error per vector. Written repartitioned BY the
      partition column (the ivf_index_build file-count discipline).
    * ``stats.parquet`` — (list_id, n_vectors, mean_d2): the build-time
      reconstruction-error baseline `ivfpq_index_append` checks drift
      against.
    * ``vectors.parquet`` (``store_vectors=True``, the default) —
      (vec_id, v) full vectors, a list-partitioned managed table, for
      `ivfpq_index_topk_rerank`'s exact re-rank: the fetch prunes to
      the SAME probed lists as the code scan, so re-ranking never
      touches unprobed vector partitions. Pass False for a codes-only
      index at 1/65th the bytes (64-dim float64 → 4 nibble codes) when
      ADC resolution suffices.

    TRAIN vs ADD (the FAISS split, deliberately NOT ivfpq_topk's
    shape): k-means training ends with updated centroids whose last
    ASSIGNMENT lags one update behind (Lloyd's with bounded iters —
    the certified kmeans_assign contract). The in-memory ivfpq_topk
    keeps that lagged assignment; an index cannot, because appends can
    only ever assign against what is STORED. So the build re-assigns
    the whole corpus against the final centroids (`ivf_assign` — the
    add step FAISS runs after training), making the stored lists
    exactly the stored quantizer's Voronoi partition. That is what
    makes `ivfpq_index_append`'s frozen-quantizer parity structural: a
    duplicate appended later gets byte-identical codes to its
    build-time twin. The registry key carries its own fully-unrolled
    DuckDB oracle (train → re-assign → residual PQ → ADC)."""
    ref_dims = _lowest_id_dims(corpus, id_col, vec_col)
    if ref_dims not in (None, dims):
        raise ValueError(f"corpus vectors have {ref_dims} dims, "
                         f"index built for {dims}")
    corpus = finite_vectors(corpus, vec_col, dims=dims)
    labeled, coarse = _train_and_add(corpus, n_lists, iters, id_col, vec_col)
    res = _persist(_residuals(labeled, coarse, id_col))
    codes, codebook = pq_train(res, m=m, k=codes_k, iters=iters, dims=dims,
                               id_col=id_col, vec_col="rv", exact=True)
    coded = (codes.select(F.col(id_col), "sub",
                          F.col("list_id").alias("code"), "d2")
             .join(res.select(id_col, "list_id"), id_col))
    spark = coded.sparkSession
    _commit(spark, f"{index_dir}/codes.parquet",
            coded.repartition(F.col("list_id")), "list_id")
    (coarse.write.mode("overwrite")
           .parquet(f"{index_dir}/coarse_centroids.parquet"))
    (codebook.select("sub", F.col("list_id").alias("code"), "centroid")
             .write.mode("overwrite")
             .parquet(f"{index_dir}/codebook.parquet"))
    if store_vectors:
        _commit(spark, f"{index_dir}/vectors.parquet",
                labeled.select(id_col, F.col("_v").alias("v"), "list_id")
                .repartition(F.col("list_id")), "list_id")
    built = read_table(spark, f"{index_dir}/codes.parquet")
    (built.groupBy("list_id")
          .agg((F.count(F.lit(1)) / m).cast("long").alias("n_vectors"),
               F.round(F.avg("d2"), 6).alias("mean_d2"))
          .write.mode("overwrite").parquet(f"{index_dir}/stats.parquet"))


def ivfpq_index_topk(spark, index_dir: str, queries: DataFrame, k: int = 5,
                     n_probe: int = 3, m: int = 4, dims: int = 64,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Query a materialized IVFADC index (`ivfpq_index_build`) with
    physical partition pruning: rank the query set against the n_lists
    coarse centroids, collect the probed-list union (bounded by
    |queries| × n_probe ints — the ivf_index_topk precedent), and scan
    ONLY those lists' code partitions via an IN-list partition filter
    (PartitionFilters in the plan, pinned by
    test_ivfpq_index_prunes_partitions). Per query the scan reads
    n_probe/n_lists of the CODE table — never a corpus vector —
    so the whole read is (pruned fraction) × (compressed bytes).

    ADC math shares `ivfpq_topk`'s stages (`_ivfpq_lut`, `_adc_sum`):
    residual queries rounded 6 dp, broadcast |queries| × n_probe × m ×
    codes_k LUT, DECIMAL(20,6) code sums, id tie-breaks, self-matches
    excluded. It is not `ivfpq_topk`'s answer: the index lists come
    from the ADD step and its LUT is decimal-exact (`_sqdist_exact`),
    where the in-memory form keeps the lagged k-means lists and the
    float LUT its own oracle certifies."""
    scored = _ivfpq_index_adc(spark, index_dir, queries, n_probe, m,
                              dims, id_col, vec_col)[0]
    return _rank_topk(scored, "adc_d2", k, ascending=True)


def _ivfpq_side_tables(spark, index_dir: str) -> tuple[DataFrame, DataFrame]:
    """(coarse centroids, codebook) of a built index, read with their
    fixed schemas."""
    return (spark.read.schema(_COARSE_SCHEMA)
            .parquet(f"{index_dir}/coarse_centroids.parquet"),
            spark.read.schema(_CODEBOOK_SCHEMA)
            .parquet(f"{index_dir}/codebook.parquet"))


def _ivfpq_index_adc(spark, index_dir: str, queries: DataFrame,
                     n_probe: int, m: int, dims: int, id_col: str,
                     vec_col: str) -> tuple[DataFrame, list[int]]:
    """Shared ADC core of the index query paths: returns the
    (query_id, neighbor_id, adc_d2) candidate frame over the probed
    lists plus the probed-list ids (for pruning sibling partition
    tables, e.g. the re-rank vector fetch)."""
    coarse, cb = _ivfpq_side_tables(spark, index_dir)
    probes, lut = _ivfpq_lut(queries, coarse, cb, n_probe, m, dims, id_col,
                             vec_col, exact=True)
    probe_lists = sorted({r["qkey"]["list_id"] for r in
                          probes.select("qkey").distinct().collect()})
    coded = (read_table(spark, f"{index_dir}/codes.parquet")
             .filter(F.col("list_id").isin(probe_lists))
             .select(F.col(id_col).alias("neighbor_id"), "sub", "code",
                     "list_id"))
    return _adc_sum(coded, lut, ["list_id", "sub", "code"]), probe_lists


def ivfpq_index_topk_rerank(spark, index_dir: str, queries: DataFrame,
                            k: int = 5, shortlist: int = 200,
                            n_probe: int = 3, m: int = 4, dims: int = 64,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """The production composition at INDEX level (Jegou §4.4 on the
    persisted layout): ADC over the probed lists' code partitions
    produces a ``shortlist``-deep candidate set, then the exact
    squared-L2 re-rank fetches full vectors from the index's
    ``vectors.parquet`` — pruned to the SAME probed lists, so neither
    phase touches an unprobed partition, and the vector read is
    (n_probe/n_lists of the table) ∩ (|queries| × shortlist ids). Query
    vectors come from the QUERIES parameter (never fetched from the
    corpus by id — the r9 pq_topk_rerank lesson); exact distances use
    the certified float `_sqdist` convention (raw vectors are not
    6-dp, so the decimal-exact path does not apply). Requires an index
    built with ``store_vectors=True``."""
    scored, probe_lists = _ivfpq_index_adc(spark, index_dir, queries,
                                           n_probe, m, dims, id_col,
                                           vec_col)
    ws = Window.partitionBy("query_id").orderBy(F.col("adc_d2").asc(),
                                                F.col("neighbor_id").asc())
    short = (scored.withColumn("rn", F.row_number().over(ws))
             .filter(F.col("rn") <= shortlist)
             .select("query_id", "neighbor_id"))
    nv = (read_table(spark, f"{index_dir}/vectors.parquet")
          .filter(F.col("list_id").isin(probe_lists))
          .select(F.col(id_col).alias("neighbor_id"),
                  F.col("v").alias("_nv")))
    return _rerank_exact(short, queries, nv, k, id_col, vec_col)


@cache_scope()
def ivfpq_index_append(spark, index_dir: str, increment: DataFrame,
                       m: int = 4, dims: int = 64, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       drift_factor: float = 1.5) -> dict:
    """Incremental IVFADC index maintenance — append new vectors to a
    persisted index WITHOUT retraining (the daily-ingest shape a 100 TB
    embedding store runs): assign each increment vector to the EXISTING
    coarse centroids (`ivf_assign` — the same rounded-cosine argmax
    rule the build's kmeans_assign used), encode its 6-dp residual with
    the EXISTING codebook (`_pq_assign` — the same rounded-L2 argmin),
    and MERGE the code rows into their list partitions through
    sources/atomic.py's partition commit (key = vec id, so a
    crashed/retried append converges idempotently instead of
    duplicating rows, and only touched list directories rewrite).

    Frozen-quantizer parity: the appended index holds exactly the codes
    a from-scratch encode of (old ∪ increment) against the SAME stored
    centroids/codebook would produce (pinned row-for-row by
    test_ivfpq_index_append_matches_frozen_rebuild).

    Drift / retrain trigger: returns the increment's mean per-subvector
    reconstruction error against the build-time per-list baseline
    (``stats.parquet``). When ``mean_d2 > drift_factor ×
    baseline_mean_d2`` the increment no longer looks like the training
    distribution and ``retrain_recommended`` flips true — the caller
    schedules an `ivfpq_index_build` rebuild; appends stay correct
    (codes are exact under the frozen quantizers) but ADC resolution
    degrades, which is recall loss, not wrong-answer risk."""
    coarse, cb = _ivfpq_side_tables(spark, index_dir)
    inc = finite_vectors(increment, vec_col, dims=dims).select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"))
    assigned = ivf_assign(inc, coarse, id_col=id_col, vec_col="_v")
    res = _persist(_residuals(assigned, coarse, id_col))
    subs = _pq_subvectors(res, m, dims // m, id_col, "rv")
    enc = _pq_assign(
        subs, cb.select("sub", F.col("code").alias("list_id"), "centroid"),
        id_col, exact=True)
    new_codes = (enc.select(F.col(id_col), "sub",
                            F.col("list_id").cast("long").alias("code"),
                            "d2")
                 .join(res.select(id_col, "list_id"), id_col))
    stats = {r["list_id"]: r for r in
             spark.read.parquet(f"{index_dir}/stats.parquet").collect()}
    inc_stats = (new_codes.agg(
        (F.count(F.lit(1)) / m).cast("long").alias("n"),
        F.round(F.avg("d2"), 6).alias("mean_d2")).collect()[0])
    upsert_parquet(spark, new_codes, f"{index_dir}/codes.parquet",
                   key=id_col, partition_col="list_id")
    # a store_vectors=True index also carries the increment's raw
    # vectors into their list partitions, keeping the re-rank path
    # complete for appended ids (same keyed MERGE, same idempotency);
    # existence goes through the Hadoop FS API so non-local index
    # stores behave the same (the r9 store-probe convention)
    vec_path = f"{index_dir}/vectors.parquet"
    if _exists(spark, vec_path):
        upsert_parquet(spark,
                       assigned.select(id_col, F.col("_v").alias("v"),
                                       "list_id"),
                       vec_path, key=id_col, partition_col="list_id")
    total_n = sum(r["n_vectors"] for r in stats.values())
    baseline = (sum(r["mean_d2"] * r["n_vectors"] for r in stats.values())
                / total_n) if total_n else 0.0
    mean_d2 = float(inc_stats["mean_d2"] or 0.0)
    return {
        "appended": int(inc_stats["n"]),
        "mean_d2": round(mean_d2, 6),
        "baseline_mean_d2": round(baseline, 6),
        "retrain_recommended": bool(total_n
                                    and mean_d2 > drift_factor * baseline),
    }


def ivfpq_index_delete(spark, index_dir: str, ids: DataFrame,
                       id_col: str = "vec_id") -> dict:
    """Targeted deletion from a persisted IVFADC index — the
    right-to-be-forgotten / takedown operation a long-lived embedding
    store must support (a revoked document's vectors must stop being
    retrievable, not just stop being served): remove every code row
    and (when the index stores vectors) every raw vector of the given
    ids, touching ONLY the list partitions that hold them.

    Semantics are exact, not tombstone-approximate: under the index's
    frozen quantizers a vector's code rows are a pure function of the
    vector, so deletion ≡ the index that would exist had the ids never
    been inserted — every downstream query (ADC, rerank) is then
    automatically correct with no filter bolted onto the read path.
    Implementation rides sources/atomic.merge_parquet's WHEN MATCHED
    DELETE clause: one partition-scoped commit (a partition emptied by
    the delete leaves the manifest), readers see the index either pre-
    or post-delete, a crash leaves the previous version committed and
    the retry is idempotent. A second delete of the same ids is a
    no-op.

    ``stats.parquet`` (the build-time drift baseline) is left as
    built: it describes the TRAINING distribution the quantizers were
    fit on, which deletion does not change; the retrain trigger
    compares increments against that baseline by design.

    Returns {"deleted": <distinct ids actually present>, "codes":
    True, "vectors": <bool — table existed>}. Same single-maintenance-
    process contract as append/compact."""
    from airline_data_warehouse_spark.sources.atomic import merge_parquet

    # no broadcast hint on the delete-key set: a routine takedown is a
    # handful of ids but a bulk purge (expired source, licensing sweep)
    # is corpus-proportional — AQE picks broadcast at runtime when the
    # set is actually small (the merge_parquet convention)
    keys = ids.select(F.col(id_col)).distinct()
    codes_path = f"{index_dir}/codes.parquet"
    target = read_table(spark, codes_path)
    # NOT persisted: CacheManager matches canonicalized plans, so a
    # cached victims frame from THIS call would be substituted into the
    # structurally-identical semi-join of a LATER delete against the
    # same index and serve stale pre-delete rows (the retry would
    # "find" the ids it already removed). Evaluated twice (count +
    # merge write), both against the same committed version — cheap.
    victims = target.join(keys, id_col, "left_semi")
    n = victims.select(id_col).distinct().count()
    if n:
        merge_parquet(spark, victims, codes_path, key=id_col,
                      partition_col="list_id",
                      delete_condition=F.lit(True))
    vec_path = f"{index_dir}/vectors.parquet"
    has_vectors = _exists(spark, vec_path)
    if has_vectors and n:
        vtarget = read_table(spark, vec_path)
        vvictims = vtarget.join(keys, id_col, "left_semi")
        merge_parquet(spark, vvictims, vec_path, key=id_col,
                      partition_col="list_id",
                      delete_condition=F.lit(True))
    return {"deleted": int(n), "codes": True, "vectors": bool(has_vectors)}


def ivfpq_index_compact(spark, index_dir: str, target_files: int = 1,
                        max_files_ok: int = 4) -> dict:
    """Index-lifecycle small-file compaction (VERDICT r10 item 2): a
    sustained `ivfpq_index_append` loop accretes files two ways — each
    touched list partition of ``codes.parquet`` / ``vectors.parquet``
    gains files per delta, and the streaming ingest's drift log
    (``append_log``) gains one file per micro-batch FOREVER. Scan cost
    grows with file COUNT even at constant bytes (task scheduling,
    footer reads, open costs — the cascade band store measured 41 %
    corpus-read latency growth from exactly this; SCALING.md), so a
    quarter of uptime without compaction turns the probed-partition
    read into a small-file storm.

    Every rewrite is one sources/atomic.py commit (`compact_partitions`
    for the list partitions, `compact_directory` for the unpartitioned
    log): readers see each table either pre- or post-compaction, a
    crash leaves the previous version committed, and the retry is
    idempotent. Layout-only —
    query results are byte-identical pre/post (pinned by
    test_ivfpq_index_compact_bounds_files_and_preserves_results).

    Call from whatever owns the index's writes (the streaming ingest's
    foreachBatch loop calls it every ``compact_every`` batches; a daily
    append job calls it after the delta) — the single-maintenance-
    process contract shared with the cascade store's compactor.

    Returns {"codes": [...], "vectors": [...], "append_log": bool} —
    the partition directories rewritten and whether the log was."""
    from airline_data_warehouse_spark.sources.atomic import (
        compact_directory,
        compact_partitions,
    )

    # an index built with store_vectors=False has no vectors.parquet;
    # compact_partitions returns [] for a missing dir
    return {
        "codes": compact_partitions(
            spark, f"{index_dir}/codes.parquet", "list_id",
            target_files=target_files, max_files_ok=max_files_ok),
        "vectors": compact_partitions(
            spark, f"{index_dir}/vectors.parquet", "list_id",
            target_files=target_files, max_files_ok=max_files_ok),
        "append_log": compact_directory(
            spark, f"{index_dir}/append_log",
            target_files=target_files, max_files_ok=max_files_ok),
    }


def kcenter_select(corpus: DataFrame, k: int = 6, dims: int = 64,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Greedy farthest-point k-center selection (Gonzalez 1985, the
    2-approximation) over an embedding column — the DIVERSITY selector
    a curation pipeline runs to pick a maximally-spread subset (eval-set
    seeding, coreset selection, dedup-cluster exemplar spread): start
    from the lowest id, then repeatedly take the point FARTHEST from
    everything selected so far.

    Determinism by arithmetic (the module rule): vectors round to 6 dp
    once, distances are `_sqdist_exact` (decimal-exact squared L2, so
    no float-boundary luck feeds the argmax), and every argmax
    tie-breaks on ascending id — the selection is a pure function of
    the data in any engine, which is what lets the registry key carry a
    fully-unrolled DuckDB oracle.

    Scale shape: k−1 rounds, each ONE corpus pass updating the running
    min-distance against the single NEW center (a d-scalar literal —
    the kmeans training-scalar precedent) followed by a TakeOrdered(1)
    argmax; nothing corpus² and only (k, d)-bounded scalars ever reach
    the driver. Cost: O(k · corpus) — the standard greedy k-center
    bound.

    Output: (sel_rank INT, vec_id, dist DOUBLE) — dist is the point's
    exact squared L2 to the previously-selected set at selection time
    (NULL for the seed row); non-increasing in rank by construction
    (the Gonzalez invariant, pinned in tests)."""
    corpus = corpus.filter(_finite_ok(F.col(vec_col)))
    v6 = _persist(corpus.select(
        F.col(id_col),
        F.transform(F.col(vec_col).cast("array<double>"),
                    lambda x: F.round(x, 6)).alias("_v")))
    first = v6.orderBy(id_col).limit(1).collect()
    spark = corpus.sparkSession
    schema = f"sel_rank int, {id_col} long, dist double"
    if not first:
        return spark.createDataFrame([], schema)
    center = [float(x) for x in first[0]["_v"]]
    if len(center) != dims:
        # dims is a real contract, not decoration (ADVICE r11-low): a
        # caller passing dims=2 against 64-dim vectors gets a loud
        # error, not silent full-width distances
        raise ValueError(f"kcenter_select: corpus vectors have "
                         f"{len(center)} dims, expected {dims}")
    sel = [(1, int(first[0][id_col]), None)]
    cur = _persist(v6.select(
        id_col, "_v",
        _sqdist_exact(F.col("_v"), _lit_vec(center)).alias("_mind")))
    prev: DataFrame | None = v6  # v6's only reader is cur's first fill
    for rank in range(2, k + 1):
        pick = (cur.filter(~F.col(id_col).isin([s[1] for s in sel]))
                .orderBy(F.col("_mind").desc(), F.col(id_col).asc())
                .limit(1).collect())
        # this collect materialized `cur`, so the previous round's frame
        # (cur's last reader) is dead — release it instead of letting
        # k−1 corpus-sized caches pile up until the scope exits
        # (ADVICE r11-low / VERDICT r11 item 4)
        if prev is not None:
            _release_one(prev)
            prev = None
        if not pick:
            break                      # corpus smaller than k
        row = pick[0]
        sel.append((rank, int(row[id_col]), float(row["_mind"])))
        if rank < k:
            center = [float(x) for x in row["_v"]]
            prev = cur
            cur = _persist(cur.select(
                id_col, "_v",
                F.least(F.col("_mind"),
                        _sqdist_exact(F.col("_v"), _lit_vec(center)))
                 .alias("_mind")))
    from airline_data_warehouse_spark.operators.frames import (
        jvm_local_frame,
    )
    return jvm_local_frame(spark, sel, schema)


def _sq6_int(a: list[int], b: list[int]) -> int:
    """Driver-side exact twin of `_sqdist_exact` on 6-dp-scaled integer
    vectors (components in 1e-6 units): Σ(aᵢ−bᵢ)² is an exact Python
    int in 1e-12 units; half-up rounding to 6 dp is
    (d12 + 5e5) // 1e6 — identical to the decimal ROUND both engines
    apply, so driver-side comparisons bit-match the distributed ones."""
    d12 = sum((x - y) * (x - y) for x, y in zip(a, b))
    return (d12 + 500_000) // 1_000_000


def kcenter_select_batched(corpus: DataFrame, k: int = 6, m: int = 2,
                           oversample: int = 2, dims: int = 64,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Batched/oversampled greedy k-center — the SCALE-SAFE variant of
    `kcenter_select` (VERDICT r11 items 1/"what's wrong" 3): the exact
    Gonzalez loop runs one Spark job and one corpus pass PER selected
    point, the wrong shape at coreset-scale k (10³–10⁴). Here each
    ROUND is one corpus pass that folds the whole previous batch of
    centers into the running min at once (k-means‖'s oversampling idea,
    Bahmani et al. 2012, made deterministic), so the job count drops
    from k−1 to ceil((k−1)/m):

    * collect the top ``oversample·m`` candidates by current min-dist
      (exact `_sqdist_exact` values, id tie-breaks) — an (M, d)-bounded
      driver transfer, the k-means training-scalar class;
    * greedily pick ``m`` of them DRIVER-SIDE with exact integer
      arithmetic (`_sq6_int` on 1e-6-scaled components — bit-identical
      to the distributed decimal path), updating each remaining
      candidate's min-dist against the batch-mates already picked;
    * fold the picked batch into the corpus running min in ONE pass
      (a LEAST over m exact distances to literal centers), releasing
      the previous round's cache once the next materializes.

    Semantics: at ``m=1, oversample=1`` every round is exactly one
    Gonzalez round — bit-identical to `kcenter_select` (pinned by
    test). For ``m>1`` the batch's later picks are restricted to the
    round's candidate set, the standard oversampling approximation:
    still deterministic by arithmetic (the oracle unrolls rounds AND
    intra-batch sub-picks), still 2-approx-flavored spread, and the
    pick-time ``dist`` is each point's exact min-dist to EVERYTHING
    selected before it (batch-mates included). Note: dist is
    non-increasing WITHIN a batch (each pick shrinks the pool's
    min-dists) but not necessarily across batches — the next round's
    corpus-wide argmax can exceed a previous batch's pool-restricted
    later picks; that is the oversampling trade, not a bug.

    Output: (sel_rank INT, id, dist DOUBLE) — the `kcenter_select`
    schema."""
    if m < 1 or oversample < 1:
        raise ValueError("kcenter_select_batched: m and oversample "
                         "must be >= 1")
    corpus = corpus.filter(_finite_ok(F.col(vec_col)))
    v6 = _persist(corpus.select(
        F.col(id_col),
        F.transform(F.col(vec_col).cast("array<double>"),
                    lambda x: F.round(x, 6)).alias("_v")))
    first = v6.orderBy(id_col).limit(1).collect()
    spark = corpus.sparkSession
    schema = f"sel_rank int, {id_col} long, dist double"
    if not first:
        return spark.createDataFrame([], schema)
    seed_v = [float(x) for x in first[0]["_v"]]
    if len(seed_v) != dims:
        raise ValueError(f"kcenter_select_batched: corpus vectors have "
                         f"{len(seed_v)} dims, expected {dims}")
    sel: list[tuple[int, int, float | None]] = [(1, int(first[0][id_col]),
                                                 None)]
    cur = _persist(v6.select(
        id_col, "_v",
        _sqdist_exact(F.col("_v"), _lit_vec(seed_v)).alias("_mind")))
    prev: DataFrame | None = v6
    while len(sel) < k:
        need = k - len(sel)
        batch_n = min(m, need)
        top_m = oversample * batch_n
        cand_rows = (cur.filter(~F.col(id_col)
                                .isin([s[1] for s in sel]))
                     .orderBy(F.col("_mind").desc(), F.col(id_col).asc())
                     .limit(top_m).collect())
        if prev is not None:       # cur materialized: predecessor dead
            _release_one(prev)
            prev = None
        if not cand_rows:
            break                  # corpus smaller than k
        # driver-side greedy over the candidate pool, exact integers:
        # vec components scale to 1e-6 units (exact — they ARE 6-dp),
        # min-dists to 1e-6 units (exact — _sqdist_exact rounds 6 dp)
        pool = [{"id": int(r[id_col]),
                 "vi": [int(round(x * 1e6)) for x in r["_v"]],
                 "v": [float(x) for x in r["_v"]],
                 "mind": int(round(r["_mind"] * 1e6))}
                for r in cand_rows]
        batch_vecs: list[list[float]] = []
        for _ in range(min(batch_n, len(pool))):
            best = max(pool, key=lambda c: (c["mind"], -c["id"]))
            pool.remove(best)
            sel.append((len(sel) + 1, best["id"], best["mind"] / 1e6))
            batch_vecs.append(best["v"])
            for c in pool:
                c["mind"] = min(c["mind"], _sq6_int(c["vi"], best["vi"]))
        if len(sel) < k:
            # ONE corpus pass folds the whole batch into the running min
            prev = cur
            cur = _persist(cur.select(
                id_col, "_v",
                F.least(F.col("_mind"),
                        *[_sqdist_exact(F.col("_v"), _lit_vec(bv))
                          for bv in batch_vecs]).alias("_mind")))
    from airline_data_warehouse_spark.operators.frames import (
        jvm_local_frame,
    )
    return jvm_local_frame(spark, sel, schema)


def _per_dim_mu(corpus: DataFrame, vec_col: str) -> DataFrame:
    """The shared exact per-dimension mean aggregation (dim, mu):
    DECIMAL(20,10) sums rounded 6 dp — the centering constants both
    embedding_covariance and pca_whiten start from. Callers pass an
    already finite-filtered corpus."""
    v = F.col(vec_col).cast("array<double>")
    return (corpus.select(F.posexplode(v).alias("dim", "val"))
            .groupBy("dim")
            .agg(F.round(F.sum(F.col("val").cast("decimal(20,10)"))
                          .cast("double") / F.count(F.lit(1)), 6)
                  .alias("mu")))


def _cov_cells(centered: DataFrame, dims: int, round_dp: int = 6) -> DataFrame:
    """Upper-triangle covariance cells (i, j, cov) from a frame with a
    centered vector column ``c`` of 6-dp-ROUNDED doubles — shared by
    embedding_covariance, pca_whiten and whiten_invariants.

    r15 optimization (guide §4.2 — batch the Python boundary, hand
    whole Arrow batches to vectorized native code): the r11–r14 shape
    exploded d(d+1)/2 product structs PER ROW (n·d²/2 rows through
    Catalyst explode + DECIMAL(38,12) hash-agg: 7.2 s for 2,000×64 at
    sf0.1); this one is a single `mapInArrow` pass — per task, the
    6-dp values recover their EXACT integer 1e-6 units (each double is
    within ~1e-10·|v| of the decimal it rounds to, so rint(c·1e6) is
    exact; a loud guard raises if a caller ever passes unrounded
    values), one int64 matmul per chunk accumulates the exact
    1e-12-unit product sums (each chunk's row count is sized from the
    batch's max|c| so its partial stays < 2^63, and a value too large
    for even one product raises; chunk totals then accumulate in
    arbitrary-precision Python ints), and each task emits d(d+1)/2
    partial rows as DECIMAL(38,12). The only exchange is that schema-bounded partial
    frame. Bit-identical to the decimal-explode path — the product of
    two 6-dp doubles cast to DECIMAL(38,12) IS the exact 12-dp decimal
    product (the established exactness argument), and integer units
    replicate it exactly — measured identical at sf0.1 and 0.93 s vs
    7.19 s median-of-5 (OPTIMIZATION_r15.md).

    ``round_dp``: output rounding — 6 for the exact covariance
    contract, 9 for the whiten-invariants fit, 3 for its Gram."""
    import pyarrow as pa

    n_pairs = dims * (dims + 1) // 2
    iu = [i for i in range(dims) for _ in range(i, dims)]
    ju = [j for i in range(dims) for j in range(i, dims)]

    def _partial(batches):
        import decimal

        import numpy as np
        acc = [0] * n_pairs
        cnt = 0
        i64 = 2 ** 63 - 1
        iu_a = np.array(iu, dtype=np.int64)
        ju_a = np.array(ju, dtype=np.int64)
        for batch in batches:
            flat = np.asarray(batch.column(0).flatten(), dtype=np.float64)
            if flat.size % dims:
                raise ValueError(
                    f"_cov_cells: vector length is not dims={dims} "
                    f"(got {flat.size} values for "
                    f"{batch.num_rows} rows)")
            arr = flat.reshape(-1, dims)
            scaled = arr * 1e6
            ci = np.rint(scaled)
            if scaled.size and np.max(np.abs(scaled - ci)) > 1e-3:
                raise ValueError(
                    "_cov_cells: centered values are not 6-dp-rounded "
                    "doubles — the integer-exact accumulation only "
                    "replicates the DECIMAL(38,12) contract for "
                    "round(x, 6) inputs (round the caller's column "
                    "first)")
            # chunk so no int64 partial can overflow: with mx = max|c|
            # in units, each product is ≤ mx² and a chunk of
            # (2^63−1) // mx² rows sums to ≤ 2^63−1
            mx = int(np.max(np.abs(ci))) if ci.size else 0
            if mx * mx > i64:
                raise ValueError(
                    f"_cov_cells: |centered value| {mx / 1e6} is past "
                    "~3037, where one product overflows int64 1e-12 "
                    "units")
            rows = i64 // (mx * mx) if mx else max(ci.shape[0], 1)
            ci = ci.astype(np.int64)
            for lo in range(0, ci.shape[0], rows):
                ch = ci[lo:lo + rows]
                tri = (ch.T @ ch)[iu_a, ju_a]
                for p in range(n_pairs):
                    acc[p] += int(tri[p])
                cnt += ch.shape[0]
        yield pa.RecordBatch.from_arrays(
            [pa.array(iu, type=pa.int32()),
             pa.array(ju, type=pa.int32()),
             pa.array([decimal.Decimal(a).scaleb(-12) for a in acc],
                      type=pa.decimal128(38, 12)),
             pa.array([cnt] * n_pairs, type=pa.int64())],
            names=["i", "j", "psum", "pcnt"])

    partials = (centered.select("c")       # only the vector crosses (§4.1)
                .mapInArrow(_partial,
                            "i int, j int, psum decimal(38,12), pcnt long"))
    return (partials.groupBy("i", "j")
            .agg(F.sum("psum").alias("_s"), F.sum("pcnt").alias("_n"))
            # + 0.0 canonicalizes IEEE signed zero: a negative sum that
            # rounds to zero yields -0.0, which the external
            # canonicalizer renders differently from the oracle's 0.0
            .select("i", "j",
                    (F.round(F.col("_s").cast("double")
                             / (F.col("_n") - 1), round_dp) + 0.0)
                    .alias("cov")))


def embedding_covariance(corpus: DataFrame, dims: int = 64,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Exact distributed covariance of the embedding matrix — the
    Σ = E[(v−μ)(v−μ)ᵀ] every PCA/whitening/ZCA preprocessing step
    starts from. Output: one row per upper-triangle cell
    (i ≤ j, both 0-based): (i, j, cov) with the (n−1) sample estimator.

    Spark-first shape: the per-dim mean is one exact-decimal
    aggregation; centering is an in-row zip_with against the
    broadcast 1-row mean; the d(d+1)/2 cell products are generated
    IN-ROW by nested array transforms (no self-join — a join on the
    doc id would shuffle the exploded corpus twice), and the only
    exchange is the (i, j)-keyed partial aggregation, which collapses
    to ≤ d(d+1)/2 rows per task before it moves. Cost is therefore one
    corpus pass with a d²-bounded constant factor — linear, and the
    shuffle is schema-bounded regardless of corpus size.

    Exactness: means round 6 dp from DECIMAL(20,10) sums; centered
    values round 6 dp (so their double products recover the exact
    ≤12-dp decimal when cast to DECIMAL(38,12) — the residual-rounding
    argument from ivfpq_topk); cell sums are exact decimal and divide
    by (n−1) once, rounded 6 dp. The DuckDB oracle reproduces every
    cell bit-for-bit."""
    corpus = corpus.filter(_finite_ok(F.col(vec_col)))
    v = F.col(vec_col).cast("array<double>")
    per_dim = _per_dim_mu(corpus, vec_col)
    mu = (per_dim.agg(F.array_sort(F.collect_list(F.struct("dim", "mu")))
                       .alias("p"))
          .select(F.transform("p", lambda s: s["mu"]).alias("mu")))
    centered = (corpus.crossJoin(F.broadcast(mu))
                .select(F.zip_with(v, F.col("mu"),
                                   lambda a, b: F.round(a - b, 6))
                         .alias("c")))
    return _cov_cells(centered, dims)


def pca_whiten(corpus: DataFrame, k: int = 16, eps: float = 1e-6,
               dims: int = 64, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """PCA projection + whitening: project each embedding onto the top-k
    principal components of the EXACT distributed covariance
    (embedding_covariance), scaling each component by 1/√(λ+eps) so the
    output coordinates have unit variance — the standard preprocessing
    before cosine/L2 retrieval or SemDeDup when raw embedding dims are
    correlated or badly scaled.

    Scale shape: the d×d eigendecomposition runs on the DRIVER over the
    collected covariance cells — d(d+1)/2 values bounded by the SCHEMA
    (the k-means "1-row training scalar per round" precedent, at d²
    scalars); nothing corpus-sized ever reaches the driver. The
    projection matrix returns to the executors as array literals
    (similarity._lit_vec) and the corpus maps through k JVM dot
    products in one pass — no shuffle at all downstream of the
    covariance aggregation.

    Determinism: LAPACK eigenvectors are sign- and (under degenerate
    eigenvalues) basis-ambiguous across platforms, so the CONTRACT is
    pinned by properties, not values: output variance per coordinate ≈ 1,
    coordinates decorrelated, projection linear — test_llmops pins all
    three; the registry key is rows-only for this reason (the covariance
    underneath is the oracle-certified part). Sign is canonicalized
    (largest-|w| entry positive) so same-platform reruns are identical.

    Output: (id, components array<double> length k).

    Corpus passes: exactly three — the per-dim mean aggregation (its d
    6-dp scalars collected driver-side, the same schema-bounded class
    as the covariance cells), the covariance cell aggregation over
    values centered against those means AS LITERALS, and the final
    projection map. The r9 shape paid a fourth pass (its own mean
    re-aggregation) plus a broadcast crossJoin per downstream pass —
    the r9 ADVICE-low this rewrite closes. Centering via literals is
    bit-identical to embedding_covariance's broadcast-frame centering:
    both apply the identical 6-dp-rounded doubles."""
    centered, _evals, ws = _pca_fit(corpus, k=k, eps=eps, dims=dims,
                                    id_col=id_col, vec_col=vec_col)
    comps = F.array(*[_dot(F.col("c"), _lit_vec(w)) for w in ws])
    return centered.select(F.col(id_col), comps.alias("components"))


def _pca_fit(corpus: DataFrame, k: int, eps: float, dims: int,
             id_col: str, vec_col: str, cov_dp: int = 6
             ) -> tuple[DataFrame, list[float], list[list[float]]]:
    """Shared PCA fit for pca_whiten / whiten_invariants: exact-decimal
    per-dim means (6 dp, as literals), centered frame, driver-side
    eigendecomposition of the ``cov_dp``-rounded covariance cells
    (d(d+1)/2 schema-bounded scalars — the k-means training-scalar
    precedent). ``cov_dp=6`` is the certified embedding_covariance
    contract (pca_whiten's default); whiten_invariants passes 9: the
    Gram-identity certificate's deviation is bounded by
    ‖ΔΣ‖/λ_min ≈ d·0.5·10^−cov_dp/λ_min, and the extra 3 digits shrink
    that bound 1000× so it clears the 3-dp rounding margin for any
    λ_min ≥ d·2e-6 instead of flaking inside λ_min ∈ [1e-4, 1e-2]
    (ADVICE r11-medium). Returns (centered (id, c), top-k eigenvalues
    desc, sign-canonicalized whitening rows w_r = v_r / sqrt(λ_r + eps),
    each rounded 9 dp)."""
    import numpy as np

    corpus = corpus.filter(_finite_ok(F.col(vec_col)))
    mu_vals = [round(float(r["mu"]), 6) for r in
               _per_dim_mu(corpus, vec_col).orderBy("dim").collect()]
    if len(mu_vals) != dims:
        raise ValueError(f"corpus vectors have {len(mu_vals)} dims, "
                         f"expected {dims}")
    centered = corpus.select(
        F.col(id_col),
        F.zip_with(F.col(vec_col).cast("array<double>"),
                   _lit_vec(mu_vals),
                   lambda a, b: F.round(a - b, 6)).alias("c"))
    cov_rows = _cov_cells(centered, dims, round_dp=cov_dp).collect()
    sigma = np.zeros((dims, dims))
    for r in cov_rows:
        sigma[r["i"], r["j"]] = r["cov"]
        sigma[r["j"], r["i"]] = r["cov"]
    evals, evecs = np.linalg.eigh(sigma)          # ascending order
    order = np.argsort(evals)[::-1][:k]
    ws = []
    top = []
    for col in order:
        top.append(float(evals[col]))
        w = evecs[:, col] / math.sqrt(max(float(evals[col]), 0.0) + eps)
        if w[int(np.argmax(np.abs(w)))] < 0:      # canonical sign
            w = -w
        ws.append([round(float(x), 9) for x in w])
    return centered, top, ws


def whiten_invariants(corpus: DataFrame, dims: int = 64,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Basis-invariant certificate of the whitening transform — the
    oracle-able form of pca_whiten's contract (VERDICT r10 item 1).
    LAPACK eigenVECTORS are sign/basis-ambiguous across platforms, so
    raw whitened coordinates can never be hash-compared cross-engine;
    but every quantity below is invariant under that ambiguity and so
    has exactly one correct value:

    * ``('gram', i, j, value)`` for i ≤ j over the FULL spectrum
      (k = dims, eps = 1e-12 ≈ 0): the (n−1)-divisor Gram of the
      whitened output, rounded 3 dp. Whitening whitens iff this is the
      identity — value 1.0 on the diagonal, 0.0 off. The fit runs on
      9-dp covariance cells (cov_dp=9), so the worst-case Gram
      deviation is ‖ΔΣ‖/λ_min ≤ d·0.5e-9/λ_min — the ANALYTIC bound,
      not one corpus's measured margin (ADVICE r11-medium: with 6-dp
      cells the bound d·5e-7/λ_min exceeded the 5e-4 rounding margin
      for legitimate λ_min ∈ [1e-4, 1e-2], a hash-flake window; at
      9 dp the bound at the refusal threshold is 2.5e-4 < 5e-4). The
      function REFUSES (raises) when λ_min < max(1e-4, d·2e-6), the
      threshold the bound is derived at — rank-deficient input is a
      caller error, not a hash roulette.
    * ``('eig_sum', ...)`` / ``('eig_sumsq', ...)``: Σλ and Σλ² of the
      decomposed spectrum, rounded 6 dp — DATA-dependent invariants the
      oracle reproduces exactly from the same 9-dp covariance cells as
      trace(Σ) and ‖Σ‖²_F (basis-free by similarity-invariance of
      trace). These pin that the driver-side eigh decomposed the same
      matrix the distributed covariance aggregation produced.
    * ``('n_rows', ...)``: finite-vector count (pins the filter).

    Output: (stat, i, j, value) — 3 scalar rows + d(d+1)/2 gram rows.
    Scale shape: the two corpus passes of pca_whiten (mean + covariance)
    plus one projected-Gram pass (_cov_cells on the k-dim output, the
    same schema-bounded exchange)."""
    centered, evals, ws = _pca_fit(corpus, k=dims, eps=1e-12, dims=dims,
                                   id_col=id_col, vec_col=vec_col,
                                   cov_dp=9)
    lam_floor = max(1e-4, dims * 2e-6)
    if evals[-1] < lam_floor:
        raise ValueError(
            f"whiten_invariants: covariance spectrum is near-singular "
            f"(λ_min = {evals[-1]:.2e} < {lam_floor:.2e} = "
            f"max(1e-4, d·2e-6)); the Gram-identity certificate's "
            f"analytic error bound d·0.5e-9/λ_min would pass the 5e-4 "
            f"rounding margin — reduce dims or fix the corpus")
    comps = F.array(*[_dot(F.col("c"), _lit_vec(w)) for w in ws])
    # 6-dp-round the projected coordinates so the Gram pass rides the
    # integer-exact _cov_cells kernel (r15): |y| is ~1 by construction
    # (whitened coordinates), so the perturbation adds ≤ ~2·0.5e-6·E|y|
    # ≈ 1e-6 per Gram cell — three orders of magnitude inside the
    # certificate's remaining margin (5e-4 rounding margin minus the
    # 2.5e-4 analytic covariance-rounding bound), and the certified
    # output (the exact identity after 3-dp rounding) is unchanged
    projected = centered.select(
        F.transform(comps, lambda x: F.round(x, 6)).alias("c"))
    gram = (_cov_cells(projected, dims, round_dp=3)
            .select(F.lit("gram").alias("stat"), "i", "j",
                    F.col("cov").alias("value")))
    n = centered.count()
    spark = corpus.sparkSession
    from airline_data_warehouse_spark.operators.frames import (
        jvm_local_frame,
    )
    scalars = jvm_local_frame(
        spark,
        [("eig_sum", -1, -1, round(float(sum(evals)), 6) + 0.0),
         ("eig_sumsq", -1, -1,
          round(float(sum(v * v for v in evals)), 6) + 0.0),
         ("n_rows", -1, -1, float(n))],
        "stat string, i int, j int, value double")
    return gram.unionByName(scalars)


def lsh_band_plan(n_rows: int,
                  target_candidates_per_item: float = 64.0,
                  design_cosine: float = 0.8,
                  target_recall: float = 0.9,
                  bands_hint: int = 8,
                  min_rows_per_band: int = 4,
                  max_rows_per_band: int = 24) -> dict:
    """Deterministic banded-hyperplane-LSH parameter planner — the
    operational form of the SCALING.md r13 note that band width must
    grow ~log n: random-pair candidate volume per item is
    ≈ bands · n / 2^rows_per_band (a random pair agrees with a
    hyperplane sign w.p. 1/2, so a band of R bits collides w.p. 2^-R),
    so holding the candidate BUDGET constant as the corpus grows means
    R = ⌈log₂(bands · n / budget)⌉ — and recall is then restored by
    the band count: a pair at cosine s agrees per bit w.p.
    1 − arccos(s)/π (Goemans–Williamson / Charikar SimHash), collides
    per band w.p. p = (1 − arccos(s)/π)^R, and over B bands w.p.
    1 − (1−p)^B, giving B = ⌈ln(1−recall)/ln(1−p)⌉.

    The two constraints are coupled (more bands → more candidates →
    wider bands), so the planner iterates the pair to a fixed point
    (converges in ≤ 4 rounds for any feasible target; R is clamped to
    [min, max] — at max_rows_per_band=24 a band key still fits the
    int32 the key builders emit). Driver-side pure math: call it once
    with the corpus count, pass the result to lsh_topk /
    embedding_near_dup_pairs / mutual_knn_pairs_banded. The
    minhash_jaccard_calibration registry key is the measured
    counterpart for the MinHash family — this is the closed-form one
    for hyperplanes.

    Returns {bands, rows_per_band, expected_random_candidates_per_item,
    per_band_true_pair_prob, expected_recall, budget_met}.
    ``budget_met`` is False when R hit max_rows_per_band and the
    candidate budget is still exceeded — the signal that banding alone
    no longer carries the corpus (at ~10¹⁰ rows, shard first: coarse
    IVF cells, then band WITHIN cells — the semantic_cluster_profile
    composition) rather than a silently-blown budget."""
    import math

    if n_rows <= 0:
        raise ValueError("lsh_band_plan: n_rows must be positive")
    if not 0.0 < design_cosine < 1.0:
        raise ValueError("lsh_band_plan: design_cosine must be in (0,1)")
    if not 0.0 < target_recall < 1.0:
        raise ValueError("lsh_band_plan: target_recall must be in (0,1)")
    p_bit = 1.0 - math.acos(design_cosine) / math.pi
    bands = max(1, int(bands_hint))
    rows = min_rows_per_band
    for _ in range(4):
        want = max(2.0, bands * n_rows / target_candidates_per_item)
        rows = min(max(min_rows_per_band, math.ceil(math.log2(want))),
                   max_rows_per_band)
        p_band = p_bit ** rows
        if p_band >= 1.0:
            new_bands = 1
        else:
            new_bands = max(1, math.ceil(
                math.log(1.0 - target_recall) / math.log(1.0 - p_band)))
        if new_bands == bands:
            break
        bands = new_bands
    p_band = p_bit ** rows
    cand = bands * n_rows / (1 << rows)
    return {
        "bands": bands,
        "rows_per_band": rows,
        "expected_random_candidates_per_item": round(cand, 3),
        "per_band_true_pair_prob": round(p_band, 6),
        "expected_recall": round(1.0 - (1.0 - p_band) ** bands, 6),
        "budget_met": cand <= 2.0 * target_candidates_per_item,
    }


def planned_band_params(n_rows: int,
                        target_candidates_per_item: float = 64.0,
                        design_cosine: float = 0.96,
                        target_recall: float = 0.9) -> tuple[int, int]:
    """(bands, rows_per_band) for the banded operators, derived from
    lsh_band_plan — the wiring VERDICT r13 item 4 asked for: the
    planner existed beside the operators, nothing executed its output.
    Seeded at bands_hint=4 with a 0.96 design cosine so the certified
    sf0.1 near-dup corpus (4,000 vectors) reproduces today's literal
    constants (bands=4, rows_per_band=8) EXACTLY — zero certified-key
    rotation — while larger corpora widen bands ~log n and hold
    per-item candidate volume inside the budget (8× the sf0.1 corpus
    plans (6, 12) with ~47 expected random candidates/item vs the
    fixed constants' 8× drift to ~250; test-pinned). Raises when the
    planner reports budget_met=False — banding alone no longer carries
    the corpus; shard into IVF cells first (the
    semantic_cluster_profile composition) instead of silently blowing
    the candidate budget."""
    plan = lsh_band_plan(n_rows, target_candidates_per_item,
                         design_cosine, target_recall, bands_hint=4)
    if not plan["budget_met"]:
        raise ValueError(
            "planned_band_params: candidate budget cannot be met by "
            f"banding alone at n_rows={n_rows} "
            f"(expected {plan['expected_random_candidates_per_item']} "
            f"candidates/item at rows_per_band="
            f"{plan['rows_per_band']}); shard into IVF cells first "
            "and band within cells")
    return plan["bands"], plan["rows_per_band"]


def _resolve_band_params(corpus: DataFrame, bands: int | None,
                         rows_per_band: int | None,
                         defaults: tuple[int, int]) -> tuple[int, int]:
    """Auto path for the banded operators: bands=None (and/or
    rows_per_band=None) derives BOTH from the corpus count via
    planned_band_params — one count() action, the price of a plan that
    tracks the corpus instead of a constant that silently degrades.
    Passing literals (the default) costs nothing and stays the
    certified fixed point.

    ``defaults``: the operator's own literal defaults. A single-None
    call where the other half still sits at its default (the
    documented `bands=None` spelling) is the planned path; a
    single-None call whose OTHER half was explicitly moved OFF the
    default raises — the pair is jointly planned (more bands → wider
    bands to hold the budget), and silently replacing an explicit
    literal with planner output would discard caller intent
    (review r14, both directions)."""
    if bands is not None and rows_per_band is not None:
        return bands, rows_per_band
    if (bands is not None and bands != defaults[0]) or \
            (rows_per_band is not None and rows_per_band != defaults[1]):
        raise ValueError(
            "banded operators: pass BOTH bands and rows_per_band as "
            "literals, or use the planned path (bands=None with "
            "rows_per_band left at its default) — a non-default "
            "literal mixed with None is ambiguous (the pair is "
            "jointly planned)")
    return planned_band_params(corpus.count())
