"""Behavioral tests for the training-data-pipeline operators: recall on
crafted near-duplicates, LSH bucket invariants, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airline_data_warehouse_spark.operators import dedup as dd
from airline_data_warehouse_spark.operators import multimodal as mm
from airline_data_warehouse_spark.operators import sampling as sp
from airline_data_warehouse_spark.operators import similarity as sim
from airline_data_warehouse_spark.operators import text as tx
from airline_data_warehouse_spark.sources import atomic as at
from airline_data_warehouse_spark.sources.atomic import read_table

BASE = ("the quick brown fox jumps over the lazy dog while the market data "
        "pipeline keeps shuffling partitions across the cluster nodes")


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    rows = [
        (1, BASE),
        (2, BASE + " tail"),                 # near-dup of 1
        (3, BASE.replace("quick", "rapid")),  # near-dup of 1
        (4, "completely different content about airline insurance claims and "
            "kafka streaming updates for delayed flights at busy airports"),
        (5, BASE),                            # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_lowest_id(spark, near_dup_docs):
    kept = {r["doc_id"] for r in dd.exact_dedup(near_dup_docs).collect()}
    assert kept == {1, 2, 3, 4}  # 5 collapses into 1
    groups = dd.duplicate_groups(near_dup_docs).collect()
    assert {r["doc_id"] for r in groups} == {1, 5}
    assert all(r["representative"] == 1 for r in groups)


def test_minhash_finds_near_dups(spark, near_dup_docs):
    pairs = {(r["id1"], r["id2"]) for r in dd.minhash_lsh_candidates(near_dup_docs).collect()}
    assert (1, 5) in pairs          # identical signatures always collide
    assert (1, 2) in pairs          # tail-append survives banding
    assert not any(4 in p for p in pairs)  # unrelated doc never pairs


def test_jaccard_verification(spark, near_dup_docs):
    got = {(r["id1"], r["id2"]): r["jaccard"] for r in
           dd.ngram_jaccard_pairs(near_dup_docs, threshold=0.5).collect()}
    assert got[(1, 5)] == 1.0
    assert got[(1, 2)] >= 0.9
    assert all(j >= 0.5 for j in got.values())


def test_prefix_filter_matches_lsh_verified_pairs(spark, near_dup_docs):
    got = {(r["id1"], r["id2"]): r["jaccard"] for r in
           dd.prefix_filter_jaccard_pairs(near_dup_docs, threshold=0.5).collect()}
    want = {(r["id1"], r["id2"]): r["jaccard"] for r in
            dd.ngram_jaccard_pairs(near_dup_docs, threshold=0.5).collect()}
    # exact join ⊇ LSH-verified; on this fixture LSH has full recall, so
    # the two must agree pair-for-pair, jaccard-for-jaccard
    assert got == want
    assert got[(1, 5)] == 1.0


def test_prefix_filter_boundary_subset_pair(spark):
    # J = 3/5, exactly the t = 0.6 threshold: the pair survives ONLY if
    # every pruning bound is computed in exact arithmetic — double math
    # makes ceil(0.6*5) = ceil(3.0000000000000004) = 4, shortening the
    # bigger doc's prefix past the only shared rare token, and the
    # length filter's least(3,5) >= 0.6*5 comparison fails the same way.
    # The positional filter also lands exactly on its bound here
    # (ub*(1+t) = 4.8 = t*(n1+n2)), so all three prunes are pinned.
    df = spark.createDataFrame([(1, "abcde"), (2, "abc")],
                               "doc_id long, text string")
    got = {(r["id1"], r["id2"]): r["jaccard"] for r in
           dd.prefix_filter_jaccard_pairs(df, k=1, threshold=0.6).collect()}
    assert got == {(1, 2): 0.6}


def test_containment_catches_jaccard_blind_inclusion(spark):
    """The op's reason to exist: a short doc verbatim inside a long one.
    k=1 char shingles → set containment == char-set containment. Doc 2
    ('abc') is fully inside doc 1 (16 distinct chars): containment 1.0,
    Jaccard 3/16 ≈ 0.19 — invisible to the exact Jaccard join at any
    threshold ≥ 0.2, while the containment join reports it."""
    long = "abcdefghijklmnop"
    df = spark.createDataFrame([(1, long), (2, "abc")],
                               "doc_id long, text string")
    got = {(r["id_small"], r["id_big"]): r["containment"] for r in
           dd.containment_pairs(df, k=1, threshold=0.9).collect()}
    assert got == {(2, 1): 1.0}
    jac = dd.prefix_filter_jaccard_pairs(df, k=1, threshold=0.5).collect()
    assert jac == []  # Jaccard path is blind to the inclusion


def test_containment_boundary_and_ties(spark):
    """Boundary exactness and tie-size pairing: C = 4/5 exactly at
    t = 0.8 survives only under decimal bounds (double ceil(0.8*5) = 4
    keeps the prefix length 2 — but the positional bound lands exactly
    on 1 + min(n-p) = t*n); equal-size sets pair exactly once with
    id_small = the lower id."""
    df = spark.createDataFrame(
        [(1, "abcde"), (2, "abcd"),        # C(2→1) = 4/4 = 1.0
         (3, "vwxyz"), (4, "vwxyq")],      # C = 4/5 = 0.8, equal sizes
        "doc_id long, text string")
    got = {(r["id_small"], r["id_big"]): r["containment"] for r in
           dd.containment_pairs(df, k=1, threshold=0.8).collect()}
    assert got[(2, 1)] == 1.0
    assert got[(3, 4)] == 0.8
    assert (4, 3) not in got  # unordered pair emitted exactly once


def test_simhash_similarity(spark, near_dup_docs):
    sigs = {r["doc_id"]: r["simhash"] for r in dd.simhash_signatures(near_dup_docs).collect()}
    assert sigs[1] == sigs[5]
    ham_near = bin(sigs[1] ^ sigs[2]).count("1")
    ham_far = bin(sigs[1] ^ sigs[4]).count("1")
    assert ham_near < ham_far  # near-dup closer in hamming space


def test_hard_negatives_exclude_near_dup_band(spark):
    """The mining trap the op exists to avoid: vector 101 is a
    near-copy of anchor 1 (cosine ~0.9998) — a naive top-k returns it
    at rank 1, but mined as a 'negative' it would be an unlabeled
    positive. hard_negatives must skip it and rank only the [low, high)
    band, in the same order the naive top-k ranks those same vectors."""
    import math
    base = [1.0] + [0.0] * 63

    def rot(theta):  # rotate in the (dim0, dim1) plane → cosine = cos θ
        v = [0.0] * 64
        v[0], v[1] = math.cos(theta), math.sin(theta)
        return v

    rows = [(1, base), (101, rot(0.02)),              # near-dup, cos ≈ 1
            (2, rot(0.6)), (3, rot(0.9)), (4, rot(1.2)),   # the band
            (5, rot(2.8))]                             # far: cos < low
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    anchors = df.filter(F.col("vec_id") == 1)
    naive = sim.lsh_topk(df, anchors, k=5, bands=16, rows_per_band=4)
    assert [r["neighbor_id"] for r in
            naive.orderBy("rank").collect()][0] == 101
    got = sim.hard_negatives(df, anchors, k=5, low=0.2, high=0.95,
                             bands=16, rows_per_band=4).orderBy("rank").collect()
    ids = [r["neighbor_id"] for r in got]
    assert 101 not in ids and 5 not in ids
    assert ids == [2, 3, 4]  # band members, most-similar first
    assert all(0.2 <= r["score"] < 0.95 for r in got)


def test_brute_force_topk_self_similarity(spark):
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(4)]
    rows.append((10, [1.0, 0.001, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))  # ~= vec 0
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    top = sim.brute_force_topk(corpus, corpus.filter(F.col("vec_id") == 0), k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in top.orderBy("rank").collect()]
    assert got[0][0] == 10  # the nearly-parallel vector ranks first


def test_lsh_bucket_stable_under_scaling(spark):
    rows = [(1, [0.5] * 64), (2, [1.5] * 64)]  # same direction, diff norms
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    buckets = {r["vec_id"]: r["b"] for r in
               df.select("vec_id", sim.hyperplane_bucket(F.col("embedding")).alias("b")).collect()}
    assert buckets[1] == buckets[2]  # hyperplane signs are scale-invariant


def test_lsh_bucket_sql_and_column_paths_agree(spark):
    """The SQL-string fast path (one parsed expression) and the Column
    HOF path must produce identical buckets for arbitrary vectors —
    they're the same expression tree built two ways."""
    import random
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = df.select("vec_id",
                    sim.hyperplane_bucket("embedding").alias("fast"),
                    sim.hyperplane_bucket(F.col("embedding")).alias("slow")).collect()
    assert all(r["fast"] == r["slow"] for r in got)


def test_lang_id_markers(spark):
    docs = spark.createDataFrame([
        (1, "the cat and the dog of the house is big"),
        (2, "el perro y la casa de los gatos que ladran"),
        (3, "der hund und die katze ist das haus"),
        (4, "xyzzy plugh qwerty"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r["predicted_lang"] for r in tx.lang_id(docs).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_multimodal_sniff_and_decode(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG\r\nrest"), "image", None),
         (2, bytearray(b"RIFFxxxxWAVE"), "audio", None),
         (3, bytearray(b"\xff\xd8\xff\xe0jpeg"), "image", None)],
        mm.MEDIA_SCHEMA)
    sniffed = {r["media_id"]: r for r in mm.sniff_media_type(media).collect()}
    assert sniffed[1]["sniffed_mime"] == "image/png"
    assert sniffed[2]["sniffed_type"] == "audio"
    assert sniffed[3]["sniffed_mime"] == "image/jpeg"

    decoded = {r["media_id"]: r for r in
               mm.decode_media(media, deterministic_fake=True).collect()}
    assert decoded[1]["width"] is not None and decoded[1]["duration_ms"] is None
    assert decoded[2]["duration_ms"] is not None and decoded[2]["width"] is None
    assert decoded[1]["checksum"] != decoded[3]["checksum"]

    # real mode on an image without Pillow installed raises, naming the dep
    with pytest.raises(Exception, match="NotImplementedError|Pillow|decoder"):
        mm.decode_media(media.filter("media_type = 'image'"),
                        deterministic_fake=False).collect()


def test_multimodal_real_wav_decode(spark):
    """The REAL decode path for audio: stdlib `wave` reads an actual WAV
    payload end-to-end through the mapInPandas contract — 8000 frames at
    16 kHz must come back as exactly 500 ms."""
    import io
    import wave as wavlib
    buf = io.BytesIO()
    with wavlib.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(16_000)
        wf.writeframes(bytes(8_000 * 2))
    payload = buf.getvalue()
    media = spark.createDataFrame([(1, bytearray(payload), "audio", "audio/wav")],
                                  mm.MEDIA_SCHEMA)
    row = mm.decode_media(media, deterministic_fake=False).collect()[0]
    assert row["duration_ms"] == 500
    assert row["width"] is None and row["n_bytes"] == len(payload)


def test_multimodal_real_image_decode(spark):
    """Real image decode via Pillow — runs wherever PIL is installed,
    skips cleanly here (the import guard is the behavior under test)."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import io
    buf = io.BytesIO()
    PIL_Image.new("RGB", (37, 23)).save(buf, format="PNG")
    media = spark.createDataFrame([(1, bytearray(buf.getvalue()), "image", "image/png")],
                                  mm.MEDIA_SCHEMA)
    row = mm.decode_media(media, deterministic_fake=False).collect()[0]
    assert (row["width"], row["height"]) == (37, 23)


def test_frame_sampling(spark):
    decoded = spark.createDataFrame(
        [(1, "video", 3500), (2, "image", None)],
        "media_id long, media_type string, duration_ms int")
    frames = mm.frame_sample_plan(decoded, every_ms=1000).collect()
    assert [(r["media_id"], r["frame_ts_ms"]) for r in frames] == [
        (1, 0), (1, 1000), (1, 2000), (1, 3000)]


def test_cache_scope_leaves_no_persistent_rdds(spark, near_dup_docs):
    """Cache lifetime is one query: after an action inside a
    cache_scope(), no persisted RDDs beyond the pre-test baseline
    remain once the scope exits (VERDICT r01 leak fix). Delta-based
    because the session-scoped SparkSession may still hold
    localCheckpoint blocks from earlier tests (CC/semantic runs) that
    only the JVM ContextCleaner reclaims — those are outside the
    scope's ownership contract."""
    spark.catalog.clearCache()
    base = spark.sparkContext._jsc.getPersistentRDDs().size()
    with dd.cache_scope():
        dd.ngram_jaccard_pairs(near_dup_docs).collect()  # shingles + bands
        assert spark.sparkContext._jsc.getPersistentRDDs().size() > base
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == base


def test_banded_near_dup_beats_single_table(spark):
    """Banded OR-of-ANDs: a perturbed twin that disagrees with its source
    on a plane in one band is still a candidate via another band. The
    scaled-direction pair must always pair; near-identical pairs at
    threshold 0.99 are found with all-band recall."""
    import random
    rnd = random.Random(7)
    base = [rnd.uniform(-1, 1) for _ in range(64)]
    rows = [(1, base),
            (2, [x * 2.0 for x in base]),          # same direction → score 1.0
            (3, base[:32] + [x + 0.01 for x in base[32:]]),  # tiny perturbation
            (4, [rnd.uniform(-1, 1) for _ in range(64)])]    # unrelated
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r["id1"], r["id2"]): r["score"]
             for r in sim.embedding_near_dup_pairs(df, threshold=0.99).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_edit_distance_join_same_length_heavy(spark):
    """Segment blocking must stay correct AND selective when every string
    has the same length (the adversarial case for length-bucket blocking).
    Result is compared against the brute-force theta join."""
    import random
    from airline_data_warehouse_spark.operators.strings import edit_distance_join
    rnd = random.Random(13)
    canon_names = ["".join(rnd.choice("abcdef") for _ in range(10)) for _ in range(120)]
    canon_names = sorted(set(canon_names))
    probes = []
    for i, name in enumerate(canon_names):
        if i % 3 == 0:    # substitution
            probes.append((i, name[:4] + "z" + name[5:]))
        elif i % 3 == 1:  # deletion
            probes.append((i, name[:3] + name[4:]))
        else:             # unrelated
            probes.append((i, "".join(rnd.choice("uvwxyz") for _ in range(10))))
    probe_df = spark.createDataFrame(probes, "pid int, dirty string")
    canon_df = spark.createDataFrame([(n,) for n in canon_names], "name string")

    got = {(r["pid"], r["name"], r["distance"])
           for r in edit_distance_join(probe_df, canon_df, "dirty", "name", k=2).collect()}
    brute = {(r["pid"], r["name"], r["d"])
             for r in probe_df.crossJoin(canon_df)
             .withColumn("d", F.levenshtein("dirty", "name").cast("int"))
             .filter(F.col("d") <= 2).collect()}
    assert got == brute and len(got) >= len(canon_names) * 2 // 3


def test_connected_components_transitive(spark):
    """Labels propagate transitively (a-b, b-c ⇒ one cluster without an
    a-c edge), singletons keep their own id, and every vertex appears."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], "id1 long, id2 long")
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 7, 9)], "doc_id long")
    with dd.cache_scope():
        got = {r["doc_id"]: r["cluster_id"]
               for r in dd.connected_components(pairs, verts).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 9: 7}


def test_connected_components_chain_diameter(spark):
    """A long chain needs several propagation rounds — exercises the
    convergence loop, not just the first iteration."""
    n = 7
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, n)], "id1 long, id2 long")
    verts = spark.createDataFrame([(i,) for i in range(1, n + 1)], "doc_id long")
    with dd.cache_scope():
        got = {r["doc_id"]: r["cluster_id"]
               for r in dd.connected_components(pairs, verts).collect()}
    assert got == {i: 1 for i in range(1, n + 1)}


def test_connected_components_doubling_beats_diameter(spark):
    """Pointer doubling converges a diameter-32 chain well inside 8
    rounds (plain 1-hop propagation would need 32) — the O(log d) claim."""
    n = 33
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, n)], "id1 long, id2 long")
    verts = spark.createDataFrame([(i,) for i in range(1, n + 1)], "doc_id long")
    with dd.cache_scope():
        got = {r["doc_id"]: r["cluster_id"] for r in
               dd.connected_components(pairs, verts, max_iter=8).collect()}
    assert got == {i: 1 for i in range(1, n + 1)}


def test_connected_components_nonconvergence_raises(spark):
    """Hitting max_iter without the fixpoint raises instead of silently
    returning split clusters (downstream dedup would keep duplicates)."""
    n = 40
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, n)], "id1 long, id2 long")
    verts = spark.createDataFrame([(i,) for i in range(1, n + 1)], "doc_id long")
    with dd.cache_scope(), \
            pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(pairs, verts, max_iter=2)


def test_cache_scope_releases_only_own_tail(spark):
    """cache_scope frees the caches created inside the block and leaves
    those of an enclosing scope alone."""
    with dd.cache_scope() as outer_owned:
        outer = dd._persist(spark.range(3))
        with dd.cache_scope() as owned:
            inner = spark.range(5)
            dd._persist(inner)
            inner.count()
            assert inner.storageLevel.useMemory
            assert owned == [inner]
        assert not inner.storageLevel.useMemory     # released by the scope
        assert outer_owned == [outer]               # untouched
        assert outer.storageLevel.useMemory
    assert not outer.storageLevel.useMemory


def test_cache_scope_is_per_thread(spark):
    """Interleaved scopes on two threads own only their own frames: A
    enters and persists, B enters and persists, A exits — B's frame is
    still cached until B exits, whatever A releases."""
    import threading

    step = threading.Barrier(2, timeout=60)
    frames, seen = {}, {}

    def a():
        with dd.cache_scope():
            frames["a"] = dd._persist(spark.range(3))
            step.wait()                      # 1: A persisted
            step.wait()                      # 2: B persisted
        seen["a_released"] = not frames["a"].storageLevel.useMemory
        step.wait()                          # 3: A exited

    def b():
        step.wait()                          # 1
        with dd.cache_scope():
            frames["b"] = dd._persist(spark.range(4))
            step.wait()                      # 2
            step.wait()                      # 3
            seen["b_cached"] = frames["b"].storageLevel.useMemory
        seen["b_released"] = not frames["b"].storageLevel.useMemory

    threads = [threading.Thread(target=f) for f in (a, b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    assert seen["a_released"]
    assert seen["b_cached"], "A's exit released B's frame"
    assert seen["b_released"]


def test_simhash_near_pairs_multiprobe(spark, near_dup_docs):
    """Chunk blocking finds hamming>0 neighbors that hamming-0 buckets
    miss, and the verify never passes a pair beyond the budget."""
    budget = dd.SIMHASH_MAX_HAMMING
    sigs = {r["doc_id"]: r["simhash"]
            for r in dd.simhash_signatures(near_dup_docs).collect()}
    pairs = {(r["id1"], r["id2"]): r["hamming"]
             for r in dd.simhash_near_pairs(near_dup_docs).collect()}
    assert (1, 5) in pairs and pairs[(1, 5)] == 0  # exact dup
    for (i, j), h in pairs.items():
        assert h <= budget and h == bin(sigs[i] ^ sigs[j]).count("1")
    expected = {(i, j) for i in sigs for j in sigs if i < j
                and bin(sigs[i] ^ sigs[j]).count("1") <= budget}
    assert set(pairs) == expected  # pigeonhole blocking: full recall


def test_hash_sample_deterministic_and_sized(spark):
    from airline_data_warehouse_spark.operators import sampling as sp
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"] for r in sp.hash_sample(df, 0.2, "doc_id").collect()}
    s2 = {r["doc_id"] for r in sp.hash_sample(df, 0.2, "doc_id").collect()}
    assert s1 == s2                      # rerun-stable
    assert 250 <= len(s1) <= 550         # ~20% of 2000, binomial slack
    # repartitioning must not change membership (the df.sample failure mode)
    s3 = {r["doc_id"] for r in sp.hash_sample(df.repartition(13), 0.2, "doc_id").collect()}
    assert s3 == s1
    # a different salt gives an (almost surely) different sample
    s4 = {r["doc_id"] for r in sp.hash_sample(df, 0.2, "doc_id", salt="other").collect()}
    assert s4 != s1


def test_stratified_quota_exact_counts(spark):
    from airline_data_warehouse_spark.operators import sampling as sp
    rows = [(i, "big" if i < 100 else "small") for i in range(110)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = sp.stratified_quota(df, "source", 25, "doc_id").collect()
    by_group = {}
    for r in got:
        by_group.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by_group["big"]) == 25        # capped
    assert len(by_group["small"]) == 10      # group smaller than quota
    again = sp.stratified_quota(df, "source", 25, "doc_id").collect()
    assert {(r["doc_id"], r["source"]) for r in again} == \
           {(r["doc_id"], r["source"]) for r in got}


def test_train_holdout_split_disjoint_total(spark):
    from airline_data_warehouse_spark.operators import sampling as sp
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    train, hold = sp.split_train_holdout(df, 0.1, "doc_id")
    tr = {r["doc_id"] for r in train.collect()}
    ho = {r["doc_id"] for r in hold.collect()}
    assert tr.isdisjoint(ho) and len(tr) + len(ho) == 1000
    assert 50 <= len(ho) <= 160


def test_redact_pii_patterns(spark):
    rows = [
        (1, "reach me at jane.doe+spam@mail.example.org thanks"),
        (2, "call +1 (555) 010-1234 or +44 (020) 555-9999 now"),
        (3, "no pii here at all"),
        (4, "two mails: a@b.io and c.d@e-f.co plus +1 (555) 010-0000"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in tx.redact_pii(df).collect()}
    assert got[1]["n_emails"] == 1 and "[EMAIL]" in got[1]["redacted_text"]
    assert "jane" not in got[1]["redacted_text"]
    assert got[2]["n_phones"] == 2 and got[2]["redacted_text"].count("[PHONE]") == 2
    assert got[3]["n_emails"] == 0 and got[3]["n_phones"] == 0
    assert got[3]["redacted_text"] == "no pii here at all"
    assert got[4]["n_emails"] == 2 and got[4]["n_phones"] == 1


def test_sequence_packing_contiguous(spark):
    """Within a shard, documents tile the token stream head-to-tail:
    sorting by (bin, offset) reproduces a gapless prefix-sum layout."""
    from airline_data_warehouse_spark.operators import sampling as sp
    rows = [(i, 10 + (i * 7) % 50) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    got = sp.sequence_packing_plan(df, "n_tokens", "doc_id",
                                   context_len=128, n_shards=4).collect()
    toks = dict(rows)
    by_shard = {}
    for r in got:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(got) == 60 and len(by_shard) > 1
    for shard, members in by_shard.items():
        members.sort(key=lambda r: (r["bin"], r["offset"]))
        expected_start = 0
        for r in members:
            assert r["bin"] * 128 + r["offset"] == expected_start
            expected_start += toks[r["doc_id"]]


def test_repetition_stats_filters_loops(spark):
    """A generation-loop document gets 'filter'; diverse text keeps."""
    docs = spark.createDataFrame([
        (1, "buy now " * 30),                      # one bigram dominates
        (2, "the quick brown fox jumps over a lazy dog near the old river bank "
            "while birds sing softly in tall green trees during early spring"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in tx.repetition_stats(docs).collect()}
    assert got[1]["verdict"] == "filter" and got[1]["top_bigram_frac"] > 0.4
    assert got[2]["verdict"] == "keep" and got[2]["distinct_bigram_frac"] > 0.9


def test_ngram_overlap_join_finds_contamination(spark):
    """A doc embedding a benchmark passage is flagged; unrelated docs are
    not; counts equal the distinct shared 9-gram hashes."""
    passage = "the capital of france is paris and the seine flows through it"
    corpus = spark.createDataFrame([
        (1, f"intro text then {passage} then trailing content"),
        (2, "completely unrelated words about spark shuffles and parquet files"),
    ], "doc_id long, text string")
    bench = spark.createDataFrame([(100, passage)], "bench_id long, text string")
    got = {(r["bench_id"], r["doc_id"]): r["n_shared_shingles"]
           for r in tx.ngram_overlap_join(corpus, bench, min_shared=5).collect()}
    assert (100, 1) in got and got[(100, 1)] >= len(passage) - 8 - 5
    assert (100, 2) not in got


def test_deterministic_shuffle_stable_and_dense(spark):
    """(shard, pos) is a dense 0..n-1 rank per shard and identical across
    repartitionings — the reproducible-training-order contract."""
    from airline_data_warehouse_spark.operators import sampling as sp
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: (r["shard"], r["pos"])
         for r in sp.deterministic_shuffle(df, "doc_id", n_shards=8).collect()}
    b = {r["doc_id"]: (r["shard"], r["pos"])
         for r in sp.deterministic_shuffle(df.repartition(13), "doc_id",
                                           n_shards=8).collect()}
    assert a == b and len(a) == 500
    by_shard: dict[int, list[int]] = {}
    for shard, pos in a.values():
        by_shard.setdefault(shard, []).append(pos)
    for shard, positions in by_shard.items():
        assert sorted(positions) == list(range(len(positions)))


def test_source_mixing_quotas_sum_to_budget(spark):
    """Quotas are largest-remainder integers summing exactly to the
    budget; weights follow sqrt(n) temperature scaling."""
    from airline_data_warehouse_spark.operators import sampling as sp
    rows = [(i, f"s{i % 3}", 100 + i) for i in range(60)]  # 20/20/20 split
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = sp.source_mixing_plan(df, "source", "n_chars", budget_docs=100).collect()
    assert sum(r["quota_docs"] for r in got) == 100
    assert all(abs(r["mix_weight"] - 1 / 3) < 1e-5 for r in got)
    skew = df.union(spark.createDataFrame(
        [(100 + i, "s0", 50) for i in range(60)],
        "doc_id long, source string, n_chars long"))
    g2 = {r["source"]: r for r in
          sp.source_mixing_plan(skew, "source", "n_chars", 100).collect()}
    # sqrt damping: s0 has 4x the docs of s1 but only 2x the weight
    assert abs(g2["s0"]["mix_weight"] / g2["s1"]["mix_weight"] - 2.0) < 1e-4
    assert sum(r["quota_docs"] for r in g2.values()) == 100


def test_token_budget_sample_prefix_property(spark):
    """Selection is a per-source prefix of the salted-hash order and the
    kept running total never exceeds the budget."""
    from airline_data_warehouse_spark.operators import sampling as sp
    rows = [(i, f"s{i % 2}", 30) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    got = sp.token_budget_sample(df, "source", "n_tok", "doc_id",
                                 budget_tokens=100).collect()
    by_src: dict[str, list] = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r)
    for src, kept in by_src.items():
        assert max(r["cum_tokens"] for r in kept) <= 100
        assert len(kept) == 3  # floor(100/30) per source
    # determinism across repartition
    again = sp.token_budget_sample(df.repartition(7), "source", "n_tok",
                                   "doc_id", budget_tokens=100).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in got}


def test_boilerplate_ngram_stats(spark):
    """A 5-gram shared by >= 3 docs is boilerplate; unique text is not."""
    chrome = "all rights reserved by the site owner"
    uniq = ["alpha beta gamma delta epsilon zeta", "one two three four five six",
            "red green blue yellow purple orange"]
    docs = spark.createDataFrame(
        [(i, f"{u} {chrome}") for i, u in enumerate(uniq)] + [(99, uniq[0])],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in tx.boilerplate_ngram_stats(docs, n=5, min_docs=3).collect()}
    assert all(got[i]["n_boilerplate"] > 0 for i in range(3))
    assert got[99]["n_boilerplate"] == 0 and got[99]["boilerplate_frac"] == 0.0
    # the shared chrome contributes the same count to each host doc
    assert len({got[i]["n_boilerplate"] for i in range(3)}) == 1


def test_source_overlap_matrix_counts_shared_shingles(spark):
    """Sources sharing a passage have a large shared-shingle count;
    disjoint sources don't appear at all."""
    shared = "this exact passage appears in two different corpus sources verbatim"
    docs = spark.createDataFrame([
        (1, "a", shared), (2, "b", shared + " plus extra words"),
        (3, "c", "entirely disjoint content with no common substrings here"),
    ], "doc_id long, source string, text string")
    got = {(r["source_a"], r["source_b"]): r["n_shared_shingles"]
           for r in tx.source_overlap_matrix(docs, source_col="source").collect()}
    assert got[("a", "b")] >= len(shared) - 8
    assert not any("c" in k for k in got)


def test_incremental_minhash_finds_cross_batch_dups(spark, near_dup_docs):
    """Increment docs near-duplicating a corpus doc are paired with it;
    increment-internal and corpus-internal duplicates are not reported."""
    corpus = near_dup_docs  # ids 1-5
    inc = spark.createDataFrame([
        (101, BASE + " tail"),      # near-dups corpus 1/2/5
        (102, "fresh unseen content about parquet row groups and column "
              "statistics that matches nothing in the existing corpus at all"),
        (103, BASE + " tail"),      # duplicate of 101 within the increment
    ], "doc_id long, text string")
    with dd.cache_scope():
        got = dd.incremental_minhash_pairs(corpus, inc,
                                           threshold=0.6).collect()
    inc_ids = {r["inc_id"] for r in got}
    assert 101 in inc_ids and 103 in inc_ids and 102 not in inc_ids
    assert all(r["corpus_id"] in {1, 2, 3, 5} for r in got)
    assert all(r["jaccard"] >= 0.6 for r in got)
    # 101-103 (both increment-side) must not appear as a pair
    assert all(r["corpus_id"] < 100 for r in got)


def test_model_quality_score_orders_sensibly(spark):
    """Stopword-rich prose outscores keyword salad; probabilities are in
    (0,1) and the verdict matches the 0.5 cut."""
    docs = spark.createDataFrame([
        (1, "the history of the region and the growth of a city to the "
            "north of the river and the role of the port in trade"),
        (2, "buy cheap deals discount sale offer price shop now click"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in tx.model_quality_score(docs).collect()}
    assert 0.0 < got[2]["quality_prob"] < got[1]["quality_prob"] < 1.0
    for r in got.values():
        assert r["verdict"] == ("keep" if r["quality_prob"] >= 0.5 else "filter")


def test_semantic_dedup_within_cluster_only(spark):
    """Near-dup pairs inside one cluster are found with exact cosine;
    a near-dup pair straddling two clusters is missed — SemDeDup's
    documented recall tradeoff, pinned here so it stays intentional."""
    import math
    def unit(theta):
        v = [0.0] * 64
        v[0], v[1] = math.cos(theta), math.sin(theta)
        return v
    # labels 0 and 1 pull centroids toward +x and +y respectively
    rows = [
        (1, unit(0.00), 0), (2, unit(0.02), 0),     # same-cluster near-dups
        (3, unit(math.pi / 4 - 0.01), 0),           # sits at the boundary...
        (4, unit(math.pi / 4 + 0.01), 1),           # ...its twin lands in cluster 1
        (5, unit(math.pi / 2), 1), (6, unit(math.pi / 2 - 0.02), 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    cents = sim.centroid_vectors(df)
    with dd.cache_scope():
        got = {(r["id1"], r["id2"]): r for r in
               sim.semantic_dedup_pairs(df.select("vec_id", "embedding"),
                                        cents, threshold=0.999).collect()}
    assert (1, 2) in got and (5, 6) in got
    assert (3, 4) not in got          # cos(0.02) > 0.999 but split across clusters
    assert all(r["score"] >= 0.999 for r in got.values())


def test_vocab_table_ids_and_cutoff(spark):
    """Ids are contiguous by (count desc, token asc), min_count floors
    rare tokens, doc_freq counts documents not occurrences."""
    docs = spark.createDataFrame([
        (1, "spark spark spark parquet shuffle"),
        (2, "spark parquet rare"),
    ], "doc_id long, text string")
    got = {r["token"]: r for r in
           tx.vocab_table(docs, id_col="doc_id", min_count=2).collect()}
    assert "rare" not in got and "shuffle" not in got
    assert got["spark"]["token_id"] == 0 and got["spark"]["count"] == 4
    assert got["parquet"]["token_id"] == 1 and got["parquet"]["doc_freq"] == 2
    assert got["spark"]["doc_freq"] == 2


def test_chunk_documents_boundaries(spark):
    """Chunk fan-out edge cases: exactly one window → one chunk (no
    redundant tail); one char past the window → two chunks; overlap
    start positions correct; short docs → single chunk; empty dropped."""
    docs = spark.createDataFrame(
        [(1, "a" * 500), (2, "b" * 501), (3, "c" * 10), (4, "")],
        "doc_id long, text string")
    rows = {(r["doc_id"], r["chunk_idx"]): r for r in
            tx.chunk_documents(docs).collect()}
    by_doc = {}
    for (d, _k), r in rows.items():
        by_doc.setdefault(d, []).append(r)
    assert len(by_doc[1]) == 1 and rows[(1, 0)]["chunk_len"] == 500
    assert len(by_doc[2]) == 2
    assert rows[(2, 1)]["chunk_start"] == 451  # 500 - 50 overlap + 1
    assert rows[(2, 1)]["chunk_len"] == 51     # chars 451..501
    assert len(by_doc[3]) == 1 and rows[(3, 0)]["chunk_len"] == 10
    assert 4 not in by_doc


def test_int8_quantization_properties(spark):
    """Quantization invariants: all-zero vector → scale 0, zero codes,
    zero error; a known vector reconstructs within scale/2 per dim; max
    |code| is exactly 127 for the extreme dim; tiny-magnitude vectors
    (max|x| ≈ 6.35e-8, which the old 9-dp scale rounding collapsed to
    all-zero) quantize faithfully; empty vectors are guarded."""
    import hashlib
    rows = [(1, [0.0] * 4),
            (2, [1.0, -0.5, 0.25, 0.0]),
            (3, [127.0, -127.0, 63.5, 1.0]),
            (4, [6.35e-8, -6.35e-8 / 2]),
            (5, [])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in
           sim.quantize_embeddings_int8(df).collect()}
    z = got[1]
    assert z["scale"] == 0.0 and z["mse"] == 0.0
    assert z["codes_hash"] == hashlib.md5(b"0,0,0,0").hexdigest()
    q = got[2]  # scale = 1/127 exactly (no decimal rounding), so
    # -0.5/scale = -63.5 exactly, rounding HALF_UP (away from 0) to -64
    assert q["scale"] == 1.0 / 127.0
    assert q["codes_hash"] == hashlib.md5(b"127,-64,32,0").hexdigest()
    assert q["mse"] <= (q["scale"] / 2) ** 2
    e = got[3]  # scale = 1.0; codes are the values rounded
    assert e["scale"] == 1.0
    assert e["codes_hash"] == hashlib.md5(b"127,-127,64,1").hexdigest()
    t = got[4]  # old code: scale rounded to 0 → all-zero codes; now exact
    assert t["scale"] > 0
    assert t["codes_hash"] == hashlib.md5(b"127,-64").hexdigest()
    em = got[5]  # empty vector: no divide-by-zero mse, zero dims
    assert em["n_dims"] == 0 and em["scale"] == 0.0 and em["mse"] == 0.0
    assert em["codes_hash"] == hashlib.md5(b"").hexdigest()


def test_random_projection_properties(spark):
    """JL projection invariants: zero vector → zero projection; the map
    is exactly linear up to the pinned 6-dp rounding (p(a+b) =
    p(a)+p(b)); sign vectors are ±1 only; and on a deterministic
    64-dim sample the mean squared-distance ratio proj/orig sits near 1
    (the Achlioptas expectation — individual pairs vary at k=8, the
    MEAN over pairs is what the lemma pins down)."""
    import itertools
    import random

    rng = random.Random(42)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(20)]
    rows = [(100, [0.0] * 64)] + vecs
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: [r[f"p{j}"] for j in range(8)]
           for r in sim.random_projection(df).collect()}
    assert got[100] == [0.0] * 8
    # linearity: projection of (v0 + v1) equals p(v0) + p(v1) within the
    # 6-dp output rounding (2e-6 headroom for the two roundings)
    s = [(200, [a + b for a, b in zip(vecs[0][1], vecs[1][1])])]
    sdf = spark.createDataFrame(s, "vec_id long, embedding array<double>")
    ps = [r for r in sim.random_projection(sdf).collect()][0]
    for j in range(8):
        assert abs(ps[f"p{j}"] - (got[0][j] + got[1][j])) <= 2e-6
    # distance preservation in expectation over all pairs of the sample
    ratios = []
    for (i1, v1), (i2, v2) in itertools.combinations(vecs, 2):
        d_orig = sum((a - b) ** 2 for a, b in zip(v1, v2))
        d_proj = sum((a - b) ** 2 for a, b in zip(got[i1], got[i2]))
        ratios.append(d_proj / d_orig)
    mean = sum(ratios) / len(ratios)
    assert 0.75 <= mean <= 1.25, mean


def test_curation_pipeline_end_to_end(spark, tmp_path):
    """The r07 composed curation DAG on a corpus where every stage's
    effect is predictable: an exact-dup pair collapses, a low-quality doc
    is gated out, holdout docs never reach the chunk output, and the
    packing layout is a valid exclusive-prefix-sum per shard. Docs are
    mutually distinct (no 20-shingle overlap), so decontamination drops
    nothing — its drop path is pinned by
    test_decontaminated_split_partitions_corpus."""
    import hashlib

    from airline_data_warehouse_spark.operators.hashing import MERSENNE_P
    from airline_data_warehouse_spark.operators.sampling import _keyed_hash
    from airline_data_warehouse_spark.plans.registry import all_queries

    rows = []
    for i in range(30):  # 30 distinct good docs, >= 20 tokens, stopworded;
        # every token embeds the doc id so no cross-doc 9-gram window
        # repeats outside the tiny shared stopword tail (< 20 shingles)
        body = " ".join(f"d{i:02d}w{j:02d}" for j in range(24))
        rows.append((i, f"the {body} of and to a"))
    rows.append((100, rows[0][1]))        # exact dup of doc 0 -> collapses
    rows.append((101, "short junk"))      # fails the >=20-token gate
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = all_queries()["curation_pipeline"].builder(
        spark, str(tmp_path)).collect()

    # which curated ids the 5% salted-hash split sends to holdout
    cut = int(0.05 * MERSENNE_P)
    side = {r["doc_id"]: r["h"] < cut for r in
            docs.select("doc_id", _keyed_hash("doc_id", "adw-split")
                        .alias("h")).collect()}
    expect_train = {i for i in range(30) if not side[i]}
    assert {r["doc_id"] for r in out} == expect_train  # 100, 101, holdout gone

    by_text = dict(rows)
    for r in out:
        assert r["n_tokens"] == len(by_text[r["doc_id"]].split())
        assert r["text_hash"] == hashlib.md5(
            by_text[r["doc_id"]].encode()).hexdigest()
        assert 0 <= r["offset"] < 512 and r["bin"] >= 0

    # packing: per shard, starts are the exclusive prefix sums of
    # chunk_len, so the furthest chunk end equals the shard's total mass
    from collections import defaultdict
    per_shard = defaultdict(list)
    for r in out:
        per_shard[r["shard"]].append(r)
    for chunks in per_shard.values():
        total = sum(c["chunk_len"] for c in chunks)
        assert max(c["bin"] * 512 + c["offset"] + c["chunk_len"]
                   for c in chunks) == total


def test_dedup_cascade_tiers_catch_planted_dups(spark, tmp_path):
    """Each cascade tier catches exactly its planted dup kind: verbatim
    copies (+2M) die at tier 1 with the original as partner, truncations
    (+3M) at tier 2, and word-order-reversed paraphrases (+1M) — which
    share almost no 9-gram shingles with the original — survive the
    lexical tiers and die at tier 3 via their near-identical embedding
    twin. Originals are all kept."""
    import random

    from airline_data_warehouse_spark.plans.registry import all_queries

    rng = random.Random(7)
    words = ["apple", "borough", "crystal", "dynamo", "ember", "falcon",
             "granite", "harbor", "indigo", "jasmine", "kestrel", "lantern",
             "meadow", "nectar", "onyx", "prairie"]
    docs = []
    for i in range(10):
        toks = rng.sample(words, 12) + [f"u{i}x{j}" for j in range(12)]
        rng.shuffle(toks)
        docs.append((i, " ".join(toks)))  # ~150 chars, mutually distinct
    spark.createDataFrame(docs, "doc_id long, text string") \
         .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(64)], 0) for i in range(10)]
    spark.createDataFrame(vecs, "vec_id long, embedding array<float>, label int") \
         .write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    out = {r["doc_id"]: (r["verdict"], r["partner_id"]) for r in
           all_queries()["dedup_cascade"].builder(spark, str(tmp_path))
           .collect()}

    for i in range(10):
        assert out[i] == ("kept", None)
    for i in (0, 7):  # % 7 == 0 → verbatim copy planted
        assert out[2000000 + i] == ("exact", i)
    for i in (0, 3, 6, 9):  # % 3 == 0, len >= 100 → 90% truncation
        assert out[3000000 + i] == ("near_dup", i)
    for i in (0, 5):  # % 5 == 0 → reversed-word paraphrase
        assert out[1000000 + i] == ("semantic", i)


def test_incremental_cascade_against_persisted_store(spark, tmp_path):
    """The daily-ingest cascade classifies increment docs against the
    PERSISTED corpus signature stores (hashes/bands/shingles/emb_bands/
    vectors), tier by tier: verbatim copies (+2M) die at tier 1 with
    the stored keeper as partner, truncations (+3M) at tier 2 via the
    band-store join, reversed-word paraphrases with nudged embeddings
    (+4M) at tier 3, and reversed texts with NEGATED embeddings (+5M)
    are kept. A second run reuses the store (the ``_built`` marker) and
    returns the identical classification."""
    import os
    import random

    from airline_data_warehouse_spark.plans.registry import all_queries

    rng = random.Random(11)
    words = ["apple", "borough", "crystal", "dynamo", "ember", "falcon",
             "granite", "harbor", "indigo", "jasmine", "kestrel", "lantern",
             "meadow", "nectar", "onyx", "prairie"]
    docs = []
    for i in range(10):
        toks = rng.sample(words, 12) + [f"u{i}x{j}" for j in range(12)]
        rng.shuffle(toks)
        docs.append((i, " ".join(toks)))  # ~150 chars, mutually distinct
    spark.createDataFrame(docs, "doc_id long, text string") \
         .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(64)], 0) for i in range(10)]
    spark.createDataFrame(vecs, "vec_id long, embedding array<float>, label int") \
         .write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    builder = all_queries()["incremental_cascade_ingest"].builder
    out = {r["doc_id"]: (r["verdict"], r["partner_id"]) for r in
           builder(spark, str(tmp_path)).collect()}

    for i in (0, 7):   # % 7 == 0 → verbatim copy
        assert out[2000000 + i] == ("exact", i)
    for i in (1, 8):   # % 7 == 1, len >= 100 → 90% truncation
        assert out[3000000 + i] == ("near_dup", i)
    for i in (2, 9):   # % 7 == 2 → reversed words + nudged embedding
        assert out[4000000 + i] == ("semantic", i)
    assert out[5000003] == ("kept", None)  # % 7 == 3 → negated embedding
    assert len(out) == 7  # nothing else in the increment

    # the store was materialized and is REUSED on the second run
    from airline_data_warehouse_spark.plans.llmops import _cascade_store_path
    store = _cascade_store_path(str(tmp_path))
    for frame in ("hashes", "bands", "shingles", "emb_bands", "vectors"):
        assert os.path.isdir(os.path.join(store, frame)), frame
    assert os.path.exists(os.path.join(store, "_built"))
    again = {r["doc_id"]: (r["verdict"], r["partner_id"]) for r in
             builder(spark, str(tmp_path)).collect()}
    assert again == out

    # REGENERATING the dataset under the SAME path must not reuse the
    # stale store (ADVICE r08): the content fingerprint changed, so the
    # SAME store dir (r09: keyed on sf_dir alone, no orphan trees) is
    # pruned in place and freshly rebuilt. Doc 0 changes text, so its
    # +2M row is no longer an exact copy of the old snapshot's doc 0.
    docs[0] = (0, docs[0][1] + " regenerated tail of entirely new words")
    spark.createDataFrame(docs, "doc_id long, text string") \
         .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    assert _cascade_store_path(str(tmp_path)) == store
    assert not os.path.exists(os.path.join(store, "_built")), \
        "stale store must be pruned in place on content change"
    out2 = {r["doc_id"]: (r["verdict"], r["partner_id"]) for r in
            builder(spark, str(tmp_path)).collect()}
    # the +2M row copies the NEW doc-0 text; only a store rebuilt from
    # the regenerated snapshot holds its hash — a stale store reuse
    # would classify it near_dup/kept instead
    assert out2[2000000] == ("exact", 0)


def test_cascade_store_rebuild_crash_leaves_no_stale_marker(
        spark, tmp_path, monkeypatch):
    """ADVICE r08: an overwrite=True rebuild must delete the stale
    ``_built`` marker BEFORE rewriting any frame, so a mid-rebuild crash
    leaves a markerless — rebuildable — store instead of a half-new/
    half-old one the surviving marker would declare complete. Inject a
    crash between the shingles and bands writes and assert the marker
    is gone, then that a subsequent default build really rebuilds."""
    import os

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string")
    emb = spark.createDataFrame([(1, [0.5] * 8)],
                                "vec_id long, embedding array<double>")
    store = str(tmp_path / "store")
    dd.cascade_store_build(docs, emb, store)
    marker = os.path.join(store, "_built")
    assert os.path.exists(marker)

    def boom(*a, **k):
        raise RuntimeError("injected mid-rebuild crash")

    monkeypatch.setattr(dd, "minhash_band_table", boom)
    with pytest.raises(RuntimeError, match="injected"):
        dd.cascade_store_build(docs, emb, store, overwrite=True)
    assert not os.path.exists(marker), \
        "stale marker must not survive a crashed rebuild"
    monkeypatch.undo()
    dd.cascade_store_build(docs, emb, store)   # default: rebuilds
    assert os.path.exists(marker)


def test_cascade_store_path_rebuilds_in_place_not_orphans(tmp_path):
    """ADVICE r09: the registry's cascade-store cache dir must key on
    sf_dir alone (one dir per sf_dir, EVER) with the content fingerprint
    in a marker inside — a regenerated dataset rebuilds the store IN
    PLACE (stale contents and the `_built` marker deleted) instead of
    abandoning an orphan adw_cascade_store_* tree per regeneration."""
    import os

    from airline_data_warehouse_spark.plans.llmops import _cascade_store_path

    sf_dir = tmp_path / "sfX"
    sf_dir.mkdir()
    (sf_dir / "documents.parquet").write_bytes(b"d1")
    (sf_dir / "embeddings.parquet").write_bytes(b"e1")

    p1 = _cascade_store_path(str(sf_dir))
    # simulate yesterday's completed build
    (tmp_path / "sentinel").write_text("x")   # not in store; control
    with open(os.path.join(p1, "_built"), "w") as f:
        f.write("ok\n")
    os.makedirs(os.path.join(p1, "hashes"), exist_ok=True)

    # unchanged content → same dir, contents untouched
    assert _cascade_store_path(str(sf_dir)) == p1
    assert os.path.exists(os.path.join(p1, "_built"))

    # regenerate the dataset (content + mtime change) → SAME dir name,
    # but stale store contents pruned so the next build re-materializes
    (sf_dir / "documents.parquet").write_bytes(b"d2-regenerated")
    p2 = _cascade_store_path(str(sf_dir))
    assert p2 == p1, "dir name must not embed the content fingerprint"
    assert not os.path.exists(os.path.join(p2, "_built"))
    assert not os.path.exists(os.path.join(p2, "hashes"))
    # and the refreshed fingerprint now matches: a third call reuses
    assert _cascade_store_path(str(sf_dir)) == p2


def test_decontaminated_split_partitions_corpus(spark):
    """The composed pipeline query: sides partition the corpus exactly;
    a train doc that verbatim-contains a holdout doc's text is dropped
    as contaminated."""
    from airline_data_warehouse_spark.plans.registry import all_queries
    import shutil, tempfile
    base = ("different prefix %d " * 3) + \
        "the quick brown fox jumps over the lazy dog near the riverbank " * 4
    rows = [(i, (base % (i, i, i))) for i in range(60)]
    tmp = tempfile.mkdtemp()
    try:
        spark.createDataFrame(rows, "doc_id long, text string") \
             .write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        out = all_queries()["decontaminated_train_split"] \
            .builder(spark, tmp).collect()
        sides = {r["doc_id"]: r["side"] for r in out}
        assert len(sides) == 60  # partition: every doc exactly once
        holdout = {d for d, s in sides.items() if s == "holdout"}
        dropped = {d for d, s in sides.items() if s == "dropped_contaminated"}
        # every doc shares the long repeated tail -> every train doc
        # overlaps any holdout doc by >= 20 shingles
        if holdout:
            assert dropped == set(sides) - holdout
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_repeated_ngram_spans_islands(spark):
    """Planted verbatim 8-token span shared by two docs is flagged and
    merged into ONE maximal span per doc (gaps-and-islands); a span
    repeated only WITHIN one doc is not flagged (cross-doc rule); docs
    shorter than the window are dropped; positions are 1-based token
    indices covering the full repeated run."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"  # 10 toks
    docs = spark.createDataFrame(
        [(1, "x1 x2 " + shared + " y1 y2"),          # span at tokens 3..12
         (2, shared + " z1 z2 z3"),                  # span at tokens 1..10
         (3, "self self self self self self self self self"),  # within-doc only
         (4, "too short")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           tx.repeated_ngram_spans(docs, w=8).collect()}
    # doc 1: windows at pos 3,4,5 (10-token run -> 3 eight-token windows)
    assert got[1]["span_start"] == 3 and got[1]["span_end"] == 12
    assert got[1]["n_tokens"] == 10 and got[1]["n_windows"] == 3
    assert got[2]["span_start"] == 1 and got[2]["span_end"] == 10
    assert 3 not in got and 4 not in got
    assert len(got) == 2  # one maximal span per doc, not one per window


def test_repeated_ngram_spans_gap_splits_islands(spark):
    """Two repeated runs separated by unique tokens in the same doc
    produce TWO spans, not one welded span."""
    run1 = "a1 a2 a3 a4 a5 a6 a7 a8"
    run2 = "b1 b2 b3 b4 b5 b6 b7 b8"
    docs = spark.createDataFrame(
        [(1, run1 + " uniq1 uniq2 " + run2),
         (2, run1), (3, run2)],
        "doc_id long, text string")
    spans = sorted((r["span_start"], r["span_end"]) for r in
                   tx.repeated_ngram_spans(docs, w=8).collect()
                   if r["doc_id"] == 1)
    assert spans == [(1, 8), (11, 18)]


def test_kmeans_assigns_separated_groups(spark):
    """Two well-separated direction groups, seeds one-per-group (ids 1
    and 2): every vector lands with its group's seed, cluster ids are
    the seed vec_ids, and one Lloyd's update pulls the centroid to the
    group mean (score ~1 for members). Repartitioned input produces
    the identical assignment (order-independence of the decimal math)."""
    import math
    a = [1.0, 0.0, 0.0, 0.0]
    b = [0.0, 1.0, 0.0, 0.0]
    rows = ([(1, a), (2, b)]
            + [(10 + i, [1.0, 0.05 * i, 0.0, 0.0]) for i in range(3)]
            + [(20 + i, [0.05 * i, 1.0, 0.0, 0.0]) for i in range(3)])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in sim.kmeans_assign(df, k=2, iters=2).collect()}
    assert all(got[i]["cluster_id"] == 1 for i in (1, 10, 11, 12))
    assert all(got[i]["cluster_id"] == 2 for i in (2, 20, 21, 22))
    assert got[10]["score"] > 0.99 and got[20]["score"] > 0.99
    got2 = {r["vec_id"]: r["cluster_id"] for r in
            sim.kmeans_assign(df.repartition(7), k=2, iters=2).collect()}
    assert got2 == {k: v["cluster_id"] for k, v in got.items()}


def test_encode_documents_order_and_oov(spark):
    """Encoding preserves token ORDER in the digest (two docs with the
    same token multiset but different order get different hashes), maps
    OOV to -1, and counts per doc; empty docs are dropped."""
    import hashlib
    docs = spark.createDataFrame(
        [(1, "up down up"), (2, "down up up"), (3, "up novel"), (4, " ")],
        "doc_id long, text string")
    vocab = spark.createDataFrame(
        [(0, "up"), (1, "down")], "token_id int, token string")
    got = {r["doc_id"]: r for r in
           tx.encode_documents(docs, vocab).collect()}
    assert got[1]["ids_hash"] == hashlib.md5(b"0,1,0").hexdigest()
    assert got[2]["ids_hash"] == hashlib.md5(b"1,0,0").hexdigest()
    assert got[1]["ids_hash"] != got[2]["ids_hash"]
    assert got[3]["ids_hash"] == hashlib.md5(b"0,-1").hexdigest()
    assert got[3]["n_oov"] == 1 and got[3]["n_tokens"] == 2
    assert 4 not in got


def test_keyword_search_requires_all_terms(spark):
    """AND semantics: a doc with only 2 of 3 terms is excluded; hits
    count total occurrences; matching is whole-token and lowercased."""
    docs = spark.createDataFrame(
        [(1, "Spark table query spark"), (2, "spark table only"),
         (3, "sparky tables queryx"), (4, "table query spark extra")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           tx.keyword_search_all(docs, ["spark", "table", "query"]).collect()}
    assert set(got) == {1, 4}
    assert got[1]["n_hits"] == 4 and got[1]["n_terms"] == 3


def test_curriculum_order_matches_global_sort(spark):
    """The two-phase position reproduces exactly the order a global
    ORDER BY (bucket DESC, md5(id), id) would assign: contiguous 0-based
    positions, every bucket-9 doc before any bucket-0 doc, and the
    within-bucket order following the id hash."""
    import hashlib
    rows = [(i, 0.95 if i % 2 == 0 else 0.05) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "doc_id long, quality_prob double")
    got = sorted(((r["position"], r["doc_id"], r["bucket"]) for r in
                  sp.curriculum_order(df).collect()))
    assert [p for p, _, _ in got] == list(range(20))
    # expected: high bucket (even ids) first, each hash-ordered
    def ordered(ids):
        return sorted(ids, key=lambda i: (hashlib.md5(str(i).encode())
                                          .hexdigest(), i))
    expect = ordered([i for i in range(1, 21) if i % 2 == 0]) \
        + ordered([i for i in range(1, 21) if i % 2 == 1])
    assert [d for _, d, _ in got] == expect
    assert {b for _, _, b in got} == {0, 9}

def test_ivf_index_prunes_partitions(spark, tmp_path):
    """The materialized IVF index is queried with physical partition
    pruning: the list scan's plan carries a PartitionFilters entry on
    cluster_id (directory-level pruning, not a post-scan filter), and
    on well-separated clusters the pruned search still returns exactly
    the true neighbors (same inverted list, recall 1.0 here)."""
    import io
    from contextlib import redirect_stdout
    # ids interleave the groups so the two lowest-id seeds (1 and 2)
    # land one per group
    groups = {1: [1.0, 0.0, 0.0, 0.0], 2: [0.0, 1.0, 0.0, 0.0]}
    rows = [(i * 10 + gid,
             [c + (0.01 * i if j == 2 else 0.0) for j, c in enumerate(vec)])
            for gid, vec in groups.items() for i in range(4)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ivf")
    sim.ivf_index_build(corpus, idx, k=2, iters=2)

    # index shape: every vector in exactly one list directory
    lists = spark.read.parquet(f"{idx}/lists.parquet")
    assert lists.count() == 8
    assert lists.select("vec_id").distinct().count() == 8

    queries = corpus.filter(F.col("vec_id") == 11)
    out = sim.ivf_index_topk(spark, idx, queries, k=3, n_probe=1)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cluster_id" in m.group(1), plan

    got = out.collect()
    assert {r["neighbor_id"] for r in got} == {1, 21, 31}
    assert sorted(r["rank"] for r in got) == [1, 2, 3]


def test_ivf_index_partition_filter_not_post_scan(spark, tmp_path):
    """The IN-list probe filter lands in PartitionFilters (pruned at
    planning), NOT in PushedFilters/post-scan Filter — the property
    that makes the index sublinear at 100 TB."""
    import io
    import re
    from contextlib import redirect_stdout
    rows = [(i, [float(i % 4 == j) for j in range(4)]) for i in range(1, 41)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ivf")
    sim.ivf_index_build(corpus, idx, k=4, iters=2)
    full = spark.read.parquet(f"{idx}/lists.parquet")
    some = full.select("cluster_id").distinct().collect()[0][0]
    pruned = full.filter(F.col("cluster_id").isin([int(some)]))
    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cluster_id" in m.group(1), plan


def test_ivf_index_lists_are_stored_centroids_voronoi(spark, tmp_path):
    """ivf_index_build takes the ADD step: every stored vector sits in
    the list `ivf_assign` picks against the STORED centroids (k-means'
    last assignment lags its final centroid update by one step, and
    filing vectors by that lagged label left true members outside the
    lists a query probes). With those lists, the index query answers
    exactly what in-memory ivf_topk answers on the corpus labelled by
    kmeans_assign's cluster_id."""
    import random
    rng = random.Random(7)
    rows = [(i, [round(rng.uniform(-1, 1), 6) for _ in range(8)])
            for i in range(200)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ivf")
    sim.ivf_index_build(corpus, idx, k=4, iters=2)
    lists = spark.read.parquet(f"{idx}/lists.parquet")
    cents = (spark.read.parquet(f"{idx}/centroids.parquet")
             .withColumnRenamed("cluster_id", "list_id"))
    stored = {r["vec_id"]: r["cluster_id"] for r in lists.collect()}
    nearest = {r["vec_id"]: r["list_id"] for r in
               sim.ivf_assign(lists, cents).collect()}
    assert len(stored) == 200
    assert stored == nearest

    labeled = corpus.join(sim.kmeans_assign(corpus, k=4, iters=2)
                          .select("vec_id", "cluster_id"), "vec_id")
    queries = corpus.filter(F.col("vec_id") < 10)
    want = sorted(tuple(r) for r in sim.ivf_topk(
        labeled, queries, k=5, n_probe=2, label_col="cluster_id").collect())
    got = sorted(tuple(r) for r in
                 sim.ivf_index_topk(spark, idx, queries, k=5,
                                    n_probe=2).collect())
    assert len(got) == 50
    assert got == want


def _rand_corpus(spark, n, dims, seed, id_start=0):
    import random
    rng = random.Random(seed)
    rows = [(id_start + i, [rng.uniform(-1, 1) for _ in range(dims)])
            for i in range(n)]
    return rows, spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")


def test_ivfpq_index_build_deterministic_and_voronoi_consistent(
        spark, tmp_path):
    """The persisted IVFADC index (VERDICT r09 item 3): (1) two builds
    of the same corpus are byte-identical (codes, codebook, centroids —
    the deterministic-training contract that makes the index
    oracle-able), (2) the stored lists are EXACTLY the stored coarse
    quantizer's Voronoi partition — every vector's list is its argmax
    rounded-cosine centroid (the FAISS add step; ivfpq_topk's in-memory
    lagged assignment deliberately differs, see ivfpq_index_build
    docstring), and (3) a planted exact duplicate is its twin's top ADC
    hit through the index query path."""
    rows, corpus = _rand_corpus(spark, 40, 8, seed=3)
    dup = spark.createDataFrame([(100, list(rows[6][1]))],
                                "vec_id long, embedding array<double>")
    corpus = corpus.unionByName(dup)
    idx, idx2 = str(tmp_path / "a"), str(tmp_path / "b")
    for d in (idx, idx2):
        sim.ivfpq_index_build(corpus, d, n_lists=4, m=2, codes_k=4,
                              iters=2, dims=8)
    snap = lambda d: sorted(  # noqa: E731
        tuple(r) for r in read_table(spark, f"{d}/codes.parquet").collect())
    assert snap(idx) == snap(idx2)

    # Voronoi consistency: stored list == frozen argmax assignment
    coarse = spark.read.parquet(f"{idx}/coarse_centroids.parquet")
    vecs = corpus.select("vec_id",
                         F.col("embedding").cast("array<double>").alias("_v"))
    want = {(r["vec_id"], r["list_id"]) for r in
            sim.ivf_assign(vecs, coarse, vec_col="_v").collect()}
    got = {(r["vec_id"], r["list_id"]) for r in
           read_table(spark, f"{idx}/codes.parquet")
                .select("vec_id", "list_id").distinct().collect()}
    assert got == want

    # the duplicate shares vec 6's exact codes, so its ADC distance
    # ties the query's own reconstruction error — the minimum over any
    # same-cell candidate; it must sit in the top-k (rank-1 is NOT
    # guaranteed: ADC scores code cells, and a differently-coded
    # vector's cell can sit closer to the query than the query's own)
    out = sim.ivfpq_index_topk(spark, idx,
                               corpus.filter(F.col("vec_id") == 6),
                               k=3, n_probe=2, m=2, dims=8).collect()
    assert 100 in {r["neighbor_id"] for r in out}


def test_ivfpq_side_table_schemas_match_build(spark, tmp_path):
    """The index query and append read the coarse centroids and the
    codebook with fixed schemas (no inference job); they must equal
    what a build writes, as inferred from its files."""
    from pyspark.sql.types import _parse_datatype_string

    _, corpus = _rand_corpus(spark, 20, 8, seed=5)
    idx = str(tmp_path / "ivfpq")
    sim.ivfpq_index_build(corpus, idx, n_lists=2, m=2, codes_k=4,
                          iters=1, dims=8)
    for name, ddl in (("coarse_centroids", sim._COARSE_SCHEMA),
                      ("codebook", sim._CODEBOOK_SCHEMA)):
        inferred = spark.read.parquet(f"{idx}/{name}.parquet").schema
        assert inferred == _parse_datatype_string(ddl), name


def test_ivfpq_index_prunes_partitions(spark, tmp_path):
    """The index query's code scan carries a PartitionFilters entry on
    list_id (directory-level pruning — the property that makes the
    probe sublinear at 100 TB), not a post-scan filter, and the index
    holds exactly m code rows per vector plus the three schema-bounded
    side tables."""
    import io
    import re
    from contextlib import redirect_stdout

    _, corpus = _rand_corpus(spark, 40, 8, seed=7)
    idx = str(tmp_path / "ivfpq")
    sim.ivfpq_index_build(corpus, idx, n_lists=4, m=2, codes_k=4,
                          iters=2, dims=8)
    codes = read_table(spark, f"{idx}/codes.parquet")
    assert codes.count() == 40 * 2
    assert codes.select("vec_id").distinct().count() == 40
    assert spark.read.parquet(f"{idx}/coarse_centroids.parquet").count() == 4
    assert spark.read.parquet(f"{idx}/codebook.parquet").count() == 2 * 4
    stats = spark.read.parquet(f"{idx}/stats.parquet").collect()
    assert sum(r["n_vectors"] for r in stats) == 40

    out = sim.ivfpq_index_topk(spark, idx,
                               corpus.filter(F.col("vec_id") == 1),
                               k=3, n_probe=1, m=2, dims=8)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "list_id" in m.group(1), plan
    assert len(out.collect()) == 3


def test_ivfpq_index_rerank_full_probe_equals_exact_topk(spark, tmp_path):
    """ivfpq_index_topk_rerank's contract (the pq_topk_rerank contract
    lifted to the persisted layout): with every list probed and a
    shortlist covering the corpus, the exact re-rank over the index's
    vector partitions must equal brute-force exact squared-L2 top-k —
    regardless of ADC resolution. Also pins that the vector fetch
    prunes to probed lists (PartitionFilters on the vectors scan) and
    that an EXTERNAL query id (not in the corpus) gets answers from
    its own vector."""
    import io
    import re
    from contextlib import redirect_stdout

    rows, corpus = _rand_corpus(spark, 30, 8, seed=17)
    idx = str(tmp_path / "ivfpq")
    sim.ivfpq_index_build(corpus, idx, n_lists=4, m=2, codes_k=4,
                          iters=2, dims=8)

    q_ext = spark.createDataFrame([(999, list(rows[11][1]))],
                                  "vec_id long, embedding array<double>")
    out = sim.ivfpq_index_topk_rerank(spark, idx, q_ext, k=5,
                                      shortlist=30, n_probe=4, m=2,
                                      dims=8)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    mm = re.findall(r"PartitionFilters: \[([^\]]*)\]", buf.getvalue())
    assert any("list_id" in g for g in mm), buf.getvalue()

    got = sorted((r["rank"], r["neighbor_id"], r["d2"])
                 for r in out.collect())
    # brute-force truth over the corpus for the external query vector
    from pyspark.sql import Window as W
    vv = corpus.select("vec_id", F.col("embedding").alias("v"))
    qd = (spark.createDataFrame([(list(rows[11][1]),)], "qv array<double>")
          .crossJoin(vv)
          .withColumn("d2", sim._sqdist(F.col("qv"), F.col("v"))))
    w = W.orderBy(F.col("d2").asc(), F.col("vec_id").asc())
    truth = sorted((r["rk"], r["vec_id"], r["d2"]) for r in
                   qd.withColumn("rk", F.row_number().over(w))
                     .filter(F.col("rk") <= 5).collect())
    assert got == truth
    assert got[0][1] == 11 and got[0][2] == 0.0  # its twin, exactly


def test_ivfpq_index_append_maintains_vector_partitions(spark, tmp_path):
    """An append into a store_vectors=True index must carry the
    increment's raw vectors into their list partitions, so the re-rank
    path stays complete for appended ids: an appended exact duplicate
    becomes its twin's d2=0 top hit through ivfpq_index_topk_rerank."""
    rows, corpus = _rand_corpus(spark, 30, 8, seed=19)
    idx = str(tmp_path / "ivfpq")
    sim.ivfpq_index_build(corpus, idx, n_lists=4, m=2, codes_k=4,
                          iters=2, dims=8)
    inc = spark.createDataFrame([(200, list(rows[3][1]))],
                                "vec_id long, embedding array<double>")
    sim.ivfpq_index_append(spark, idx, inc, m=2, dims=8)
    assert (read_table(spark, f"{idx}/vectors.parquet")
            .filter(F.col("vec_id") == 200).count()) == 1
    top = sim.ivfpq_index_topk_rerank(
        spark, idx, corpus.filter(F.col("vec_id") == 3), k=3,
        shortlist=31, n_probe=4, m=2, dims=8).collect()
    best = min(top, key=lambda r: r["rank"])
    assert best["neighbor_id"] == 200 and best["d2"] == 0.0


def test_ivfpq_index_append_matches_frozen_rebuild(spark, tmp_path):
    """Incremental index maintenance (VERDICT r09 item 4): appending an
    increment must (a) leave the base corpus's code rows byte-identical,
    (b) encode the increment with the FROZEN quantizers — an appended
    exact duplicate of a base vector lands in the same list with
    identical (sub, code) rows, which is precisely what a from-scratch
    encode of the union against the stored centroids/codebook would
    assign, (c) converge idempotently on retry (crash-safe MERGE, not
    blind append), and (d) be visible to queries. Drift: an
    out-of-distribution increment flips retrain_recommended."""
    rows, corpus = _rand_corpus(spark, 30, 8, seed=13)
    idx = str(tmp_path / "ivfpq")
    sim.ivfpq_index_build(corpus, idx, n_lists=4, m=2, codes_k=4,
                          iters=2, dims=8)
    base = sorted(tuple(r) for r in
                  read_table(spark, f"{idx}/codes.parquet").collect())

    inc_rows = [(100, list(rows[4][1]))]          # exact dup of vec 4
    inc_rows += [(101 + i, [v * 0.9 for v in rows[i][1]])
                 for i in range(3)]
    inc = spark.createDataFrame(inc_rows,
                                "vec_id long, embedding array<double>")
    rep = sim.ivfpq_index_append(spark, idx, inc, m=2, dims=8)
    assert rep["appended"] == 4
    assert rep["baseline_mean_d2"] > 0
    assert not rep["retrain_recommended"]          # in-distribution

    after = read_table(spark, f"{idx}/codes.parquet")
    got = sorted(tuple(r) for r in after.collect())
    # (a) base rows unchanged
    assert [t for t in got if t[0] < 100] == base
    # (b) frozen-quantizer determinism: the duplicate's rows equal
    # vec 4's in every field but the id
    by_id = {}
    for t in got:
        by_id.setdefault(t[0], set()).add(t[1:])
    assert by_id[100] == by_id[4]
    # (c) idempotent retry: same increment again, nothing duplicates
    # (a fresh read resolves the newest version)
    rep2 = sim.ivfpq_index_append(spark, idx, inc, m=2, dims=8)
    assert rep2["appended"] == 4
    fresh = read_table(spark, f"{idx}/codes.parquet")
    assert fresh.count() == (30 + 4) * 2
    assert sorted(tuple(r) for r in fresh.collect()) == got
    # (d) queries see the increment: vec 4's top ADC hit ties with its
    # duplicate's codes; the duplicate must appear in its top-k
    top = sim.ivfpq_index_topk(spark, idx,
                               corpus.filter(F.col("vec_id") == 4),
                               k=3, n_probe=2, m=2, dims=8).collect()
    assert 100 in {r["neighbor_id"] for r in top}

    # drift: an increment far off the training manifold recommends
    # retraining (reconstruction error blows past the baseline)
    import random
    rng = random.Random(99)
    far = spark.createDataFrame(
        [(500 + i, [rng.uniform(-1, 1) * 40 for _ in range(8)])
         for i in range(4)],
        "vec_id long, embedding array<double>")
    rep3 = sim.ivfpq_index_append(spark, idx, far, m=2, dims=8)
    assert rep3["retrain_recommended"]
    assert rep3["mean_d2"] > rep3["baseline_mean_d2"] * 1.5


def test_ivfpq_index_delete_exact_rows_and_query_promotion(
        spark, tmp_path):
    """ivfpq_index_delete: (1) codes/vectors tables after the delete
    equal the pre-delete tables minus EXACTLY the deleted ids' rows;
    (2) queries never return a deleted id and survivors are promoted
    into the freed rank slots (deletion before ranking, not a filter
    after top-k); (3) a second delete of the same ids is a no-op;
    (4) deleting every id of a list drops its partition from the
    manifest."""
    rows, corpus = _rand_corpus(spark, 30, 8, seed=31)
    idx = str(tmp_path / "ivfpq_del")
    sim.ivfpq_index_build(corpus, idx, n_lists=2, m=2, codes_k=4,
                          iters=2, dims=8)
    queries = corpus.filter(F.col("vec_id") < 3)
    pre = sim.ivfpq_index_topk(spark, idx, queries, k=29, n_probe=2,
                               m=2, dims=8).collect()
    pre_codes = {tuple(r) for r in
                 read_table(spark, f"{idx}/codes.parquet").collect()}
    pre_vecs = {(r["vec_id"],) for r in
                read_table(spark, f"{idx}/vectors.parquet").collect()}
    victims = {5, 6, 7}
    ids = spark.createDataFrame([(v,) for v in victims], "vec_id long")
    report = sim.ivfpq_index_delete(spark, idx, ids)
    assert report == {"deleted": 3, "codes": True, "vectors": True}

    post_codes = {tuple(r) for r in
                  read_table(spark, f"{idx}/codes.parquet").collect()}
    assert post_codes == {t for t in pre_codes
                          if t[0] not in victims}  # vec_id is col 0
    post_vecs = {(r["vec_id"],) for r in
                 read_table(spark, f"{idx}/vectors.parquet").collect()}
    assert post_vecs == {t for t in pre_vecs if t[0] not in victims}

    # deep-k query over everything: survivors keep relative order and
    # move up into the freed slots — exactly the pre list minus victims
    post = sim.ivfpq_index_topk(spark, idx, queries, k=29, n_probe=2,
                                m=2, dims=8).collect()
    want = {}
    for r in pre:
        if r["neighbor_id"] not in victims:
            want.setdefault(r["query_id"], []).append(
                (r["neighbor_id"], r["adc_d2"]))
    got = {}
    for r in sorted(post, key=lambda r: (r["query_id"], r["rank"])):
        assert r["neighbor_id"] not in victims
        got.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["adc_d2"]))
    assert got == want

    # idempotent retry
    assert sim.ivfpq_index_delete(spark, idx, ids)["deleted"] == 0

    # purge an entire list: its partition must leave the manifest
    a_list = read_table(spark, f"{idx}/codes.parquet") \
        .select("list_id").first()["list_id"]
    whole_ids = sorted(r["vec_id"] for r in
                       read_table(spark, f"{idx}/codes.parquet")
                       .filter(F.col("list_id") == a_list)
                       .select("vec_id").distinct().collect())
    sim.ivfpq_index_delete(
        spark, idx,
        spark.createDataFrame([(v,) for v in whole_ids], "vec_id long"))
    assert f"list_id={a_list}" not in {
        u.rsplit("/", 1)[-1]
        for u in at.manifest(spark, f"{idx}/codes.parquet")["units"]}
    left = sim.ivfpq_index_topk(spark, idx, queries, k=29, n_probe=2,
                                m=2, dims=8)
    assert left.filter(F.col("neighbor_id").isin(whole_ids)).count() == 0


def test_ivfpq_index_compact_bounds_files_and_preserves_results(
        spark, tmp_path):
    """Index-lifecycle compaction (VERDICT r10 item 2): N appends
    fragment the list partitions and a per-batch drift log grows one
    file per batch; ivfpq_index_compact must bound both file counts and
    leave query results BYTE-identical — and a crashed log compaction's
    orphan (data written, no manifest) stays invisible."""
    import os

    def count_files(root, part=None):
        """parquet files of the live units (of partition ``part``)."""
        return sum(1 for u in at.manifest(spark, root)["units"]
                   if part is None or u.rsplit("/", 1)[-1] == part
                   for f in os.listdir(f"{root}/{u}")
                   if f.endswith(".parquet"))

    rows, corpus = _rand_corpus(spark, 30, 8, seed=23)
    idx = str(tmp_path / "ivfpq")
    sim.ivfpq_index_build(corpus, idx, n_lists=2, m=2, codes_k=4,
                          iters=2, dims=8)
    log_dir = f"{idx}/append_log"
    for b in range(6):                    # 6 "micro-batches"
        inc = spark.createDataFrame(
            [(100 + 10 * b + i, [v * (1 + 0.01 * b) for v in rows[i][1]])
             for i in range(2)],
            "vec_id long, embedding array<double>")
        sim.ivfpq_index_append(spark, idx, inc, m=2, dims=8)
        at._commit(spark, log_dir, spark.createDataFrame(
            [(b,)], "batch_id long").coalesce(1), mode="append")

    codes = f"{idx}/codes.parquet"
    codes_parts = sorted({u.rsplit("/", 1)[-1]
                          for u in at.manifest(spark, codes)["units"]})
    assert max(count_files(codes, p) for p in codes_parts) > 1  # fragmented
    assert count_files(log_dir) == 6                      # 1/batch

    queries = corpus.filter(F.col("vec_id") < 5)
    pre = sorted(tuple(r) for r in sim.ivfpq_index_topk(
        spark, idx, queries, k=5, n_probe=2, m=2, dims=8).collect())
    pre_log = sorted(r["batch_id"] for r in
                     read_table(spark, log_dir).collect())

    report = sim.ivfpq_index_compact(spark, idx, target_files=1,
                                     max_files_ok=1)
    assert report["codes"] and report["append_log"]
    assert all(count_files(codes, p) == 1 for p in codes_parts)
    assert count_files(log_dir) == 1
    post = sorted(tuple(r) for r in sim.ivfpq_index_topk(
        spark, idx, queries, k=5, n_probe=2, m=2, dims=8).collect())
    assert post == pre                                    # byte-identical
    assert sorted(r["batch_id"] for r in
                  read_table(spark, log_dir).collect()) == pre_log

    # idempotent: already-compacted index is a no-op
    again = sim.ivfpq_index_compact(spark, idx, target_files=1,
                                    max_files_ok=1)
    assert not again["codes"] and not again["append_log"]

    # a crashed log compaction: its data landed, no manifest did — the
    # drift log still reads the committed version
    (spark.createDataFrame([(99,)], "batch_id long")
     .write.parquet(f"{log_dir}/commit=99999"))
    from airline_data_warehouse_spark.streaming.index import append_log
    healed = append_log(spark, idx)
    assert sorted(r["batch_id"] for r in healed.collect()) == pre_log


def test_remove_repeated_spans_cuts_only_flagged(spark):
    """Span removal surgery: the planted shared run disappears from both
    docs, surrounding unique tokens survive in order, a doc with nothing
    flagged passes through byte-identical, and a doc that was ENTIRELY a
    repeated span comes back empty with the md5('') sentinel."""
    import hashlib
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # exactly 8
    docs = spark.createDataFrame(
        [(1, "keep1 " + shared + " keep2"),
         (2, shared),                      # entire doc is the span
         (3, "totally unique words here")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           tx.remove_repeated_spans(docs, w=8).collect()}
    assert got[1]["n_removed"] == 8
    assert got[1]["clean_hash"] == hashlib.md5(b"keep1 keep2").hexdigest()
    assert got[2]["n_tokens_after"] == 0
    assert got[2]["clean_hash"] == hashlib.md5(b"").hexdigest()
    assert got[3]["n_removed"] == 0
    assert got[3]["clean_hash"] == hashlib.md5(
        b"totally unique words here").hexdigest()


def test_bigram_lm_scores_formulaic_above_novel(spark):
    """The corpus-trained bigram LM ranks formulaic text (bigrams seen
    many times corpus-wide) above a novel token sequence, and a
    one-token doc (no bigrams) is excluded."""
    common = "the market is open"
    rows = ([(i, common) for i in range(1, 9)]
            + [(20, "zebra quantum violin umbrella")]  # every bigram unique
            + [(21, "single")])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in tx.bigram_logprob_score(df).collect()}
    assert got[1]["avg_logprob"] > got[20]["avg_logprob"]
    assert got[1]["n_bigrams"] == 3
    assert 21 not in got


def test_weighted_sample_prefers_heavy_rows(spark):
    """A-ES weighted sampling: with weights 20 vs 1, the top-100 of
    1,000 rows is dominated by heavy rows (ln(u)/w compresses toward 0
    as w grows); zero/negative weights are excluded; the sample is
    identical under repartitioning (hash-derived u, TakeOrdered)."""
    rows = [(i, 20 if i % 2 == 0 else 1) for i in range(1, 1001)]
    rows += [(2001, 0), (2002, -5)]
    df = spark.createDataFrame(rows, "doc_id long, weight int")
    got = sp.weighted_sample_topk(df, n=100, weight_col="weight").collect()
    heavy = sum(1 for r in got if r["weight"] == 20)
    assert heavy > 80
    assert all(r["weight"] > 0 for r in got)
    got2 = sp.weighted_sample_topk(df.repartition(13), n=100,
                                   weight_col="weight").collect()
    assert {r["doc_id"] for r in got} == {r["doc_id"] for r in got2}


def test_kmeans_deep_iterations_with_lineage_truncation(spark):
    """iters past the checkpoint threshold exercise the lineage
    truncation path: the run completes, the assignment is identical to
    the 2-iteration result on already-converged data (fixpoint), and
    cluster ids remain the seed vec_ids."""
    a = [1.0, 0.0, 0.0, 0.0]
    b = [0.0, 1.0, 0.0, 0.0]
    rows = ([(1, a), (2, b)]
            + [(10 + i, [1.0, 0.02 * i, 0.0, 0.0]) for i in range(3)]
            + [(20 + i, [0.02 * i, 1.0, 0.0, 0.0]) for i in range(3)])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    deep = {r["vec_id"]: r["cluster_id"] for r in
            sim.kmeans_assign(df, k=2, iters=7).collect()}
    two = {r["vec_id"]: r["cluster_id"] for r in
           sim.kmeans_assign(df, k=2, iters=2).collect()}
    assert deep == two  # converged after one update; extra rounds stable
    assert set(deep.values()) == {1, 2}


def test_bm25_ranks_rare_terms_and_penalizes_length(spark):
    """BM25 semantics: a doc matching the RARE query term outranks docs
    matching only the common term (idf); among equal matches the
    shorter doc wins (length normalization); non-matching docs are
    absent; k truncates."""
    rows = ([(1, "rare word plus filler")]
            + [(10 + i, "common word number " + str(i)) for i in range(6)]
            + [(2, "common " + "pad " * 40)]     # long doc, common term
            + [(3, "nothing relevant here")])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = tx.bm25_search(df, ["rare", "common"], k=20).collect()
    ranked = [r["doc_id"] for r in got]
    assert ranked[0] == 1                    # rare-term doc on top
    assert 3 not in ranked
    # long doc scores below every short common-term doc
    scores = {r["doc_id"]: r["score"] for r in got}
    assert all(scores[2] < scores[10 + i] for i in range(6))


def test_source_divergence_zero_for_identical_sources(spark):
    """KL(P_s||P_corpus) is exactly 0 when every source shares one
    distribution (the 6-dp-rounded ln of ratio 1.0 is exactly 0), and
    strictly positive for a source whose distribution differs."""
    from airline_data_warehouse_spark.operators.text import (
        source_token_divergence,
    )
    same = [("a", "x y z x"), ("b", "x y z x")]
    rows = same + [("skewed", "x x x x x x x x q q q q")]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {r["source"]: r for r in source_token_divergence(df).collect()}
    # a and b are NOT zero (corpus includes the skewed source), but equal
    assert got["a"]["kl_vs_corpus"] == got["b"]["kl_vs_corpus"] >= 0
    assert got["skewed"]["kl_vs_corpus"] > 0
    assert got["a"]["n_tokens"] == 4 and got["a"]["distinct_tokens"] == 3
    # two identical-distribution sources alone -> both exactly 0
    got2 = {r["source"]: r["kl_vs_corpus"] for r in
            source_token_divergence(
                spark.createDataFrame(same, "source string, text string")
            ).collect()}
    assert got2 == {"a": 0.0, "b": 0.0}


def test_pixel_pipeline_decode_resize_features(spark):
    """decode_pixels → resize_pixels → pixel_features on the
    deterministic-fake seam: dims agree with decode_media's fake decode,
    the resized buffer has exactly out_h*out_w*3 bytes, and features
    match a driver-side numpy recomputation bit-for-bit."""
    import hashlib

    import numpy as np

    media = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG\r\nimg-one"), "image", None),
         (2, bytearray(b"\xff\xd8\xff\xe0img-two"), "image", None),
         (3, bytearray(b"RIFFxxxxWAVE"), "audio", None)],  # skipped
        mm.MEDIA_SCHEMA)
    px = {r["media_id"]: r for r in
          mm.decode_pixels(media, deterministic_fake=True).collect()}
    assert set(px) == {1, 2}  # non-images dropped
    dm = {r["media_id"]: r for r in
          mm.decode_media(media, deterministic_fake=True).collect()}
    for i in (1, 2):
        assert (px[i]["height"], px[i]["width"]) == \
            (dm[i]["height"], dm[i]["width"])
        assert len(px[i]["pixels"]) == px[i]["height"] * px[i]["width"] * 3
        d = hashlib.md5(bytes(media.collect()[i - 1]["payload"])).digest()
        assert bytes(px[i]["pixels"][:16]) == d  # digest-tiled buffer

    small = {r["media_id"]: r for r in
             mm.resize_pixels(mm.decode_pixels(media, deterministic_fake=True),
                              8, 8).collect()}
    assert all(len(r["pixels"]) == 8 * 8 * 3 for r in small.values())

    feats = {r["media_id"]: r for r in
             mm.pixel_features(mm.decode_pixels(media,
                                                deterministic_fake=True)).collect()}
    for i in (1, 2):
        arr = (np.frombuffer(bytes(px[i]["pixels"]), dtype=np.uint8)
                 .reshape(px[i]["height"], px[i]["width"], 3).astype(np.float64))
        assert feats[i]["channel_mean"] == arr.mean(axis=(0, 1)).tolist()
        assert feats[i]["channel_std"] == arr.std(axis=(0, 1)).tolist()
        assert abs(sum(feats[i]["gray_hist"]) - 1.0) < 1e-9


def test_resize_pixels_nearest_exact(spark):
    """Nearest-neighbor grid pinned on a hand-built 4x4 image: 2x2 output
    must pick source rows/cols (0, 2) — the (arange(out)*in)//out grid."""
    import numpy as np

    arr = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    df = spark.createDataFrame([(7, 4, 4, 3, bytearray(arr.tobytes()))],
                               mm.PIXEL_SCHEMA)
    out = mm.resize_pixels(df, 2, 2).collect()[0]
    got = (np.frombuffer(bytes(out["pixels"]), dtype=np.uint8)
             .reshape(2, 2, 3))
    assert (got == arr[[0, 2]][:, [0, 2]]).all()


def test_decode_pixels_real_names_missing_dependency(spark):
    import pytest as _pytest

    media = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG\r\nxx"), "image", None)], mm.MEDIA_SCHEMA)
    with _pytest.raises(Exception, match="Pillow|NotImplementedError"):
        mm.decode_pixels(media, deterministic_fake=False).collect()


def test_audio_features_real_wav_exact(spark):
    """Real WAV PCM features with hand-computable values: a square wave
    of amplitude 16384 (= 0.5 normalized) gives rms = peak = 0.5 exactly
    and a zero-crossing on every adjacent sample pair (rate 1.0)."""
    import io
    import struct
    import wave as wavlib

    n = 8_000
    buf = io.BytesIO()
    with wavlib.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(16_000)
        wf.writeframes(b"".join(
            struct.pack("<h", 16384 if i % 2 == 0 else -16384)
            for i in range(n)))
    media = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()), "audio", None),
         (2, bytearray(b"\x89PNGskip"), "image", None)],  # skipped
        mm.MEDIA_SCHEMA)
    rows = mm.audio_features(media).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["sample_rate"], r["n_channels"], r["n_frames"]) == (16_000, 1, n)
    assert r["duration_ms"] == 500
    assert r["rms"] == 0.5 and r["peak"] == 0.5
    assert r["zero_crossing_rate"] == 1.0


def test_audio_features_24bit_and_unsupported_width(spark):
    """24-bit PCM (sampwidth 3 — common field-recording format, ADVICE
    r07): a ±2^22 square wave normalizes to exactly 0.5, like the 16-bit
    twin above. A hand-crafted 40-bit WAV raises a descriptive
    NotImplementedError, not a bare executor-side KeyError."""
    import io
    import struct
    import wave as wavlib

    import pytest

    n = 4_000
    buf = io.BytesIO()
    with wavlib.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(3)
        wf.setframerate(8_000)
        wf.writeframes(b"".join(
            ((4194304 if i % 2 == 0 else -4194304) & 0xFFFFFF)
            .to_bytes(3, "little") for i in range(n)))
    media = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()), "audio", None)], mm.MEDIA_SCHEMA)
    r = mm.audio_features(media).collect()[0]
    assert (r["sample_rate"], r["n_frames"]) == (8_000, n)
    assert r["rms"] == 0.5 and r["peak"] == 0.5
    assert r["zero_crossing_rate"] == 1.0

    # minimal RIFF/WAVE header claiming 40-bit PCM (wave reads any width)
    def wav40(payload: bytes) -> bytes:
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 5, 5, 40)
        body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(payload)) + payload)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    bad = spark.createDataFrame(
        [(7, bytearray(wav40(b"\x00" * 40)), "audio", None)],
        mm.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="unsupported WAV sample width 5"):
        mm.audio_features(bad).collect()


def test_hamming_near_pairs_single_chunk_exact_screen(spark):
    """max_hamming=0 over 64-bit signatures (one 64-wide chunk — the
    exact-duplicate screen image_near_dup_pairs offers): the chunk mask
    must be -1, since the naive (1 << 64) - 1 literal overflows int64
    and broke the plan (ADVICE r07). Only identical signatures pair,
    including sign-negative ones."""
    rows = [(1, -42), (2, -42), (3, 42), (4, 41)]
    sigs = spark.createDataFrame(rows, "media_id long, sig long")
    with dd.cache_scope():
        pairs = {(r["id1"], r["id2"]): r["hamming"] for r in
                 dd.hamming_near_pairs(sigs, "sig", "media_id", 64,
                                       0).collect()}
    assert pairs == {(1, 2): 0}


def test_image_near_dup_average_hash(spark):
    """Perceptual invariance pinned: a uniform brightness shift moves
    every luma cell AND the mean together, so the average-hash is
    bit-identical (hamming 0); an inverted image flips essentially every
    bit and must not pair at any reasonable budget."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.integers(60, 180, size=(32, 32, 3), dtype=np.uint8)
    brighter = (base.astype(np.int16) + 30).clip(0, 255).astype(np.uint8)
    inverted = (255 - base).astype(np.uint8)
    rows = [(i + 1, 32, 32, 3, bytearray(a.tobytes()))
            for i, a in enumerate((base, brighter, inverted))]
    px = spark.createDataFrame(rows, mm.PIXEL_SCHEMA)

    hashes = {r["media_id"]: r["ahash"] for r in mm.average_hash(px).collect()}
    assert hashes[1] == hashes[2]          # brightness-shift invariant
    far = bin((hashes[1] ^ hashes[3]) & ((1 << 64) - 1)).count("1")
    assert far > 32                        # inversion flips most bits

    with dd.cache_scope():
        pairs = {(r["id1"], r["id2"]): r["hamming"] for r in
                 mm.image_near_dup_pairs(px, max_hamming=4).collect()}
    assert pairs == {(1, 2): 0}


def test_hamming_near_pairs_full_64bit_sign_range(spark):
    """The generic chunk join must stay exact when the signature's sign
    bit is set (arithmetic shiftright sign-extends): two negative-long
    signatures 2 bits apart pair at budget 2; a signature differing only
    in the sign bit from its positive twin is hamming 1."""
    neg = -(1 << 62)                      # bit 63 set (two's complement)
    rows = [(1, neg), (2, neg ^ 0b11), (3, 5), (4, 5 | (1 << 63) - (1 << 64))]
    sigs = spark.createDataFrame(rows, "media_id long, sig long")
    with dd.cache_scope():
        pairs = {(r["id1"], r["id2"]): r["hamming"] for r in
                 dd.hamming_near_pairs(sigs, "sig", "media_id", 64,
                                       2).collect()}
    assert pairs[(1, 2)] == 2
    assert pairs[(3, 4)] == 1


def test_grouped_kfold_partitions_entities(spark):
    """Leakage-proofing property: folds partition GROUPS — every row of
    a group shares one fold, folds are disjoint over groups, and the
    assignment is stable under repartitioning."""
    rows = [(i, i % 37) for i in range(500)]
    df = spark.createDataFrame(rows, "event_id long, user_id long")
    folded = sp.grouped_kfold(df, 5, "user_id")
    per_user = (folded.groupBy("user_id")
                .agg(F.countDistinct("fold").alias("nf")).collect())
    assert all(r["nf"] == 1 for r in per_user)
    assert {r["fold"] for r in folded.select("fold").distinct().collect()} \
        <= set(range(5))
    again = sp.grouped_kfold(df.repartition(7), 5, "user_id")
    a = {(r["event_id"], r["fold"]) for r in folded.collect()}
    b = {(r["event_id"], r["fold"]) for r in again.collect()}
    assert a == b


def test_plane_families_are_pinned_and_distinct():
    """Golden pins for both deterministic plane families: every LSH band
    key and every certified oracle derives from these driver-side
    literals, so an accidental reseed or formula change would silently
    re-key every banded operator — this fails first. The Gaussian family
    (sign-LSH, r08) must be continuous N(0,1)-ish and 6-dp-rounded; the
    Rademacher family (JL projection) stays exactly ±1; and the two must
    never alias (independent md5 seed namespaces)."""
    import statistics

    from airline_data_warehouse_spark.operators.hashing import (
        gaussian_plane_weights,
        hyperplane_weights,
    )

    assert gaussian_plane_weights(2, 4) == [
        [1.166545, -0.780894, 0.759304, 1.311346],
        [1.699659, 0.054427, -1.280487, -0.629769]]
    assert hyperplane_weights(2, 4) == [
        [-1.0, 1.0, -1.0, -1.0], [-1.0, -1.0, 1.0, -1.0]]
    flat = [x for row in gaussian_plane_weights(32, 64) for x in row]
    assert abs(statistics.mean(flat)) < 0.05
    assert 0.9 < statistics.stdev(flat) < 1.1
    assert all(x == round(x, 6) for x in flat)        # 6-dp contract
    assert gaussian_plane_weights(1, 8) != hyperplane_weights(1, 8)
    # distinct seed families: same params, different seeds, different planes
    assert (gaussian_plane_weights(1, 8, seed="other")
            != gaussian_plane_weights(1, 8))


def test_train_quality_classifier_learns_separation(spark, tmp_path):
    """On a BALANCED corpus (stopword-rich prose vs keyword salad) the
    3-step GD actually learns the teacher's decision: both classes are
    predicted correctly (agreement 1.0), and every prose doc outscores
    every salad doc — the trained model separates, it doesn't just vote
    the majority class. Also pins determinism: two runs produce
    identical scores (the exact-DECIMAL gradient makes training
    order-independent)."""
    prose = ("the history of the region and the growth of a city to the "
             "north of the river and the role of the port in trade")
    salad = "buy cheap deals discount sale offer price shop now click"
    rows = ([(i, prose + f" u{i}") for i in range(30)]
            + [(100 + i, salad + f" u{i}") for i in range(30)])
    spark.createDataFrame(rows, "doc_id long, text string") \
         .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    from airline_data_warehouse_spark.plans.registry import all_queries
    builder = all_queries()["train_quality_classifier"].builder
    out = {r["doc_id"]: r for r in builder(spark, str(tmp_path)).collect()}
    assert len(out) == 60
    assert all(out[i]["teacher_verdict"] == "keep" for i in range(30))
    assert all(out[100 + i]["teacher_verdict"] == "filter"
               for i in range(30))
    assert all(r["agree"] for r in out.values())
    worst_keep = min(out[i]["p_trained"] for i in range(30))
    best_filter = max(out[100 + i]["p_trained"] for i in range(30))
    assert worst_keep >= 0.5 > best_filter
    assert worst_keep > best_filter + 0.1  # a real margin, not a coin flip
    again = {r["doc_id"]: r["p_trained"] for r in
             builder(spark, str(tmp_path)).collect()}
    assert again == {k: v["p_trained"] for k, v in out.items()}


def test_dsir_weights_tilt_toward_target_domain(spark):
    """DSIR semantics on engineered domains: docs phrased like the
    target domain get log_weight > 0 (likelier under the target LM than
    the raw LM), off-domain docs get log_weight < 0, and every
    on-domain doc outweighs every off-domain doc — so A-ES resampling
    by these weights tilts the corpus toward the domain. Bigrams unseen
    by the target LM must smooth (COALESCE), not drop: the off-domain
    docs' bigrams appear nowhere in the target corpus."""
    from airline_data_warehouse_spark.operators import text as tx

    cook = "stir the sauce and simmer the onions in the pan with butter"
    tech = "compile the kernel and flash the firmware to the board rom"
    rows = ([(i, "cook", cook + f" batch u{i}") for i in range(8)]
            + [(100 + i, "web", cook + f" home u{i}") for i in range(4)]
            + [(200 + i, "web", tech + f" rev u{i}") for i in range(4)])
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    target = docs.filter(F.col("source") == "cook")
    got = {r["doc_id"]: r for r in
           tx.dsir_importance_weights(docs, target).collect()}
    assert len(got) == 16
    # target-corpus docs: likelier under their own LM than the mixed one
    assert all(got[k]["log_weight"] > 0 and got[k]["weight"] > 1
               for k in range(8))
    # held-out cook-phrased docs: their unique suffix bigrams are unseen
    # by the target LM (smoothed, slightly penalized — near 0), but they
    # still outweigh every off-domain doc by a wide margin
    held_out = [got[100 + i]["log_weight"] for i in range(4)]
    tech_like = [got[200 + i]["log_weight"] for i in range(4)]
    assert max(tech_like) < -0.5 and min(held_out) > -0.1
    assert min(held_out) > max(tech_like) + 0.5
    assert all(got[200 + i]["weight"] < 0.5 for i in range(4))


def test_dsir_hashed_weights_match_tilt_and_bound_lm(spark):
    """The hashed-feature DSIR variant (Xie et al.'s 10k-bucket form)
    preserves the exact twin's ordering semantics on engineered
    domains — on-domain docs outweigh every off-domain doc — while its
    LM tables are bounded by the bucket constant. With a tiny bucket
    count the hash forces collisions, so this also pins that collided
    bigrams share mass instead of erroring (the scale trade the paper
    accepts)."""
    from airline_data_warehouse_spark.operators import text as tx

    cook = "stir the sauce and simmer the onions in the pan with butter"
    tech = "compile the kernel and flash the firmware to the board rom"
    rows = ([(i, "cook", cook + f" batch u{i}") for i in range(8)]
            + [(100 + i, "web", cook + f" home u{i}") for i in range(4)]
            + [(200 + i, "web", tech + f" rev u{i}") for i in range(4)])
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    target = docs.filter(F.col("source") == "cook")
    got = {r["doc_id"]: r for r in
           tx.dsir_hashed_importance_weights(docs, target).collect()}
    assert len(got) == 16
    # With buckets >> corpus bigram count the add-one mass dominates and
    # shifts every log-weight down (see the operator docstring) — the
    # SIGN the exact twin guarantees is a production-scale (N >> B)
    # property. The resampling consumes ORDERING, which must hold at any
    # scale: every target-corpus doc above every held-out on-domain doc
    # above every off-domain doc, with a wide domain gap.
    target_corpus = [got[k]["log_weight"] for k in range(8)]
    on_domain = [got[100 + i]["log_weight"] for i in range(4)]
    off_domain = [got[200 + i]["log_weight"] for i in range(4)]
    assert min(target_corpus) >= max(on_domain)
    assert min(on_domain) > max(off_domain) + 0.5
    # with buckets=64 the counts dominate the smoothing mass again, so
    # the exact twin's sign property returns — and forced collisions
    # (64 buckets, ~90 distinct bigrams) share mass instead of erroring
    tiny = {r["doc_id"]: r["log_weight"] for r in
            tx.dsir_hashed_importance_weights(docs, target,
                                              buckets=64).collect()}
    assert all(tiny[k] > 0 for k in range(8))
    assert min(tiny[k] for k in range(8)) > max(
        tiny[200 + i] for i in range(4))


def test_pq_train_codes_and_adc_topk(spark):
    """Product quantization pins (Jegou et al. 2011): pq_train encodes
    every finite vector in all m subspaces with codes drawn from the
    deterministic lowest-id seeds; a re-run is identical; Lloyd's
    iterations do not increase quantization error; and ADC search ranks
    every same-cell (code-sharing) neighbor ahead of every other-cluster
    vector — ADC distance is a function of the CODES, so within-cell
    ties resolve by neighbor id (the documented contract), which is the
    resolution limit the 64x scan compression buys."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(12):
        base = ([1.0, 0, 0, 0, 0, 0, 0, 0] if i % 2 == 0
                else [0, 0, 0, 0, 0, 0, 0, 1.0])
        rows.append((i, [b + rng.uniform(-0.05, 0.05) for b in base]))
    rows.append((100, list(rows[4][1])))      # exact duplicate of vec 4
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    codes, cb = sim.pq_train(emb, m=2, k=2, iters=2, dims=8)
    c = codes.collect()
    assert len(c) == 13 * 2                       # every vector, every sub
    assert {r["sub"] for r in c} == {0, 1}
    assert {r["list_id"] for r in c} <= {0, 1}    # seed ids = 2 lowest ids
    codes2, _cb2 = sim.pq_train(emb, m=2, k=2, iters=2, dims=8)
    assert sorted(map(tuple, c)) == sorted(map(tuple, codes2.collect()))

    # more Lloyd's never hurts: total quantization error non-increasing
    codes1, _ = sim.pq_train(emb, m=2, k=2, iters=1, dims=8)
    err1 = sum(r["d2"] for r in codes1.collect())
    err2 = sum(r["d2"] for r in c)
    assert err2 <= err1 + 1e-9

    # ADC: vec 100 duplicates vec 4, so it shares 4's codes; every
    # code-sharing (even-cluster) neighbor ties at the minimal ADC
    # distance and outranks the whole odd cluster
    by_vec = {}
    for r in c:
        by_vec.setdefault(r["vec_id"], {})[r["sub"]] = r["list_id"]
    same_cell = {v for v, m_ in by_vec.items()
                 if m_ == by_vec[100] and v != 100}
    assert 4 in same_cell
    top = sim.pq_topk(codes, cb, emb.filter(F.col("vec_id") == 100),
                      k=len(same_cell) + 2, m=2, dims=8)
    got = sorted(top.collect(), key=lambda r: r["rank"])
    head = {r["neighbor_id"] for r in got[:len(same_cell)]}
    assert head == same_cell
    assert got[0]["adc_d2"] <= got[-1]["adc_d2"]
    assert got[0]["neighbor_id"] == min(same_cell)  # id tie-break pinned


def test_ivfpq_prunes_to_probed_lists_and_is_deterministic(spark):
    """IVFADC pins: with n_probe=1 every returned neighbor lives in the
    query's own coarse cell (vectors in unprobed lists are structurally
    unreachable — the LUT join carries only probed list ids), results
    are identical across runs, and a planted exact duplicate of the
    query scores the minimal ADC distance in its cell (it shares the
    query's codes, so its table entries are the per-sub minima)."""
    import random

    rng = random.Random(3)
    protos = [[5.0, 0, 0, 0, 0, 0, 0, 0],
              [0, 0, 0, 5.0, 0, 0, 0, 0],
              [0, 0, 0, 0, 0, 0, 5.0, 0]]
    rows = []
    for i in range(18):
        base = protos[i % 3]
        rows.append((i, [b + rng.uniform(-0.2, 0.2) for b in base]))
    rows.append((100, list(rows[0][1])))   # duplicate of vec 0 (cluster 0)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run():
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["adc_d2"])
            for r in sim.ivfpq_topk(
                emb, emb.filter(F.col("vec_id") == 100), k=6,
                n_lists=3, n_probe=1, m=2, codes_k=2, dims=8).collect())

    got = run()
    assert got == run()                     # deterministic end to end
    cluster0 = {i for i in range(18) if i % 3 == 0} | {100}
    neighbors = {g[2] for g in got}
    assert 100 not in neighbors             # self excluded
    assert neighbors <= cluster0 - {100}    # n_probe=1 → own cell only
    # the duplicate's codes equal vec 0's, so vec 0 ties the minimal ADC
    # distance; minimality means nothing in the cell scores lower
    d2_by_id = {g[2]: g[3] for g in got}
    assert d2_by_id[0] == min(d2_by_id.values())


def test_pq_rerank_with_full_shortlist_equals_exact_topk(spark):
    """pq_topk_rerank's contract: the final ranking is EXACT squared L2
    over the ADC shortlist — so with a shortlist covering the whole
    corpus it must equal the brute-force exact top-k, regardless of how
    badly quantization scrambles ADC order. Also pins that a planted
    exact duplicate ranks first (d2 = 0 beats everything) — the case
    raw ADC cannot guarantee (within-cell ties)."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    rows.append((100, list(rows[7][1])))    # exact duplicate of vec 7
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes, cb = sim.pq_train(emb, m=2, k=4, iters=2, dims=8)
    queries = emb.filter(F.col("vec_id") == 100)

    got = sorted(((r["rank"], r["neighbor_id"], r["d2"]) for r in
                  sim.pq_topk_rerank(codes, cb, emb, queries, k=5,
                                     shortlist=100, m=2, dims=8).collect()))
    # brute-force exact truth
    from pyspark.sql import Window as W
    vv = emb.select("vec_id", F.col("embedding").alias("v"))
    qv = (queries.select(F.col("embedding").alias("qv"))
          .crossJoin(vv).filter(F.col("vec_id") != 100)
          .withColumn("d2", sim._sqdist(F.col("qv"), F.col("v"))))
    w = W.orderBy(F.col("d2").asc(), F.col("vec_id").asc())
    truth = sorted((r["rk"], r["vec_id"], r["d2"]) for r in
                   qv.withColumn("rk", F.row_number().over(w))
                     .filter(F.col("rk") <= 5).collect())
    assert got == truth
    assert got[0][1] == 7 and got[0][2] == 0.0   # duplicate first, exactly


def test_pq_rerank_external_query_set(spark):
    """Regression pin for the r9 ADVICE-high: pq_topk_rerank must take
    query vectors from the QUERIES parameter, not fetch them from the
    corpus by id — so (a) a query whose id does not exist in the corpus
    still gets answers (the r9 shape silently dropped it), and (b) a
    query id that COLLIDES with a corpus id uses the query's own
    vector, not the corpus row's. The fix is also what bounds the qv
    broadcast by |queries| instead of corpus size (the OOM class)."""
    import random

    rng = random.Random(23)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes, cb = sim.pq_train(emb, m=2, k=4, iters=2, dims=8)

    # (a) external id 999 (not in corpus), vector = vec 3's exactly:
    # the exact re-rank must place vec 3 first with d2 = 0.
    q_ext = spark.createDataFrame([(999, list(rows[3][1]))],
                                  "vec_id long, embedding array<double>")
    got = sorted((r["rank"], r["neighbor_id"], r["d2"]) for r in
                 sim.pq_topk_rerank(codes, cb, emb, q_ext, k=3,
                                    shortlist=30, m=2, dims=8).collect())
    assert len(got) == 3, "external-id query was dropped"
    assert got[0][1] == 3 and got[0][2] == 0.0

    # (b) colliding id 5 but a DIFFERENT vector (vec 9's): results must
    # reflect the query's own vector — vec 9 first at d2 = 0 (vec 5 is
    # excluded only by the id self-match rule, not by vector identity).
    q_coll = spark.createDataFrame([(5, list(rows[9][1]))],
                                   "vec_id long, embedding array<double>")
    got2 = sorted((r["rank"], r["neighbor_id"], r["d2"]) for r in
                  sim.pq_topk_rerank(codes, cb, emb, q_coll, k=3,
                                     shortlist=30, m=2, dims=8).collect())
    assert got2[0][1] == 9 and got2[0][2] == 0.0
    assert all(n != 5 for _, n, _d in got2)      # self-id still excluded


def _broadcast_sites():
    """AST scan of every F.broadcast() call in the operator/LLM-ops/
    streaming modules: yields (file, function, target, derivation_root)
    where derivation_root is the leftmost identifier of the target's
    defining expression — the frame it's built FROM (a parameter name,
    a local, or a builder function). Name-only matching let the r9
    pq_topk_rerank bug through (a corpus-derived frame reusing the
    allowlisted name `qv`); pinning the derivation root makes that
    structurally impossible: re-deriving an allowlisted name from a
    different frame changes the root and fails the pin."""
    import ast
    import os

    def expr_root(node):
        while isinstance(node, (ast.Call, ast.Attribute, ast.Subscript)):
            node = node.func if isinstance(node, ast.Call) else node.value
        return node.id if isinstance(node, ast.Name) else \
            f"<{type(node).__name__}>"

    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "airline_data_warehouse_spark")
    scan = sorted(os.path.join(root, "operators", f)
                  for f in os.listdir(os.path.join(root, "operators"))
                  if f.endswith(".py"))
    scan += [os.path.join(root, "plans", "llmops.py")]
    scan += sorted(os.path.join(root, "streaming", f)
                   for f in os.listdir(os.path.join(root, "streaming"))
                   if f.endswith(".py"))
    sites = set()
    for path in scan:
        with open(path) as f:
            tree = ast.parse(f.read())
        for fn in (n for n in ast.walk(tree)
                   if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))):
            assigns = {}
            for n in ast.walk(fn):
                if (isinstance(n, ast.Assign) and len(n.targets) == 1
                        and isinstance(n.targets[0], ast.Name)):
                    assigns[n.targets[0].id] = expr_root(n.value)
            for n in ast.walk(fn):
                if (isinstance(n, ast.Call)
                        and isinstance(n.func, ast.Attribute)
                        and n.func.attr == "broadcast"
                        and isinstance(n.func.value, ast.Name)
                        and n.func.value.id == "F" and n.args):
                    a = n.args[0]
                    if isinstance(a, ast.Name):
                        sites.add((os.path.basename(path), fn.name, a.id,
                                   assigns.get(a.id, "<param>")))
                    else:
                        r = expr_root(a)
                        sites.add((os.path.basename(path), fn.name,
                                   f"<expr:{r}>", r))
    return sites


def test_operator_broadcast_targets_are_bounded():
    """Source-level twin of test_plans' warehouse-module broadcast
    allowlist (the eccd529 contract), extended to the operator/LLM-ops/
    streaming modules where the r07 broadcast-OOM class lived — and
    hardened after the r9 ADVICE: every F.broadcast() site is pinned as
    (file, function, target, derivation-root) with a written bound, so
    both a NEW hint and a re-derivation of an existing target from a
    different frame fail here until the bound is re-reviewed. The r9
    escape (pq_topk_rerank's `qv` rebuilt from the corpus instead of
    the queries parameter) would have flipped its root from `queries`
    to `vecs` and tripped this pin.
    (analytics.py's star dims are deliberately excluded: the flagship
    broadcast star is the reference-parity surface, pinned by its own
    plan test and PLANS.md.)"""
    # (file, function, broadcast target, derivation root): written bound
    pinned = {
        # --- similarity: query-side / codebook / centroid frames ---
        ("similarity.py", "brute_force_topk", "q", "queries"):
            "query set (top-k search contract: queries are small)",
        ("similarity.py", "_lsh_scored", "qvec", "queries"):
            "query vectors: |queries| rows",
        ("similarity.py", "_lsh_scored", "banded_q", "queries"):
            "banded query set: |queries| x bands rows",
        ("similarity.py", "_nearest_centroids", "<expr:centroids>",
         "centroids"):
            "IVF probe / assign: the k-means or coarse centroid table, "
            "n_lists rows (ivf_assign, kmeans_assign, ivf_topk, the "
            "index queries, _ivfpq_lut)",
        ("similarity.py", "_pq_dists", "cb", "codebook"):
            "PQ codebook + hoisted self-dots: m x k rows, operator "
            "constants (_pq_assign and every ADC LUT)",
        ("similarity.py", "_adc_sum", "lut", "<param>"):
            "ADC LUT: |queries| x m x k (pq_topk) or |queries| x n_probe "
            "x m x codes_k (_ivfpq_lut) — query subvectors exploded by "
            "operator constants",
        ("similarity.py", "_residuals", "coarse", "<param>"):
            "IVF coarse centroids: n_lists rows (residual encode in "
            "ivfpq_topk, ivfpq_index_build, ivfpq_index_append)",
        ("similarity.py", "_rerank_exact", "qv", "queries"):
            "query vectors BUILT FROM THE QUERIES PARAM (r9 ADVICE-high: "
            "corpus-derived qv here is the OOM class this pin forbids)",
        ("similarity.py", "_rerank_exact", "short", "<param>"):
            "ADC shortlist: |queries| x shortlist rows (pq_topk_rerank, "
            "ivfpq_index_topk_rerank)",
        ("similarity.py", "embedding_covariance", "mu", "per_dim"):
            "1-row per-dim mean vector (covariance centering)",
        # --- text: scalar / catalog / query-bounded aggregates ---
        ("text.py", "vocab_table", "offsets", "counts"):
            "per-stratum offsets: bounded by stratum count",
        ("text.py", "encode_documents", "<expr:vocab>", "vocab"):
            "trained tokenizer vocabulary: bounded by the tokenizer spec",
        ("text.py", "bigram_logprob_score", "vocab_n", "pairs"):
            "1-row vocabulary size",
        ("text.py", "bm25_search", "stats", "lens"):
            "1-row corpus stats",
        ("text.py", "bm25_search", "dfreq", "hits"):
            "per-QUERY-term document frequencies: <= |query terms|",
        ("text.py", "source_token_divergence", "tot", "cc"):
            "1-row total",
        ("text.py", "token_cooccurrence_pmi", "tot", "pairs"):
            "1-row (total pairs, total tokens) scalar frame",
        ("text.py", "source_token_divergence", "tot_s", "sc"):
            "per-source totals: |sources| rows (catalog attribute)",
        ("text.py", "dsir_importance_weights", "v", "lm_pairs"):
            "1-row vocabulary size",
        ("text.py", "dsir_hashed_importance_weights", "tot", "lm_pairs"):
            "1-row total",
        ("text.py", "dsir_hashed_importance_weights", "lm", "lm_pairs"):
            "hashed-bucket LM: <= buckets rows (operator constant)",
        ("text.py", "lm_score", "v", "lm_pairs"):
            "1-row vocabulary size",
        ("text.py", "lm_score", "tot", "lm_pairs"):
            "1-row total",
        ("text.py", "lm_score", "lm", "lm_pairs"):
            "hashed-bucket LM: <= buckets rows",
        # --- graph ---
        ("graph.py", "pagerank", "pcount", "nodes"):
            "1-row teleport-set count (exact_counts precedent)",
        ("graph.py", "pagerank", "scal", "pcount"):
            "1-row (teleport count, dangling mass) scalar frame",
        ("graph.py", "degree_profile", "nodes_n", "deg"):
            "1-row (node count, max degree) scalar frame",
        # --- sampling / llmops ---
        ("sampling.py", "curriculum_order", "offsets", "b"):
            "per-bucket offsets: bounded by bucket count",
        ("llmops.py", "materialize_mixture", "quotas", "sp"):
            "per-source quotas: |sources| rows",
        ("llmops.py", "tokenization_report", "<expr:vocab>", "vocab"):
            "trained tokenizer vocabulary: bounded by the tokenizer spec",
        # --- streaming (status.py): micro-batch-bounded frames ---
        ("status.py", "enrich_stream_with_dims", "<expr:dim_flight>",
         "dim_flight"): "reference star dims (reference-parity surface)",
        ("status.py", "enrich_stream_with_dims", "<expr:dim_airport>",
         "dim_airport"): "reference star dims",
        ("status.py", "eligibility_merge_batch", "eligible",
         "status_batch"): "per-micro-batch eligible keys",
        ("status.py", "start_eligibility_merge", "months", "fact"):
            "months touched by one micro-batch (distinct month keys)",
        ("status.py", "start_eligibility_merge", "eligible", "batch"):
            "per-micro-batch eligible keys",
        ("status.py", "_merge", "months", "fact"):
            "months touched by one micro-batch",
        ("status.py", "_merge", "eligible", "batch"):
            "per-micro-batch eligible keys",
        ("sketches.py", "countmin_estimate", "sketch", "<param>"):
            "CMS cell table: <= depth*width rows by construction (the "
            "sketch's entire point), corpus-independent",
        ("sketches.py", "lc_set_algebra", "kb", "bb"):
            "1-row bit-count aggregate over a <= bits-row bitmap",
        ("sketches.py", "lc_set_algebra", "ku", "ba"):
            "1-row bit-count aggregate over the <= bits-row union "
            "bitmap",
        ("llmops.py", "cms_join_size", "true", "ga"):
            "1-row exact-inner-product aggregate (the true_f2 rider "
            "convention)",
        ("llmops.py", "distinct_set_algebra_linear_count",
         "<expr:ua>", "ua"):
            "1-row exact-intersect aggregate (semi-join collapsed to "
            "one COUNT row)",
        ("llmops.py", "distinct_set_algebra_linear_count", "truths",
         "orders"):
            "1-row exact a/b/union/intersect rider aggregate",
        ("sketches.py", "bloom_probe", "<expr:bloom>", "bloom"):
            "Bloom bit table: <= bits rows by construction, "
            "corpus-independent",
        ("llmops.py", "countmin_heavy_hitters", "thr", "toks"):
            "1-row scalar threshold (the exact_counts precedent)",
        ("llmops.py", "ams_f2_join_size", "true", "toks"):
            "1-row scalar (exact F2), the exact_counts precedent",
        ("llmops.py", "linear_counting_distinct", "true", "toks"):
            "1-row scalar (exact distinct), the exact_counts precedent",
        ("graph.py", "hits", "ncount", "nodes"):
            "1-row scalar (node count), the pagerank pcount precedent",
        ("graph.py", "hits", "tot", "raw"):
            "1-row scalar (L1 normalization total)",
        ("graph.py", "_renorm", "tot", "raw"):
            "1-row scalar (L1 normalization total, hits helper)",
        ("sketches.py", "qdigest_rank_values", "nodes", "digest"):
            "q-digest node table: <= O(k*levels) rows after compression "
            "(distinct sub-thr leaves fold upward), corpus-independent",
        ("llmops.py", "_qd_pct_ranks", "nf", "dig"):
            "1-row scalar (digest total mass), the heavy-hitters thr "
            "precedent",
        ("llmops.py", "_exact_rank_values", "ranks", "<param>"):
            "target-rank frame: |pcts| rows (5), schema-bounded",
    }
    sites = _broadcast_sites()
    unpinned = sites - set(pinned)
    assert not unpinned, (
        "F.broadcast() sites without a pinned (file, fn, target, "
        f"derivation-root) bound: {sorted(unpinned)} — document the bound "
        "here (and verify it is NOT corpus-proportional) or drop the hint "
        "and let AQE choose")
    stale = set(pinned) - sites
    assert not stale, (
        f"pinned broadcast sites no longer present: {sorted(stale)} — "
        "remove the stale pins so the table stays a faithful inventory")


def test_pca_whiten_decorrelates_and_normalizes(spark):
    """pca_whiten's pinned contract (the value-level oracle LAPACK's
    platform ambiguity forbids): on a corpus with strongly correlated
    dimensions, the k whitened coordinates come out unit-variance and
    pairwise-decorrelated, the projection is deterministic across
    runs (canonical sign), and every input row projects to a length-k
    vector."""
    import random

    rng = random.Random(5)
    rows = []
    for i in range(400):
        a, b = rng.gauss(0, 2), rng.gauss(0, 1)
        noise = [rng.gauss(0, 0.05) for _ in range(8)]
        # dims 0/1 carry a (correlated), 2/3 carry b, rest near-noise
        rows.append((i, [a + noise[0], 2 * a + noise[1],
                         b + noise[2], -b + noise[3],
                         noise[4], noise[5], noise[6], noise[7]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = {r["vec_id"]: r["components"] for r in
           sim.pca_whiten(emb, k=4, dims=8).collect()}
    assert len(out) == 400 and all(len(v) == 4 for v in out.values())
    again = {r["vec_id"]: r["components"] for r in
             sim.pca_whiten(emb, k=4, dims=8).collect()}
    assert again == out                       # same-platform determinism

    import statistics
    cols = list(zip(*[out[i] for i in range(400)]))
    for c in cols:
        mean = statistics.fmean(c)
        var = sum((x - mean) ** 2 for x in c) / (len(c) - 1)
        assert abs(var - 1.0) < 0.05, var     # whitened: unit variance
    for x in range(4):
        for y in range(x + 1, 4):
            mx, my = statistics.fmean(cols[x]), statistics.fmean(cols[y])
            cov = sum((a - mx) * (b - my)
                      for a, b in zip(cols[x], cols[y])) / 399
            assert abs(cov) < 0.05, (x, y, cov)   # decorrelated


def test_whiten_invariants_identity_spectrum_and_refusal(spark):
    """whiten_invariants' certificate semantics on a synthetic corpus:
    the 3-dp Gram rows are EXACTLY the identity, Σλ equals the exact
    trace of the 9-dp covariance cells the fit decomposes (cov_dp=9
    since ADVICE r11-medium) and Σλ² their Frobenius norm, n_rows
    counts only finite rows — and a rank-deficient corpus (a constant
    dimension → λ = 0) is refused instead of gambling the rounding
    margin."""
    import random
    from decimal import Decimal

    import pytest
    from pyspark.sql import functions as F

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1 + 0.2 * d) for d in range(6)])
            for i in range(300)]
    rows.append((999, [float("nan")] * 6))        # filtered out
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {(r["stat"], r["i"], r["j"]): r["value"] for r in
           sim.whiten_invariants(emb, dims=6).collect()}

    for i in range(6):
        for j in range(i, 6):
            assert out[("gram", i, j)] == (1.0 if i == j else 0.0), (i, j)
    assert out[("n_rows", -1, -1)] == 300.0

    # trace / Frobenius of the 9-dp cells the fit actually decomposed
    # (rebuilt through the same centering pipeline, the oracle's shape)
    fin = emb.filter(sim._finite_ok(F.col("embedding")))
    mu_vals = [round(float(r["mu"]), 6) for r in
               sim._per_dim_mu(fin, "embedding").orderBy("dim").collect()]
    centered = fin.select(
        F.zip_with(F.col("embedding").cast("array<double>"),
                   sim._lit_vec(mu_vals),
                   lambda a, b: F.round(a - b, 6)).alias("c"))
    cov = {(r["i"], r["j"]): Decimal(repr(r["cov"])) for r in
           sim._cov_cells(centered, 6, round_dp=9).collect()}
    trace = sum(cov[(i, i)] for i in range(6))
    frob = sum(cov[(i, j)] ** 2 * (1 if i == j else 2)
               for i, j in cov)
    assert Decimal(repr(out[("eig_sum", -1, -1)])) == round(trace, 6)
    assert Decimal(repr(out[("eig_sumsq", -1, -1)])) == round(frob, 6)

    # and the 6-dp certified covariance key stays within 1 ulp of the
    # 9-dp trace — the two cell contracts describe the same matrix
    cov6 = {(r["i"], r["j"]): Decimal(repr(r["cov"])) for r in
            sim.embedding_covariance(emb, dims=6).collect()}
    trace6 = sum(cov6[(i, i)] for i in range(6))
    assert abs(trace6 - trace) <= Decimal("0.000004")

    flat = spark.createDataFrame(
        [(i, [float(i % 7), 3.0]) for i in range(50)],
        "vec_id long, embedding array<double>")     # dim 1 constant: λ=0
    with pytest.raises(ValueError, match="near-singular"):
        sim.whiten_invariants(flat, dims=2)


def test_cov_cells_sizes_int64_chunks_from_magnitude(spark):
    """_cov_cells accumulates products in int64 1e-12 units. Centered
    values near ±100 are 1e8 units, so one squared value is 1e16 and
    1,000 of them (one task, one Arrow batch) pass 2^63: the chunk size
    must come from the data's max|c|, matching an exact Decimal
    covariance. A value whose single square cannot fit raises."""
    import random
    from decimal import Decimal

    rng = random.Random(3)
    rows = [([round(rng.choice((-1, 1)) * (100 + rng.random()), 6),
              round(rng.uniform(-100, 100), 6)],) for _ in range(1000)]
    centered = spark.createDataFrame(rows, "c array<double>").coalesce(1)
    got = {(r["i"], r["j"]): r["cov"]
           for r in sim._cov_cells(centered, 2).collect()}
    n = len(rows)
    for i, j in ((0, 0), (0, 1), (1, 1)):
        s = sum(Decimal(repr(r[0][i])) * Decimal(repr(r[0][j]))
                for r in rows)
        assert abs(got[(i, j)] - float(s) / (n - 1)) <= 1e-6, (i, j)

    huge = spark.createDataFrame([([5000.0, 1.0],), ([-5000.0, 2.0],)],
                                 "c array<double>")
    with pytest.raises(Exception, match="_cov_cells"):
        sim._cov_cells(huge, 2).collect()


def test_pagerank_matches_independent_integer_reference(spark):
    """operators/graph.pagerank vs an independent plain-Python
    re-implementation of the same integer arithmetic, on a graph with
    every structural case: a hub (most in-links), a dangling sink (no
    out-edges), a multi-edge (counts its multiplicity), and a
    self-loop. Also pins: total mass stays within N half-up roundings
    of 1e12, the hub outranks every spoke, and two runs are identical."""
    from airline_data_warehouse_spark.operators.graph import pagerank

    edges = [(1, 9), (2, 9), (3, 9), (4, 9),       # spokes -> hub
             (9, 5),                               # hub -> sink (5 dangles)
             (2, 3), (2, 3),                       # multi-edge
             (4, 4)]                               # self-loop
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node_id"]: r["rank_micro"] for r in
           pagerank(e, iters=3).collect()}

    def halfup(a, b):
        return (2 * a + b) // (2 * b)

    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {v: halfup(10 ** 12, n) for v in nodes}
    for _ in range(3):
        infl = {v: 0 for v in nodes}
        for s, d in edges:
            infl[d] += halfup(r[s], outdeg[s])
        dang = sum(r[v] for v in nodes if v not in outdeg)
        r = {v: halfup(150_000_000_000, n)
             + (170 * (infl[v] + halfup(dang, n)) + 100) // 200
             for v in nodes}
    assert got == r

    assert abs(sum(got.values()) - 10 ** 12) <= n * 3  # mass conserved
    # the sink drains the hub's entire mass (9's sole out-edge), so the
    # ordering is sink > hub > every spoke
    assert got[5] == max(got.values())
    assert got[9] == max(v for k, v in got.items() if k != 5)
    again = {row["node_id"]: row["rank_micro"] for row in
             pagerank(e, iters=3).collect()}
    assert again == got


def test_label_propagation_matches_independent_reference(spark):
    """graph.label_propagation vs a plain-Python re-implementation of
    the same integer arithmetic, exercising every rule: clamped seeds
    never move, an unlabeled node takes the half-up mean of its
    in-neighbors, an isolated unlabeled node keeps the 0.5 prior, and
    a node whose only neighbors are seeds converges to their mean."""
    from airline_data_warehouse_spark.operators.graph import (
        label_propagation,
    )

    # 1,2 seeded; 3 between them; 4 chained off 3; 9 isolated
    node_ids = [1, 2, 3, 4, 9]
    edge_list = [(1, 3), (2, 3), (3, 1), (3, 2),   # undirected 1-3, 2-3
                 (3, 4), (4, 3)]                   # undirected 3-4
    seed_map = {1: 10 ** 12, 2: 0}
    nodes = spark.createDataFrame([(v,) for v in node_ids],
                                  "node_id long")
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    seeds = spark.createDataFrame(list(seed_map.items()),
                                  "node_id long, seed_micro long")
    got = {r["node_id"]: (r["score_micro"], r["seeded"]) for r in
           label_propagation(nodes, edges, seeds, iters=2).collect()}

    def halfup(a, b):
        return (2 * a + b) // (2 * b)

    s = {v: seed_map.get(v, 500_000_000_000) for v in node_ids}
    for _ in range(2):
        infl = {}
        for a, b in edge_list:
            infl.setdefault(b, []).append(s[a])
        s = {v: (seed_map[v] if v in seed_map
                 else halfup(sum(infl[v]), len(infl[v])) if v in infl
                 else s[v])
             for v in node_ids}
    assert got == {v: (s[v], v in seed_map) for v in node_ids}
    assert got[1] == (10 ** 12, True) and got[2] == (0, True)  # clamped
    assert got[9] == (500_000_000_000, False)                  # isolated


def test_label_propagation_weighted_matches_reference(spark):
    """label_propagation(weight_col=...) vs plain-Python integer
    arithmetic: weighted mean halfup(Σ w·score, Σ w) with one weight
    big enough (1e7) that w·score ≈ 1e19 exceeds int64 — the
    DECIMAL(38,0) product must stay exact. w ≡ 1 reproduces the
    unweighted form bit-for-bit; non-positive weights drop."""
    from airline_data_warehouse_spark.operators.graph import (
        label_propagation,
    )

    node_ids = [1, 2, 3]
    edge_list = [(1, 3, 10 ** 7), (2, 3, 1), (1, 2, 0)]   # w=0 dropped
    seed_map = {1: 10 ** 12, 2: 0}
    nodes = spark.createDataFrame([(v,) for v in node_ids], "node_id long")
    edges = spark.createDataFrame(edge_list, "src long, dst long, w long")
    seeds = spark.createDataFrame(list(seed_map.items()),
                                  "node_id long, seed_micro long")
    got = {r["node_id"]: r["score_micro"] for r in
           label_propagation(nodes, edges, seeds, iters=1,
                             weight_col="w").collect()}

    def halfup(a, b):
        return (2 * a + b) // (2 * b)

    live = [(s, d, w) for s, d, w in edge_list if w > 0]
    s0 = {v: seed_map.get(v, 500_000_000_000) for v in node_ids}
    tot = sum(w * s0[s] for s, d, w in live if d == 3)
    wsum = sum(w for s, d, w in live if d == 3)
    assert got[3] == halfup(tot, wsum)
    assert got[1] == 10 ** 12 and got[2] == 0              # clamped

    ones = spark.createDataFrame([(s, d, 1) for s, d, _ in edge_list],
                                 "src long, dst long, w long")
    plain = spark.createDataFrame([(s, d) for s, d, _ in edge_list],
                                  "src long, dst long")
    w1 = {r["node_id"]: r["score_micro"] for r in
          label_propagation(nodes, ones, seeds, iters=2,
                            weight_col="w").collect()}
    uw = {r["node_id"]: r["score_micro"] for r in
          label_propagation(nodes, plain, seeds, iters=2).collect()}
    assert w1 == uw


def test_label_propagation_high_degree_hub_exact(spark):
    """ADVICE r10-medium regression: a hub with 5,000 full-score (1e12)
    in-neighbors makes the half-up numerator 2·Σscores + cnt ≈ 1e16 —
    past 2^53, where the old long/double _div_halfup could truncate
    off-by-one vs exact integer //. The DECIMAL(38,0) path must equal
    plain-Python integer arithmetic exactly. Seed scores are chosen so
    the exact mean has a .5 fractional part (the half-up boundary —
    the case a double quotient gets wrong first)."""
    from airline_data_warehouse_spark.operators.graph import (
        label_propagation,
    )

    n_in = 5000
    # 4999 seeds at 1e12 + 1 seed at 1e12+2501: sum = 5000e12 + 2501,
    # mean = 1e12 + 0.5002 -> half-up boundary region, numerator ~1e16
    seed_rows = [(i, 10 ** 12) for i in range(1, n_in)]
    seed_rows.append((n_in, 10 ** 12 + 2501))
    edges = spark.createDataFrame([(i, 0) for i in range(1, n_in + 1)],
                                  "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(0, n_in + 1)],
                                  "node_id long")
    seeds = spark.createDataFrame(seed_rows, "node_id long, seed_micro long")
    got = {r["node_id"]: r["score_micro"] for r in
           label_propagation(nodes, edges, seeds, iters=1).collect()}
    tot = sum(v for _, v in seed_rows)
    assert got[0] == (2 * tot + n_in) // (2 * n_in)  # exact integer halfup
    assert got[n_in] == 10 ** 12 + 2501              # seed clamped


def test_graph_loops_release_previous_round_caches(spark):
    """VERDICT r11 item 4 + the latent scale bug it exposed: the
    bounded-iteration loops must (a) not accumulate one live frame per
    round — round i's checkpoint blocks are released as soon as round
    i+1 materializes, so live storage stays O(1) at ANY depth — and
    (b) truncate lineage per round: each round references the previous
    frame twice, so un-truncated Catalyst analysis is O(2^iters)
    (measured pre-fix: kcore on THIS 40-node graph took 13.9 s at
    iters=6 and died of driver OOM at 8). iters=10 for all three loops
    both proves the plan stays linear and bounds the storage."""
    from airline_data_warehouse_spark.operators import dedup
    from airline_data_warehouse_spark.operators.graph import (
        hits,
        kcore,
        label_propagation,
        pagerank,
    )

    def n_rdds() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    edges = spark.createDataFrame(
        [(i, (i + 1) % 40) for i in range(40)]
        + [(i, (i + 7) % 40) for i in range(40)],
        "src long, dst long")

    base = n_rdds()
    with dedup.cache_scope() as owned:
        r10 = {r["node_id"]: r["rank_micro"] for r in
               pagerank(edges, iters=10).collect()}
        # loop-invariant caches (e, nodes, outw) + the FINAL round's
        # checkpoint — NOT one block set per round
        assert n_rdds() - base <= 5, (n_rdds(), base)
        assert len(owned) <= 3, len(owned)
    with dedup.cache_scope():
        again = {r["node_id"]: r["rank_micro"] for r in
                 pagerank(edges, iters=10).collect()}
    assert again == r10                     # release changed nothing

    nodes = spark.createDataFrame([(i,) for i in range(40)],
                                  "node_id long")
    seeds = spark.createDataFrame([(0, 10 ** 12)],
                                  "node_id long, seed_micro long")
    base = n_rdds()
    with dedup.cache_scope() as owned:
        label_propagation(nodes, edges, seeds, iters=10).collect()
        assert n_rdds() - base <= 4, (n_rdds(), base)
        assert len(owned) <= 1, len(owned)

    base = n_rdds()
    with dedup.cache_scope() as owned:
        out = {r["node_id"]: r["core_degree"] for r in
               kcore(edges, k=2, iters=10).collect()}
        assert len(out) == 40               # 2-regular+ graph: all alive
        assert n_rdds() - base <= 4, (n_rdds(), base)
        assert len(owned) <= 1, len(owned)

    # hits: the final barrier must release the LAST round's checkpointed
    # hub (prev_hub) too — live after return is e + nodes caches plus
    # the final auth and hub checkpoints only (ADVICE r12-low: prev_hub
    # used to leak to GC)
    base = n_rdds()
    with dedup.cache_scope() as owned:
        hits(edges, iters=10).collect()
        assert n_rdds() - base <= 4, (n_rdds(), base)
        assert len(owned) <= 2, len(owned)


def test_release_checkpoint_logs_failures(spark, caplog):
    """graph._release_checkpoint never fails silently: a frame whose
    plan root is not a LogicalRDD (spark.range) has no rdd() to
    unpersist, and the failure is logged as a warning with its
    traceback instead of being swallowed."""
    import logging

    from airline_data_warehouse_spark.operators.graph import (
        _release_checkpoint,
    )

    with caplog.at_level(logging.WARNING,
                         logger="airline_data_warehouse_spark.operators.graph"):
        _release_checkpoint(spark.range(3))
    rec = [r for r in caplog.records if "_release_checkpoint" in r.message]
    assert rec and rec[0].levelno == logging.WARNING and rec[0].exc_info


def test_kcenter_batched_m1_equals_exact_and_batches_fold(spark):
    """VERDICT r11 item 1's done-criteria: kcenter_select_batched at
    (m=1, oversample=1) is BIT-IDENTICAL to the certified exact
    Gonzalez loop for every rank/id/dist; at m>1 the selection is
    deterministic, dist is non-increasing WITHIN each batch, every
    pick's dist equals its exact min-dist to all previously selected
    points (recomputed independently in exact ints), and live caches
    stay O(1)."""
    from airline_data_warehouse_spark.operators import dedup
    from airline_data_warehouse_spark.operators.similarity import (
        _sq6_int,
        kcenter_select,
        kcenter_select_batched,
    )

    rng_rows = [(i, [float((i * 7 + d * 13) % 23) / 4.0,
                     float((i * 3 + d) % 17) / 3.0,
                     float((i * 11) % 29) / 5.0])
                for i in range(80) for d in [0]]
    emb = spark.createDataFrame(rng_rows,
                                "vec_id long, embedding array<double>")
    with dedup.cache_scope():
        exact = [(r["sel_rank"], r["vec_id"], r["dist"]) for r in
                 kcenter_select(emb, k=7, dims=3).collect()]
    with dedup.cache_scope():
        b1 = [(r["sel_rank"], r["vec_id"], r["dist"]) for r in
              kcenter_select_batched(emb, k=7, m=1, oversample=1,
                                     dims=3).collect()]
    assert b1 == exact

    with dedup.cache_scope() as owned:
        rows = kcenter_select_batched(emb, k=7, m=3, oversample=2,
                                      dims=3).collect()
        assert len(owned) <= 2, len(owned)
    assert [r["sel_rank"] for r in rows] == list(range(1, 8))
    # batches are (seed), ranks 2-4, ranks 5-7: within-batch dist is
    # non-increasing
    d = {r["sel_rank"]: r["dist"] for r in rows}
    assert d[2] >= d[3] >= d[4]
    assert d[5] >= d[6] >= d[7]
    # every pick's dist == exact min-dist to all previously selected,
    # recomputed independently with exact integer arithmetic
    vecs = {i: [int(round(v * 1e6)) for v in e] for i, e in rng_rows}
    chosen = [r["vec_id"] for r in rows]
    for rank in range(2, 8):
        want = min(_sq6_int(vecs[chosen[rank - 1]], vecs[c])
                   for c in chosen[:rank - 1]) / 1e6
        assert d[rank] == want, (rank, d[rank], want)


def test_kcenter_select_releases_round_caches_and_validates_dims(spark):
    """ADVICE r11-low: kcenter_select releases each round's running-min
    frame once the next materializes (O(1) live caches, not O(k)), and
    the dims parameter is a real contract — mismatched vectors raise."""
    import pytest

    from airline_data_warehouse_spark.operators import dedup

    emb = spark.createDataFrame(
        [(i, [float(i % 11), float((i * 3) % 7), float(i % 5)])
         for i in range(60)],
        "vec_id long, embedding array<double>")
    with dedup.cache_scope() as owned:
        out = sim.kcenter_select(emb, k=8, dims=3).collect()
        assert len(out) == 8
        assert len(owned) <= 2, len(owned)

    with dedup.cache_scope(), pytest.raises(ValueError, match="dims"):
        sim.kcenter_select(emb, k=3, dims=64)


def test_pagerank_empty_seed_set_fails_fast(spark):
    """ADVICE r10-low: an empty (or emptied-by-distinct) seeds frame
    must raise, not silently emit all-NULL ranks via n=0 division."""
    import pytest

    from airline_data_warehouse_spark.operators.graph import pagerank

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    empty = spark.createDataFrame([], "node_id long")
    with pytest.raises(ValueError, match="teleport set is empty"):
        pagerank(e, iters=1, seeds=empty)


def test_pagerank_weighted_matches_integer_reference(spark):
    """pagerank(weight_col=...) vs plain-Python integer arithmetic:
    per-edge contribution halfup(rank·w, Σw), with one weight large
    enough (1e9) that rank×w ≈ 1e21 exceeds int64 — the DECIMAL(38,0)
    product must stay exact. Also pins w≡1 ≡ the unweighted form."""
    from airline_data_warehouse_spark.operators.graph import pagerank

    edges = [(1, 2, 7), (1, 3, 3), (2, 3, 10 ** 9), (3, 1, 5)]
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {r["node_id"]: r["rank_micro"] for r in
           pagerank(e, iters=3, weight_col="w").collect()}

    def halfup(a, b):
        return (2 * a + b) // (2 * b)

    nodes = [1, 2, 3]
    n = 3
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    r = {v: halfup(10 ** 12, n) for v in nodes}
    for _ in range(3):
        infl = {v: 0 for v in nodes}
        for s, d, w in edges:
            infl[d] += halfup(r[s] * w, outw[s])
        dang = sum(r[v] for v in nodes if v not in outw)
        r = {v: halfup(150_000_000_000, n)
             + (170 * (infl[v] + halfup(dang, n)) + 100) // 200
             for v in nodes}
    assert got == r

    # w ≡ 1 reproduces the unweighted result bit-for-bit
    e1 = spark.createDataFrame([(s, d) for s, d, _ in edges],
                               "src long, dst long")
    ones = spark.createDataFrame([(s, d, 1) for s, d, _ in edges],
                                 "src long, dst long, w long")
    unweighted = {r2["node_id"]: r2["rank_micro"] for r2 in
                  pagerank(e1, iters=2).collect()}
    weighted1 = {r2["node_id"]: r2["rank_micro"] for r2 in
                 pagerank(ones, iters=2, weight_col="w").collect()}
    assert unweighted == weighted1

    # weighted + personalized compose: teleport mass concentrates on
    # the seed, weighted contributions still split by w — the seed and
    # its heavy out-neighbor dominate, and the independent reference
    # (teleport/base/dangling to seeds only) matches exactly
    seeds = spark.createDataFrame([(2,)], "node_id long")
    wp = {r2["node_id"]: r2["rank_micro"] for r2 in
          pagerank(e, iters=2, weight_col="w", seeds=seeds).collect()}
    r = {v: (10 ** 12 if v == 2 else 0) for v in nodes}
    for _ in range(2):
        infl = {v: 0 for v in nodes}
        for s, d, w in edges:
            infl[d] += halfup(r[s] * w, outw[s])
        dang = sum(r[v] for v in nodes if v not in outw)
        r = {v: ((halfup(150_000_000_000, 1) if v == 2 else 0)
                 + (170 * (infl[v]
                           + (halfup(dang, 1) if v == 2 else 0)) + 100)
                 // 200)
             for v in nodes}
    assert wp == r


def test_mutual_knn_reciprocity(spark):
    """mutual_knn_pairs keeps an edge only when BOTH endpoints list
    each other: three unit vectors at 0°, 5°, 30° with k=1 — A and B
    are each other's nearest (edge kept), C's nearest is B but B's
    nearest is A (C's edge pruned). At k=2 every pair reciprocates."""
    import math

    from airline_data_warehouse_spark.operators.similarity import (
        mutual_knn_pairs,
    )

    def unit(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    corpus = spark.createDataFrame(
        [(1, unit(0)), (2, unit(5)), (3, unit(30))],
        "vec_id long, embedding array<double>")
    cents = spark.createDataFrame([(0, [1.0, 0.0])],
                                  "list_id int, centroid array<double>")
    k1 = {(r["id1"], r["id2"]) for r in
          mutual_knn_pairs(corpus, cents, k=1).collect()}
    assert k1 == {(1, 2)}
    k2 = {(r["id1"], r["id2"]) for r in
          mutual_knn_pairs(corpus, cents, k=2).collect()}
    assert k2 == {(1, 2), (1, 3), (2, 3)}


def test_mutual_knn_raises_on_oversized_list(spark):
    """VERDICT r12 item 5: the fixed-quantizer variant's per-list
    quadratic bites exactly when a stale small-k quantizer meets a
    grown corpus (the 18.9×-at-8× probe). The pre-pass guard must
    raise — naming mutual_knn_pairs_banded as the scale path — when
    any list exceeds max_list_size, and stay silent under it."""
    import math

    import pytest

    from airline_data_warehouse_spark.operators.similarity import (
        mutual_knn_pairs,
    )

    def unit(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    corpus = spark.createDataFrame(
        [(i, unit(i % 89)) for i in range(40)],
        "vec_id long, embedding array<double>")
    cents = spark.createDataFrame([(0, [1.0, 0.0])],
                                  "list_id int, centroid array<double>")
    with pytest.raises(ValueError, match="mutual_knn_pairs_banded"):
        mutual_knn_pairs(corpus, cents, k=1, max_list_size=39)
    # at the bound exactly (40 rows, one list): no raise
    assert mutual_knn_pairs(corpus, cents, k=1,
                            max_list_size=40).count() > 0


def test_mutual_knn_banded_matches_python_over_candidates(spark):
    """mutual_knn_pairs_banded ≡ a pure-Python replay of its contract
    over the SAME candidate set (_banded_scored_pairs, the certified
    collision-linear engine): symmetrize, per-vector top-k by
    (score desc, id asc), keep reciprocated pairs. Pins the window +
    reciprocity logic without assuming anything about which pairs the
    banding surfaces."""
    import random

    from airline_data_warehouse_spark.operators.similarity import (
        _banded_scored_pairs,
        mutual_knn_pairs_banded,
    )

    rng = random.Random(7)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>")
    cand = [(r["id1"], r["id2"], r["score"]) for r in
            _banded_scored_pairs(corpus, "vec_id", "embedding",
                                 4, 8, 8).collect()]
    assert cand, "banding surfaced no candidates — corpus too sparse"
    k = 2
    nbrs = {}
    for a, b, s in cand:
        nbrs.setdefault(a, []).append((-s, b))
        nbrs.setdefault(b, []).append((-s, a))
    topk = {q: {b for _, b in sorted(v)[:k]} for q, v in nbrs.items()}
    want = {(a, b) for a, s in topk.items() for b in s
            if a < b and a in topk.get(b, set())}
    got = {(r["id1"], r["id2"]) for r in
           mutual_knn_pairs_banded(corpus, k=k, dims=8).collect()}
    assert got == want


def test_minhash_estimate_identical_and_disjoint_docs(spark):
    """minhash_estimate_pairs extremes: an exact duplicate pair
    estimates 1.0 with exact jaccard 1.0; near-dups estimate within
    the 16-permutation granularity (est is a multiple of 1/16) and
    both columns are present for every candidate pair."""
    from airline_data_warehouse_spark.operators import dedup as dd

    base = ("the quick brown fox jumps over the lazy dog and then "
            "keeps running through the quiet evening meadow for a "
            "long while before resting")
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " slightly edited tail")],
        "doc_id long, text string")
    rows = dd.minhash_estimate_pairs(docs).collect()
    got = {(r["id1"], r["id2"]): (r["est_jaccard"], r["jaccard"])
           for r in rows}
    assert got[(1, 2)] == (1.0, 1.0)
    for (a, b), (est, jac) in got.items():
        assert abs(est * 16 - round(est * 16)) < 1e-9   # 1/16 grid
        assert 0.0 <= jac <= 1.0


def test_countmin_overestimates_and_exact_when_sparse(spark):
    """CMS invariants on a hand corpus: (1) est >= true for every
    probe (one-sided error, guaranteed by construction); (2) with far
    fewer distinct tokens than width, collisions are overwhelmingly
    absent and estimates equal exact counts; (3) a token never
    inserted estimates 0 (min with an untouched cell)."""
    from airline_data_warehouse_spark.operators import sketches as sk

    occurrences = [("alpha",)] * 7 + [("beta",)] * 3 + [("gamma",)] * 1
    items = spark.createDataFrame(occurrences, "token string")
    sketch = sk.countmin_build(items)
    probes = spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",), ("never_seen",)],
        "token string")
    got = {r["token"]: r["est_count"] for r in
           sk.countmin_estimate(sketch, probes).collect()}
    true = {"alpha": 7, "beta": 3, "gamma": 1, "never_seen": 0}
    for tok, t in true.items():
        assert got[tok] >= t
    # 3 tokens into 512 buckets x 4 rows: a collision in ALL 4 rows
    # (what it takes to inflate the min) is practically impossible
    assert got == true


def test_countmin_grouped_equals_per_group_solo_builds(spark):
    """Grouped CMS contract: each group's cells in a single grouped
    build are EXACTLY the sketch a solo countmin_build would produce
    on that group's rows alone."""
    from airline_data_warehouse_spark.operators import sketches as sk

    rows = [("a", "x"), ("a", "x"), ("a", "y"),
            ("b", "x"), ("b", "z"), ("b", "z"), ("b", "z")]
    items = spark.createDataFrame(rows, "src string, token string")
    grouped = {}
    for r in sk.countmin_build(items, group_cols=["src"]).collect():
        grouped.setdefault(r["src"], {})[(r["row"], r["bucket"])] = \
            r["counter"]
    for g in ("a", "b"):
        solo = {(r["row"], r["bucket"]): r["counter"] for r in
                sk.countmin_build(
                    items.filter(F.col("src") == g)).collect()}
        assert grouped[g] == solo


def test_countmin_merge_equals_union_build(spark):
    """CMS is a linear sketch: merge(build(A), build(B)) must be
    cell-for-cell identical to build(A ∪ B)."""
    from airline_data_warehouse_spark.operators import sketches as sk

    a = spark.createDataFrame([("x",), ("y",), ("x",)], "token string")
    b = spark.createDataFrame([("y",), ("z",)], "token string")
    merged = {(r["row"], r["bucket"]): r["counter"] for r in
              sk.countmin_merge(sk.countmin_build(a),
                                sk.countmin_build(b)).collect()}
    direct = {(r["row"], r["bucket"]): r["counter"] for r in
              sk.countmin_build(a.unionByName(b)).collect()}
    assert merged == direct


def test_countmin_cell_bound(spark):
    """The sketch NEVER exceeds depth x width rows — the fixed-size
    state contract — and weights aggregate (weight_col path)."""
    from airline_data_warehouse_spark.operators import sketches as sk

    items = spark.createDataFrame(
        [(f"tok{i}", i + 1) for i in range(2000)], "token string, w long")
    sketch = sk.countmin_build(items, weight_col="w", depth=4, width=64)
    rows = sketch.collect()
    assert len(rows) <= 4 * 64
    # per-row counter mass equals total weight: every occurrence lands
    # in exactly one bucket per row
    total = sum(i + 1 for i in range(2000))
    by_row = {}
    for r in rows:
        by_row[r["row"]] = by_row.get(r["row"], 0) + r["counter"]
    assert by_row == {0: total, 1: total, 2: total, 3: total}


def test_ams_f2_hand_values_and_linearity(spark):
    """AMS invariants on a hand corpus: each row's signed_sum equals
    the Python recomputation of Σ c(t)·sign_i(t) (same md5 arithmetic),
    and the sketch is LINEAR — sketch(A ∪ B) = row-wise sum of
    sketch(A) + sketch(B)."""
    import hashlib

    from airline_data_warehouse_spark.operators import sketches as sk
    from airline_data_warehouse_spark.operators.hashing import (
        MERSENNE_P,
        MINHASH_PARAMS,
    )

    def bh(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15],
                   16) % MERSENNE_P

    def sign(i, tok):
        a, b = MINHASH_PARAMS[i]
        return 1 - 2 * (((a * bh(tok) + b) % MERSENNE_P) % 2)

    counts = {"alpha": 5, "beta": 2, "gamma": 1}
    items = spark.createDataFrame(
        [(t,) for t, c in counts.items() for _ in range(c)],
        "token string")
    got = {r["row"]: r["signed_sum"] for r in
           sk.ams_f2_sketch(items).collect()}
    for i in range(4):
        assert got[i] == sum(c * sign(i, t) for t, c in counts.items())

    a = spark.createDataFrame([("alpha",)] * 3 + [("beta",)],
                              "token string")
    b = spark.createDataFrame([("alpha",)] * 2 + [("beta",)]
                              + [("gamma",)], "token string")
    sa = {r["row"]: r["signed_sum"] for r in
          sk.ams_f2_sketch(a).collect()}
    sb = {r["row"]: r["signed_sum"] for r in
          sk.ams_f2_sketch(b).collect()}
    assert all(got[i] == sa[i] + sb[i] for i in range(4))


def test_ams_f2_join_size_column_types_engine_equal(spark, sf_dir):
    """r13 (VERDICT r12 item 1): ams_f2_join_size was the only
    driver-red r12 row — hash mismatch suspected from the two engines
    building its DECIMAL(38,0) columns via different widening routes.
    The fix emits est_f2/true_f2 as BIGINT in BOTH engines (magnitudes
    provably fit: F₂ ≤ N² ≈ 1e12 at sf0.1). Pin the output column
    types of the Spark plan AND the DuckDB oracle equal, so the
    canonicalization surface can't silently reappear."""
    import duckdb

    from airline_data_warehouse_spark.plans.registry import all_queries

    q = all_queries()["ams_f2_join_size"]
    spark_types = dict(q.builder(spark, sf_dir).dtypes)
    assert spark_types == {"row": "int", "signed_sum": "bigint",
                           "est_f2": "bigint", "true_f2": "bigint"}

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    oracle_types = {col: typ for col, typ, *_ in
                    con.execute(f"DESCRIBE {q.oracle}").fetchall()}
    assert oracle_types == {"row": "INTEGER", "signed_sum": "BIGINT",
                            "est_f2": "BIGINT", "true_f2": "BIGINT"}


def _py_qdigest(vals, k, levels, bb):
    """Independent pure-Python replay of the level-synchronous q-digest
    compression (the oracle's algorithm, a third implementation)."""
    from collections import Counter, defaultdict

    n = len(vals)
    thr = max(1, n // k)
    state = {(v, 0): c for v, c in Counter(vals).items()}
    for l in range(levels):
        a = {i: c for (i, lv), c in state.items() if lv == l}
        p = {i: c for (i, lv), c in state.items() if lv == l + 1}
        gs = defaultdict(int)
        for i, c in a.items():
            gs[i >> bb] += c
        new = {kk: c for kk, c in state.items() if kk[1] not in (l, l + 1)}
        for pid in set(gs) | set(p):
            cs, pc = gs.get(pid, 0), p.get(pid, 0)
            if cs + pc < thr:
                if cs + pc > 0:
                    new[(pid, l + 1)] = cs + pc
            else:
                for i, c in a.items():
                    if i >> bb == pid:
                        new[(i, l)] = c
                if pc > 0:
                    new[(pid, l + 1)] = pc
        state = new
    return state, thr


def test_qdigest_matches_python_replay_exactly(spark):
    """The Spark q-digest node set (id, lvl, cnt) is BIT-IDENTICAL to
    an independent Python replay of the level-synchronous compression
    on the same multiset — the determinism the oracle certification
    rests on — with mass conserved and every internal node under thr."""
    import random

    from airline_data_warehouse_spark.operators import sketches as sk

    rng = random.Random(23)
    vals = [rng.randrange(0, 1 << 20) for _ in range(3000)] \
        + [77777] * 400                                # a heavy leaf
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {(r["id"], r["lvl"]): r["cnt"]
           for r in sk.qdigest_build(df, "v", k=64).collect()}
    want, thr = _py_qdigest(vals, 64, sk.QD_LEVELS, sk.QD_BRANCH_BITS)
    assert got == want
    assert sum(got.values()) == len(vals)
    assert all(c < thr for (_, lv), c in got.items() if lv > 0)
    # the heavy leaf survives at level 0 with its exact count
    assert got[(77777, 0)] == want[(77777, 0)] >= 400


def test_qdigest_quantile_bounds_and_rank_arithmetic(spark):
    """qdigest_quantiles: rnk = (n·pct + 99) // 100 exactly; every
    estimate is ≥ the true rank-rnk order statistic (counts at nodes
    with ub ≤ est are items ≤ est) and ≤ the true order statistic at
    rank rnk + levels·thr (only ancestors hold mass sorting late)."""
    import random

    from airline_data_warehouse_spark.operators import sketches as sk

    rng = random.Random(31)
    vals = sorted(rng.randrange(0, 500_000) for _ in range(8000))
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    dig = sk.qdigest_build(df, "v", k=128)
    n, thr = len(vals), max(1, len(vals) // 128)
    out = {r["pct"]: r for r in sk.qdigest_quantiles(dig, n).collect()}
    assert set(out) == {25, 50, 75, 90, 99}
    for pct, r in out.items():
        rnk = (n * pct + 99) // 100
        assert r["rnk"] == rnk
        exact = vals[rnk - 1]
        hi = vals[min(rnk - 1 + sk.QD_LEVELS * thr, n - 1)]
        assert exact <= r["est_value"] <= hi, (pct, r, exact, hi)


def test_qdigest_merge_conserves_mass_within_added_bounds(spark):
    """qdigest_merge: shard digests union + re-compress to a digest of
    the combined multiset — mass exactly conserved, internal nodes
    under the COMBINED thr + the shards' carried thrs, and quantile
    reads stay within the additive merged error bound."""
    import random

    from airline_data_warehouse_spark.operators import sketches as sk

    rng = random.Random(41)
    a_vals = [rng.randrange(0, 300_000) for _ in range(4000)]
    b_vals = [rng.randrange(200_000, 900_000) for _ in range(4000)]
    da = sk.qdigest_build(
        spark.createDataFrame([(v,) for v in a_vals], "v long"), "v",
        k=128)
    db = sk.qdigest_build(
        spark.createDataFrame([(v,) for v in b_vals], "v long"), "v",
        k=128)
    merged = sk.qdigest_merge(da, db, k=128)
    rows = merged.collect()
    n = len(a_vals) + len(b_vals)
    assert sum(r["cnt"] for r in rows) == n
    thr_shard = max(1, 4000 // 128)
    thr = max(1, n // 128)
    svals = sorted(a_vals + b_vals)
    slack = sk.QD_LEVELS * (thr + 2 * thr_shard)
    out = {r["pct"]: r for r in sk.qdigest_quantiles(merged, n).collect()}
    for pct, r in out.items():
        rnk = r["rnk"]
        assert svals[rnk - 1] <= r["est_value"] \
            <= svals[min(rnk - 1 + slack, n - 1)]


def test_lsh_band_plan_math_and_scaling():
    """lsh_band_plan: the closed-form SimHash planner — per-band
    true-pair probability is (1 − arccos(s)/π)^R, expected recall
    clears the target at the returned band count, random candidates
    respect the budget while R is unclamped, R grows with log n (the
    SCALING.md r13 claim, operationalized), and the clamp regime
    reports budget_met=False instead of a silently-blown budget."""
    import math

    from airline_data_warehouse_spark.operators.similarity import (
        lsh_band_plan,
    )

    p1 = lsh_band_plan(2_000)
    p_bit = 1 - math.acos(0.8) / math.pi
    assert p1["per_band_true_pair_prob"] == round(
        p_bit ** p1["rows_per_band"], 6)
    assert p1["expected_recall"] >= 0.9
    assert p1["expected_random_candidates_per_item"] <= 2 * 64
    assert p1["budget_met"]

    sizes = [2_000, 16_000, 1_000_000, 10_000_000]
    rows = [lsh_band_plan(n)["rows_per_band"] for n in sizes]
    assert rows == sorted(rows) and rows[-1] > rows[0]

    huge = lsh_band_plan(10_000_000_000)
    assert huge["rows_per_band"] == 24          # clamped
    assert not huge["budget_met"]               # and says so

    import pytest
    with pytest.raises(ValueError, match="n_rows"):
        lsh_band_plan(0)
    with pytest.raises(ValueError, match="design_cosine"):
        lsh_band_plan(100, design_cosine=1.5)


def test_qdigest_weighted_equals_exploded(spark):
    """qdigest_build(weight_col): a weighted build is BIT-IDENTICAL to
    the unweighted build over the weight-exploded rows (the
    countmin_build weight convention carried over), and a non-positive
    weight raises."""
    import random

    import pytest

    from airline_data_warehouse_spark.operators import sketches as sk

    rng = random.Random(47)
    rows = [(rng.randrange(0, 50_000), rng.randrange(1, 6))
            for _ in range(800)]
    wdf = spark.createDataFrame(rows, "v long, w long")
    xdf = spark.createDataFrame([(v,) for v, w in rows for _ in range(w)],
                                "v long")
    got = {(r["id"], r["lvl"]): r["cnt"] for r in
           sk.qdigest_build(wdf, "v", k=64, weight_col="w").collect()}
    want = {(r["id"], r["lvl"]): r["cnt"] for r in
            sk.qdigest_build(xdf, "v", k=64).collect()}
    assert got == want
    bad = spark.createDataFrame([(5, 0)], "v long, w long")
    with pytest.raises(ValueError, match="non-positive weight"):
        sk.qdigest_build(bad, "v", weight_col="w")
    # a NULL weight would be SKIPPED by min/sum — silently dropped
    # mass, the exact bug class the guard exists for
    nul = spark.createDataFrame([(5, 3), (6, None)], "v long, w long")
    with pytest.raises(ValueError, match="NULL weight"):
        sk.qdigest_build(nul, "v", weight_col="w")


def test_qdigest_domain_guards(spark):
    """qdigest_build fail-fast contract: empty input, negative values,
    and values at/above the universe cap all raise with a pointed
    message instead of producing a silently wrong tree."""
    import pytest

    from airline_data_warehouse_spark.operators import sketches as sk

    empty = spark.createDataFrame([], "v long")
    with pytest.raises(ValueError, match="empty input"):
        sk.qdigest_build(empty, "v")
    neg = spark.createDataFrame([(-1,), (5,)], "v long")
    with pytest.raises(ValueError, match="outside the universe"):
        sk.qdigest_build(neg, "v")
    over = spark.createDataFrame([(1 << 20,)], "v long")
    with pytest.raises(ValueError, match="outside the universe"):
        sk.qdigest_build(over, "v")


def test_linear_counting_invariants(spark):
    """Linear Counting invariants: duplicates don't move the bitmap
    (n̂ depends on DISTINCT items only); with n ≪ m the estimate lands
    within a few percent of the truth; the estimate recomputes from
    the emitted set_bits by the published formula; empty input → 0
    set bits and estimate 0."""
    import math

    from airline_data_warehouse_spark.operators import sketches as sk

    m = 4096
    items = spark.createDataFrame([(h,) for h in range(200)], "sh long")
    dup = items.unionByName(items).unionByName(items)
    r1 = sk.linear_counting(items, "sh", bits=m).collect()[0]
    r3 = sk.linear_counting(dup, "sh", bits=m).collect()[0]
    assert (r1["set_bits"], r1["estimate"]) == (r3["set_bits"],
                                                r3["estimate"])
    assert abs(r1["estimate"] - 200) / 200 < 0.05
    assert r1["estimate"] == round(m * math.log(m / r1["empty_bits"]), 6)

    empty = sk.linear_counting(
        spark.createDataFrame([], "sh long"), "sh", bits=m).collect()[0]
    assert empty["set_bits"] == 0 and empty["estimate"] == 0.0


def test_bloom_no_false_negatives_and_bit_bound(spark):
    """Bloom invariants: (1) EVERY inserted member probes true — the
    one-sided guarantee a blocklist needs, structural (its bits are by
    definition set); (2) the bit table never exceeds m rows and never
    k·n; (3) an empty filter rejects everything; (4) with n·k ≪ m,
    non-members overwhelmingly probe false."""
    from airline_data_warehouse_spark.operators import sketches as sk

    members = spark.createDataFrame([(h,) for h in range(1000, 1200)],
                                    "sh long")
    bloom = sk.bloom_build(members, "sh", hashes=4, bits=4096)
    n_bits = bloom.count()
    assert n_bits <= 4096 and n_bits <= 4 * 200

    got = {r["sh"]: r["might_contain"] for r in
           sk.bloom_probe(bloom, members, "sh", hashes=4,
                          bits=4096).collect()}
    assert all(got[h] for h in range(1000, 1200))   # no false negatives

    others = spark.createDataFrame([(h,) for h in range(500000, 500200)],
                                   "sh long")
    fp = sum(1 for r in sk.bloom_probe(bloom, others, "sh", hashes=4,
                                       bits=4096).collect()
             if r["might_contain"])
    # fpp ≈ (1 - e^(-800/4096))^4 ≈ 0.1%; 200 probes — a handful at
    # most even with bad luck
    assert fp <= 5

    empty = sk.bloom_build(
        spark.createDataFrame([], "sh long"), "sh", hashes=4, bits=4096)
    assert all(not r["might_contain"] for r in
               sk.bloom_probe(empty, others, "sh", hashes=4,
                              bits=4096).collect())


def test_bloom_probe_preserves_probe_rows(spark):
    """bloom_probe keys the verdict on the HASH (pure function), so
    duplicate probe rows each keep their verdict and extra probe
    columns ride through."""
    from airline_data_warehouse_spark.operators import sketches as sk

    members = spark.createDataFrame([(42,)], "sh long")
    bloom = sk.bloom_build(members, "sh", hashes=4, bits=4096)
    probes = spark.createDataFrame(
        [(1, 42), (2, 42), (3, 99)], "doc_id long, sh long")
    rows = sorted((r["doc_id"], r["sh"], r["might_contain"]) for r in
                  sk.bloom_probe(bloom, probes, "sh", hashes=4,
                                 bits=4096).collect())
    assert rows[0] == (1, 42, True) and rows[1] == (2, 42, True)
    assert rows[2][0] == 3 and not rows[2][2]


def test_kcore_known_graph(spark):
    """kcore on a hand-analyzable graph: K4 plus a tail 4-5-6 hanging
    off node 4. k=2: the tail peels in cascade (6 first, then 5, then
    the K4 alone survives — 3 rounds to converge), pinning that the
    peel recomputes degrees WITHIN the surviving subgraph each round.
    Bounded iters below convergence returns the documented upper bound;
    extra rounds past the fixpoint are no-ops; dup/reversed edges and
    self-loops canonicalize away (the triangle_counts convention)."""
    from airline_data_warehouse_spark.operators.graph import kcore

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    tail = [(4, 5), (5, 6)]
    noise = [(2, 1), (1, 2), (9, 9)]       # dup + reversed + self-loop
    e = spark.createDataFrame(k4 + tail + noise, "src long, dst long")

    # full convergence (and past it): the 2-core is exactly the K4
    got = {r["node_id"]: r["core_degree"] for r in
           kcore(e, k=2, iters=5).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    # one round only: 6 (degree 1) peels, 5 not yet (degree was 2
    # before 6 left) — the documented iters-step upper bound
    got1 = {r["node_id"]: r["core_degree"] for r in
            kcore(e, k=2, iters=1).collect()}
    assert set(got1) == {1, 2, 3, 4, 5}
    assert got1[5] == 1                    # 5's in-core degree after 6 left
    assert got1[4] == 4


def test_kcenter_select_gonzalez_invariants(spark):
    """kcenter_select on a hand-analyzable corpus: three tight clusters
    around (0,0), (10,0), (0,10) plus the seed — greedy farthest-point
    must visit a NEW cluster on each of the first rounds (the Gonzalez
    spread property), selection distances are non-increasing in rank,
    reruns are identical, and a corpus smaller than k returns every
    point without crashing."""
    rows = [(1, [0.0, 0.1]), (2, [0.1, 0.0]), (3, [0.05, 0.05]),
            (10, [10.0, 0.1]), (11, [10.1, 0.0]),
            (20, [0.1, 10.0]), (21, [0.0, 10.1])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [(r["sel_rank"], r["vec_id"], r["dist"]) for r in
           sim.kcenter_select(emb, k=4, dims=2)
           .orderBy("sel_rank").collect()]
    assert got[0][1] == 1 and got[0][2] is None       # seed = lowest id
    # rounds 2 and 3 each land in a different far cluster
    assert {got[1][1], got[2][1]} <= {10, 11, 20, 21}
    assert (got[1][1] // 10) != (got[2][1] // 10)
    dists = [d for _, _, d in got[1:]]
    assert dists == sorted(dists, reverse=True)        # non-increasing
    again = [(r["sel_rank"], r["vec_id"]) for r in
             sim.kcenter_select(emb, k=4, dims=2)
             .orderBy("sel_rank").collect()]
    assert again == [(r, v) for r, v, _ in got]        # deterministic

    small = spark.createDataFrame(rows[:2],
                                  "vec_id long, embedding array<double>")
    assert sim.kcenter_select(small, k=5, dims=2).count() == 2


def test_degree_profile_histogram_and_assortativity(spark):
    """degree_profile vs hand math: a star is perfectly disassortative
    (r = −1 exactly — every edge joins the hub to a leaf), a regular
    graph (triangle) has zero degree variance → NULL, and on a mixed
    graph (K4 + pendant) the histogram and the exact integer identity
    recomputed independently in Python must match to the digit."""
    from fractions import Fraction

    from airline_data_warehouse_spark.operators.graph import degree_profile

    star = spark.createDataFrame([(1, 2), (1, 3), (1, 4)],
                                 "src long, dst long")
    got = {(r["stat"], r["k"]): r["value"] for r in
           degree_profile(star).collect()}
    assert got[("assortativity", -1)] == -1.0
    assert got[("degree_hist", 1)] == 3.0 and got[("degree_hist", 3)] == 1.0
    assert got[("nodes", -1)] == 4.0 and got[("edges", -1)] == 3.0

    tri = spark.createDataFrame([(1, 2), (2, 3), (3, 1)],
                                "src long, dst long")
    tri_got = {(r["stat"], r["k"]): r["value"] for r in
               degree_profile(tri).collect()}
    assert tri_got[("assortativity", -1)] is None     # regular: den = 0

    mixed_edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                   (4, 10), (2, 1), (9, 9)]           # dup + self-loop
    mixed = spark.createDataFrame(mixed_edges, "src long, dst long")
    mgot = {(r["stat"], r["k"]): r["value"] for r in
            degree_profile(mixed).collect()}
    und = {(min(a, b), max(a, b)) for a, b in mixed_edges if a != b}
    deg = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    m = len(und)
    sjk = sum(deg[a] * deg[b] for a, b in und)
    ss = sum(deg[a] + deg[b] for a, b in und)
    sq = sum(deg[a] ** 2 + deg[b] ** 2 for a, b in und)
    want = Fraction(4 * m * sjk - ss * ss, 2 * m * sq - ss * ss)
    assert mgot[("assortativity", -1)] == round(float(want), 6)
    assert mgot[("max_degree", -1)] == 4.0
    assert mgot[("degree_hist", 1)] == 1.0            # the pendant


def test_bounded_shortest_paths_relaxation_and_hop_equivalence(spark):
    """bounded_shortest_paths: a heavy direct edge loses to a lighter
    2-edge path once rounds permit it (1→3 weight 10 vs 1→2→3 weight
    2+3); w ≡ 1 reproduces bfs_hops' hop counts exactly; a negative
    weight raises at entry — the fail-fast contract the docstring
    promises (VERDICT r12 item 2: the former silent per-edge filter
    handed callers a structurally different graph with no signal)."""
    import pytest

    from airline_data_warehouse_spark.operators.graph import (
        bfs_hops,
        bounded_shortest_paths,
    )

    edges = spark.createDataFrame(
        [(1, 3, 10), (1, 2, 2), (2, 3, 3)], "src long, dst long, w long")
    seeds = spark.createDataFrame([(1,)], "node_id long")
    r1 = {r["node_id"]: r["dist"] for r in
          bounded_shortest_paths(edges, seeds, rounds=1).collect()}
    assert r1[3] == 10                     # only the direct edge so far
    r2 = {r["node_id"]: r["dist"] for r in
          bounded_shortest_paths(edges, seeds, rounds=2).collect()}
    assert r2 == {1: 0, 2: 2, 3: 5}        # relaxation found 1→2→3

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long")
    unit = chain.withColumn("w", F.lit(1).cast("long"))
    hops = {r["node_id"]: r["hops"] for r in
            bfs_hops(chain, seeds, max_hops=3).collect()}
    dist = {r["node_id"]: r["dist"] for r in
            bounded_shortest_paths(unit, seeds, rounds=3).collect()}
    assert dist == hops

    neg = spark.createDataFrame([(1, 2, -5), (1, 2, 4)],
                                "src long, dst long, w long")
    with pytest.raises(ValueError, match="negative edge weight"):
        bounded_shortest_paths(neg, seeds, rounds=1)
    # a NULL weight is equally dirty: the old silent filter dropped it,
    # the bare negative guard would have admitted it and propagated
    # dist=NULL through the min-plus fold
    nul = spark.createDataFrame([(1, 2, None), (1, 2, 4)],
                                "src long, dst long, w long")
    with pytest.raises(ValueError, match="NULL edge weight"):
        bounded_shortest_paths(nul, seeds, rounds=1)


def test_hits_matches_integer_reference_and_bipartite_structure(spark):
    """hits vs an independent pure-Python replay of the exact integer
    algorithm (L1 halfup normalization) on a hand graph, plus the
    bipartite structural pin: on a directed bipartite graph, source
    nodes have auth ≡ 0 and sink nodes hub ≡ 0, and a sink with two
    in-hubs out-ranks a sink with one."""
    from airline_data_warehouse_spark.operators.graph import hits

    edges = [(1, 10), (2, 10), (3, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node_id"]: (r["auth_micro"], r["hub_micro"]) for r in
           hits(df, iters=2).collect()}

    S = 10 ** 12

    def halfup(n, d):
        return (2 * n + d) // (2 * d)

    nodes = sorted({u for e in edges for u in e})
    hub = {v: halfup(S, len(nodes)) for v in nodes}
    for _ in range(2):
        araw = {v: 0 for v in nodes}
        for s, d in edges:
            araw[d] += hub[s]
        t = sum(araw.values())
        auth = {v: (halfup(araw[v] * S, t) if t else 0) for v in nodes}
        hraw = {v: 0 for v in nodes}
        for s, d in edges:
            hraw[s] += auth[d]
        t = sum(hraw.values())
        hub = {v: (halfup(hraw[v] * S, t) if t else 0) for v in nodes}
    assert got == {v: (auth[v], hub[v]) for v in nodes}
    assert got[1][0] == 0 and got[10][1] == 0      # bipartite structure
    assert got[10][0] > got[11][0]                 # two hubs beat one


def test_bfs_hops_chain_isolated_seed_and_min_path(spark):
    """bfs_hops on a hand graph: chain 1→2→3→4→5 with seeds {1, 99}
    (99 isolated) at max_hops=2 reaches exactly {1:0, 2:1, 3:2, 99:0};
    adding a shortcut 1→3 drops 3 to hops=1 (min over paths); a
    second seed closer to a node wins (min over seeds)."""
    from airline_data_warehouse_spark.operators.graph import bfs_hops

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long")
    seeds = spark.createDataFrame([(1,), (99,)], "node_id long")
    got = {r["node_id"]: r["hops"] for r in
           bfs_hops(chain, seeds, max_hops=2).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 99: 0}

    shortcut = chain.unionByName(
        spark.createDataFrame([(1, 3)], "src long, dst long"))
    got2 = {r["node_id"]: r["hops"] for r in
            bfs_hops(shortcut, seeds, max_hops=2).collect()}
    assert got2[3] == 1 and got2[4] == 2

    seeds2 = spark.createDataFrame([(1,), (4,)], "node_id long")
    got3 = {r["node_id"]: r["hops"] for r in
            bfs_hops(chain, seeds2, max_hops=2).collect()}
    assert got3 == {1: 0, 2: 1, 3: 2, 4: 0, 5: 1}


def test_component_profile_hand_counts(spark):
    """component_profile vs hand math on a labeled vertex set with a
    4-component shape (sizes 3, 2, 1, 1): size histogram, component /
    vertex / max-size / singleton scalars all to the digit."""
    from airline_data_warehouse_spark.operators.graph import (
        component_profile,
    )

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1),          # size-3 component
         (4, 4), (5, 4),                  # size-2
         (6, 6), (7, 7)],                 # two singletons
        "doc_id long, cluster_id long")
    got = {(r["stat"], r["k"]): r["value"] for r in
           component_profile(labels).collect()}
    assert got[("size_hist", 3)] == 1.0
    assert got[("size_hist", 2)] == 1.0
    assert got[("size_hist", 1)] == 2.0
    assert got[("components", -1)] == 4.0
    assert got[("vertices", -1)] == 7.0
    assert got[("max_size", -1)] == 3.0
    assert got[("singletons", -1)] == 2.0


def test_component_profile_end_to_end_cc(spark):
    """component_profile over REAL connected_components output: a pair
    graph with one 3-chain and one 2-clique over a 7-vertex set leaves
    2 singletons; the profile must reflect the transitive closure (the
    3-chain is ONE component even though no single pair spans it)."""
    from airline_data_warehouse_spark.operators.dedup import (
        connected_components,
    )
    from airline_data_warehouse_spark.operators.graph import (
        component_profile,
    )

    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)],
                                  "id1 long, id2 long")
    verts = spark.createDataFrame([(i,) for i in range(1, 8)],
                                  "doc_id long")
    got = {(r["stat"], r["k"]): r["value"] for r in
           component_profile(connected_components(pairs, verts)).collect()}
    assert got[("size_hist", 3)] == 1.0
    assert got[("components", -1)] == 4.0
    assert got[("singletons", -1)] == 2.0
    assert got[("vertices", -1)] == 7.0


def test_cluster_safe_split_singleton_fallback(spark):
    """ADVICE r10-low: documents missing from the clusters frame (e.g.
    connected_components run without the full vertex set) become
    SINGLETON clusters instead of vanishing from both sides — the
    union of train and holdout must always partition the input."""
    from airline_data_warehouse_spark.operators.sampling import (
        cluster_safe_split,
    )

    docs = spark.createDataFrame([(i, f"doc {i}") for i in range(30)],
                                 "doc_id long, text string")
    # clusters cover only ids 0-9 (pair-graph endpoints); 10-29 missing
    clusters = spark.createDataFrame(
        [(i, i - (i % 2)) for i in range(10)], "doc_id long, cluster_id long")
    train, hold = cluster_safe_split(docs, clusters, 0.3)
    t_ids = {r["doc_id"] for r in train.collect()}
    h_ids = {r["doc_id"] for r in hold.collect()}
    assert t_ids | h_ids == set(range(30)) and not (t_ids & h_ids)
    # clustered pairs still never straddle
    for i in range(0, 10, 2):
        assert (i in t_ids) == (i + 1 in t_ids)


def test_token_pmi_counts_and_formula(spark):
    """token_cooccurrence_pmi on a hand-countable corpus: window-2
    unordered pair counts (adjacent + distance-2, canonicalized
    w1 <= w2), min_count filtering, and the PMI value recomputed
    independently with Python ln under the same 6-dp-per-term
    convention."""
    import decimal
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "b a  b"), (3, "c"), (4, "  ")],
        "doc_id long, text string")
    out = {(r["w1"], r["w2"]): r for r in
           tx.token_cooccurrence_pmi(docs, window=2, min_count=2)
             .collect()}
    # doc1 pairs: d1 (a,b)(a,b)(a,b); d2 (a,a)(b,b)
    # doc2 pairs: d1 (a,b)(a,b); d2 (b,b)
    assert out[("a", "b")]["pair_n"] == 5
    assert out[("b", "b")]["pair_n"] == 2
    assert ("a", "a") not in out          # count 1 < min_count
    assert ("c", "c") not in out          # single-token doc: no pairs
    assert out[("a", "b")]["c1"] == 3 and out[("a", "b")]["c2"] == 4

    def ln6(x):
        return decimal.Decimal(repr(round(math.log(x), 6)))

    t, n = 8, 8                            # total pairs, total tokens
    want = float(ln6(5) - ln6(t) - ln6(3) - ln6(4) + 2 * ln6(n))
    assert out[("a", "b")]["pmi"] == want


def test_cluster_safe_split_never_separates_near_dups(spark):
    """The leakage property itself, end to end: planted near-duplicate
    pairs (and their transitive chains) always land on ONE side of the
    split — across every cluster, both sides together partition the
    corpus, and membership is stable across reruns."""
    base = ("quick brown foxes jump over remarkably lazy dogs near the "
            "winding riverbank every misty morning ") * 3
    rows = []
    for i in range(40):
        uniq = f"document {i} carries its own distinct marker phrase " \
               f"number {i * 7} "
        rows.append((2 * i, uniq + base))
        rows.append((2 * i + 1, uniq + base + "tail"))   # near-dup of 2i
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.6)
    clusters = dd.connected_components(pairs, docs.select("doc_id"))
    from airline_data_warehouse_spark.operators.sampling import (
        cluster_safe_split,
    )
    train, hold = cluster_safe_split(docs, clusters, 0.3)
    t_ids = {r["doc_id"] for r in train.collect()}
    h_ids = {r["doc_id"] for r in hold.collect()}
    assert t_ids | h_ids == {r[0] for r in rows} and not (t_ids & h_ids)
    assert h_ids, "0.3 fraction over 40 clusters should hit some"
    for i in range(40):                    # no pair straddles
        assert (2 * i in t_ids) == (2 * i + 1 in t_ids)
    t2, _h2 = cluster_safe_split(docs, clusters, 0.3)
    assert {r["doc_id"] for r in t2.collect()} == t_ids   # rerun-stable


def test_triangle_counts_known_graph(spark):
    """triangle_counts on a hand-analyzable graph: K4 (every node in 3
    triangles, clustering 1.0), a pendant vertex (degree 1 → zero
    clustering), a square with one diagonal (the two diagonal nodes
    close one triangle each... exactly: square 5-6-7-8 + diagonal 5-7
    has triangles {5,6,7} and {5,7,8}), duplicate/reversed input edges
    collapsed, self-loops ignored."""
    from airline_data_warehouse_spark.operators.graph import triangle_counts

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    extra = [(4, 10),                      # pendant off the K4
             (5, 6), (6, 7), (7, 8), (8, 5), (5, 7),   # square+diag
             (2, 1), (1, 2),               # dup + reversed: collapsed
             (9, 9)]                       # self-loop: ignored
    e = spark.createDataFrame(k4 + extra, "src long, dst long")
    got = {r["node_id"]: r for r in triangle_counts(e).collect()}

    for v in (1, 2, 3):
        assert got[v]["triangles"] == 3
    assert got[4]["triangles"] == 3 and got[4]["degree"] == 4
    # K4 inner nodes: deg 3, all 3 wedge pairs closed -> clustering 1.0
    assert got[1]["clustering_micro"] == 10 ** 12
    # node 4: deg 4 -> 6 wedge pairs, 3 closed -> 0.5
    assert got[4]["clustering_micro"] == 500_000_000_000
    assert got[10] == got[10] and got[10]["triangles"] == 0
    assert got[10]["clustering_micro"] == 0 and got[10]["degree"] == 1
    assert got[5]["triangles"] == 2 and got[7]["triangles"] == 2
    assert got[6]["triangles"] == 1 and got[8]["triangles"] == 1
    # diagonal nodes: deg 3 -> 3 pairs, 2 closed -> 2/3 half-up
    assert got[5]["clustering_micro"] == 666_666_666_667
    assert 9 not in got                    # self-loop-only node drops


def test_triangle_counts_random_graph_vs_bruteforce(spark):
    """Pin the r15 adjacency-intersection internals against a plain
    brute-force per-node triangle count on a seeded random graph dense
    enough that every code path (multi-witness edges, nodes that appear
    only as witnesses, empty intersections) is exercised — the
    focused-test rule for an operator whose internals changed this
    round (the wedge join + closing semi-join became an in-row
    array_intersect on oriented adjacency lists)."""
    import itertools
    import random

    from airline_data_warehouse_spark.operators.graph import triangle_counts

    rng = random.Random(1519)
    nodes = list(range(40))
    edges = sorted({(a, b) for a in nodes for b in nodes
                    if a < b and rng.random() < 0.25})
    nbrs = {v: set() for v in nodes}
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    want = {}
    for v in nodes:
        if not nbrs[v]:
            continue
        t = sum(1 for x, y in itertools.combinations(sorted(nbrs[v]), 2)
                if y in nbrs[x])
        want[v] = (len(nbrs[v]), t)
    got = {r["node_id"]: (r["degree"], r["triangles"])
           for r in triangle_counts(
               spark.createDataFrame(edges, "src long, dst long")).collect()}
    assert got == want


def test_personalized_pagerank_matches_reference_and_localizes(spark):
    """pagerank(seeds=...) vs the plain-Python integer reference with
    teleport/start/dangling concentrated on the seed set; plus the
    localization property — mass near the seed beats mass far from it —
    and the seeds=None path is unchanged by the refactor (equals the
    global reference)."""
    from airline_data_warehouse_spark.operators.graph import pagerank

    # chain 1-2-3-4-5 (undirected) + an isolated pair 8-9
    und = [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)]
    edge_list = und + [(b, a) for a, b in und]
    e = spark.createDataFrame(edge_list, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node_id long")
    got = {r["node_id"]: r["rank_micro"] for r in
           pagerank(e, iters=3, seeds=seeds).collect()}

    def halfup(a, b):
        return (2 * a + b) // (2 * b)

    nodes = sorted({v for p in edge_list for v in p})
    outdeg = {}
    for s, _ in edge_list:
        outdeg[s] = outdeg.get(s, 0) + 1
    seed_set = {1}
    ns = len(seed_set)
    r = {v: (halfup(10 ** 12, ns) if v in seed_set else 0) for v in nodes}
    for _ in range(3):
        infl = {v: 0 for v in nodes}
        for s, d in edge_list:
            infl[d] += halfup(r[s], outdeg[s])
        dang = sum(r[v] for v in nodes if v not in outdeg)
        r = {v: ((halfup(150_000_000_000, ns) if v in seed_set else 0)
                 + (170 * (infl[v]
                           + (halfup(dang, ns) if v in seed_set else 0))
                    + 100) // 200)
             for v in nodes}
    assert got == r
    # localization: after 3 synchronous steps the walk from node 1 has
    # reached at most distance 3 — node 5 (4 hops) and the disconnected
    # pair hold exactly zero; all mass sits on the reachable prefix
    # (NOT a smooth decay: synchronous updates slosh mass along a
    # chain, so no per-hop ordering is asserted)
    assert got[5] == 0 and got[8] == 0 and got[9] == 0
    assert min(got[v] for v in (1, 2, 3, 4)) > 0
    assert abs(sum(got.values()) - 10 ** 12) <= 5 * 3  # mass conserved


def test_stream_work_dir_sweeps_stale_scratch(tmp_path, monkeypatch):
    """_stream_work_dir removes same-prefix scratch dirs left by
    PREVIOUS processes (mtime before this interpreter started) and
    never touches this process's own dirs (their lazy readers may not
    have collected yet) — bounded /tmp across repeated bench/sweep
    runs (ADVICE r13-low / VERDICT r13 item 7)."""
    import os
    import tempfile

    from airline_data_warehouse_spark.plans import llmops

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stale = tmp_path / "adw_stream_tst_stale"
    stale.mkdir()
    old = min(llmops._PROC_START, __import__("time").time()
              - llmops._SCRATCH_TTL_S) - 120
    os.utime(stale, (old, old))
    fresh = tmp_path / "adw_stream_tst_fresh"
    fresh.mkdir()                      # mtime = now > _PROC_START
    # a CONCURRENT older process's live scratch: predates our start
    # but is younger than the TTL — must NOT be swept (review r14)
    sibling = tmp_path / "adw_stream_tst_sibling"
    sibling.mkdir()
    sib = llmops._PROC_START - 60
    os.utime(sibling, (sib, sib))
    other = tmp_path / "unrelated_prefix_dir"
    other.mkdir()
    os.utime(other, (old, old))        # stale but different prefix
    new = llmops._stream_work_dir("adw_stream_tst_")
    assert not stale.exists(), "past-TTL orphan must be swept"
    assert fresh.exists(), "this process's scratch must survive"
    assert sibling.exists(), "a concurrent sibling's scratch survives"
    assert other.exists(), "foreign prefixes are not ours to delete"
    assert os.path.isdir(new) and new.startswith(str(tmp_path))


def test_qdigest_merge_empty_inputs_raise(spark):
    """qdigest_merge on two empty digests raises the same loud
    empty-input contract as qdigest_build instead of crashing with
    int(None) (ADVICE r13-low)."""
    import pytest as _pytest

    import airline_data_warehouse_spark.operators.sketches as sk

    empty = spark.createDataFrame([], "id long, lvl int, cnt long")
    with _pytest.raises(ValueError, match="empty"):
        sk.qdigest_merge(empty, empty)


def test_qdigest_plan_math():
    """qdigest_plan: minimal levels covering the span, offset = lo,
    loud guard beyond the BIGINT upper-bound limit."""
    import pytest as _pytest

    import airline_data_warehouse_spark.operators.sketches as sk

    assert sk.qdigest_plan(0, 15) == (0, 1)
    assert sk.qdigest_plan(0, 16) == (0, 2)          # span 17 > 16^1
    assert sk.qdigest_plan(100, 100) == (100, 1)     # single value
    assert sk.qdigest_plan(19920101, 19980802) == (19920101, 4)
    assert sk.qdigest_plan(-50, 49) == (-50, 2)      # negatives shift up
    with _pytest.raises(ValueError, match="empty domain"):
        sk.qdigest_plan(5, 4)
    with _pytest.raises(ValueError, match="max_levels"):
        sk.qdigest_plan(0, 1 << 61)
    with _pytest.raises(ValueError, match="max_levels"):
        sk.qdigest_plan(0, 300, max_levels=2, branch_bits=4)


def test_qdigest_build_auto_general_domain(spark):
    """qdigest_build_auto on a >2^20 domain: the auto-planned digest
    is node-for-node identical to an explicit build over
    offset-shifted values (same plan → same pure function of the
    multiset), and offset-aware reads honor the est/exact rank bounds
    in the RAW domain (VERDICT r13 item 1)."""
    import random

    from pyspark.sql import functions as F

    import airline_data_warehouse_spark.operators.sketches as sk

    rnd = random.Random(7)
    vals = [20_000_000 + rnd.randrange(0, 60_000) for _ in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    dig, off, lv = sk.qdigest_build_auto(df, "v")
    assert off == min(vals)
    assert lv == sk.qdigest_plan(min(vals), max(vals))[1]
    explicit = sk.qdigest_build(
        df.select((F.col("v") - off).alias("v")), "v", levels=lv)
    assert (sorted(map(tuple, dig.collect()))
            == sorted(map(tuple, explicit.collect())))

    n, sv = len(vals), sorted(vals)
    thr = max(1, n // 256)
    for r in sk.qdigest_quantiles(dig, n, offset=off).collect():
        exact = sv[r["rnk"] - 1]
        cap = sv[min(n, r["rnk"] + lv * thr) - 1]
        assert exact <= r["est_value"] <= cap

    # the explicit-offset path of qdigest_build is the shard-build
    # primitive: same (offset, levels) plan → merge-compatible digests
    da = sk.qdigest_build(df.filter(F.col("v") % 2 == 0), "v",
                          levels=lv, offset=off)
    db = sk.qdigest_build(df.filter(F.col("v") % 2 != 0), "v",
                          levels=lv, offset=off)
    merged = sk.qdigest_merge(da, db, levels=lv)
    mass = merged.agg(F.sum("cnt").alias("n")).collect()[0]["n"]
    assert mass == n


def test_exact_substring_spans_and_removal(spark):
    """ExactSubstr (Lee et al. 2022): maximal cross-doc verbatim spans
    — hand-checkable fixture: doc2 embeds doc1's first 20 tokens at
    offset 3, doc4 is a full copy of doc1, doc3 shares nothing."""
    import pytest as _pytest

    import airline_data_warehouse_spark.operators.dedup as dd

    base = " ".join(chr(ord("a") + i) * 2 for i in range(26))
    docs = spark.createDataFrame(
        [(1, base),
         (2, "zz yy " + " ".join(base.split()[:20]) + " xx ww vv"),
         (3, " ".join(f"w{i}" for i in range(30))),
         (4, base)],
        "doc_id long, text string")
    spans = {(r["doc_a"], r["doc_b"]):
             (r["start_a"], r["start_b"], r["span_tokens"])
             for r in dd.exact_substring_spans(
                 docs, k=4, min_tokens=10).collect()}
    assert spans == {(1, 2): (1, 3, 20),
                     (1, 4): (1, 1, 26),
                     (2, 4): (3, 1, 20)}

    rem = {r["doc_id"]: (r["n_removed"], r["kept_text"])
           for r in dd.remove_cross_doc_spans(
               docs, k=4, min_tokens=10).collect()}
    # keep-first: doc1 untouched; doc2 loses the 20 embedded tokens;
    # doc4 (full duplicate) is covered entirely -> empty survivor
    assert set(rem) == {2, 4}
    assert rem[2] == (20, "zz yy xx ww vv")
    assert rem[4] == (26, "")

    # a sub-min_tokens shared run is NOT reported
    assert dd.exact_substring_spans(
        docs, k=4, min_tokens=30).filter("doc_b = 2").count() == 0

    # intra-doc repetition guard: one doc repeating a window > max_occ
    # times raises loudly instead of running the quadratic pair join
    rep = spark.createDataFrame(
        [(1, " ".join(["p q r s"] * 40)), (2, "p q r s t u v w x y")],
        "doc_id long, text string")
    with _pytest.raises(ValueError, match="max_occ"):
        dd.exact_substring_spans(rep, k=4, min_tokens=4, max_occ=8)

    # boilerplate df-filter: a window in > max_df docs is excluded, so
    # docs sharing ONLY that window produce no spans (and no pair blowup)
    boiler = spark.createDataFrame(
        [(i, f"u{i} v{i} common1 common2 common3 common4 common5 "
             f"common6 common7 common8 common9 common10 z{i}")
         for i in range(12)],
        "doc_id long, text string")
    assert dd.exact_substring_spans(
        boiler, k=4, min_tokens=8, max_df=4).count() == 0


def test_planned_band_params_pins_certified_constants_and_scales():
    """lsh_band_plan wired into the banded operators (VERDICT r13
    item 4): the plan-derived defaults reproduce TODAY'S literal
    constants at the certified sf0.1 corpus count (4,000 vectors) —
    zero certified-key rotation — and at 8× the planned rows_per_band
    holds per-item candidate volume inside budget (budget_met True)
    where the fixed constants would drift to ~8× the volume."""
    import pytest as _pytest

    import airline_data_warehouse_spark.operators.similarity as sim
    from airline_data_warehouse_spark.plans.llmops import (
        _PLANNED_CERT_BANDS,
        _PLANNED_CERT_ROWS,
    )

    assert sim.planned_band_params(4_000) == (4, 8)
    # r15: the planned path is LOAD-BEARING in the certified keys
    # (dedup_embedding_cosine / semantic_cluster_profile pass
    # bands=None) — their static oracles mirror the planner's fixed
    # point at the CERTIFICATION corpus (sf0.01: 500 embeddings × 2 =
    # 1,000 vectors). If this pin fails, the planner or the test
    # corpus drifted and the oracle literals must move WITH it.
    assert sim.planned_band_params(1_000) == (
        _PLANNED_CERT_BANDS, _PLANNED_CERT_ROWS) == (3, 6)

    plan8 = sim.lsh_band_plan(32_000, 64.0, 0.96, 0.9, bands_hint=4)
    assert plan8["budget_met"]
    assert plan8["rows_per_band"] > 8          # widened with the corpus
    assert plan8["expected_random_candidates_per_item"] <= 128.0
    assert plan8["expected_recall"] >= 0.9
    # fixed constants at 8x: bands*n/2^R = 4*32000/256 = 500/item —
    # the planner's whole point is staying ~an order below that
    fixed_8x = 4 * 32_000 / (1 << 8)
    assert plan8["expected_random_candidates_per_item"] < fixed_8x / 4

    with _pytest.raises(ValueError, match="IVF"):
        sim.planned_band_params(10_000_000_000)


def test_banded_operators_auto_plan_path(spark):
    """bands=None derives (bands, rows_per_band) from the corpus count
    and produces exactly the result of passing the planned literals —
    the auto path is the same operator, not a different one."""
    import random

    import airline_data_warehouse_spark.operators.similarity as sim

    rnd = random.Random(11)
    base = [[rnd.gauss(0, 1) for _ in range(64)] for _ in range(20)]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v))
        rows.append((i + 100, [x + rnd.gauss(0, 0.001) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planned = sim.planned_band_params(corpus.count())
    auto = sim.embedding_near_dup_pairs(corpus, threshold=0.98,
                                        bands=None, rows_per_band=None)
    explicit = sim.embedding_near_dup_pairs(
        corpus, threshold=0.98, bands=planned[0],
        rows_per_band=planned[1])
    got = sorted(map(tuple, auto.collect()))
    assert got == sorted(map(tuple, explicit.collect()))
    assert got, "near-dup twins must collide under the planned bands"


def test_exact_substring_incremental_equals_batch_restriction(spark):
    """Incremental ExactSubstr ≡ the batch operator over
    corpus ∪ increment restricted to cross pairs — the equivalence the
    oracle leans on (its SQL IS the batch chain + the restriction)."""
    import airline_data_warehouse_spark.operators.dedup as dd

    base = " ".join(chr(ord("a") + i) * 2 for i in range(26))
    corpus = spark.createDataFrame(
        [(1, base), (2, " ".join(f"w{i}" for i in range(30)))],
        "doc_id long, text string")
    inc = spark.createDataFrame(
        [(100, "zz yy " + " ".join(base.split()[:20]) + " xx"),
         (101, base)],
        "doc_id long, text string")
    inc_rows = sorted(map(tuple, dd.exact_substring_spans_incremental(
        corpus, inc, k=4, min_tokens=10).collect()))
    batch = dd.exact_substring_spans(
        corpus.unionByName(inc), k=4, min_tokens=10)
    cross = sorted(map(tuple, batch.filter("doc_a < 100 AND doc_b >= 100")
                       .collect()))
    assert inc_rows == cross and inc_rows, "incremental = batch cross cut"
    # increment-internal pairs (docs 100 and 101 share the base prefix)
    # exist in the BATCH view but are not the incremental operator's
    # job — pin that the incremental output contains no inc-inc pair
    assert batch.filter("doc_a >= 100 AND doc_b >= 100").count() > 0
    assert all(pair[0] < 100 <= pair[1] for pair in inc_rows)


def test_exact_substring_store_equals_recompute(spark, tmp_path):
    """The store-mediated incremental (persisted window index) equals
    the recompute twin EXACTLY — on the first batch against the built
    store, and again after exact_substring_store_append folds that
    batch in (delta hashstats rows summed per hash) — VERDICT r14
    item 1's certification contract."""
    import airline_data_warehouse_spark.operators.dedup as dd

    base = " ".join(chr(ord("a") + i) * 2 for i in range(26))
    corpus = spark.createDataFrame(
        [(1, base), (2, " ".join(f"w{i}" for i in range(30)))],
        "doc_id long, text string")
    inc = spark.createDataFrame(
        [(100, "zz yy " + " ".join(base.split()[:20]) + " xx"),
         (101, base)],
        "doc_id long, text string")
    store = str(tmp_path / "es_store")
    dd.exact_substring_store_build(corpus, store, k=4)
    got = sorted(map(tuple, dd.exact_substring_spans_store(
        spark, store, inc, min_tokens=10).collect()))
    ref = sorted(map(tuple, dd.exact_substring_spans_incremental(
        corpus, inc, k=4, min_tokens=10).collect()))
    assert got == ref and got, "store-mediated = recompute"

    # fold the batch in; a second increment must see corpus ∪ inc
    inc2 = spark.createDataFrame(
        [(200, " ".join(base.split()[5:]) + " qq")],
        "doc_id long, text string")
    dd.exact_substring_store_append(spark, store, inc)
    got2 = sorted(map(tuple, dd.exact_substring_spans_store(
        spark, store, inc2, min_tokens=10).collect()))
    ref2 = sorted(map(tuple, dd.exact_substring_spans_incremental(
        corpus.unionByName(inc), inc2, k=4, min_tokens=10).collect()))
    assert got2 == ref2 and got2, "append-path store = recompute"


def test_remove_increment_spans_store_equals_batch_cut(spark, tmp_path):
    """The store-mediated increment scrub ≡ remove_cross_doc_spans
    over corpus ∪ increment restricted to spans whose later side is
    the increment (the oracle's chain) — corpus text is never
    re-hashed, and intra-increment duplication is deliberately NOT
    scrubbed (the batch operator over the silver table owns it)."""
    import airline_data_warehouse_spark.operators.dedup as dd

    base = " ".join(chr(ord("a") + i) * 2 for i in range(26))
    corpus = spark.createDataFrame(
        [(1, base), (2, " ".join(f"w{i}" for i in range(30)))],
        "doc_id long, text string")
    inc = spark.createDataFrame(
        [(100, "zz yy " + " ".join(base.split()[:20]) + " xx"),
         (101, base)],
        "doc_id long, text string")
    store = str(tmp_path / "es_store")
    dd.exact_substring_store_build(corpus, store, k=4)
    got = sorted(map(tuple, dd.remove_increment_spans_store(
        spark, store, inc, min_tokens=10).collect()))

    both = corpus.unionByName(inc)
    spans = (dd.exact_substring_spans(both, k=4, min_tokens=10)
             .filter("doc_a < 100 AND doc_b >= 100"))
    want = sorted(map(tuple, dd.remove_cross_doc_spans(
        inc, k=4, min_tokens=10, spans=spans).collect()))
    assert got == want and got, "store scrub = batch removal cross cut"
    # doc 101 is a full copy of corpus doc 1 -> wholly covered
    full = [r for r in got if r[0] == 101]
    assert full and full[0][2] == ""


def test_exact_substring_store_guards(spark, tmp_path):
    """The store tier's loud-misuse set: no _built marker raises
    (half-built stores rebuild, never half-read); an increment reusing
    store doc ids raises (the df sum would double-count); a corpus
    breaching max_occ raises AT BUILD (the guard's build-time half);
    overwrite=False reuses the existing store."""
    import pytest

    import airline_data_warehouse_spark.operators.dedup as dd

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(30)))],
        "doc_id long, text string")
    with pytest.raises(ValueError, match="_built"):
        dd.exact_substring_spans_store(
            spark, str(tmp_path / "missing"), docs)

    store = str(tmp_path / "es_store")
    dd.exact_substring_store_build(docs, store, k=4)
    with pytest.raises(ValueError, match="reuses doc ids"):
        dd.exact_substring_spans_store(spark, store, docs)
    with pytest.raises(ValueError, match="reuses doc ids"):
        dd.exact_substring_store_append(spark, store, docs)

    # overwrite=False: second build is a no-op on an intact store
    other = spark.createDataFrame(
        [(9, " ".join(f"v{i}" for i in range(20)))],
        "doc_id long, text string")
    dd.exact_substring_store_build(other, store, k=4)
    assert spark.read.parquet(f"{store}/tokens").count() == 1  # doc 1

    rep = spark.createDataFrame(
        [(5, " ".join(["rep"] * 40))], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_occ"):
        dd.exact_substring_store_build(
            rep, str(tmp_path / "rep_store"), k=4, max_occ=8)

    # review r15 finding 2: boilerplate spread across MANY docs (df >
    # max_df) is df-filtered by every tier and must NOT refuse the
    # build, even when its total occurrences exceed max_occ
    boiler = spark.createDataFrame(
        [(100 + i, "common license header line " +
          " ".join(f"d{100 + i}w{j}" for j in range(6)))
         for i in range(12)],
        "doc_id long, text string")
    dd.exact_substring_store_build(
        boiler, str(tmp_path / "boiler_store"), k=4, max_df=4, max_occ=8)

    # review r15 finding 3: overwrite=False over an existing store
    # with a DIFFERENT plan raises naming both, never silently reuses
    with pytest.raises(ValueError, match="k=12"):
        dd.exact_substring_store_build(docs, store, k=12)


def test_exact_substring_store_append_crash_retry_raises(spark, tmp_path):
    """review r15 finding 1: the append writes tokens FIRST, so a
    retry after any mid-append crash hits the disjoint-id guard and
    raises loudly instead of double-appending windows/hashstats
    (which would fragment run merges and inflate df silently)."""
    import pytest

    import airline_data_warehouse_spark.operators.dedup as dd

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(30)))],
        "doc_id long, text string")
    inc = spark.createDataFrame(
        [(100, " ".join(f"w{i}" for i in range(25)))],
        "doc_id long, text string")
    store = str(tmp_path / "es_store")
    dd.exact_substring_store_build(docs, store, k=4)
    # simulate the worst crash point: tokens landed, windows/stats did
    # not — exactly the state after the first write completes
    from airline_data_warehouse_spark.operators.dedup import (
        _token_arrays,
    )

    (_token_arrays(inc, "text", "doc_id", "doc_id", "toks")
     .write.mode("append").parquet(f"{store}/tokens"))
    with pytest.raises(ValueError, match="crashed mid-way"):
        dd.exact_substring_store_append(spark, store, inc)


def test_countmin_inner_product_math(spark):
    """CMS inner product on a hand corpus: est >= the exact inner
    product, and for a collision-free token set est == exact; a
    depth-row with no shared cells pulls the MIN to 0 for disjoint
    relations."""
    from pyspark.sql import functions as F

    import airline_data_warehouse_spark.operators.sketches as sk

    a = spark.createDataFrame(
        [("x",)] * 3 + [("y",)] * 2 + [("z",)], "token string")
    b = spark.createDataFrame(
        [("x",)] * 4 + [("z",)] * 5 + [("q",)], "token string")
    sa, sb = sk.countmin_build(a), sk.countmin_build(b)
    est = sk.countmin_inner_product(sa, sb).collect()[0]["est_join_size"]
    exact = 3 * 4 + 1 * 5          # x: 3*4, z: 1*5
    assert est >= exact
    assert est == exact            # 4 tokens in 512 buckets: no collision

    # disjoint relations: every row's product sum is 0 -> est 0
    c = spark.createDataFrame([("only-in-c",)] * 7, "token string")
    est0 = sk.countmin_inner_product(
        sa, sk.countmin_build(c)).collect()[0]["est_join_size"]
    assert est0 == 0


def test_lc_set_algebra_math(spark):
    """LC set algebra on hand sets: union bitmap = OR of the two
    bitmaps, estimates track the true cardinalities at low load, and
    inclusion-exclusion recovers the intersection within the summed
    LC error."""
    from pyspark.sql import functions as F

    import airline_data_warehouse_spark.operators.sketches as sk
    from airline_data_warehouse_spark.operators.hashing import base_hash

    def hashed(vals):
        df = spark.createDataFrame([(str(v),) for v in vals],
                                   "token string")
        return df.select(base_hash(F.col("token")).alias("sh"))

    a_vals = list(range(0, 300))          # |A| = 300
    b_vals = list(range(200, 450))        # |B| = 250, |A∩B| = 100
    row = sk.lc_set_algebra(hashed(a_vals), hashed(b_vals),
                            bits=4096).collect()[0]
    assert abs(row["est_a"] - 300) < 30
    assert abs(row["est_b"] - 250) < 30
    assert abs(row["est_union"] - 450) < 45
    assert abs(row["est_intersect"] - 100) < 80
    assert round(row["est_a"] + row["est_b"] - row["est_union"], 6) \
        == row["est_intersect"]


def test_countmin_inner_product_guards(spark):
    """Review-r14 guards: a depth mismatch raises instead of silently
    returning 0 through phantom rows, and a mixed literal/None banded
    call raises instead of discarding the provided half."""
    import pytest as _pytest

    import airline_data_warehouse_spark.operators.similarity as sim
    import airline_data_warehouse_spark.operators.sketches as sk

    toks = spark.createDataFrame([("x",)] * 5, "token string")
    shallow = sk.countmin_build(toks, depth=2)
    full = sk.countmin_build(toks)
    with _pytest.raises(ValueError, match="depth"):
        sk.countmin_inner_product(shallow, full)
    est = sk.countmin_inner_product(
        shallow, sk.countmin_build(toks, depth=2), depth=2)
    assert est.collect()[0]["est_join_size"] == 25

    corpus = spark.createDataFrame(
        [(1, [1.0] * 64)], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="jointly planned"):
        sim.embedding_near_dup_pairs(corpus, bands=12,
                                     rows_per_band=None)
    # the documented single-None spelling (other half at its default)
    # is the planned path, not an error (review r14 follow-up)
    assert sim.embedding_near_dup_pairs(
        corpus, bands=None).columns == ["id1", "id2", "score"]


def test_qdigest_plan_metadata_and_mismatch_raises(spark):
    """VERDICT r14 item 3: every built digest carries its (offset,
    levels, branch_bits) plan as field metadata; a merge of digests
    under different plans, an explicit arg contradicting the recorded
    plan, and a read with the wrong offset all RAISE on first touch —
    each used to be a silent wrong answer the docstring could only
    warn about. The metadata survives a parquet round trip, and
    plan-less frames (hand-built / pre-r15 stores) keep the old
    caller-trusted behavior."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    import airline_data_warehouse_spark.operators.sketches as sk

    lo = spark.createDataFrame([(v,) for v in range(100, 400)], "v long")
    hi = spark.createDataFrame(
        [(20_000_000 + v,) for v in range(5000)], "v long")
    dl, ol, ll = sk.qdigest_build_auto(lo, "v")
    dh, oh, lh = sk.qdigest_build_auto(hi, "v")
    assert sk.qdigest_plan_of(dl) == (ol, ll, sk.QD_BRANCH_BITS)
    assert sk.qdigest_plan_of(dh) == (oh, lh, sk.QD_BRANCH_BITS)
    assert (ol, ll) != (oh, lh)

    with _pytest.raises(ValueError, match="DIFFERENT plans"):
        sk.qdigest_merge(dl, dh)
    with _pytest.raises(ValueError, match="contradicts"):
        sk.qdigest_merge(dl, dl, levels=ll + 1)
    with _pytest.raises(ValueError, match="contradicts"):
        sk.qdigest_rank_values(dh, [(1, 10)])  # default offset=0 != oh

    # matched merge works, conserves mass, and carries the plan forward
    da, _, _ = sk.qdigest_build_auto(
        hi.filter(F.col("v") % 2 == 0), "v")
    # share ONE plan across shards (the documented shard contract)
    da = sk.qdigest_build(hi.filter(F.col("v") % 2 == 0), "v",
                          levels=lh, offset=oh)
    db = sk.qdigest_build(hi.filter(F.col("v") % 2 != 0), "v",
                          levels=lh, offset=oh)
    merged = sk.qdigest_merge(da, db)
    assert sk.qdigest_plan_of(merged) == (oh, lh, sk.QD_BRANCH_BITS)
    assert merged.agg(F.sum("cnt")).collect()[0][0] == 5000

    # parquet round trip preserves the plan — a persisted digest still
    # refuses a wrong-domain read
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        dh.write.mode("overwrite").parquet(f"{td}/dig")
        back = spark.read.parquet(f"{td}/dig")
        assert sk.qdigest_plan_of(back) == (oh, lh, sk.QD_BRANCH_BITS)
        with _pytest.raises(ValueError, match="contradicts"):
            sk.qdigest_rank_values(back, [(1, 10)])

    # plan-less frame: old behavior (caller-trusted, no raise)
    bare = spark.createDataFrame([(5, 0, 10)], "id long, lvl int, cnt long")
    assert sk.qdigest_plan_of(bare) is None
    assert sk.qdigest_rank_values(bare, [(1, 5)]).count() == 1


def test_qdigest_stream_store_plan_sidecar(spark, tmp_path):
    """The streaming q-digest store pins its plan in a sidecar: a
    restart under a different plan raises at start (before any leaf
    appends), and a read whose (offset, levels) contradict the pinned
    plan raises instead of shifting estimates into the wrong domain
    (VERDICT r14 item 3, persisted form)."""
    import json as jsonlib

    import pytest as _pytest

    import airline_data_warehouse_spark.operators.sketches as sk
    from airline_data_warehouse_spark.streaming.sketch import (
        qdigest_store_quantiles,
        start_qdigest_ingest,
    )

    vals = [19_920_101 + (i * i) % 60_000 for i in range(500)]
    off, lv = sk.qdigest_plan(min(vals), max(vals))
    d = tmp_path / "in" / "b0"
    d.mkdir(parents=True)
    with open(d / "data.json", "w") as fh:
        for v in vals:
            fh.write(jsonlib.dumps({"v": v}) + "\n")
    src = (spark.readStream.schema("v long")
           .option("maxFilesPerTrigger", 1).json(f"{tmp_path}/in/*"))
    q = start_qdigest_ingest(src, f"{tmp_path}/store",
                             checkpoint_dir=f"{tmp_path}/ck",
                             offset=off, levels=lv)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # read with the pinned plan: fine
    assert qdigest_store_quantiles(
        spark, f"{tmp_path}/store", offset=off, levels=lv).count() == 5
    # read with a contradicting plan: loud
    with _pytest.raises(ValueError, match="pinned plan"):
        qdigest_store_quantiles(spark, f"{tmp_path}/store")
    # restart under a different plan: refused before any append
    src2 = (spark.readStream.schema("v long")
            .option("maxFilesPerTrigger", 1).json(f"{tmp_path}/in/*"))
    with _pytest.raises(ValueError, match="pinned"):
        start_qdigest_ingest(src2, f"{tmp_path}/store",
                             checkpoint_dir=f"{tmp_path}/ck2",
                             offset=off + 1, levels=lv)


def test_exact_substring_overlap_clusters_hand_graph(spark):
    """Span-graph contamination clusters on a hand corpus: docs
    sharing >= 40 verbatim tokens cluster transitively; a pair whose
    total shared material sits below the threshold stays apart."""
    from pyspark.sql import functions as F

    import airline_data_warehouse_spark.operators.dedup as dd
    from airline_data_warehouse_spark.operators.graph import (
        component_profile,
    )

    base = " ".join(f"t{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, base),                              # root
         (2, base + " x2"),                      # 60 shared with 1
         (3, " ".join(base.split()[:45]) + " y3"),  # 45 shared, chains
         (4, " ".join(base.split()[:30]) + " z4 "   # only 30 shared
             + " ".join(f"u{i}" for i in range(30))),
         (5, " ".join(f"v{i}" for i in range(40)))],  # isolated
        "doc_id long, text string")
    spans = dd.exact_substring_spans(docs, k=4, min_tokens=10)
    edges = (spans.groupBy("doc_a", "doc_b")
             .agg(F.sum("span_tokens").alias("shared"))
             .filter(F.col("shared") >= 40)
             .select(F.col("doc_a").alias("id1"),
                     F.col("doc_b").alias("id2")))
    labels = dd.connected_components(edges, docs.select("doc_id"))
    by_doc = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert by_doc[1] == by_doc[2] == by_doc[3] == 1
    assert by_doc[4] == 4 and by_doc[5] == 5  # below threshold / isolated
    prof = {(r["stat"], r["k"]): r["value"]
            for r in component_profile(labels).collect()}
    assert prof[("components", -1)] == 3.0
    assert prof[("max_size", -1)] == 3.0
    assert prof[("singletons", -1)] == 2.0
