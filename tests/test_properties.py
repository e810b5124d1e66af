"""Property-based tests (hypothesis) for the cleaning standardizers —
invariants that must hold for ANY input, not just the fixture corpus.
Batched evaluation: hypothesis generates the corpus, one Spark job
evaluates every example (per-example Spark jobs would be minutes)."""

from __future__ import annotations

import re
from decimal import Decimal

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from airline_data_warehouse_spark.functions import cleaning as C

TEXTISH = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
    max_size=40)


def _batch_eval(spark, expr_builder, values, n_args=1):
    """Evaluate a Column expression over a batch of example tuples."""
    rows = [tuple(v) if isinstance(v, tuple) else (v,) for v in values]
    schema = ", ".join(f"c{i} string" for i in range(n_args))
    df = spark.createDataFrame(rows, schema)
    cols = [F.col(f"c{i}") for i in range(n_args)]
    return [r["out"] for r in df.select(expr_builder(*cols).alias("out")).collect()]


def test_passenger_key_invariants(spark):
    @settings(max_examples=1, deadline=None)
    @given(st.lists(TEXTISH, min_size=200, max_size=200))
    def check(examples):
        outs = _batch_eval(spark, C.standardize_passenger_key, examples)
        for raw, out in zip(examples, outs):
            digits = re.sub(r"\D", "", raw)
            if out is not None:
                # always canonical: P + exactly 3 digits, the LAST 3
                assert re.fullmatch(r"P[0-9]{3}", out), (raw, out)
                assert out[1:] == digits[-3:]
                assert "P" in raw and len(digits) >= 3
            else:
                assert "P" not in raw or len(digits) < 3, (raw, out)
    check()


def test_email_invariants(spark):
    @settings(max_examples=1, deadline=None)
    @given(st.lists(st.tuples(TEXTISH, TEXTISH), min_size=200, max_size=200))
    def check(examples):
        outs = _batch_eval(spark, C.standardize_email, examples, n_args=2)
        email_re = re.compile(r"^[^\s@]+@[^\s@]+\.[^\s@]+$")
        for (name, email), out in zip(examples, outs):
            assert out is not None
            assert out == out.lower()          # always lowercased
            if email and email_re.match(email):
                assert out == email.lower()    # valid emails pass through
            else:
                assert out.endswith("@example.com")  # else synthesized
    check()


def test_amount_invariants(spark):
    money = st.one_of(
        TEXTISH,
        st.decimals(min_value=-99999, max_value=999999, places=2)
          .map(lambda d: f"${d:,}"),
    )

    @settings(max_examples=1, deadline=None)
    @given(st.lists(money, min_size=200, max_size=200))
    def check(examples):
        outs = _batch_eval(spark, C.standardize_amount, [str(x) for x in examples])
        for raw, out in zip(examples, outs):
            assert out is not None             # never NULL: bad → 0.00
            assert isinstance(out, Decimal)
            assert out == out.quantize(Decimal("0.01"))  # always 2 dp
            if re.fullmatch(r"\$-?[\d,]+\.\d{2}", str(raw)):
                assert out == Decimal(str(raw).replace("$", "").replace(",", ""))
    check()


def test_date_invariants(spark):
    dates = st.dates(min_value=__import__("datetime").date(1970, 1, 1),
                     max_value=__import__("datetime").date(2069, 12, 31))
    fmt = st.sampled_from(["%Y-%m-%d", "%m/%d/%Y", "%d-%b-%y", "%Y%m%d"])
    examples_st = st.lists(
        st.one_of(st.tuples(dates, fmt).map(lambda t: (t[0].strftime(t[1]), t[0])),
                  TEXTISH.map(lambda s: (s, None))),
        min_size=150, max_size=150)

    @settings(max_examples=1, deadline=None)
    @given(examples_st)
    def check(examples):
        outs = _batch_eval(spark, C.standardize_date, [e[0] for e in examples])
        for (raw, expected), out in zip(examples, outs):
            if expected is not None and "%y" not in "":  # formatted real dates
                # two-digit years are lossy across the 1969/2069 pivot —
                # only assert when unambiguous or format is 4-digit
                if re.fullmatch(r"\d{2}-[A-Za-z]{3}-\d{2}", raw):
                    assert out is None or (out.month, out.day) == (expected.month, expected.day)
                else:
                    assert out == expected, (raw, expected, out)
    check()


def test_loyalty_always_valid(spark):
    @settings(max_examples=1, deadline=None)
    @given(st.lists(TEXTISH, min_size=200, max_size=200))
    def check(examples):
        outs = _batch_eval(spark, C.standardize_loyalty_status, examples)
        assert set(outs) <= {"Bronze", "Silver", "Gold", "Platinum"}
    check()


def test_country_never_null_or_empty(spark):
    @settings(max_examples=1, deadline=None)
    @given(st.lists(TEXTISH, min_size=200, max_size=200))
    def check(examples):
        outs = _batch_eval(spark, C.standardize_country, examples)
        for raw, out in zip(examples, outs):
            assert out is not None and out != ""
            if raw.strip().lower() in ("us", "usa", "u.s.", "u.s.a.", "united states"):
                assert out == "United States"
    check()


def test_source_mixing_invariants(spark):
    """For ANY source-size distribution: quotas are non-negative ints
    summing exactly to the budget, and weights normalize to ~1."""
    from airline_data_warehouse_spark.operators import sampling as sp

    @settings(max_examples=5, deadline=None)
    @given(st.lists(st.integers(min_value=1, max_value=400),
                    min_size=1, max_size=12),
           st.integers(min_value=1, max_value=500))
    def check(sizes, budget):
        rows = [(f"s{si}_{i}", 10) for si, n in enumerate(sizes)
                for i in range(n)]
        df = spark.createDataFrame(
            [(k.split("_")[0], t) for k, t in rows], "source string, n_tok long")
        got = sp.source_mixing_plan(df, "source", "n_tok", budget).collect()
        assert sum(r["quota_docs"] for r in got) == budget
        assert all(r["quota_docs"] >= 0 for r in got)
        assert abs(sum(r["mix_weight"] for r in got) - 1.0) < 1e-4
        assert len(got) == len(sizes)

    check()


def test_source_mixing_exact_at_large_budgets(spark):
    """ADVICE r03: 6dp-rounded weights made sum(quota) drift from the
    budget once budget·n·5e-7 exceeded 1 (budgets >= ~2e5). Quotas now
    come from the unrounded weight with generalized largest-remainder
    distribution — exact at any budget magnitude."""
    from airline_data_warehouse_spark.operators import sampling as sp
    sizes = [1, 3, 7, 13, 40, 81, 150, 211, 307, 390, 395, 400]
    rows = [(f"s{si}", 10) for si, n in enumerate(sizes) for i in range(n)]
    df = spark.createDataFrame(rows, "source string, n_tok long")
    for budget in (200_000, 5_000_000, 1_000_000_000):
        got = sp.source_mixing_plan(df, "source", "n_tok", budget).collect()
        assert sum(r["quota_docs"] for r in got) == budget
        assert all(r["quota_docs"] >= 0 for r in got)


def test_token_budget_prefix_invariant(spark):
    """For ANY token-length distribution: the kept set is a prefix of
    the per-source hash order and never exceeds the budget; adding the
    first excluded row would always overshoot."""
    from airline_data_warehouse_spark.operators import sampling as sp

    @settings(max_examples=5, deadline=None)
    @given(st.lists(st.integers(min_value=1, max_value=200),
                    min_size=1, max_size=60),
           st.integers(min_value=1, max_value=800))
    def check(toks, budget):
        df = spark.createDataFrame(
            [(i, "s0", t) for i, t in enumerate(toks)],
            "doc_id long, source string, n_tok long")
        kept = sp.token_budget_sample(df, "source", "n_tok", "doc_id",
                                      budget_tokens=budget).collect()
        if kept:
            assert max(r["cum_tokens"] for r in kept) <= budget
        # reconstruct the deterministic order and check prefix-ness
        from airline_data_warehouse_spark.operators.sampling import _keyed_hash
        order = [r["doc_id"] for r in
                 df.select("doc_id").withColumn(
                     "_h", _keyed_hash("doc_id", "adw-budget"))
                   .orderBy("_h", "doc_id").collect()]
        kept_ids = {r["doc_id"] for r in kept}
        seen_excluded = False
        for did in order:
            if did in kept_ids:
                assert not seen_excluded  # a kept row after an excluded one
            else:
                seen_excluded = True

    check()


def test_chunks_tile_documents_with_exact_overlap(spark):
    """Property: for random doc lengths, chunk k starts at k·(C−O)+1,
    consecutive chunks overlap by exactly O chars (except a shorter
    final chunk), chunks cover every character, and no chunk is fully
    contained in its predecessor."""
    import random

    from airline_data_warehouse_spark.operators.text import chunk_documents

    rng = random.Random(13)
    C, O = 100, 20
    lens = [rng.randint(1, 450) for _ in range(40)] + [C, C + 1, C - O, 2 * (C - O) + O]
    docs = spark.createDataFrame(
        [(i, "x" * n) for i, n in enumerate(lens)], "doc_id long, text string")
    rows = chunk_documents(docs, chunk_chars=C, overlap_chars=O).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, n in enumerate(lens):
        chunks = sorted(by_doc[i], key=lambda r: r["chunk_idx"])
        assert chunks[0]["chunk_start"] == 1
        covered = 0
        for r in chunks:
            assert r["chunk_start"] == r["chunk_idx"] * (C - O) + 1
            end = r["chunk_start"] + r["chunk_len"] - 1
            assert r["chunk_len"] <= C
            assert end > covered  # strictly new content (no redundant tail)
            covered = max(covered, end)
        assert covered == n  # every char covered, nothing past the end


def test_repeated_spans_match_bruteforce_model(spark):
    """repeated_ngram_spans equals a brute-force Python model on random
    small corpora: same flagged docs, same maximal spans. The model
    re-derives cross-doc repeated windows and merges adjacent positions
    — any divergence (off-by-one fencepost, island welding, tokenizer
    drift) fails here before it can reach the oracle gate."""
    from airline_data_warehouse_spark.operators import text as tx

    W = 3
    token = st.sampled_from(["a", "b", "c", "d"])
    doc = st.lists(token, min_size=0, max_size=12).map(" ".join)

    @settings(max_examples=1, deadline=None)
    @given(st.lists(doc, min_size=6, max_size=10))
    def check(texts):
        rows = [(i + 1, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
               for r in tx.repeated_ngram_spans(df, w=W).collect()}

        # brute-force model
        toks = {i: t.split() for i, t in rows if t.strip()}
        wins = {}  # window-tuple -> set of docs
        for i, ts in toks.items():
            for p in range(len(ts) - W + 1):
                wins.setdefault(tuple(ts[p:p + W]), set()).add(i)
        expect = set()
        for i, ts in toks.items():
            flagged = sorted(p for p in range(len(ts) - W + 1)
                             if len(wins[tuple(ts[p:p + W])]) >= 2)
            run = []
            for p in flagged + [None]:
                if run and (p is None or p != run[-1] + 1):
                    expect.add((i, run[0] + 1, run[-1] + W, len(run)))
                    run = []
                if p is not None:
                    run.append(p)
        assert got == expect, (texts, got ^ expect)
    check()


def test_funnel_matches_python_model(spark, tmp_path):
    """funnel_conversion equals a brute-force per-user model on random
    event histories: first view, first click strictly after it, first
    purchase strictly after that — including users with events in
    pathological orders and duplicate timestamps."""
    from airline_data_warehouse_spark.plans.registry import all_queries

    ev = st.tuples(st.integers(1, 12),              # user
                   st.integers(0, 50),              # ts (coarse, forces ties)
                   st.sampled_from(["view", "click", "purchase", "error"]))

    @settings(max_examples=1, deadline=None)
    @given(st.lists(ev, min_size=80, max_size=120))
    def check(events):
        rows = [(i + 1, __import__("datetime").datetime(2024, 1, 1, 0, 0, s),
                 u, t, 0.0, "{}") for i, (u, s, t) in enumerate(events)]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
        got = {r["user_id"]: r for r in
               all_queries()["funnel_conversion"]
               .builder(spark, str(tmp_path)).collect()}

        def model(uid):
            evs = [(s, t) for (u, s, t) in events if u == uid]
            views = [s for s, t in evs if t == "view"]
            if not views:
                return None
            v = min(views)
            clicks = [s for s, t in evs if t == "click" and s > v]
            if not clicks:
                return (v, None, None, 1)
            c = min(clicks)
            buys = [s for s, t in evs if t == "purchase" and s > c]
            if not buys:
                return (v, c, None, 2)
            return (v, c, min(buys), 3)

        for uid in {u for u, _, _ in events}:
            m = model(uid)
            if m is None:
                assert uid not in got
                continue
            r = got[uid]
            assert r["stage_reached"] == m[3], uid
            assert r["first_view"].second == m[0]
            assert (r["first_click"].second if r["first_click"] else None) \
                == m[1]
            assert (r["first_purchase"].second if r["first_purchase"]
                    else None) == m[2]
    check()


def test_chunk_documents_match_python_model(spark):
    """chunk_documents equals a brute-force fencepost model for random
    lengths around every boundary (multiples of step and window ±1):
    same chunk count, same starts, same lengths — the no-redundant-tail
    rule included."""
    from airline_data_warehouse_spark.operators import text as tx

    C, O = 500, 50
    step = C - O
    interesting = [1, O, O + 1, step, step + 1, C - 1, C, C + 1,
                   C + step - 1, C + step, C + step + 1, 3 * step + O,
                   2000]

    rows = [(i + 1, "x" * n) for i, n in enumerate(interesting)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in tx.chunk_documents(df).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_start"], r["chunk_len"]))

    for i, n in enumerate(interesting):
        doc = i + 1
        expect = []
        k = 0
        while True:
            start = k * step  # 0-based
            if start >= n:
                break
            if k > 0 and start + O >= n:
                break  # tail fully covered by the previous chunk
            expect.append((k, start + 1, min(C, n - start)))
            k += 1
        assert sorted(got.get(doc, [])) == expect, (n, got.get(doc))


def test_encode_decode_roundtrip_without_oov(spark):
    """Vocabulary application is lossless when every token is in-vocab:
    decoding the id sequence through the same vocab reconstructs the
    normalized (lowercased, whitespace-collapsed) text, checked via the
    digest; with an OOV term the digests diverge."""
    import hashlib

    from airline_data_warehouse_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(1, "Alpha beta  gamma alpha"), (2, "beta beta gamma")],
        "doc_id long, text string")
    vocab = tx.vocab_table(docs, id_col="doc_id", min_count=1)
    vmap = {r["token"]: r["token_id"] for r in vocab.collect()}
    inv = {v: k for k, v in vmap.items()}
    got = {r["doc_id"]: r for r in tx.encode_documents(docs, vocab).collect()}

    for doc_id, text in [(1, "alpha beta gamma alpha"),
                         (2, "beta beta gamma")]:
        ids = [vmap[t] for t in text.split()]
        assert got[doc_id]["n_oov"] == 0
        assert got[doc_id]["ids_hash"] == hashlib.md5(
            ",".join(map(str, ids)).encode()).hexdigest()
        # decode side: ids map back to the normalized token sequence
        assert " ".join(inv[i] for i in ids) == text


def test_containment_exactness_property(spark):
    """The exactness CLAIM of containment_pairs, adversarially: random
    low-entropy corpora (8-char alphabet, k=1 — maximal token collision,
    where the asymmetric prefix + positional pruning does all the work)
    must reproduce the brute-force all-pairs containment answer
    bit-for-bit, including threshold 1.0 (strict subset detection) and a
    non-terminating t."""
    from airline_data_warehouse_spark.operators import dedup as dd

    @settings(max_examples=1, deadline=None)
    @given(st.lists(st.text(alphabet="abcdefgh", max_size=12),
                    min_size=40, max_size=40))
    def check(texts):
        df = spark.createDataFrame(list(enumerate(texts)),
                                   "doc_id long, text string")
        sets = {i: set(t) for i, t in enumerate(texts) if t}
        for thr in (0.7, 0.9, 1.0):
            with dd.cache_scope():
                got = {(r["id_small"], r["id_big"]): r["containment"]
                       for r in dd.containment_pairs(
                           df, k=1, threshold=thr).collect()}
            want = {}
            for i in sets:
                for j in sets:
                    if i == j:
                        continue
                    ni, nj = len(sets[i]), len(sets[j])
                    # smaller side = (n, id) lexicographic, pairs once
                    if (ni, i) < (nj, j):
                        cv = round(len(sets[i] & sets[j]) / ni, 6)
                        if cv >= thr:
                            want[(i, j)] = cv
            assert got == want, thr

    check()


def test_prefix_filter_exactness_property(spark):
    """The exactness CLAIM of prefix_filter_jaccard_pairs, adversarially:
    random low-entropy corpora (8-char alphabet, k=1 shingles — maximal
    token collision, the regime where prefix/positional/length pruning
    does all the work) must reproduce the brute-force all-pairs answer
    bit-for-bit at several thresholds, including ones whose t/(1+t) is
    non-terminating (0.7) — the case the decimal-multiply form of the
    positional filter exists for."""
    import hashlib

    from airline_data_warehouse_spark.operators import dedup as dd
    from airline_data_warehouse_spark.operators.hashing import MERSENNE_P

    alpha = "abcdefgh"
    # hashed-set jaccard == char-set jaccard iff the 8 per-char hashes
    # are collision-free; pin that precondition rather than assume it
    hashes = {int(hashlib.md5(c.encode()).hexdigest()[:15], 16) % MERSENNE_P
              for c in alpha}
    assert len(hashes) == len(alpha)

    @settings(max_examples=1, deadline=None)
    @given(st.lists(st.text(alphabet=alpha, max_size=12),
                    min_size=40, max_size=40))
    def check(texts):
        df = spark.createDataFrame(list(enumerate(texts)),
                                   "doc_id long, text string")
        sets = {i: set(t) for i, t in enumerate(texts) if t}
        for thr in (0.3, 0.6, 0.7):
            with dd.cache_scope():
                got = {(r["id1"], r["id2"]): r["jaccard"] for r in
                       dd.prefix_filter_jaccard_pairs(
                           df, k=1, threshold=thr).collect()}
            want = {}
            for i in sets:
                for j in sets:
                    if i < j:
                        inter = len(sets[i] & sets[j])
                        union = len(sets[i] | sets[j])
                        jv = round(inter / union, 6)
                        if jv >= thr:
                            want[(i, j)] = jv
            assert got == want, thr
    check()

    # a 7-dp threshold would prune with its 6-dp rounding (0.6000015 →
    # 0.600002, half-even) while the verify keeps scores >= the raw
    # float: both exact joins refuse it rather than drop true pairs
    df = spark.createDataFrame([(0, "abc"), (1, "abd")],
                               "doc_id long, text string")
    for join in (dd.prefix_filter_jaccard_pairs, dd.containment_pairs):
        with pytest.raises(ValueError, match="threshold"):
            join(df, k=1, threshold=0.6000015)


def _brute_spans(docs: dict, k: int, min_tokens: int) -> set:
    """Python reference for exact_substring_spans: for every doc pair
    and diagonal, merge consecutive equal-k-window positions into
    maximal runs (1-based starts)."""
    toks = {i: t.split() for i, t in docs.items()}
    wins = {i: [" ".join(w[p:p + k]) for p in range(len(w) - k + 1)]
            for i, w in toks.items() if len(w) >= k}
    out = set()
    ids = sorted(wins)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            hits = sorted((pa, pb) for pa, wa in enumerate(wins[a])
                          for pb, wb in enumerate(wins[b]) if wa == wb)
            by_diag: dict = {}
            for pa, pb in hits:
                by_diag.setdefault(pa - pb, []).append(pa)
            for diag, pas in by_diag.items():
                run_start = prev = pas[0]
                for pa in pas[1:] + [None]:
                    if pa is not None and pa == prev + 1:
                        prev = pa
                        continue
                    length = prev - run_start + k
                    if length >= min_tokens:
                        out.add((a, b, run_start + 1,
                                 run_start - diag + 1, length))
                    if pa is not None:
                        run_start = prev = pa
    return out


def test_exact_substring_spans_matches_bruteforce(spark):
    """Property: the distributed ExactSubstr pipeline (window-hash
    index -> df filter off -> diagonal merge -> verify) equals a
    quadratic Python reference on arbitrary small corpora, including
    periodic and self-overlapping content."""
    @settings(max_examples=1, deadline=None)
    @given(st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=6, max_size=40)
        .map(lambda ws: " ".join(ws)),
        min_size=4, max_size=8))
    def check(texts):
        import airline_data_warehouse_spark.operators.dedup as dd

        docs = {i: t for i, t in enumerate(texts)}
        df = spark.createDataFrame(list(docs.items()),
                                   "doc_id long, text string")
        got = {tuple(r) for r in dd.exact_substring_spans(
            df, k=3, min_tokens=4, max_df=100, max_occ=10_000)
            .collect()}
        assert got == _brute_spans(docs, 3, 4)

    check()


def test_qdigest_auto_rank_bounds_hold_on_arbitrary_domains(spark):
    """Property: for ANY integer multiset (negative, huge, skewed),
    the auto-planned digest's quantile estimates bracket the true
    order statistics: exact <= est <= exact(rank + levels*thr)."""
    @settings(max_examples=1, deadline=None)
    @given(st.lists(st.integers(min_value=-10**12, max_value=10**12),
                    min_size=50, max_size=400))
    def check(vals):
        import airline_data_warehouse_spark.operators.sketches as sk

        df = spark.createDataFrame([(v,) for v in vals], "v long")
        dig, off, lv = sk.qdigest_build_auto(df, "v", k=64)
        n, sv = len(vals), sorted(vals)
        thr = max(1, n // 64)
        for r in sk.qdigest_quantiles(dig, n, offset=off).collect():
            exact = sv[r["rnk"] - 1]
            cap = sv[min(n, r["rnk"] + lv * thr) - 1]
            assert exact <= r["est_value"] <= cap, (r, exact, cap)

    check()
