"""Text-analysis operators: token stats, quality scoring, language ID,
document fingerprinting. All native Column expressions (regex + array
functions) — JVM-side, codegen-friendly, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airline_data_warehouse_spark.operators.dedup import _persist, cache_scope

WS = r"[ \t\n]+"
STOPWORDS = ("the", "a", "of", "and", "to")

# n-gram-heuristic language ID: marker words per language, checked as
# whole tokens; ties resolve in declaration order (en first).
LANG_MARKERS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "and", "of", "is", "was")),
    ("es", ("el", "la", "de", "que", "los")),
    ("de", ("der", "die", "und", "das", "ist")),
    ("fr", ("le", "la", "et", "les", "des")),
    ("zh", ()),  # handled by a non-ASCII check, not markers
)

# GPT-2-flavored tokenizer regex: letter runs, digit runs, single
# non-alphanumeric-non-space marks.
BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _tokens(text: Column) -> Column:
    return F.split(F.trim(text), WS)


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + token density per document."""
    text = F.col(text_col)
    n_chars = F.length(text).cast("int")
    n_tokens = F.size(_tokens(text)).cast("int")
    return (df.filter(F.length(F.trim(text)) > 0)
              .select(F.col(id_col),
                      n_chars.alias("n_chars"),
                      n_tokens.alias("n_tokens"),
                      (n_tokens.cast("double") / n_chars.cast("double"))
                      .alias("token_density")))


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic training-data quality gate: stopword ratio, alphabetic
    ratio, minimum length — the classic pre-filter stack."""
    text = F.col(text_col)
    toks = _tokens(F.lower(text))
    n_tokens = F.size(toks).cast("int")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("int")
    n_chars = F.length(text).cast("int")
    n_alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", "")).cast("int")
    return (df.filter(F.length(F.trim(text)) > 0)
              .select(F.col(id_col),
                      (n_stop.cast("double") / n_tokens).alias("stopword_ratio"),
                      (n_alpha.cast("double") / n_chars).alias("alpha_ratio"),
                      F.when((n_tokens >= 20) & (n_stop > 0), "keep")
                       .otherwise("filter").alias("verdict")))


def bpe_ish_token_count(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Token counting with a BPE-flavored regex (letter runs / digit runs
    / punctuation marks) next to the plain whitespace count."""
    text = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(text, F.lit(BPE_ISH), 0)).cast("int")
         .alias("n_bpe_tokens"),
        F.size(_tokens(text)).cast("int").alias("n_ws_tokens"))


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: count marker-word hits per language over
    whitespace tokens; non-ASCII-heavy text → zh; best score wins with
    declaration-order tie-break; zero hits → 'und'."""
    toks = _tokens(F.lower(F.col(text_col)))

    def marker_filter(markers):
        # one-arg lambda factory: Spark's HOF binding derives the lambda's
        # variable count from the Python signature, so defaults can't be
        # used to close over `markers`.
        return lambda t: t.isin(*markers)

    scores = {
        lang: F.size(F.filter(toks, marker_filter(markers))).cast("int")
        for lang, markers in LANG_MARKERS if markers
    }
    non_ascii = F.length(F.regexp_replace(F.col(text_col), r"[\x00-\x7F]", "")).cast("int")
    pred = F.lit("und")
    best = F.lit(0)
    for lang, _ in reversed([(lg, m) for lg, m in LANG_MARKERS if m]):
        # iterate reversed so earlier languages win ties (>= replaces)
        pred = F.when(scores[lang] >= F.greatest(best, F.lit(1)), F.lit(lang)).otherwise(pred)
        best = F.greatest(best, scores[lang])
    pred = F.when(non_ascii * 2 > F.length(F.col(text_col)), F.lit("zh")).otherwise(pred)
    out_scores = [scores[lg].alias(f"score_{lg}") for lg, m in LANG_MARKERS if m]
    return df.select(F.col(id_col), *out_scores, non_ascii.alias("n_non_ascii"),
                     pred.alias("predicted_lang"))


def rolling_fingerprint(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """Document fingerprint: minimum k-gram hash over the text (winnowing
    with w = whole document) — one 31-bit integer per doc, portable
    arithmetic (operators/hashing.base_hash)."""
    from airline_data_warehouse_spark.operators.hashing import base_hash, char_shingles
    grams = char_shingles(F.col(text_col), k)
    fp = F.array_min(F.transform(grams, base_hash))
    return (df.filter(F.length(text_col) >= k)
              .select(F.col(id_col), fp.alias("fingerprint")))


def vocab_table(df: DataFrame, text_col: str = "text", id_col: str | None = None,
                min_count: int = 2, max_size: int | None = None) -> DataFrame:
    """Vocabulary build — the tokenizer-training prep step: corpus-wide
    token frequencies, a ``min_count`` floor, document frequency, and a
    deterministic contiguous token id assigned by (count desc, token
    asc). Returns (token_id, token, count, doc_freq).

    Shape: one explode → one (token)-keyed aggregation computing both
    total count and distinct-document count with map-side partials. The
    contiguous id is assigned TWO-PHASE (same pattern as the exact
    median): tokens are bucketed by (count, 2-char token prefix) — a key
    monotone with the global (count desc, token asc) order, since equal
    counts sort by token and fixed-length prefixes order consistently
    with full strings — bucket offsets come from an exclusive prefix-sum
    window over the small distinct-(count,prefix) frame, and the
    row_number runs PARTITIONED by bucket. No window ever sorts the full
    vocabulary on one task; the only unpartitioned window is over the
    per-bucket totals (≈ distinct counts × seen prefixes — tiny, Zipf
    collapses the count dimension).
    """
    from pyspark.sql import Window
    cores = df.sparkSession.sparkContext.defaultParallelism
    doc = (F.col(id_col) if id_col
           else F.monotonically_increasing_id())  # unique per input row
    toks = (df.filter(F.length(F.trim(F.col(text_col))) > 0)
              .repartition(cores * 2)
              .select(doc.alias("_doc"),
                      F.explode(_tokens(F.lower(F.col(text_col)))).alias("token"))
              .filter(F.col("token") != ""))
    counts = (toks.groupBy("token")
              .agg(F.count("*").alias("count"),
                   F.countDistinct("_doc").alias("doc_freq"))
              .filter(F.col("count") >= min_count)
              .withColumn("_pfx", F.substring("token", 1, 2)))
    wb = (Window.orderBy(F.col("count").desc(), F.col("_pfx").asc())
                .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (counts.groupBy("count", "_pfx")
               .agg(F.count(F.lit(1)).alias("_bcnt"))
               .withColumn("_off", F.coalesce(F.sum("_bcnt").over(wb), F.lit(0)))
               .drop("_bcnt"))
    wv = Window.partitionBy("count", "_pfx").orderBy(F.col("token").asc())
    out = (counts.join(F.broadcast(offsets), ["count", "_pfx"])
                 .withColumn("token_id",
                             (F.col("_off") + F.row_number().over(wv) - 1)
                             .cast("int"))
                 .select("token_id", "token", "count", "doc_freq"))
    return out.filter(F.col("token_id") < max_size) if max_size else out


def tf_idf_top_terms(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                     top_n: int = 3) -> DataFrame:
    """TF-IDF with smoothed idf = ln((N+1)/(df+1)) + 1; top-N terms per
    document (score desc, term asc). Fully distributed: explode -> two
    keyed aggregations -> idf join -> per-doc window. The idf join's
    strategy is left to AQE (r07): the idf table is one row per DISTINCT
    TERM, which grows with the corpus (Heaps' law — a multi-GB broadcast
    at 100 TB), so a forced broadcast is the same scale hazard the
    ngram_overlap_join holdout fix removed; both sides are already
    term-keyed, so the fallback shuffle is collision-free."""
    from pyspark.sql import Window
    n_docs = df.count()  # driver-side scalar (a count, not a collect of rows)
    terms = (df.select(F.col(id_col),
                       F.explode(F.split(F.lower(F.trim(F.col(text_col))), WS))
                        .alias("term"))
               .filter(F.col("term") != ""))
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    idf = (tf.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
             .withColumn("idf", F.log((F.lit(n_docs) + 1) / (F.col("df") + 1)) + 1))
    scored = (tf.join(idf, "term")
                .withColumn("tfidf", F.round(F.col("tf") * F.col("idf"), 6)))
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (scored.withColumn("rnk", F.row_number().over(w))
                  .filter(F.col("rnk") <= top_n)
                  .select(id_col, "term", "tf", "tfidf",
                          F.col("rnk").cast("int").alias("rnk")))


def repetition_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                     top_frac_cutoff: float = 0.10,
                     distinct_frac_cutoff: float = 0.50) -> DataFrame:
    """Repetition-based quality filter (the Gopher/MassiveText rule
    family: drop documents dominated by repeated n-grams — boilerplate,
    keyword stuffing, generation loops). Per document, over word
    bigrams: total count, distinct fraction, and the fraction of mass
    taken by the single most frequent bigram; verdict 'filter' when the
    top bigram exceeds ``top_frac_cutoff`` or the distinct fraction
    falls below ``distinct_frac_cutoff``.

    Shape: zip_with over two shifted slices builds the bigram array
    in-row (native Columns), explode → count per (doc, bigram) →
    re-aggregate per doc. Both aggregations are partial-agg friendly and
    keyed on (doc_id, bigram) then doc_id — no skew surface beyond
    pathological single-doc token counts, which the explode distributes
    across whatever partitioning the scan chose.
    """
    toks = _tokens(F.lower(F.col(text_col)))
    n = F.size(toks)
    bigrams = F.zip_with(F.slice(toks, 1, n - 1),
                         F.slice(toks, 2, n - 1),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    cores = df.sparkSession.sparkContext.defaultParallelism
    per_bigram = (df.filter(F.size(_tokens(F.col(text_col))) >= 2)
                    .repartition(cores * 2, F.col(id_col))
                    .select(F.col(id_col), F.explode(bigrams).alias("bigram"))
                    .groupBy(id_col, "bigram").agg(F.count("*").alias("cnt")))
    per_doc = (per_bigram.groupBy(id_col)
               .agg(F.sum("cnt").alias("_total"),
                    F.max("cnt").alias("_top"),
                    F.count("*").alias("_distinct")))
    total = F.col("_total").cast("double")
    top_frac = F.round(F.col("_top") / total, 6)
    distinct_frac = F.round(F.col("_distinct") / total, 6)
    return per_doc.select(
        F.col(id_col),
        F.col("_total").cast("int").alias("n_bigrams"),
        top_frac.alias("top_bigram_frac"),
        distinct_frac.alias("distinct_bigram_frac"),
        F.when((top_frac > top_frac_cutoff)
               | (distinct_frac < distinct_frac_cutoff), "filter")
         .otherwise("keep").alias("verdict"))


def ngram_overlap_join(corpus: DataFrame, benchmark: DataFrame,
                       text_col: str = "text", id_col: str = "doc_id",
                       bench_id_col: str = "bench_id",
                       k: int = 9, min_shared: int = 5) -> DataFrame:
    """Benchmark-contamination detector: (bench_id, doc_id,
    n_shared_shingles) for every corpus document sharing at least
    ``min_shared`` distinct character k-gram hashes with a benchmark
    document — the decontamination step every training-data pipeline
    runs before an eval is trustworthy (cf. GPT-3 appendix C / PaLM
    n-gram overlap checks).

    Shape: both sides become (id, shingle_hash) via explode of the
    hashed shingle set, the join is an equi-join on the 31-bit hash
    (an inverted index, never corpus × benchmark), and the pair count
    re-aggregates on (bench_id, doc_id). The join strategy is left to
    AQE on runtime sizes, NOT a forced broadcast (r07): when the
    benchmark really is an eval set (thousands of rows) AQE converts
    to a broadcast join at runtime anyway, but two callers —
    decontaminated_train_split and curation_pipeline — pass the 5%
    HOLDOUT as the benchmark, a side that grows WITH the corpus (at
    100 TB, a multi-TB broadcast; the forced hint reproducibly OOMed
    the 8× local probe building a ~270 MB exploded index on the
    shared heap). Candidate volume is bounded by true shingle
    collisions either way, the same argument as MinHash banding.
    """
    from airline_data_warehouse_spark.operators.hashing import hashed_shingle_set
    # the corpus side carries the md5-heavy shingle cascade — repartition
    # so parallelism tracks cores, not input splits (see dedup.shingled)
    cores = corpus.sparkSession.sparkContext.defaultParallelism
    c = (corpus.repartition(cores * 2, F.col(id_col))
               .select(F.col(id_col),
                       F.explode(hashed_shingle_set(F.col(text_col), k)).alias("sh")))
    b = (benchmark.select(F.col(bench_id_col),
                          F.explode(hashed_shingle_set(F.col(text_col), k)).alias("sh")))
    return (c.join(b, "sh")
             .groupBy(bench_id_col, id_col)
             .agg(F.count("*").alias("n_shared_shingles"))
             .filter(F.col("n_shared_shingles") >= min_shared))


# Hand-set logistic weights for model_quality_score — the shape of a
# fastText/linear quality classifier with the learned weights stubbed as
# literals (swap in trained coefficients; the plan is identical).
QUALITY_MODEL_WEIGHTS = {"bias": -3.0, "stopword_ratio": 6.0,
                         "alpha_ratio": 2.0, "ln1p_tokens": 0.5}


def model_quality_score(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Model-based quality scoring: a logistic model over the handcrafted
    features (stopword ratio, alphabetic ratio, log token count) — the
    classifier-scoring stage of a curation pipeline (CCNet/fastText
    style), with fixed literal weights standing in for learned ones.

    Everything is native Columns in one linear scan — at 100 TB this is
    a pure map with no shuffle. The logit is NOT rounded: its inputs are
    identical doubles on every engine (exact-int ratios and a 6-dp-
    rounded ln), and +/× are IEEE-correctly-rounded, so the logit is
    bit-identical without help — while rounding it WOULD break parity
    (weights like 0.5 turn 6-dp features into exact 7-decimal halves,
    where Spark's shortest-repr HALF_UP and DuckDB's binary rounding
    disagree). Only ln and the final sigmoid get a 6-dp round, where the
    cross-engine ulp of the transcendental is the only divergence left.
    """
    text = F.col(text_col)
    toks = _tokens(F.lower(text))
    n_tokens = F.size(toks).cast("int")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("int")
    n_chars = F.length(text).cast("int")
    n_alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", "")).cast("int")
    f_stop = F.round(n_stop.cast("double") / n_tokens, 6)
    f_alpha = F.round(n_alpha.cast("double") / n_chars, 6)
    f_lntok = F.round(F.log(F.lit(1.0) + n_tokens), 6)
    w = QUALITY_MODEL_WEIGHTS
    z = (F.lit(w["bias"]) + F.lit(w["stopword_ratio"]) * f_stop
         + F.lit(w["alpha_ratio"]) * f_alpha
         + F.lit(w["ln1p_tokens"]) * f_lntok)
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return (df.filter(F.length(F.trim(text)) > 0)
              .select(F.col(id_col),
                      f_stop.alias("f_stopword"), f_alpha.alias("f_alpha"),
                      f_lntok.alias("f_ln1p_tokens"),
                      prob.alias("quality_prob"),
                      F.when(prob >= 0.5, "keep").otherwise("filter")
                       .alias("verdict")))


def boilerplate_ngram_stats(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 5,
                            min_docs: int = 3) -> DataFrame:
    """C4-style boilerplate detector, corpus-level then per-document: a
    word n-gram is boilerplate when it appears in >= ``min_docs``
    distinct documents (navigation chrome, license headers, templated
    sentences); each document then reports how much of its n-gram mass
    is boilerplate.

    Shape: one explode of the in-row n-gram array feeds both sides —
    document frequency (distinct doc count per n-gram) and per-doc
    occurrence counts — joined back on the n-gram key. The join is a
    plain n-gram-keyed equi-join, NOT a broadcast: at corpus scale the
    boilerplate set is proportional to template diversity and can be
    arbitrarily large. All aggregations are partial-agg friendly.
    """
    toks = _tokens(F.lower(F.col(text_col)))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    # repartition before the CPU-bound n-gram explode: parallelism must
    # track cores, not input splits (a compact parquet scan is 1-2
    # partitions and would pin the whole derivation on one task) — the
    # same argument as dedup.shingled
    cores = df.sparkSession.sparkContext.defaultParallelism
    exploded = (df.filter(F.size(_tokens(F.col(text_col))) >= n)
                  .repartition(cores * 2, F.col(id_col))
                  .select(F.col(id_col), F.explode(grams).alias("ngram")))
    per_doc_gram = exploded.groupBy(id_col, "ngram").agg(F.count("*").alias("cnt"))
    docfreq = (per_doc_gram.groupBy("ngram")
               .agg(F.count("*").alias("df"))
               .filter(F.col("df") >= min_docs)
               .select("ngram"))
    flagged = (per_doc_gram.join(docfreq.withColumn("_bp", F.lit(1)),
                                 "ngram", "left"))
    out = (flagged.groupBy(id_col)
           .agg(F.sum("cnt").alias("_total"),
                F.sum(F.when(F.col("_bp") == 1, F.col("cnt")).otherwise(0))
                 .alias("_bp_cnt")))
    frac = F.round(F.col("_bp_cnt").cast("double") / F.col("_total"), 6)
    return out.select(
        F.col(id_col),
        F.col("_total").cast("int").alias("n_ngrams"),
        F.col("_bp_cnt").cast("int").alias("n_boilerplate"),
        frac.alias("boilerplate_frac"))


def source_overlap_matrix(df: DataFrame, text_col: str = "text",
                          source_col: str = "source", k: int = 9) -> DataFrame:
    """Cross-source contamination matrix: for every unordered source
    pair, the number of distinct character k-gram hashes present in both
    sources — the corpus-level audit run before mixing sources ("how
    much of src_b is already in src_a?").

    Shape: the corpus collapses to distinct (source, shingle_hash) rows
    first (one agg, mass bounded by vocabulary not corpus size), then a
    hash-keyed self-join restricted to source_a < source_b, then one
    count per pair. Output cardinality is |sources|² — tiny. Never an
    all-pairs document comparison.
    """
    from airline_data_warehouse_spark.operators.hashing import hashed_shingle_set
    # cores-tracking repartition before the md5-heavy shingle cascade
    # (compact scans are 1-2 partitions; see dedup.shingled)
    cores = df.sparkSession.sparkContext.defaultParallelism
    sh = (df.repartition(cores * 2)
            .select(F.col(source_col).alias("src"),
                    F.explode(hashed_shingle_set(F.col(text_col), k)).alias("sh"))
            .distinct())
    a, b = sh.alias("a"), sh.alias("b")
    return (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                   & (F.col("a.src") < F.col("b.src")))
             .groupBy(F.col("a.src").alias("source_a"),
                      F.col("b.src").alias("source_b"))
             .agg(F.count("*").alias("n_shared_shingles")))


# PII patterns, written to behave identically under Java regex (Spark)
# and RE2 (DuckDB): plain character classes and counted repetition only —
# no backreferences, no lookaround, no possessive quantifiers.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+[0-9]{1,2} \([0-9]{3}\) [0-9]{3}-[0-9]{4}"


def redact_pii(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Scrub emails/phones from a corpus before it becomes training data:
    replace with [EMAIL] / [PHONE] placeholders and report per-document
    match counts (the audit trail — curation pipelines gate on
    "documents still containing PII after the scrub" = 0).

    Pure regexp_replace / regexp_count Columns — single scan, no shuffle,
    trivially linear at 100 TB. Real pipelines swap in stricter pattern
    packs (or an NER model via mapInPandas); the operator shape —
    redacted text + counts in one projection — stays the same."""
    text = F.col(text_col)
    n_emails = F.regexp_count(text, F.lit(PII_EMAIL)).cast("int")
    n_phones = F.regexp_count(text, F.lit(PII_PHONE)).cast("int")
    redacted = F.regexp_replace(
        F.regexp_replace(text, PII_EMAIL, "[EMAIL]"), PII_PHONE, "[PHONE]")
    return df.select(F.col(id_col),
                     redacted.alias("redacted_text"),
                     n_emails.alias("n_emails"),
                     n_phones.alias("n_phones"))


def chunk_documents(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", chunk_chars: int = 500,
                    overlap_chars: int = 50) -> DataFrame:
    """Fixed-size overlapping character chunks — the pretraining-prep
    step between cleaning and sequence packing: long documents split
    into window-sized pieces, consecutive chunks sharing
    ``overlap_chars`` so no span is ever cut without context.

    One row per (doc, chunk): (id, chunk_idx, chunk_start 1-based,
    chunk_len, chunk_hash). Chunk k starts at k·(C−O)+1 and is emitted
    iff k = 0 or it contains at least one character beyond the previous
    chunk's coverage (k·(C−O)+O < len) — so a doc of exactly C chars is
    ONE chunk, not one plus a fully-redundant tail.

    Fully distributed: sequence+explode fan-out (no UDF, no shuffle —
    chunking is a map), substring per chunk, md5 for a compact
    verifiable payload. At 100 TB the explode multiplies rows ~L/(C−O)×
    but each stays a narrow projection; downstream packing/tokenization
    reads chunks at scan parallelism.

    Reference parity: the reference has no chunker (its docs are rows);
    this is part of the LLM-pipeline extension suite (SURVEY §6).
    """
    step = chunk_chars - overlap_chars
    if step <= 0:
        raise ValueError("chunk_chars must exceed overlap_chars")
    text = F.col(text_col)
    n = F.length(text)
    out = (df.filter(n > 0)
             .withColumn("chunk_idx",
                         F.explode(F.sequence(
                             F.lit(0),
                             F.floor((n - 1) / step).cast("int"))))
             .filter((F.col("chunk_idx") == 0)
                     | (F.col("chunk_idx") * step + overlap_chars < n)))
    start = F.col("chunk_idx") * step + 1
    piece = text.substr(start, F.lit(chunk_chars))
    return out.select(
        F.col(id_col),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        start.cast("int").alias("chunk_start"),
        F.length(piece).cast("int").alias("chunk_len"),
        F.md5(piece).alias("chunk_hash"))


def repeated_ngram_spans(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", w: int = 8) -> DataFrame:
    """Exact repeated-substring detection, the suffix-array-style dedup
    from "Deduplicating Training Data Makes Language Models Better"
    (Lee et al., 2022) re-expressed relationally: every ``w``-token
    window that appears VERBATIM in at least two distinct documents is
    flagged, and per document the flagged windows are merged into
    maximal repeated spans (the pieces a pretraining pipeline would cut
    out, as opposed to whole-doc near-dup removal).

    Output: one row per maximal span — (id, span_start, span_end,
    n_tokens, n_windows), token positions 1-based inclusive.

    Shape, stage by stage (all linear in corpus tokens):
      1. tokenize + sequence/explode into (doc, pos, md5(window)) —
         a pure map, ~|tokens| rows. md5 (128-bit) rather than a 64-bit
         hash so a collision can't weld two different windows together
         at corpus scale (birthday bound at 100 TB crosses 2^32
         windows; 2^64 stays safe).
      2. window-hash groupBy keeping hashes spanning >= 2 DISTINCT
         docs — map-side partial aggregation applies; the repeated set
         is returned as a semi-join against the window table, never
         collected.
      3. gaps-and-islands merge per doc: island id = pos − row_number()
         over (doc), then a (doc, island) groupBy. Both the window and
         the groupBy are doc-partitioned — no global sort anywhere.

    The heavy shuffle is stage 2, keyed by window hash: uniformly
    distributed by construction (md5), so no salting is needed even on
    boilerplate-heavy corpora — a window repeated a million times is
    one group counting two distinct ids with partial aggregation.
    """
    from pyspark.sql import Window
    if w < 2:
        raise ValueError("window width must be >= 2 tokens")
    toks = _tokens(F.lower(F.col(text_col)))
    wins = (df.filter(F.size(toks) >= w)
              .select(F.col(id_col).alias("_doc"), toks.alias("_toks"))
              .select("_doc",
                      F.explode(F.sequence(F.lit(1),
                                           F.size("_toks") - (w - 1))).alias("pos"),
                      F.col("_toks"))
              .select("_doc", "pos",
                      F.md5(F.concat_ws(" ", F.slice(F.col("_toks"),
                                                     F.col("pos"),
                                                     w))).alias("whash")))
    repeated = (wins.groupBy("whash")
                    .agg(F.countDistinct("_doc").alias("_nd"))
                    .filter(F.col("_nd") >= 2)
                    .select("whash"))
    flagged = wins.join(repeated, "whash", "left_semi")
    island = (F.col("pos")
              - F.row_number().over(Window.partitionBy("_doc")
                                          .orderBy(F.col("pos").asc())))
    return (flagged.withColumn("_isl", island)
                   .groupBy("_doc", "_isl")
                   .agg(F.min("pos").alias("span_start"),
                        (F.max("pos") + (w - 1)).alias("span_end"),
                        F.count(F.lit(1)).alias("n_windows"))
                   .select(F.col("_doc").alias(id_col),
                           F.col("span_start").cast("int").alias("span_start"),
                           F.col("span_end").cast("int").alias("span_end"),
                           (F.col("span_end") - F.col("span_start") + 1)
                               .cast("int").alias("n_tokens"),
                           F.col("n_windows").cast("int").alias("n_windows")))


def encode_documents(df: DataFrame, vocab: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Apply a trained vocabulary to the corpus — the tokenize step a
    pretraining pipeline runs between vocab build (vocab_table) and
    chunking/packing: each token becomes its vocabulary id, unknown
    tokens become −1 (the unk id), and the per-document id sequence is
    returned as a compact verifiable digest.

    Output: (id, n_tokens, n_oov, ids_hash) with ids_hash = md5 of the
    comma-joined ids IN TOKEN ORDER — payload-exact without shipping a
    giant int array through the comparator.

    Shape: posexplode → BROADCAST vocab join (a vocabulary is bounded
    by Heaps' law, ~millions of rows at 100 TB — the canonical
    broadcast-dim case, unlike the per-doc tf or idf tables that grow
    with the corpus and must stay shuffle joins) → one doc-keyed
    aggregation. Token order is restored with the same
    array_sort(collect_list(struct(pos, …))) reassembly the centroid
    builder uses — no per-doc window, one shuffle keyed by doc id.
    """
    toks = _tokens(F.lower(F.col(text_col)))
    pos = (df.filter(F.length(F.trim(F.col(text_col))) > 0)
             .select(F.col(id_col).alias("_doc"),
                     F.posexplode(toks).alias("pos", "token"))
             .filter(F.col("token") != ""))
    enc = (pos.join(F.broadcast(vocab.select("token", "token_id")),
                    "token", "left")
              .select("_doc", "pos",
                      F.coalesce(F.col("token_id"), F.lit(-1)).alias("tid")))
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "tid"))),
        lambda p: p["tid"].cast("string"))
    return (enc.groupBy("_doc")
               .agg(F.count(F.lit(1)).cast("int").alias("n_tokens"),
                    F.sum((F.col("tid") == -1).cast("int")).cast("int")
                     .alias("n_oov"),
                    F.md5(F.concat_ws(",", ordered)).alias("ids_hash"))
               .withColumnRenamed("_doc", id_col))


def keyword_search_all(df: DataFrame, terms: list[str], text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Conjunctive (AND) keyword search: documents containing EVERY query
    term as a whole token, with per-doc match stats — the inverted-index
    retrieval shape (postings are the exploded token rows; the query is
    a literal IN-list, so the "index probe" is a pushed-down filter that
    drops every non-matching token before any shuffle).

    Output: (id, n_hits total occurrences of query terms, n_terms
    distinct terms matched) — only docs matching ALL terms survive.

    One explode → filtered to |terms| tokens → one doc-keyed agg with
    map-side partials; HAVING count(distinct token) = len(terms) closes
    the conjunction. Postings never materialize for non-query tokens.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    toks = _tokens(F.lower(F.col(text_col)))
    hits = (df.filter(F.length(F.trim(F.col(text_col))) > 0)
              .select(F.col(id_col), F.explode(toks).alias("token"))
              .filter(F.col("token").isin([t.lower() for t in terms])))
    return (hits.groupBy(id_col)
                .agg(F.count(F.lit(1)).cast("int").alias("n_hits"),
                     F.countDistinct("token").cast("int").alias("n_terms"))
                .filter(F.col("n_terms") == len(set(t.lower() for t in terms))))


def remove_repeated_spans(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", w: int = 8) -> DataFrame:
    """The remediation half of substring dedup: cut every maximal
    cross-document repeated span (repeated_ngram_spans) OUT of each
    document and return the surviving token sequence — what Lee et al.
    2022 actually do to the corpus before training, as opposed to
    dropping whole near-duplicate documents.

    Output: one row per non-empty input doc — (id, n_tokens_before,
    n_tokens_after, n_removed, clean_hash) with clean_hash = md5 of the
    space-joined surviving tokens in original order (digest-verified
    payload, like encode_documents).

    Shape: spans explode into flagged (doc, pos) rows — |flagged
    windows| ≈ duplicated mass, not corpus size; the corpus tokens
    anti-join that set on (doc, pos) and reassemble with the
    array_sort(collect_list(struct(pos, token))) pattern. Shuffles: the
    span pipeline's digest groupBy + one (doc,pos)-keyed anti-join +
    one doc-keyed reassembly. Docs with nothing flagged pass through
    unchanged (n_removed = 0).
    """
    spans = repeated_ngram_spans(df, text_col, id_col, w)
    bad = spans.select(F.col(id_col).alias("_doc"),
                       F.explode(F.sequence("span_start", "span_end"))
                        .alias("pos"))
    toks = _tokens(F.lower(F.col(text_col)))
    pos = (df.filter(F.length(F.trim(F.col(text_col))) > 0)
             .select(F.col(id_col).alias("_doc"),
                     F.posexplode(toks).alias("_p0", "token"))
             .select("_doc", (F.col("_p0") + 1).alias("pos"), "token"))
    kept = pos.join(bad, ["_doc", "pos"], "left_anti")
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "token"))),
        lambda p: p["token"])
    out = (kept.groupBy("_doc")
               .agg(F.count(F.lit(1)).cast("int").alias("n_tokens_after"),
                    F.md5(F.concat_ws(" ", ordered)).alias("clean_hash")))
    totals = (pos.groupBy("_doc")
                 .agg(F.count(F.lit(1)).cast("int").alias("n_tokens_before")))
    return (totals.join(out, "_doc", "left")
            .select(F.col("_doc").alias(id_col),
                    "n_tokens_before",
                    F.coalesce(F.col("n_tokens_after"), F.lit(0)).cast("int")
                     .alias("n_tokens_after"),
                    (F.col("n_tokens_before")
                     - F.coalesce(F.col("n_tokens_after"), F.lit(0)))
                     .cast("int").alias("n_removed"),
                    F.coalesce(F.col("clean_hash"), F.md5(F.lit("")))
                     .alias("clean_hash")))


def bigram_logprob_score(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Perplexity-style quality scoring with a language model TRAINED ON
    THE CORPUS ITSELF (the CCNet move, with an n-gram LM standing in for
    the KenLM): add-one-smoothed bigram log-probabilities, averaged per
    document. Unusual token sequences score low; formulaic/boilerplate
    text scores high — the signal curation pipelines threshold on.

    Deterministic and oracle-checkable: counts are exact integers, the
    only transcendental is ln (rounded to 6 dp per bigram, the same
    cross-engine contract as model_quality_score's ln/sigmoid), and the
    per-doc mean divides an exact decimal sum of rounded terms by an
    exact count.

    Shape: two count tables (bigram, unigram — each one explode + one
    keyed groupBy with partials), the vocabulary size as a 1-row
    broadcast, then a per-doc join of its bigrams against the count
    tables. The bigram table is Heaps'-law-ish but larger than the
    vocab — it stays a SHUFFLE join on the bigram key (the same
    corpus-proportional-broadcast rule as tf/idf), while the unigram
    side piggybacks on the first token of the bigram key. Output:
    (id, n_bigrams, avg_logprob).
    """
    toks = _tokens(F.lower(F.col(text_col)))
    base = (df.filter(F.size(toks) >= 2)
              .select(F.col(id_col).alias("_doc"), toks.alias("_t")))
    pairs = (base.select(
        "_doc",
        F.explode(F.zip_with(
            F.slice(F.col("_t"), 1, F.size("_t") - 1),
            F.slice(F.col("_t"), 2, F.size("_t") - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))))
         .alias("bg"))
        .select("_doc", F.col("bg.w1").alias("w1"),
                F.col("bg.w2").alias("w2")))
    big_counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uni_counts = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab_n = (pairs.select(F.col("w1").alias("w")).union(
                   pairs.select(F.col("w2").alias("w")))
               .agg(F.countDistinct("w").alias("v")))
    scored = (pairs.join(big_counts, ["w1", "w2"])
                   .join(uni_counts, "w1")
                   .crossJoin(F.broadcast(vocab_n))
                   .select("_doc",
                           F.round(F.log((F.col("c2") + 1).cast("double")
                                         / (F.col("c1") + F.col("v"))), 6)
                            .alias("lp")))
    return (scored.groupBy("_doc")
            .agg(F.count(F.lit(1)).cast("int").alias("n_bigrams"),
                 F.round(F.sum(F.col("lp").cast("decimal(20,6)"))
                          .cast("double") / F.count(F.lit(1)), 6)
                  .alias("avg_logprob"))
            .withColumnRenamed("_doc", id_col))


def bm25_search(df: DataFrame, terms: list[str], k: int = 10,
                text_col: str = "text", id_col: str = "doc_id",
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Ranked retrieval: Okapi BM25 over whole-token matches — the
    scoring layer on top of keyword_search_all's boolean AND. Standard
    formulation, idf = ln(1 + (N − df + 0.5)/(df + 0.5)), tf saturated
    by k1 and length-normalized by b.

    Deterministic and oracle-checkable: tf/df/N/dl are exact integers,
    avgdl enters as an exact ratio (dl·N/Σdl — no premature rounding),
    ln is rounded to 6 dp per (doc, term) and the final score is an
    exact-decimal sum of rounded terms, so ranking ties break on id
    identically in both engines.

    Shape: the postings explode is filtered to the query's terms BEFORE
    any shuffle (the IN-list probe, as in keyword_search_all); df comes
    from a terms-only aggregation (≤|terms| rows, broadcast); doc
    length is a second narrow aggregation joined by doc id; top-k is a
    TakeOrdered. Nothing scales with vocabulary — only with |hits|.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    qterms = [t.lower() for t in terms]
    toks = _tokens(F.lower(F.col(text_col)))
    base = df.filter(F.length(F.trim(F.col(text_col))) > 0)
    lens = base.select(F.col(id_col), F.size(toks).alias("dl"))
    stats = lens.agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("dl").alias("sum_dl"))
    hits = (base.select(F.col(id_col), F.explode(toks).alias("token"))
                .filter(F.col("token").isin(qterms))
                .groupBy(id_col, "token")
                .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = (hits.groupBy("token")
                 .agg(F.countDistinct(id_col).alias("df")))
    scored = (hits.join(F.broadcast(dfreq), "token")
                  .join(lens, id_col)
                  .crossJoin(F.broadcast(stats)))
    idf = F.round(F.log(F.lit(1.0)
                        + (F.col("n_docs") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5)), 6)
    # dl/avgdl computed as dl*n_docs/sum_dl — exact integer products
    # inside the double division, identical fold both engines
    norm = (F.col("tf") * (k1 + 1)
            / (F.col("tf")
               + k1 * (1 - b + b * (F.col("dl") * F.col("n_docs"))
                       / F.col("sum_dl"))))
    per_term = F.round(idf * norm, 6).cast("decimal(20,6)")
    return (scored.groupBy(id_col)
            .agg(F.sum(per_term).cast("double").alias("score"),
                 F.countDistinct("token").cast("int").alias("n_terms"))
            .orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(k))


def source_token_divergence(df: DataFrame, text_col: str = "text",
                            source_col: str = "source") -> DataFrame:
    """Training-mix QA: how far each source's unigram distribution sits
    from the blended corpus — KL(P_source || P_corpus) in nats, plus the
    token volume and distinct-token counts the mixture designer reads it
    with. A source of boilerplate or a different language shows up as a
    high divergence; a source sampled FROM the blend shows ~0.

    KL needs no smoothing here because every source term exists in the
    corpus distribution by construction (Q(w) >= c_s(w)/n > 0 whenever
    P_s(w) > 0).

    Determinism contract (the same one the bigram LM and model-quality
    scorers use): the only transcendental — ln of the count ratio — is
    rounded to 6 dp per term, the weighted sum accumulates in exact
    DECIMAL (integer c_s x 6-dp term), and the single division by the
    source's token total happens once in double. Both engines therefore
    compute bit-identical results in any row order.

    Shape: one explode → per-(source, token) counts with map-side
    partials; the corpus table re-aggregates the per-source one (never
    the raw tokens); the join back is token-keyed and SHUFFLED — the
    per-token table is Heaps'-law-sized and must not be broadcast (the
    r07 rule). Scalars (corpus total) ride a 1-row broadcast.
    """
    toks = (df.filter(F.length(F.trim(F.col(text_col))) > 0)
              .select(F.col(source_col).alias("source"),
                      F.explode(_tokens(F.lower(F.col(text_col))))
                       .alias("token"))
              .filter(F.col("token") != ""))
    sc = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c_s"))
    cc = sc.groupBy("token").agg(F.sum("c_s").alias("c")).hint("shuffle_hash")
    tot_s = sc.groupBy("source").agg(
        F.sum("c_s").alias("n_s"),
        F.count(F.lit(1)).cast("int").alias("distinct_tokens"))
    tot = cc.agg(F.sum("c").alias("n"))
    term = F.round(F.log((F.col("c_s").cast("double") * F.col("n").cast("double"))
                         / (F.col("n_s").cast("double") * F.col("c").cast("double"))),
                   6).cast("decimal(20,6)")
    return (sc.join(cc, "token")
              .join(F.broadcast(tot_s), "source")
              .crossJoin(F.broadcast(tot))
              .groupBy("source")
              .agg(F.max("n_s").cast("long").alias("n_tokens"),
                   F.max("distinct_tokens").alias("distinct_tokens"),
                   F.round(F.sum(F.col("c_s") * term).cast("double")
                           / F.max("n_s").cast("double"), 6)
                    .alias("kl_vs_corpus")))


def bpe_train(df: DataFrame, text_col: str = "text", n_merges: int = 50,
              min_pair_count: int = 2,
              checkpoint_every: int = 8) -> tuple[list[tuple[str, str]], DataFrame]:
    """Distributed BPE tokenizer training (Sennrich et al. 2016): learn
    ``n_merges`` merge rules from the corpus. Returns the ordered merge
    list plus the final symbolized word histogram
    (word, count, syms: array<string>).

    Scale shape — the insight that makes tokenizer training cheap at
    100 TB: after ONE corpus pass builds the word histogram, every
    iteration runs on the histogram only (Heaps-law-sized: millions of
    rows for a web-scale corpus, never the corpus). Per iteration:

    * adjacent-pair counts via two ``slice``s + ``arrays_zip`` +
      explode, weighted by word count — one histogram-keyed
      aggregation with map-side partials;
    * the winning pair is a 1-row ``limit(1).collect()`` — the same
      bounded per-round convergence scalar kmeans_assign and
      connected_components use, NOT a data collect;
    * the merge rewrite is a left-fold ``F.aggregate`` over each
      symbol array (leftmost-first non-overlapping, matching the
      reference algorithm) — a pure codegen-able expression, no UDF;
    * lineage is truncated with a lazy ``localCheckpoint`` every
      ``checkpoint_every`` merges (the kmeans deep-iteration trade),
      else each rewrite nests the whole prior plan.

    Ties break deterministically: highest count, then (first, second)
    lexicographic ascending. Training stops early when the best pair's
    count drops below ``min_pair_count``.
    """
    words = (df.select(F.explode(_tokens(F.lower(F.col(text_col))))
                        .alias("word"))
               .filter(F.col("word") != "")
               .groupBy("word").agg(F.count(F.lit(1)).alias("count"))
               .withColumn("syms", F.concat(F.split(F.col("word"), ""),
                                            F.array(F.lit("</w>")))))

    merges: list[tuple[str, str]] = []
    for it in range(n_merges):
        n = F.size("syms")
        pairs = (words
                 .filter(n >= 2)
                 .select("count",
                         F.explode(F.arrays_zip(
                             F.slice("syms", 1, n - 1).alias("a"),
                             F.slice("syms", 2, n - 1).alias("b")))
                          .alias("p"))
                 .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                 .agg(F.sum("count").alias("total"))
                 .orderBy(F.col("total").desc(), F.col("a").asc(),
                          F.col("b").asc())
                 .limit(1).collect())
        if not pairs or pairs[0]["total"] < min_pair_count:
            break
        a, b = pairs[0]["a"], pairs[0]["b"]
        merges.append((a, b))
        joined = a + b
        words = words.withColumn(
            "syms",
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
                    F.concat(F.slice(acc, 1, F.size(acc) - 1),
                             F.array(F.lit(joined))))
                 .otherwise(F.concat(acc, F.array(x)))))
        if (it + 1) % checkpoint_every == 0:
            words = words.localCheckpoint(eager=False)
    return merges, words


def bpe_vocab(words: DataFrame) -> DataFrame:
    """Subword vocabulary from a trained histogram: corpus frequency per
    final symbol (one explode + one aggregation)."""
    return (words.select("count", F.explode("syms").alias("symbol"))
                 .groupBy("symbol").agg(F.sum("count").alias("count")))


@cache_scope()
def train_quality_classifier(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", iters: int = 3,
                             lr: float = 0.5) -> DataFrame:
    """TRAIN the quality classifier instead of shipping literal weights:
    distributed logistic regression (full-batch gradient descent,
    ``iters`` unrolled steps from w = 0) over the same three features
    `model_quality_score` scores with, distilling that hand-set
    teacher's keep/filter verdicts into learned weights — the
    weak-supervision → classifier loop a CCNet/fastText-style curation
    pipeline runs when it replaces heuristics with a model.

    Per iteration: ONE keyed-nothing aggregation over the corpus (4
    partial-agg sums + a count; map-side combined, ~bytes of shuffle)
    and a 1-row collect of the updated weights — the k-means /
    connected-components "1-row training scalar per round" precedent;
    nothing else leaves the executors, nothing scales with corpus².
    At 100 TB each iteration IS a full corpus pass, so ``iters`` is the
    dominant cost knob: the measured curve (PLANS.md "r09 A/B") shows
    thresholded agreement with the teacher saturating at ONE step on
    class-imbalanced data, with further steps buying only slow
    probability calibration — choose ``iters`` against a held-out
    calibration target, not agreement.

    Cross-engine exactness (the repo's certify-the-approximate
    convention): features are SCALED INTEGERS (round(f × 1e6) — ratios
    of exact ints / a rounded transcendental, never a product at a
    decimal boundary), the per-row gradient contribution is an INT64
    product summed in DECIMAL(38,0) — exact, order-independent, no
    double-accumulation drift — and each weight update rounds to 6 dp
    IN-ENGINE before collection, so the DuckDB oracle unrolling the
    same ``iters`` steps reproduces bit-identical weights, scores, and
    verdicts. Output: (doc_id, p_trained, predicted, teacher_verdict,
    agree)."""
    text = F.col(text_col)
    toks = _tokens(F.lower(text))
    n_tokens = F.size(toks).cast("int")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("int")
    n_chars = F.length(text).cast("int")
    n_alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", "")).cast("int")
    fstop6 = F.round(n_stop.cast("double") * 1000000.0 / n_tokens).cast("long")
    falpha6 = F.round(n_alpha.cast("double") * 1000000.0 / n_chars).cast("long")
    flntok6 = F.round(F.log(F.lit(1.0) + n_tokens) * 1000000.0).cast("long")
    # teacher: model_quality_score's exact formula (6-dp features,
    # unrounded logit, 6-dp sigmoid)
    f_stop = F.round(n_stop.cast("double") / n_tokens, 6)
    f_alpha = F.round(n_alpha.cast("double") / n_chars, 6)
    f_lntok = F.round(F.log(F.lit(1.0) + n_tokens), 6)
    tw = QUALITY_MODEL_WEIGHTS
    tz = (F.lit(tw["bias"]) + F.lit(tw["stopword_ratio"]) * f_stop
          + F.lit(tw["alpha_ratio"]) * f_alpha
          + F.lit(tw["ln1p_tokens"]) * f_lntok)
    tprob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-tz)), 6)
    feat = _persist(df.filter(F.length(F.trim(text)) > 0)
                    .select(F.col(id_col), fstop6.alias("fstop6"),
                            falpha6.alias("falpha6"),
                            flntok6.alias("flntok6"),
                            F.when(tprob >= 0.5, 1).otherwise(0)
                             .cast("long").alias("y")))
    D38 = "decimal(38,0)"
    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(iters):
        z = (F.lit(w[0])
             + F.lit(w[1]) * (F.col("fstop6") / 1000000.0)
             + F.lit(w[2]) * (F.col("falpha6") / 1000000.0)
             + F.lit(w[3]) * (F.col("flntok6") / 1000000.0))
        sig6 = (F.round(F.lit(1000000.0) / (F.lit(1.0) + F.exp(-z)))
                .cast("long"))
        err = sig6 - F.col("y") * 1000000
        agg = feat.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((err * 1000000).cast(D38)).alias("s0"),
            F.sum((err * F.col("fstop6")).cast(D38)).alias("s1"),
            F.sum((err * F.col("falpha6")).cast(D38)).alias("s2"),
            F.sum((err * F.col("flntok6")).cast(D38)).alias("s3"))
        row = agg.select(*[
            F.round(F.lit(w[j]) - F.lit(lr)
                    * (F.col(f"s{j}").cast("double")
                       / (F.lit(1000000000000.0)
                          * F.col("n").cast("double"))), 6)
             .alias(f"w{j}") for j in range(4)]).collect()[0]
        w = [row[f"w{j}"] for j in range(4)]
    zf = (F.lit(w[0])
          + F.lit(w[1]) * (F.col("fstop6") / 1000000.0)
          + F.lit(w[2]) * (F.col("falpha6") / 1000000.0)
          + F.lit(w[3]) * (F.col("flntok6") / 1000000.0))
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-zf)), 6)
    predicted = F.when(p >= 0.5, "keep").otherwise("filter")
    teacher = F.when(F.col("y") == 1, "keep").otherwise("filter")
    out = feat.select(
        F.col(id_col), p.alias("p_trained"),
        predicted.alias("predicted"), teacher.alias("teacher_verdict"),
        (predicted == teacher).alias("agree"))
    # materialization happens on the caller's action; the persist is
    # only needed during the training loop's aggregates, so this
    # call's scope releases it on return
    return out


def _bigram_pairs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, w1, w2) bigram rows over lowercased whitespace tokens — the
    shared front end of bigram_logprob_score / dsir_importance_weights."""
    toks = _tokens(F.lower(F.col(text_col)))
    base = (df.filter(F.size(toks) >= 2)
              .select(F.col(id_col).alias("_doc"), toks.alias("_t")))
    return (base.select(
        "_doc",
        F.explode(F.zip_with(
            F.slice(F.col("_t"), 1, F.size("_t") - 1),
            F.slice(F.col("_t"), 2, F.size("_t") - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))))
         .alias("bg"))
        .select("_doc", F.col("bg.w1").alias("w1"),
                F.col("bg.w2").alias("w2")))


def dsir_importance_weights(raw: DataFrame, target: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): per raw-corpus doc,
    log_weight = mean bigram log-probability under an add-one-smoothed
    LM trained on the TARGET domain minus the same under the RAW-corpus
    LM — docs that look like the target domain get weight > 1, generic
    docs < 1. This is the length-normalized (per-bigram mean) variant:
    the paper's summed form makes exp() overflow for long documents,
    while the mean stays in exp(±~10) and still orders docs by
    domain-likeness. Feed the ``weight`` column to
    sampling.weighted_sample_topk for the resampling step (the
    composed registry query dsir_importance_sample does exactly that).

    Cross-engine exactness: counts are exact ints; a raw bigram absent
    from the target LM scores via the same smoothing with COALESCEd
    zero counts (never dropped); ln is rounded 6 dp per bigram and
    per-doc means divide exact decimal sums (the bigram_logprob_score
    contract); log_weight is the unrounded difference of two such means
    (identical doubles on both engines); only the final exp is rounded
    (6 dp — weights below 5e-7 round to 0 and are excluded by A-ES's
    w > 0 rule, i.e. docs more than ~14.5 nats off-domain have zero
    selection probability).

    Shape: two (bigram → count) tables, both joined to the raw corpus's
    bigram rows by SHUFFLE on the bigram key (both LM tables grow with
    their corpora — the tf/idf no-broadcast rule); vocab sizes are
    1-row broadcasts. Output: (id, n_bigrams, lp_target, lp_raw,
    log_weight, weight)."""
    pairs = _bigram_pairs(raw, text_col, id_col)
    tpairs = _bigram_pairs(target, text_col, id_col)

    def lm_score(p, lm_pairs, alias):
        bc = lm_pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
        uc = lm_pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
        v = (lm_pairs.select(F.col("w1").alias("w")).union(
                 lm_pairs.select(F.col("w2").alias("w")))
             .agg(F.countDistinct("w").alias("v")))
        lp = F.round(F.log((F.coalesce(F.col("c2"), F.lit(0)) + 1)
                           .cast("double")
                           / (F.coalesce(F.col("c1"), F.lit(0))
                              + F.col("v"))), 6)
        return (p.join(bc, ["w1", "w2"], "left")
                 .join(uc, "w1", "left")
                 .crossJoin(F.broadcast(v))
                 .select("_doc", lp.alias("lp"))
                 .groupBy("_doc")
                 .agg(F.count(F.lit(1)).cast("int").alias(f"n_{alias}"),
                      F.round(F.sum(F.col("lp").cast("decimal(20,6)"))
                               .cast("double") / F.count(F.lit(1)), 6)
                       .alias(f"lp_{alias}")))

    t = lm_score(pairs, tpairs, "target")
    r = lm_score(pairs, pairs, "raw")
    lw = F.col("lp_target") - F.col("lp_raw")
    return (t.join(r, "_doc")
             .select(F.col("_doc").alias(id_col),
                     F.col("n_raw").alias("n_bigrams"),
                     "lp_target", "lp_raw",
                     lw.alias("log_weight"),
                     F.round(F.exp(lw), 6).alias("weight")))


def dsir_hashed_importance_weights(raw: DataFrame, target: DataFrame,
                                   text_col: str = "text",
                                   id_col: str = "doc_id",
                                   buckets: int = 10_000) -> DataFrame:
    """DSIR importance weights over HASHED bigram features — the form
    Xie et al. 2023 actually run (§3: n-grams hashed into 10k buckets):
    every bigram maps to ``hash(w1 ⊔ w2) mod buckets``, so both language
    models collapse to bucket-count tables of AT MOST ``buckets`` rows —
    a size bounded by a constant of the operator, not by corpus
    vocabulary. That bound is the 100 TB lever the raw-bigram variant
    (`dsir_importance_weights`, kept as the exact-feature twin) lacks:
    its LM tables grow with corpus vocabulary (Heaps' law) and must be
    shuffle-joined on the bigram key — the r08 8× probe measured ratio
    3.00 from exactly that token shuffle — while here the scoring joins
    are plain broadcast lookups and the only corpus-proportional
    shuffles left are the per-doc mean and the LM groupBys, whose
    map-side partials emit ≤ ``buckets`` rows per task.

    Model: add-one smoothing over the bucket space — p(bucket | LM) =
    (count[bucket] + 1) / (N + buckets), N = the LM corpus's total
    bigram count. log_weight = mean-per-bigram ln p under the TARGET LM
    minus the same under the RAW LM (the length-normalized variant, see
    the twin's docstring for why not the paper's summed form). Regime
    note: when N << buckets (toy corpora) the add-one mass dominates
    both LMs and shifts every log-weight down — the exact twin's
    on-domain ⇒ log_weight > 0 sign property only returns once counts
    dominate (N >> buckets, the pretraining regime the paper assumes).
    The ORDERING the resampler consumes holds at any scale.

    Cross-engine exactness: counts and N are exact ints; the bucket is
    the shared md5-prefix hash (hashing.base_hash — bit-identical in
    DuckDB); ln is rounded 6 dp per bigram, per-doc means divide exact
    DECIMAL(20,6) sums, and only the final exp is rounded (6 dp).

    Broadcast bounds (the eccd529 contract): ``lm`` ≤ ``buckets`` rows
    by construction, ``tot`` is a 1-row scalar — both schema-bounded,
    never business-volume-bounded."""
    from airline_data_warehouse_spark.operators.hashing import base_hash

    def bucketed(df: DataFrame) -> DataFrame:
        p = _bigram_pairs(df, text_col, id_col)
        return p.select(
            "_doc",
            (base_hash(F.concat_ws(" ", "w1", "w2")) % buckets)
            .alias("bucket"))

    pairs = bucketed(raw)
    tpairs = bucketed(target)

    def lm_score(p, lm_pairs, alias):
        lm = lm_pairs.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
        tot = lm_pairs.agg(F.count(F.lit(1)).alias("n"))
        lp = F.round(F.log((F.coalesce(F.col("c"), F.lit(0)) + 1)
                           .cast("double")
                           / (F.col("n") + F.lit(buckets))), 6)
        return (p.join(F.broadcast(lm), "bucket", "left")
                 .crossJoin(F.broadcast(tot))
                 .select("_doc", lp.alias("lp"))
                 .groupBy("_doc")
                 .agg(F.count(F.lit(1)).cast("int").alias(f"n_{alias}"),
                      F.round(F.sum(F.col("lp").cast("decimal(20,6)"))
                               .cast("double") / F.count(F.lit(1)), 6)
                       .alias(f"lp_{alias}")))

    t = lm_score(pairs, tpairs, "target")
    r = lm_score(pairs, pairs, "raw")
    lw = F.col("lp_target") - F.col("lp_raw")
    return (t.join(r, "_doc")
             .select(F.col("_doc").alias(id_col),
                     F.col("n_raw").alias("n_bigrams"),
                     "lp_target", "lp_raw",
                     lw.alias("log_weight"),
                     F.round(F.exp(lw), 6).alias("weight")))


def token_cooccurrence_pmi(df: DataFrame, window: int = 2,
                           min_count: int = 5, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Pointwise mutual information over within-window token pairs —
    the classic distributional-semantics table (Church & Hanks 1990)
    a pipeline builds before count-based embeddings (PPMI+SVD), for
    collocation mining, or as a phrase detector:
    PMI(a,b) = ln p(a,b) − ln p(a) − ln p(b), with p(a,b) from
    unordered co-occurrences within ``window`` positions and p(·) from
    unigram counts.

    Spark-first shape: pairs are generated IN-ROW — for each distance
    d in 1..window, zip the token array against itself shifted by d —
    so there is NO positional self-join; the only shuffles are the
    (w1, w2)- and token-keyed aggregations, whose Zipf-skewed hot keys
    collapse map-side (partial aggregation) before moving.
    ``min_count`` bounds the output table (the Heaps'/Zipf tail is
    noise below it — standard PMI practice, and PMI of rare pairs is
    degenerate anyway).

    Determinism contract (the source_token_divergence convention): the
    five ln terms — ln pair_n, ln c1, ln c2, ln T, ln N, each ln of an
    integer-valued double — are rounded 6 dp individually and summed
    exactly in DECIMAL, so no product ever approaches 2^53 and both
    engines agree in any row order. Pairs are canonicalized unordered
    (w1 <= w2); a repeated token within the window co-occurs with
    itself (counted once per position pair, like any other pair).

    Output: (w1, w2, pair_n, c1, c2, pmi)."""
    arr = F.filter(_tokens(F.lower(F.col(text_col))),
                   lambda x: x != F.lit(""))
    docs = (df.filter(F.length(F.trim(F.col(text_col))) > 0)
            .select(arr.alias("_a")))
    # slice length clamps at 0 so a doc shorter than the window yields
    # no pairs at that distance instead of a negative-length error
    pair_arrays = F.flatten(F.transform(
        F.sequence(F.lit(1), F.lit(window)),
        lambda d: F.zip_with(
            F.slice(F.col("_a"), F.lit(1),
                    F.greatest(F.size("_a") - d, F.lit(0))),
            F.slice(F.col("_a"), d + 1,
                    F.greatest(F.size("_a") - d, F.lit(0))),
            lambda x, y: F.struct(F.least(x, y).alias("w1"),
                                  F.greatest(x, y).alias("w2")))))
    pairs = (docs.filter(F.size("_a") >= 2)
             .select(F.explode(pair_arrays).alias("p"))
             .select("p.w1", "p.w2"))
    pc = (pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_n"))
          .filter(F.col("pair_n") >= min_count))
    toks = docs.select(F.explode("_a").alias("token"))
    uni = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    tot = (pairs.agg(F.count(F.lit(1)).alias("t"))
           .crossJoin(toks.agg(F.count(F.lit(1)).alias("n"))))

    def _ln6(c):
        return F.round(F.log(c.cast("double")), 6).cast("decimal(20,6)")

    u1 = uni.select(F.col("token").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("c").alias("c2"))
    return (pc.join(u1, "w1").join(u2, "w2")
            .crossJoin(F.broadcast(tot))
            .select("w1", "w2", "pair_n", "c1", "c2",
                    (_ln6(F.col("pair_n")) - _ln6(F.col("t"))
                     - _ln6(F.col("c1")) - _ln6(F.col("c2"))
                     + F.lit(2).cast("decimal(20,6)") * _ln6(F.col("n")))
                    .cast("double").alias("pmi")))
