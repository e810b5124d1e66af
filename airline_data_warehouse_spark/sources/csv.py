"""CSV sources: header scan, header-only peek, headerless positional scan,
and signature-based file-type detection (SURVEY §2.1 S1-S4).

The reference reads CSVs row-at-a-time into JS objects
(smartFileProcessor.js:213-222) and detects type by matching header
column-sets against its fileSignatures registry (:15-104). Note its
exact-match path compares trimmed headers to lowercased names and so can
never fire — everything falls through to fuzzy matching; we implement
the intent (case-insensitive signature match first, fuzzy second).

Every column is read as a raw string: typing happens in the cleaning
expressions so that un-parseable values reach quarantine instead of
being silently nulled by the reader (the reference's dirty-row model).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airline_data_warehouse_spark.schemas import (
    FILE_SIGNATURES,
    FileSignature,
    raw_string_schema,
)
from airline_data_warehouse_spark.sources.atomic import _fs


def read_headers(spark: SparkSession, path: str) -> list[str]:
    """S2 — peek at the header row only, on the driver: no Spark job.

    Reads the first line of the file as ``spark.read.text(path)`` would:
    through the path's Hadoop FileSystem (`sources.atomic._fs`, so
    non-local paths work), decompressed by the codec Hadoop picks from
    the file name (a ``.csv.gz`` reads as text), split by Hadoop's
    ``LineReader`` (``\\n``, ``\\r`` or ``\\r\\n``), decoded as UTF-8,
    with a leading UTF-8 byte-order mark skipped as the text source
    skips it. An empty file has no header row."""
    jvm = spark._jvm
    hpath, fs = _fs(spark, path)
    file = hpath(path)
    codec = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(
        spark._jsc.hadoopConfiguration()).getCodec(file)
    stream = fs.open(file)
    try:
        if codec is not None:
            stream = codec.createInputStream(stream)
        line = jvm.org.apache.hadoop.io.Text()
        if not jvm.org.apache.hadoop.util.LineReader(stream).readLine(line):
            return []
        first = line.toString().removeprefix("\ufeff")
    finally:
        stream.close()
    return [h.strip() for h in first.split(",")]


def detect_file_type(headers: list[str]) -> FileSignature | None:
    """S4 — signature match on the header column-set, then fuzzy fallback
    (substring on header names), else None ('unknown')."""
    lower = {h.strip().lower() for h in headers}
    for sig in FILE_SIGNATURES:
        if sig.headerless or not sig.required:
            continue
        if {c.lower() for c in sig.required} <= lower:
            if sig.amount_hints and not ({c.lower() for c in sig.amount_hints} & lower):
                continue
            return sig
    by_type = {s.file_type: s for s in FILE_SIGNATURES}

    def any_contains(sub: str) -> bool:
        return any(sub in h for h in lower)

    if any_contains("passenger"):
        return by_type["passengers"]
    if any_contains("airport"):
        return by_type["airports"]
    if any_contains("airline"):
        return by_type["airlines"]
    if any_contains("flight"):
        return by_type["flights"]
    if any_contains("transaction"):
        if any_contains("datekey") or any_contains("corporate"):
            return by_type["corporate_sales"]
        return by_type["travel_agency_sales"]
    return None


def read_csv(spark: SparkSession, path: str, columns: list[str],
             header: bool = True) -> DataFrame:
    """S1/S3 — read a CSV with every column as a string, plus a `_line_no`
    input-order column (keep-first dedup semantics are positional, W2).

    `_line_no` is a struct ``(file, block, seq)`` ordered exactly like the
    bytes on disk: file path, then the split's `_metadata.file_block_start`
    byte offset, then `monotonically_increasing_id()` as the intra-split
    sequence (a split is consumed by one task in file order, and the id is
    monotone within a task). Struct comparison is lexicographic, so
    ``orderBy("_line_no")`` reproduces file order even when one file is cut
    into many splits or a multi-file glob is read — unlike a bare
    monotonically_increasing_id, whose partition-major order follows split
    *scheduling*, not byte order. Across files the order is lexicographic
    by path; callers that need upload order (pipeline.process_files) read
    one file per call and sequence the calls themselves.
    """
    df = (spark.read
          .option("header", str(header).lower())
          .option("mode", "PERMISSIVE")
          .schema(raw_string_schema(columns))
          .csv(path)
          .select("*",
                  F.col("_metadata.file_path").alias("_src_file"),
                  F.col("_metadata.file_block_start").alias("_block_start")))
    line_no = F.struct(F.col("_src_file").alias("file"),
                       F.col("_block_start").alias("block"),
                       F.monotonically_increasing_id().alias("seq"))
    return df.withColumn("_line_no", line_no).drop("_block_start")


def read_detected(spark: SparkSession, path: str) -> tuple[FileSignature | None, DataFrame | None]:
    """Full smart-source path: peek headers → detect → schema-bound read.
    Launches no Spark job: the peek reads on the driver and the read is
    lazy, with its schema given.

    Headerless detection: if no signature matches the header row AND the
    first line looks like data (no alphabetic header tokens beyond quotes),
    fall back to the positional corporate format — mirroring the intent of
    the reference's DateKey fuzzy hint (smartFileProcessor.js:95-100).
    """
    headers = read_headers(spark, path)
    sig = detect_file_type(headers)
    if sig is None and headers and not any(h.strip("' ").replace(".", "").replace("-", "").isalpha()
                                           for h in headers):
        sig = next(s for s in FILE_SIGNATURES if s.headerless)
    if sig is None:
        return None, None
    if sig.headerless:
        return sig, read_csv(spark, path, list(sig.positional_columns), header=False)
    cols = [h.strip() for h in headers]
    return sig, read_csv(spark, path, cols, header=True)
