"""Media near-dup scale probe (VERDICT r08 item 7): time
audio_near_dup_pairs and image_near_dup_pairs at 1× and N× synthetic
corpora to verify near-linear scaling of the pigeonhole hamming join
they share with text SimHash. The testdata tables carry no binary
media, so payloads are synthesized deterministically — WAV clips with
random 64-segment loud/quiet energy patterns and raw uint8 pixel
buffers — with 2% planted near-dup twins per corpus (a copy with 3
flipped segments / a brightness-shifted copy) so the verify stage has
real pairs to confirm at every scale.

Usage: python tools/media_probe.py [factor] [n_base]   (default 8 512)
Prints one JSON line: per-operator 1×/N× medians, ratios, pair counts.
"""

from __future__ import annotations

import io
import json
import os
import random
import struct
import sys
import time
import wave

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SEG_LEN = 64          # samples per energy segment
N_SEGS = 64           # segments per clip → 64-bit fingerprint


def wav_payload(rng: random.Random, pattern: list[int]) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        frames = b""
        for is_loud in pattern:
            amp = 12000 if is_loud else 600
            frames += b"".join(
                struct.pack("<h", amp if i % 2 == 0 else -amp)
                for i in range(SEG_LEN))
        wf.writeframes(frames)
    return buf.getvalue()


def build_audio(spark, n: int):
    rng = random.Random(42)
    rows = []
    for i in range(n):
        pattern = [rng.randint(0, 1) for _ in range(N_SEGS)]
        rows.append((i, wav_payload(rng, pattern), "audio", "audio/wav"))
        if i % 50 == 0:  # planted near-dup: 3 segments flipped
            twin = list(pattern)
            for j in (3, 17, 42):
                twin[j] ^= 1
            rows.append((1_000_000 + i, wav_payload(rng, twin),
                         "audio", "audio/wav"))
    from airline_data_warehouse_spark.operators.multimodal import MEDIA_SCHEMA
    return spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(32)


def build_images(spark, n: int):
    rng = random.Random(43)
    rows = []
    h = w = 32
    for i in range(n):
        px = bytes(rng.randrange(256) for _ in range(h * w * 3))
        rows.append((i, h, w, 3, px))
        if i % 50 == 0:  # planted near-dup: uniform brightness shift
            shifted = bytes(min(255, b + 10) for b in px)
            rows.append((1_000_000 + i, h, w, 3, shifted))
    from airline_data_warehouse_spark.operators.multimodal import PIXEL_SCHEMA
    return spark.createDataFrame(rows, PIXEL_SCHEMA).repartition(32)


def median3(fn) -> tuple[float, int]:
    from airline_data_warehouse_spark.operators.dedup import cache_scope

    times, n_pairs = [], 0
    for _ in range(3):
        t0 = time.time()
        with cache_scope():
            n_pairs = fn().count()
            times.append(time.time() - t0)
    return round(sorted(times)[1], 2), n_pairs


def main() -> int:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n_base = int(sys.argv[2]) if len(sys.argv) > 2 else 512

    from pyspark.sql import SparkSession

    from airline_data_warehouse_spark.operators import multimodal as mm
    from airline_data_warehouse_spark.operators.dedup import (
        _persist,
        cache_scope,
    )

    spark = (SparkSession.builder.appName("media-probe")
             .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    out = {"factor": factor, "n_base": n_base, "queries": {}}
    for name, build, run in (
            ("audio_near_dup_pairs", build_audio,
             lambda df: mm.audio_near_dup_pairs(df)),
            ("image_near_dup_pairs", build_images,
             lambda df: mm.image_near_dup_pairs(df))):
        with cache_scope():
            small = _persist(build(spark, n_base))
            big = _persist(build(spark, n_base * factor))
            small.count(), big.count()   # materialize outside the timing
            base_s, base_pairs = median3(lambda: run(small))
            scaled_s, scaled_pairs = median3(lambda: run(big))
        out["queries"][name] = {
            "base_s": base_s, "scaled_s": scaled_s,
            "ratio": round(scaled_s / base_s, 2),
            "base_pairs": base_pairs, "scaled_pairs": scaled_pairs}
        print(f"{name}: 1x {base_s}s ({base_pairs} pairs) "
              f"{factor}x {scaled_s}s ({scaled_pairs} pairs)", flush=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
