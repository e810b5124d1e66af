"""Exercise the REAL media decoders (`_decode_real`) with genuine tiny
fixtures, so the non-fake path stops being dead code in CI (VERDICT r04
item 7). Fixtures are built in-test: a wave-module WAV, a hand-assembled
1×1 PNG, and a minimal JPEG with a real SOF0 marker — all valid files a
production decoder would accept.

Reference parity: smartFileProcessor.js treats attachments as opaque
blobs + metadata; our decode seam extracts the typed metadata
(width/height/duration/checksum) Spark-side via Arrow mapInPandas.
"""
from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib

import pytest

from airline_data_warehouse_spark.operators.multimodal import (
    _decode_real,
    _png_jpeg_dims,
    decode_media,
    sniff_media_type,
)


def make_wav(n_frames: int = 800, rate: int = 8000) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(b"\x00\x01" * n_frames)
    return buf.getvalue()


def make_png(width: int = 3, height: int = 2) -> bytes:
    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)  # 8-bit gray
    raw = b"".join(b"\x00" + b"\x7f" * width for _ in range(height))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def make_jpeg(width: int = 5, height: int = 4, fill_bytes: int = 0) -> bytes:
    """Minimal JPEG with real SOF0 *and* SOS segments: Pillow's open()
    parses markers up to SOS (it only validates scan data on load()), so
    the fixture is accepted on both the PIL and the stdlib-header path.
    ``fill_bytes`` inserts legal 0xFF padding before SOF0 (JPEG B.1.1.2)."""
    soi = b"\xff\xd8"
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" \
        + struct.pack(">HH", height, width) + b"\x01\x11\x00"
    sos = b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"
    scan = b"\x00" * 4
    return soi + app0 + b"\xff" * fill_bytes + sof0 + sos + scan + b"\xff\xd9"


def test_decode_real_wav_duration():
    payload = make_wav(n_frames=800, rate=8000)  # exactly 100 ms
    w, h, dur, checksum = _decode_real(payload, "audio")
    assert (w, h) == (None, None)
    assert dur == 100
    assert checksum == hashlib.md5(payload).hexdigest()


def test_decode_real_png_dims():
    payload = make_png(width=3, height=2)
    w, h, dur, checksum = _decode_real(payload, "image")
    assert (w, h, dur) == (3, 2, None)
    assert checksum == hashlib.md5(payload).hexdigest()


def test_decode_real_jpeg_dims():
    payload = make_jpeg(width=5, height=4)
    w, h, _, _ = _decode_real(payload, "image")
    assert (w, h) == (5, 4)


def test_header_parser_rejects_non_image():
    assert _png_jpeg_dims(b"not an image at all") is None


def test_header_parser_skips_jpeg_fill_bytes():
    # 0xFF padding before a marker is legal (JPEG B.1.1.2); the scanner
    # must skip it rather than read a bogus length field (ADVICE r05)
    assert _png_jpeg_dims(make_jpeg(5, 4, fill_bytes=3)) == (5, 4)


def test_header_parser_stops_at_sos():
    # SOF must precede SOS; a stream whose first tables-marker is SOS has
    # no parseable dims and must return None, not scan entropy-coded data
    soi_sos_only = (b"\xff\xd8\xff\xda" + struct.pack(">H", 8)
                    + b"\x01\x01\x00\x00\x3f\x00" + b"\xff\xc0\x99\x99"
                    + b"\xff\xd9")
    assert _png_jpeg_dims(soi_sos_only) is None


def test_decode_real_video_names_missing_dependency():
    try:
        import av  # noqa: F401
        pytest.skip("pyav present; guard can't fire")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="PyAV"):
        _decode_real(b"\x1aE\xdf\xa3garbage", "video")


def test_decode_media_real_path_end_to_end(spark):
    """The full Spark seam — sniff + mapInPandas decode — on real bytes,
    deterministic_fake=False."""
    rows = [(1, make_png(7, 9), "image"),
            (2, make_jpeg(11, 6), "image"),
            (3, make_wav(1600, 8000), "audio")]
    df = spark.createDataFrame(rows, "media_id long, payload binary, media_type string")
    sniffed = {r["media_id"]: (r["sniffed_type"], r["sniffed_mime"])
               for r in sniff_media_type(df).collect()}
    assert sniffed == {1: ("image", "image/png"),
                       2: ("image", "image/jpeg"),
                       3: ("audio", "audio/wav")}
    decoded = {r["media_id"]: r for r in
               decode_media(df, deterministic_fake=False).collect()}
    assert (decoded[1]["width"], decoded[1]["height"]) == (7, 9)
    assert (decoded[2]["width"], decoded[2]["height"]) == (11, 6)
    assert decoded[3]["duration_ms"] == 200
    for mid, src in ((1, rows[0][1]), (2, rows[1][1]), (3, rows[2][1])):
        assert decoded[mid]["checksum"] == hashlib.md5(src).hexdigest()


def make_patterned_wav(pattern, seg_len: int = 100, loud: int = 16384,
                       quiet: int = 1638, scale: float = 1.0) -> bytes:
    """WAV whose per-segment loudness follows ``pattern`` (one bool per
    segment): alternating-amplitude square waves, optionally gain-scaled."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        frames = b""
        for is_loud in pattern:
            amp = int((loud if is_loud else quiet) * scale)
            frames += b"".join(
                struct.pack("<h", amp if i % 2 == 0 else -amp)
                for i in range(seg_len))
        wf.writeframes(frames)
    return buf.getvalue()


def test_audio_fingerprint_int64_overflow_fallback(spark):
    """The integer-exact fingerprint's wide-sample path: 32-bit
    full-scale PCM squares at 2^62 overflow an int64 window sum, so the
    operator must take the Python-int fallback and still match a plain
    Python reference computed with unbounded ints."""
    import io
    import struct
    import wave

    from airline_data_warehouse_spark.operators.multimodal import (
        audio_fingerprint,
    )

    vals = [(2 ** 31 - 1) if (i // 2) % 3 == 0 else -(2 ** 31 - 1) // 7
            for i in range(128)]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(4)
        wf.setframerate(8000)
        wf.writeframes(struct.pack(f"<{len(vals)}i", *vals))
    payload = buf.getvalue()

    df = spark.createDataFrame([(1, bytearray(payload), "audio", None)],
                               "media_id long, payload binary, "
                               "media_type string, mime string")
    got = audio_fingerprint(df, n_frames=64).collect()[0]["afp"]

    # unbounded-int reference on the same window layout
    windows = [vals[i * 2:(i + 1) * 2] for i in range(64)]
    energies = [sum(v * v for v in w) for w in windows]
    total = sum(energies)
    ref = 0
    for e in energies:
        ref = (ref << 1) | int(64 * e > total)
    if ref >= 1 << 63:
        ref -= 1 << 64
    assert got == ref


def test_audio_fingerprint_gain_invariant_near_dup(spark):
    """The audio energy fingerprint pins its contract: a gain-scaled
    copy hashes IDENTICALLY (windows compare to the mean, which
    scales with them), a copy with 3 of 64 segments' loudness flipped
    lands within the hamming budget, and the inverted-pattern signal is
    far. audio_near_dup_pairs flags exactly the near pairs; a too-short
    clip fingerprints NULL and never pairs."""
    from airline_data_warehouse_spark.operators import multimodal as mm
    from airline_data_warehouse_spark.operators.dedup import cache_scope

    base = [i % 2 == 0 for i in range(64)]
    edited = list(base)
    for i in (5, 21, 40):
        edited[i] = not edited[i]
    inverted = [not b for b in base]
    rows = [
        (1, bytearray(make_patterned_wav(base)), "audio", None),
        (2, bytearray(make_patterned_wav(base, scale=0.25)), "audio", None),
        (3, bytearray(make_patterned_wav(edited)), "audio", None),
        (4, bytearray(make_patterned_wav(inverted)), "audio", None),
        (5, bytearray(make_wav(n_frames=10)), "audio", None),  # too short
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    fps = {r["media_id"]: r["afp"] for r in
           mm.audio_fingerprint(media).collect()}
    assert fps[1] == fps[2]                      # gain invariance, exact
    assert bin((fps[1] ^ fps[3]) & ((1 << 64) - 1)).count("1") == 3
    assert bin((fps[1] ^ fps[4]) & ((1 << 64) - 1)).count("1") == 64
    assert fps[5] is None

    with cache_scope():
        pairs = {(r["id1"], r["id2"]): r["hamming"] for r in
                 mm.audio_near_dup_pairs(media, max_hamming=4).collect()}
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 3 and pairs[(2, 3)] == 3
    assert not any(4 in p or 5 in p for p in pairs)


def test_video_frame_decode_fingerprint_and_segments(spark):
    """Video near-dup family (fake-decode seam, no PyAV needed): a
    clipped copy's fingerprint is the original's shifted by the clip,
    and video_near_dup_segments finds the shared temporal run on the
    clip diagonal; periodic content yields its self-similarity
    diagonals too (correct, not a bug)."""
    from airline_data_warehouse_spark.operators import multimodal as mm

    payload = bytes(range(256)) * 2          # 16 fake frames of 32 B
    clip = payload[64:]                      # drop the first 2 frames
    media = spark.createDataFrame(
        [(1, payload, "video", None), (2, clip, "video", None)],
        mm.MEDIA_SCHEMA)
    frames = mm.decode_video_frames(media, deterministic_fake=True)
    counts = {r["media_id"]: r["count"]
              for r in frames.groupBy("media_id").count().collect()}
    assert counts == {1: 16, 2: 14}
    fp = {r["media_id"]: r["vfp"]
          for r in mm.video_fingerprint(frames).collect()}
    assert fp[2] == fp[1][2:], "clip fingerprint = shifted original"

    segs = {(r["id1"], r["id2"], r["start_a"], r["start_b"]):
            r["run_frames"]
            for r in mm.video_near_dup_segments(
                frames, max_hamming=8, min_run=3).collect()}
    # the clip diagonal: original frame 2.. == clip frame 0.., 14 long
    assert segs[(1, 2, 2, 0)] == 14
    # payload repeats after 8 frames -> period-8 self-similarity diags
    assert segs[(1, 2, 0, 6)] == 8 and segs[(1, 2, 10, 0)] == 6

    # brightness-shifted twin frames stay within a few hamming bits
    bright = mm.adjust_frame_brightness(frames, 30)
    fh0 = {(r["media_id"], r["frame_idx"]): r["fhash"]
           for r in mm.frame_average_hash(frames).collect()}
    fh1 = {(r["media_id"], r["frame_idx"]): r["fhash"]
           for r in mm.frame_average_hash(bright).collect()}
    for key, h0 in fh0.items():
        d = bin((h0 ^ fh1[key]) & ((1 << 64) - 1)).count("1")
        assert d <= 16, f"brightness shift moved {d} bits at {key}"

    # frame_idx beyond the pack width raises instead of aliasing
    import pytest as _pytest
    wide = spark.createDataFrame(
        [(9, 70000, 16, 16, 3, bytes(16 * 16 * 3))],
        mm.FRAME_SCHEMA)
    with _pytest.raises(ValueError, match="pack domain"):
        mm.video_near_dup_segments(frames.unionByName(wide))
    big = spark.createDataFrame(
        [(1 << 50, 0, 16, 16, 3, bytes(16 * 16 * 3))],
        mm.FRAME_SCHEMA)
    with _pytest.raises(ValueError, match="pack domain"):
        mm.video_near_dup_segments(frames.unionByName(big))
