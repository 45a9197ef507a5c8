"""Media codec: header parsers vs golden bytes, malformed-input errors,
and the strict Spark-side decode stage."""

import struct
import zlib

import pytest

from nlp_cube_spark.kernels import mediacodec as mc
from nlp_cube_spark.operators import multimodal as MM

# Golden byte literals, written out by hand from the specs (NOT produced by
# the encoders) so the parsers are tested independently of make_*().
# 3x2 8-bit grayscale PNG, IHDR only up to what the parser needs.
_IHDR = struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0)
GOLDEN_PNG = (
    b"\x89PNG\r\n\x1a\n"
    + struct.pack(">I", 13)
    + b"IHDR"
    + _IHDR
    + struct.pack(">I", zlib.crc32(b"IHDR" + _IHDR) & 0xFFFFFFFF)
    + struct.pack(">I", 0)
    + b"IEND"
    + struct.pack(">I", zlib.crc32(b"IEND") & 0xFFFFFFFF)
)
# SOI + SOF2 (progressive, 1 component, 100x50) + EOI
GOLDEN_JPEG = (
    b"\xff\xd8"
    + b"\xff\xc2"
    + struct.pack(">HBHHB", 11, 12, 50, 100, 1)
    + bytes([1, 0x11, 0])
    + b"\xff\xd9"
)
# 8kHz mono PCM16, 4 samples of silence
GOLDEN_WAV = (
    b"RIFF" + struct.pack("<I", 44) + b"WAVE"
    + b"fmt " + struct.pack("<I", 16) + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    + b"data" + struct.pack("<I", 8) + b"\x00" * 8
)
# ftyp + moov(mvhd v1: 64-bit duration)
_MVHD_V1 = (
    struct.pack(">B3x", 1) + struct.pack(">QQ", 0, 0) + struct.pack(">IQ", 90000, 123456789)
)
GOLDEN_MP4 = (
    struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 0)
    + struct.pack(">I", 8 + 8 + len(_MVHD_V1)) + b"moov"
    + struct.pack(">I", 8 + len(_MVHD_V1)) + b"mvhd" + _MVHD_V1
)


def test_golden_png():
    d = mc.decode_header(GOLDEN_PNG)
    assert d == {"format": "png", "width": 3, "height": 2, "bit_depth": 8, "channels": 1}


def test_golden_jpeg_progressive():
    d = mc.decode_header(GOLDEN_JPEG)
    assert d == {"format": "jpeg", "width": 100, "height": 50, "bit_depth": 12, "channels": 1}


def test_golden_wav():
    d = mc.decode_header(GOLDEN_WAV)
    assert d == {"format": "wav", "channels": 1, "sample_rate": 8000, "bit_depth": 16, "n_samples": 4}


def test_golden_mp4_v1_mvhd():
    d = mc.decode_header(GOLDEN_MP4)
    assert d == {"format": "mp4", "timescale": 90000, "duration": 123456789}


@pytest.mark.parametrize(
    "make,args,want",
    [
        (mc.make_png, (33, 41), {"format": "png", "width": 33, "height": 41, "channels": 3}),
        (mc.make_jpeg, (640, 480, 99), {"format": "jpeg", "width": 640, "height": 480}),
        (mc.make_wav, (44100, 2, 555), {"format": "wav", "sample_rate": 44100, "channels": 2, "n_samples": 555}),
        (mc.make_mp4, (1000, 4321, 10), {"format": "mp4", "timescale": 1000, "duration": 4321}),
    ],
)
def test_encoder_roundtrip(make, args, want):
    d = mc.decode_header(make(*args))
    assert {k: d[k] for k in want} == want


def test_encoder_sizes_closed_form():
    assert len(mc.make_png(20, 30)) == 68 + 30 * (1 + 3 * 20)
    assert len(mc.make_jpeg(20, 30, 77)) == 55 + 77
    assert len(mc.make_wav(8000, 1, 200)) == 44 + 200 * 2
    assert len(mc.make_mp4(600, 1, 50)) == 144 + 50


def test_png_crc_tamper_detected():
    bad = bytearray(mc.make_png(8, 8))
    bad[20] ^= 1  # flip a bit inside IHDR width
    with pytest.raises(mc.MediaDecodeError, match="CRC"):
        mc.decode_header(bytes(bad))


@pytest.mark.parametrize(
    "payload",
    [
        b"",
        b"plain text payload",
        GOLDEN_PNG[:20],  # truncated mid-IHDR
        b"\xff\xd8\xff\xda" + struct.pack(">H", 4) + b"\x00\x00",  # SOS before SOF
        b"RIFF\x00\x00\x00\x00WAVEdata\x04\x00\x00\x00\x00\x00\x00\x00",  # no fmt
    ],
)
def test_malformed_raises(payload):
    with pytest.raises(mc.MediaDecodeError):
        mc.decode_header(payload)


def test_decode_media_strict_and_lenient():
    with pytest.raises(mc.MediaDecodeError):
        MM.decode_media(b"not a container", "image", strict=True)
    obj = MM.decode_media(b"not a container", "image", strict=False)
    assert obj["n_bytes"] == 15 and "format" not in obj
    obj = MM.decode_media(GOLDEN_WAV, "audio", strict=True)
    assert obj["format"] == "wav" and obj["n_bytes"] == len(GOLDEN_WAV)


def test_decode_assets_spark(spark):
    docs = spark.createDataFrame(
        [(i, "websrc", "en") for i in range(12)], "doc_id long, source string, lang string"
    )
    rows = {r["asset_id"]: r for r in MM.decode_assets(MM.synth_media_assets(spark, docs)).collect()}
    assert len(rows) == 12
    assert rows[0]["format"] == "png" and rows[0]["width"] == 16 and rows[0]["height"] == 16
    assert rows[3]["format"] == "jpeg" and rows[3]["width"] == 19 and rows[3]["height"] == 16 + 21
    assert rows[1]["format"] == "wav" and rows[1]["sample_rate"] == 16000 and rows[1]["channels"] == 2
    assert rows[2]["format"] == "mp4" and rows[2]["timescale"] == 600 + 2 * 600
    # images carry no audio fields and vice versa
    assert rows[0]["sample_rate"] is None and rows[1]["width"] is None
    assert rows[2]["duration"] == 500 * (1 + 2) + 2


# ---------------------------------------------------------- property tests
try:
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=64),
        h=st.integers(min_value=1, max_value=64),
    )
    def test_png_roundtrip_property(w, h):
        d = mc.decode_header(mc.make_png(w, h))
        assert (d["width"], d["height"]) == (w, h)
        assert len(mc.make_png(w, h)) == 68 + h * (1 + 3 * w)

    @settings(max_examples=60, deadline=None)
    @given(
        rate=st.sampled_from([8000, 16000, 22050, 44100, 48000]),
        ch=st.integers(min_value=1, max_value=8),
        n=st.integers(min_value=0, max_value=500),
    )
    def test_wav_roundtrip_property(rate, ch, n):
        d = mc.decode_header(mc.make_wav(rate, ch, n))
        assert (d["sample_rate"], d["channels"], d["n_samples"]) == (rate, ch, n)

    @settings(max_examples=60, deadline=None)
    @given(data=st.binary(max_size=64))
    def test_sniff_never_crashes_and_strict_never_lies(data):
        """decode_header either raises MediaDecodeError or returns a dict
        with a format the sniffer agrees on — arbitrary bytes never produce
        a silent wrong answer or a non-MediaDecodeError exception."""
        try:
            d = mc.decode_header(data)
        except mc.MediaDecodeError:
            return
        assert d["format"] == mc.sniff_format(data)

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=64),
        h=st.integers(min_value=1, max_value=64),
        cut=st.integers(min_value=1, max_value=67),
    )
    def test_truncated_png_raises(w, h, cut):
        payload = mc.make_png(w, h)
        with pytest.raises(mc.MediaDecodeError):
            mc.decode_header(payload[: len(payload) - cut])

    @settings(max_examples=120, deadline=None)
    @given(
        kind=st.sampled_from(["png", "jpeg", "wav", "mp4"]),
        pos_frac=st.floats(min_value=0.0, max_value=0.999),
        bit=st.integers(min_value=0, max_value=7),
    )
    def test_bitflip_only_raises_decode_error(kind, pos_frac, bit):
        """Corrupt (not merely truncate) a valid payload: decode_header must
        either still succeed (flip landed in ignored bytes) or raise
        MediaDecodeError — never struct.error/KeyError/zlib.error, which
        would escape quarantine mode and kill the job."""
        payload = {
            "png": lambda: mc.make_png(6, 5),
            "jpeg": lambda: mc.make_jpeg(9, 7, 20),
            "wav": lambda: mc.make_wav(16000, 2, 10),
            "mp4": lambda: mc.make_mp4(1000, 2500, 16),
        }[kind]()
        i = int(pos_frac * len(payload))
        flipped = bytearray(payload)
        flipped[i] ^= 1 << bit
        try:
            mc.decode_header(bytes(flipped))
        except mc.MediaDecodeError:
            pass

    @settings(max_examples=120, deadline=None)
    @given(
        pos_frac=st.floats(min_value=0.0, max_value=0.999),
        bit=st.integers(min_value=0, max_value=7),
    )
    def test_bitflip_pixel_decode_only_raises_decode_error(pos_frac, bit):
        """Same guarantee for the full pixel decoder (zlib inflate +
        defilter), which transform_assets calls under quarantine."""
        payload = mc.make_png(6, 5)
        i = int(pos_frac * len(payload))
        flipped = bytearray(payload)
        flipped[i] ^= 1 << bit
        try:
            mc.decode_png_pixels(bytes(flipped))
        except mc.MediaDecodeError:
            pass

except ImportError:  # pragma: no cover - hypothesis is in the container
    pass


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + tag + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


@pytest.mark.parametrize(
    "payload",
    [
        # PNG color type 5 (invalid) with a VALID IHDR CRC: previously KeyError
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 5, 0, 0, 0))
        + _png_chunk(b"IEND", b""),
        # CRC-valid but SHORT IHDR payload: previously struct.error
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", b"\x00\x01\x02\x03\x04")
        + _png_chunk(b"IEND", b""),
        # WAV whose fmt chunk is only 8 bytes long: previously struct.error
        b"RIFF" + struct.pack("<I", 20) + b"WAVE"
        + b"fmt " + struct.pack("<I", 8) + b"\x01\x00\x02\x00\x40\x1f\x00\x00",
        # MP4 whose mvhd box is 4 data bytes: previously struct.error
        struct.pack(">I", 16) + b"ftyp" + b"isomisom"
        + struct.pack(">I", 20) + b"moov" + struct.pack(">I", 12) + b"mvhd" + b"\x00\x00\x00\x00",
    ],
    ids=["png-color-type-5-valid-crc", "png-short-ihdr-valid-crc", "wav-short-fmt", "mp4-short-mvhd"],
)
def test_malformed_but_wellframed_raises_decode_error(payload):
    """Regression (round-4 ADVICE): structurally well-framed but semantically
    malformed payloads must raise MediaDecodeError, not leak KeyError or
    struct.error past quarantine."""
    with pytest.raises(mc.MediaDecodeError):
        mc.decode_header(payload)


def test_decode_assets_quarantine_mode(spark):
    """Production mode: corrupt payloads land in the quarantine column
    instead of failing the task; clean rows decode identically."""
    from pyspark.sql import functions as F

    good = mc.make_png(8, 8)
    bad = good[:30]  # truncated
    assets = spark.createDataFrame(
        [(1, "image", bytearray(good)), (2, "image", bytearray(bad)), (3, "image", bytearray(b"junk"))],
        "asset_id long, kind string, payload binary",
    )
    rows = {r.asset_id: r for r in MM.decode_assets(assets, on_error="quarantine").collect()}
    assert rows[1].format == "png" and rows[1].error is None and rows[1].width == 8
    assert rows[2].format is None and "PNG" in rows[2].error
    assert rows[3].format is None and rows[3].error is not None
    # fail mode still raises on the same input
    with pytest.raises(Exception):
        MM.decode_assets(assets, on_error="fail").collect()
    with pytest.raises(ValueError, match="on_error"):
        MM.decode_assets(assets, on_error="skip")


def test_png_pixel_roundtrip_and_known_resize():
    import numpy as np

    # 2x2 RGB image with distinct corner colors
    pix = bytes([255,0,0,  0,255,0,
                 0,0,255,  255,255,0])
    p = mc.make_png_from_pixels(2, 2, 3, pix)
    w, h, ch, back = mc.decode_png_pixels(p)
    assert (w, h, ch) == (2, 2, 3) and back == pix
    # nearest resize 2x2 -> 1x1 keeps the top-left pixel (floor mapping)
    r = mc.resize_png_nearest(p, 1, 1)
    assert mc.decode_png_pixels(r)[3] == bytes([255, 0, 0])
    # 2x2 -> 4x4 replicates each pixel into a 2x2 block
    up = mc.resize_png_nearest(p, 4, 4)
    arr = np.frombuffer(mc.decode_png_pixels(up)[3], dtype=np.uint8).reshape(4, 4, 3)
    assert (arr[0, 0] == [255, 0, 0]).all() and (arr[1, 1] == [255, 0, 0]).all()
    assert (arr[3, 3] == [255, 255, 0]).all() and (arr[0, 3] == [0, 255, 0]).all()


def test_png_defilter_all_types():
    """Hand-built scanlines exercising every PNG filter type (1=Sub, 2=Up,
    3=Average, 4=Paeth) against a reference unfiltered encoding."""
    import numpy as np

    rng = np.random.RandomState(3)
    w, h, ch = 5, 5, 3
    img = rng.randint(0, 256, size=(h, w, ch)).astype(np.uint8)
    stride = w * ch

    def filt(ftype, line, prev):
        out = bytearray()
        for i in range(stride):
            a = line[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if ftype == 0: pred = 0
            elif ftype == 1: pred = a
            elif ftype == 2: pred = b
            elif ftype == 3: pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((line[i] - pred) & 0xFF)
        return bytes(out)

    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        ftype = y % 5
        line = img[y].tobytes()
        raw.append(ftype)
        raw += filt(ftype, line, prev)
        prev = line

    def chunk(tag, data):
        import struct as st, zlib as zl
        return st.pack(">I", len(data)) + tag + data + st.pack(">I", zl.crc32(tag + data) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(bytes(raw), 6)) + chunk(b"IEND", b""))
    got = mc.decode_png_pixels(payload)[3]
    assert got == img.tobytes()


def test_wav_decimate_values():
    import numpy as np

    p = mc.make_wav(16000, 2, 10)
    rate, ch, samples = mc.decode_wav_samples(p)
    d = mc.decimate_wav(p, 2)
    r2, c2, s2 = mc.decode_wav_samples(d)
    assert (r2, c2) == (8000, 2)
    want = samples.reshape(-1, 2)[::2].reshape(-1)
    assert np.array_equal(s2, want)
    with pytest.raises(ValueError):
        mc.decimate_wav(p, 3)  # 16000 % 3 != 0


def test_transform_assets_spark(spark):
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, "websrc", "en") for i in range(12)], "doc_id long, source string, lang string"
    )
    assets = MM.synth_media_assets(spark, docs)
    out = MM.decode_assets(MM.transform_assets(assets, image_scale=0.5, audio_decimate=2))
    rows = {r.asset_id: r for r in out.collect()}
    assert rows[0]["format"] == "png" and rows[0]["width"] == 8 and rows[0]["height"] == 8
    assert rows[3]["format"] == "jpeg" and rows[3]["width"] == 19  # pass-through
    assert rows[1]["sample_rate"] == 8000 and rows[1]["n_samples"] == (100 + 1 + 1) // 2
    assert rows[2]["format"] == "mp4" and rows[2]["duration"] == 500 * 3 + 2  # pass-through


def test_image_ahash_matches_formula_and_groups(spark):
    from nlp_cube_spark.operators.multimodal import (
        ahash_dup_groups,
        image_ahash,
        synth_media_assets,
    )

    docs = spark.range(0, 360).selectExpr(
        "id as doc_id", "'s' as source", "'en' as lang"
    )
    assets = synth_media_assets(spark, docs)
    out = {r.asset_id: r for r in image_ahash(assets).collect()}
    # only even image docs are PNG (doc_id % 3 == 0 and % 2 == 0)
    assert set(out) == {d for d in range(360) if d % 6 == 0}
    # python replica from the generator's closed-form pixels
    for d, r in out.items():
        w, h = 16 + d % 49, 16 + (d * 7) % 49
        assert (r.width, r.height) == (w, h)
        samples = []
        for j in range(8):
            sy = (j * h) // 8
            for i in range(8):
                sx = (i * w) // 8
                g = sum((sx * 3 + sy * 7 + c * 11) % 256 for c in range(3)) // 3
                samples.append(g)
        mean = sum(samples) // 64
        bits = "".join("1" if s > mean else "0" for s in samples)
        assert r.ahash_bits == bits
        assert r.ahash_hi == int(bits[:32], 2) and r.ahash_lo == int(bits[32:], 2)
    # same (w, h) => identical pixels => perceptual-dup group
    groups = ahash_dup_groups(image_ahash(assets)).collect()
    by_asset = {}
    for g in groups:
        for a in g.asset_ids:
            by_asset[a] = tuple(g.asset_ids)
    # the GUARANTEE direction: identical (w, h) => identical pixels =>
    # same perceptual-dup group (d and d+294 share dims among evens);
    # the converse need not hold — aHash is lossy, cross-dim collisions
    # are legitimate
    for d in (0, 6, 12, 18, 24):
        assert by_asset.get(d) == by_asset.get(d + 294) is not None
        assert d in by_asset[d] and d + 294 in by_asset[d]


def test_audio_fingerprint_matches_formula(spark):
    from nlp_cube_spark.operators.multimodal import audio_fingerprint, synth_media_assets

    docs = spark.range(0, 60).selectExpr(
        "id as doc_id", "'s' as source", "'en' as lang"
    )
    out = {r.asset_id: r for r in
           audio_fingerprint(synth_media_assets(spark, docs)).collect()}
    assert set(out) == {d for d in range(60) if d % 3 == 1}
    for d, r in out.items():
        ch, n = 1 + d % 2, 100 + d % 900
        assert (r.channels, r.n_frames) == (ch, n)
        mono = []
        for t in range(n):
            mono.append(sum((( (t * ch + c) * 257 + 19) % 2003) - 1001
                            for c in range(ch)))
        seg = [0] * 16
        for t in range(n):
            seg[(t * 16) // n] += mono[t] ** 2
        bits = "".join("1" if seg[k + 1] > seg[k] else "0" for k in range(15))
        assert r.fp_bits == bits and r.fp == int(bits, 2)
        assert len(r.fp_bits) == 15


def test_curate_media_assets_verdicts(spark):
    from pyspark.sql import functions as F
    from nlp_cube_spark.operators.multimodal import (
        curate_media_assets,
        synth_media_assets,
    )

    docs = spark.range(0, 360).selectExpr(
        "id as doc_id", "'s' as source", "'en' as lang"
    )
    assets = synth_media_assets(spark, docs).withColumn(
        "payload",
        F.when(F.col("asset_id") % 97 == 0, F.expr("substring(payload, 1, 8)"))
        .otherwise(F.col("payload")),
    )
    out = {r.asset_id: r for r in curate_media_assets(assets).collect()}
    assert len(out) == 360  # exactly one verdict per asset
    for d, r in out.items():
        if d % 97 == 0:
            assert r.reason == "malformed" and not r.kept, d
        else:
            assert r.reason in ("kept", "perceptual_dup")
            assert r.kept == (r.reason == "kept")
    # the known same-pixels PNG pair: smaller id kept, larger dropped
    assert out[6].reason == "kept" and out[300].reason == "perceptual_dup"
    # a perceptual keeper exists for every dropped group member
    assert any(r.reason == "perceptual_dup" for r in out.values())
    # malformed assets never appear as dup keepers or members
    assert out[0].reason == "malformed"  # 0 % 97 == 0 even though PNG


def test_hashers_skip_header_valid_but_undecodable_payloads(spark):
    """Review-pass contract: a payload whose HEADER parses but whose
    pixels/samples don't must be SKIPPED by the perceptual hashers (and
    pass through curation), never kill the job."""
    import struct
    from nlp_cube_spark.kernels import mediacodec as mc
    from nlp_cube_spark.operators.multimodal import audio_fingerprint, image_ahash

    good_png = mc.make_png(20, 20)
    # corrupt the zlib stream inside IDAT: find the IDAT tag, flip bytes
    # just after it (chunk framing + IHDR stay valid)
    i = good_png.index(b"IDAT") + 4
    bad_png = good_png[:i + 2] + b"\xff\xff\xff" + good_png[i + 5:]
    good_wav = mc.make_wav(8000, 1, 50)
    # patch fmt 'channels' (offset 22, <H) to 0: header-parseable, 0-div bait
    bad_wav = good_wav[:22] + struct.pack("<H", 0) + good_wav[24:]
    rows = [(1, good_png), (2, bad_png), (3, good_wav), (4, bad_wav)]
    assets = spark.createDataFrame(rows, "asset_id long, payload binary")
    assert {r.asset_id for r in image_ahash(assets).collect()} == {1}
    assert {r.asset_id for r in audio_fingerprint(assets).collect()} == {3}


def test_audio_fingerprint_skips_frame_misaligned_pcm(spark):
    """A stereo WAV whose data chunk holds 3 samples (1.5 frames) decodes
    but cannot be split into frames: skipped, never kills the task."""
    import struct
    from nlp_cube_spark.kernels import mediacodec as mc
    from nlp_cube_spark.operators.multimodal import audio_fingerprint

    stereo = mc.make_wav(8000, 2, 50)
    data = stereo[44 : 44 + 3 * 2]
    odd = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE" + stereo[12:36]
        + b"data" + struct.pack("<I", len(data)) + data
    )
    assert len(mc.decode_wav_samples(odd)[2]) == 3
    assets = spark.createDataFrame([(1, stereo), (2, odd)], "asset_id long, payload binary")
    assert {r.asset_id for r in audio_fingerprint(assets).collect()} == {1}
