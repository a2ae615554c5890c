"""Multimodal plumbing tests: the Spark mechanics (schema, Arrow batch
shape, determinism, partition sizing) are real; the codec is stubbed."""

import pytest

from aws_logs_to_parquet_converter_spark.operators import multimodal


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (f"asset-{i}", ["image", "audio", "video"][i % 3], "payload-bytes-" * (i + 1) + str(i),
         64 + i, 48 + i, 1000 * i)
        for i in range(30)
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_feature_extraction_shape(spark, media):
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r.feature) == multimodal.FEATURE_DIM for r in rows)
    assert all(abs(sum(r.feature) - 1.0) < 1e-5 for r in rows if r.n_bytes)
    assert {r.asset_id for r in rows} == {f"asset-{i}" for i in range(30)}


def test_feature_extraction_deterministic(spark, media):
    a = {r.asset_id: r.feature for r in multimodal.extract_features(media).collect()}
    b = {r.asset_id: r.feature for r in multimodal.extract_features(media.repartition(7)).collect()}
    assert a == b  # partitioning must not change features


def _ppm(w, h, rgb_rows):
    """Tiny ASCII PPM builder: rgb_rows is [[(r,g,b), ...], ...]."""
    body = "\n".join(" ".join(f"{r} {g} {b}" for r, g, b in row) for row in rgb_rows)
    return f"P3\n{w} {h}\n255\n{body}"


@pytest.fixture(scope="module")
def ppm_media(spark):
    white = _ppm(2, 2, [[(255, 255, 255)] * 2] * 2)
    black = _ppm(2, 2, [[(0, 0, 0)] * 2] * 2)
    # 2x1: one white pixel, one black pixel
    half = _ppm(2, 1, [[(255, 255, 255), (0, 0, 0)]])
    rows = [
        ("white", "image", white, 2, 2, 0),
        ("black", "image", black, 2, 2, 0),
        ("half", "image", half, 2, 1, 0),
        ("junk", "image", "not an image at all", 0, 0, 0),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_real_decode_ppm_features(spark, ppm_media):
    """decode_stub=False executes the REAL pure-Python P3 decoder:
    luminance histograms land in known bins; undecodable payloads get
    NULL features (quarantine), not fake numbers."""
    feats = {r.asset_id: r.feature
             for r in multimodal.extract_features(ppm_media, decode_stub=False).collect()}
    assert feats["white"][multimodal.FEATURE_DIM - 1] == 1.0  # all pixels in top bin
    assert feats["black"][0] == 1.0                           # all pixels in bottom bin
    assert feats["half"][0] == 0.5 and feats["half"][multimodal.FEATURE_DIM - 1] == 0.5
    assert feats["junk"] is None


def test_decode_ppm_p3_roundtrip_values():
    w, h, maxval, vals = multimodal.decode_ppm_p3(_ppm(2, 1, [[(1, 2, 3), (4, 5, 6)]]))
    assert (w, h, maxval) == (2, 1, 255)
    assert vals == [1, 2, 3, 4, 5, 6]
    with pytest.raises(ValueError):
        multimodal.decode_ppm_p3("P6\nbinary")
    with pytest.raises(ValueError):
        multimodal.decode_ppm_p3("P3\n2 2\n255\n1 2 3")  # truncated


def test_malformed_ppm_quarantines_not_crashes(spark):
    """The r4 advisor's crash-class repros: a truncated header
    (b'P3\\n1 1' — used to IndexError on tokens[3]), maxval=0 (used to
    ZeroDivisionError in the luma binning), and a negative sample
    (used to silently increment a high bin via a negative index) must
    ALL yield NULL-feature quarantine rows, not Spark task crashes."""
    rows = [
        ("trunc-header", "image", "P3\n1 1", 1, 1, 0),
        ("zero-maxval", "image", "P3\n1 1\n0\n0 0 0", 1, 1, 0),
        ("neg-sample", "image", "P3\n1 1\n255\n-1 0 0", 1, 1, 0),
        ("over-maxval", "image", "P3\n1 1\n10\n11 0 0", 1, 1, 0),
        ("zero-dim", "image", "P3\n0 1\n255\n", 0, 1, 0),
        ("ok", "image", _ppm(1, 1, [[(255, 0, 0)]]), 1, 1, 0),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = {r.asset_id: r.feature
             for r in multimodal.extract_features(df, decode_stub=False).collect()}
    for bad in ("trunc-header", "zero-maxval", "neg-sample", "over-maxval", "zero-dim"):
        assert feats[bad] is None, f"{bad} should quarantine"
    assert feats["ok"] is not None and abs(sum(feats["ok"]) - 1.0) < 1e-9
    # and the decoder itself raises ValueError (the quarantine signal),
    # never IndexError/ZeroDivisionError
    for bad_payload in ("P3\n1 1", "P3\n1 1\n0\n0 0 0", "P3\n1 1\n255\n-1 0 0"):
        with pytest.raises(ValueError):
            multimodal.decode_ppm_p3(bad_payload)


def test_extract_features_no_shuffle_when_sized_right(spark, ppm_media):
    """size_by_bytes must NOT repartition an input whose arriving
    partition count already fits the byte budget (r4 advisor: the
    default path had gone unconditionally shuffled)."""
    df = ppm_media.repartition(1)  # tiny payloads -> n_parts computes to 1
    plan = multimodal.extract_features(df)._jdf.queryExecution().executedPlan().toString()
    # the only exchange allowed is the explicit repartition(1) above
    assert plan.count("Exchange") <= 1


def test_compressed_video_still_gated(spark, media):
    """Non-Y4M video payloads (i.e. compressed codecs) keep the honest
    gate, as quarantine: NULL features instead of a crash."""
    videos = media.where("media_type = 'video'")
    out = multimodal.extract_features(videos, decode_stub=False).collect()
    assert len(out) > 0
    assert all(r.feature is None for r in out)


def _y4m_fixture():
    """3 frames, 4x2, constant luma 0 / 128 / 255 — analytic features."""
    w, h = 4, 2
    frames = [bytes([v] * (w * h)) for v in (0, 128, 255)]
    return multimodal.encode_y4m(w, h, frames, fps=(2, 1))


def test_y4m_roundtrip_and_colorspaces():
    data = _y4m_fixture()
    w, h, fps, frames = multimodal.decode_y4m(data)
    assert (w, h, fps) == (4, 2, 2.0)
    assert [f[0] for f in frames] == [0, 128, 255]
    # mono: no chroma bytes, same luma back
    mono = multimodal.encode_y4m(4, 2, [bytes(8)], colorspace="Cmono")
    assert multimodal.decode_y4m(mono)[3] == [bytes(8)]
    # 422/444 chroma sizes parse (hand-built streams)
    y = bytes(range(8))
    s422 = b"YUV4MPEG2 W4 H2 F25:1 C422\n" + b"FRAME\n" + y + b"\x80" * 8
    assert multimodal.decode_y4m(s422)[3] == [y]
    s444 = b"YUV4MPEG2 W4 H2 F25:1 C444\n" + b"FRAME\n" + y + b"\x80" * 16
    assert multimodal.decode_y4m(s444)[3] == [y]
    for bad in (b"\x00\x01not-a-video", b"YUV4MPEG2 W4 H2\nFRAME\n\x00\x00",
                b"YUV4MPEG2 W0 H2 F25:1\n", b"YUV4MPEG2 W4 H2 F25:1 C999\nFRAME\n" + bytes(8)):
        with pytest.raises(ValueError):
            multimodal.decode_y4m(bad)


def test_real_y4m_decode_features(spark):
    """decode_stub=False yields real luma/motion features for Y4M video
    rows: mean/std/motion land on the analytic values of the constant-
    frame fixture; junk payloads quarantine as NULL features."""
    from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("asset_id", StringType(), False),
            StructField("media_type", StringType(), True),
            StructField("payload", BinaryType(), True),
            StructField("width", LongType(), True),
            StructField("height", LongType(), True),
            StructField("duration_ms", LongType(), True),
        ]
    )
    rows = [
        ("vid", "video", _y4m_fixture(), 4, 2, 1500),
        ("junk", "video", b"not-a-video-stream", None, None, 1000),
    ]
    df = spark.createDataFrame(rows, schema)
    feats = {r.asset_id: r.feature for r in
             multimodal.extract_features(df, decode_stub=False).collect()}
    assert feats["junk"] is None
    f = feats["vid"]
    assert f[0] == 3.0 and f[1] == 2.0            # n_frames, fps
    assert abs(f[2] - (0 + 128 + 255) / 3 / 255) < 1e-6  # mean luma
    assert abs(f[4] - (128 + 127) / 2 / 255) < 1e-6      # mean frame delta
    assert abs(f[6] - 1.5) < 1e-6                  # duration_s


def test_media_summary(spark, media):
    summary = multimodal.media_summary(multimodal.extract_features(media)).collect()
    assert {r.media_type for r in summary} == {"image", "audio", "video"}
    assert all(r.n_assets == 10 for r in summary)


def _wav_bytes(freq_hz=440, sr=8000, seconds=0.5, amp=0.5, nch=1):
    """Generate a real PCM WAV with the stdlib (16-bit sine)."""
    import io
    import math
    import struct
    import wave

    n = int(sr * seconds)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(2)
        w.setframerate(sr)
        frames = b"".join(
            struct.pack("<h", int(amp * 32767 * math.sin(2 * math.pi * freq_hz * i / sr)))
            * nch
            for i in range(n)
        )
        w.writeframes(frames)
    return buf.getvalue()


def test_real_wav_decode_features(spark):
    """decode_stub=False runs the REAL stdlib PCM WAV decoder for audio
    rows: duration / RMS / zero-crossing rate land on the analytic
    values of a sine; truncated bytes quarantine as NULL."""
    import math

    from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("asset_id", StringType(), False),
            StructField("media_type", StringType(), True),
            StructField("payload", BinaryType(), True),
            StructField("width", LongType(), True),
            StructField("height", LongType(), True),
            StructField("duration_ms", LongType(), True),
        ]
    )
    wav = _wav_bytes(freq_hz=440, sr=8000, seconds=0.5, amp=0.5)
    rows = [
        ("sine", "audio", bytearray(wav), 0, 0, 500),
        ("trunc", "audio", bytearray(wav[:40]), 0, 0, 0),
        ("junk", "audio", bytearray(b"not audio"), 0, 0, 0),
    ]
    df = spark.createDataFrame(rows, schema)
    feats = {r.asset_id: r.feature
             for r in multimodal.extract_features(df, decode_stub=False).collect()}
    assert feats["trunc"] is None and feats["junk"] is None
    dur, rms, zcr, peak = feats["sine"][0], feats["sine"][1], feats["sine"][2], feats["sine"][3]
    assert abs(dur - 0.5) < 1e-6
    assert abs(rms - 0.5 / math.sqrt(2)) < 0.01  # sine RMS = A/sqrt(2)
    assert abs(zcr - 2 * 440 / 8000) < 0.01      # 2 crossings per cycle
    assert 0.45 < peak <= 0.51


def test_typed_dispatch_image_and_audio_in_one_pass(spark):
    """The default non-stub decoder routes by media_type in ONE seam:
    images through P3, audio through WAV, video quarantined."""
    from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("asset_id", StringType(), False),
            StructField("media_type", StringType(), True),
            StructField("payload", BinaryType(), True),
            StructField("width", LongType(), True),
            StructField("height", LongType(), True),
            StructField("duration_ms", LongType(), True),
        ]
    )
    white = _ppm(2, 2, [[(255, 255, 255)] * 2] * 2).encode()
    rows = [
        ("img", "image", bytearray(white), 2, 2, 0),
        ("aud", "audio", bytearray(_wav_bytes()), 0, 0, 500),
        ("vid", "video", bytearray(b"h264h264"), 0, 0, 1000),
    ]
    feats = {r.asset_id: r.feature
             for r in multimodal.extract_features(
                 spark.createDataFrame(rows, schema), decode_stub=False).collect()}
    assert feats["img"][multimodal.FEATURE_DIM - 1] == 1.0
    assert feats["aud"] is not None and feats["aud"][0] > 0
    assert feats["vid"] is None


def test_string_payloads_carry_binary_losslessly(spark):
    """String stand-in payloads (MEDIA_SCHEMA) round-trip bytes 128-255:
    the Python stage must encode latin-1, not utf-8 (which double-
    encodes high bytes and corrupted every binary-carrying payload)."""
    rows = [("vid", "video", _y4m_fixture().decode("latin-1"), 4, 2, 1500)]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = {r.asset_id: r.feature for r in
             multimodal.extract_features(df, decode_stub=False).collect()}
    assert feats["vid"] is not None and feats["vid"][0] == 3.0


def _png_from_raw(w, h, color, raw, plte=None, interlace=0, corrupt_crc=False):
    """Build a PNG container around pre-filtered scanline bytes (test
    helper: exercises decoder paths encode_png's filter-0 writer
    cannot reach)."""
    import struct
    import zlib

    def chunk(ctype, payload, bad=False):
        crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
        if bad:
            crc ^= 1
        return struct.pack(">I", len(payload)) + ctype + payload + struct.pack(">I", crc)

    out = b"\x89PNG\r\n\x1a\n"
    out += chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, interlace))
    if plte is not None:
        out += chunk(b"PLTE", bytes(plte))
    out += chunk(b"IDAT", zlib.compress(raw), bad=corrupt_crc)
    out += chunk(b"IEND", b"")
    return out


def test_decode_png_all_filters_and_color_types():
    """The decoder reconstructs every scanline filter (the test applies
    the spec's FORWARD filter to known pixels, the decoder must invert
    it) and normalizes gray/palette/alpha color types to flat RGB."""
    import random

    rng = random.Random(7)

    def forward_filter(rows, filters, bpp):
        raw = b""
        prev = [0] * len(rows[0])
        for r, f in zip(rows, filters):
            line = bytearray()
            for i, x in enumerate(r):
                a = r[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if f == 0:
                    v = x
                elif f == 1:
                    v = x - a
                elif f == 2:
                    v = x - b
                elif f == 3:
                    v = x - (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    v = x - pred
                line.append(v & 0xFF)
            raw += bytes([f]) + bytes(line)
            prev = r
        return raw

    w, h = 4, 5
    rows = [[rng.randrange(256) for _ in range(3 * w)] for _ in range(h)]
    raw = forward_filter(rows, [0, 1, 2, 3, 4], 3)
    gw, gh, maxval, vals = multimodal.decode_png(_png_from_raw(w, h, 2, raw))
    assert (gw, gh, maxval) == (w, h, 255)
    assert vals == [v for r in rows for v in r]

    # encode_png -> decode_png round trip
    px = [rng.randrange(256) for _ in range(3 * 3 * 2)]
    assert multimodal.decode_png(multimodal.encode_png(3, 2, px))[3] == px

    # gray replicates to RGB; RGBA drops alpha; palette dereferences
    raw_gray = bytes([0, 7, 200])
    assert multimodal.decode_png(_png_from_raw(2, 1, 0, raw_gray))[3] == [7, 7, 7, 200, 200, 200]
    raw_rgba = bytes([0, 1, 2, 3, 99, 4, 5, 6, 50])
    assert multimodal.decode_png(_png_from_raw(2, 1, 6, raw_rgba))[3] == [1, 2, 3, 4, 5, 6]
    raw_pal = bytes([0, 1, 0])
    plte = [10, 20, 30, 40, 50, 60]
    assert multimodal.decode_png(_png_from_raw(2, 1, 3, raw_pal, plte=plte))[3] == [40, 50, 60, 10, 20, 30]


def test_malformed_png_quarantines_not_crashes(spark):
    """CRC corruption, Adam7 interlace, truncation, missing palette,
    and truncated-JPEG magic all quarantine (NULL feature / ValueError), never a
    task crash; a valid PNG row decodes REAL features next to a P3 row
    in the same pass (magic-byte dispatch)."""
    import pytest as _pytest

    ok_raw = bytes([0, 255, 255, 255, 0, 0, 0])  # 2x1 white,black
    good = _png_from_raw(2, 1, 2, ok_raw)
    bad_crc = _png_from_raw(2, 1, 2, ok_raw, corrupt_crc=True)
    interlaced = _png_from_raw(2, 1, 2, ok_raw, interlace=1)
    for bad in (bad_crc, interlaced, good[:20], b"\xff\xd8\xffjpegdata"):
        with _pytest.raises(ValueError):
            multimodal.decode_png(bad)
    with _pytest.raises(ValueError):
        multimodal.decode_png(_png_from_raw(1, 1, 3, bytes([0, 9])))  # palette idx OOR

    rows = [
        ("png-ok", "image", good.decode("latin-1"), 2, 1, 0),
        ("png-badcrc", "image", bad_crc.decode("latin-1"), 2, 1, 0),
        ("png-interlaced", "image", interlaced.decode("latin-1"), 2, 1, 0),
        ("jpeg-truncated", "image", b"\xff\xd8\xff\xe0jpeg".decode("latin-1"), 0, 0, 0),
        ("ppm-ok", "image", _ppm(2, 1, [[(255, 255, 255), (0, 0, 0)]]), 2, 1, 0),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = {r.asset_id: r.feature
             for r in multimodal.extract_features(df, decode_stub=False).collect()}
    for bad in ("png-badcrc", "png-interlaced", "jpeg-truncated"):
        assert feats[bad] is None, f"{bad} should quarantine"
    # the white/black 2x1 PNG and the identical P3 land the SAME feature
    assert feats["png-ok"] == feats["ppm-ok"]
    assert feats["png-ok"][0] == 0.5 and feats["png-ok"][multimodal.FEATURE_DIM - 1] == 0.5


def test_decode_png_property_filter_inversion():
    """Property: for ANY pixel content, any per-row filter choice, and
    any supported color type, the decoder inverts the spec's forward
    filter exactly (the test applies the filter equations forward;
    decode must reproduce the raw samples)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def forward(rows, filters, bpp):
        raw = b""
        prev = [0] * len(rows[0])
        for r, f in zip(rows, filters):
            line = bytearray()
            for i, x in enumerate(r):
                a = r[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = [0, a, b, (a + b) // 2,
                        a if pa <= pb and pa <= pc else (b if pb <= pc else c)][f]
                line.append((x - pred) & 0xFF)
            raw += bytes([f]) + bytes(line)
            prev = r
        return raw

    CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(1, 5), st.integers(1, 5),
        st.sampled_from([0, 2, 4, 6]),
        st.data(),
    )
    def run(w, h, color, data):
        bpp = CHANNELS[color]
        rows = [
            [data.draw(st.integers(0, 255)) for _ in range(w * bpp)]
            for _ in range(h)
        ]
        filters = [data.draw(st.integers(0, 4)) for _ in range(h)]
        raw = forward(rows, filters, bpp)
        gw, gh, maxval, vals = multimodal.decode_png(
            _png_from_raw(w, h, color, raw)
        )
        assert (gw, gh, maxval) == (w, h, 255)
        # reconstruct expected flat RGB from the raw samples
        flat = [v for r in rows for v in r]
        if color == 2:
            exp = flat
        elif color == 6:
            exp = [flat[i + j] for i in range(0, len(flat), 4) for j in range(3)]
        elif color == 0:
            exp = [v for v in flat for _ in range(3)]
        else:  # 4: gray+alpha
            exp = [flat[i] for i in range(0, len(flat), 2) for _ in range(3)]
        assert vals == exp

    run()


# --------------------------------------------------------------------------
# Baseline JPEG (round-8: the largest remaining multimodal quarantine
# closed the PNG way — pure-stdlib codec, property-tested roundtrip)
# --------------------------------------------------------------------------


def _smooth(w, h, phase=0):
    import math

    return [
        min(255, max(0, int(128 + 100 * math.sin((x + ch * 5 + phase) / 7.0) * math.cos(y / 5.0))))
        for y in range(h)
        for x in range(w)
        for ch in range(3)
    ]


def test_jpeg_flat_color_near_exact():
    """A flat-color image is a DC-only stream: decode must recover the
    color within quantization-of-DC rounding (analytic fixture)."""
    w, h = 16, 16
    px = [120, 60, 200] * (w * h)
    got = multimodal.decode_jpeg(multimodal.encode_jpeg(w, h, px, quality=95))
    assert got[:3] == (w, h, 255)
    assert max(abs(a - b) for a, b in zip(px, got[3])) <= 3


@pytest.mark.parametrize("subsample,restart", [(False, 0), (False, 2), (True, 0), (True, 3)])
def test_jpeg_roundtrip_all_modes(subsample, restart):
    """4:4:4 and 4:2:0, with and without restart markers, on
    non-multiple-of-8 dimensions (padding + partial-MCU edges)."""
    w, h = 33, 21
    px = _smooth(w, h)
    data = multimodal.encode_jpeg(
        w, h, px, quality=92, subsample=subsample, restart_interval=restart
    )
    dw, dh, maxval, vals = multimodal.decode_jpeg(data)
    assert (dw, dh, maxval) == (w, h, 255)
    mean_err = sum(abs(a - b) for a, b in zip(px, vals)) / len(px)
    assert mean_err < (4.0 if subsample else 2.5), mean_err


def test_jpeg_property_q100_roundtrip_tight():
    """Property: at quality 100 every quantizer is 1, so for ANY pixel
    content the only loss is DCT/color-space float rounding — the
    roundtrip must stay within +-4 per sample."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=15, deadline=None)
    @given(st.data())
    def run(data):
        w = data.draw(st.integers(1, 17))
        h = data.draw(st.integers(1, 17))
        px = [data.draw(st.integers(0, 255)) for _ in range(3 * w * h)]
        dw, dh, maxval, vals = multimodal.decode_jpeg(
            multimodal.encode_jpeg(w, h, px, quality=100)
        )
        assert (dw, dh, maxval) == (w, h, 255)
        assert max(abs(a - b) for a, b in zip(px, vals)) <= 4

    run()


def test_jpeg_grayscale_single_component():
    """The decoder's 1-component path: a hand-assembled grayscale
    baseline stream (flat value) decodes to the replicated-gray RGB
    contract."""
    from aws_logs_to_parquet_converter_spark.operators.multimodal import (
        _JPEG_HUFF,
        _JpegBitWriter,
        _huff_decode_table,
    )

    # 8x8 flat gray 180: one block, DC = round((180-128)*8 / q0), ACs 0
    q0 = 16  # Annex K luma [0] at quality 50 scale=100 -> unchanged
    dc = round((180 - 128) * 8 / q0)
    enc = {
        key: {sym: (code, ln) for (ln, code), sym in _huff_decode_table(*tbl).items()}
        for key, tbl in _JPEG_HUFF.items()
    }
    bw = _JpegBitWriter()
    s = dc.bit_length()
    code, ln = enc[("dc", 0)][s]
    bw.write(code, ln)
    bw.write(dc, s)  # positive magnitude bits
    code, ln = enc[("ac", 0)][0x00]  # EOB
    bw.write(code, ln)

    def seg(marker, payload):
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    from aws_logs_to_parquet_converter_spark.operators.multimodal import (
        _JPEG_QT_LUMA,
        _JPEG_ZIGZAG,
    )

    # DQT stores zigzag order: entry k = natural[zigzag[k]]
    qz = bytes(_JPEG_QT_LUMA[_JPEG_ZIGZAG[k]] for k in range(64))
    stream = (
        b"\xff\xd8"
        + seg(0xDB, bytes([0]) + qz)
        + seg(0xC0, bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big") + bytes([1, 1, 0x11, 0]))
        + seg(0xC4, bytes([0x00] + _JPEG_HUFF[("dc", 0)][0] + _JPEG_HUFF[("dc", 0)][1]))
        + seg(0xC4, bytes([0x10] + _JPEG_HUFF[("ac", 0)][0] + _JPEG_HUFF[("ac", 0)][1]))
        + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + bw.flush()
        + b"\xff\xd9"
    )
    w, h, maxval, vals = multimodal.decode_jpeg(stream)
    assert (w, h, maxval) == (8, 8, 255)
    assert len(vals) == 8 * 8 * 3
    assert all(abs(v - 180) <= 2 for v in vals), sorted(set(vals))
    assert vals[0] == vals[1] == vals[2]  # replicated gray


def test_jpeg_malformed_quarantine(spark):
    """A baseline stream doctored to claim SOF2 is MALFORMED
    progressive (its single full-band scan is an illegal DC scan with
    Se=63) and must quarantine, as must truncated/garbage streams;
    through extract_features a REAL baseline JPEG row and a REAL
    progressive row both decode the same luminance histogram as the
    identical PNG row (round-9: the SOF2 quarantine is CLOSED — only
    malformed streams remain NULL)."""
    w, h = 4, 2
    px = [255, 255, 255, 0, 0, 0] * 4
    good = multimodal.encode_jpeg(w, h, px, quality=100)
    # flip SOF0 -> SOF2: now an invalid PROGRESSIVE stream (baseline's
    # Ss=0/Se=63 scan is no legal progressive scan)
    i = good.index(b"\xff\xc0")
    doctored = good[:i] + b"\xff\xc2" + good[i + 2 :]
    for bad in (doctored, good[:24], b"\xff\xd8\xffjunk"):
        with pytest.raises(ValueError):
            multimodal.decode_jpeg(bad)

    png = multimodal.encode_png(w, h, px)
    progressive = multimodal.encode_jpeg_progressive(w, h, px, quality=100)
    rows = [
        ("jpeg-ok", "image", good.decode("latin-1"), w, h, 0),
        ("jpeg-progressive", "image", progressive.decode("latin-1"), w, h, 0),
        ("jpeg-doctored", "image", doctored.decode("latin-1"), w, h, 0),
        ("png-ok", "image", png.decode("latin-1"), w, h, 0),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = {
        r.asset_id: r.feature
        for r in multimodal.extract_features(df, decode_stub=False).collect()
    }
    assert feats["jpeg-doctored"] is None
    assert feats["jpeg-ok"] is not None
    # white/black halves: the q100 jpeg and the lossless png agree on
    # the histogram exactly (values within rounding of 0 and 255)
    assert feats["jpeg-ok"] == feats["png-ok"]
    # ... and the progressive stream carries the SAME coefficients, so
    # its histogram matches the baseline's exactly
    assert feats["jpeg-progressive"] == feats["jpeg-ok"]


@pytest.mark.parametrize("subsample,restart,al", [
    (False, 0, 1), (True, 0, 1), (True, 3, 1), (False, 0, 2),
])
def test_jpeg_progressive_equals_baseline(subsample, restart, al):
    """The progressive encoder emits the SAME quantized coefficients
    as the baseline encoder (shared plane/DCT/quant helpers), so both
    decodes must be IDENTICAL — pinning the whole Annex G scan coder
    (DC first/refine, AC first with EOB runs, AC refinement with
    correction bits, per-scan DHT redefinition, DC restart intervals)
    against the independently-tested baseline path."""
    w, h = 21, 13
    px = _smooth(w, h, phase=3)
    base = multimodal.decode_jpeg(
        multimodal.encode_jpeg(w, h, px, quality=85, subsample=subsample)
    )
    prog = multimodal.decode_jpeg(
        multimodal.encode_jpeg_progressive(
            w, h, px, quality=85, subsample=subsample,
            restart_interval=restart, al=al,
        )
    )
    assert prog == base


def test_jpeg_progressive_property_random_images():
    """Deterministic pseudo-random sweep of sizes x modes: progressive
    decode equals baseline decode on every pixel (the coefficients are
    shared by construction, so any scan-coder bug breaks identity)."""
    import random

    rng = random.Random(29)
    for trial in range(6):
        w, h = rng.randrange(8, 40), rng.randrange(8, 40)
        px = [rng.randrange(256) for _ in range(3 * w * h)]
        sub = trial % 2 == 0
        al = 1 + trial % 3
        rst = 2 if trial % 3 == 0 else 0
        q = (50, 85, 100)[trial % 3]
        base = multimodal.decode_jpeg(
            multimodal.encode_jpeg(w, h, px, quality=q, subsample=sub)
        )
        prog = multimodal.decode_jpeg(
            multimodal.encode_jpeg_progressive(
                w, h, px, quality=q, subsample=sub, restart_interval=rst, al=al
            )
        )
        assert prog == base, (w, h, sub, al, rst, q)


def test_jpeg_progressive_truncated_quarantines():
    px = _smooth(16, 16)
    data = multimodal.encode_jpeg_progressive(16, 16, px, quality=90)
    with pytest.raises(ValueError):
        # cut inside the AC scans: a later scan's entropy data is gone
        multimodal.decode_jpeg(data[: int(len(data) * 0.6)])


def test_jpeg_quarantine_stays_valueerror_on_scan_and_dims():
    """Round-8 review findings: a corrupted SOS component id (or a
    non-interleaved scan) and zero/huge SOF dimensions must raise
    ValueError (the quarantine contract _jpeg_feature catches), never
    KeyError/ZeroDivisionError that would crash the Spark task."""
    w, h = 4, 2
    px = [255, 255, 255, 0, 0, 0] * 4
    good = multimodal.encode_jpeg(w, h, px, quality=100)

    # corrupt the first SOS component id (FFDA, len(2), ns(1), cid)
    i = good.index(b"\xff\xda")
    bad_sos = bytearray(good)
    bad_sos[i + 5] = 0x7F
    with pytest.raises(ValueError, match="scan does not cover"):
        multimodal.decode_jpeg(bytes(bad_sos))

    # zero out the SOF height (FFC0, len(2), prec(1), h(2), w(2))
    j = good.index(b"\xff\xc0")
    zero_h = bytearray(good)
    zero_h[j + 5 : j + 7] = b"\x00\x00"
    with pytest.raises(ValueError, match="dimensions"):
        multimodal.decode_jpeg(bytes(zero_h))

    # absurd header dims must be rejected before plane allocation
    huge = bytearray(good)
    huge[j + 5 : j + 9] = b"\xff\xff\xff\xff"
    with pytest.raises(ValueError, match="64MP"):
        multimodal.decode_jpeg(bytes(huge))
