"""Multimodal plumbing tests: the Spark mechanics (schema, Arrow batch
shape, determinism, partition sizing) are real; the codec is the stub,
the built-in P3 decoder, or a byte fold passed as ``decoder``."""

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
    """decoder=p3_feature executes the REAL pure-Python P3 decoder:
    luminance histograms land in known bins; undecodable payloads get
    NULL features (quarantine), not fake numbers."""
    feats = {r.asset_id: r.feature for r in
             multimodal.extract_features(ppm_media, decoder=multimodal.p3_feature).collect()}
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
             for r in multimodal.extract_features(df, decoder=multimodal.p3_feature).collect()}
    for bad in ("trunc-header", "zero-maxval", "neg-sample", "over-maxval", "zero-dim"):
        assert feats[bad] is None, f"{bad} should quarantine"
    assert feats["ok"] is not None and abs(sum(feats["ok"]) - 1.0) < 1e-9
    # and the decoder itself raises ValueError (the quarantine signal),
    # never IndexError/ZeroDivisionError
    for bad_payload in ("P3\n1 1", "P3\n1 1\n0\n0 0 0", "P3\n1 1\n255\n-1 0 0"):
        with pytest.raises(ValueError):
            multimodal.decode_ppm_p3(bad_payload)


def test_extract_features_no_shuffle_when_sized_right(spark, ppm_media):
    """The byte-budget sizing must NOT repartition an input whose arriving
    partition count already fits the byte budget (r4 advisor: the
    default path had gone unconditionally shuffled)."""
    df = ppm_media.repartition(1)  # tiny payloads -> n_parts computes to 1
    plan = multimodal.extract_features(df)._jdf.queryExecution().executedPlan().toString()
    # the only exchange allowed is the explicit repartition(1) above
    assert plan.count("Exchange") <= 1


def test_compressed_video_still_gated(spark, media):
    """Video payloads (compressed codecs, no built-in decoder) keep the
    honest gate, as quarantine: NULL features instead of a crash."""
    videos = media.where("media_type = 'video'")
    out = multimodal.extract_features(videos, decoder=multimodal.p3_feature).collect()
    assert len(out) > 0
    assert all(r.feature is None for r in out)


def test_media_summary(spark, media):
    summary = multimodal.media_summary(multimodal.extract_features(media)).collect()
    assert {r.media_type for r in summary} == {"image", "audio", "video"}
    assert all(r.n_assets == 10 for r in summary)


def test_typed_dispatch_image_and_audio_in_one_pass(spark):
    """The built-in decoder routes by the media_type column in ONE
    seam: images through P3; audio and video quarantine even when the
    payload is a valid P3 image (binary payload column)."""
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
        ("aud", "audio", bytearray(white), 0, 0, 500),
        ("vid", "video", bytearray(white), 0, 0, 1000),
    ]
    feats = {r.asset_id: r.feature
             for r in multimodal.extract_features(
                 spark.createDataFrame(rows, schema), decoder=multimodal.p3_feature).collect()}
    assert feats["img"][multimodal.FEATURE_DIM - 1] == 1.0
    assert feats["aud"] is None
    assert feats["vid"] is None


def test_string_payloads_carry_binary_losslessly(spark):
    """String stand-in payloads (MEDIA_SCHEMA) round-trip bytes 128-255:
    the Python stage must encode latin-1, not utf-8 (which double-
    encodes high bytes and corrupted every binary-carrying payload)."""
    raw = bytes(range(256))

    def byte_fold(payload, media_type):
        acc = [0] * multimodal.FEATURE_DIM
        for i, b in enumerate(payload):
            acc[i % multimodal.FEATURE_DIM] += b
        return [float(a) for a in acc]

    rows = [("bin", "video", raw.decode("latin-1"), None, None, None)]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    (row,) = multimodal.extract_features(df, decoder=byte_fold).collect()
    assert row.n_bytes == len(raw)
    assert row.feature == byte_fold(raw, "video")
