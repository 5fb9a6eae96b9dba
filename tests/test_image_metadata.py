"""EXIF / PNG metadata tests: hand-assembled TIFF IFDs (both byte orders)
round-trip through the parser, real host JPEGs with camera EXIF parse
correctly, and the Spark operator triages a mixed image corpus.
"""

from __future__ import annotations

import glob

import numpy as np
import pytest

from commerce_sessionization_spark.functions.codecs import (
    UnsupportedMediaError,
    decode_jpeg,
    decode_png,
    encode_bmp,
    encode_jpeg,
    encode_png,
)
from commerce_sessionization_spark.functions.metadata import (
    build_jpeg_with_exif,
    build_png_chunks,
    jpeg_dimensions,
    parse_jpeg_exif,
    parse_png_metadata,
)

RNG = np.random.default_rng(11)
IMG = RNG.integers(0, 255, (32, 48, 3)).astype(np.uint8)


@pytest.mark.parametrize("big_endian", [False, True], ids=["II", "MM"])
def test_exif_roundtrip_both_byte_orders(big_endian):
    j = build_jpeg_with_exif(
        encode_jpeg(IMG),
        orientation=6,
        make="ACME",
        model="X9",
        datetime_original="2020:01:02 03:04:05",
        gps=True,
        big_endian=big_endian,
    )
    m = parse_jpeg_exif(j)
    assert m["orientation"] == 6
    assert (m["make"], m["model"]) == ("ACME", "X9")
    assert m["datetime_original"] == "2020:01:02 03:04:05"
    assert m["has_gps"]
    # splicing APP1 must not disturb the image stream
    rgb, _ = decode_jpeg(j)
    assert rgb.shape == IMG.shape


def test_exif_absent_is_data_not_error():
    m = parse_jpeg_exif(encode_jpeg(IMG))
    assert m["orientation"] is None
    assert m["make"] is None
    assert not m["has_gps"]


def test_jpeg_dimensions_header_walk():
    assert jpeg_dimensions(encode_jpeg(IMG)) == (48, 32)
    with pytest.raises(UnsupportedMediaError):
        jpeg_dimensions(b"not a jpeg")


def test_real_camera_exif_parses():
    # Spark ships camera JPEGs in its mllib test data (NIKON COOLPIX EXIF)
    candidates = sorted(
        glob.glob("/opt/spark/data/mllib/images/**/*.jpg", recursive=True)
    )
    if not candidates:
        pytest.skip("no host JPEG fixtures")
    parsed = [parse_jpeg_exif(open(f, "rb").read()) for f in candidates]
    with_exif = [m for m in parsed if m["make"]]
    if not with_exif:
        pytest.skip("host JPEGs carry no EXIF")
    assert any(m["datetime_original"] for m in with_exif)
    assert all(m["orientation"] in (None, *range(1, 9)) for m in parsed)


def test_png_metadata_chunks_roundtrip():
    p = build_png_chunks(
        encode_png(IMG),
        text={"Software": "testsuite", "prompt": "a red fox"},
        dpi=300,
    )
    m = parse_png_metadata(p)
    assert (m["width"], m["height"]) == (48, 32)
    assert m["bit_depth"] == 8
    assert m["dpi"] == pytest.approx(300.0)
    assert m["text"] == {"Software": "testsuite", "prompt": "a red fox"}
    # inserted ancillary chunks must not disturb pixel decode
    rgb, _ = decode_png(p)
    assert rgb.shape == IMG.shape


def test_png_metadata_real_host_files():
    pngs = sorted(glob.glob("/usr/share/icons/**/*.png", recursive=True))[:50]
    if not pngs:
        pytest.skip("no host PNG fixtures")
    for f in pngs:
        m = parse_png_metadata(open(f, "rb").read())
        assert m["width"] and m["height"]


def test_extract_image_metadata_operator(spark):
    from commerce_sessionization_spark.operators.multimodal import extract_image_metadata
    from commerce_sessionization_spark.schemas import MEDIA_SCHEMA

    jpeg_exif = build_jpeg_with_exif(
        encode_jpeg(IMG), orientation=8, make="NIKON", gps=True
    )
    png_meta = build_png_chunks(
        encode_png(IMG), text={"Software": "toolchain"}, dpi=72
    )
    rows = [
        (1, "image", bytearray(jpeg_exif), "image/jpeg", {}),
        (2, "image", bytearray(png_meta), "image/png", {}),
        (3, "image", bytearray(encode_bmp(IMG)), "image/bmp", {}),
        (4, "image", bytearray(b"corrupt"), "image/jpeg", {}),
        (5, "audio", bytearray(b"skipped"), "audio/wav", {}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {
        r["asset_id"]: r.asDict()
        for r in extract_image_metadata(df).collect()
    }
    assert set(out) == {1, 2, 3, 4}  # modality filter drops the audio row
    assert out[1]["format"] == "jpeg"
    assert out[1]["orientation"] == 8
    assert out[1]["make"] == "NIKON"
    assert out[1]["has_gps"] is True
    assert (out[1]["width"], out[1]["height"]) == (48, 32)
    assert out[2]["format"] == "png"
    assert out[2]["software"] == "toolchain"
    # pHYs stores integer pixels-per-meter, so round-trip is ±0.02 dpi
    assert out[2]["dpi"] == pytest.approx(72.0, abs=0.02)
    assert out[3]["format"] == "bmp"  # no embedded metadata: format-only row
    assert out[3]["orientation"] is None
    assert out[4]["format"] == "unknown"  # garbage triages, never fails


@pytest.mark.parametrize("big_endian", [False, True], ids=["II", "MM"])
def test_standalone_tiff_roundtrip(big_endian):
    from commerce_sessionization_spark.functions.metadata import (
        build_tiff,
        parse_tiff_exif,
    )

    m = parse_tiff_exif(
        build_tiff(
            width=4000,
            height=3000,
            orientation=3,
            make="SCANCO",
            model="S2",
            big_endian=big_endian,
        )
    )
    assert (m["width"], m["height"]) == (4000, 3000)
    assert m["orientation"] == 3
    assert (m["make"], m["model"]) == ("SCANCO", "S2")
    assert m["has_gps"] is False


def test_extract_image_metadata_avif_and_tiff(spark):
    from commerce_sessionization_spark.functions.containers import build_avif
    from commerce_sessionization_spark.functions.metadata import build_tiff
    from commerce_sessionization_spark.operators.multimodal import extract_image_metadata
    from commerce_sessionization_spark.schemas import MEDIA_SCHEMA

    rows = [
        (1, "image", bytearray(build_avif(1280, 720)), "image/avif", {}),
        (
            2,
            "image",
            bytearray(build_tiff(64, 48, orientation=6, make="KODAK")),
            "image/tiff",
            {},
        ),
        # truncated AVIF: ftyp sniffs but meta walk fails → format-only row
        (3, "image", bytearray(build_avif()[:24]), "image/avif", {}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {
        r["asset_id"]: r.asDict()
        for r in extract_image_metadata(df).collect()
    }
    assert out[1]["format"] == "avif"
    assert (out[1]["width"], out[1]["height"]) == (1280, 720)
    assert out[2]["format"] == "tiff"
    assert (out[2]["width"], out[2]["height"]) == (64, 48)
    assert out[2]["orientation"] == 6
    assert out[2]["make"] == "KODAK"
    assert out[3]["format"] == "avif"
    assert out[3]["width"] is None  # triage never fails on truncation


def test_jpeg_marker_walk_skips_fill_bytes():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may pad the space
    before a marker code. A fill-padded JPEG must yield the same EXIF
    and dimensions as the unpadded one — not silently misparse."""
    j = build_jpeg_with_exif(encode_jpeg(IMG), make="FillCam", orientation=6)
    # splice two fill bytes between SOI and the APP1 marker: FF D8 FF FF FF E1
    padded = j[:2] + b"\xff\xff" + j[2:]
    assert padded[2:5] == b"\xff\xff\xff"
    m = parse_jpeg_exif(padded)
    assert m["make"] == "FillCam"
    assert m["orientation"] == 6
    assert jpeg_dimensions(padded) == jpeg_dimensions(j) == (48, 32)
