"""Baseline TIFF pixel decode: primitive round-trips (TIFF-LZW with its
MSB-first/EarlyChange quirks, PackBits), full-image round-trips across
compression × byte order × strip layout, contract errors, and the Spark
feature path.
"""

from __future__ import annotations

import numpy as np
import pytest

from commerce_sessionization_spark.functions.codecs import UnsupportedMediaError
from commerce_sessionization_spark.functions.tiff import (
    decode_tiff,
    encode_tiff,
    packbits_decode,
    packbits_encode,
    tiff_lzw_decode,
    tiff_lzw_encode,
)

RNG = np.random.default_rng(5)
GRAY = RNG.integers(0, 256, (37, 53), dtype=np.uint8)
RGB = RNG.integers(0, 256, (24, 31, 3), dtype=np.uint8)


@pytest.mark.parametrize(
    "data",
    [
        b"",
        b"a",
        b"aaaaabbbccc" * 50,
        bytes(RNG.integers(0, 256, 5000, dtype=np.uint8)),
        # low-entropy long stream: forces several code-width bumps and a
        # mid-stream Clear, the EarlyChange corner the decoder must track
        bytes(RNG.integers(0, 4, 30000, dtype=np.uint8)),
    ],
    ids=["empty", "one", "runs", "random", "low-entropy-long"],
)
def test_tiff_lzw_and_packbits_roundtrip(data):
    assert tiff_lzw_decode(tiff_lzw_encode(data)) == data
    assert packbits_decode(packbits_encode(data)) == data


@pytest.mark.parametrize("comp", [1, 5, 32773], ids=["none", "lzw", "packbits"])
@pytest.mark.parametrize("big_endian", [False, True], ids=["II", "MM"])
@pytest.mark.parametrize("rps", [None, 7], ids=["one-strip", "strips"])
def test_tiff_image_roundtrip(comp, big_endian, rps):
    for img, spp in [(GRAY, 1), (RGB, 3)]:
        out, ch = decode_tiff(encode_tiff(img, comp, big_endian, rps))
        ref = np.repeat(img[:, :, None], 3, axis=2) if spp == 1 else img
        assert ch == spp
        assert np.array_equal(out, ref)


def test_tiff_white_is_zero_inverts():
    out, _ = decode_tiff(encode_tiff(GRAY, photometric=0))
    assert np.array_equal(out[:, :, 0], 255 - GRAY)


def test_tiff_large_lzw_image_survives_width_bumps():
    big = RNG.integers(0, 256, (200, 300, 3), dtype=np.uint8)
    out, _ = decode_tiff(encode_tiff(big, 5, rows_per_strip=64))
    assert np.array_equal(out, big)


def test_tiff_contract_errors():
    with pytest.raises(UnsupportedMediaError):
        decode_tiff(b"not tiff")
    # truncated pixel data fails loudly, not with garbage pixels
    good = encode_tiff(GRAY)
    with pytest.raises(UnsupportedMediaError):
        decode_tiff(good[:-40])


def test_image_features_dispatches_tiff(spark):
    from commerce_sessionization_spark.operators.multimodal import extract_image_features
    from commerce_sessionization_spark.schemas import MEDIA_SCHEMA

    rows = [
        (1, "image", bytearray(encode_tiff(RGB, 5)), "image/tiff", {}),
        (2, "image", bytearray(encode_tiff(GRAY, 32773)), "image/tiff", {}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["asset_id"]: r.asDict() for r in extract_image_features(df).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["n_channels"]) == (31, 24, 3)
    assert (out[2]["width"], out[2]["height"], out[2]["n_channels"]) == (53, 37, 1)
    assert 0 <= out[1]["mean_luma"] <= 255 and len(out[1]["phash"]) == 16


def test_real_host_tiff_decodes():
    """Real TIFF from the Python test suite on this host (not our own
    fixture writer): dimensions must agree between the pixel decode and
    the IFD metadata walk."""
    import glob

    from commerce_sessionization_spark.functions.metadata import (
        parse_tiff_exif,
    )

    paths = glob.glob(
        "/root/.pyenv/versions/*/lib/python*/test/test_email/data/python.tiff"
    )
    if not paths:
        pytest.skip("no host TIFF fixture present")
    data = open(paths[0], "rb").read()
    rgb, ch = decode_tiff(data)
    meta = parse_tiff_exif(data)
    assert (rgb.shape[1], rgb.shape[0]) == (meta["width"], meta["height"])
    assert rgb.dtype == np.uint8 and ch in (1, 3)


@pytest.mark.parametrize("comp", [1, 5], ids=["none", "lzw"])
def test_tiff_predictor2_horizontal_differencing(comp):
    """Predictor 2 (the common companion to LZW in real scanner files):
    per-row differencing undone by a cumsum — round-trips exactly for
    gray and RGB at any strip layout."""
    for img in (GRAY, RGB):
        data = encode_tiff(img, comp, rows_per_strip=5, predictor=2)
        out, ch = decode_tiff(data)
        ref = np.repeat(img[:, :, None], 3, axis=2) if img.ndim == 2 else img
        assert np.array_equal(out, ref)


def test_multi_page_tiff_chain():
    """Scanned-document shape: 4 pages of different heights, LZW, big
    endian — every page decodes independently; page index errors are
    IndexError (iterable with tiff_page_count), not garbage."""
    from commerce_sessionization_spark.functions.tiff import (
        encode_tiff_pages,
        tiff_page_count,
    )

    pages = [
        RNG.integers(0, 256, (10 + i, 20, 3), dtype=np.uint8)
        for i in range(4)
    ]
    blob = encode_tiff_pages(pages, compression=5, big_endian=True)
    assert tiff_page_count(blob) == 4
    for i, pg in enumerate(pages):
        out, _ = decode_tiff(blob, page=i)
        assert np.array_equal(out, pg)
    with pytest.raises(IndexError):
        decode_tiff(blob, page=4)
    # single-page files report 1
    assert tiff_page_count(encode_tiff(GRAY)) == 1


def test_container_metadata_tiff_reports_pages():
    from commerce_sessionization_spark.functions.containers import (
        container_metadata,
    )
    from commerce_sessionization_spark.functions.tiff import (
        encode_tiff_pages,
    )

    blob = encode_tiff_pages([GRAY, GRAY, GRAY])
    rec = container_metadata(1, blob)
    assert rec["container"] == "tiff"
    assert rec["n_samples"] == 3  # page count of the scan
    assert (rec["width"], rec["height"]) == (53, 37)
