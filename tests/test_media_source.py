"""binaryFile media-directory ingestion → real decode, end to end.

Writes genuine BMP/WAV/GIF bytes to disk, ingests the directory through
``sources.read_media_dir`` (Spark binaryFile source), and runs the REAL
dependency-free decoders over the resulting MEDIA_SCHEMA frame — the full
file→features path with no fakes anywhere.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from commerce_sessionization_spark.functions.codecs import (
    encode_bmp,
    encode_gif,
    encode_wav,
)
from commerce_sessionization_spark.operators.multimodal import (
    extract_audio_features,
    extract_image_features,
    sample_video_frames,
)
from commerce_sessionization_spark.sources.io import read_media_dir


@pytest.fixture(scope="module")
def media_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("media")
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:8] = 255  # top half white → known mean luma 127.5
    (d / "a.bmp").write_bytes(encode_bmp(img))
    t = np.arange(1600) / 16000.0
    wav = 0.5 * np.sin(2 * np.pi * 440 * t)  # float samples in [-1, 1]
    (d / "b.wav").write_bytes(encode_wav(wav, sample_rate=16000))
    # palette-index frames (H×W, values < 128) per the fixture encoder
    frames = [np.full((8, 8), v, dtype=np.uint8) for v in (0, 60, 100)]
    (d / "c.gif").write_bytes(encode_gif(frames))
    (d / "notes.txt").write_bytes(b"plain text doc")
    (d / "blob.xyz").write_bytes(b"unknown extension")
    return str(d)


def test_ingest_assigns_modalities_and_stable_ids(spark, media_dir):
    df = read_media_dir(spark, media_dir)
    rows = {r["modality"]: r for r in df.collect()}
    assert set(rows) == {"image", "audio", "video", "document", "other"}
    assert rows["image"]["mime_type"] == "image/bmp"
    # .txt is DOCUMENT modality (round-5 document leg); unknown
    # extensions still land in "other"
    assert rows["document"]["metadata"]["source_path"].endswith("notes.txt")
    assert rows["other"]["metadata"]["source_path"].endswith("blob.xyz")
    # ids are path-hashes: re-reading yields identical ids
    again = {r["modality"]: r["asset_id"] for r in read_media_dir(spark, media_dir).collect()}
    assert all(again[m] == rows[m]["asset_id"] for m in rows)


def test_glob_pushes_filter_into_listing(spark, media_dir):
    only_bmp = read_media_dir(spark, media_dir, glob="*.bmp")
    assert [r["modality"] for r in only_bmp.collect()] == ["image"]


def test_file_to_features_real_decode(spark, media_dir):
    media = read_media_dir(spark, media_dir)
    img = extract_image_features(media).collect()
    assert len(img) == 1
    assert (img[0]["width"], img[0]["height"]) == (16, 16)
    assert img[0]["mean_luma"] == pytest.approx(0.5, abs=0.01)  # half-white

    aud = extract_audio_features(media).collect()
    assert len(aud) == 1
    assert aud[0]["sample_rate"] == 16000
    assert aud[0]["duration_sec"] == pytest.approx(0.1)
    # RMS of a 0.5-amplitude sine ≈ 0.5/√2
    assert aud[0]["rms"] == pytest.approx(0.5 / np.sqrt(2), rel=0.01)

    frames = sample_video_frames(media, every_n=1).collect()
    assert len(frames) == 3
    assert len({f["frame_phash"] for f in frames}) == 3  # distinct content


def test_metadata_only_projection_skips_payload(spark, media_dir):
    """Projecting id+modality must not read the content column (pruned)."""
    df = read_media_dir(spark, media_dir).select("asset_id", "modality")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan


def test_resize_real_bmp_and_compose_with_features(spark, media_dir):
    from commerce_sessionization_spark.operators.multimodal import (
        extract_image_features, resize_images,
    )

    media = read_media_dir(spark, media_dir)  # one 16×16 BMP
    # 16×16 is within max_dim=8? no — shrink to 8 so resize actually runs
    small = resize_images(media, max_dim=8)
    r = small.collect()[0]
    assert (r["width"], r["height"]) == (8, 8)
    # the resized payload is still a decodable BMP: features compose
    feats = extract_image_features(
        small.withColumn("modality", F.lit("image"))
    ).collect()[0]
    assert (feats["width"], feats["height"]) == (8, 8)
    # half-white source stays ~half-white after nearest-neighbor downsample
    assert abs(feats["mean_luma"] - 0.5) < 0.01


def test_resize_within_bounds_is_byte_identical(spark, media_dir):
    from commerce_sessionization_spark.operators.multimodal import resize_images

    media = read_media_dir(spark, media_dir)
    out = resize_images(media, max_dim=64).collect()[0]  # 16×16 ≤ 64
    src = media.filter(F.col("modality") == "image").collect()[0]
    assert bytes(out["content"]) == bytes(src["content"])
    assert (out["width"], out["height"]) == (16, 16)


def test_resize_real_png_keeps_container(spark):
    """PNG in → PNG out: resize decodes via dispatch, re-encodes in the
    same container, and the output still composes with featurization."""
    import numpy as np

    from commerce_sessionization_spark.functions.codecs import (
        decode_png,
        encode_png,
    )
    from commerce_sessionization_spark.operators.multimodal import (
        extract_image_features,
        resize_images,
    )
    from commerce_sessionization_spark.schemas import MEDIA_SCHEMA

    img = np.zeros((32, 16, 3), dtype=np.uint8)
    img[:, 8:] = 255  # right half white
    media = spark.createDataFrame(
        [(1, "image", bytes(encode_png(img)), "image/png", {})], MEDIA_SCHEMA
    )
    out = resize_images(media, max_dim=8).collect()[0]
    assert (out["width"], out["height"]) == (4, 8)
    payload = bytes(out["content"])
    assert payload[:8] == b"\x89PNG\r\n\x1a\n"  # container preserved
    rgb, _ = decode_png(payload)
    assert rgb.shape == (8, 4, 3)
    feats = extract_image_features(
        spark.createDataFrame(
            [(1, "image", payload, "image/png", {})], MEDIA_SCHEMA
        )
    ).collect()[0]
    assert abs(feats["mean_luma"] - 0.5) < 0.05


def test_spectral_features_recover_pure_tone(spark, media_dir):
    """The fixture WAV is a 440 Hz sine at 16 kHz: the FFT path must put
    the dominant bin within one bin width of 440 and the ZCR at ~2·f0."""
    from commerce_sessionization_spark.operators.multimodal import (
        extract_audio_spectral,
    )

    media = read_media_dir(spark, media_dir)
    rows = extract_audio_spectral(media).collect()
    assert len(rows) == 1
    r = rows[0]
    bin_hz = 16000.0 / 1600  # clip is 1600 samples
    assert abs(r["dominant_hz"] - 440.0) <= bin_hz
    assert abs(r["zero_crossing_rate"] - 880.0) <= 2 * bin_hz
    assert r["rolloff85_hz"] >= r["dominant_hz"] - bin_hz


def test_spectral_two_tone_dominant_and_centroid(spark):
    """Louder high tone wins dominance; the centroid sits between the
    tones, pulled toward the louder one."""
    from pyspark.sql import Row

    from commerce_sessionization_spark.operators.multimodal import (
        extract_audio_spectral,
    )

    t = np.arange(8000) / 16000.0
    sig = 0.2 * np.sin(2 * np.pi * 500 * t) + 0.7 * np.sin(2 * np.pi * 3000 * t)
    payload = encode_wav(sig, sample_rate=16000)
    df = spark.createDataFrame(
        [Row(asset_id=1, modality="audio", content=bytearray(payload))]
    )
    r = extract_audio_spectral(df).collect()[0]
    assert abs(r["dominant_hz"] - 3000.0) <= 4.0
    assert 500.0 < r["spectral_centroid_hz"] < 3000.0
    assert r["spectral_centroid_hz"] > 1750.0  # pulled toward the loud tone


def test_spectral_fake_path_is_deterministic(spark):
    from pyspark.sql import Row

    from commerce_sessionization_spark.operators.multimodal import (
        extract_audio_spectral,
    )

    df = spark.createDataFrame(
        [Row(asset_id=i, modality="audio", content=bytearray(b"x" * i))
         for i in range(1, 4)]
    )
    a = sorted(map(tuple, extract_audio_spectral(df, fake=True).collect()))
    b = sorted(map(tuple, extract_audio_spectral(df, fake=True).collect()))
    assert a == b and len(a) == 3


def test_scene_cuts_on_real_gif(spark):
    """A GIF with frames A A B B C must cut exactly at the A->B and
    B->C boundaries."""
    from pyspark.sql import Row

    from commerce_sessionization_spark.operators.multimodal import (
        detect_scene_cuts,
    )

    fa = np.full((8, 8), 10, dtype=np.uint8)
    fb = np.full((8, 8), 70, dtype=np.uint8)
    fc = np.full((8, 8), 120, dtype=np.uint8)
    payload = encode_gif([fa, fa, fb, fb, fc])
    df = spark.createDataFrame(
        [Row(asset_id=5, modality="video", content=bytearray(payload))]
    )
    cuts = sorted(
        (r.cut_at_frame, r.prev_fingerprint != r.next_fingerprint)
        for r in detect_scene_cuts(df).collect()
    )
    assert cuts == [(2, True), (4, True)]


def test_scene_cuts_static_gif_has_none(spark):
    from pyspark.sql import Row

    from commerce_sessionization_spark.operators.multimodal import (
        detect_scene_cuts,
    )

    f = np.full((4, 4), 33, dtype=np.uint8)
    df = spark.createDataFrame(
        [Row(asset_id=6, modality="video", content=bytearray(encode_gif([f, f, f])))]
    )
    assert detect_scene_cuts(df).count() == 0


@pytest.fixture(scope="module")
def jpeg_dir(tmp_path_factory):
    """Separate fixture dir: baseline JPEGs (4:4:4 and 4:2:0) on disk."""
    from commerce_sessionization_spark.functions.codecs import encode_jpeg

    d = tmp_path_factory.mktemp("media_jpeg")
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:8] = 255  # top half white → known mean luma ≈ 0.5
    (d / "a.jpg").write_bytes(encode_jpeg(img))
    (d / "b.jpeg").write_bytes(encode_jpeg(img, subsample=True))
    return str(d)


def test_jpeg_ingest_and_real_decode(spark, jpeg_dir):
    media = read_media_dir(spark, jpeg_dir)
    rows = media.collect()
    assert [r["modality"] for r in rows] == ["image", "image"]
    assert {r["mime_type"] for r in rows} == {"image/jpeg"}
    feats = extract_image_features(media).collect()
    assert len(feats) == 2
    for f in feats:
        assert (f["width"], f["height"]) == (16, 16)
        # near-lossless 4:4:4 and 4:2:0 both hold the half-white luma
        assert f["mean_luma"] == pytest.approx(0.5, abs=0.02)


def test_resize_real_jpeg_keeps_container(spark, jpeg_dir):
    from commerce_sessionization_spark.operators.multimodal import (
        extract_image_features,
        resize_images,
    )

    media = read_media_dir(spark, jpeg_dir, glob="*.jpg")
    out = resize_images(media, max_dim=8).collect()[0]
    assert (out["width"], out["height"]) == (8, 8)
    payload = bytes(out["content"])
    assert payload[:2] == b"\xff\xd8"  # still a JPEG container
    feats = extract_image_features(
        spark.createDataFrame(
            [(out["asset_id"], "image", payload, "image/jpeg", {})],
            media.schema,
        )
    ).collect()[0]
    assert (feats["width"], feats["height"]) == (8, 8)
    assert abs(feats["mean_luma"] - 0.5) < 0.05


def test_video_frame_pixel_features_real_decode(spark, media_dir):
    """Full GIF pixel decode on the ingested asset: per-frame luma comes
    from REAL composited pixels (fixture frames are constant 0/60/100
    gray), and the phash space matches the image featurizer's."""
    from commerce_sessionization_spark.operators.multimodal import (
        extract_video_frame_features,
    )

    media = read_media_dir(spark, media_dir)
    rows = sorted(
        extract_video_frame_features(media, every_n=1, max_frames=8).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [r["frame_idx"] for r in rows] == [0, 1, 2]
    assert all((r["width"], r["height"]) == (8, 8) for r in rows)
    assert all(r["delay_cs"] == 10 for r in rows)
    lumas = [r["mean_luma"] for r in rows]
    assert lumas == pytest.approx([0.0, 60 / 255, 100 / 255], abs=1e-6)
    # constant frames all share the all-zero-bits phash; the point is the
    # fingerprint came from pixels, not compressed bytes
    assert all(len(r["phash"]) == 16 for r in rows)


def test_video_frame_sampling_bounds_output(spark, media_dir):
    from commerce_sessionization_spark.operators.multimodal import (
        extract_video_frame_features,
    )

    media = read_media_dir(spark, media_dir)
    rows = extract_video_frame_features(media, every_n=2, max_frames=1).collect()
    assert [(r["frame_idx"],) for r in rows] == [(0,)]


def test_audio_mfcc_fingerprints_real_decode(spark, media_dir):
    """MFCC fingerprint on the ingested 440 Hz fixture tone — real WAV
    decode through the standard mel/DCT recipe, fixed-size output."""
    from commerce_sessionization_spark.operators.multimodal import (
        extract_audio_mfcc,
    )

    media = read_media_dir(spark, media_dir)
    rows = extract_audio_mfcc(media).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_frames"] == 1 + (1600 - 400) // 160
    assert len(r["mfcc_mean"]) == 13 and len(r["mfcc_std"]) == 13
    assert all(np.isfinite(r["mfcc_mean"]))
    # re-run is byte-deterministic (no randomness anywhere in the path)
    again = extract_audio_mfcc(media).collect()[0]
    assert again["mfcc_mean"] == r["mfcc_mean"]


def test_phash_near_dup_pairs_matches_bruteforce(spark):
    """Banded phash join == exhaustive Hamming compare (recall proof for
    max_hamming<=3 via the 4-band pigeonhole), on real decoded images."""
    from commerce_sessionization_spark.functions.codecs import (
        average_hash,
        decode_bmp,
        encode_bmp,
    )
    from commerce_sessionization_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    imgs = [base]
    for _ in range(4):  # slight perturbations → near-dup phashes
        im = base.copy()
        xs, ys = rng.integers(0, 32, 12), rng.integers(0, 32, 12)
        im[ys, xs] = rng.integers(0, 256, (12, 3))
        imgs.append(im)
    imgs.append(rng.integers(0, 256, (32, 32, 3), dtype=np.uint8))  # unrelated
    hashes = [average_hash(decode_bmp(encode_bmp(im))[0]) for im in imgs]

    def ham(a, b):
        return bin(int(a, 16) ^ int(b, 16)).count("1")

    expected = sorted(
        (i, j, ham(hashes[i], hashes[j]))
        for i in range(len(hashes))
        for j in range(i + 1, len(hashes))
        if ham(hashes[i], hashes[j]) <= 3
    )
    assert expected, "fixture produced no near-dup pairs — tighten perturbation"
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(hashes)], "asset_id LONG, phash STRING"
    )
    got = sorted(
        (r["id_l"], r["id_r"], r["hamming"])
        for r in phash_near_dup_pairs(df).collect()
    )
    assert got == expected
    with pytest.raises(ValueError):
        phash_near_dup_pairs(df, max_hamming=4)


def test_standardize_audio_resamples_and_composes(spark, tmp_path):
    """8 kHz and 24-bit sources normalize to 16 kHz 16-bit WAV whose
    payload composes with the MFCC featurizer downstream."""
    import struct

    from commerce_sessionization_spark.functions.codecs import encode_wav
    from commerce_sessionization_spark.operators.multimodal import (
        extract_audio_mfcc,
        standardize_audio,
    )

    d = tmp_path / "audio"
    d.mkdir()
    t8 = np.arange(8000) / 8000.0
    (d / "a8k.wav").write_bytes(
        encode_wav(0.5 * np.sin(2 * np.pi * 440 * t8), 8000)
    )
    # hand-built 24-bit 16 kHz file: 0.25-amplitude 440 Hz tone
    t16 = np.arange(16000) / 16000.0
    pcm24 = (0.25 * np.sin(2 * np.pi * 440 * t16) * (1 << 23)).astype(np.int64)
    data = b"".join(int(v & 0xFFFFFF).to_bytes(3, "little") for v in pcm24)
    fmt = struct.pack("<HHIIHH", 1, 1, 16000, 48000, 3, 24)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    (d / "b24.wav").write_bytes(
        b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    )
    media = read_media_dir(spark, str(d))
    std = standardize_audio(media, target_rate=16000)
    rows = std.collect()
    assert len(rows) == 2
    assert all(r["sample_rate"] == 16000 for r in rows)
    assert sorted(r["n_samples"] for r in rows) == [16000, 16000]
    # re-featurize the standardized payloads: same pitch → close MFCCs
    refed = spark.createDataFrame(
        [(r["asset_id"], "audio", bytes(r["content"]), "audio/wav", {})
         for r in rows],
        media.schema,
    )
    feats = extract_audio_mfcc(refed).collect()
    assert len(feats) == 2
    v1, v2 = (np.array(f["mfcc_mean"]) for f in feats)
    assert float(np.linalg.norm(v1 - v2)) < 20.0  # same 440 Hz pitch
