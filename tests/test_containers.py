"""Container demux tests: MP4/ISO-BMFF, MP3, Ogg, FLAC — builders round-trip
through the parsers bit-for-bit (this container ships no media encoders, so
fixtures are hand-assembled spec-literal payloads, the same validation style
as tests/test_webp.py), plus the Spark triage operator over a mixed corpus.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

from commerce_sessionization_spark.functions.codecs import (
    UnsupportedMediaError,
    encode_gif,
    encode_wav,
)
from commerce_sessionization_spark.functions.containers import (
    _ogg_crc,
    build_flac,
    build_mp3,
    build_mp4,
    build_ogg_opus,
    build_ogg_vorbis,
    container_metadata,
    mp4_sample_index,
    parse_flac,
    parse_mp3,
    parse_mp4,
    parse_ogg,
    sniff_container,
)

# ---------------------------------------------------------------------------
# MP3


def test_mp3_cbr_frame_walk():
    p = build_mp3(n_frames=50, bitrate_kbps=128, sample_rate=44100)
    info = parse_mp3(p)
    assert info["n_frames"] == 50
    assert info["sample_rate"] == 44100
    assert info["channels"] == 2
    assert not info["vbr"]
    assert info["bitrate_kbps"] == 128.0
    assert info["duration_sec"] == pytest.approx(50 * 1152 / 44100)


def test_mp3_vbr_detected_from_frame_walk():
    p = build_mp3(n_frames=30, bitrate_kbps=[128, 192, 160])
    info = parse_mp3(p)
    assert info["vbr"]
    assert info["n_frames"] == 30
    # average of the cycled bitrates
    assert info["bitrate_kbps"] == pytest.approx(160.0)


def test_mp3_xing_header_wins_over_walk():
    # Xing stamps 999 frames; only 5 physical frames follow. The demuxer
    # must trust the VBR header (real VBR files are often partially
    # downloaded; Xing is the authoritative count).
    p = build_mp3(n_frames=5, bitrate_kbps=128, xing_frames=999)
    info = parse_mp3(p)
    assert info["n_frames"] == 999
    assert info["vbr"]


def test_mp3_id3v2_text_frames_and_resync():
    p = build_mp3(
        n_frames=12,
        id3={"TIT2": "A Title", "TPE1": "An Artist", "TALB": "An Album"},
    )
    info = parse_mp3(p)
    assert info["id3"] == {
        "TIT2": "A Title",
        "TPE1": "An Artist",
        "TALB": "An Album",
    }
    assert info["n_frames"] == 12
    # junk before the first header must resync, not fail
    info2 = parse_mp3(b"\x00garbage\xff\x00" + build_mp3(n_frames=3))
    assert info2["n_frames"] == 3


def test_mp3_mono_and_low_rate():
    p = build_mp3(n_frames=8, bitrate_kbps=64, sample_rate=32000, mono=True)
    info = parse_mp3(p)
    assert info["channels"] == 1
    assert info["sample_rate"] == 32000


def test_mp3_rejects_non_audio():
    with pytest.raises(UnsupportedMediaError):
        parse_mp3(b"not audio at all" * 10)


# ---------------------------------------------------------------------------
# Ogg


def test_ogg_opus_duration_net_of_preskip():
    p = build_ogg_opus(duration_sec=2.5, channels=2, pre_skip=312)
    info = parse_ogg(p)
    assert info["codec"] == "opus"
    assert info["channels"] == 2
    assert info["sample_rate"] == 48000
    assert info["duration_sec"] == pytest.approx(2.5)


def test_ogg_vorbis_ident_header():
    p = build_ogg_vorbis(duration_sec=3.0, sample_rate=22050, channels=1)
    info = parse_ogg(p)
    assert info["codec"] == "vorbis"
    assert info["channels"] == 1
    assert info["sample_rate"] == 22050
    assert info["bitrate_nominal"] == 128000
    assert info["duration_sec"] == pytest.approx(3.0)


def test_ogg_crc_rejects_corrupt_page():
    p = bytearray(build_ogg_opus(duration_sec=1.0))
    # flip a payload byte on the last page: its CRC no longer matches,
    # so the resyncing demuxer must drop it (losing the final granulepos)
    p[-1] ^= 0xFF
    info = parse_ogg(bytes(p))
    assert info["codec"] == "opus"  # BOS page still intact
    assert info["n_pages"] == 2  # third page rejected
    with pytest.raises(UnsupportedMediaError):
        parse_ogg(b"OggS" + b"\x00" * 40)  # no valid page at all


def test_ogg_crc_is_rfc3533_polynomial():
    # spot-pin the table-driven CRC against a direct bitwise computation
    data = bytes(range(64))
    crc = 0
    for byte in data:
        crc ^= byte << 24
        for _ in range(8):
            crc = ((crc << 1) ^ 0x04C11DB7) if crc & 0x80000000 else crc << 1
            crc &= 0xFFFFFFFF
    assert _ogg_crc(data) == crc


# ---------------------------------------------------------------------------
# FLAC


def test_flac_streaminfo_roundtrip():
    p = build_flac(
        n_samples=88200, sample_rate=44100, channels=2, bits_per_sample=24
    )
    info = parse_flac(p)
    assert info["sample_rate"] == 44100
    assert info["channels"] == 2
    assert info["bits_per_sample"] == 24
    assert info["n_samples"] == 88200
    assert info["duration_sec"] == pytest.approx(2.0)


def test_flac_rejects_missing_streaminfo():
    with pytest.raises(UnsupportedMediaError):
        parse_flac(b"fLaC" + bytes([0x84]) + (4).to_bytes(3, "big") + b"test")


# ---------------------------------------------------------------------------
# MP4


def _demo_mp4():
    vid = [bytes([i]) * (10 + i) for i in range(12)]
    aud = [bytes([0x80 + i]) * 8 for i in range(24)]
    payload = build_mp4(
        [
            {
                "handler": "vide",
                "codec": b"avc1",
                "samples": vid,
                "keyframes": [1, 5, 9],
                "width": 640,
                "height": 360,
                "sample_delta": 40,
            },
            {
                "handler": "soun",
                "codec": b"mp4a",
                "samples": aud,
                "channels": 2,
                "sample_rate": 48000,
                "sample_delta": 21,
            },
        ],
        timescale=1000,
        duration_ticks=480,
    )
    return payload, vid, aud


def test_mp4_track_inventory():
    payload, vid, aud = _demo_mp4()
    info = parse_mp4(payload)
    assert info["major_brand"] == "isom"
    assert info["duration_sec"] == pytest.approx(0.48)
    assert info["n_tracks"] == 2
    v, a = info["tracks"]
    assert (v["handler"], v["codec"]) == ("vide", "avc1")
    assert (v["width"], v["height"]) == (640, 360)
    assert v["n_samples"] == 12
    assert v["n_keyframes"] == 3
    assert v["duration_sec"] == pytest.approx(0.48)
    assert (a["handler"], a["codec"]) == ("soun", "mp4a")
    assert (a["channels"], a["sample_rate"]) == (2, 48000)
    assert a["n_samples"] == 24


def test_mp4_sample_index_locates_exact_bytes():
    payload, vid, _ = _demo_mp4()
    idx = mp4_sample_index(payload)  # defaults to the video track
    assert len(idx) == 12
    for i, rec in enumerate(idx):
        assert payload[rec["offset"] : rec["offset"] + rec["size"]] == vid[i]
    assert [r["sample"] for r in idx if r["sync"]] == [1, 5, 9]


def test_mp4_sample_index_audio_track_all_sync():
    payload, _, aud = _demo_mp4()
    idx = mp4_sample_index(payload, track_id=2)
    assert len(idx) == 24
    assert all(r["sync"] for r in idx)  # no stss => every sample is sync
    for i, rec in enumerate(idx):
        assert payload[rec["offset"] : rec["offset"] + rec["size"]] == aud[i]


def test_mp4_rejects_non_isobmff():
    with pytest.raises(UnsupportedMediaError):
        parse_mp4(b"\x00" * 64)
    with pytest.raises(UnsupportedMediaError):
        # ftyp but no moov
        parse_mp4(struct.pack(">I", 16) + b"ftypisom" + b"\x00\x00\x00\x00")


def test_fragmented_mp4_sample_index():
    # DASH/CMAF shape: empty stbl shell, samples in per-fragment trun runs
    from commerce_sessionization_spark.functions.containers import build_fmp4

    frags = [[bytes([f * 16 + i]) * (20 + i) for i in range(5)] for f in range(3)]
    payload = build_fmp4(frags)
    info = parse_mp4(payload)
    assert info["fragmented"]
    assert info["tracks"][0]["n_samples"] == 15
    assert info["tracks"][0]["n_keyframes"] == 3  # first sample per fragment
    # duration estimated from trex default tick length (mvhd is empty)
    assert info["duration_sec"] == pytest.approx(15 * 40 / 1000)
    idx = mp4_sample_index(payload)  # falls back to the fragment walk
    flat = [s for fr in frags for s in fr]
    assert len(idx) == 15
    for i, rec in enumerate(idx):
        assert payload[rec["offset"] : rec["offset"] + rec["size"]] == flat[i]
    assert [r["sample"] for r in idx if r["sync"]] == [1, 6, 11]


def test_xiph_tags_opus_vorbis_flac():
    # one comment structure, three carriers
    p = build_ogg_opus(tags={"ARTIST": "Someone", "TITLE": "A Song"})
    assert parse_ogg(p)["tags"] == {"ARTIST": "Someone", "TITLE": "A Song"}
    p = build_ogg_vorbis(tags={"artist": "Low Case"})
    assert parse_ogg(p)["tags"] == {"ARTIST": "Low Case"}  # keys normalize
    p = build_flac(tags={"ALBUM": "Tests"})
    assert parse_flac(p)["tags"] == {"ALBUM": "Tests"}
    assert parse_flac(build_flac())["tags"] == {}


def test_mp3_id3v1_trailing_tag_fallback():
    p = build_mp3(n_frames=4, id3v1=("Old Title", "Old Artist", "Old Album"))
    info = parse_mp3(p)
    assert info["id3"] == {
        "TIT2": "Old Title",
        "TPE1": "Old Artist",
        "TALB": "Old Album",
    }
    assert info["n_frames"] == 4  # the trailing TAG block isn't a frame


# ---------------------------------------------------------------------------
# sniffing + unified triage record


def test_sniff_container_all_formats():
    wav = encode_wav(np.zeros(100, dtype=np.int16), 16000)
    gif = encode_gif([np.zeros((4, 4), dtype=np.uint8)] * 2)
    cases = {
        "mp4": _demo_mp4()[0],
        "mp3": build_mp3(n_frames=3),
        "ogg": build_ogg_opus(),
        "flac": build_flac(),
        "wav": wav,
        "gif": gif,
    }
    for expected, payload in cases.items():
        assert sniff_container(payload) == expected
    assert sniff_container(b"total junk") is None
    assert sniff_container(b"") is None


def test_container_metadata_flat_record():
    rec = container_metadata(7, _demo_mp4()[0])
    assert rec["container"] == "mp4"
    assert rec["codec"] == "avc1"
    assert (rec["width"], rec["height"]) == (640, 360)
    assert rec["sample_rate"] == 48000  # audio track folded in
    assert rec["n_keyframes"] == 3
    rec = container_metadata(8, build_flac(n_samples=44100))
    assert rec["codec"] == "flac"
    assert rec["duration_sec"] == pytest.approx(1.0)
    with pytest.raises(UnsupportedMediaError):
        container_metadata(9, b"garbage")


# ---------------------------------------------------------------------------
# Spark operator: triage over a mixed corpus + MP4 frame sampling


@pytest.fixture(scope="module")
def media_corpus(spark):
    from commerce_sessionization_spark.schemas import MEDIA_SCHEMA

    wav = encode_wav(np.zeros(16000, dtype=np.int16), 16000)
    gif = encode_gif([np.zeros((4, 4), dtype=np.uint8)] * 3)
    rows = [
        (1, "video", bytearray(_demo_mp4()[0]), "video/mp4", {}),
        (2, "audio", bytearray(build_mp3(n_frames=50)), "audio/mpeg", {}),
        (3, "audio", bytearray(build_ogg_opus(2.5)), "audio/ogg", {}),
        (4, "audio", bytearray(build_flac(44100 * 3)), "audio/flac", {}),
        (5, "audio", bytearray(wav), "audio/wav", {}),
        (6, "video", bytearray(gif), "image/gif", {}),
        (7, "other", bytearray(b"not media"), "application/octet-stream", {}),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_container_metadata_operator(spark, media_corpus):
    from commerce_sessionization_spark.operators.multimodal import (
        extract_container_metadata,
    )

    out = {
        r["asset_id"]: r.asDict()
        for r in extract_container_metadata(media_corpus).collect()
    }
    assert len(out) == 7
    assert out[1]["container"] == "mp4" and out[1]["codec"] == "avc1"
    assert out[2]["container"] == "mp3"
    assert out[2]["duration_sec"] == pytest.approx(50 * 1152 / 44100)
    assert out[3]["codec"] == "opus"
    assert out[4]["codec"] == "flac" and out[4]["duration_sec"] == 3.0
    assert out[5]["codec"] == "pcm" and out[5]["sample_rate"] == 16000
    assert out[6]["codec"] == "gif" and out[6]["n_samples"] == 3
    # garbage triages to an 'unknown' row instead of failing the pass
    assert out[7]["container"] == "unknown"
    assert out[7]["codec"] is None


def test_extract_container_metadata_tags_column(spark):
    from commerce_sessionization_spark.operators.multimodal import (
        extract_container_metadata,
    )
    from commerce_sessionization_spark.schemas import MEDIA_SCHEMA

    rows = [
        (
            1,
            "audio",
            bytearray(build_mp3(n_frames=3, id3={"TIT2": "Song"})),
            "audio/mpeg",
            {},
        ),
        (
            2,
            "audio",
            bytearray(build_ogg_opus(tags={"ARTIST": "Someone"})),
            "audio/ogg",
            {},
        ),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {
        r["asset_id"]: r.asDict()
        for r in extract_container_metadata(df).collect()
    }
    assert out[1]["tags"] == {"TIT2": "Song"}
    assert out[2]["tags"] == {"ARTIST": "Someone"}


def test_sample_video_frames_mp4_sync_samples(spark, media_corpus):
    from commerce_sessionization_spark.operators.multimodal import sample_video_frames

    payload, vid, _ = _demo_mp4()
    rows = sample_video_frames(
        media_corpus.filter("asset_id = 1"), every_n=1, max_frames=8
    ).collect()
    # the three stss sync samples (1-based 1, 5, 9) → frame_idx 0, 4, 8,
    # fingerprinting the exact sample bytes the stbl index locates
    got = {r["frame_idx"]: r["frame_phash"] for r in rows}
    assert got == {
        i - 1: hashlib.sha256(vid[i - 1]).hexdigest()[:16] for i in (1, 5, 9)
    }


# ---------------------------------------------------------------------------
# AVIF / HEIF (ISO-BMFF image items — structure parse, no AV1/HEVC decode)


def test_avif_item_structure_roundtrip():
    from commerce_sessionization_spark.functions.containers import (
        build_avif,
        parse_avif,
    )

    info = parse_avif(build_avif(1920, 1080))
    assert info["container"] == "avif"
    assert info["brand"] == "avif"
    assert info["codec"] == "av01"
    assert (info["width"], info["height"]) == (1920, 1080)
    assert info["n_items"] == 1
    assert info["has_exif"] is False


def test_avif_exif_item_flagged():
    from commerce_sessionization_spark.functions.containers import (
        build_avif,
        parse_avif,
    )

    info = parse_avif(build_avif(320, 240, with_exif=True))
    assert info["has_exif"] is True
    assert info["n_items"] == 2
    # the Exif item must not shadow the primary's codec
    assert info["codec"] == "av01"


def test_heic_brand_and_codec():
    from commerce_sessionization_spark.functions.containers import (
        build_avif,
        parse_avif,
    )

    payload = build_avif(640, 480, codec=b"hvc1", brand=b"heic")
    assert sniff_container(payload) == "avif"
    info = parse_avif(payload)
    assert info["brand"] == "heic"
    assert info["codec"] == "hvc1"


def test_avif_rejects_non_isobmff_and_plain_mp4():
    from commerce_sessionization_spark.functions.containers import parse_avif

    with pytest.raises(UnsupportedMediaError):
        parse_avif(b"not a container at all")
    with pytest.raises(UnsupportedMediaError):
        parse_avif(_demo_mp4()[0])  # isom brand sniffs as mp4, not avif


def test_sniff_avif_and_tiff():
    from commerce_sessionization_spark.functions.containers import build_avif

    assert sniff_container(build_avif()) == "avif"
    for brand in (b"avis", b"heix", b"mif1", b"msf1"):
        assert sniff_container(build_avif(brand=brand)) == "avif"
    assert sniff_container(b"II*\x00" + b"\x00" * 16) == "tiff"
    assert sniff_container(b"MM\x00*" + b"\x00" * 16) == "tiff"


def test_container_metadata_avif_record():
    from commerce_sessionization_spark.functions.containers import build_avif

    rec = container_metadata(11, build_avif(800, 600))
    assert rec["container"] == "avif"
    assert rec["codec"] == "av01"
    assert (rec["width"], rec["height"]) == (800, 600)
    assert rec["n_streams"] == 1
    assert rec["duration_sec"] is None  # still image: no timeline
