"""Multimodal plumbing: header parsing is real; codec fallback is
deterministic; content ids match their definition; frame sampler
fan-out shape."""

from __future__ import annotations

from bbcnews_scraper_nlp_spark.operators import multimodal as M


def test_png_gif_jpeg_header_parse():
    png = M._png_header(640, 480) + b"data"
    assert M._parse_dims(png) == (640, 480, "png")
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
    assert M._parse_dims(gif) == (320, 200, "gif")
    # minimal JPEG: SOI + SOF0 segment
    sof = b"\xff\xc0" + (11).to_bytes(2, "big") + b"\x08" + (99).to_bytes(2, "big") + (77).to_bytes(2, "big") + b"\x03\x00\x00\x00"
    jpg = b"\xff\xd8" + sof
    assert M._parse_dims(jpg) == (77, 99, "jpeg")
    assert M._parse_dims(b"plain text") is None


def test_image_meta_over_spark(spark):
    rows = [(1, "image/png", M._png_header(10, 20) + b"x"), (2, "image/raw", b"not an image")]
    df = spark.createDataFrame(rows, "doc_id long, media_type string, payload binary")
    out = {r["doc_id"]: r for r in M.image_meta(df).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["format"]) == (10, 20, "png")
    assert out[2]["format"] == "unknown"  # deterministic fake dims
    assert out[2]["width"] >= 1 and out[2]["height"] >= 1
    # determinism: same payload -> same fake dims
    again = {r["doc_id"]: r for r in M.image_meta(df).collect()}
    assert (again[2]["width"], again[2]["height"]) == (out[2]["width"], out[2]["height"])


def test_strict_mode_raises(spark):
    df = spark.createDataFrame(
        [(1, "image/raw", b"junk")], "doc_id long, media_type string, payload binary"
    )
    import pytest
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as exc:
        M.image_meta(df, strict=True).collect()
    assert "NotImplementedError" in str(exc.value) or "no codec" in str(exc.value)


def test_wav_header_parse_roundtrip():
    hdr = M._wav_header(16000, 2, 12345)
    assert M._parse_wav(hdr) == (16000, 2, 16, 12345, "wav")
    # chunk walk: a LIST chunk before fmt/data still parses
    body = b"\x00\x01" * 100  # 100 16-bit mono frames
    wav = (
        b"RIFF" + (4 + 8 + 6 + 8 + 16 + 8 + len(body)).to_bytes(4, "little")
        + b"WAVE"
        + b"LIST" + (6).to_bytes(4, "little") + b"INFOab"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
        + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
        + b"data" + len(body).to_bytes(4, "little") + body
    )
    assert M._parse_wav(wav) == (8000, 1, 16, 100, "wav")
    assert M._parse_wav(b"ID3\x03mp3data") is None
    assert M._parse_wav(b"") is None


def test_audio_meta_over_spark(spark):
    wav = M._wav_header(16000, 1, 8000) + b"\x00\x00" * 8000
    rows = [(1, "audio/wav", wav), (2, "audio/mp3", b"ID3 not wav")]
    df = spark.createDataFrame(rows, "doc_id long, media_type string, payload binary")
    out = {r["doc_id"]: r for r in M.audio_meta(df).collect()}
    assert out[1]["format"] == "wav"
    assert out[1]["sample_rate"] == 16000
    assert out[1]["channels"] == 1
    assert out[1]["n_frames"] == 8000
    assert out[1]["duration_ms"] == 500  # 8000 frames @ 16 kHz
    assert out[2]["format"] == "unknown"
    # deterministic fallback
    again = {r["doc_id"]: r for r in M.audio_meta(df).collect()}
    assert again[2]["sample_rate"] == out[2]["sample_rate"]

    import pytest as _pytest

    with _pytest.raises(Exception) as exc:
        M.audio_meta(df, strict=True).collect()
    assert "NotImplementedError" in str(exc.value) or "no audio codec" in str(exc.value)


def test_attach_audio_payload_parses_end_to_end(spark):
    df = spark.createDataFrame(
        [(7, "hello world"), (8, "x" * 501)], "doc_id long, text string"
    )
    payloads = M.attach_audio_payload(df, "text", "doc_id")
    out = {r["doc_id"]: r for r in M.audio_meta(payloads).collect()}
    assert out[7]["format"] == "wav"
    assert out[7]["sample_rate"] == 8000 + (7 % 3) * 8000
    assert out[7]["n_frames"] == len("hello world") // 2
    assert out[8]["n_frames"] == 501 // 2


def test_video_meta_parses_avi_and_stubs_unknown(spark):
    from bbcnews_scraper_nlp_spark.operators.multimodal import _avi_payload

    rows = [
        (1, _avi_payload(33333, 120, 640, 480, b"framedata")),
        (2, b"\x00\x01 not a container"),
    ]
    df = spark.createDataFrame(
        [(i, "video/avi", p) for i, p in rows],
        "doc_id long, media_type string, payload binary",
    )
    out = {r["doc_id"]: r for r in M.video_meta(df).collect()}
    assert out[1]["format"] == "avi"
    assert out[1]["width"] == 640 and out[1]["height"] == 480
    assert out[1]["us_per_frame"] == 33333
    assert out[1]["n_frames"] == 120
    assert out[1]["duration_ms"] == 120 * 33333 // 1000
    assert out[2]["format"] == "unknown"
    again = {r["doc_id"]: r for r in M.video_meta(df).collect()}
    assert again[2]["n_frames"] == out[2]["n_frames"]  # deterministic stub

    import pytest as _pytest

    with _pytest.raises(Exception) as exc:
        M.video_meta(df, strict=True).collect()
    assert "NotImplementedError" in str(exc.value) or "no video demuxer" in str(
        exc.value
    )


def test_attach_video_payload_demux_end_to_end(spark):
    df = spark.createDataFrame(
        [(4, "hello world"), (5, "y" * 300)], "doc_id long, text string"
    )
    payloads = M.attach_video_payload(df, "text", "doc_id")
    out = {r["doc_id"]: r for r in M.video_meta(payloads).collect()}
    assert out[4]["format"] == "avi"
    assert out[4]["width"] == 320 + (4 % 3) * 160
    assert out[4]["height"] == out[4]["width"] * 3 // 4
    assert out[4]["n_frames"] == len("hello world") % 240 + 24
    assert out[5]["n_frames"] == 300 % 240 + 24
    assert out[5]["n_bytes"] == 100 + 300  # even body, no pad

    frames = M.video_frame_samples(payloads).collect()
    by_doc: dict[int, list] = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[4]) == (out[4]["n_frames"] + 9) // 10
    idxs = sorted(r["frame_idx"] for r in by_doc[4])
    assert idxs == list(range(0, out[4]["n_frames"], 10))
    # stub decode hash: deterministic, 40-hex, distinct across frames
    shas = [r["frame_sha1"] for r in by_doc[4]]
    assert all(len(s) == 40 for s in shas) and len(set(shas)) == len(shas)
    again = {
        (r["doc_id"], r["frame_idx"]): r["frame_sha1"]
        for r in M.video_frame_samples(payloads).collect()
    }
    assert all(again[(r["doc_id"], r["frame_idx"])] == r["frame_sha1"] for r in frames)


def test_content_ids_match_their_definition(spark):
    # the sha1 / frame_sha1 columns no oracle can check (DuckDB lacks
    # sha1), recomputed from the synthesized payload bytes: odd and
    # even byte lengths, multi-byte UTF-8
    import hashlib
    import struct

    df = spark.createDataFrame(
        [(i, "caf\u00e9 news " * i + "x" * (i % 2)) for i in range(6)],
        "doc_id long, text string",
    )
    for attach, stage in [
        (M.attach_binary_payload, M.image_meta),
        (M.attach_audio_payload, M.audio_meta),
        (M.attach_video_payload, M.video_meta),
    ]:
        payloads = attach(df, "text", "doc_id")
        raw = {r["doc_id"]: bytes(r["payload"]) for r in payloads.collect()}
        out = stage(payloads).collect()
        assert sorted(r["doc_id"] for r in out) == list(range(6))
        for r in out:
            p = raw[r["doc_id"]]
            assert r["sha1"] == hashlib.sha1(p).hexdigest()
            assert r["n_bytes"] == len(p)

    video = M.attach_video_payload(df, "text", "doc_id")
    raw = {r["doc_id"]: bytes(r["payload"]) for r in video.collect()}
    frames = M.video_frame_samples(video).collect()
    assert {r["doc_id"] for r in frames} == set(range(6))
    for r in frames:
        p = raw[r["doc_id"]] + struct.pack("<I", r["frame_idx"])
        assert r["frame_sha1"] == hashlib.sha1(p).hexdigest()


from hypothesis import given
from hypothesis import strategies as st


@given(
    upf=st.integers(min_value=1, max_value=1_000_000),
    frames=st.integers(min_value=0, max_value=1 << 31 - 1),
    w=st.integers(min_value=1, max_value=8192),
    h=st.integers(min_value=1, max_value=8192),
    data=st.binary(max_size=256),
)
def test_avi_container_roundtrip_property(upf, frames, w, h, data):
    from bbcnews_scraper_nlp_spark.operators.multimodal import (
        _avi_payload,
        _parse_avi,
    )

    p = _avi_payload(upf, frames, w, h, data)
    assert _parse_avi(p) == (w, h, upf, frames, "avi")
    assert len(p) == 100 + len(data) + (len(data) % 2)
