"""Real codec tests: PNG inflate+unfilter and WAV PCM extraction
(operators/codecs.py) plus the Spark decode stages built on them.

The round-trip property is the contract: encode cycles every PNG
filter type per row, so a byte-exact decode proves all five unfilter
branches (None/Sub/Up/Average/Paeth), the CRC walk, and the zlib
stream handling — no image library anywhere.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bbcnews_scraper_nlp_spark.operators.codecs import (
    PngError,
    decode_png,
    decode_wav_samples,
    encode_png,
    encode_wav_pcm16,
    nearest_resize,
)


def test_png_roundtrip_all_filters_all_color_types():
    rng = np.random.RandomState(7)
    for shape in [(1, 1, 1), (7, 5, 1), (12, 9, 3), (33, 17, 4), (6, 8, 2)]:
        px = rng.randint(0, 256, shape, dtype=np.uint8)
        for cycle in (True, False):
            out = decode_png(encode_png(px, cycle_filters=cycle))
            assert out.shape == shape
            assert (out == px).all()


def test_png_gradient_closed_form():
    # the oracle contract used by multimodal_image_decode
    doc_id, h, w = 5, 20, 30
    r, c = np.mgrid[0:h, 0:w]
    px = ((doc_id * 31 + r * 7 + c * 13) % 256).astype(np.uint8)
    out = decode_png(encode_png(px))
    assert (out[:, :, 0] == px).all()
    assert int(out.sum(dtype="int64")) == int(px.sum(dtype="int64"))


def test_png_crc_corruption_detected():
    px = np.zeros((4, 4), np.uint8)
    data = bytearray(encode_png(px))
    data[40] ^= 0xFF
    with pytest.raises(PngError):
        decode_png(bytes(data))


def test_png_rejects_non_png_and_bad_combos():
    with pytest.raises(PngError):
        decode_png(b"not a png at all")
    # sub-byte depths are gray/palette only per spec
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0)  # 4-bit RGB
    body = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(PngError):
        decode_png(body)


def test_png_interlace_and_depth_roundtrips():
    rng = np.random.RandomState(13)
    # Adam7: all 7 passes exercised incl. degenerate tiny images
    for shape in [(1, 1, 1), (7, 5, 1), (12, 9, 3), (8, 8, 4), (2, 2, 1),
                  (5, 1, 1), (1, 9, 1), (16, 16, 2)]:
        px = rng.randint(0, 256, shape, dtype=np.uint8)
        out = decode_png(encode_png(px, interlace=True))
        assert out.shape == shape and (out == px).all(), shape
    # 16-bit samples round-trip exactly (big-endian pairs)
    px16 = rng.randint(0, 65536, (9, 7, 3)).astype(np.uint16)
    for inter in (False, True):
        out = decode_png(encode_png(px16, bit_depth=16, interlace=inter))
        assert out.dtype == np.uint16 and (out == px16).all()
    # sub-byte gray: decode applies the spec's 255/(2^d-1) scaling
    for d in (1, 2, 4):
        maxv = (1 << d) - 1
        px = rng.randint(0, maxv + 1, (13, 11, 1), dtype=np.uint8)
        for inter in (False, True):
            out = decode_png(encode_png(px, bit_depth=d, interlace=inter))
            exp = (px.astype(np.uint16) * 255 // maxv).astype(np.uint8)
            assert (out == exp).all(), (d, inter)


def test_png_palette_expansion():
    import struct
    import zlib

    # 2x2 palette image: indices 0..3 -> RGB rows of the PLTE
    plte = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    idx = np.array([[0, 1], [2, 3]], np.uint8)
    raw = b"".join(b"\x00" + row.tobytes() for row in idx)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)

    def chunk(t: bytes, b: bytes) -> bytes:
        return (
            struct.pack(">I", len(b))
            + t
            + b
            + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)
        )

    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    out = decode_png(data)
    assert out.shape == (2, 2, 3)
    assert out[0, 0].tolist() == [10, 20, 30]
    assert out[1, 1].tolist() == [100, 110, 120]


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    ch=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_roundtrip_property(h, w, ch, seed):
    px = np.random.RandomState(seed).randint(0, 256, (h, w, ch), np.uint8)
    assert (decode_png(encode_png(px)) == px).all()


def test_nearest_resize_floor_mapping():
    h, w = 20, 30
    px = np.arange(h * w, dtype=np.uint8).reshape(h, w) % 256
    out = nearest_resize(px, 8, 6)
    assert out.shape == (6, 8)
    for r in range(6):
        for c in range(8):
            assert out[r, c] == px[r * h // 6, c * w // 8]


def test_gif_roundtrip_plain_and_interlaced():
    from bbcnews_scraper_nlp_spark.operators.codecs import (
        GifError,
        decode_gif,
        encode_gif,
    )

    rng = np.random.RandomState(11)
    for h, w, ncol in [(1, 1, 2), (9, 7, 4), (16, 24, 256), (33, 5, 17)]:
        pal = np.stack([np.arange(ncol)] * 3, 1).astype(np.uint8)
        idx = rng.randint(0, ncol, (h, w), dtype=np.uint8)
        for inter in (False, True):
            out = decode_gif(encode_gif(idx, pal, interlace=inter))
            assert out.shape == (h, w, 3)
            assert (out[:, :, 0] == idx).all()
            assert (out[:, :, 2] == idx).all()
    # RGB palette + dictionary-overflow-sized image (forces CLEAR
    # mid-stream) + repetitive content (the KwKwK LZW case)
    pal = rng.randint(0, 256, (256, 3), dtype=np.uint8)
    big = rng.randint(0, 256, (200, 300), dtype=np.uint8)
    assert (decode_gif(encode_gif(big, pal)) == pal[big]).all()
    rep = np.tile(np.arange(16, dtype=np.uint8) % 7, (64, 8)).reshape(64, 128)
    pal7 = np.stack([np.arange(7)] * 3, 1).astype(np.uint8)
    assert (decode_gif(encode_gif(rep, pal7))[:, :, 0] == rep).all()
    with pytest.raises(GifError):
        decode_gif(b"not a gif")


@settings(max_examples=20, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    ncol=st.integers(min_value=2, max_value=256),
    inter=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_gif_roundtrip_property(h, w, ncol, inter, seed):
    from bbcnews_scraper_nlp_spark.operators.codecs import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, (ncol, 3), dtype=np.uint8)
    idx = rng.randint(0, ncol, (h, w), dtype=np.uint8)
    assert (decode_gif(encode_gif(idx, pal, interlace=inter)) == pal[idx]).all()


def test_jpeg_baseline_roundtrip_bounds():
    from bbcnews_scraper_nlp_spark.operators.codecs import (
        JpegError,
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    # smooth planes at quality 95: reconstruction within 2/pixel
    for h, w in [(8, 8), (16, 24), (33, 17), (12, 20), (1, 1), (7, 3)]:
        r, c = np.mgrid[0:h, 0:w]
        px = ((r * 3 + c * 2) % 200 + 20).astype(np.uint8)
        out = decode_jpeg_gray(encode_jpeg_gray(px, quality=95))
        assert out.shape == (h, w, 1)
        err = np.abs(out[:, :, 0].astype(int) - px.astype(int)).max()
        assert err <= 2, (h, w, err)
    # constant blocks are DC-only: exact
    px = np.full((24, 24), 137, np.uint8)
    out = decode_jpeg_gray(encode_jpeg_gray(px, 90))
    assert (out[:, :, 0] == 137).all()
    with pytest.raises(JpegError):
        decode_jpeg_gray(b"\xff\xd8junk\x00")
    with pytest.raises(JpegError):
        decode_jpeg_gray(b"not jpeg")


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    base=st.integers(min_value=0, max_value=127),
)
def test_jpeg_plane_roundtrip_property(h, w, base):
    from bbcnews_scraper_nlp_spark.operators.codecs import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    r, c = np.mgrid[0:h, 0:w]
    px = np.clip(base + r + c, 0, 255).astype(np.uint8)
    out = decode_jpeg_gray(encode_jpeg_gray(px, quality=95))[:, :, 0]
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 2


def test_jpeg_color_roundtrip_bounds():
    from bbcnews_scraper_nlp_spark.operators.codecs import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(9)
    for sub, tol in (("444", 2), ("420", 6)):
        for h, w in [(8, 8), (17, 23), (12, 20), (1, 1), (5, 3), (33, 31)]:
            r, c = np.mgrid[0:h, 0:w]
            px = np.stack(
                [
                    (40 + r * 2 + c) % 200 + 20,
                    (60 + r + c * 2) % 200 + 20,
                    (80 + r * 3) % 200 + 20,
                ],
                axis=2,
            ).astype(np.uint8)
            out = decode_jpeg(encode_jpeg(px, quality=95, subsample=sub))
            assert out.shape == (h, w, 3), (sub, h, w)
            err = np.abs(out.astype(int) - px.astype(int)).max()
            assert err <= tol, (sub, h, w, err)
    # constant color image is DC-only per plane: near exact even 4:2:0
    px = np.full((24, 24, 3), 0, np.uint8)
    px[:, :, 0], px[:, :, 1], px[:, :, 2] = 90, 140, 200
    out = decode_jpeg(encode_jpeg(px, quality=90, subsample="420"))
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 1


def test_jpeg_restart_intervals_decode_identically():
    from bbcnews_scraper_nlp_spark.operators.codecs import (
        decode_jpeg,
        encode_jpeg,
    )

    r, c = np.mgrid[0:33, 0:31]
    gray = ((r * 3 + c * 2) % 200 + 20).astype(np.uint8)
    color = np.stack(
        [(40 + r * 2 + c) % 200 + 20, (60 + r + c * 2) % 200 + 20,
         (80 + r * 3) % 200 + 20],
        axis=2,
    ).astype(np.uint8)
    for px, kw in ((gray, {}), (color, {"subsample": "420"})):
        base = decode_jpeg(encode_jpeg(px, quality=95, **kw))
        # interval 1 = RST after every MCU (max marker density);
        # 1000 > #MCUs = DRI present but no RST fires
        for ri in (1, 2, 3, 1000):
            out = decode_jpeg(
                encode_jpeg(px, quality=95, restart_interval=ri, **kw)
            )
            assert (out == base).all(), ri


def test_jpeg_progressive_spectral_selection():
    from bbcnews_scraper_nlp_spark.operators.codecs import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(5)
    for sub in (None, "444", "420"):
        for h, w in [(8, 8), (33, 31), (12, 20), (1, 1)]:
            r, c = np.mgrid[0:h, 0:w]
            if sub is None:
                px = ((r * 3 + c * 2) % 200 + 20).astype(np.uint8)
                kw = {}
            else:
                px = np.stack(
                    [(40 + r * 2 + c) % 200 + 20,
                     (60 + r + c * 2) % 200 + 20,
                     (80 + r * 3) % 200 + 20],
                    axis=2,
                ).astype(np.uint8)
                kw = {"subsample": sub}
            base = decode_jpeg(encode_jpeg(px, quality=95, **kw))
            # a progressive (SOF2) bitstream carries the SAME
            # coefficients split across DC + per-component AC scans,
            # so it must decode bit-identically — with and without
            # restart markers inside each scan
            for ri in (0, 2):
                prog = decode_jpeg(
                    encode_jpeg(
                        px, quality=95, restart_interval=ri,
                        progressive=True, **kw
                    )
                )
                assert (prog == base).all(), (sub, h, w, ri)


def test_jpeg_progressive_eob_runs():
    from bbcnews_scraper_nlp_spark.operators.codecs import (
        decode_jpeg,
        encode_jpeg,
    )

    # constant image: every AC band is empty, so each AC scan
    # collapses to EOBn runs (r up to ~6 at this size)
    px = np.full((64, 80), 137, np.uint8)
    out = decode_jpeg(encode_jpeg(px, quality=90, progressive=True))
    assert (out[:, :, 0] == 137).all()
    # sparse texture: runs interleave with coded blocks, and restart
    # markers force run flushes at segment boundaries
    rng = np.random.RandomState(2)
    px = np.full((96, 96), 100, np.uint8)
    px[16:24, 40:48] = rng.randint(0, 256, (8, 8))
    px[80:88, 8:16] = rng.randint(0, 256, (8, 8))
    base = decode_jpeg(encode_jpeg(px, quality=95))
    for ri in (0, 3):
        prog = decode_jpeg(
            encode_jpeg(px, quality=95, progressive=True,
                        restart_interval=ri)
        )
        assert (prog == base).all(), ri


def test_jpeg_successive_approximation_roundtrip():
    """Full SA (the former strict-mode slot): DC Al=1 + raw-bit DC
    refinement, AC spectral Al=1 + AC refinement with RS codes, sign
    bits, buffered correction bits and EOB runs. The refinement pass
    restores full coefficient precision, so the SA decode must equal
    the plain-progressive decode BIT-EXACTLY on any input."""
    from bbcnews_scraper_nlp_spark.operators.codecs import (
        decode_jpeg,
        decode_jpeg_gray,
        encode_jpeg,
    )

    rng = np.random.RandomState(0)
    # noisy planes exercise ZRL runs, EOB runs and correction bits
    px = rng.randint(0, 256, (40, 37), dtype=np.uint8)
    for q in (95, 75, 40):
        a = decode_jpeg_gray(encode_jpeg(px, quality=q, progressive=True))
        b = decode_jpeg_gray(encode_jpeg(px, quality=q, successive=True))
        assert (a == b).all(), q
    pxc = rng.randint(0, 256, (33, 29, 3), dtype=np.uint8)
    for sub in ("420", "444"):
        a = decode_jpeg(
            encode_jpeg(pxc, quality=80, subsample=sub, progressive=True)
        )
        b = decode_jpeg(
            encode_jpeg(pxc, quality=80, subsample=sub, successive=True)
        )
        assert (a == b).all(), sub
    # wire check: four scans for gray, AhAl bytes 0x01/0x10 present
    blob = encode_jpeg(px, quality=90, successive=True)
    ahals = []
    i = 2
    while i + 4 <= len(blob):
        marker = blob[i + 1]
        import struct as _s

        (seglen,) = _s.unpack(">H", blob[i + 2 : i + 4])
        if marker == 0xDA:
            ns = blob[i + 4]
            ahals.append(blob[i + 4 + 3 + 2 * ns])
            # skip entropy data: scan to next marker != RST/stuffed
            j = i + 2 + seglen
            while j + 1 < len(blob) and not (
                blob[j] == 0xFF and blob[j + 1] not in (0x00,)
                and not (0xD0 <= blob[j + 1] <= 0xD7)
            ):
                j += 1
            i = j
            continue
        if marker == 0xD9:
            break
        i += 2 + seglen
    assert ahals == [0x01, 0x10, 0x01, 0x10]
    # smooth plane still within the baseline error bound
    r, c = np.mgrid[0:24, 0:16]
    sm = ((r * 3 + c * 2) % 200 + 20).astype(np.uint8)
    out = decode_jpeg_gray(encode_jpeg(sm, quality=95, successive=True))
    assert np.abs(out[:, :, 0].astype(int) - sm.astype(int)).max() <= 2


def test_wav_pcm_roundtrip_and_slots():
    rng = np.random.RandomState(3)
    s = rng.randint(-32768, 32768, (500, 2)).astype(np.int32)
    dec, rate = decode_wav_samples(encode_wav_pcm16(s, 22050))
    assert rate == 22050 and dec.shape == (500, 2) and (dec == s).all()
    mono, _ = decode_wav_samples(encode_wav_pcm16(s[:, 0], 8000))
    assert mono.shape == (500, 1) and (mono[:, 0] == s[:, 0]).all()
    with pytest.raises(ValueError):
        decode_wav_samples(b"RIFFxxxxNOPE")
    # non-PCM format tag -> declared codec slot
    import struct

    bad = bytearray(encode_wav_pcm16(s[:2, 0]))
    struct.pack_into("<H", bad, 20, 85)  # fmt 85 = MP3
    with pytest.raises(NotImplementedError):
        decode_wav_samples(bytes(bad))


def test_g711_companding_and_container():
    from bbcnews_scraper_nlp_spark.operators.codecs import (
        alaw_decode,
        alaw_encode,
        encode_wav_g711,
        ulaw_decode,
        ulaw_encode,
    )

    # canonical anchors: mu-law silence is 0xFF; A-law 0x55 is -8
    assert ulaw_encode(np.array([0]))[0] == 0xFF
    assert ulaw_decode(np.array([0xFF]))[0] == 0
    assert alaw_decode(np.array([0x55]))[0] == -8
    rng = np.random.RandomState(1)
    x = rng.randint(-32768, 32768, 20000).astype(np.int32)
    for enc, dec, name in (
        (ulaw_encode, ulaw_decode, "ulaw"),
        (alaw_encode, alaw_decode, "alaw"),
    ):
        y = dec(enc(x))
        # segment-relative error envelope of logarithmic companding
        bound = np.maximum(np.abs(x) // 16 + 64, 64)
        assert (np.abs(y - x) <= bound).all(), name
        # decoded values are exact fixed points of the codec
        assert (dec(enc(y)) == y).all(), name
    # container round trip equals direct companding
    s = rng.randint(-32768, 32768, 500).astype(np.int32)
    for law, direct in (
        ("ulaw", ulaw_decode(ulaw_encode(s))),
        ("alaw", alaw_decode(alaw_encode(s))),
    ):
        dec_, rate = decode_wav_samples(encode_wav_g711(s, law))
        assert rate == 8000 and (dec_[:, 0] == direct).all(), law


def test_ima_adpcm_tracks_smooth_signals():
    from bbcnews_scraper_nlp_spark.operators.codecs import (
        encode_wav_ima_adpcm,
    )

    t = np.arange(3000)
    s = (3000 * np.sin(t / 50)).astype(np.int32)
    dec, rate = decode_wav_samples(encode_wav_ima_adpcm(s, 16000, 505))
    assert rate == 16000 and dec.shape == (3000, 1)
    err = np.abs(dec[:, 0] - s)
    assert err.max() < 500 and float(np.sqrt((err**2).mean())) < 50
    # frame count survives odd lengths + short final blocks (fact
    # chunk truncates the padded tail)
    rng = np.random.RandomState(3)
    s2 = rng.randint(-2000, 2000, 777).astype(np.int32)
    d2, _ = decode_wav_samples(encode_wav_ima_adpcm(s2, 8000, 100))
    assert d2.shape[0] == 777


def test_avi_dib_frame_roundtrip():
    from bbcnews_scraper_nlp_spark.operators.codecs import (
        AviError,
        avi_dib_frames,
        decode_dib_frame,
        encode_avi_dib,
        encode_dib_frame,
    )

    rng = np.random.RandomState(4)
    # widths with non-multiple-of-4 strides exercise DIB row padding
    for h, w, n in [(8, 8, 1), (12, 5, 3), (9, 7, 4), (3, 3, 2)]:
        frames = [
            rng.randint(0, 256, (h, w, 3), dtype=np.uint8) for _ in range(n)
        ]
        got_w, got_h, out = avi_dib_frames(encode_avi_dib(frames))
        assert (got_w, got_h, len(out)) == (w, h, n)
        for a, b in zip(frames, out):
            assert (a == b).all()
    px = rng.randint(0, 256, (7, 5, 3), dtype=np.uint8)
    assert (decode_dib_frame(encode_dib_frame(px), 5, 7) == px).all()
    with pytest.raises(AviError):
        avi_dib_frames(b"RIFFxxxxNOPE")


def test_g711_and_video_stages_over_spark(spark):
    from bbcnews_scraper_nlp_spark.operators.codecs import (
        alaw_decode,
        ulaw_decode,
    )
    from bbcnews_scraper_nlp_spark.operators.multimodal import (
        attach_dib_video_payload,
        attach_g711_code_payload,
        decode_audio_samples,
        decode_video_frame_pixels,
    )

    df = spark.range(6).withColumnRenamed("id", "doc_id")
    au = {
        r["doc_id"]: r
        for r in decode_audio_samples(
            attach_g711_code_payload(df, "doc_id")
        ).collect()
    }
    for i in range(6):
        n = i % 400 + 100
        codes = ((i + np.arange(n)) % 256).astype(np.uint8)
        s = ulaw_decode(codes) if i % 2 == 0 else alaw_decode(codes)
        assert au[i]["n_frames"] == n and au[i]["sample_rate"] == 8000
        assert au[i]["sample_sum"] == int(s.sum())

    vf = {
        (r["doc_id"], r["frame_idx"]): r
        for r in decode_video_frame_pixels(
            attach_dib_video_payload(df, "doc_id")
        ).collect()
    }
    for i in range(6):
        w, h, n = i % 3 * 8 + 8, i % 2 * 4 + 8, i % 6 + 2
        r, c = np.mgrid[0:h, 0:w]
        for f in range(n):
            v = (i + f * 5 + r * 7 + c * 11) % 256
            row = vf[(i, f)]
            assert (row["width"], row["height"]) == (w, h)
            assert row["px_sum"] == 3 * int(v.sum())
            assert (row["px_min"], row["px_max"]) == (int(v.min()), int(v.max()))


def test_decode_stages_over_spark(spark):
    from bbcnews_scraper_nlp_spark.operators.multimodal import (
        attach_gradient_image_payload,
        attach_pcm_audio_payload,
        decode_audio_samples,
        decode_image_pixels,
    )

    df = spark.range(6).withColumnRenamed("id", "doc_id")
    px = {
        r["doc_id"]: r
        for r in decode_image_pixels(
            attach_gradient_image_payload(df, "doc_id")
        ).collect()
    }
    for i in range(6):
        w, h = i % 5 * 8 + 16, i % 7 * 4 + 12
        r, c = np.mgrid[0:h, 0:w]
        expect = (i * 31 + r * 7 + c * 13) % 256
        assert px[i]["width"] == w and px[i]["height"] == h
        assert px[i]["px_sum"] == int(expect.sum())
        assert px[i]["px_min"] == int(expect.min())
        assert px[i]["px_max"] == int(expect.max())

    from bbcnews_scraper_nlp_spark.operators.multimodal import (
        attach_gradient_gif_payload,
    )

    gx = {
        r["doc_id"]: r
        for r in decode_image_pixels(
            attach_gradient_gif_payload(df, "doc_id")
        ).collect()
    }
    for i in range(6):  # gray palette -> 3 equal channels
        assert gx[i]["channels"] == 3
        assert gx[i]["px_sum"] == 3 * px[i]["px_sum"]
        assert (gx[i]["px_min"], gx[i]["px_max"]) == (
            px[i]["px_min"], px[i]["px_max"]
        )

    rz = {
        r["doc_id"]: r
        for r in decode_image_pixels(
            attach_gradient_image_payload(df, "doc_id"), out_w=8, out_h=6
        ).collect()
    }
    for i in range(6):
        w, h = i % 5 * 8 + 16, i % 7 * 4 + 12
        r, c = np.mgrid[0:6, 0:8]
        expect = (i * 31 + (r * h // 6) * 7 + (c * w // 8) * 13) % 256
        assert (rz[i]["width"], rz[i]["height"]) == (8, 6)
        assert rz[i]["px_sum"] == int(expect.sum())

    au = {
        r["doc_id"]: r
        for r in decode_audio_samples(
            attach_pcm_audio_payload(df, "doc_id")
        ).collect()
    }
    for i in range(6):
        n = i % 300 + 50
        s = (i * 31 + np.arange(n, dtype=np.int64) * 7) % 65536 - 32768
        assert au[i]["n_frames"] == n
        assert au[i]["sample_rate"] == 16000
        assert au[i]["sample_sum"] == int(s.sum())
        assert au[i]["sample_min"] == int(s.min())
        assert au[i]["sample_max"] == int(s.max())


def test_decode_stage_strict_vs_skip(spark):
    # decode stages have no skip path: an undecodable payload raises
    from bbcnews_scraper_nlp_spark.operators.multimodal import (
        decode_image_pixels,
    )

    bad = spark.createDataFrame(
        [(1, bytearray(b"not a png"))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="(?i)png"):
        decode_image_pixels(bad).collect()


def test_jpeg_16bit_quant_tables_roundtrip():
    """Extended-precision (Pq=1) DQT: the former strict-mode slot.
    At high quality the 16-bit table equals the 8-bit one, so both
    encodings must decode identically; at quality 2 the table
    genuinely overflows 8 bits and the decode must still bound the
    DC-only error on a constant plane."""
    from bbcnews_scraper_nlp_spark.operators.codecs import (
        _quant_table,
        decode_jpeg_gray,
        encode_jpeg_gray,
        encode_jpeg,
    )

    r, c = np.mgrid[0:24, 0:16]
    px = ((r * 3 + c * 2) % 200 + 20).astype(np.uint8)
    b8 = encode_jpeg(px, quality=95)
    b16 = encode_jpeg(px, quality=95, dqt_precision=16)
    assert b16 != b8  # different DQT encoding on the wire ...
    out8 = decode_jpeg_gray(b8)
    out16 = decode_jpeg_gray(b16)
    assert (out8 == out16).all()  # ... same decoded pixels

    # quality 2: Annex K luma scales beyond 255 -> real 16-bit values
    q2 = _quant_table(2, max_val=65535)
    assert q2.max() > 255
    px = np.full((16, 16), 137, np.uint8)
    blob = encode_jpeg(px, quality=2, dqt_precision=16)
    # wire check: Pq nibble set and a >255 entry present
    i = blob.index(b"\xff\xdb") + 4
    assert blob[i] == 0x10
    vals = [int.from_bytes(blob[i + 1 + 2 * k : i + 3 + 2 * k], "big")
            for k in range(64)]
    assert max(vals) > 255
    out = decode_jpeg_gray(blob)[:, :, 0].astype(int)
    # constant plane -> DC-only; error <= q_dc / (2*8) + 1
    qdc = int(q2[0, 0])
    assert np.abs(out - 137).max() <= qdc // 16 + 1


def test_jpeg_16bit_color_roundtrip():
    from bbcnews_scraper_nlp_spark.operators.codecs import (
        decode_jpeg,
        encode_jpeg,
    )

    r, c = np.mgrid[0:16, 0:16]
    px = np.stack(
        [((r * 2 + c) % 180 + 30).astype(np.uint8),
         ((r + c * 2) % 180 + 40).astype(np.uint8),
         ((r * 3) % 180 + 50).astype(np.uint8)],
        axis=2,
    )
    b8 = encode_jpeg(px, quality=95, subsample="444")
    b16 = encode_jpeg(px, quality=95, subsample="444", dqt_precision=16)
    assert (decode_jpeg(b8) == decode_jpeg(b16)).all()


def test_ima_adpcm_stereo_roundtrip_and_channel_equivalence():
    """Stereo fmt 0x11 (the former strict-mode slot): 4-byte-group
    round-robin interleave per the MS WAVE spec. Each channel's
    codec state is independent, so the stereo decode must equal the
    two mono decodes channel-for-channel."""
    from bbcnews_scraper_nlp_spark.operators.codecs import (
        decode_wav_samples,
        encode_wav_ima_adpcm,
    )

    t = np.arange(2500)
    left = (3000 * np.sin(t / 50)).astype(np.int32)
    right = (2000 * np.cos(t / 33)).astype(np.int32)
    st = np.stack([left, right], axis=1)
    dec, rate = decode_wav_samples(encode_wav_ima_adpcm(st, 22050, 505))
    assert rate == 22050 and dec.shape == (2500, 2)
    for c, src in enumerate((left, right)):
        err = np.abs(dec[:, c] - src)
        assert err.max() < 500 and float(np.sqrt((err**2).mean())) < 50
        mono, _ = decode_wav_samples(
            encode_wav_ima_adpcm(src, 22050, 505)
        )
        assert (dec[:, c] == mono[:, 0]).all()
    # odd length: fact chunk truncates the padded tail per channel
    rng = np.random.RandomState(7)
    s2 = rng.randint(-2000, 2000, (777, 2)).astype(np.int32)
    d2, _ = decode_wav_samples(encode_wav_ima_adpcm(s2, 8000, 505))
    assert d2.shape == (777, 2)
