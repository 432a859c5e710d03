"""Multimodal column plumbing: opaque binary payloads + typed
metadata, processed via Arrow-batched ``mapInPandas``.

Design (the 100 TB contract — this part is real and tested):
- media rides as a ``binary`` column next to typed metadata
  (media_type, byte length, checksum); Spark never interprets it.
- every stage (meta extract, frame sampling, pixel/sample decode) is
  one per-partition ``mapInPandas`` (``_map_rows``): Arrow moves the
  bytes to Python in batches, a per-payload row function emits the
  output rows, the output schema is declared up front, and
  partitioning is inherited (no shuffle).
- every synthesized test payload comes from one ``pandas_udf``
  (``_synth``) over the row id (and text), so synth -> stage is two
  consecutive narrow map stages.
- batch size is bounded by ``spark.sql.execution.arrow.
  maxRecordsPerBatch`` — set it low (e.g. 64) for multi-MB payloads.

Codec status: REAL decode for PNG (all bit depths, Adam7), GIF (LZW),
JPEG in grayscale and color — baseline and progressive, spectral
selection and successive approximation (Huffman+IDCT, 4:2:0/4:4:4
chroma, YCbCr<->RGB), WAV PCM, G.711 mu-law/A-law, IMA ADPCM and
uncompressed AVI DIB video frames — ``operators/codecs.py``,
surfaced through ``decode_image_pixels`` / ``decode_audio_samples``
/ ``decode_video_frame_pixels``, which raise on a payload they
cannot decode. The meta stages parse container headers; a payload
they cannot parse gets deterministic fake fields keyed to its md5,
or raises NotImplementedError with ``strict=True`` (the slot for
codecs this container lacks: MP3/AAC, compressed video streams).
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from . import codecs

IMAGE_META_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes int, sha1 string, "
    "width int, height int, format string"
)

AUDIO_META_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes int, sha1 string, "
    "sample_rate int, channels int, bits_per_sample int, "
    "n_frames bigint, duration_ms bigint, format string"
)

VIDEO_META_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes int, sha1 string, "
    "width int, height int, us_per_frame int, n_frames bigint, "
    "duration_ms bigint, format string"
)

FRAME_SAMPLE_SCHEMA = (
    "doc_id bigint, frame_idx int, frame_sha1 string"
)

PIXEL_STATS_SCHEMA = (
    "doc_id bigint, width int, height int, channels int, "
    "px_sum bigint, px_min int, px_max int"
)

FRAME_PIXEL_SCHEMA = (
    "doc_id bigint, frame_idx int, width int, height int, "
    "px_sum bigint, px_min int, px_max int"
)

AUDIO_STATS_SCHEMA = (
    "doc_id bigint, n_frames bigint, channels int, sample_rate int, "
    "sample_sum bigint, sample_min int, sample_max int"
)

# video_frame_samples keeps every FRAME_STEP-th frame index
FRAME_STEP = 10


def _map_rows(
    df: DataFrame,
    schema: str,
    row_fn: Callable[..., Iterable[tuple]],
    cols: tuple[str, ...] = ("doc_id", "payload"),
) -> DataFrame:
    """The one mapInPandas stage: ``row_fn`` gets each input row's
    ``cols`` (the payload as ``bytes``, null -> b"") and yields zero,
    one or many output rows in ``schema`` column order."""
    names = [field.split()[0] for field in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf["payload"] = [bytes(p or b"") for p in pdf["payload"]]
            rows = [
                out
                for row in zip(*(pdf[c] for c in cols))
                for out in row_fn(*row)
            ]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, schema)


def _synth(
    df: DataFrame,
    media_type: str | Column,
    build: Callable[..., bytes],
    *cols: str,
) -> DataFrame:
    """The one payload synthesizer: (doc_id, media_type, payload) with
    payload = build(*row) over ``cols`` (the id column first), in one
    Arrow-batched pandas_udf."""

    def payloads(*series: pd.Series) -> pd.Series:
        return pd.Series([build(*row) for row in zip(*series)])

    return df.select(
        F.col(cols[0]).alias("doc_id"),
        F.lit(media_type).alias("media_type"),
        pandas_udf(payloads, "binary")(*cols).alias("payload"),
    )


# ---------------------------------------------------------------------
# metadata: header parse, md5-keyed fallback
# ---------------------------------------------------------------------


def _meta(
    df: DataFrame,
    schema: str,
    strict: bool,
    parse: Callable[[bytes], tuple | None],
    fake: Callable[[int], tuple],
    derive: Callable[..., tuple] = lambda *fields: fields,
) -> DataFrame:
    """Shared meta stage over (doc_id, media_type, payload): the
    (doc_id, media_type, n_bytes, sha1) prefix, then ``derive`` of the
    parsed header fields. An unparseable payload raises under
    ``strict`` (the codec slot); else its fields are ``fake`` of the
    first 32 bits of its md5 (the repo's cross-engine hash, so a
    DuckDB oracle can recompute them)."""

    def row(doc_id, mtype, data):
        parsed = parse(data)
        if parsed is None:
            if strict:
                raise NotImplementedError(
                    f"no codec for {mtype} payload; plug in a decoder "
                    "or run with strict=False"
                )
            parsed = fake(int(hashlib.md5(data).hexdigest()[:8], 16))
        yield (
            doc_id, mtype, len(data), hashlib.sha1(data).hexdigest(),
            *derive(*parsed),
        )

    return _map_rows(df, schema, row, ("doc_id", "media_type", "payload"))


def attach_binary_payload(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Testing aid: the payload is the text column's UTF-8 bytes cast
    to binary, with no container header, so ``image_meta`` takes its
    md5-keyed fallback (the ``multimodal_image_meta`` oracle relies on
    that)."""
    payload = F.col(text_col).cast("binary")
    return df.select(
        F.col(id_col),
        F.lit("image/png").alias("media_type"),
        payload.alias("payload"),
    )


def _png_header(width: int, height: int) -> bytes:
    ihdr = struct.pack(">I", 13) + b"IHDR" + struct.pack(">II", width, height) + b"\x08\x02\x00\x00\x00"
    return b"\x89PNG\r\n\x1a\n" + ihdr


def _parse_dims(data: bytes) -> tuple[int, int, str] | None:
    """Parse dimensions from real container headers (pure Python)."""
    if data[:8] == b"\x89PNG\r\n\x1a\n" and len(data) >= 24:
        w, h = struct.unpack(">II", data[16:24])
        return w, h, "png"
    if data[:3] == b"GIF" and len(data) >= 10:
        w, h = struct.unpack("<HH", data[6:10])
        return w, h, "gif"
    if data[:2] == b"\xff\xd8":  # JPEG: walk segments for SOFn
        i = 2
        while i + 9 < len(data):
            if data[i] != 0xFF:
                break
            marker = data[i + 1]
            seglen = struct.unpack(">H", data[i + 2 : i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", data[i + 5 : i + 9])
                return w, h, "jpeg"
            i += 2 + seglen
    return None


def image_meta(df: DataFrame, strict: bool = False) -> DataFrame:
    """Image metadata over (doc_id, media_type, payload): magic-byte
    sniffing + PNG/GIF/JPEG header parse; fallback dims
    (h % 1920 + 1, h // 1920 % 1080 + 1, 'unknown')."""
    return _meta(
        df, IMAGE_META_SCHEMA, strict, _parse_dims,
        lambda h: (h % 1920 + 1, h // 1920 % 1080 + 1, "unknown"),
    )


def _wav_header(
    sample_rate: int = 16000,
    channels: int = 1,
    n_frames: int = 0,
) -> bytes:
    """Minimal canonical RIFF/WAVE header (44 bytes, 16-bit PCM fmt
    chunk)."""
    bits = 16
    block_align = channels * bits // 8
    data_size = n_frames * block_align
    return (
        b"RIFF"
        + struct.pack("<I", 36 + data_size)
        + b"WAVEfmt "
        + struct.pack(
            "<IHHIIHH",
            16, 1, channels, sample_rate,
            sample_rate * block_align, block_align, bits,
        )
        + b"data"
        + struct.pack("<I", data_size)
    )


def _parse_wav(data: bytes) -> tuple[int, int, int, int, str] | None:
    """Parse a RIFF/WAVE container (pure Python, real format walk):
    returns (sample_rate, channels, bits_per_sample, n_frames, 'wav').
    Walks chunks rather than assuming the 44-byte canonical layout,
    so LIST/fact chunks before 'data' parse correctly; n_frames comes
    from the data chunk's declared size."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    rate = ch = bits = None
    n_frames = 0
    for cid, size, body in codecs.riff_chunks(data):
        if cid == b"fmt " and len(body) >= 16:
            _, ch, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data" and ch:
            n_frames = size // max(ch * (bits or 8) // 8, 1)
    if rate is None:
        return None
    return rate, ch or 0, bits or 0, n_frames, "wav"


def attach_audio_payload(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Testing aid (audio twin of attach_binary_payload): synthesize a
    REAL RIFF/WAVE container per row — 44-byte header with rate
    doc_id % 3 * 8000 + 8000, mono 16-bit, n_frames = body_bytes // 2,
    then the UTF-8 text bytes as the (unpadded) data body — so the
    audio plumbing runs on honestly-parseable payloads."""

    def wav(i: int, text: str | None) -> bytes:
        body = (text or "").encode("utf-8")
        return _wav_header(i % 3 * 8000 + 8000, 1, len(body) // 2) + body


    return _synth(df, "audio/wav", wav, id_col, text_col)


def audio_meta(df: DataFrame, strict: bool = False) -> DataFrame:
    """Audio metadata over (doc_id, media_type, payload): RIFF chunk
    walk (sample rate, channels, bit depth, frame count -> duration);
    the fallback (mp3/flac/ogg demuxer slot) draws the parameters from
    the md5."""
    return _meta(
        df, AUDIO_META_SCHEMA, strict, _parse_wav,
        lambda h: (
            (8000, 16000, 44100)[h % 3], h % 2 + 1, 16, h % 100000, "unknown"
        ),
        lambda rate, ch, bits, n, fmt: (
            rate, ch, bits, n, n * 1000 // max(rate, 1), fmt
        ),
    )


# ---------------------------------------------------------------------
# video (RIFF/AVI container)
# ---------------------------------------------------------------------


def _avi_payload(
    us_per_frame: int, total_frames: int, width: int, height: int,
    data: bytes,
) -> bytes:
    """Minimal but REAL RIFF/AVI container: LIST-hdrl with a 56-byte
    'avih' main header (MicroSecPerFrame/TotalFrames/Width/Height at
    their spec offsets), LIST-movi carrying the payload bytes,
    word-aligned chunks. Total size = 100 + len(data) + pad."""
    avih = struct.pack(
        "<14I",
        us_per_frame, 0, 0, 0, total_frames, 0, 1, 0, width, height,
        0, 0, 0, 0,
    )
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
    movi = b"movi" + data
    pad = b"\x00" if len(data) % 2 else b""
    riff_body = (
        b"AVI "
        + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
        + b"LIST" + struct.pack("<I", len(movi) + len(pad)) + movi + pad
    )
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _parse_avi(data: bytes) -> tuple[int, int, int, int, str] | None:
    """(width, height, us_per_frame, total_frames, 'avi') from the
    avih main header (codecs.avi_main_header), or None if the payload
    is not an AVI container."""
    hdr = codecs.avi_main_header(data)
    return None if hdr is None else (*hdr, "avi")


def attach_video_payload(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Testing aid (video twin of attach_audio_payload): synthesize a
    REAL RIFF/AVI container per row — avih header with frame timing /
    dimensions derived from the row id and byte length, text bytes as
    the movi body — so the demux plumbing runs on honestly-parseable
    payloads. Derivations (the oracle's ground truth):
    us_per_frame = doc_id % 3 * 8334 + 33333 (30/24/20 fps),
    width = doc_id % 3 * 160 + 320, height = width * 3 // 4,
    n_frames = body_bytes % 240 + 24."""

    def avi(i: int, text: str | None) -> bytes:
        body = (text or "").encode("utf-8")
        w = i % 3 * 160 + 320
        return _avi_payload(
            i % 3 * 8334 + 33333, len(body) % 240 + 24, w, w * 3 // 4, body
        )

    return _synth(df, "video/avi", avi, id_col, text_col)


def video_meta(df: DataFrame, strict: bool = False) -> DataFrame:
    """Video metadata over (doc_id, media_type, payload): RIFF/AVI
    chunk walk (dimensions, frame timing, frame count -> duration);
    the fallback (mp4/mkv/webm demuxer slot) draws the parameters from
    the md5."""
    return _meta(
        df, VIDEO_META_SCHEMA, strict, _parse_avi,
        lambda h: (
            (320, 640, 1280)[h % 3], (240, 480, 720)[h % 3], 33333,
            h % 3600, "unknown",
        ),
        lambda w, h, upf, n, fmt: (w, h, upf, n, n * upf // 1000, fmt),
    )


def video_frame_samples(df: DataFrame) -> DataFrame:
    """Demux-driven frame sampling: the avih header's TotalFrames
    drives a 1->N fan-out of every FRAME_STEP-th frame index; the
    per-frame 'decode' is a deterministic content hash
    frame_sha1 = sha1(payload + uint32le(frame_idx)). Payloads that
    are not AVI emit no rows."""

    def row(doc_id, data):
        parsed = _parse_avi(data)
        for idx in range(0, parsed[3] if parsed else 0, FRAME_STEP):
            sha1 = hashlib.sha1(data + struct.pack("<I", idx)).hexdigest()
            yield doc_id, idx, sha1

    return _map_rows(df.select("doc_id", "payload"), FRAME_SAMPLE_SCHEMA, row)


# ---------------------------------------------------------------------
# REAL pixel/sample decode over payloads with closed-form content
# (operators/codecs.py); each decode stage raises on a payload it
# cannot decode.
# ---------------------------------------------------------------------


def _stats(a: np.ndarray) -> tuple[int, int, int]:
    return int(a.sum(dtype="int64")), int(a.min()), int(a.max())


def _gradient_grid(i: int) -> np.ndarray:
    """Row and column index grids of the gradient test image for id
    ``i``: width = i % 5 * 8 + 16, height = i % 7 * 4 + 12."""
    return np.mgrid[0 : i % 7 * 4 + 12, 0 : i % 5 * 8 + 16]


def _gray_gradient(i: int) -> np.ndarray:
    """px[r, c] = (i * 31 + r * 7 + c * 13) % 256 (mod-256 sawtooth)."""
    r, c = _gradient_grid(i)
    return ((i * 31 + r * 7 + c * 13) % 256).astype(np.uint8)


def attach_gradient_image_payload(df: DataFrame, id_col: str) -> DataFrame:
    """Synthesize a REAL 8-bit grayscale PNG per row — zlib-deflated
    IDAT, CRC'd chunks, row filters cycling through all five types —
    whose pixels follow a closed form an oracle can recompute:

        width  = id % 5 * 8 + 16
        height = id % 7 * 4 + 12
        px[r, c] = (id * 31 + r * 7 + c * 13) % 256

    Decoding it back requires real inflate + unfilter work, so any
    hash match downstream certifies the decoder, not the synthesizer."""
    return _synth(
        df, "image/png", lambda i: codecs.encode_png(_gray_gradient(i)), id_col
    )


_GRAY_PALETTE = np.stack([np.arange(256)] * 3, 1).astype(np.uint8)


def attach_gradient_gif_payload(df: DataFrame, id_col: str) -> DataFrame:
    """Synthesize a REAL GIF89a per row — LZW-compressed index
    stream, grayscale palette (palette[i] = (i, i, i)), interlaced
    for odd ids so both row orders are exercised — with the PNG
    twin's closed-form gradient as the index plane. Decoding requires
    real variable-width LZW work + de-interlacing, so a downstream
    hash match certifies the GIF decoder."""
    return _synth(
        df, "image/gif",
        lambda i: codecs.encode_gif(
            _gray_gradient(i), _GRAY_PALETTE, interlace=bool(i % 2)
        ),
        id_col,
    )


def attach_gradient_jpeg_payload(
    df: DataFrame, id_col: str, successive: bool = False
) -> DataFrame:
    """Synthesize a REAL baseline JPEG per row (8x8 DCT, Annex-K
    quantization at quality 95, Huffman entropy coding) carrying a
    smooth closed-form plane on the gradient grid — JPEG is lossy, so
    the plane is chosen wrap-free and the downstream contract is a
    BOUNDED error vs:

        px[r, c] = id % 128 + r + c      (max 127+35+47 < 255)

    ``successive=True`` emits full successive-approximation
    progressive JPEGs instead (T.81 G.1.2: DC Al=1 + raw-bit
    refinement, AC spectral Al=1 + refinement scans) — same plane,
    same bound (the refinement pass restores full coefficient
    precision, codecs tests pin bit-equality with the plain
    progressive decode)."""

    def jpeg(i: int) -> bytes:
        r, c = _gradient_grid(i)
        px = (i % 128 + r + c).astype(np.uint8)
        return codecs.encode_jpeg(px, quality=95, successive=successive)

    return _synth(df, "image/jpeg", jpeg, id_col)


def attach_gradient_color_jpeg_payload(df: DataFrame, id_col: str) -> DataFrame:
    """Synthesize a REAL baseline COLOR JPEG per row (YCbCr, 4:2:0
    chroma subsampling, Annex-K luma+chroma tables, quality 95)
    carrying three smooth wrap-free planes on the gradient grid:

        R[r, c] = id % 80 + 20 + r + c
        G[r, c] = id % 90 + 30 + r + c
        B[r, c] = id % 70 + 40 + r + c   (max 119+35+47 < 255)"""

    def jpeg(i: int) -> bytes:
        r, c = _gradient_grid(i)
        grad = r + c
        px = np.stack(
            [i % 80 + 20 + grad, i % 90 + 30 + grad, i % 70 + 40 + grad],
            axis=2,
        ).astype(np.uint8)
        return codecs.encode_jpeg(px, quality=95, subsample="420")

    return _synth(df, "image/jpeg", jpeg, id_col)


def decode_image_pixels(
    df: DataFrame,
    out_w: int | None = None,
    out_h: int | None = None,
) -> DataFrame:
    """PNG, GIF or JPEG payload -> REAL decoded pixel stats
    (magic-byte dispatch: GIF -> LZW decode, JPEG -> Huffman+IDCT,
    else PNG -> inflate+unfilter), optionally after a nearest-neighbor
    resize (out[r, c] = in[r*H//H', c*W//W'] — closed-form
    checkable)."""

    def row(doc_id, data):
        if data[:3] == b"GIF":
            px = codecs.decode_gif(data)
        elif data[:2] == b"\xff\xd8":
            px = codecs.decode_jpeg(data)
        else:
            px = codecs.decode_png(data)
        if out_w and out_h:
            px = codecs.nearest_resize(px, out_w, out_h)
        h, w, ch = px.shape
        yield (doc_id, w, h, ch, *_stats(px))

    return _map_rows(df.select("doc_id", "payload"), PIXEL_STATS_SCHEMA, row)


def attach_pcm_audio_payload(df: DataFrame, id_col: str) -> DataFrame:
    """Synthesize a REAL RIFF/WAVE PCM-16 container per row with a
    closed-form mono sample series an oracle can recompute:

        n_frames  = id % 300 + 50
        sample[i] = (id * 31 + i * 7) % 65536 - 32768"""

    def wav(i: int) -> bytes:
        n = np.arange(i % 300 + 50, dtype=np.int64)
        s = (i * 31 + n * 7) % 65536 - 32768
        return codecs.encode_wav_pcm16(s.astype(np.int32), 16000)

    return _synth(df, "audio/wav", wav, id_col)


def attach_g711_code_payload(df: DataFrame, id_col: str) -> DataFrame:
    """Synthesize a REAL G.711 WAV per row (fmt 7 mu-law for even
    ids, fmt 6 A-law for odd) whose CODE bytes follow a closed form:

        n_codes = id % 400 + 100
        code[i] = (id + i) % 256

    The decoder must run the actual ITU expansion to recover the
    samples; an oracle can mirror that expansion relationally, so a
    downstream hash match certifies the companding math itself."""

    def wav(i: int) -> bytes:
        codes = ((i + np.arange(i % 400 + 100)) % 256).astype(np.uint8)
        law = "ulaw" if i % 2 == 0 else "alaw"
        return codecs.g711_wav(codes.tobytes(), law)

    media_type = (
        F.when(F.col(id_col) % 2 == 0, F.lit("audio/ulaw"))
        .otherwise(F.lit("audio/alaw"))
    )
    return _synth(df, media_type, wav, id_col)


def decode_audio_samples(df: DataFrame) -> DataFrame:
    """WAV payload -> REAL decoded sample stats
    (codecs.decode_wav_samples: PCM, G.711, IMA ADPCM)."""

    def row(doc_id, data):
        samples, rate = codecs.decode_wav_samples(data)
        n_frames, ch = samples.shape
        yield (
            doc_id, n_frames, ch, rate,
            *(_stats(samples) if samples.size else (0, 0, 0)),
        )

    return _map_rows(df.select("doc_id", "payload"), AUDIO_STATS_SCHEMA, row)


def attach_dib_video_payload(df: DataFrame, id_col: str) -> DataFrame:
    """Synthesize a REAL RIFF/AVI with uncompressed '00db' DIB video
    frames (bottom-up padded BGR rows — the actual Windows layout)
    whose gray pixels follow a closed form:

        width    = id % 3 * 8 + 8     height = id % 2 * 4 + 8
        n_frames = id % 6 + 2
        px[f, r, c] = (id + f*5 + r*7 + c*11) % 256  (B = G = R)"""

    def avi(i: int) -> bytes:
        r, c = np.mgrid[0 : i % 2 * 4 + 8, 0 : i % 3 * 8 + 8]
        frames = []
        for f in range(i % 6 + 2):
            v = ((i + f * 5 + r * 7 + c * 11) % 256).astype(np.uint8)
            frames.append(np.repeat(v[:, :, None], 3, axis=2))
        return codecs.encode_avi_dib(frames)

    return _synth(df, "video/avi", avi, id_col)


def decode_video_frame_pixels(df: DataFrame) -> DataFrame:
    """AVI payload -> REAL decoded per-frame pixel stats
    (codecs.avi_dib_frames: avih dims, movi chunk walk, DIB
    bottom-up/BGR/stride decode): a 1->N frame fan-out; compressed
    '00dc' streams raise (the video-codec slot)."""

    def row(doc_id, data):
        w, h, frames = codecs.avi_dib_frames(data)
        for k, px in enumerate(frames):
            yield (doc_id, k, w, h, *_stats(px))

    return _map_rows(df.select("doc_id", "payload"), FRAME_PIXEL_SCHEMA, row)
