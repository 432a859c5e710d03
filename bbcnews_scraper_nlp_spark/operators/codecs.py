"""Real pure-Python media codecs for the multimodal pipeline.

Round 7 closes the "codec decode is stubbed" residual for every
format pure Python + numpy can honestly support: PNG (zlib inflate +
full scanline unfiltering at every filter type, bit depths 1-16,
Adam7 de-interlacing), GIF (variable-width LZW, de-interlacing,
palette expansion), baseline JPEG in grayscale AND color (DCT/
quantization/Huffman with the ITU-T T.81 Annex K luma+chroma tables,
interleaved MCUs, 4:2:0/4:4:4 chroma sampling, YCbCr <-> RGB), WAV
PCM 8/16/32-bit, G.711 mu-law/A-law companding (ITU expansion
formulas), IMA ADPCM, and uncompressed AVI '00db' DIB video frames.
No image/audio library is required — only ``zlib``, ``struct`` and
numpy, all baked into the container.

What is REAL here:
- ``decode_png``: CRC-verified chunk walk, IDAT concatenation, zlib
  inflate, and per-scanline reversal of all five PNG filter types
  (None/Sub/Up/Average/Paeth, RFC 2083 §6) for 8-bit gray, gray+alpha,
  RGB, RGBA and palette images. Returns an (H, W, C) uint8 array.
- ``encode_png``: the matching encoder; cycles filter types per row
  so a round-trip exercises every unfilter branch.
- ``riff_chunks``: the one RIFF chunk walker (word-aligned), under
  every WAV and AVI reader here and in ``multimodal``.
- ``decode_wav_samples``: RIFF chunk walk + PCM sample extraction
  (8/16/32-bit int) to an (n_frames, channels) int32 array.
- ``nearest_resize``: integer nearest-neighbor resample, the
  closed-form-checkable core of an image resize stage
  (out[r, c] = in[r*H//H', c*W//W'] — an oracle can recompute it).

- ``decode_gif``: first-frame GIF87a/89a decode — sub-block
  reassembly, variable-width LZW (CLEAR/EOI, KwKwK, 4096-entry
  dictionary), 4-pass de-interlacing, palette expansion. With
  ``encode_gif``, a real LZW compressor twin.
- ``decode_jpeg_gray``: baseline single-component JPEG — marker
  walk, canonical Huffman reconstruction, entropy decode with byte
  unstuffing, DC prediction, dezigzag, dequantization, inverse DCT.
  With ``encode_jpeg_gray``, the forward codec twin. Lossy by
  nature: the correctness contract is a bounded round-trip error.

- ``avi_dib_frames``: AVI demux + uncompressed DIB frame decode
  (bottom-up rows, BGR order, 4-byte stride padding). With
  ``encode_avi_dib``, the round-trip twin.
- ``ulaw/alaw_decode`` + ``decode_wav_samples`` fmt 6/7/0x11: G.711
  companding expansion and IMA ADPCM block decode, with encoder
  twins.

Progressive JPEG (SOF2) is supported in both directions, for
spectral selection (multi-scan DC + per-component AC bands with
EOB-run codes) and successive approximation (refinement scans). What
remains a declared slot (``NotImplementedError``): perceptual
compressed audio (MP3/AAC) and compressed video streams ('00dc'),
which genuinely need codec libraries.

Reference parity: the reference pipeline is text-only
(BBCNews-scraper-nlp has no media path); this module is part of the
training-data-pipeline surface the brief adds beyond the reference.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel (before palette expansion)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


class PngError(ValueError):
    """Malformed or unsupported-but-claimed-PNG payload."""


def _chunks(data: bytes):
    """Yield (type, body) for each chunk, verifying CRC32 (real
    integrity check — a corrupted IDAT fails here, not in inflate)."""
    i = 8
    n = len(data)
    while i + 8 <= n:
        (length,) = struct.unpack(">I", data[i : i + 4])
        ctype = data[i + 4 : i + 8]
        body = data[i + 8 : i + 8 + length]
        if len(body) < length:
            raise PngError("truncated chunk")
        (crc,) = struct.unpack(">I", data[i + 8 + length : i + 12 + length])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise PngError(f"bad CRC in {ctype!r}")
        yield ctype, body
        if ctype == b"IEND":
            return
        i += 12 + length


# Adam7 pass geometry, RFC 2083 §2: (x0, y0, dx, dy)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _unfilter_image(
    raw: bytes, off: int, height: int, stride: int, bpp: int
) -> tuple[np.ndarray, int]:
    """Reverse the per-scanline PNG filters for one (sub-)image of
    ``height`` rows of ``stride`` bytes (``bpp`` = bytes per complete
    pixel, the left-neighbor offset). Returns (bytes (H, stride),
    next offset into raw)."""
    out = np.zeros((height, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    for r in range(height):
        if off >= len(raw):
            raise PngError("IDAT stream exhausted")
        ftype = raw[off]
        line = np.frombuffer(raw, np.uint8, stride, off + 1).astype(np.int32)
        off += 1 + stride
        if ftype == 0:  # None
            cur = line
        elif ftype == 1:
            # Sub is a per-pixel-position prefix sum mod 256 when
            # stride % bpp == 0 — vectorized (uint8 cumsum wraps)
            if stride % bpp == 0:
                cur = (
                    np.cumsum(
                        line.reshape(stride // bpp, bpp).astype(np.uint8),
                        axis=0, dtype=np.uint8,
                    ).reshape(stride).astype(np.int32)
                )
            else:
                cur = line.copy()
                for c in range(bpp, stride):
                    cur[c] = (cur[c] + cur[c - bpp]) & 0xFF
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 3:  # Average
            cur = line.copy()
            for c in range(stride):
                left = cur[c - bpp] if c >= bpp else 0
                cur[c] = (cur[c] + (left + prev[c]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line.copy()
            for c in range(stride):
                a = cur[c - bpp] if c >= bpp else 0
                b = prev[c]
                cc = prev[c - bpp] if c >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = cc
                cur[c] = (cur[c] + pred) & 0xFF
        else:
            raise PngError(f"bad filter type {ftype}")
        out[r] = cur.astype(np.uint8)
        prev = cur
    return out, off


def _bytes_to_samples(
    rows: np.ndarray, width: int, ch: int, depth: int
) -> np.ndarray:
    """Filtered-byte rows -> (H, W, ch) sample array. depth < 8
    unpacks MSB-first bit fields; depth 16 joins big-endian pairs."""
    h = rows.shape[0]
    if depth == 8:
        return rows[:, : width * ch].reshape(h, width, ch)
    if depth == 16:
        pairs = rows[:, : width * ch * 2].reshape(h, width, ch, 2)
        return (
            pairs[..., 0].astype(np.uint16) << 8
        ) | pairs[..., 1].astype(np.uint16)
    bits = np.unpackbits(rows, axis=1)
    per = bits[:, : width * depth].reshape(h, width, depth)
    vals = np.zeros((h, width), np.uint8)
    for b in range(depth):
        vals = (vals << 1) | per[:, :, b]
    return vals[:, :, None]


def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG to an (H, W, C) array — uint8 for bit depths
    1/2/4/8 (sub-byte gray samples scale to 0..255; sub-byte palette
    indices expand through PLTE), uint16 for depth 16.

    Real work: chunk walk with CRC verification, zlib inflate of the
    concatenated IDAT stream, exact reversal of the per-scanline
    filters, MSB-first bit unpacking for sub-byte depths, and Adam7
    de-interlacing (each of the 7 passes is its own filtered
    sub-image). Raises PngError for malformed payloads."""
    if data[:8] != _PNG_SIG:
        raise PngError("not a PNG payload")
    width = height = None
    bit_depth = color_type = interlace = 0
    idat = bytearray()
    palette: np.ndarray | None = None
    for ctype, body in _chunks(data):
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
        elif ctype == b"PLTE":
            palette = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
    if width is None:
        raise PngError("missing IHDR")
    if color_type not in _PNG_CHANNELS:
        raise PngError(f"bad color type {color_type}")
    if bit_depth not in (1, 2, 4, 8, 16) or (
        bit_depth < 8 and color_type not in (0, 3)
    ):
        raise PngError(f"bad depth/color combo {bit_depth}/{color_type}")
    ch = _PNG_CHANNELS[color_type]
    bpp = max(1, ch * bit_depth // 8)
    raw = zlib.decompress(bytes(idat))
    dtype = np.uint16 if bit_depth == 16 else np.uint8
    samples = np.zeros((height, width, ch), dtype)
    passes = _ADAM7 if interlace else ((0, 0, 1, 1),)
    off = 0
    for x0, y0, dx, dy in passes:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        stride = (pw * ch * bit_depth + 7) // 8
        rows, off = _unfilter_image(raw, off, ph, stride, bpp)
        samples[y0::dy, x0::dx] = _bytes_to_samples(rows, pw, ch, bit_depth)
    if off != len(raw):
        raise PngError("IDAT length mismatch")
    if color_type == 3:
        if palette is None:
            raise PngError("palette image without PLTE")
        return palette[samples[:, :, 0]]
    if bit_depth < 8:  # gray: replicate bits up to 8 (spec scaling)
        return (
            samples.astype(np.uint16) * 255 // ((1 << bit_depth) - 1)
        ).astype(np.uint8)
    return samples


def _pack_samples(sub: np.ndarray, depth: int) -> np.ndarray:
    """(H, W, ch) samples -> (H, stride) filtered-ready byte rows."""
    h, w, ch = sub.shape
    if depth == 8:
        return sub.reshape(h, w * ch).astype(np.uint8)
    if depth == 16:
        out = np.zeros((h, w * ch * 2), np.uint8)
        flat = sub.reshape(h, w * ch).astype(np.uint16)
        out[:, 0::2] = (flat >> 8).astype(np.uint8)
        out[:, 1::2] = (flat & 0xFF).astype(np.uint8)
        return out
    vals = sub.reshape(h, w).astype(np.uint8)
    bits = np.zeros((h, w * depth), np.uint8)
    for b in range(depth):
        bits[:, b::depth] = (vals >> (depth - 1 - b)) & 1
    return np.packbits(bits, axis=1)


def _filter_rows(
    rows: np.ndarray, bpp: int, cycle_filters: bool
) -> bytearray:
    """Apply PNG filters (cycling 0..4 or all-None) to byte rows."""
    h, stride = rows.shape
    rows32 = rows.astype(np.int32)
    out = bytearray()
    prev = np.zeros(stride, np.int32)
    zeros = np.zeros(bpp, np.int32)
    for r in range(h):
        cur = rows32[r]
        ftype = (r % 5) if cycle_filters else 0
        if ftype == 1:
            left = np.concatenate([zeros, cur[:-bpp]])
            enc = (cur - left) & 0xFF
        elif ftype == 2:
            enc = (cur - prev) & 0xFF
        elif ftype == 3:
            left = np.concatenate([zeros, cur[:-bpp]])
            enc = (cur - (left + prev) // 2) & 0xFF
        elif ftype == 4:
            left = np.concatenate([zeros, cur[:-bpp]])
            upleft = np.concatenate([zeros, prev[:-bpp]])
            p = left + prev - upleft
            pa = np.abs(p - left)
            pb = np.abs(p - prev)
            pc = np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = (cur - pred) & 0xFF
        else:
            enc = cur & 0xFF
        out.append(ftype)
        out += enc.astype(np.uint8).tobytes()
        prev = cur
    return out


def encode_png(
    px: np.ndarray,
    cycle_filters: bool = True,
    interlace: bool = False,
    bit_depth: int = 8,
) -> bytes:
    """Encode an (H, W) or (H, W, C) array as a real PNG.

    With ``cycle_filters`` the row filter type cycles 0..4, so a
    round-trip through decode_png exercises every unfilter branch
    (the pytest contract). ``interlace`` emits Adam7 (7 filtered
    sub-images). ``bit_depth`` supports 8/16 for any channel count
    and 1/2/4 for grayscale (values must fit the depth; sub-byte
    gray is written as raw bit samples, so round-trips compare
    against the spec's 255/(2^d-1) scaling)."""
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    if bit_depth < 8 and ch != 1:
        raise PngError("sub-byte depths are grayscale-only")
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    bpp = max(1, ch * bit_depth // 8)
    lines = bytearray()
    passes = _ADAM7 if interlace else ((0, 0, 1, 1),)
    for x0, y0, dx, dy in passes:
        sub = px[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        lines += _filter_rows(_pack_samples(sub, bit_depth), bpp, cycle_filters)
    ihdr = struct.pack(
        ">IIBBBBB", w, h, bit_depth, color_type, 0, 0, int(interlace)
    )
    idat = zlib.compress(bytes(lines), 6)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def nearest_resize(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Integer nearest-neighbor resample: out[r, c] = in[r * H // H',
    c * W // W'] — deliberately the floor-index mapping so an oracle
    can recompute any output pixel in closed form."""
    h, w = px.shape[:2]
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return px[rows][:, cols]


# ---------------------------------------------------------------------
# G.711 companding (A-law / mu-law) — the ITU-T G.711 expansion
# formulas, vectorized. Public-domain reference: CCITT/Sun g711.c.
# ---------------------------------------------------------------------

_ULAW_BIAS = 0x84
_ULAW_CLIP = 32635


def ulaw_decode(codes: np.ndarray) -> np.ndarray:
    """G.711 mu-law byte -> 16-bit linear (vectorized, exact ITU
    expansion: x = ((mant*8 + 132) << exp) - 132, sign from bit 7 of
    the complemented code)."""
    u = (~codes.astype(np.int32)) & 0xFF
    exp = (u >> 4) & 7
    mant = u & 0xF
    x = (((mant << 3) + _ULAW_BIAS) << exp) - _ULAW_BIAS
    return np.where(u & 0x80, -x, x).astype(np.int32)


def ulaw_encode(samples: np.ndarray) -> np.ndarray:
    """16-bit linear -> G.711 mu-law byte (decode's companding twin)."""
    x = samples.astype(np.int32)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), _ULAW_CLIP) + _ULAW_BIAS
    exp = np.clip(np.floor(np.log2(mag)).astype(np.int32) - 7, 0, 7)
    mant = (mag >> (exp + 3)) & 0xF
    return ((~(sign | (exp << 4) | mant)) & 0xFF).astype(np.uint8)


_ALAW_SEG_END = np.array(
    [0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF], np.int32
)


def alaw_decode(codes: np.ndarray) -> np.ndarray:
    """G.711 A-law byte -> 16-bit linear (vectorized ITU expansion;
    bit 7 of the 0x55-toggled code set = positive)."""
    a = codes.astype(np.int32) ^ 0x55
    t = (a & 0xF) << 4
    seg = (a >> 4) & 7
    t = np.where(
        seg == 0,
        t + 8,
        np.where(
            seg == 1,
            t + 0x108,
            (t + 0x108) << np.maximum(seg - 1, 0),
        ),
    )
    return np.where(a & 0x80, t, -t).astype(np.int32)


def alaw_encode(samples: np.ndarray) -> np.ndarray:
    """16-bit linear -> G.711 A-law byte (decode's companding twin)."""
    pcm = samples.astype(np.int32) >> 3  # 13-bit domain
    mask = np.where(pcm >= 0, 0xD5, 0x55)
    pcm = np.where(pcm >= 0, pcm, -pcm - 1)
    seg = np.searchsorted(_ALAW_SEG_END, pcm)
    shifted = np.where(seg < 2, pcm >> 1, pcm >> np.minimum(seg, 7))
    aval = np.where(
        seg >= 8, 0x7F, (seg << 4) | (shifted & 0xF)
    )
    return ((aval ^ mask) & 0xFF).astype(np.uint8)


# ---------------------------------------------------------------------
# IMA ADPCM (WAV fmt 0x11) — 4-bit differential coding, public spec
# (IMA Digital Audio Focus Group; multimedia standard tables).
# ---------------------------------------------------------------------

_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
], np.int32)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8], np.int32)


def _ima_decode_block(body: bytes, predictor: int, index: int) -> list[int]:
    out = [predictor]
    for byte in body:
        for code in (byte & 0xF, byte >> 4):  # low nibble first
            step = int(_IMA_STEPS[index])
            diff = step >> 3
            if code & 4:
                diff += step
            if code & 2:
                diff += step >> 1
            if code & 1:
                diff += step >> 2
            predictor = predictor - diff if code & 8 else predictor + diff
            predictor = max(-32768, min(32767, predictor))
            index = max(0, min(88, index + int(_IMA_INDEX[code & 7])))
            out.append(predictor)
    return out


def _ima_encode_block(samples: list[int], index: int) -> tuple[bytes, int]:
    """Encode samples[1:] as nibbles predicting from samples[0];
    returns (nibble bytes, final index)."""
    predictor = samples[0]
    nibbles: list[int] = []
    for s in samples[1:]:
        step = int(_IMA_STEPS[index])
        delta = s - predictor
        code = 0
        if delta < 0:
            code = 8
            delta = -delta
        if delta >= step:
            code |= 4
            delta -= step
        if delta >= step >> 1:
            code |= 2
            delta -= step >> 1
        if delta >= step >> 2:
            code |= 1
        diff = step >> 3
        if code & 4:
            diff += step
        if code & 2:
            diff += step >> 1
        if code & 1:
            diff += step >> 2
        predictor = predictor - diff if code & 8 else predictor + diff
        predictor = max(-32768, min(32767, predictor))
        index = max(0, min(88, index + int(_IMA_INDEX[code & 7])))
        nibbles.append(code)
    if len(nibbles) % 2:
        nibbles.append(0)
    body = bytes(
        nibbles[i] | (nibbles[i + 1] << 4) for i in range(0, len(nibbles), 2)
    )
    return body, index


def encode_wav_ima_adpcm(
    samples: np.ndarray, rate: int = 16000, block_frames: int = 505
) -> bytes:
    """Encode mono OR stereo int16 samples as a real WAV fmt 0x11
    (IMA ADPCM) container: per-block per-channel 4-byte header
    (predictor int16, step index, reserved) + packed nibbles, low
    nibble first; stereo data interleaves in 4-byte groups per
    channel round-robin (MS WAVE spec). ``block_frames`` must give
    4-byte-aligned per-channel nibble bytes for stereo (the 505
    default does: 252 bytes)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    ch = samples.shape[1]
    if ch not in (1, 2):
        raise ValueError("IMA ADPCM twin takes 1 or 2 channels")
    per_ch_bytes = (block_frames - 1 + 1) // 2
    if ch == 2 and per_ch_bytes % 4:
        raise ValueError("stereo needs 4-byte-aligned per-channel data")
    cols = [[int(v) for v in samples[:, c]] for c in range(ch)]
    indexes = [0] * ch
    blocks = bytearray()
    block_align = 4 * ch + per_ch_bytes * ch
    for j in range(0, len(cols[0]), block_frames):
        bodies = []
        hdr = b""
        for c in range(ch):
            chunk = cols[c][j : j + block_frames]
            body, idx_out = _ima_encode_block(chunk, indexes[c])
            bodies.append(body.ljust(per_ch_bytes, b"\x00"))
            hdr += struct.pack("<hBB", chunk[0], indexes[c], 0)
            indexes[c] = idx_out
        if ch == 1:
            blocks += hdr + bodies[0]
        else:
            blocks += hdr
            for g in range(0, per_ch_bytes, 4):
                for c in range(ch):
                    blocks += bodies[c][g : g + 4]
    n_frames = len(cols[0])
    fmt = struct.pack(
        "<HHIIHH", 0x11, ch, rate, rate * block_align // block_frames,
        block_align, 4,
    ) + struct.pack("<HH", 2, block_frames)  # cbSize + samplesPerBlock
    return (
        b"RIFF"
        + struct.pack("<I", 48 + len(blocks))
        + b"WAVEfmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"fact"
        + struct.pack("<II", 4, n_frames)
        + b"data"
        + struct.pack("<I", len(blocks))
        + bytes(blocks)
    )


G711_RATE = 8000  # telephony sample rate of every G.711 WAV written here


def encode_wav_g711(samples: np.ndarray, law: str = "ulaw") -> bytes:
    """Encode mono int16 samples as a real WAV G.711 container
    (fmt 7 = mu-law, fmt 6 = A-law), one byte per sample."""
    if samples.ndim == 2:
        samples = samples[:, 0]
    codes = (ulaw_encode if law == "ulaw" else alaw_encode)(samples)
    return g711_wav(codes.tobytes(), law)


def g711_wav(codes: bytes, law: str = "ulaw") -> bytes:
    """Wrap G.711 code bytes in a WAV container: 18-byte fmt chunk
    (fmt 7 = mu-law, fmt 6 = A-law, mono, 8 bits, G711_RATE Hz) and a
    data chunk that is not word-padded."""
    fmt_tag = 7 if law == "ulaw" else 6
    return (
        b"RIFF"
        + struct.pack("<I", 38 + len(codes))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 18, fmt_tag, 1, G711_RATE, G711_RATE, 1, 8)
        + struct.pack("<H", 0)
        + b"data"
        + struct.pack("<I", len(codes))
        + codes
    )


def riff_chunks(
    data: bytes, start: int = 12
) -> Iterator[tuple[bytes, int, bytes]]:
    """Walk RIFF chunks from ``start`` (12 skips the RIFF header and
    form type, 4 skips a LIST body's list type) and yield (chunk id,
    declared size, body). A body is cut short where ``data`` ends;
    chunks are word-aligned, so an odd size skips one pad byte."""
    i = start
    while i + 8 <= len(data):
        (size,) = struct.unpack("<I", data[i + 4 : i + 8])
        yield data[i : i + 4], size, data[i + 8 : i + 8 + size]
        i += 8 + size + (size & 1)


def decode_wav_samples(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a RIFF/WAVE payload to ((n_frames, channels) int32
    samples, sample_rate). Real decode paths: PCM 8-bit (unsigned ->
    centered) / 16-bit / 32-bit, G.711 mu-law (fmt 7) and A-law
    (fmt 6) expansion, and IMA ADPCM (fmt 0x11) block decode. Raises
    ValueError for non-WAV and NotImplementedError for formats that
    need real codec libraries (MP3/AAC/etc.)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    rate = ch = bits = fmt = None
    block_align = 0
    fmt_extra = b""
    body = b""
    n_fact = None
    for cid, _, chunk in riff_chunks(data):
        if cid == b"fmt " and len(chunk) >= 16:
            fmt, ch, rate, _, block_align, bits = struct.unpack(
                "<HHIIHH", chunk[:16]
            )
            fmt_extra = chunk[18:]  # past cbSize
        elif cid == b"fact" and len(chunk) >= 4:
            (n_fact,) = struct.unpack("<I", chunk[:4])
        elif cid == b"data":
            body = chunk
    if rate is None:
        raise ValueError("WAV without fmt chunk")
    if fmt == 1:
        if bits == 8:
            samples = np.frombuffer(body, np.uint8).astype(np.int32) - 128
        elif bits == 16:
            n = len(body) // 2 * 2
            samples = np.frombuffer(body[:n], "<i2").astype(np.int32)
        elif bits == 32:
            n = len(body) // 4 * 4
            samples = np.frombuffer(body[:n], "<i4").astype(np.int32)
        else:
            raise NotImplementedError(f"{bits}-bit PCM: codec slot")
    elif fmt in (6, 7):  # G.711 A-law / mu-law
        codes = np.frombuffer(body, np.uint8)
        samples = (alaw_decode if fmt == 6 else ulaw_decode)(codes)
    elif fmt == 0x11:  # IMA ADPCM, mono or multi-channel
        chans = max(ch or 1, 1)
        spb = (
            struct.unpack("<H", fmt_extra[:2])[0]
            if len(fmt_extra) >= 2
            else (block_align - 4 * chans) * 2 // chans + 1
        )
        nib_bytes = (spb - 1 + 1) // 2
        out_ch: list[list[int]] = [[] for _ in range(chans)]
        for j in range(0, len(body), max(block_align, 4 * chans + 1)):
            block = body[j : j + block_align]
            if len(block) < 4 * chans + 1:
                break
            preds, idxs = [], []
            for c in range(chans):
                pr, ix, _ = struct.unpack("<hBB", block[4 * c : 4 * c + 4])
                preds.append(pr)
                idxs.append(ix)
            dat = block[4 * chans :]
            if chans == 1:
                per = [dat]
            else:
                # multi-channel data interleaves in 4-byte (8-nibble)
                # groups per channel, round-robin (MS WAVE spec); a
                # channel's decode state runs across its own groups
                grp = [
                    dat[k : k + 4] for k in range(0, len(dat) // 4 * 4, 4)
                ]
                per = [
                    b"".join(grp[g] for g in range(c, len(grp), chans))
                    for c in range(chans)
                ]
            for c in range(chans):
                out_ch[c] += _ima_decode_block(
                    per[c][:nib_bytes], preds[c], idxs[c]
                )[:spb]
        if n_fact is not None:
            out_ch = [o[:n_fact] for o in out_ch]
        nfr = min(len(o) for o in out_ch)
        samples = np.stack(
            [np.asarray(o[:nfr], np.int32) for o in out_ch], axis=1
        ).reshape(-1)
    else:
        raise NotImplementedError(f"WAV format {fmt}: codec slot")
    n_frames = len(samples) // max(ch, 1)
    return samples[: n_frames * ch].reshape(n_frames, ch), rate


class GifError(ValueError):
    """Malformed or unsupported-but-claimed-GIF payload."""


def _lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    """GIF-flavor LZW: variable-width codes (min+1 .. 12 bits, LSB
    bit order), CLEAR resets the dictionary, EOI terminates."""
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    table: list[list[int]] = [[i] for i in range(clear)] + [[], []]
    out: list[int] = []
    prev: list[int] | None = None
    acc = bits = pos = 0
    n = len(data)
    while True:
        while bits < code_size:
            if pos >= n:
                return out  # tolerated: stream ended without EOI
            acc |= data[pos] << bits
            bits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        bits -= code_size
        if code == clear:
            table = [[i] for i in range(clear)] + [[], []]
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if code < len(table) and table[code]:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + [prev[0]]  # the KwKwK case
        else:
            raise GifError(f"bad LZW code {code}")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + [entry[0]])
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry


def _lzw_encode(indices: list[int], min_code_size: int) -> bytes:
    """Real LZW compression (the decoder's round-trip twin): grows a
    prefix dictionary to 4096 entries, emits CLEAR when full."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = bits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, bits
        acc |= code << bits
        bits += width
        while bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bits -= 8

    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    code_size = min_code_size + 1
    emit(clear, code_size)
    seq: tuple[int, ...] = ()
    for idx in indices:
        cand = seq + (idx,)
        if cand in table:
            seq = cand
            continue
        emit(table[seq], code_size)
        if next_code < 4096:
            table[cand] = next_code
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
            next_code += 1
        else:
            emit(clear, code_size)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            code_size = min_code_size + 1
        seq = (idx,)
    if seq:
        emit(table[seq], code_size)
    emit(eoi, code_size)
    if bits:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(data: bytes) -> np.ndarray:
    """Decode the first frame of a GIF87a/89a to an (H, W, 3) uint8
    array. Real work: logical-screen/image-descriptor parse, color
    table selection (local over global), sub-block reassembly, full
    variable-width LZW decompression, and Adam-style 4-pass
    de-interlacing. Raises GifError for non-GIF payloads."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise GifError("not a GIF payload")
    sw, sh, packed, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    i = 13
    gct: np.ndarray | None = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(data[i : i + 3 * n], np.uint8).reshape(n, 3)
        i += 3 * n
    while i < len(data):
        b = data[i]
        if b == 0x21:  # extension: skip sub-blocks
            i += 2
            while i < len(data) and data[i]:
                i += 1 + data[i]
            i += 1
        elif b == 0x2C:  # image descriptor
            _left, _top, w, h, ipacked = struct.unpack(
                "<HHHHB", data[i + 1 : i + 10]
            )
            i += 10
            lct = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                lct = np.frombuffer(
                    data[i : i + 3 * n], np.uint8
                ).reshape(n, 3)
                i += 3 * n
            if lct is None:
                raise GifError("no color table")
            min_code = data[i]
            i += 1
            lzw = bytearray()
            while i < len(data) and data[i]:
                size = data[i]
                lzw += data[i + 1 : i + 1 + size]
                i += 1 + size
            i += 1
            idx = _lzw_decode(bytes(lzw), min_code)
            if len(idx) < w * h:
                raise GifError("LZW stream shorter than image")
            grid = np.asarray(idx[: w * h], np.int32).reshape(h, w)
            if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
                order = [
                    r
                    for start, step in _GIF_INTERLACE_PASSES
                    for r in range(start, h, step)
                ]
                deinter = np.empty_like(grid)
                deinter[order] = grid
                grid = deinter
            if (grid >= len(lct)).any():
                raise GifError("palette index out of range")
            return lct[grid]
        elif b == 0x3B:  # trailer
            break
        else:
            raise GifError(f"bad block introducer {b:#x}")
    raise GifError("GIF without image data")


def encode_gif(
    indices: np.ndarray,
    palette: np.ndarray,
    interlace: bool = False,
) -> bytes:
    """Encode an (H, W) uint8 index array + (N, 3) palette as a real
    GIF89a (LZW-compressed, optionally interlaced) — decode_gif's
    round-trip twin."""
    h, w = indices.shape
    n = len(palette)
    depth = max(1, (int(n) - 1).bit_length())
    size = 1 << depth
    pal = np.zeros((size, 3), np.uint8)
    pal[:n] = palette
    if interlace:
        order = [
            r
            for start, step in _GIF_INTERLACE_PASSES
            for r in range(start, h, step)
        ]
        indices = indices[order]
    min_code = max(2, depth)
    lzw = _lzw_encode([int(v) for v in indices.reshape(-1)], min_code)
    blocks = bytearray()
    for j in range(0, len(lzw), 255):
        chunk = lzw[j : j + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
        + pal.tobytes()
        + b"\x2C"
        + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlace else 0)
        + bytes([min_code])
        + bytes(blocks)
        + b"\x3B"
    )


# ---------------------------------------------------------------------
# Baseline JPEG (grayscale): real DCT / quantization / Huffman codec.
# Tables are the public ITU-T T.81 Annex K examples. Lossy by nature,
# so the correctness contract is a BOUNDED round-trip error (pytest +
# certificate oracle), not bit-exactness.
# ---------------------------------------------------------------------

class JpegError(ValueError):
    """Malformed or unsupported-but-claimed-JPEG payload."""


# ITU-T T.81 Table K.1 (luminance quantization), zigzag order below
_JPEG_QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], np.int32).reshape(8, 8)

# zigzag index: _ZIGZAG[k] = (row, col) of the k-th coefficient
_ZIGZAG = sorted(
    ((r, c) for r in range(8) for c in range(8)),
    key=lambda rc: (rc[0] + rc[1], rc[0] if (rc[0] + rc[1]) % 2 else -rc[0]),
)

# ITU-T T.81 Annex K.3 typical Huffman tables (luminance DC / AC):
# (bits[1..16] counts, values)
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


# ITU-T T.81 Table K.2 (chrominance quantization)
_JPEG_QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], np.int32).reshape(8, 8)

# ITU-T T.81 Annex K.3 typical chrominance Huffman tables
_DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_VALS_C = list(range(12))
_AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


# Progressive AC scans need EOBn symbols (r<<4 with s=0, r=1..14),
# which the Annex K baseline tables do not define — real encoders
# emit custom per-scan DHTs. This engine's progressive AC table is a
# flat 8-bit canonical code over the full 176-symbol alphabet
# (160 (r,s) pairs with s=1..10, 15 EOBn values 0x00..0xE0, ZRL
# 0xF0): 176 codes of length 8 satisfy Kraft (176 <= 256), so the
# table is a legal DHT; it trades a little compression for a
# dead-simple, always-valid code.
_AC_PROG_VALS = sorted(
    [(r << 4) | s for r in range(16) for s in range(1, 11)]
    + [r << 4 for r in range(15)]
    + [0xF0]
)
_AC_PROG_BITS = [0] * 7 + [len(_AC_PROG_VALS)] + [0] * 8


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code, length), canonical JPEG code assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> value, for the bit-at-a-time decoder."""
    out: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix (D @ block @ D.T = coefficients)."""
    k = np.arange(8)
    d = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
    d[0] *= 1 / np.sqrt(2)
    return d * 0.5


_DCT = _dct_matrix()


def _quant_table(
    quality: int, base: np.ndarray = _JPEG_QUANT_LUMA, max_val: int = 255
) -> np.ndarray:
    """libjpeg-style quality scaling of an Annex K table.
    ``max_val=65535`` gives the extended-precision (Pq=1) range —
    low qualities genuinely overflow 8 bits (Annex K luma scales to
    6050 at quality 1)."""
    quality = min(max(quality, 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, max_val).astype(np.int32)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per spec


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude category + offset bits for a signed value."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    return size, v if v >= 0 else v + (1 << size) - 1


def _encode_ac_band(bw_: "_BitWriter", blk: np.ndarray, ac_codes: dict) -> None:
    """Huffman-encode the AC band (zigzag 1..63) of one quantized
    block: run-length + ZRL + EOB (which in a progressive scan is
    the EOB-run-of-one code)."""
    run = 0
    seq = [int(blk[rr, cc]) for rr, cc in _ZIGZAG[1:]]
    last_nz = 0
    for k, v in enumerate(seq):
        if v:
            last_nz = k + 1
    for v in seq[:last_nz]:
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            bw_.write(code, length)
            run -= 16
        size, bits = _magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        bw_.write(code, length)
        bw_.write(bits, size)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        bw_.write(code, length)


def _encode_dc(
    bw_: "_BitWriter", blk: np.ndarray, prev_dc: int, dc_codes: dict,
    shift: int = 0,
) -> int:
    dc = int(blk[0, 0]) >> shift  # arithmetic: T.81 DC point transform
    size, bits = _magnitude(dc - prev_dc)
    code, length = dc_codes[size]
    bw_.write(code, length)
    if size:
        bw_.write(bits, size)
    return dc


def _encode_block(
    bw_: "_BitWriter",
    blk: np.ndarray,
    prev_dc: int,
    dc_codes: dict,
    ac_codes: dict,
) -> int:
    """Huffman-encode one quantized 8x8 block; returns its DC."""
    dc = _encode_dc(bw_, blk, prev_dc, dc_codes)
    _encode_ac_band(bw_, blk, ac_codes)
    return dc


def _plane_to_quant_blocks(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Level-shift, 8x8 DCT and quantize one padded component plane
    -> (bh, bw, 8, 8) int32 coefficient blocks."""
    ph, pw = plane.shape
    bh, bw = ph // 8, pw // 8
    blocks = (
        plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).astype(np.float64)
        - 128.0
    )
    coef = np.einsum("ij,bcjk,lk->bcil", _DCT, blocks, _DCT)
    return np.round(coef / q).astype(np.int32)


def _rgb_to_ycbcr(px: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    r = px[:, :, 0].astype(np.float64)
    g = px[:, :, 1].astype(np.float64)
    b = px[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return y, cb, cr


def encode_jpeg(
    px: np.ndarray,
    quality: int = 90,
    subsample: str = "420",
    restart_interval: int = 0,
    progressive: bool = False,
    dqt_precision: int = 8,
    successive: bool = False,
) -> bytes:
    """Encode an (H, W[, 1|3]) uint8 array as a REAL baseline
    JFIF/JPEG: level-shifted 8x8 DCT, Annex-K luma/chroma
    quantization scaled by quality, zigzag, per-component DC
    prediction, Annex-K Huffman entropy coding with byte stuffing.
    Color input converts RGB -> YCbCr (BT.601 full range) and
    interleaves MCUs with 4:2:0 (2x2-averaged chroma) or 4:4:4
    sampling. ``restart_interval`` > 0 emits a DRI segment and
    RST0-7 markers every N MCUs (byte-aligned, DC predictors
    reset — the error-resilience feature real encoders use).
    ``progressive`` emits SOF2 spectral selection: one interleaved
    DC scan, then one full-band AC scan per component in raster
    order over its true block grid (Ah = Al = 0).
    ``dqt_precision=16`` emits extended-precision (Pq=1, 16-bit
    big-endian) quantization tables and lifts the 255 clamp — the
    form real encoders use below ~quality 25, where Annex K scaling
    overflows 8 bits.
    ``successive=True`` emits FULL successive approximation (T.81
    G.1.2, the default mode of real progressive encoders): DC first
    scan at Al=1 + one raw-bit DC refinement, then per component an
    AC spectral scan at Al=1 + an AC refinement scan (Ah=1, Al=0)
    with newly-significant RS codes, sign bits, buffered correction
    bits and EOB runs — the libjpeg encode_mcu_AC_refine contract.
    Implies ``progressive``; restart intervals unsupported here."""
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ncomp = px.shape
    if ncomp not in (1, 3):
        raise JpegError("encode_jpeg takes gray or RGB input")
    if dqt_precision not in (8, 16):
        raise JpegError(f"dqt_precision must be 8 or 16, got {dqt_precision}")
    if successive:
        if restart_interval:
            raise JpegError("successive + restart: unsupported combination")
        progressive = True
    q_max = 255 if dqt_precision == 8 else 65535
    qy = _quant_table(quality, max_val=q_max)
    zz = _ZIGZAG
    dc_y = _huff_codes(_DC_BITS, _DC_VALS)
    ac_y = _huff_codes(_AC_BITS, _AC_VALS)

    if ncomp == 1:
        planes = [px[:, :, 0].astype(np.float64)]
        factors = [(1, 1)]
        qtabs = [qy]
        huffs = [(dc_y, ac_y)]
    else:
        if subsample not in ("420", "444"):
            raise JpegError(f"unsupported subsampling {subsample}")
        y, cb, cr = _rgb_to_ycbcr(px)
        qc = _quant_table(quality, _JPEG_QUANT_CHROMA, max_val=q_max)
        dc_c = _huff_codes(_DC_BITS_C, _DC_VALS_C)
        ac_c = _huff_codes(_AC_BITS_C, _AC_VALS_C)
        if subsample == "420":
            # pad to even, then 2x2 box average
            eh, ew = (h + 1) // 2 * 2, (w + 1) // 2 * 2
            cbp = np.pad(cb, ((0, eh - h), (0, ew - w)), mode="edge")
            crp = np.pad(cr, ((0, eh - h), (0, ew - w)), mode="edge")
            cb = cbp.reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))
            factors = [(2, 2), (1, 1), (1, 1)]
        else:
            factors = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
        qtabs = [qy, qc, qc]
        huffs = [(dc_y, ac_y), (dc_c, ac_c), (dc_c, ac_c)]

    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    comp_blocks = []
    true_grids = []  # un-padded block grid per component (AC scans)
    for plane, (hf, vf), q in zip(planes, factors, qtabs):
        tw, th = mcus_x * 8 * hf, mcus_y * 8 * vf
        ph, pw = plane.shape
        true_grids.append(((ph + 7) // 8, (pw + 7) // 8))
        padded = np.pad(
            plane, ((0, th - ph), (0, tw - pw)), mode="edge"
        )
        comp_blocks.append(_plane_to_quant_blocks(padded, q))

    def dc_scan_bytes(shift: int = 0) -> bytes:
        wtr = _BitWriter()
        prev = [0] * len(planes)
        mcu_i = 0
        rst = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if (
                    restart_interval
                    and mcu_i
                    and mcu_i % restart_interval == 0
                ):
                    wtr.flush()
                    wtr.out += bytes([0xFF, 0xD0 + rst])
                    rst = (rst + 1) % 8
                    prev = [0] * len(planes)
                for ci, (hf, vf) in enumerate(factors):
                    dcc, acc = huffs[ci]
                    for v in range(vf):
                        for hh in range(hf):
                            blk = comp_blocks[ci][my * vf + v, mx * hf + hh]
                            if progressive:
                                prev[ci] = _encode_dc(
                                    wtr, blk, prev[ci], dcc, shift
                                )
                            else:
                                prev[ci] = _encode_block(
                                    wtr, blk, prev[ci], dcc, acc
                                )
                mcu_i += 1
        wtr.flush()
        return bytes(wtr.out)

    def ac_scan_bytes(ci: int, blocks=None) -> bytes:
        blocks = comp_blocks[ci] if blocks is None else blocks
        wtr = _BitWriter()
        bh_i, bw_i = true_grids[ci]
        acc = _huff_codes(_AC_PROG_BITS, _AC_PROG_VALS)
        blk_i = 0
        rst = 0
        eobrun = 0

        def flush_eobrun() -> None:
            # T.81 G.1.2.2 EOBn: run = (1 << r) + r extra bits
            nonlocal eobrun
            while eobrun > 0:
                r = min(eobrun.bit_length() - 1, 14)
                extra = min(eobrun - (1 << r), (1 << r) - 1)
                code, length = acc[r << 4]
                wtr.write(code, length)
                if r:
                    wtr.write(extra, r)
                eobrun -= (1 << r) + extra

        for by in range(bh_i):
            for bx in range(bw_i):
                if (
                    restart_interval
                    and blk_i
                    and blk_i % restart_interval == 0
                ):
                    flush_eobrun()
                    wtr.flush()
                    wtr.out += bytes([0xFF, 0xD0 + rst])
                    rst = (rst + 1) % 8
                blk_i += 1
                blk = blocks[by, bx]
                if not any(
                    int(blk[rr, cc]) for rr, cc in _ZIGZAG[1:]
                ):
                    eobrun += 1  # fold empty bands into one EOB run
                    continue
                flush_eobrun()
                _encode_ac_band(wtr, blk, acc)
        flush_eobrun()
        wtr.flush()
        return bytes(wtr.out)

    def dc_refine_bytes(al: int = 0) -> bytes:
        # T.81 G.1.2.1: one RAW bit per block (bit ``al`` of the
        # two's-complement DC), interleaved MCU order — no entropy
        # coding, no prediction
        wtr = _BitWriter()
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci, (hf, vf) in enumerate(factors):
                    for v in range(vf):
                        for hh in range(hf):
                            dc = int(
                                comp_blocks[ci][my * vf + v, mx * hf + hh][
                                    0, 0
                                ]
                            )
                            wtr.write((dc >> al) & 1, 1)
        wtr.flush()
        return bytes(wtr.out)

    def ac_refine_bytes(ci: int, al: int = 0) -> bytes:
        # T.81 G.1.2.3 / libjpeg encode_mcu_AC_refine: RS codes for
        # newly-significant coefficients over zero-HISTORY runs,
        # correction bits buffered and flushed after each emitted
        # symbol, per-block EOB run carrying the trailing bits
        wtr = _BitWriter()
        bh_i, bw_i = true_grids[ci]
        acc = _huff_codes(_AC_PROG_BITS, _AC_PROG_VALS)

        def put_bits(bits_: list[int]) -> None:
            for b in bits_:
                wtr.write(b, 1)

        for by in range(bh_i):
            for bx in range(bw_i):
                blk = comp_blocks[ci][by, bx]
                vals = [int(blk[rr, cc]) for rr, cc in _ZIGZAG[1:]]
                temps = [abs(v) >> al for v in vals]
                eob_idx = -1
                for k, t in enumerate(temps):
                    if t == 1:
                        eob_idx = k
                run = 0
                buf: list[int] = []
                for k, (v, t) in enumerate(zip(vals, temps)):
                    if t == 0:
                        run += 1
                        continue
                    # flush pending ZRLs before ANY nonzero temp so
                    # buffered correction bits never span a ZRL
                    while run > 15 and k <= eob_idx:
                        code, ln = acc[0xF0]
                        wtr.write(code, ln)
                        run -= 16
                        put_bits(buf)
                        buf = []
                    if t > 1:
                        buf.append(t & 1)  # already significant
                        continue
                    code, ln = acc[(run << 4) | 1]
                    wtr.write(code, ln)
                    wtr.write(1 if v > 0 else 0, 1)
                    put_bits(buf)
                    buf = []
                    run = 0
                if run > 0 or buf:
                    code, ln = acc[0x00]  # EOB run of one
                    wtr.write(code, ln)
                    put_bits(buf)
        wtr.flush()
        return bytes(wtr.out)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dqt_body(tid: int, tbl: np.ndarray) -> bytes:
        if dqt_precision == 8:
            return bytes([tid]) + bytes(int(tbl[r][c]) for r, c in zz)
        return bytes([0x10 | tid]) + b"".join(
            struct.pack(">H", int(tbl[r][c])) for r, c in zz
        )

    out = b"\xff\xd8"
    out += seg(0xDB, dqt_body(0, qy))
    if ncomp == 3:
        out += seg(0xDB, dqt_body(1, qtabs[1]))
    sof_comps = b""
    for ci, (hf, vf) in enumerate(factors):
        sof_comps += bytes([ci + 1, (hf << 4) | vf, 0 if ci == 0 else 1])
    out += seg(
        0xC2 if progressive else 0xC0,
        struct.pack(">BHHB", 8, h, w, len(factors)) + sof_comps,
    )
    dht = (
        b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
        + b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS)
    )
    if ncomp == 3:
        dht += (
            b"\x01" + bytes(_DC_BITS_C) + bytes(_DC_VALS_C)
            + b"\x11" + bytes(_AC_BITS_C) + bytes(_AC_VALS_C)
        )
    if progressive:
        dht += (
            b"\x12" + bytes(_AC_PROG_BITS)
            + bytes(_AC_PROG_VALS)  # class 1, id 2: the AC-scan table
        )
    out += seg(0xC4, dht)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos_comps = b"".join(
        bytes([ci + 1, 0x00 if ci == 0 else 0x11])
        for ci in range(len(factors))
    )
    if not progressive:
        out += seg(
            0xDA, bytes([len(factors)]) + sos_comps + bytes([0, 63, 0])
        )
        return out + dc_scan_bytes() + b"\xff\xd9"
    if successive:
        # full successive approximation: DC at Al=1 + raw-bit DC
        # refinement, then per component AC spectral at Al=1 + AC
        # refinement (Ah=1, Al=0)
        out += seg(
            0xDA, bytes([len(factors)]) + sos_comps + bytes([0, 0, 0x01])
        )
        out += dc_scan_bytes(shift=1)
        out += seg(
            0xDA, bytes([len(factors)]) + sos_comps + bytes([0, 0, 0x10])
        )
        out += dc_refine_bytes(0)
        for ci in range(len(factors)):
            shifted = np.sign(comp_blocks[ci]) * (
                np.abs(comp_blocks[ci]) >> 1
            )  # T.81 AC point transform: magnitude shift, not arithmetic
            out += seg(0xDA, bytes([1, ci + 1, 0x02, 1, 63, 0x01]))
            out += ac_scan_bytes(ci, blocks=shifted)
            out += seg(0xDA, bytes([1, ci + 1, 0x02, 1, 63, 0x10]))
            out += ac_refine_bytes(ci, 0)
        return out + b"\xff\xd9"
    # progressive spectral selection: interleaved DC scan, then one
    # full-band AC scan per component over its true block grid
    out += seg(
        0xDA, bytes([len(factors)]) + sos_comps + bytes([0, 0, 0])
    )
    out += dc_scan_bytes()
    for ci in range(len(factors)):
        out += seg(0xDA, bytes([1, ci + 1, 0x02, 1, 63, 0]))
        out += ac_scan_bytes(ci)
    return out + b"\xff\xd9"


def encode_jpeg_gray(px: np.ndarray, quality: int = 90) -> bytes:
    """Single-component wrapper kept for the grayscale decode query;
    see encode_jpeg."""
    if px.ndim == 3 and px.shape[2] != 1:
        raise JpegError("encode_jpeg_gray takes grayscale input")
    return encode_jpeg(px, quality=quality)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits < 25 and self.pos < len(self.data):
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos < len(self.data) and self.data[self.pos] == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    self.data = self.data[: self.pos - 1]  # marker: stop
                    break
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def read(self, n: int) -> int:
        self._fill()
        if n > self.nbits:
            raise JpegError("bit stream exhausted")
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v

    def huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read(1)
            if (length, code) in table:
                return table[(length, code)]
        raise JpegError("bad Huffman code")


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _decode_block(rd: "_BitReader", dct: dict, act: dict, prev_dc: int):
    """Entropy-decode one block -> (dezigzagged 8x8 coef grid, dc)."""
    blk = np.zeros(64, np.int32)
    size = rd.huff(dct)
    prev_dc += _extend(rd.read(size), size)
    blk[0] = prev_dc
    k = 1
    while k < 64:
        rs = rd.huff(act)
        run, size = rs >> 4, rs & 0xF
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            k += 16
            continue
        k += run
        if k > 63:
            raise JpegError("AC index overflow")
        blk[k] = _extend(rd.read(size), size)
        k += 1
    grid = np.zeros((8, 8), np.int32)
    for kk, (rr, cc) in enumerate(_ZIGZAG):
        grid[rr, cc] = blk[kk]
    return grid, prev_dc


def _jpeg_dc_or_full_scan(
    segments, scan_comps, comps, geom, coefs, dc_tabs, ac_tabs,
    mcus_x, mcus_y, restart_interval, progressive, al,
):
    """Decode one DC (progressive) or full-block (baseline) scan into
    the coefficient store. >1 component -> interleaved MCU order;
    single component -> raster over its true block grid."""
    sel = {cid: (td, ta) for cid, td, ta in scan_comps}
    by_cid = {c[0]: c for c in comps}
    if len(scan_comps) > 1:
        rd = _BitReader(segments[0])
        seg_i = mcu_i = 0
        prev = {cid: 0 for cid, *_ in scan_comps}
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if (
                    restart_interval
                    and mcu_i
                    and mcu_i % restart_interval == 0
                ):
                    seg_i += 1
                    if seg_i >= len(segments):
                        raise JpegError("missing restart marker")
                    rd = _BitReader(segments[seg_i])
                    prev = {cid: 0 for cid in prev}
                mcu_i += 1
                for cid, td, ta in scan_comps:
                    _, hf, vf, _tq = by_cid[cid]
                    for v in range(vf):
                        for hh in range(hf):
                            if progressive:
                                size = rd.huff(dc_tabs[td])
                                prev[cid] += _extend(rd.read(size), size)
                                coefs[cid][my * vf + v, mx * hf + hh, 0, 0] = (
                                    prev[cid] << al
                                )
                            else:
                                grid, prev[cid] = _decode_block(
                                    rd, dc_tabs[td], ac_tabs[ta], prev[cid]
                                )
                                coefs[cid][my * vf + v, mx * hf + hh] = grid
        return
    cid, td, ta = scan_comps[0]
    _hf, _vf, _tq, bh_i, bw_i = geom[cid]
    rd = _BitReader(segments[0])
    seg_i = blk_i = 0
    prev = 0
    for by in range(bh_i):
        for bx in range(bw_i):
            if restart_interval and blk_i and blk_i % restart_interval == 0:
                seg_i += 1
                if seg_i >= len(segments):
                    raise JpegError("missing restart marker")
                rd = _BitReader(segments[seg_i])
                prev = 0
            blk_i += 1
            if progressive:
                size = rd.huff(dc_tabs[td])
                prev += _extend(rd.read(size), size)
                coefs[cid][by, bx, 0, 0] = prev << al
            else:
                grid, prev = _decode_block(
                    rd, dc_tabs[td], ac_tabs[ta], prev
                )
                coefs[cid][by, bx] = grid


def _jpeg_dc_refine_scan(
    segments, scan_comps, by_cid, geom, coefs, mcus_x, mcus_y, al,
    restart_interval,
):
    """Successive-approximation DC refinement (T.81 G.1.2.1, Ah > 0):
    one RAW bit per block (no entropy coding), OR-ed into bit ``al``
    of the two's-complement DC value — correct for both signs because
    the first pass stored the arithmetically-shifted value."""
    rd = _BitReader(segments[0])
    seg_i = mcu_i = 0
    if len(scan_comps) > 1:
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if (
                    restart_interval
                    and mcu_i
                    and mcu_i % restart_interval == 0
                ):
                    seg_i += 1
                    if seg_i >= len(segments):
                        raise JpegError("missing restart marker")
                    rd = _BitReader(segments[seg_i])
                mcu_i += 1
                for cid, _td, _ta in scan_comps:
                    _, hf, vf, _tq = by_cid[cid]
                    for v in range(vf):
                        for hh in range(hf):
                            if rd.read(1):
                                coefs[cid][
                                    my * vf + v, mx * hf + hh, 0, 0
                                ] |= 1 << al
        return
    cid = scan_comps[0][0]
    _hf, _vf, _tq, bh_i, bw_i = geom[cid]
    blk_i = 0
    for by in range(bh_i):
        for bx in range(bw_i):
            if restart_interval and blk_i and blk_i % restart_interval == 0:
                seg_i += 1
                if seg_i >= len(segments):
                    raise JpegError("missing restart marker")
                rd = _BitReader(segments[seg_i])
            blk_i += 1
            if rd.read(1):
                coefs[cid][by, bx, 0, 0] |= 1 << al


def _jpeg_ac_refine_scan(
    segments, scan_comp, geom, coefs, ac_tabs, ss, se, al,
    restart_interval,
):
    """Successive-approximation AC refinement (T.81 G.1.2.3, Ah > 0):
    RS codes position NEWLY-significant coefficients (s = 1, sign
    bit -> ±2^al) over runs of zero-HISTORY positions; every
    already-significant coefficient passed reads one correction bit
    (append 2^al toward its sign if set); EOB runs cover trailing
    positions, still reading correction bits for the nonzero-history
    ones (the libjpeg decode_mcu_AC_refine contract)."""
    cid, _td, ta = scan_comp
    act = ac_tabs[ta]
    _hf, _vf, _tq, bh_i, bw_i = geom[cid]
    rd = _BitReader(segments[0])
    seg_i = blk_i = 0
    eobrun = 0
    p1 = 1 << al

    def correct(grid, rr, cc):
        if rd.read(1) and (int(grid[rr, cc]) & p1) == 0:
            grid[rr, cc] += p1 if grid[rr, cc] >= 0 else -p1

    for by in range(bh_i):
        for bx in range(bw_i):
            if restart_interval and blk_i and blk_i % restart_interval == 0:
                seg_i += 1
                if seg_i >= len(segments):
                    raise JpegError("missing restart marker")
                rd = _BitReader(segments[seg_i])
                eobrun = 0
            blk_i += 1
            grid = coefs[cid][by, bx]
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = rd.huff(act)
                    r, sz = rs >> 4, rs & 0xF
                    newval = 0
                    if sz:
                        if sz != 1:
                            raise JpegError("bad refinement magnitude")
                        newval = p1 if rd.read(1) else -p1
                    elif r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += rd.read(r)
                        break
                    while k <= se:
                        rr, cc = _ZIGZAG[k]
                        if grid[rr, cc] != 0:
                            correct(grid, rr, cc)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval and k <= se:
                        rr, cc = _ZIGZAG[k]
                        grid[rr, cc] = newval
                    k += 1
            if eobrun > 0:
                while k <= se:
                    rr, cc = _ZIGZAG[k]
                    if grid[rr, cc] != 0:
                        correct(grid, rr, cc)
                    k += 1
                eobrun -= 1


def _jpeg_ac_scan(
    segments, scan_comp, geom, coefs, ac_tabs, ss, se, al,
    restart_interval,
):
    """Decode one progressive AC band scan (spectral selection,
    Ah = 0): raster over the component's true block grid with T.81
    G.1.2.2 EOB-run codes."""
    cid, _td, ta = scan_comp
    act = ac_tabs[ta]
    _hf, _vf, _tq, bh_i, bw_i = geom[cid]
    rd = _BitReader(segments[0])
    seg_i = blk_i = 0
    eobrun = 0
    for by in range(bh_i):
        for bx in range(bw_i):
            if restart_interval and blk_i and blk_i % restart_interval == 0:
                seg_i += 1
                if seg_i >= len(segments):
                    raise JpegError("missing restart marker")
                rd = _BitReader(segments[seg_i])
                eobrun = 0
            blk_i += 1
            if eobrun > 0:
                eobrun -= 1
                continue
            grid = coefs[cid][by, bx]
            k = ss
            while k <= se:
                rs = rd.huff(act)
                r, s = rs >> 4, rs & 0xF
                if s == 0:
                    if r == 15:  # ZRL inside the band
                        k += 16
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += rd.read(r)
                    break
                k += r
                if k > se:
                    raise JpegError("AC band overflow")
                rr, cc = _ZIGZAG[k]
                grid[rr, cc] = _extend(rd.read(s), s) << al
                k += 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline JPEG to (H, W, 1) uint8 (grayscale) or
    (H, W, 3) uint8 RGB (interleaved multi-component scans with any
    sampling factors that divide the MCU grid — 4:4:4, 4:2:0, 4:2:2).
    Real work: marker walk (DQT/SOF0/DHT/SOS), canonical Huffman
    table reconstruction, entropy decode with byte unstuffing,
    per-component DC prediction, dezigzag, dequantization, inverse
    DCT, chroma upsampling and YCbCr -> RGB. Restart intervals (DRI
    + RST0-7) split the entropy stream into independent byte-aligned
    segments with DC predictors reset. Progressive JPEG (SOF2) is
    decoded in both modes: multiple scans accumulate coefficients —
    interleaved or single-component DC scans, single-component AC
    band scans with EOB-run codes, and successive-approximation
    refinement scans (Ah > 0) — and the IDCT runs once at the end.
    Raises JpegError for non-JPEG and NotImplementedError for SOF1/
    SOF3 and for component counts other than 1 or 3."""
    if data[:2] != b"\xff\xd8":
        raise JpegError("not a JPEG payload")
    i = 2
    qtables: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    h = w = None
    comps: list[tuple[int, int, int, int]] = []  # (cid, hf, vf, tq)
    coefs: dict[int, np.ndarray] = {}
    geom: dict[int, tuple] = {}
    restart_interval = 0
    progressive = False
    hmax = vmax = mcus_x = mcus_y = 0
    saw_scan = False

    def _scan_end(start: int) -> int:
        k = start
        n = len(data)
        while k + 1 < n:
            if data[k] == 0xFF and data[k + 1] != 0x00 and not (
                0xD0 <= data[k + 1] <= 0xD7
            ):
                return k
            k += 1
        return n

    def _split_rst(scan: bytes) -> list[bytes]:
        if not restart_interval:
            return [scan]
        segments: list[bytes] = []
        start = k = 0
        while k + 1 < len(scan):
            if scan[k] == 0xFF and 0xD0 <= scan[k + 1] <= 0xD7:
                segments.append(scan[start:k])
                start = k + 2
                k += 2
            else:
                k += 1
        segments.append(scan[start:])
        return segments

    while i + 4 <= len(data):
        if data[i] != 0xFF:
            raise JpegError("marker sync lost")
        marker = data[i + 1]
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[i + 2 : i + 4])
        body = data[i + 4 : i + 2 + seglen]
        if marker == 0xDB:
            j = 0
            while j < len(body):
                prec, tid = body[j] >> 4, body[j] & 0xF
                tbl = np.zeros((8, 8), np.int32)
                if prec:
                    # extended precision (ITU T.81 B.2.4.1): 16-bit
                    # big-endian entries — low-quality tables exceed
                    # 255 and real encoders emit Pq=1 for them
                    for k, (r, c) in enumerate(_ZIGZAG):
                        tbl[r, c] = (
                            body[j + 1 + 2 * k] << 8
                        ) | body[j + 2 + 2 * k]
                    qtables[tid] = tbl
                    j += 129
                else:
                    for k, (r, c) in enumerate(_ZIGZAG):
                        tbl[r, c] = body[j + 1 + k]
                    qtables[tid] = tbl
                    j += 65
        elif marker in (0xC1, 0xC3):
            raise NotImplementedError("non-baseline JPEG: codec slot")
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker in (0xC0, 0xC2):
            progressive = marker == 0xC2
            _prec, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            comps = []
            for k in range(ncomp):
                cid = body[6 + 3 * k]
                hv = body[7 + 3 * k]
                comps.append((cid, hv >> 4, hv & 0xF, body[8 + 3 * k]))
            if len(comps) not in (1, 3):
                raise NotImplementedError("component count: codec slot")
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
            for cid, hf, vf, tq in comps:
                coefs[cid] = np.zeros(
                    (mcus_y * vf, mcus_x * hf, 8, 8), np.int32
                )
                # true (un-padded) block grid of this component, used
                # by non-interleaved scans
                cw = (w * hf + hmax - 1) // hmax
                chh = (h * vf + vmax - 1) // vmax
                geom[cid] = (hf, vf, tq, (chh + 7) // 8, (cw + 7) // 8)
        elif marker == 0xC4:
            j = 0
            while j < len(body):
                cls, tid = body[j] >> 4, body[j] & 0xF
                bits = list(body[j + 1 : j + 17])
                n = sum(bits)
                vals = list(body[j + 17 : j + 17 + n])
                tab = _huff_decode_table(bits, vals)
                (ac_tabs if cls else dc_tabs)[tid] = tab
                j += 17 + n
        elif marker == 0xDA:
            if h is None:
                raise JpegError("SOS before SOF")
            ns = body[0]
            scan_comps = []
            for k in range(ns):
                cid = body[1 + 2 * k]
                tt = body[2 + 2 * k]
                scan_comps.append((cid, tt >> 4, tt & 0xF))
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            end = _scan_end(i + 2 + seglen)
            segments = _split_rst(data[i + 2 + seglen : end])
            if ah > 0:
                # successive-approximation refinement scans
                if ss == 0:
                    _jpeg_dc_refine_scan(
                        segments, scan_comps,
                        {c[0]: c for c in comps}, geom, coefs,
                        mcus_x, mcus_y, al, restart_interval,
                    )
                else:
                    if ns != 1:
                        raise JpegError("AC refinement must be 1-comp")
                    _jpeg_ac_refine_scan(
                        segments, scan_comps[0], geom, coefs, ac_tabs,
                        ss, se, al, restart_interval,
                    )
                saw_scan = True
                i = end
                continue
            if not progressive or ss == 0:
                # DC (or full baseline) pass: interleaved MCU order
                # when the scan holds >1 component, raster otherwise
                _jpeg_dc_or_full_scan(
                    segments, scan_comps, comps, geom, coefs,
                    dc_tabs, ac_tabs, mcus_x, mcus_y,
                    restart_interval, progressive, al,
                )
            else:
                if ns != 1:
                    raise JpegError("progressive AC scan must be 1-comp")
                _jpeg_ac_scan(
                    segments, scan_comps[0], geom, coefs, ac_tabs,
                    ss, se, al, restart_interval,
                )
            saw_scan = True
            i = end
            continue
        i += 2 + seglen
    if h is None or not saw_scan:
        raise JpegError("missing SOF/SOS")
    planes: dict[int, np.ndarray] = {}
    for cid, hf, vf, tq in comps:
        q = qtables[tq]
        grids = coefs[cid] * q  # (by, bx, 8, 8)
        spatial = np.einsum("ji,bcjk,kl->bcil", _DCT, grids, _DCT) + 128.0
        by, bx = grids.shape[:2]
        planes[cid] = spatial.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
    out_planes = []
    for cid, hf, vf, _tq in comps:
        p = planes[cid]
        if hf < hmax or vf < vmax:
            p = np.repeat(np.repeat(p, vmax // vf, 0), hmax // hf, 1)
        out_planes.append(p[:h, :w])
    if len(out_planes) == 1:
        y = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return y[:, :, None]
    y, cb, cr = out_planes
    cb = cb - 128.0
    cr = cr - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=2,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def decode_jpeg_gray(data: bytes) -> np.ndarray:
    """Single-component wrapper kept for the grayscale decode query;
    see decode_jpeg."""
    px = decode_jpeg(data)
    if px.shape[2] != 1:
        raise JpegError("decode_jpeg_gray got a color scan")
    return px


# ---------------------------------------------------------------------
# AVI uncompressed video frames ('00db' DIB chunks): real pixel
# decode for the no-codec video path. Compressed streams ('00dc')
# remain the declared slot — they need real video codecs.
# ---------------------------------------------------------------------

class AviError(ValueError):
    """Malformed or unsupported-but-claimed-AVI payload."""


def decode_dib_frame(data: bytes, width: int, height: int) -> np.ndarray:
    """Decode one uncompressed 24-bit DIB frame (bottom-up rows, BGR
    byte order, rows padded to 4-byte boundaries — the real Windows
    DIB layout) to an (H, W, 3) uint8 RGB array."""
    stride = (width * 3 + 3) // 4 * 4
    if len(data) < stride * height:
        raise AviError("DIB frame shorter than stride * height")
    rows = np.frombuffer(data, np.uint8, stride * height).reshape(
        height, stride
    )
    bgr = rows[:, : width * 3].reshape(height, width, 3)
    return bgr[::-1, :, ::-1]  # bottom-up -> top-down, BGR -> RGB


def encode_dib_frame(px: np.ndarray) -> bytes:
    """RGB (H, W, 3) -> raw bottom-up padded BGR DIB bytes
    (decode_dib_frame's twin)."""
    h, w, _ = px.shape
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)
    return rows.tobytes()


def avi_main_header(data: bytes) -> tuple[int, int, int, int] | None:
    """(width, height, us_per_frame, total_frames) from the 56-byte
    avih main header in a RIFF/AVI payload's LIST-hdrl; None if the
    payload is not an AVI or carries no avih."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        return None
    for cid, _, body in riff_chunks(data):
        if cid == b"LIST" and body[:4] == b"hdrl":
            for sid, size, avih in riff_chunks(body, 4):
                if sid == b"avih" and size >= 56:
                    f = struct.unpack("<14I", avih[:56])
                    return f[8], f[9], f[0], f[4]
    return None


def avi_dib_frames(data: bytes) -> tuple[int, int, list[np.ndarray]]:
    """Walk a RIFF/AVI container and decode every uncompressed
    '00db' video frame: returns (width, height, [RGB arrays]). Real
    work: avih dims, LIST-movi chunk walk with word alignment,
    per-frame DIB decode. Compressed '00dc' chunks raise
    NotImplementedError (the video-codec slot)."""
    hdr = avi_main_header(data)
    if hdr is None:
        raise AviError("not an AVI payload with an avih header")
    width, height = hdr[:2]
    frames: list[np.ndarray] = []
    for cid, _, body in riff_chunks(data):
        if cid == b"LIST" and body[:4] == b"movi":
            for sid, _, chunk in riff_chunks(body, 4):
                if sid == b"00db":
                    frames.append(decode_dib_frame(chunk, width, height))
                elif sid == b"00dc":
                    raise NotImplementedError(
                        "compressed video stream: codec slot"
                    )
    return width, height, frames


AVI_US_PER_FRAME = 33333  # ~30 fps


def encode_avi_dib(frames: list[np.ndarray]) -> bytes:
    """Encode RGB frames as a real RIFF/AVI with uncompressed '00db'
    DIB chunks (avi_dib_frames' round-trip twin), AVI_US_PER_FRAME
    apart."""
    if not frames:
        raise AviError("need at least one frame")
    h, w, _ = frames[0].shape
    avih = struct.pack(
        "<14I", AVI_US_PER_FRAME, 0, 0, 0, len(frames), 0, 1, 0, w, h,
        0, 0, 0, 0,
    )
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
    movi = bytearray(b"movi")
    for px in frames:
        dib = encode_dib_frame(px)
        movi += b"00db" + struct.pack("<I", len(dib)) + dib
        if len(dib) % 2:
            movi += b"\x00"
    riff_body = (
        b"AVI "
        + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
        + b"LIST" + struct.pack("<I", len(movi)) + bytes(movi)
    )
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def encode_wav_pcm16(samples: np.ndarray, rate: int = 16000) -> bytes:
    """Encode (n_frames, channels) int16-range samples as a real
    RIFF/WAVE PCM container (the decode_wav_samples round-trip twin)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n_frames, ch = samples.shape
    body = samples.astype("<i2").tobytes()
    block = ch * 2
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(body))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, ch, rate, rate * block, block, 16)
        + b"data"
        + struct.pack("<I", len(body))
        + body
    )
