"""Stdlib-only media codecs (round-3 VERDICT item 4; JPEG added round
4): a real PNG decoder/encoder built on ``zlib``, a WAV decoder/encoder
built on the stdlib ``wave`` module, and a baseline-sequential grayscale
JPEG encoder/decoder in pure numpy/stdlib (ITU-T T.81: 8x8 DCT, Annex K
default tables, canonical Huffman, byte stuffing), so the multimodal
operators exercise the three most common container formats without any
non-baked-in library. Progressive/arithmetic/hierarchical JPEG, restart
intervals, subsampled or multi-component scans remain documented
``NotImplementedError`` boundaries — plug libjpeg/PIL in on a real
cluster for those.

PNG scope (everything the spec requires for the formats we emit, plus the
full filter set any third-party encoder may use):
- bit depth 8; color types 0 (gray), 2 (RGB), 3 (palette), 6 (RGBA);
- all five scanline filters (None/Sub/Up/Average/Paeth) on decode;
- no Adam7 interlace (raises — the progressive layout is a streaming
  concern no batch pipeline needs);
- CRC verified on every chunk.

The encoder always writes filter 0 (None) scanlines — valid PNG, and it
keeps the common decode path (our own round-trips) a pure memcpy;
filters 1–4 are exercised by unit tests with independently hand-filtered
fixtures (tests/test_codecs.py).

Decoded images are returned as (h, w[, c]) uint8; multimodal collapses
color to luma so downstream feature schemas stay rank-2.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 6: 4}


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------
def _chunks(data: bytes):
    pos = len(_PNG_SIG)
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        yield ctype, body
        pos += 12 + length


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(raw: bytes, h: int, w: int, bpp: int) -> np.ndarray:
    """Invert per-scanline filtering. Filter 0 (our encoder's output) and
    filters 2/1 stay vectorized; Average/Paeth fall back to a per-byte
    loop — unit-test-only territory for payloads we produce."""
    stride = w * bpp
    out = np.zeros((h, stride), dtype=np.uint8)
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    for y in range(h):
        ftype = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ftype == 0:  # None
            out[y] = line
        elif ftype == 2:  # Up
            out[y] = (line + prev) & 0xFF
        elif ftype == 1:  # Sub: prefix sum (mod 256) along each bpp lane
            cur = line.reshape(-1, bpp)
            out[y] = (np.cumsum(cur, axis=0) & 0xFF).reshape(-1)
        elif ftype == 3:  # Average
            cur = np.zeros(stride, np.int32)
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (line[x] + (left + prev[x]) // 2) & 0xFF
            out[y] = cur
        elif ftype == 4:  # Paeth
            cur = np.zeros(stride, np.int32)
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                ul = prev[x - bpp] if x >= bpp else 0
                cur[x] = (line[x] + _paeth(int(left), int(prev[x]), int(ul))) & 0xFF
            out[y] = cur
        else:
            raise ValueError(f"PNG filter type {ftype} is invalid")
    return out


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → uint8 array (h, w) for gray, (h, w, 3/4) for RGB(A);
    palette images resolve through PLTE to (h, w, 3)."""
    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    width = height = None
    color_type = None
    palette = None
    idat = bytearray()
    for ctype, body in _chunks(data):
        if ctype == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise NotImplementedError(f"PNG bit depth {depth} (only 8)")
            if color_type not in _CHANNELS:
                raise NotImplementedError(f"PNG color type {color_type}")
            if comp != 0 or filt != 0:
                raise ValueError("PNG: unknown compression/filter method")
            if interlace != 0:
                raise NotImplementedError("Adam7-interlaced PNG")
        elif ctype == b"PLTE":
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG: missing IHDR")
    bpp = _CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    expect = height * (width * bpp + 1)
    if len(raw) != expect:
        raise ValueError(f"PNG: decompressed {len(raw)} bytes, want {expect}")
    flat = _unfilter(raw, height, width, bpp)
    if color_type == 0:
        return flat.reshape(height, width)
    if color_type == 3:
        if palette is None:
            raise ValueError("PNG: palette image without PLTE")
        return palette[flat.reshape(height, width)]
    return flat.reshape(height, width, bpp)


def encode_png(arr: np.ndarray) -> bytes:
    """uint8 array (h, w) or (h, w, 3/4) → PNG bytes (filter 0, zlib -1)."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        color_type = 0
    elif a.ndim == 3 and a.shape[2] == 3:
        color_type = 2
    elif a.ndim == 3 and a.shape[2] == 4:
        color_type = 6
    else:
        raise ValueError(f"cannot PNG-encode array of shape {a.shape}")
    h, w = a.shape[:2]
    stride = w * _CHANNELS[color_type]
    body = a.reshape(h, stride)
    raw = np.concatenate([np.zeros((h, 1), np.uint8), body], axis=1).tobytes()

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# WAV (PCM via stdlib wave)
# ---------------------------------------------------------------------------
def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → (samples, sample_rate). 8-bit PCM → uint8, 16-bit PCM
    → int16; multi-channel keeps channel 0 (the pipelines are mono)."""
    with wave.open(io.BytesIO(data), "rb") as wf:
        n = wf.getnframes()
        width = wf.getsampwidth()
        rate = wf.getframerate()
        channels = wf.getnchannels()
        frames = wf.readframes(n)
    if width == 1:
        samples = np.frombuffer(frames, dtype=np.uint8)
    elif width == 2:
        samples = np.frombuffer(frames, dtype="<i2")
    else:
        raise NotImplementedError(f"WAV sample width {width} (only 1/2 bytes)")
    if channels > 1:
        samples = samples[::channels]
    return samples, rate


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """uint8 (8-bit PCM) or int16 (16-bit PCM) mono samples → WAV bytes."""
    a = np.asarray(samples)
    if a.dtype == np.uint8:
        width, payload = 1, a.tobytes()
    elif a.dtype == np.int16:
        width, payload = 2, a.astype("<i2").tobytes()
    else:
        raise ValueError(f"cannot WAV-encode dtype {a.dtype} (uint8/int16)")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(width)
        wf.setframerate(sample_rate)
        wf.writeframes(payload)
    return buf.getvalue()


# ---------------------------------------------------------------------------
# JPEG — baseline sequential DCT, grayscale (ITU-T T.81)
# ---------------------------------------------------------------------------
# Annex K.1 default luminance quantization table (natural raster order)
# and K.3 default luminance Huffman tables — the public spec constants
# every baseline encoder ships.
_JPEG_STD_LUMA_Q = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)

# Annex K.1 Table K.2 default CHROMINANCE quantization table (natural
# raster order) — the public spec constant for Cb/Cr planes
_JPEG_STD_CHROMA_Q = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
# K.3 default chrominance Huffman tables (public spec constants)
_JPEG_DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_JPEG_DC_VALS_C = list(range(12))
_JPEG_AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_JPEG_AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# zigzag scan order: entry i is the natural-raster index of the i-th
# zigzag position (T.81 figure 5)
_JPEG_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

_JPEG_N = np.arange(8)
# orthonormal type-II DCT matrix: coef = D @ block @ D.T, pixels = D.T @ coef @ D
_JPEG_DCT = np.cos((2 * _JPEG_N[None, :] + 1) * _JPEG_N[:, None] * np.pi / 16) * 0.5
_JPEG_DCT[0, :] *= 1 / np.sqrt(2)


def _jpeg_canonical_codes(bits, vals):
    """(BITS, HUFFVAL) -> {symbol: (code, length)} (T.81 C.2)."""
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _jpeg_quality_scale(
    quality: int, table: np.ndarray | None = None
) -> np.ndarray:
    """IJG quality scaling of an Annex K table (libjpeg jcparam.c
    formula — public): 50 = table as-is, 100 -> all 1s."""
    if table is None:
        table = _JPEG_STD_LUMA_Q
    quality = min(100, max(1, quality))
    s = 5000 // quality if quality < 50 else 200 - quality * 2
    return np.clip((table * s + 50) // 100, 1, 255)


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing (F.1.2.3)

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # 1-fill padding


def _jpeg_category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _jpeg_magnitude(v: int, cat: int) -> int:
    return v if v >= 0 else v + (1 << cat) - 1


def _jpeg_write_block(bw, bz, dc_codes, ac_codes, prev_dc: int) -> int:
    """Entropy-code ONE zigzag-ordered quantized block (T.81 F.1.2);
    returns the new DC predictor. Shared by the grayscale and the
    interleaved color encoders."""
    diff = int(bz[0]) - prev_dc
    prev_dc = int(bz[0])
    cat = _jpeg_category(diff)
    code, ln = dc_codes[cat]
    bw.put(code, ln)
    if cat:
        bw.put(_jpeg_magnitude(diff, cat), cat)
    run = 0
    nz = np.nonzero(bz[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for i in range(1, last + 1):
        v = int(bz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            bw.put(code, ln)
            run -= 16
        cat = _jpeg_category(v)
        code, ln = ac_codes[(run << 4) | cat]
        bw.put(code, ln)
        bw.put(_jpeg_magnitude(v, cat), cat)
        run = 0
    if last < 63:
        code, ln = ac_codes[0x00]  # EOB
        bw.put(code, ln)
    return prev_dc


def encode_jpeg_gray(
    img: np.ndarray, quality: int = 85, restart_interval: int = 0,
) -> bytes:
    """(h, w) uint8 -> baseline-sequential grayscale JPEG bytes.

    Blocks are edge-padded to 8x8 multiples; the DCT runs as one
    vectorized einsum over all blocks, only the entropy coding is a
    per-block python loop (bounded: media_table caps jpeg payloads at
    thumbnail size; a real cluster swaps in libjpeg at the same call
    site). ``restart_interval`` > 0 emits a DRI segment and a
    byte-aligned RSTn marker (DC predictor reset) every that many
    blocks — the single-component MCU is one block (A.2.1)."""
    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape
    q = _jpeg_quality_scale(quality).reshape(8, 8)
    dc_codes = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    pix = np.pad(
        img, ((0, -h % 8), (0, -w % 8)), mode="edge"
    ).astype(np.float64) - 128.0
    H, W = pix.shape
    blocks = pix.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3)
    coef = np.einsum("ij,bcjk,lk->bcil", _JPEG_DCT, blocks, _JPEG_DCT)
    zz = np.round(coef / q).astype(np.int64).reshape(-1, 64)[:, _JPEG_ZIGZAG]

    bw = _JpegBitWriter()
    prev_dc = 0
    for n, bz in enumerate(zz):
        if restart_interval and n and n % restart_interval == 0:
            bw.flush()  # 1-pad to the byte boundary (F.1.2.3)
            bw.out += bytes(
                [0xFF, 0xD0 + (n // restart_interval - 1) % 8]
            )
            prev_dc = 0
        prev_dc = _jpeg_write_block(bw, bz, dc_codes, ac_codes, prev_dc)
    bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(
        0xFFDB, bytes([0]) + bytes(q.reshape(-1)[_JPEG_ZIGZAG].astype(np.uint8))
    )
    out += seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    out += seg(
        0xFFC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    )
    out += seg(
        0xFFC4, bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    )
    out += seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _JpegBitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise EOFError("entropy stream exhausted")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos] if self.pos < len(self.data) else None
            if nxt == 0x00:
                self.pos += 1  # unstuff
            else:
                raise EOFError("marker inside entropy stream")
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if not self.nbits:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart(self, n: int) -> None:
        """Byte-align and consume the expected RSTn marker (T.81
        F.2.1.3.1: discard the current byte's pad bits, then FF D0+n)."""
        self.acc = 0
        self.nbits = 0
        if self.pos + 1 >= len(self.data):
            raise EOFError("truncated at restart marker")
        if self.data[self.pos] != 0xFF or self.data[self.pos + 1] != 0xD0 + n:
            raise ValueError(
                f"expected RST{n} at byte {self.pos}, got "
                f"{self.data[self.pos]:02x}{self.data[self.pos + 1]:02x}"
            )
        self.pos += 2


def _jpeg_decode_table(bits, vals):
    """(BITS, HUFFVAL) -> {(code, length): symbol}."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(code, length)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _jpeg_read_symbol(br: _JpegBitReader, table: dict) -> int:
    code, length = 0, 0
    while length <= 16:
        code = (code << 1) | br.bit()
        length += 1
        sym = table.get((code, length))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _jpeg_extend(v: int, cat: int) -> int:
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def decode_jpeg_gray(data: bytes) -> np.ndarray:
    """baseline-sequential grayscale JPEG bytes -> (h, w) uint8.

    A general baseline parser (any 8-bit single-component baseline
    stream with its own DQT/DHT, not just our encoder's output — APPn/
    COM segments are skipped, quant/huffman tables are read from the
    stream). SOF2/arithmetic/hierarchical markers, restart intervals,
    16-bit quant tables, subsampling and multi-component scans raise
    NotImplementedError — the documented libjpeg boundary. A stream that
    ends inside a marker raises ValueError("truncated marker segment")."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    h = w = None
    comp_q = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1  # optional fill bytes before any marker (B.1.1.2)
        if pos + 1 >= len(data):
            raise ValueError("truncated marker segment")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone TEM/RSTn
        if pos + 2 > len(data):
            raise ValueError("truncated marker segment")
        (ln,) = struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2:pos + ln]
        pos += ln
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_JPEG_ZIGZAG] = np.frombuffer(
                    body[i + 1:i + 65], dtype=np.uint8
                )
                qt[tq] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1:i + 17])
                n = sum(bits)
                huff[(tc, th)] = _jpeg_decode_table(
                    bits, list(body[i + 17:i + 17 + n])
                )
                i += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0/1: baseline/extended seq.
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            if nc != 1:
                raise NotImplementedError(
                    "only single-component (grayscale) JPEG"
                )
            if body[7] != 0x11:
                raise NotImplementedError("subsampling unsupported")
            comp_q = body[8]
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "progressive/arithmetic/hierarchical JPEG unsupported "
                "(baseline sequential only)"
            )
        elif marker == 0xDD:
            raise NotImplementedError("restart intervals unsupported")
        elif marker == 0xDA:  # SOS — entropy data follows to EOI
            if body[0] != 1:
                raise NotImplementedError("interleaved multi-component scan")
            dc_tab = huff[(0, body[2] >> 4)]
            ac_tab = huff[(1, body[2] & 0xF)]
            return _jpeg_decode_scan(data[pos:], h, w, qt[comp_q],
                                     dc_tab, ac_tab)
        # else: APPn / COM — skipped
    raise ValueError("no SOS marker found")


def _jpeg_decode_scan(scan, h, w, q, dc_tab, ac_tab):
    bh, bw_ = (h + 7) // 8, (w + 7) // 8
    br = _JpegBitReader(scan)
    out = np.zeros((bh * 8, bw_ * 8), dtype=np.float64)
    prev_dc = 0
    for by in range(bh):
        for bx in range(bw_):
            zz = np.zeros(64, dtype=np.int64)
            cat = _jpeg_read_symbol(br, dc_tab)
            prev_dc += _jpeg_extend(br.bits(cat), cat) if cat else 0
            zz[0] = prev_dc
            k = 1
            while k < 64:
                rs = _jpeg_read_symbol(br, ac_tab)
                r, s = rs >> 4, rs & 0xF
                if s == 0:
                    if r == 15:
                        k += 16  # ZRL
                        continue
                    break  # EOB
                k += r
                if k > 63:
                    raise ValueError("AC run overflows block")
                zz[k] = _jpeg_extend(br.bits(s), s)
                k += 1
            block = np.zeros(64, dtype=np.int64)
            block[_JPEG_ZIGZAG] = zz
            pix = _JPEG_DCT.T @ (block.reshape(8, 8) * q) @ _JPEG_DCT
            out[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = pix
    return np.clip(np.round(out + 128.0), 0, 255).astype(np.uint8)[:h, :w]


# ---------------------------------------------------------------------------
# JPEG — baseline sequential DCT, color (YCbCr, 4:4:4 / 4:2:0 interleaved)
# ---------------------------------------------------------------------------
def _rgb_to_ycbcr(rgb: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(h, w, 3) uint8 RGB -> three float64 planes (JFIF/BT.601
    full-range transform, the fixed matrix every JFIF codec uses)."""
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return y, cb, cr


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    """Inverse JFIF transform -> (h, w, 3) uint8 (clipped)."""
    cb = cb - 128.0
    cr = cr - 128.0
    out = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136286 * cb - 0.714136286 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def _jpeg_zz_blocks(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(H, W) float plane (level-shifted, dims multiples of 8) ->
    (H//8, W//8, 64) zigzag-ordered quantized coefficients — the same
    vectorized einsum DCT as the grayscale path, kept addressable by
    block position for MCU interleaving."""
    H, W = plane.shape
    blocks = plane.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3)
    coef = np.einsum("ij,bcjk,lk->bcil", _JPEG_DCT, blocks, _JPEG_DCT)
    return np.round(coef / q).astype(np.int64).reshape(
        H // 8, W // 8, 64
    )[..., _JPEG_ZIGZAG]


def _jpeg_color_planes(img: np.ndarray, quality: int, subsampling: str):
    """Shared color-encode preamble: validate subsampling, edge-pad to
    full MCU multiples, RGB -> YCbCr, box-average chroma by the Y
    factors, quantize each plane to zigzag blocks. ONE implementation
    for the baseline and progressive encoders — their exact decode
    parity (a pinned test) depends on identical coefficients, so the
    preamble must not be able to drift between them. Returns
    (h, w, sh, sv, ql, qc, zzy, zzb, zzr)."""
    factors = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}
    if subsampling not in factors:
        raise NotImplementedError(
            f"subsampling {subsampling!r} (420/422/444)"
        )
    h, w = img.shape[:2]
    sh, sv = factors[subsampling]  # Y sampling factors (h, v)
    ql = _jpeg_quality_scale(quality).reshape(8, 8)
    qc = _jpeg_quality_scale(quality, _JPEG_STD_CHROMA_Q).reshape(8, 8)
    y, cb, cr = _rgb_to_ycbcr(
        np.pad(
            img, ((0, -h % (8 * sv)), (0, -w % (8 * sh)), (0, 0)),
            mode="edge",
        )
    )
    H, W = y.shape
    if sh > 1 or sv > 1:  # box-average chroma down by the Y factors
        cb = cb.reshape(H // sv, sv, W // sh, sh).mean(axis=(1, 3))
        cr = cr.reshape(H // sv, sv, W // sh, sh).mean(axis=(1, 3))
    return (
        h, w, sh, sv, ql, qc,
        _jpeg_zz_blocks(y - 128.0, ql),
        _jpeg_zz_blocks(cb - 128.0, qc),
        _jpeg_zz_blocks(cr - 128.0, qc),
    )


def encode_jpeg(
    img: np.ndarray, quality: int = 85, subsampling: str = "420",
    restart_interval: int = 0,
) -> bytes:
    """uint8 image -> baseline-sequential JPEG bytes.

    (h, w) arrays delegate to the grayscale encoder; (h, w, 3) RGB
    arrays emit the dominant real-corpus variant: JFIF YCbCr with
    Annex K luma+chroma quant tables, K.3 luma+chroma Huffman tables,
    and ONE interleaved scan. ``subsampling`` is "420" (2x2 box-averaged
    chroma, MCU = 4 Y + Cb + Cr blocks), "422" (horizontal-only
    averaging, MCU = 2 Y + Cb + Cr) or "444" (full-resolution chroma,
    MCU = Y + Cb + Cr). ``restart_interval`` > 0 emits a DRI
    segment and an RSTn marker (DC predictors reset) every that many
    MCUs — the error-resilience layout real camera files use."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        return encode_jpeg_gray(img, quality, restart_interval)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("expected (h, w) gray or (h, w, 3) RGB")
    h, w, sh, sv, ql, qc, zzy, zzb, zzr = _jpeg_color_planes(
        img, quality, subsampling
    )

    dc_l = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_l = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    dc_c = _jpeg_canonical_codes(_JPEG_DC_BITS_C, _JPEG_DC_VALS_C)
    ac_c = _jpeg_canonical_codes(_JPEG_AC_BITS_C, _JPEG_AC_VALS_C)

    bw = _JpegBitWriter()
    prev = [0, 0, 0]  # per-component DC predictors
    n_mcu = 0
    for my in range(zzb.shape[0]):
        for mx in range(zzb.shape[1]):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                bw.flush()  # 1-pad to the byte boundary (F.1.2.3)
                bw.out += bytes(
                    [0xFF, 0xD0 + (n_mcu // restart_interval - 1) % 8]
                )
                prev = [0, 0, 0]
            n_mcu += 1
            for v in range(sv):  # Y blocks, left-to-right, top-to-bottom
                for hh in range(sh):
                    prev[0] = _jpeg_write_block(
                        bw, zzy[my * sv + v, mx * sh + hh],
                        dc_l, ac_l, prev[0],
                    )
            prev[1] = _jpeg_write_block(bw, zzb[my, mx], dc_c, ac_c, prev[1])
            prev[2] = _jpeg_write_block(bw, zzr[my, mx], dc_c, ac_c, prev[2])
    bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    samp_y = (sh << 4) | sv  # 0x22 = 4:2:0, 0x21 = 4:2:2, 0x11 = 4:4:4
    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(
        0xFFDB,
        bytes([0]) + bytes(ql.reshape(-1)[_JPEG_ZIGZAG].astype(np.uint8))
        + bytes([1]) + bytes(qc.reshape(-1)[_JPEG_ZIGZAG].astype(np.uint8)),
    )
    out += seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, samp_y, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    out += seg(
        0xFFC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
        + bytes([0x01]) + bytes(_JPEG_DC_BITS_C) + bytes(_JPEG_DC_VALS_C)
        + bytes([0x11]) + bytes(_JPEG_AC_BITS_C) + bytes(_JPEG_AC_VALS_C),
    )
    out += seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _jpeg_build_huffman(freq) -> tuple[list[int], list[int]]:
    """Optimal length-limited Huffman table from symbol frequencies
    (T.81 K.2, the exact three-procedure spec algorithm): returns
    (BITS[16], HUFFVAL) ready for a DHT segment. The reserved
    pseudo-symbol 256 gets a nonzero count so no real symbol is assigned
    the all-ones code (its prefix would be indistinguishable from the
    1-bit flush padding)."""
    freq = list(freq) + [1]  # symbol 256 reserved
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        # v1 = least-frequency symbol (ties -> LARGEST value), v2 = next
        live = [i for i in range(257) if freq[i] > 0]
        if len(live) < 2:
            break
        live.sort(key=lambda i: (freq[i], -i))
        v1, v2 = live[0], live[1]
        freq[v1] += freq[v2]
        freq[v2] = 0
        codesize[v1] += 1
        while others[v1] != -1:
            v1 = others[v1]
            codesize[v1] += 1
        others[v1] = v2
        codesize[v2] += 1
        while others[v2] != -1:
            v2 = others[v2]
            codesize[v2] += 1
    bits = [0] * 33
    for s in range(257):
        if codesize[s]:
            bits[codesize[s]] += 1
    i = 32  # K.2 adjust_bits: fold code lengths > 16 back under the limit
    while i > 16:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    i = 16  # drop the reserved symbol's codepoint (largest length in use)
    while i > 0 and bits[i] == 0:
        i -= 1
    if i:
        bits[i] -= 1
    huffval = [
        s for s in sorted(range(256), key=lambda s: (codesize[s], s))
        if codesize[s] > 0
    ]
    return bits[1:17], huffval


class _JpegScanStats:
    """Pass-1 emitter: count Huffman symbols per table slot, drop bits."""

    def __init__(self):
        self.freq: dict[tuple[int, int], list[int]] = {}

    def symbol(self, slot, sym) -> None:
        self.freq.setdefault(slot, [0] * 256)[sym] += 1

    def bits(self, v, n) -> None:
        pass


class _JpegScanWriter:
    """Pass-2 emitter: real entropy output through the shared bit writer."""

    def __init__(self, bw, codes):
        self.bw, self.codes = bw, codes

    def symbol(self, slot, sym) -> None:
        code, ln = self.codes[slot][sym]
        self.bw.put(code, ln)

    def bits(self, v, n) -> None:
        if n:
            self.bw.put(v, n)


class _ProgACState:
    """Cross-block AC-scan state (G.1.2.2-3): the pending end-of-band run
    and TWO correction-bit buffers with different flush points, exactly
    the BE/BR split the decoder's read order demands — ``bebuf`` holds
    bits belonging to blocks folded into the pending EOB run (the decoder
    reads them right after the EOBn symbol's extra bits), ``brbuf`` holds
    bits for already-nonzero coefficients passed in the CURRENT block
    since the last emitted symbol (the decoder reads them while advancing
    after that symbol's sign bit)."""

    def __init__(self, emit, slot):
        self.emit, self.slot = emit, slot
        self.eobrun = 0
        self.bebuf: list[int] = []  # bits tied to the pending EOB run
        self.brbuf: list[int] = []  # current-block bits since last symbol

    def emit_brbuf(self) -> None:
        for b in self.brbuf:
            self.emit.bits(b, 1)
        self.brbuf = []

    def flush_eob(self) -> None:
        if self.eobrun > 0:
            n = self.eobrun.bit_length() - 1
            self.emit.symbol(self.slot, n << 4)
            if n:
                self.emit.bits(self.eobrun - (1 << n), n)
            self.eobrun = 0
            for b in self.bebuf:
                self.emit.bits(b, 1)
            self.bebuf = []

    def end_block(self) -> None:
        """Fold the rest of the current block into the EOB run; its
        pending correction bits move to the run's buffer."""
        self.eobrun += 1
        self.bebuf += self.brbuf
        self.brbuf = []
        if self.eobrun == 0x7FFF:  # EOB14 ceiling (G.1.2.2)
            self.flush_eob()


def _prog_ac_first_block(st: _ProgACState, zz, ss, se, al) -> None:
    """One block of an AC FIRST scan (Ah=0): run/size code the
    point-transformed (sign-magnitude >> Al) band with EOB-run
    aggregation across blocks."""
    band = []
    for k in range(ss, se + 1):
        v = int(zz[k])
        t = abs(v) >> al
        band.append(-t if v < 0 else t)
    last = -1
    for i, t in enumerate(band):
        if t:
            last = i
    if last < 0:
        st.end_block()
        return
    st.flush_eob()
    emit, slot = st.emit, st.slot
    r = 0
    for i in range(last + 1):
        t = band[i]
        if t == 0:
            r += 1
            continue
        while r > 15:
            emit.symbol(slot, 0xF0)  # ZRL
            r -= 16
        cat = _jpeg_category(t)
        emit.symbol(slot, (r << 4) | cat)
        emit.bits(_jpeg_magnitude(t, cat), cat)
        r = 0
    if last < se - ss:
        st.end_block()


def _prog_ac_refine_block(st: _ProgACState, zz, ss, se, al) -> None:
    """One block of an AC REFINEMENT scan — the G.1.2.3 correction-bit
    algorithm: newly-significant coefficients are coded as run/1 with a
    sign bit, already-nonzero coefficients contribute one buffered
    correction bit each, and fully-refined tails fold into the EOB
    run."""
    emit, slot = st.emit, st.slot
    absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
    eob = ss - 1  # last newly-significant position; ZRLs beyond it fold
    for i, t in enumerate(absv):
        if t == 1:
            eob = ss + i
    r = 0
    for k in range(ss, se + 1):
        t = absv[k - ss]
        if t == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            st.flush_eob()
            emit.symbol(slot, 0xF0)
            r -= 16
            st.emit_brbuf()
        if t > 1:  # history coefficient: one correction bit, buffered
            st.brbuf.append(t & 1)
            continue
        st.flush_eob()
        emit.symbol(slot, (r << 4) | 1)
        emit.bits(0 if int(zz[k]) < 0 else 1, 1)
        r = 0
        st.emit_brbuf()
    if r > 0 or st.brbuf:
        st.end_block()


def _jpeg_prog_scan_script(comp_ids: list[int]) -> list[tuple]:
    """Default scan script: (component ids, Ss, Se, Ah, Al) per scan.
    Exercises every progressive scan kind — interleaved DC first +
    refinement, split spectral bands, and two successive-approximation
    levels on the AC coefficients."""
    if len(comp_ids) == 1:
        c = comp_ids
        return [
            (c, 0, 0, 0, 1),
            (c, 1, 5, 0, 2), (c, 6, 63, 0, 2),
            (c, 1, 5, 2, 1), (c, 6, 63, 2, 1),
            (c, 0, 0, 1, 0),
            (c, 1, 5, 1, 0), (c, 6, 63, 1, 0),
        ]
    dc = (comp_ids, 0, 0, 0, 1)
    firsts = [([c], 1, 63, 0, 1) for c in comp_ids]
    refines = [([c], 1, 63, 1, 0) for c in comp_ids]
    return [dc] + firsts + [(comp_ids, 0, 0, 1, 0)] + refines


def encode_jpeg_progressive(
    img: np.ndarray, quality: int = 85, subsampling: str = "420",
) -> bytes:
    """uint8 image -> progressive (SOF2) JPEG bytes — the dominant web
    delivery variant. Same DCT/quantization as the baseline encoder (a
    progressive file holds the SAME coefficients, spread across scans),
    so `decode_jpeg(encode_jpeg_progressive(x))` must equal
    `decode_jpeg(encode_jpeg(x))` exactly — the cross-check the tests
    pin. Huffman tables are per-scan optimal (K.2 two-pass: count
    symbols, build the table, emit DHT right before each SOS — EOBn
    symbols are not in the K.3 baseline tables, so progressive REQUIRES
    custom tables)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        h, w = img.shape
        ql = _jpeg_quality_scale(quality).reshape(8, 8)
        pix = np.pad(
            img, ((0, -h % 8), (0, -w % 8)), mode="edge"
        ).astype(np.float64)
        zz = {1: _jpeg_zz_blocks(pix - 128.0, ql)}
        meta = [(1, 1, 1, 0)]
        qtabs = {0: ql}
    else:
        if img.ndim != 3 or img.shape[2] != 3:
            raise ValueError("expected (h, w) gray or (h, w, 3) RGB")
        h, w, sh, sv, ql, qc, zzy, zzb, zzr = _jpeg_color_planes(
            img, quality, subsampling
        )
        zz = {1: zzy, 2: zzb, 3: zzr}
        meta = [(1, sh, sv, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        qtabs = {0: ql, 1: qc}

    comp_ids = [cid for cid, _, _, _ in meta]
    slot_of = {cid: (0 if cid == 1 else 1) for cid in comp_ids}

    def run_scan(emit, sc_ids, ss, se, ah, al):
        units = _jpeg_scan_blocks(meta, sc_ids, h, w)
        prev = {cid: 0 for cid in sc_ids}
        states = {
            cid: _ProgACState(emit, (1, slot_of[cid])) for cid in sc_ids
        }
        for unit in units:
            for cid, by, bx in unit:
                blk = zz[cid][by, bx]
                if ss == 0 and ah == 0:
                    v = int(blk[0]) >> al  # DC point transform: arithmetic
                    diff = v - prev[cid]
                    prev[cid] = v
                    cat = _jpeg_category(diff)
                    emit.symbol((0, slot_of[cid]), cat)
                    emit.bits(_jpeg_magnitude(diff, cat), cat)
                elif ss == 0:
                    emit.bits((int(blk[0]) >> al) & 1, 1)
                elif ah == 0:
                    _prog_ac_first_block(states[cid], blk, ss, se, al)
                else:
                    _prog_ac_refine_block(states[cid], blk, ss, se, al)
        for st in states.values():
            st.flush_eob()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    dqt = b""
    for tq in sorted(qtabs):
        dqt += bytes([tq]) + bytes(
            qtabs[tq].reshape(-1)[_JPEG_ZIGZAG].astype(np.uint8)
        )
    out += seg(0xFFDB, dqt)
    sof = struct.pack(">BHHB", 8, h, w, len(meta))
    for cid, hi, vi, tq in meta:
        sof += bytes([cid, (hi << 4) | vi, tq])
    out += seg(0xFFC2, sof)  # SOF2 = progressive DCT, Huffman

    for sc_ids, ss, se, ah, al in _jpeg_prog_scan_script(comp_ids):
        stats = _JpegScanStats()
        run_scan(stats, sc_ids, ss, se, ah, al)
        codes = {}
        dht = b""
        for slot in sorted(stats.freq):
            bits, vals = _jpeg_build_huffman(stats.freq[slot])
            codes[slot] = _jpeg_canonical_codes(bits, vals)
            cls, tid = slot
            dht += bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
        if dht:
            out += seg(0xFFC4, dht)
        bw = _JpegBitWriter()
        run_scan(_JpegScanWriter(bw, codes), sc_ids, ss, se, ah, al)
        bw.flush()
        sos = bytes([len(sc_ids)])
        for cid in sc_ids:
            tid = slot_of[cid]
            sos += bytes([cid, (tid << 4) | tid])
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg(0xFFDA, sos)
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline-sequential JPEG bytes -> (h, w) gray or (h, w, 3) RGB.

    The GENERAL baseline decoder (T.81 baseline + JFIF color): 1- or
    3-component streams, per-component quant/Huffman table selection,
    sampling factors 1-2 per axis (4:4:4, 4:2:2, 4:2:0), one interleaved
    scan or a single-component scan; APPn/COM skipped, tables read from
    the stream. Chroma upsampling is JFIF sample replication; 3-component
    output converts YCbCr -> RGB (BT.601 full-range). DRI restart
    intervals are honored (byte-aligned RSTn + DC reset — the
    error-resilience feature camera encoders emit).
    Progressive/arithmetic/hierarchical coding, 16-bit quant tables and
    sampling factors > 2 raise NotImplementedError — the documented
    libjpeg boundary (``decode_jpeg_gray`` remains the strict
    single-component parser). A stream that ends inside a marker raises
    ValueError("truncated marker segment")."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    h = w = None
    ri = 0  # restart interval in MCUs (0 = none)
    comps: list[tuple[int, int, int, int]] = []  # (cid, hi, vi, tq)
    progressive = False
    coefs: dict[int, np.ndarray] | None = None  # progressive accumulator
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1  # optional fill bytes before any marker (B.1.1.2)
        if pos + 1 >= len(data):
            raise ValueError("truncated marker segment")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone TEM/RSTn
        if pos + 2 > len(data):
            raise ValueError("truncated marker segment")
        (ln,) = struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2:pos + ln]
        pos += ln
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_JPEG_ZIGZAG] = np.frombuffer(
                    body[i + 1:i + 65], dtype=np.uint8
                )
                qt[tq] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1:i + 17])
                n = sum(bits)
                huff[(tc, th)] = _jpeg_decode_table(
                    bits, list(body[i + 17:i + 17 + n])
                )
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            if nc not in (1, 3):
                raise NotImplementedError(f"{nc}-component JPEG (1 or 3)")
            comps = []
            for c in range(nc):
                cid, samp, tq = body[6 + 3 * c:9 + 3 * c]
                hi, vi = samp >> 4, samp & 0xF
                if not (1 <= hi <= 2 and 1 <= vi <= 2):
                    raise NotImplementedError(
                        f"sampling factors {hi}x{vi} (1-2 only)"
                    )
                comps.append((cid, hi, vi, tq))
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "arithmetic/hierarchical/lossless JPEG unsupported "
                "(baseline sequential + progressive DCT only)"
            )
        elif marker == 0xDD:  # DRI — restart every Ri MCUs
            (ri,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            ns = body[0]
            if not progressive:
                scan_tabs = {}
                for c in range(ns):
                    cs, tdta = body[1 + 2 * c], body[2 + 2 * c]
                    scan_tabs[cs] = (
                        huff[(0, tdta >> 4)], huff[(1, tdta & 0xF)]
                    )
                if ns != len(comps):
                    raise NotImplementedError(
                        "multi-scan (non-interleaved color) baseline JPEG"
                    )
                return _jpeg_decode_mcus(
                    data[pos:], h, w, comps, qt, scan_tabs, ri
                )
            # progressive: accumulate this scan's coefficient bits, keep
            # walking the marker stream (many scans per frame)
            sc = [(body[1 + 2 * c], body[2 + 2 * c]) for c in range(ns)]
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0xF
            if coefs is None:
                hmax = max(hi for _, hi, _, _ in comps)
                vmax = max(vi for _, _, vi, _ in comps)
                mcx = (w + 8 * hmax - 1) // (8 * hmax)
                mcy = (h + 8 * vmax - 1) // (8 * vmax)
                coefs = {
                    cid: np.zeros((mcy * vi, mcx * hi, 64), dtype=np.int64)
                    for cid, hi, vi, _ in comps
                }
            pos += _jpeg_decode_scan_prog(
                data[pos:], h, w, comps, coefs, huff, sc, ss, se, ah, al, ri
            )
        # else: APPn / COM — skipped
    if progressive and coefs is not None:
        return _jpeg_reconstruct(coefs, comps, qt, h, w)
    raise ValueError("no SOS marker found")


def _jpeg_decode_mcus(scan, h, w, comps, qt, scan_tabs,
                      ri: int = 0) -> np.ndarray:
    """Entropy-decode one interleaved (or single-component) scan, then
    batch-IDCT per component, upsample, and color-convert. The per-MCU
    loop is entropy decoding only — all DCT math is one einsum per
    component, same as the encoder. ``ri`` > 0 = DRI restart interval:
    every ``ri`` MCUs the entropy stream byte-aligns on an RSTn marker
    (n cycling 0-7) and every DC predictor resets (T.81 F.2.1.3.1) —
    what camera encoders emit for error resilience."""
    hmax = max(hi for _, hi, _, _ in comps)
    vmax = max(vi for _, _, vi, _ in comps)
    mcx = (w + 8 * hmax - 1) // (8 * hmax)
    mcy = (h + 8 * vmax - 1) // (8 * vmax)
    coefs = {
        cid: np.zeros((mcy * vi, mcx * hi, 64), dtype=np.int64)
        for cid, hi, vi, _ in comps
    }
    br = _JpegBitReader(scan)
    prev = {cid: 0 for cid, _, _, _ in comps}

    def read_block(cid, dc_tab, ac_tab):
        zz = np.zeros(64, dtype=np.int64)
        cat = _jpeg_read_symbol(br, dc_tab)
        prev[cid] += _jpeg_extend(br.bits(cat), cat) if cat else 0
        zz[0] = prev[cid]
        k = 1
        while k < 64:
            rs = _jpeg_read_symbol(br, ac_tab)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r == 15:
                    k += 16  # ZRL
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise ValueError("AC run overflows block")
            zz[k] = _jpeg_extend(br.bits(s), s)
            k += 1
        return zz

    n_mcu = 0
    for my in range(mcy):
        for mx in range(mcx):
            if ri and n_mcu and n_mcu % ri == 0:
                br.restart((n_mcu // ri - 1) % 8)
                for cid in prev:
                    prev[cid] = 0
            n_mcu += 1
            for cid, hi, vi, _ in comps:
                dc_tab, ac_tab = scan_tabs[cid]
                for v in range(vi):
                    for hh in range(hi):
                        coefs[cid][my * vi + v, mx * hi + hh] = read_block(
                            cid, dc_tab, ac_tab
                        )

    return _jpeg_reconstruct(coefs, comps, qt, h, w)


def _jpeg_scan_blocks(comps, sc_ids, h, w):
    """Block visit order for one scan (T.81 A.2): a list of
    (cid, by, bx) per MCU-or-block unit, plus the unit count.

    Interleaved scans (>1 component — progressive DC bands) follow MCU
    geometry over the PADDED block grid, dummy blocks included. A
    single-component scan is non-interleaved: raster order over the
    component's OWN dimensions ceil(ceil(w*hi/hmax)/8) x
    ceil(ceil(h*vi/vmax)/8) — the MCU padding columns/rows are never
    coded (A.2.2)."""
    hmax = max(hi for _, hi, _, _ in comps)
    vmax = max(vi for _, _, vi, _ in comps)
    mcx = (w + 8 * hmax - 1) // (8 * hmax)
    mcy = (h + 8 * vmax - 1) // (8 * vmax)
    byid = {cid: (hi, vi) for cid, hi, vi, _ in comps}
    units = []
    if len(sc_ids) > 1:
        for my in range(mcy):
            for mx in range(mcx):
                unit = []
                for cid in sc_ids:
                    hi, vi = byid[cid]
                    for v in range(vi):
                        for hh in range(hi):
                            unit.append((cid, my * vi + v, mx * hi + hh))
                units.append(unit)
    else:
        cid = sc_ids[0]
        hi, vi = byid[cid]
        cbw = ((w * hi + hmax - 1) // hmax + 7) // 8
        cbh = ((h * vi + vmax - 1) // vmax + 7) // 8
        for by in range(cbh):
            for bx in range(cbw):
                units.append([(cid, by, bx)])
    return units


def _jpeg_decode_scan_prog(
    scan, h, w, comps, coefs, huff, sc, ss, se, ah, al, ri
) -> int:
    """Entropy-decode ONE progressive scan (T.81 G.2) into the shared
    per-component zigzag coefficient accumulators; returns the number of
    entropy bytes consumed so the caller can resume marker parsing.

    Four scan kinds: DC first (Ah=0, Ss=0 — Huffman DIFF of the
    point-transformed DC, interleaved), DC refinement (one raw bit per
    block, OR-ed at bit Al), AC first (Ah=0, Ss>=1 — run/size coding
    within the spectral band plus EOBn end-of-band runs), and AC
    refinement (G.1.2.3: correction bits for already-nonzero
    coefficients interleaved with newly-significant +-1 coefficients and
    EOB runs). DRI restart intervals byte-align on RSTn and reset both
    the DC predictors and the EOB run."""
    br = _JpegBitReader(scan)
    sc_ids = [cs for cs, _ in sc]
    tabs = dict(sc)  # cid -> (td << 4) | ta
    units = _jpeg_scan_blocks(comps, sc_ids, h, w)
    prev = {cid: 0 for cid in sc_ids}
    eobrun = 0
    # tables resolved lazily: refinement scans may reference table ids
    # that were never defined (no Huffman symbols are read)
    dc_tab = {cid: huff.get((0, tabs[cid] >> 4)) for cid in sc_ids}
    ac_tab = {cid: huff.get((1, tabs[cid] & 0xF)) for cid in sc_ids}

    def dc_first(cid, zz):
        cat = _jpeg_read_symbol(br, dc_tab[cid])
        prev[cid] += _jpeg_extend(br.bits(cat), cat) if cat else 0
        zz[0] = prev[cid] << al

    def dc_refine(cid, zz):
        if br.bit():
            zz[0] = int(zz[0]) | (1 << al)

    def ac_first(cid, zz):
        nonlocal eobrun
        if eobrun:
            eobrun -= 1
            return
        k = ss
        while k <= se:
            rs = _jpeg_read_symbol(br, ac_tab[cid])
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r < 15:  # EOBn: run of (1 << r) + extra bands
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += br.bits(r)
                    break
                k += 16  # ZRL
                continue
            k += r
            if k > se:
                raise ValueError("AC run overflows spectral band")
            zz[k] = _jpeg_extend(br.bits(s), s) << al
            k += 1

    p1, m1 = 1 << al, -(1 << al)

    def refine_nonzero(zz, k):
        """Correction bit for a history-nonzero coefficient (G.1.2.3)."""
        c = int(zz[k])
        if br.bit() and not (c & p1):
            zz[k] = c + (p1 if c >= 0 else m1)

    def ac_refine(cid, zz):
        nonlocal eobrun
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = _jpeg_read_symbol(br, ac_tab[cid])
                r, s = rs >> 4, rs & 0xF
                val = 0
                if s == 0:
                    if r < 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += br.bits(r)
                        break
                    # ZRL: skip 16 zero-history positions
                else:
                    if s != 1:
                        raise ValueError("AC refinement size != 1")
                    val = p1 if br.bit() else m1
                while k <= se:
                    if int(zz[k]) != 0:
                        refine_nonzero(zz, k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    zz[k] = val
                k += 1
        if eobrun > 0:
            while k <= se:
                if int(zz[k]) != 0:
                    refine_nonzero(zz, k)
                k += 1
            eobrun -= 1

    if ss == 0:
        step = dc_first if ah == 0 else dc_refine
    else:
        if len(sc_ids) != 1:
            raise ValueError("progressive AC scan must be non-interleaved")
        step = ac_first if ah == 0 else ac_refine

    for n, unit in enumerate(units):
        if ri and n and n % ri == 0:
            br.restart((n // ri - 1) % 8)
            for cid in prev:
                prev[cid] = 0
            eobrun = 0
        for cid, by, bx in unit:
            step(cid, coefs[cid][by, bx])
    return br.pos


def _jpeg_reconstruct(coefs, comps, qt, h, w) -> np.ndarray:
    """Zigzag coefficient arrays -> pixels: dequantize, batch-IDCT per
    component (one einsum), JFIF sample-replication upsample, BT.601
    color conversion. Shared by the baseline (one scan) and progressive
    (coefficients accumulated across scans) decoders — identical
    coefficients therefore reconstruct to identical pixels by
    construction."""
    hmax = max(hi for _, hi, _, _ in comps)
    vmax = max(vi for _, _, vi, _ in comps)
    planes = []
    for cid, hi, vi, tq in comps:
        zz = coefs[cid]
        nat = np.zeros_like(zz)
        nat[..., _JPEG_ZIGZAG] = zz
        blocks = nat.reshape(*zz.shape[:2], 8, 8) * qt[tq]
        pix = np.einsum("ji,byjk,kl->byil", _JPEG_DCT, blocks, _JPEG_DCT)
        by, bx = zz.shape[:2]
        plane = pix.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8) + 128.0
        # crop to the component's own dims, then JFIF sample-replicate up
        ch = (h * vi + vmax - 1) // vmax
        cw = (w * hi + hmax - 1) // hmax
        plane = plane[:ch, :cw]
        if vi != vmax:
            plane = np.repeat(plane, vmax // vi, axis=0)
        if hi != hmax:
            plane = np.repeat(plane, hmax // hi, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    return _ycbcr_to_rgb(*planes)
