"""Pure-stdlib PNG/WAV codecs and the JPEG SOF header reader.

* PNG (ISO/IEC 15948): chunk parse + zlib inflate + scanline unfilter
  (all five filter types), 8-bit depth, color types 0/2/3/4/6,
  non-interlaced.  Encoder emits filter-0 RGB/RGBA/gray.
* WAV (RIFF PCM): stdlib ``wave`` for container parsing, numpy for the
  sample buffer.  8/16/32-bit PCM.
* JPEG: :func:`parse_jpeg_header` walks the marker segments to the SOF
  frame header (ITU-T T.81 §B.2) without touching entropy-coded data.

No engine entry point calls these: the multimodal tier
(``operators/multimodal.py``) only sniffs formats and counts bytes.  The
module and its tests are the rest of ROADMAP item 10, to be deleted in
a follow-up change.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# SOF0..SOF15 frame markers, minus the non-frame markers that share the
# 0xC0 block: DHT (C4), JPG (C8), DAC (CC)  (ITU-T T.81 table B.1)
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def parse_jpeg_header(payload: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from a JPEG's SOF frame header.

    Each non-standalone marker carries a 2-byte big-endian length, so this
    is O(#segments) over header bytes and never reads scan data.  Raises
    ValueError if no SOF marker appears before SOS/EOI/end-of-bytes.
    """
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI marker)")
    i, n = 2, len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:  # desync — tolerate stray bytes between segments
            i += 1
            continue
        marker = payload[i + 1]
        if marker == 0xFF:  # fill byte before a marker
            i += 1
            continue
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            i += 2  # TEM/SOI/RSTn are standalone — no length field
            continue
        if marker in (0xD9, 0xDA):
            break  # EOI or start-of-scan without a frame header
        (seglen,) = struct.unpack(">H", payload[i + 2 : i + 4])
        if marker in _JPEG_SOF:
            if i + 10 > n:
                break
            _prec, height, width, ncomp = struct.unpack(
                ">BHHB", payload[i + 4 : i + 10]
            )
            return width, height, ncomp
        if seglen < 2:
            raise ValueError("corrupt JPEG segment length")
        i += 2 + seglen
    raise ValueError("no SOF marker found in JPEG header")


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → (H, W, C) uint8 array.  8-bit, non-interlaced only."""
    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, idat, plte = 8, [], None
    w = h = ctype = None
    while pos + 8 <= len(payload):
        ln, typ = struct.unpack(">I4s", payload[pos : pos + 8])
        pos += 8
        chunk = payload[pos : pos + ln]
        pos += ln + 4  # skip CRC
        if typ == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            if depth != 8:
                raise ValueError(f"unsupported PNG bit depth {depth}")
            if interlace:
                raise ValueError("interlaced PNG unsupported")
        elif typ == b"PLTE":
            plte = np.frombuffer(chunk, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(chunk)
        elif typ == b"IEND":
            break
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    ch = _CHANNELS[ctype]
    stride = w * ch
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG data length mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)], np.uint8
        ).astype(np.int64)
        if f == 0:
            cur = line
        elif f == 1:  # Sub: per-channel prefix sum mod 256 (vectorized)
            cur = line.reshape(w, ch).cumsum(axis=0).reshape(stride) & 0xFF
        elif f == 2:  # Up (vectorized)
            cur = (line + prev) & 0xFF
        elif f == 3:  # Average — sequential in x
            cur = np.empty(stride, dtype=np.int64)
            for i in range(stride):
                a = cur[i - ch] if i >= ch else 0
                cur[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth — sequential in x
            cur = np.empty(stride, dtype=np.int64)
            for i in range(stride):
                a = cur[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    img = out.reshape(h, w, ch)
    if ctype == 3:  # palette → RGB
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        img = plte[img[:, :, 0]]
    return img


def encode_png(img: np.ndarray) -> bytes:
    """(H, W) or (H, W, C) uint8 array → PNG bytes (filter 0, one IDAT)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    body = img.astype(np.uint8).reshape(h, w * ch)
    raw = b"".join(b"\x00" + body[y].tobytes() for y in range(h))
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → ((n_frames, channels) int array, sample_rate)."""
    with wave.open(io.BytesIO(payload), "rb") as f:
        n, sr, ch, sw = (
            f.getnframes(),
            f.getframerate(),
            f.getnchannels(),
            f.getsampwidth(),
        )
        raw = f.readframes(n)
    if sw == 1:
        arr = np.frombuffer(raw, np.uint8).astype(np.int32) - 128
    elif sw == 2:
        arr = np.frombuffer(raw, "<i2").astype(np.int32)
    elif sw == 4:
        arr = np.frombuffer(raw, "<i4").astype(np.int32)
    else:
        raise ValueError(f"unsupported WAV sample width {sw}")
    return arr.reshape(-1, ch), sr


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """(n_frames, channels) int16 array → WAV bytes (16-bit PCM)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(samples.shape[1])
        f.setsampwidth(2)
        f.setframerate(sample_rate)
        f.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()

