"""Pure-stdlib PNG/WAV codecs, the JPEG SOF header reader and the BMFF
sniff.

The PNG decoder is validated against hand-filtered images for every
filter type (the encoder only emits filter 0, so round-trip alone would
not cover Sub/Up/Average/Paeth).
"""

import struct
import zlib

import numpy as np
import pytest

from packs_spark.operators.codecs import (
    PNG_MAGIC,
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
)


def _ref_image(h=13, w=17, ch=3):
    rng = np.random.default_rng(42)
    return rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)


def _png_with_filter(img: np.ndarray, ftype: int) -> bytes:
    """Assemble a PNG whose every scanline uses the given filter type —
    the forward filter transform applied here is the spec's inverse of
    the decoder's unfilter step."""
    h, w, ch = img.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    body = img.astype(np.int64).reshape(h, w * ch)
    stride = w * ch
    raw = b""
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        cur = body[y]
        filt = np.empty(stride, dtype=np.int64)
        for i in range(stride):
            a = cur[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt[i] = (cur[i] - pred) & 0xFF
        raw += bytes([ftype]) + filt.astype(np.uint8).tobytes()
        prev = cur

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        PNG_MAGIC + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )


def test_png_roundtrip_gray_rgb_rgba():
    for ch in (1, 3, 4):
        img = _ref_image(ch=ch)
        out = decode_png(encode_png(img))
        assert out.shape == img.shape
        assert np.array_equal(out, img)


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_decode_every_filter_type(ftype):
    img = _ref_image()
    assert np.array_equal(decode_png(_png_with_filter(img, ftype)), img)


def test_png_palette():
    plte = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    png = (
        PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte.tobytes())
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(png), plte[idx])


def test_wav_roundtrip():
    t = np.arange(8000)
    sig = (np.sin(2 * np.pi * 440 * t / 8000) * 20000).astype(np.int16)
    stereo = np.stack([sig, -sig], axis=1)
    samples, sr = decode_wav(encode_wav(stereo, 8000))
    assert sr == 8000
    assert samples.shape == (8000, 2)
    assert np.array_equal(samples, stereo.astype(np.int32))


def _jpeg_bytes(width, height, ncomp=3, sof=0xC0, extras=True):
    """Structurally valid JPEG marker stream (ITU-T T.81 §B.2) with a real
    SOF frame header — entropy data is a stub (header parsing never reads
    it), so this exercises exactly the metadata-tier contract."""

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = b"\xff\xd8"  # SOI
    if extras:
        out += seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")  # APP0
        out += seg(0xFE, b"a comment segment")  # COM
        out += seg(0xDB, b"\x00" + bytes(64))  # DQT
    sof_payload = struct.pack(">BHHB", 8, height, width, ncomp) + bytes(3 * ncomp)
    out += seg(sof, sof_payload)
    out += seg(0xC4, b"\x00" + bytes(16))  # DHT stub
    out += seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")  # SOS
    return out + b"\xab\xcd\xef" + b"\xff\xd9"  # entropy stub + EOI


def test_jpeg_header_baseline_and_progressive():
    from packs_spark.operators.codecs import parse_jpeg_header

    assert parse_jpeg_header(_jpeg_bytes(320, 240, ncomp=3)) == (320, 240, 3)
    # progressive (SOF2) grayscale, no APPn/DQT segments before the frame
    assert parse_jpeg_header(
        _jpeg_bytes(17, 4000, ncomp=1, sof=0xC2, extras=False)
    ) == (17, 4000, 1)


def test_jpeg_header_rejects_frameless_and_non_jpeg():
    from packs_spark.operators.codecs import parse_jpeg_header

    with pytest.raises(ValueError, match="SOI"):
        parse_jpeg_header(b"\x89PNG\r\n\x1a\n")
    # SOI + APP0 + EOI, never a SOF
    frameless = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 6) + b"JF\x00\x00"
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="no SOF"):
        parse_jpeg_header(frameless)
    with pytest.raises(ValueError, match="no SOF"):
        parse_jpeg_header(b"\xff\xd8\xff")  # truncated after magic


def test_sniff_mp4_requires_plausible_box_size():
    """'ftyp' at offset 4 is only BMFF when the size prefix is a legal
    box length (>= 8, or 0/1 per §4.2)."""
    from packs_spark.operators.multimodal import sniff_format

    good = struct.pack(">I", 24) + b"ftypisom" + bytes(12)
    assert sniff_format(good) == "mp4"
    # sizes 0 (to-EOF) and 1 (largesize) are legal
    assert sniff_format(b"\x00\x00\x00\x00ftypisom") == "mp4"
    assert sniff_format(b"\x00\x00\x00\x01ftypisom") == "mp4"
    # sizes 2..7 cannot hold the 8-byte box header: not a container
    assert sniff_format(b"\x00\x00\x00\x02ftypisom") == "unknown"
    assert sniff_format(b"\x00\x00\x00\x07ftypisom") == "unknown"
    # too short to carry a box header at all
    assert sniff_format(b"\x00ftyp") == "unknown"
