"""Property-based round-trips for the pure-stdlib codecs and the xlsx
writer (hypothesis).

The example-based tests in test_codecs.py pin known shapes; these sweep
arbitrary dimensions/channel counts/payload values so encoder/decoder
disagreements (stride math, palette edges, XML escaping) can't hide in
untested corners.  No Spark involved — pure numpy."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from packs_spark.io.xlsx import read_xlsx, write_xlsx
from packs_spark.operators.codecs import (
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
)


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    ch=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_any_shape(h, w, ch, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


@settings(max_examples=20, deadline=None)
@given(
    n=st.integers(1, 2000),
    ch=st.sampled_from([1, 2]),
    sr=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_any_signal(n, ch, sr, seed):
    rng = np.random.default_rng(seed)
    sig = rng.integers(-(2**15), 2**15, size=(n, ch)).astype(np.int16)
    samples, got_sr = decode_wav(encode_wav(sig, sr))
    assert got_sr == sr
    assert np.array_equal(samples, sig.astype(np.int32))


# cells the writer supports: ARBITRARY strings (incl. markup, whitespace,
# XML-invalid chars — the writer sanitizes those to U+FFFD), finite
# floats, booleans, None
_cell = st.one_of(
    st.none(),
    st.booleans(),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
        max_size=20,
    ),
)


@settings(max_examples=25, deadline=None)
@given(
    header=st.lists(st.text(min_size=1, max_size=8), min_size=1, max_size=5),
    n_rows=st.integers(0, 6),
    data=st.data(),
)
def test_xlsx_roundtrip_any_table(tmp_path_factory, header, n_rows, data):
    from packs_spark.io.xlsx import _xml_safe

    rows = [
        [data.draw(_cell) for _ in header] for _ in range(n_rows)
    ]
    p = str(tmp_path_factory.mktemp("xlsx") / "t.xlsx")
    write_xlsx(p, header, rows)
    got_header, got_rows = read_xlsx(p)
    assert got_header == [_xml_safe(str(h)) for h in header]
    assert len(got_rows) == n_rows
    for want, got in zip(rows, got_rows):
        for wv, gv in zip(want, got):
            if isinstance(wv, bool):
                assert gv is wv
            elif isinstance(wv, float):
                assert gv == float(np.float32(wv)) or gv == wv
            elif wv is None or wv == "":
                # empty string cells round-trip as empty inline strings;
                # None stays None
                assert gv in (None, "")
            else:
                assert gv == _xml_safe(wv)


@settings(max_examples=100, deadline=None)
@given(
    w=st.integers(0, 65535),
    h=st.integers(0, 65535),
    ncomp=st.integers(1, 4),
    sof=st.sampled_from([0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA]),
    n_app=st.integers(0, 3),
    junk=st.binary(min_size=0, max_size=40),
)
def test_jpeg_header_roundtrip_any_frame(w, h, ncomp, sof, n_app, junk):
    """Any structurally valid marker stream round-trips its SOF dims, with
    arbitrary APPn/COM segments (containing arbitrary bytes, incl. fake
    markers — lengths must be honored, not content-scanned) before it."""
    import struct

    from packs_spark.operators.codecs import parse_jpeg_header

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    buf = b"\xff\xd8"
    for i in range(n_app):
        buf += seg(0xE0 + i, junk)  # junk may contain 0xFFD9/0xFFDA bytes
    buf += seg(sof, struct.pack(">BHHB", 8, h, w, ncomp) + bytes(3 * ncomp))
    buf += seg(0xDA, b"\x00") + junk + b"\xff\xd9"
    assert parse_jpeg_header(buf) == (w, h, ncomp)


@settings(max_examples=100, deadline=None)
@given(data=st.binary(min_size=0, max_size=300))
def test_jpeg_header_never_crashes_on_garbage(data):
    """Arbitrary bytes after the SOI magic either parse or raise ValueError
    — never IndexError/struct.error/infinite loop (corrupt payloads are
    routine at corpus scale; a caller catches ValueError only)."""
    from packs_spark.operators.codecs import parse_jpeg_header

    try:
        res = parse_jpeg_header(b"\xff\xd8" + data)
    except ValueError:
        return
    w, h, ncomp = res
    assert 0 <= w <= 65535 and 0 <= h <= 65535 and 0 <= ncomp <= 255
