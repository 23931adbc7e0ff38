"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, computed per Arrow batch inside pandas UDFs.

Per payload the engine computes three things:

* its container format, sniffed from the leading magic bytes
  (:func:`sniff_format`; an ISO BMFF ``ftyp`` box counts only behind a
  plausible box size);
* its byte count;
* ``fake_decode_features``, a 16-bucket byte histogram standing in for a
  decode→embed step, so the oracle-gated metadata query stays
  reproducible by DuckDB SQL — a real pixel decode never can be.

:func:`extract_metadata` projects all three (one ``mapInPandas`` pass);
:func:`media_metadata_col` adds (format, n_bytes) as a struct column in
place, for ``run_batch(multimodal=True)``.  No pixel or sample decoder
ships: one belongs here only together with an entry point that calls it.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# magic-byte sniffing for common containers (public file signatures)
MAGIC = [
    ("png", b"\x89PNG"),
    ("jpeg", b"\xff\xd8\xff"),
    ("gif", b"GIF8"),
    ("riff", b"RIFF"),  # wav/avi/webp container
    ("pdf", b"%PDF"),
    ("html", b"<htm"),
    ("html", b"<!do"),
]

FEATURE_DIM = 16  # byte-histogram buckets of the fake decoder


def sniff_format(payload: bytes | None) -> str:
    if not payload:
        return "empty"
    head = payload[:8].lower() if payload[:1] in (b"<",) else payload[:8]
    for name, magic in MAGIC:
        if payload[: len(magic)] == magic or head[: len(magic)] == magic:
            return name
    # ISO BMFF: magic sits after the 4-byte box size — checked AFTER the
    # head magics so a leading container signature always wins over a
    # coincidental 'ftyp' in the trailing bytes.  The 4-byte size prefix
    # must be a plausible box length (>= 8, the header size) so a random
    # payload with 'ftyp' at offset 4 is not misclassified
    if len(payload) >= 8 and payload[4:8] == b"ftyp" and _box_size_ok(payload):
        return "mp4"
    return "unknown"


def _box_size_ok(payload: bytes) -> bool:
    """True iff the leading 4-byte BMFF box size is plausible (>= 8, or
    0 = 'extends to EOF' / 1 = 64-bit largesize, both legal §4.2)."""
    size = struct.unpack(">I", payload[:4])[0]
    return size >= 8 or size in (0, 1)


def _format_and_bytes(payloads: pd.Series) -> tuple[list[str], list[int]]:
    """(format, n_bytes) per payload; a null payload is ("empty", 0)."""
    return (
        [sniff_format(p) for p in payloads],
        [len(p) if p is not None else 0 for p in payloads],
    )


def fake_decode_features(batch: pd.Series) -> np.ndarray:
    """Deterministic per-payload features: 16-bucket byte histogram
    (L1-normalized).  Vectorized per batch; stands in for a real
    decode→embed step with identical shapes."""
    out = np.zeros((len(batch), FEATURE_DIM), dtype=np.float32)
    for i, payload in enumerate(batch):
        if payload is None or len(payload) == 0:
            continue
        arr = np.frombuffer(payload, dtype=np.uint8)
        hist = np.bincount(arr >> 4, minlength=FEATURE_DIM).astype(np.float32)
        out[i] = hist / max(len(arr), 1)
    return out


def extract_metadata(
    df: DataFrame, binary_col: str = "html", id_col: str = "url"
) -> DataFrame:
    """(id, n_bytes, format, features[16]) via mapInPandas — one Arrow pass,
    binary stays batched, output schema typed."""
    schema = (
        f"{id_col} string, n_bytes long, format string, "
        f"features array<float>"
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[binary_col]
            formats, n_bytes = _format_and_bytes(payloads)
            feats = fake_decode_features(payloads)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": n_bytes,
                    "format": formats,
                    "features": [f.tolist() for f in feats],
                }
            )

    return df.select(id_col, binary_col).mapInPandas(op, schema=schema)


def media_metadata_col(binary_col) -> F.Column:
    """(format, n_bytes) struct computed from a binary column — the
    ADDITIVE form of :func:`extract_metadata` for enriching a frame
    in place (no join, no projection loss).  One Arrow-batched pandas
    UDF; intended to run BEFORE any shuffle so the binary payload never
    crosses an exchange."""

    @F.pandas_udf("format string, n_bytes bigint")
    def _meta(p: pd.Series) -> pd.DataFrame:
        formats, n_bytes = _format_and_bytes(p)
        return pd.DataFrame({"format": formats, "n_bytes": n_bytes})

    return _meta(binary_col)
