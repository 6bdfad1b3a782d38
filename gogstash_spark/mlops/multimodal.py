"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as `binary` columns with a metadata struct;
decode / feature-extract run as Arrow-batched pandas iterators
(mapInPandas) so each Python batch touches a whole Arrow record batch,
never a row at a time.

Decode support is capability-probed:
- netpbm P5/P6 (PGM/PPM) decodes for real in pure numpy — no external
  codec needed, so the decode path is genuinely exercised in tests;
- JPEG/PNG/etc. decode through PIL when it is installed on the cluster
  image (import-probed, as the kafka source probes its jar);
- anything else raises NotImplementedError (never a silent fake).

Text payloads keep the deterministic byte-level features so non-image
modalities flow through the same operator.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id bigint, byte_len bigint, head_hex string, "
    "modality string, fake_dim double, "
    "width int, height int, n_channels int, mean_pixel double"
)


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a multimodal table: utf-8 bytes of the text as the
    opaque payload + a typed metadata struct (what an image/audio
    ingest would carry)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    meta = F.struct(
        F.lit("text/plain").alias("mime"),
        F.length(payload).alias("n_bytes"),
        F.lit("synthetic").alias("source"),
    )
    return df.withColumn("payload", payload).withColumn("meta", meta)


def attach_ppm_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic synthetic PPM image per row (dimensions derived from
    the id) — drives the REAL decode path end-to-end without external
    codecs. Generation is an Arrow-batched pandas UDF (binary column)."""

    @F.pandas_udf("binary")
    def gen(ids: pd.Series) -> pd.Series:
        return ids.map(
            lambda i: make_ppm(int(i), 4 + int(i) % 5, 3 + int(i) % 4)
        )

    df = df.withColumn("payload", gen(F.col(id_col)))
    meta = F.struct(
        F.lit("image/x-portable-pixmap").alias("mime"),
        F.length("payload").alias("n_bytes"),
        F.lit("synthetic").alias("source"),
    )
    return df.withColumn("meta", meta)


def make_ppm(seed: int, width: int, height: int) -> bytes:
    """Deterministic P6 (binary PPM) image: pixel i = (seed*31 + i) % 256."""
    header = b"P6\n%d %d\n255\n" % (width, height)
    n = width * height * 3
    px = ((seed * 31 + np.arange(n, dtype=np.int64)) % 256).astype(np.uint8)
    return header + px.tobytes()


def decode_netpbm(payload: bytes) -> dict:
    """Pure-numpy decode of binary PGM (P5) / PPM (P6)."""
    import re

    m = re.match(rb"^(P[56])\s+(?:#[^\n]*\n\s*)*(\d+)\s+(\d+)\s+(\d+)\s", payload)
    if not m:
        raise ValueError("not a binary netpbm payload")
    magic, w, h, maxval = m.group(1), int(m.group(2)), int(m.group(3)), int(m.group(4))
    if maxval > 255:
        raise ValueError("16-bit netpbm not supported")
    channels = 3 if magic == b"P6" else 1
    data = np.frombuffer(payload, dtype=np.uint8, count=w * h * channels, offset=m.end())
    return {
        "width": w,
        "height": h,
        "n_channels": channels,
        "mean_pixel": float(data.mean()) if data.size else 0.0,
    }


def decode_image(payload: bytes) -> dict:
    """Decode an image payload to {width, height, n_channels, mean_pixel}.

    netpbm decodes natively; other formats go through PIL when present
    (capability probe). Raises NotImplementedError when no decoder
    applies — never a silent fake.
    """
    if payload[:2] in (b"P5", b"P6"):
        return decode_netpbm(payload)
    try:
        import io

        from PIL import Image  # capability probe: optional on the image
    except ImportError as e:
        raise NotImplementedError(
            "no decoder for this payload: netpbm (P5/P6) decodes natively; "
            "install PIL on the cluster image for JPEG/PNG"
        ) from e
    img = Image.open(io.BytesIO(bytes(payload)))
    arr = np.asarray(img)
    return {
        "width": img.width,
        "height": img.height,
        "n_channels": arr.shape[2] if arr.ndim == 3 else 1,
        "mean_pixel": float(arr.mean()),
    }


# unambiguous (>= 3 byte) magics: two-byte ASCII prefixes like 'GI'
# would misclassify ordinary text as images
_IMAGE_MAGICS = (b"\xff\xd8\xff", b"\x89PNG", b"GIF8")


def _looks_bmp(b: bytes) -> bool:
    """BMP's magic is just ASCII 'BM' — disambiguate from text via the
    header's reserved bytes (6..9 must be zero, never true for text)."""
    return len(b) >= 14 and b[:2] == b"BM" and b[6:10] == b"\x00\x00\x00\x00"


def _try_decode(b) -> dict | None:
    head = bytes(b[:14])
    if head[:2] in (b"P5", b"P6"):
        return decode_netpbm(bytes(b))
    if any(head.startswith(m) for m in _IMAGE_MAGICS) or _looks_bmp(head):
        # a real image format: decode through the PIL probe — raises
        # NotImplementedError when PIL is absent (loud task failure,
        # never silently-null features for an actual image)
        return decode_image(bytes(b))
    return None  # non-image payload (text/...): image features stay null


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    Byte-level features (length, head hex, fake scalar) for every
    payload; REAL width/height/channels/mean-pixel for decodable image
    payloads (null otherwise).
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payload = pdf["payload"]
            decoded = payload.map(_try_decode)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": payload.map(len).astype("int64"),
                    "head_hex": payload.map(lambda b: bytes(b[:8]).hex()),
                    "modality": pdf["meta"].map(lambda m: m["mime"]),
                    "fake_dim": payload.map(len).astype("float64") % 7.0,
                    "width": decoded.map(lambda d: d["width"] if d else None),
                    "height": decoded.map(lambda d: d["height"] if d else None),
                    "n_channels": decoded.map(lambda d: d["n_channels"] if d else None),
                    "mean_pixel": decoded.map(
                        lambda d: round(d["mean_pixel"], 6) if d else None
                    ),
                }
            )

    return df.select("doc_id", "payload", "meta").mapInPandas(op, FEATURE_SCHEMA)
