"""Multimodal column plumbing: opaque binary payloads + typed metadata.

This module keeps the generic binary plumbing (BinaryType columns,
typed metadata structs, and the frame-sampling UDTF expansion: a
per-row function run through kernel.batch.map_rows, 1 row in → k rows
out). The REAL decode paths live next door:
`operators/imageops.py` (pure-stdlib PNG codec + numpy
metrics/enhance/resize, incl. the oracled mm_image_dims decode check)
and `operators/audioops.py` (stdlib WAV decode + numpy features).

Both queries here are fully oracle-checked: mm_binary_meta is pure
byte-level ops, and mm_frame_sample's frame slices are byte-offset
arithmetic over the (ASCII) payload, so DuckDB reconstructs the same
md5s with substring() — md5(VARCHAR) hashes UTF-8 bytes on both
engines."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..kernel.batch import map_rows
from .relational import T


def _payloads(spark, sf):
    """documents.text encoded as the stand-in binary payload column."""
    return T(spark, sf, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload"))


def mm_binary_meta(spark, sf):
    """Typed metadata over a binary column — stays fully JVM-side."""
    p = _payloads(spark, sf)
    return p.select(
        "doc_id",
        F.length("payload").alias("n_bytes"),
        F.md5("payload").alias("content_md5"),
        F.upper(F.substring(F.hex("payload"), 1, 16)).alias("head_hex"),
    )


# DuckDB md5 takes VARCHAR (hashes its UTF-8 bytes — same bytes as the
# Spark-side BINARY payload); hex case differs between engines → upper()
MM_META_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5,
       upper(substring(hex(encode(text)), 1, 16)) AS head_hex
FROM documents
"""

_FRAME_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_no", IntegerType()),
    StructField("frame_bytes", BinaryType()),
])


def _frames(doc_id, payload):
    """UDTF-shaped expansion: N deterministic 'frames' per payload
    (video frame-sampling stand-in; 1 row in → k rows out)."""
    payload = payload if payload is not None else b""
    k = min(3, max(1, len(payload) // 100))
    step = max(1, len(payload) // max(k, 1))
    for i in range(k):
        yield {"doc_id": doc_id, "frame_no": i,
               "frame_bytes": payload[i * step:i * step + 16]}


def mm_frame_sample(spark, sf):
    # frame bytes surfaced as an md5 hex digest: the binary plumbing
    # (BinaryType through Arrow, 1→k row expansion) stays real, but
    # the query's output columns are plain strings the driver's hash
    # harness can canonicalize.
    df = map_rows(_payloads(spark, sf), _frames, _FRAME_SCHEMA)
    return df.select("doc_id", "frame_no",
                     F.md5("frame_bytes").alias("frame_md5"))


# The payload is ASCII (encode(text) byte-length == char-length on the
# test corpora), so Python's byte slicing equals substring() char
# slicing and the k/step arithmetic ports verbatim. A slice starting
# past the end is '' on both engines (md5('') agrees).
MM_FRAME_SQL = """
WITH f AS (
  SELECT doc_id, text,
         least(3, greatest(1, length(text) // 100)) AS k,
         greatest(1, length(text)
                     // least(3, greatest(1, length(text) // 100)))
           AS step
  FROM documents)
SELECT doc_id, CAST(i AS INT) AS frame_no,
       md5(substring(text, CAST(i * step + 1 AS BIGINT), 16))
         AS frame_md5
FROM f, LATERAL (SELECT unnest(range(k)) AS i) t
"""


QUERIES = {
    "mm_binary_meta": (mm_binary_meta, MM_META_SQL),
    "mm_frame_sample": (mm_frame_sample, MM_FRAME_SQL),
}
