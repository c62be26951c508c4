"""Multimodal column plumbing (SURVEY.md §2.11 / BASELINE.json:6).

Design: media travel as opaque ``binary`` columns with typed metadata;
decode / feature-extract / frame-sample run as Arrow-batched ``mapInPandas``
(one Python worker call per batch, columnar transfer — the only viable
shape for per-asset Python at 100 TB; never collect, never row-at-a-time).

The image/audio decode libraries are NOT in this container, so the decoder
is STUBBED: :func:`decode_features_stub` derives deterministic pseudo
features from the raw bytes (documented formulas, oracle-mirrorable in
SQL). The Spark-side plumbing — binary schema, batch iteration, UDF
signature, partitioning — is real and tested. A real decoder (PIL /
librosa / pyav over ``io.BytesIO(payload)``) replaces the body of
``_decode_batch``.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODE_SCHEMA = (
    "doc_id long, byte_len int, pseudo_width int, pseudo_height int, "
    "n_frames int, digest string"
)


def _decode_batch(batch: pd.DataFrame) -> pd.DataFrame:
    payloads = batch["payload"]
    out = pd.DataFrame()
    out["doc_id"] = batch["doc_id"]
    out["byte_len"] = payloads.map(len).astype("int32")
    # Deterministic pseudo-decode (mirrored in the SQL oracle):
    out["pseudo_width"] = payloads.map(lambda b: len(b) % 256).astype("int32")
    out["pseudo_height"] = payloads.map(
        lambda b: (b[0] * 7) % 256 if len(b) else 0
    ).astype("int32")
    out["n_frames"] = payloads.map(lambda b: len(b) % 10 + 1).astype("int32")
    out["digest"] = payloads.map(lambda b: hashlib.sha256(b).hexdigest())
    return out


def decode_features_stub(binary_df: DataFrame) -> DataFrame:
    """(doc_id, payload binary) → typed feature rows via mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield _decode_batch(batch)

    return binary_df.mapInPandas(run, DECODE_SCHEMA)


def frame_sample(binary_df: DataFrame, stride: int = 64) -> DataFrame:
    """Frame sampling on opaque bytes: one row per ``stride``-byte chunk
    ("frame"), pure column algebra — the explode happens JVM-side, Python
    never sees the bytes."""
    n = (F.length("payload") + stride - 1) / stride
    return binary_df.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n.cast("int")),
                lambda i: F.substring(
                    F.col("payload"), (i - 1) * stride + 1, stride
                ),
            )
        ).alias("frame_no", "frame_bytes"),
    )


RESIZE_SCHEMA = "doc_id long, resized_len int, resized_digest string"


def resize_stub(binary_df: DataFrame, factor: int = 4) -> DataFrame:
    """(doc_id, payload binary) → stride-``factor`` downsample ("resize")
    via mapInPandas. The stub keeps every ``factor``-th byte — the 1-D
    analogue of nearest-neighbor image downscaling — and digests the
    result so the full Arrow byte round-trip is value-checked. A real
    implementation replaces the slice with PIL ``Image.resize`` under the
    same batch iteration."""
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = pd.DataFrame()
            out["doc_id"] = batch["doc_id"]
            resized = batch["payload"].map(lambda b: bytes(b)[::factor])
            out["resized_len"] = resized.map(len).astype("int32")
            out["resized_digest"] = resized.map(
                lambda b: hashlib.md5(b).hexdigest()
            )
            yield out

    return binary_df.mapInPandas(run, RESIZE_SCHEMA)
