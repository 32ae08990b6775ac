"""Multimodal column plumbing — media as an opaque ``binary`` column.

``doc_media`` derives a media table (payload + typed metadata) from the
``documents`` table, and ``extract_features_csv`` runs feature
extraction as an Arrow-batched ``mapInPandas`` pass over it. The
package ships no image or audio codec, so the "decode" is the payload's
UTF-8 codepoints and the feature is their 16-bin histogram; the Spark-side
plumbing (schema, batch shape, scalar output) is what the
``media_features`` query and its DuckDB oracle check.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import MEDIA_FEATURES_CSV_SCHEMA


def doc_media(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from the ``documents`` table —
    payload = UTF-8 bytes of the text, kind/mime cycle by doc_id. Every
    byte is reproducible by any SQL engine, so the feature extraction
    downstream can carry a DuckDB oracle."""
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    mime = (
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        mime.alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


def extract_features_csv(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction → (media_id, kind, feature_csv,
    n_bytes). The feature is the 16-bin histogram of the decoded
    payload's codepoints (clipped to 255), bins of width 16, as a
    comma-joined string; scalar output keeps every row hashable for
    sort/hash-based comparators."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                codes = np.fromiter(
                    (ord(c) for c in bytes(p).decode("utf-8")), dtype=np.int64
                )
                hist = np.bincount(
                    np.minimum(codes, 255) >> 4, minlength=16
                ) if len(codes) else np.zeros(16, dtype=np.int64)
                feats.append(",".join(str(int(x)) for x in hist[:16]))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature_csv": feats,
                    "n_bytes": pdf["payload"].map(len),
                }
            )

    return media.mapInPandas(run, schema=MEDIA_FEATURES_CSV_SCHEMA)
