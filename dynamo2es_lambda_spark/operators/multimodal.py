"""Multimodal columns: opaque binary payloads → typed metadata.

The Spark-side plumbing of a binary column: Arrow binary-column transfer
and the mapInPandas batch shape every media stage shares. Backs the
``multimodal_meta`` oracle entry (plans/entry_queries.q_multimodal_meta).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def binary_metadata(
    df: DataFrame, id_col: str, payload_col: str = "payload"
) -> DataFrame:
    """Typed metadata over an opaque binary column: byte length, sha256 hex,
    first-16-bytes hex. The schema/Arrow-binary plumbing every multimodal
    pipeline stage shares; content-addressable storage + dedup keys at scale.

    → (id, n_bytes, sha_hex, head_hex). Length is a native Column expression;
    the digests hash raw payload bytes per Arrow batch."""
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            payloads = pdf[payload_col]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype(str),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "sha_hex": payloads.map(
                        lambda b: hashlib.sha256(b).hexdigest()
                    ),
                    "head_hex": payloads.map(lambda b: b[:16].hex()),
                }
            )

    return df.select(
        F.col(id_col).cast("string").alias(id_col), payload_col
    ).mapInPandas(
        run,
        schema="id string, n_bytes long, sha_hex string, head_hex string",
    )
