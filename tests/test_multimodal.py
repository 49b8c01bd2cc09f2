"""Multimodal plumbing: an opaque binary column through Arrow to typed
metadata (operators/multimodal.binary_metadata)."""

import hashlib

from dynamo2es_lambda_spark.operators import multimodal as mm


def test_binary_metadata_length_digest_head(spark):
    payloads = {1: b"", 2: b"\x00\xffabc", 3: bytes(range(40))}
    df = spark.createDataFrame(
        list(payloads.items()), "media_id long, payload binary"
    )
    got = {
        r["id"]: (r["n_bytes"], r["sha_hex"], r["head_hex"])
        for r in mm.binary_metadata(df, "media_id").collect()
    }
    assert got == {
        str(i): (len(p), hashlib.sha256(p).hexdigest(), p[:16].hex())
        for i, p in payloads.items()
    }
