"""Posting-list compression: delta + varbyte, fixed-size blocks w/ block-max.

The reference stores documents in Elasticsearch, whose Lucene segments keep
delta-encoded, block-compressed postings; the engine builds the same structure
from scratch (BASELINE.json north_star: "delta-encoded, varbyte-compressed
docID+tf blocks with block-max metadata").

All encode/decode paths are numpy-vectorized (no per-element Python loops —
the only loops are over the ≤10 varbyte byte-groups).

Wire format per block (BLOCK_SIZE docs max):
  doc_bytes: varbyte(gaps) where gaps[0] = doc_ids[0] - (prev block's last + 1)
             … blocks are independent: gaps[0] = doc_ids[0] - base, base
             passed explicitly (we store absolute first/last per block, so
             gaps[0] = doc_ids[0] - doc_first → 0; decode uses doc_first).
  tf_bytes:  varbyte(tf - 1)   (tf >= 1 always)
  dl_bytes:  varbyte(dl - 1)   (doclen >= 1 if the doc has this term) — the
             Lucene-norms analog inlined into the block so query scoring
             never joins doc_stats (a per-query shuffle avoided).
Block metadata (stored as plain columns → parquet min/max pruning works):
  n_docs, doc_first, doc_last, max_tf, min_dl

Positional payloads (optional, for phrase queries — Lucene ``.pos`` analog):
  pos_bytes: concatenation, in block doc order, of each doc's varbyte-encoded
             token positions for the term (first position absolute, rest
             delta-coded). Per-doc boundaries are implicit: doc d contributes
             exactly tf(d) values, so one flat varbyte_decode + a segmented
             cumsum keyed by the tf array reconstructs every position list.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def _varbyte_parts(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(byte array, per-value byte counts) for LSB-first varbyte."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    # number of 7-bit groups per value
    ngroups = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        ngroups += (tmp > 0).astype(np.int64)
        tmp = tmp >> np.uint64(7)
    starts = np.concatenate(([0], np.cumsum(ngroups)[:-1]))
    out = np.zeros(int(ngroups.sum()), dtype=np.uint8)
    for k in range(int(ngroups.max())):
        mask = ngroups > k
        pos = starts[mask] + k
        grp = ((v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (ngroups[mask] - 1 > k).astype(np.uint8) << 7
        out[pos] = grp | cont
    return out, ngroups


def varbyte_encode(values: np.ndarray) -> bytes:
    """LSB-first varbyte (protobuf varint layout), vectorized.

    values: non-negative integers (any int dtype).
    """
    return _varbyte_parts(values)[0].tobytes()


def varbyte_encode_grouped(
    values: np.ndarray, group_sizes: np.ndarray
) -> list[bytes]:
    """Encode a flat value array once, slice into per-group byte strings.

    ``group_sizes`` (int, sums to len(values)) delimits consecutive groups.
    One vectorized encode pass; the only loop is the per-group bytes slicing.
    """
    buf, nbytes = _varbyte_parts(values)
    sizes = np.asarray(group_sizes, dtype=np.int64)
    if sizes.size == 0:
        return []
    ends_v = np.cumsum(sizes)
    byte_cum = np.concatenate(([0], np.cumsum(nbytes)))
    byte_ends = byte_cum[ends_v]
    byte_starts = np.concatenate(([0], byte_ends[:-1]))
    raw = buf.tobytes()
    return [raw[s:e] for s, e in zip(byte_starts, byte_ends)]


def segmented_deltas(flat: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Inverse of :func:`segmented_positions`: absolute per-group ascending
    values → deltas with each group's first value absolute."""
    flat = np.asarray(flat, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    if flat.size == 0:
        return np.zeros(0, dtype=np.int64)
    d = flat.copy()
    d[1:] = flat[1:] - flat[:-1]
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    d[starts] = flat[starts]
    return d


def segmented_positions(deltas: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-group cumsum: decode flat position deltas (first absolute) into
    flat absolute positions, groups delimited by ``counts``."""
    d = np.asarray(deltas, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    if d.size == 0:
        return np.zeros(0, dtype=np.int64)
    c = np.cumsum(d)
    ends = np.cumsum(counts)
    base = np.repeat(
        np.concatenate(([0], c[ends[:-1] - 1])), counts
    )
    return c - base


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Inverse of :func:`varbyte_encode` → uint64 array. Vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    # value index of each byte = count of terminated values strictly before it
    vidx = np.concatenate(([0], np.cumsum(is_last)[:-1]))
    nvals = int(is_last.sum())
    # position of byte within its value
    value_starts = np.concatenate(([0], np.nonzero(is_last)[0][:-1] + 1))
    k = np.arange(b.size, dtype=np.int64) - value_starts[vidx]
    vals = np.zeros(nvals, dtype=np.uint64)
    payload = (b & 0x7F).astype(np.uint64)
    for g in range(int(k.max()) + 1):
        sel = k == g
        vals[vidx[sel]] |= payload[sel] << np.uint64(7 * g)
    return vals


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    pos_payloads=None,
) -> list[dict]:
    """Split one term-segment posting list (sorted by doc_id asc) into blocks.

    Returns a list of block dicts with keys: block_id, n_docs, doc_first,
    doc_last, max_tf, min_dl, doc_bytes, tf_bytes, dl_bytes, pos_bytes.

    ``pos_payloads``: optional sequence (len == len(doc_ids)) of per-doc
    pre-encoded position byte strings; concatenated per block into pos_bytes
    (None when positions are not indexed).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    n = doc_ids.size
    blocks: list[dict] = []
    for bi, lo in enumerate(range(0, n, BLOCK_SIZE)):
        hi = min(lo + BLOCK_SIZE, n)
        ids = doc_ids[lo:hi]
        gaps = np.empty(hi - lo, dtype=np.uint64)
        gaps[0] = 0  # first doc stored absolutely in doc_first
        if hi - lo > 1:
            gaps[1:] = np.diff(ids).astype(np.uint64)
        blocks.append(
            {
                "block_id": bi,
                "n_docs": int(hi - lo),
                "doc_first": int(ids[0]),
                "doc_last": int(ids[-1]),
                "max_tf": int(tfs[lo:hi].max()),
                "min_dl": int(dls[lo:hi].min()),
                "doc_bytes": varbyte_encode(gaps),
                "tf_bytes": varbyte_encode(tfs[lo:hi] - 1),
                "dl_bytes": varbyte_encode(dls[lo:hi] - 1),
                "pos_bytes": (
                    None
                    if pos_payloads is None
                    else b"".join(pos_payloads[lo:hi])
                ),
            }
        )
    return blocks


def encode_runs(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    sizes: np.ndarray,
) -> dict[str, np.ndarray | list[bytes]]:
    """Many blocks at once: flat postings cut into consecutive blocks of
    ``sizes`` docs (each ≥ 1, doc-ascending within its block) → the block
    columns n_docs, doc_first, doc_last, max_tf, min_dl, doc_bytes,
    tf_bytes, dl_bytes, one entry per block. Each column costs one
    :func:`varbyte_encode_grouped` or one reduceat, however many blocks
    there are; block i is byte-equal to :func:`encode_blocks` over its
    slice. The inverse of :func:`decode_blocks`."""
    d = np.asarray(doc_ids, dtype=np.int64)
    tf = np.asarray(tfs, dtype=np.int64)
    dl = np.asarray(dls, dtype=np.int64)
    sizes = np.asarray(sizes, dtype=np.int64)
    starts = np.cumsum(sizes) - sizes
    gaps = np.zeros(d.size, dtype=np.int64)
    gaps[1:] = d[1:] - d[:-1]
    gaps[starts] = 0  # first doc stored absolutely in doc_first
    return {
        "n_docs": sizes.astype(np.int32),
        "doc_first": d[starts],
        "doc_last": d[starts + sizes - 1],
        "max_tf": np.maximum.reduceat(tf, starts).astype(np.int32),
        "min_dl": np.minimum.reduceat(dl, starts).astype(np.int32),
        "doc_bytes": varbyte_encode_grouped(gaps, sizes),
        "tf_bytes": varbyte_encode_grouped(tf - 1, sizes),
        "dl_bytes": varbyte_encode_grouped(dl - 1, sizes),
    }


def decode_block(
    doc_first: int, doc_bytes: bytes, tf_bytes: bytes, dl_bytes: bytes
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Block → (doc_ids int64 asc, tfs int64, dls int64)."""
    gaps = varbyte_decode(doc_bytes).astype(np.int64)
    doc_ids = np.cumsum(gaps) + np.int64(doc_first)
    tfs = varbyte_decode(tf_bytes).astype(np.int64) + 1
    dls = varbyte_decode(dl_bytes).astype(np.int64) + 1
    return doc_ids, tfs, dls


def decode_blocks(blocks) -> tuple[np.ndarray, ...]:
    """Many blocks at once → flat (doc_ids, tfs, dls), int64, in block order;
    block i's docs are ``flat[off[i] : off[i] + n_docs[i]]``, with
    ``off = cumsum(n_docs) - n_docs``.

    ``blocks``: a mapping (DataFrame or dict of arrays) with ``n_docs``
    (every block holds ≥ 1 doc), ``doc_first`` and ``doc_bytes``; the
    ``tf_bytes`` / ``dl_bytes`` streams decode when present, else their
    slot is None. The payloads concatenate into one buffer per column, so
    each column costs ONE :func:`varbyte_decode` plus one segmented cumsum
    for the doc gaps, however many blocks there are. Element-for-element
    equal to :func:`decode_block` over each block in turn."""
    counts = np.asarray(blocks["n_docs"], dtype=np.int64)
    gaps = varbyte_decode(b"".join(blocks["doc_bytes"])).astype(np.int64)
    gaps[np.cumsum(counts) - counts] += np.asarray(
        blocks["doc_first"], dtype=np.int64
    )
    out = [segmented_positions(gaps, counts)]
    for col in ("tf_bytes", "dl_bytes"):
        out.append(
            varbyte_decode(b"".join(blocks[col])).astype(np.int64) + 1
            if col in blocks
            else None
        )
    return tuple(out)


def decode_block_positions(
    pos_bytes: bytes, tfs: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Block pos_bytes → (flat absolute positions, per-doc start offsets).

    Doc i's positions are ``flat[starts[i] : starts[i] + tfs[i]]``, ascending.
    """
    deltas = varbyte_decode(pos_bytes).astype(np.int64)
    flat = segmented_positions(deltas, tfs)
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1])).astype(np.int64)
    return flat, starts
