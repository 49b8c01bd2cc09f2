"""Varbyte + block codec round-trips (upgrade over the reference, which has
no codec tests — ours are property-based per SURVEY.md §5.2.8)."""

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from dynamo2es_lambda_spark.functions import codec


def test_varbyte_known():
    vals = np.array([0, 1, 127, 128, 300, 2**20, 2**40, 2**63 - 1], dtype=np.uint64)
    buf = codec.varbyte_encode(vals)
    out = codec.varbyte_decode(buf)
    assert out.tolist() == vals.tolist()
    assert codec.varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert codec.varbyte_decode(b"").size == 0
    # single-byte values take exactly one byte
    assert len(codec.varbyte_encode(np.array([5], dtype=np.uint64))) == 1


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=100, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert codec.varbyte_decode(codec.varbyte_encode(arr)).tolist() == vals


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**9),   # doc gap
            st.integers(min_value=1, max_value=1000),    # tf
            st.integers(min_value=1, max_value=5000),    # dl
        ),
        min_size=1,
        max_size=700,
    )
)
@settings(max_examples=50, deadline=None)
def test_block_roundtrip(rows):
    gaps = np.array([r[0] for r in rows], dtype=np.int64)
    doc_ids = np.cumsum(gaps + 1) - 1  # strictly increasing
    tfs = np.array([r[1] for r in rows], dtype=np.int64)
    dls = np.array([r[2] for r in rows], dtype=np.int64)
    blocks = codec.encode_blocks(doc_ids, tfs, dls)
    got_ids, got_tfs, got_dls = [], [], []
    for b in blocks:
        ids, t, d = codec.decode_block(
            b["doc_first"], b["doc_bytes"], b["tf_bytes"], b["dl_bytes"]
        )
        assert b["n_docs"] == ids.size <= codec.BLOCK_SIZE
        assert b["doc_first"] == ids[0] and b["doc_last"] == ids[-1]
        assert b["max_tf"] == t.max()
        assert b["min_dl"] == d.min()
        got_ids.append(ids)
        got_tfs.append(t)
        got_dls.append(d)
    assert np.concatenate(got_ids).tolist() == doc_ids.tolist()
    assert np.concatenate(got_tfs).tolist() == tfs.tolist()
    assert np.concatenate(got_dls).tolist() == dls.tolist()


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), max_size=400),
    st.data(),
)
@settings(max_examples=60, deadline=None)
def test_grouped_varbyte_roundtrip(vals, data):
    """varbyte_encode_grouped slices == per-group independent encodes."""
    arr = np.array(vals, dtype=np.uint64)
    sizes = []
    left = len(vals)
    while left > 0:
        s = data.draw(st.integers(min_value=1, max_value=left))
        sizes.append(s)
        left -= s
    groups = codec.varbyte_encode_grouped(arr, np.array(sizes, dtype=np.int64))
    assert len(groups) == len(sizes)
    off = 0
    for g, s in zip(groups, sizes):
        assert g == codec.varbyte_encode(arr[off:off + s])
        assert codec.varbyte_decode(g).tolist() == vals[off:off + s]
        off += s


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=100),
                 min_size=1, max_size=40),
        min_size=1, max_size=60,
    )
)
@settings(max_examples=60, deadline=None)
def test_segmented_positions_roundtrip(gap_groups):
    """positions → segmented_deltas → segmented_positions is the identity,
    and matches per-group cumsum (the position codec used by phrase search)."""
    pos_groups = [np.cumsum(np.array(g, dtype=np.int64)) for g in gap_groups]
    flat = np.concatenate(pos_groups)
    counts = np.array([len(g) for g in pos_groups], dtype=np.int64)
    deltas = codec.segmented_deltas(flat, counts)
    assert (deltas >= 0).all()  # varbyte-safe
    back = codec.segmented_positions(deltas, counts)
    assert back.tolist() == flat.tolist()
    # full wire round-trip through grouped varbyte + block decode helper
    payloads = codec.varbyte_encode_grouped(deltas, counts)
    blob = b"".join(payloads)
    flat2, starts = codec.decode_block_positions(blob, counts)
    assert flat2.tolist() == flat.tolist()
    off = 0
    for i, g in enumerate(pos_groups):
        assert starts[i] == off
        off += len(g)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**62), max_value=2**62),  # doc_first
            st.lists(
                st.tuples(
                    st.integers(min_value=1, max_value=10**9),  # doc gap
                    st.integers(min_value=1, max_value=1000),   # tf
                    st.integers(min_value=1, max_value=5000),   # dl
                ),
                max_size=codec.BLOCK_SIZE - 1,
            ),
        ),
        max_size=12,
    ),
    st.data(),
)
@settings(max_examples=80, deadline=None)
def test_decode_blocks_matches_per_block(blocks, data):
    """codec.decode_blocks over any selection of blocks (empty selections
    and 1-doc blocks included) == per-block decode_block, concatenated."""
    enc = []
    for first, rows in blocks:
        ids = first + np.cumsum([0] + [r[0] for r in rows], dtype=np.int64)
        tfs = np.array([1] + [r[1] for r in rows], dtype=np.int64)
        dls = np.array([1] + [r[2] for r in rows], dtype=np.int64)
        (b,) = codec.encode_blocks(ids, tfs, dls)
        enc.append(b)
    sel = [b for b in enc if data.draw(st.booleans())]
    cols = {
        c: np.array([b[c] for b in sel], dtype=object)
        for c in ("n_docs", "doc_first", "doc_bytes", "tf_bytes", "dl_bytes")
    }
    got = codec.decode_blocks(cols)
    want = [
        codec.decode_block(
            b["doc_first"], b["doc_bytes"], b["tf_bytes"], b["dl_bytes"]
        )
        for b in sel
    ]
    for i in range(3):
        exp = (
            np.concatenate([w[i] for w in want])
            if want
            else np.zeros(0, np.int64)
        )
        assert got[i].dtype == np.int64
        assert got[i].tolist() == exp.tolist()
    # payload columns the frame does not carry decode to None
    del cols["dl_bytes"]
    ids, tfs, dls = codec.decode_blocks(cols)
    assert dls is None
    assert ids.tolist() == got[0].tolist() and tfs.tolist() == got[1].tolist()


_RUN_COLS = ("n_docs", "doc_first", "doc_last", "max_tf", "min_dl",
             "doc_bytes", "tf_bytes", "dl_bytes")


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**50),        # doc_first
            st.lists(
                st.tuples(
                    st.integers(min_value=1, max_value=2**35),  # doc gap
                    st.integers(min_value=1, max_value=2**21),  # tf
                    st.integers(min_value=1, max_value=2**21),  # dl
                ),
                max_size=codec.BLOCK_SIZE - 1,
            ),
            st.integers(min_value=1, max_value=2**21),          # first tf
            st.integers(min_value=1, max_value=2**21),          # first dl
        ),
        max_size=12,
    )
)
@settings(max_examples=80, deadline=None)
@example([(0, [], 1, 1)])                                   # one 1-doc block
@example([(5, [], 300, 2**20)] * 3)                         # 1-doc blocks
@example([(2**40, [(2**30, 200, 2**20)] * 127, 129, 1)])    # a full block
def test_encode_runs_matches_encode_blocks(blocks):
    """codec.encode_runs over consecutive blocks of 1-128 docs == per-block
    codec.encode_blocks, column for column (multi-byte gaps, tfs and dls
    included)."""
    ids, tfs, dls, sizes, want = [], [], [], [], []
    for first, rows, tf0, dl0 in blocks:
        b_ids = first + np.cumsum([0] + [r[0] for r in rows], dtype=np.int64)
        b_tfs = np.array([tf0] + [r[1] for r in rows], dtype=np.int64)
        b_dls = np.array([dl0] + [r[2] for r in rows], dtype=np.int64)
        (b,) = codec.encode_blocks(b_ids, b_tfs, b_dls)
        want.append(b)
        ids.append(b_ids)
        tfs.append(b_tfs)
        dls.append(b_dls)
        sizes.append(b_ids.size)
    cat = (lambda xs: np.concatenate(xs) if xs else np.zeros(0, np.int64))
    got = codec.encode_runs(cat(ids), cat(tfs), cat(dls), sizes)
    assert set(got) == set(_RUN_COLS)
    for col in _RUN_COLS:
        assert len(got[col]) == len(want)
        assert [int(v) if col[-5:] != "bytes" else v for v in got[col]] == [
            w[col] for w in want
        ], col
