"""Block codec round-trips (mirrors BasePostingsFormatTestCase randomized
round-trip strategy, ``tf/index/BasePostingsFormatTestCase.java:106-166``)."""

import numpy as np
import pytest

from lucene_spark.functions.codec import (
    BLOCK_SIZE,
    competitive_impacts,
    decode_block,
    decode_blocks_batch,
    decode_postings,
    encode_block,
    encode_postings,
    encode_postings_batch,
    pfor_encode_freqs,
    for_pack,
    for_unpack,
    vint_decode,
    vint_encode,
)


@pytest.mark.parametrize("seed", range(5))
def test_vint_roundtrip(seed):
    rng = np.random.default_rng(seed)
    vals = rng.integers(0, 2**40, size=1000).astype(np.uint64)
    vals[:10] = [0, 1, 127, 128, 129, 16383, 16384, 2**21 - 1, 2**21, 2**35]
    buf = vint_encode(vals)
    out = vint_decode(buf)
    np.testing.assert_array_equal(out, vals)


def test_vint_empty():
    assert vint_decode(vint_encode(np.array([], dtype=np.uint64))).size == 0


@pytest.mark.parametrize("width", [0, 1, 3, 7, 8, 13, 20, 32])
def test_for_roundtrip(width):
    rng = np.random.default_rng(width)
    n = 256
    vals = rng.integers(0, 2**width if width else 1, size=n).astype(np.uint64)
    buf = for_pack(vals, width)
    out = for_unpack(buf, width, n)
    np.testing.assert_array_equal(out, vals)


@pytest.mark.parametrize("n", [1, 2, 255, 256])
def test_block_roundtrip(n):
    rng = np.random.default_rng(n)
    docs = np.sort(rng.choice(10**6, size=n, replace=False))
    freqs = rng.integers(1, 50, size=n)
    freqs[rng.random(n) < 0.6] = 1  # mostly freq==1 (freq-folding path)
    norms = rng.integers(0, 256, size=n)
    data = encode_block(docs, freqs, prev_last_doc=0, norm_bytes=norms)
    d, f, nb = decode_block(data, n, prev_last_doc=0)
    np.testing.assert_array_equal(d, docs)
    np.testing.assert_array_equal(f, freqs)
    np.testing.assert_array_equal(nb, norms)


@pytest.mark.parametrize("n", [1, 100, 256, 257, 1000, 5000])
def test_postings_roundtrip(n):
    rng = np.random.default_rng(n)
    docs = np.sort(rng.choice(10**7, size=n, replace=False))
    freqs = rng.integers(1, 100, size=n)
    norms = rng.integers(0, 256, size=n)
    blocks = encode_postings(docs, freqs, norms)
    assert len(blocks) == (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    d, f, nb = decode_postings(blocks)
    np.testing.assert_array_equal(d, docs)
    np.testing.assert_array_equal(f, freqs)
    np.testing.assert_array_equal(nb, norms)
    assert sum(b["ttf"] for b in blocks) == int(freqs.sum())
    # block metadata is exact
    for blk in blocks:
        lo, hi = blk["block_id"] * BLOCK_SIZE, min(n, (blk["block_id"] + 1) * BLOCK_SIZE)
        assert blk["first_doc"] == docs[lo]
        assert blk["last_doc"] == docs[hi - 1]
        assert blk["num_docs"] == hi - lo


def test_competitive_impacts_skyline():
    freqs = np.array([5, 3, 5, 9, 2])
    norms = np.array([10, 4, 10, 200, 4])
    fs, ns = competitive_impacts(freqs, norms)
    # norm 4 -> max freq 3; norm 10 -> 5 (>3 keep); norm 200 -> 9 (>5 keep)
    assert ns == [4, 10, 200]
    assert fs == [3, 5, 9]
    # dominated pair dropped: same freq at higher norm
    fs2, ns2 = competitive_impacts(np.array([5, 5]), np.array([3, 77]))
    assert ns2 == [3] and fs2 == [5]


def test_impacts_upper_bound_property():
    rng = np.random.default_rng(0)
    freqs = rng.integers(1, 60, size=500)
    norms = rng.integers(0, 256, size=500)
    fs, ns = competitive_impacts(freqs, norms)
    # every (freq, norm) in the block is dominated by some skyline pair with
    # freq >= f and norm <= n (so max over skyline pairs upper-bounds any score)
    for f, n in zip(freqs.tolist(), norms.tolist()):
        assert any(sf >= f and sn <= n for sf, sn in zip(fs, ns))
    # skyline is strictly increasing in both coords
    assert all(fs[i] < fs[i + 1] for i in range(len(fs) - 1))
    assert all(ns[i] < ns[i + 1] for i in range(len(ns) - 1))


def test_batch_skyline_matches_scalar():
    """Batch encoder impact skylines must equal the scalar
    competitive_impacts per block (CompetitiveImpactAccumulator parity)."""
    import numpy as np

    from lucene_spark.functions.codec import (
        BLOCK_SIZE, competitive_impacts, encode_postings_batch,
    )

    rng = np.random.default_rng(11)
    sizes = [700, 256, 255, 13, 1]
    total = sum(sizes)
    ends = np.cumsum(sizes)
    starts = ends - np.asarray(sizes)
    docs = np.empty(total, dtype=np.int64)
    for s, e in zip(starts, ends):
        docs[s:e] = np.sort(rng.choice(10**6, e - s, replace=False))
    freqs = rng.integers(1, 50, total)
    norms = rng.integers(1, 255, total)
    out = encode_postings_batch(docs, freqs, norms, starts, ends)
    # reconstruct per-block row ranges and compare skylines
    j = 0
    for ti, (s, e) in enumerate(zip(starts, ends)):
        for lo in range(s, e, BLOCK_SIZE):
            hi = min(lo + BLOCK_SIZE, e)
            exp_f, exp_n = competitive_impacts(freqs[lo:hi], norms[lo:hi])
            assert out["impact_freqs"][j] == exp_f, (ti, j)
            assert out["impact_norms"][j] == exp_n, (ti, j)
            j += 1
    assert j == len(out["impact_freqs"])


def test_bitset_dense_block_roundtrip_and_size():
    """Dense full blocks encode their doc section as a bitset
    (Lucene104PostingsWriter.java:422-461 unary/bitset form): round-trips
    exactly, engages exactly when smaller than FOR, and scalar/batch stay
    byte-identical."""
    from lucene_spark.functions.codec import (
        _BITSET_MARKER, encode_postings_batch,
    )

    rng = np.random.default_rng(7)
    # dense: 256 docs inside a 300-wide range -> bitset (38B) beats FOR
    docs_dense = np.sort(rng.choice(300, size=256, replace=False)) + 1000
    # sparse: 256 docs over 10^6 -> FOR stays
    docs_sparse = np.sort(rng.choice(10**6, size=256, replace=False))
    freqs = rng.integers(1, 50, size=256)
    norms = rng.integers(0, 256, size=256)

    dense = encode_block(docs_dense, freqs, int(docs_dense[0]), norms)
    sparse = encode_block(docs_sparse, freqs, int(docs_sparse[0]), norms)
    assert dense[0] == _BITSET_MARKER
    assert sparse[0] != _BITSET_MARKER
    for docs, data in ((docs_dense, dense), (docs_sparse, sparse)):
        d, f, nb = decode_block(data, 256, int(docs[0]))
        np.testing.assert_array_equal(d, docs)
        np.testing.assert_array_equal(f, freqs)
        np.testing.assert_array_equal(nb, norms)
    # the dense form is actually smaller than the FOR form would be
    wd = int(np.diff(docs_dense, prepend=docs_dense[0]).max()).bit_length()
    assert len(dense) < len(sparse)  # same freqs/norms, doc section shrank
    assert (len(dense) - (len(sparse) - (1 + (256 * wd + 7) // 8))) < 256

    # batch/scalar byte identity across dense + sparse + tail blocks
    sizes = [256, 256, 300, 40]
    blocks_docs = [docs_dense, docs_sparse,
                   np.sort(rng.choice(400, size=300, replace=False)) + 5000,
                   np.sort(rng.choice(10**5, size=40, replace=False))]
    total = sum(sizes)
    ends = np.cumsum(sizes)
    starts = ends - np.asarray(sizes)
    docs_all = np.concatenate(blocks_docs)
    freqs_all = rng.integers(1, 50, size=total)
    norms_all = rng.integers(0, 256, size=total)
    out = encode_postings_batch(docs_all, freqs_all, norms_all, starts, ends)
    j = 0
    for s, e in zip(starts, ends):
        for lo in range(s, e, BLOCK_SIZE):
            hi = min(lo + BLOCK_SIZE, e)
            if hi - lo == BLOCK_SIZE:  # tail layouts differ by design
                scalar = encode_block(
                    docs_all[lo:hi], freqs_all[lo:hi],
                    int(docs_all[lo]), norms_all[lo:hi])
                assert bytes(out["data"][j]) == scalar, (s, lo)
            d, f, nb = decode_block(bytes(out["data"][j]), hi - lo,
                                    int(docs_all[lo]))
            np.testing.assert_array_equal(d, docs_all[lo:hi])
            np.testing.assert_array_equal(f, freqs_all[lo:hi])
            np.testing.assert_array_equal(nb, norms_all[lo:hi])
            j += 1


def _scalar_decode_all(datas, nds, bases):
    parts = [decode_block(d, n, b) for d, n, b in zip(datas, nds, bases)]
    return tuple(
        np.concatenate([p[k] for p in parts]) if parts else np.zeros(0, np.int64)
        for k in range(3))


def _mixed_blocks(rng):
    """One of every block layout the encoders write, in random order:
    (data, num_docs, delta base, kind)."""
    blocks = []

    def scalar(docs, freqs, norms, kind, base=None):
        base = int(docs[0]) if base is None else base
        blocks.append((encode_block(docs, freqs, base, norms), docs.size,
                       base, kind))

    for _ in range(40):
        # scalar tails: norms FOR-packed at their own width (0..8 bits)
        n = int(rng.integers(1, BLOCK_SIZE))
        docs = np.sort(rng.choice(10**6, n, replace=False))
        freqs = rng.integers(1, 40, n)
        freqs[rng.random(n) < 0.5] = 1
        w = int(rng.integers(0, 9))
        scalar(docs, freqs, rng.integers(0, 1 << w, n), "tail")
    # 1-posting, all-unfolded, all-folded, ids above 2^32, nonzero delta base
    scalar(np.array([7]), np.array([1]), np.array([3]), "tail")
    scalar(np.array([9]), np.array([300]), np.array([255]), "tail")
    docs = np.sort(rng.choice(10**5, 200, replace=False))
    scalar(docs, rng.integers(2, 10**6, 200), rng.integers(0, 256, 200), "tail")
    scalar(docs, np.ones(200, np.int64), rng.integers(0, 256, 200), "tail")
    big = np.sort(rng.choice(10**9, 100, replace=False)) + (1 << 40)
    scalar(big, rng.integers(1, 5, 100), rng.integers(0, 256, 100), "tail")
    scalar(docs[1:], rng.integers(1, 5, 199), rng.integers(0, 256, 199), "tail",
           base=int(docs[0]))
    # full blocks: FOR doc deltas, bitset doc section, PFOR freq exceptions
    sparse = np.sort(rng.choice(10**7, BLOCK_SIZE, replace=False)) + (1 << 33)
    dense = np.sort(rng.choice(300, BLOCK_SIZE, replace=False)) + 5000
    spiky = rng.integers(1, 4, BLOCK_SIZE)
    spiky[rng.choice(BLOCK_SIZE, 5, replace=False)] = 10**6
    assert pfor_encode_freqs(spiky)[0] & 0x80  # patched form engaged
    for docs in (sparse, dense):
        for freqs in (rng.integers(1, 50, BLOCK_SIZE), spiky):
            scalar(docs, freqs, rng.integers(0, 256, BLOCK_SIZE), "full")
    # batch-encoder tails (width-8 raw norms) and full blocks
    sizes = rng.integers(1, 700, 12)
    ends = np.cumsum(sizes)
    starts = ends - sizes
    bdocs = np.concatenate([np.sort(rng.choice(10**6, s, replace=False))
                            for s in sizes])
    bfreqs = rng.integers(1, 30, bdocs.size)
    bfreqs[rng.random(bdocs.size) < 0.6] = 1
    out = encode_postings_batch(bdocs, bfreqs, rng.integers(0, 256, bdocs.size),
                                starts, ends)
    for data, n, first in zip(out["data"], out["num_docs"], out["first_doc"]):
        blocks.append((data, n, first, "tail" if n < BLOCK_SIZE else "full"))
    return [blocks[i] for i in rng.permutation(len(blocks))]


@pytest.mark.parametrize("seed", range(5))
def test_decode_blocks_batch_matches_scalar(seed):
    """The batch decoder equals block-by-block decode_block on a shuffled
    mix of every layout, and on the tails-only and full-only subsets."""
    from lucene_spark.functions.codec import _BITSET_MARKER, _TAIL_MARKER

    blocks = _mixed_blocks(np.random.default_rng(seed))
    markers = {b[0][0] for b in blocks}
    assert {_TAIL_MARKER, _BITSET_MARKER} <= markers
    assert any(m <= 64 for m in markers)  # a FOR doc-section width byte
    for subset in (blocks, [b for b in blocks if b[3] == "tail"],
                   [b for b in blocks if b[3] == "full"]):
        datas, nds, bases, _ = zip(*subset)
        got = decode_blocks_batch(list(datas), nds, bases)
        for g, e in zip(got, _scalar_decode_all(datas, nds, bases)):
            assert g.dtype == np.int64
            np.testing.assert_array_equal(g, e)


def test_decode_blocks_batch_empty():
    for arr in decode_blocks_batch([], [], []):
        assert arr.dtype == np.int64 and arr.size == 0
    d, f, n = decode_postings([])
    assert d.size == f.size == n.size == 0
