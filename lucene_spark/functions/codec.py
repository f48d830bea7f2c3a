"""Posting-list block codec: doc-gap delta + FOR bit-packing + VInt tail.

A from-scratch numpy implementation of the reference postings block layout
(public Apache Lucene source, ``core/codecs/lucene104/``):

  - 256-doc blocks (``ForUtil.java:34`` BLOCK_SIZE=256); full blocks store
    FOR-packed doc deltas at the max-needed bit width (``ForUtil.java:31-90``)
    and PFOR-packed freqs with <=7 out-of-band patched exceptions
    (``PForUtil.java:29`` — exceptions are stored as (position, high-bits)
    pairs after the packed body, see ``encode_pfor``/``decode_pfor``).
  - DENSE full blocks store a [marker][span][bitset-over-span] doc section
    instead of FOR-packed deltas whenever the bitset form is smaller (the
    unary/bitset doc-block arm of ``Lucene104PostingsFormat``;
    ``_bitset_doc_section`` below) — hot terms' full blocks are almost
    always dense, saving ~half the doc-section bytes on exactly the lists
    the slowest queries read.
  - doc deltas are d-gaps, first doc of a block delta'd against the previous
    block's last doc (``Lucene104PostingsFormat.java:180-190``).
  - tail block (<256 postings) is a VInt stream with freq folding:
    ``docDelta<<1 | 1`` when freq==1, else ``docDelta<<1`` followed by VInt
    freq (``Lucene104PostingsFormat.java:190-199``,
    ``FreqProxTermsWriterPerField.java:156-173``).
  - per-block competitive (freq, norm) impact skylines for block-max pruning
    (``CompetitiveImpactAccumulator.java:30-70``, ``Impact.java:20-26``).

Encoding is array-at-a-time numpy, one term (``encode_postings``) or many
terms (``encode_postings_batch``) per call. Decoding comes in two forms:
``decode_block`` decodes one block, for ``check_index``, the independent
scalar oracle, and for the block-rewriting index paths (BP reordering,
expunge). ``decode_blocks_batch`` decodes many blocks in one numpy pass,
for the query paths (one call per Arrow batch) and the merge's cold-term
re-gather, which reads tens of thousands of small tail blocks; its
VInt-tail structure walk loops over posting ordinals (< 256), not over
blocks. Round-trip identity and batch/scalar decode equality are
property-tested in tests/test_codec.py, mirroring
``BasePostingsFormatTestCase`` randomized round-trips.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 256
_TAIL_MARKER = 0xFF
#: dense full-block doc section stored as a BITSET over the block's doc
#: span instead of FOR-packed deltas (``Lucene104PostingsWriter.java:422-461``
#: unary/bitset encoding): chosen whenever the bitset is smaller — hot
#: (stopword-class) terms' blocks are doc-dense, so this shrinks exactly the
#: lists the slowest queries decode, and unpackbits+flatnonzero decodes
#: faster than unpack+cumsum. Markers 0xFE/0xFF cannot collide with a FOR
#: width byte (<= 64).
_BITSET_MARKER = 0xFE


def _bitset_doc_section(docs: np.ndarray, base: int) -> bytes | None:
    """[0xFE][span_bytes u16 LE][bitset] when smaller than the FOR form,
    else None. Bit (doc - base) is set per doc; decode is positional, so the
    block stays independently decodable from its own metadata."""
    span = int(docs[-1]) - base + 1
    nbytes = (span + 7) // 8
    wd = _bit_width(np.diff(docs, prepend=base).astype(np.uint64))
    for_bytes = 1 + (docs.size * wd + 7) // 8
    if nbytes + 3 >= for_bytes or nbytes > 0xFFFF:
        return None
    bits = np.zeros(nbytes * 8, dtype=np.uint8)
    bits[docs - base] = 1
    return (
        bytes([_BITSET_MARKER, nbytes & 0xFF, nbytes >> 8])
        + np.packbits(bits, bitorder="little").tobytes()
    )


# ---------------------------------------------------------------- varint

def vint_encode(vals: np.ndarray) -> np.ndarray:
    """Vectorized LEB128-style 7-bit varint encode of a uint64 array -> uint8."""
    v = np.asarray(vals, dtype=np.uint64)
    n = v.size
    if n == 0:
        return np.zeros(0, dtype=np.uint8)
    nbits = np.frexp(np.maximum(v, 1).astype(np.float64))[1]
    nbytes = np.maximum((nbits + 6) // 7, 1).astype(np.int64)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    max_b = int(nbytes.max())
    for b in range(max_b):
        m = nbytes > b
        chunk = (v[m] >> np.uint64(7 * b)) & np.uint64(0x7F)
        cont = np.where(nbytes[m] > b + 1, 0x80, 0).astype(np.uint64)
        out[starts[m] + b] = (chunk | cont).astype(np.uint8)
    return out


def vint_decode(buf: np.ndarray) -> np.ndarray:
    """Vectorized varint decode of a uint8 buffer -> uint64 array."""
    b = np.asarray(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    return _varints(b, (b & 0x80) == 0)[0]


def _varints(b: np.ndarray, is_end: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Varint values of a non-empty uint8 buffer whose value-final bytes are
    ``is_end`` -> (uint64 values, each value's first byte offset)."""
    ends = np.flatnonzero(is_end)
    starts = np.concatenate(([0], ends[:-1] + 1))
    # byte ordinal within its value, capped at 9 (a uint64 needs <= 10
    # bytes): longer junk runs then never shift by >= 64 bits
    pos = np.minimum(
        np.arange(b.size, dtype=np.int64) - np.repeat(starts, ends - starts + 1), 9)
    contrib = (b & 0x7F).astype(np.uint64) << (7 * pos).astype(np.uint64)
    return np.add.reduceat(contrib, starts), starts


# ---------------------------------------------------------------- FOR packing

def for_pack(vals: np.ndarray, width: int) -> np.ndarray:
    """Pack uint values at fixed bit width (little-endian bit order) -> uint8.

    Byte-lane algorithm: every 8 consecutive values span exactly ``width``
    output bytes; output byte p of a group is assembled from the <=2-3
    values whose bit ranges overlap [8p, 8p+8). That is <= width+8 shift/
    mask ops over n/8-sized arrays — no n x width bit matrix (the naive
    unpack-to-bits layout is O(n*width) memory and went superlinear on
    segment-scale inputs from allocator pressure)."""
    if width == 0:
        return np.zeros(0, dtype=np.uint8)
    v = np.asarray(vals, dtype=np.uint64)
    n = v.size
    if n == 0:
        return np.zeros(0, dtype=np.uint8)
    out_len = (n * width + 7) // 8
    ngroups = (n + 7) // 8
    if n % 8:
        v = np.concatenate([v, np.zeros(8 - n % 8, dtype=np.uint64)])
    g = v.reshape(ngroups, 8)
    out = np.zeros((ngroups, width), dtype=np.uint8)
    for p in range(width):
        lo_bit = 8 * p
        j0 = lo_bit // width
        j1 = min((lo_bit + 7) // width, 7)
        acc = np.zeros(ngroups, dtype=np.uint64)
        for j in range(j0, j1 + 1):
            start = j * width
            if start >= lo_bit:
                acc |= (g[:, j] << np.uint64(start - lo_bit))
            else:
                acc |= (g[:, j] >> np.uint64(lo_bit - start))
        out[:, p] = (acc & np.uint64(0xFF)).astype(np.uint8)
    return out.reshape(-1)[:out_len]


def for_unpack(buf: np.ndarray, width: int, n: int) -> np.ndarray:
    """Unpack n values of `width` bits from uint8 buffer -> uint64."""
    if width == 0:
        return np.zeros(n, dtype=np.uint64)
    bits = np.unpackbits(np.asarray(buf, dtype=np.uint8), bitorder="little")[: n * width]
    weights = (np.uint64(1) << np.arange(width, dtype=np.uint64))
    return bits.reshape(n, width).astype(np.uint64) @ weights


def _bit_width(vals: np.ndarray) -> int:
    m = int(vals.max()) if vals.size else 0
    return m.bit_length()


_PFOR_FLAG = 0x80
MAX_PFOR_EXCEPTIONS = 7


def pfor_encode_freqs(fr: np.ndarray) -> bytes:
    """PFOR freq section of a full block (``PForUtil.java:29-70`` semantics:
    base width covers all but <= 7 patched exceptions, whose high bits are
    stored out-of-band). Layout:

      plain  : [width]            [FOR lows]
      patched: [base | 0x80]      [FOR lows] [n_exc] [pos u8 ...] [high VInt ...]

    The width byte's high bit flags the patched form (widths are <= 64, so
    the bit is free); returns the plain FOR layout when patching would not
    help (no exceptions at the minimal base)."""
    v = np.asarray(fr, dtype=np.uint64)
    widths = np.frexp(np.maximum(v, 1).astype(np.float64))[1].astype(np.int64)
    wmax = int(widths.max()) if v.size else 0
    # base = smallest width leaving <= MAX_PFOR_EXCEPTIONS exceptions
    srt = np.sort(widths)
    base = int(srt[max(srt.size - 1 - MAX_PFOR_EXCEPTIONS, 0)])
    if base >= wmax:
        return bytes([wmax]) + for_pack(v, wmax).tobytes()
    exc = np.flatnonzero(widths > base)
    lows = v & np.uint64((1 << base) - 1)
    highs = (v[exc] >> np.uint64(base)).astype(np.uint64)
    return (
        bytes([base | _PFOR_FLAG])
        + for_pack(lows, base).tobytes()
        + bytes([exc.size])
        + exc.astype(np.uint8).tobytes()
        + vint_encode(highs).tobytes()
    )


def pfor_decode_freqs(buf: np.ndarray, off: int, n: int) -> tuple[np.ndarray, int]:
    """Inverse of pfor_encode_freqs; returns (freqs int64, next offset)."""
    wbyte = int(buf[off])
    base = wbyte & 0x7F
    nb = (n * base + 7) // 8
    lows = for_unpack(buf[off + 1 : off + 1 + nb], base, n).astype(np.int64)
    off = off + 1 + nb
    if not wbyte & _PFOR_FLAG:
        return lows, off
    n_exc = int(buf[off])
    off += 1
    pos = buf[off : off + n_exc].astype(np.int64)
    off += n_exc
    # n_exc self-delimiting VInts: scan terminator bytes
    terms_found = 0
    j = off
    while terms_found < n_exc:
        if not buf[j] & 0x80:
            terms_found += 1
        j += 1
    highs = vint_decode(buf[off:j]).astype(np.int64)
    off = j
    lows[pos] |= highs << base
    return lows, off


# ---------------------------------------------------------------- blocks

def encode_block(
    doc_ids: np.ndarray,
    freqs: np.ndarray,
    prev_last_doc: int,
    norm_bytes: np.ndarray,
) -> bytes:
    """Encode one block (<=256 postings, sorted doc_ids, freqs>=1).

    Unlike the reference (norms in a separate per-segment file read locally,
    ``Lucene90NormsFormat``), we colocate the 1-byte norm with each posting:
    on a distributed engine a query-time doc_id->norm join would shuffle the
    full norms table per query, which does not survive a 100x scale-up. The
    cost is <=1 byte/posting, FOR-packed.
    """
    docs = np.asarray(doc_ids, dtype=np.int64)
    fr = np.asarray(freqs, dtype=np.int64)
    nb = (np.asarray(norm_bytes, dtype=np.int64) & 0xFF)
    deltas = np.diff(docs, prepend=prev_last_doc)
    wn = _bit_width(nb.astype(np.uint64))
    norm_part = np.concatenate(
        [np.array([wn], dtype=np.uint8), for_pack(nb.astype(np.uint64), wn)]
    )
    if docs.size == BLOCK_SIZE:
        bs = _bitset_doc_section(docs, int(prev_last_doc))
        if bs is not None:
            return bs + pfor_encode_freqs(fr) + norm_part.tobytes()
        wd = _bit_width(deltas.astype(np.uint64))
        return (
            bytes([wd])
            + for_pack(deltas.astype(np.uint64), wd).tobytes()
            + pfor_encode_freqs(fr)
            + norm_part.tobytes()
        )
    # tail: interleaved VInt with freq folding
    codes: list[int] = []
    for d, f in zip(deltas.tolist(), fr.tolist()):
        if f == 1:
            codes.append((d << 1) | 1)
        else:
            codes.append(d << 1)
            codes.append(f)
    body = vint_encode(np.array(codes, dtype=np.uint64))
    return bytes([_TAIL_MARKER]) + body.tobytes() + norm_part.tobytes()


def decode_block(
    data: bytes, num_docs: int, prev_last_doc: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one block -> (doc_ids, freqs, norm_bytes) int64 arrays."""
    buf = np.frombuffer(data, dtype=np.uint8)

    def _norms(off: int) -> np.ndarray:
        wn = int(buf[off])
        return for_unpack(buf[off + 1 :], wn, num_docs).astype(np.int64)

    if buf.size and buf[0] == _TAIL_MARKER:
        # vint stream is self-delimiting per value; find its byte length by
        # counting terminator bytes (high bit clear) until we have all values
        body = buf[1:]
        ends = np.flatnonzero((body & 0x80) == 0)
        flat_all = vint_decode(body[: ends[-1] + 1]) if ends.size else np.zeros(0, np.uint64)
        lowbit = (flat_all & np.uint64(1)).astype(np.int64)
        fold_all = lowbit == 1
        if fold_all.all() or num_docs == 0:
            # common fast path: every freq folded -> values are all codes
            code_idx = np.arange(num_docs, dtype=np.int64)
        else:
            # walk the code/freq structure (tiny: <256 steps, minimal body)
            step = (2 - lowbit).tolist()
            code_idx = np.empty(num_docs, dtype=np.int64)
            i = 0
            for k in range(num_docs):
                code_idx[k] = i
                i += step[i]
        deltas = (flat_all[code_idx] >> np.uint64(1)).astype(np.int64)
        folded = fold_all[code_idx]
        freqs = np.ones(num_docs, dtype=np.int64)
        nf = ~folded
        if nf.any():
            freqs[nf] = flat_all[code_idx[nf] + 1].astype(np.int64)
        last = int(code_idx[-1]) + (1 if folded[-1] else 2) if num_docs else 0
        vint_len = int(ends[last - 1]) + 1 if last > 0 else 0
        docs = np.cumsum(deltas) + prev_last_doc
        return docs, freqs, _norms(1 + vint_len)
    if buf.size and buf[0] == _BITSET_MARKER:
        nbytes = int(buf[1]) | (int(buf[2]) << 8)
        bits = np.unpackbits(buf[3 : 3 + nbytes], bitorder="little")
        docs = np.flatnonzero(bits).astype(np.int64) + prev_last_doc
        freqs, off = pfor_decode_freqs(buf, 3 + nbytes, num_docs)
        return docs, freqs, _norms(off)
    wd = int(buf[0])
    nd = (num_docs * wd + 7) // 8
    deltas = for_unpack(buf[1 : 1 + nd], wd, num_docs).astype(np.int64)
    freqs, off = pfor_decode_freqs(buf, 1 + nd, num_docs)
    docs = np.cumsum(deltas) + prev_last_doc
    return docs, freqs, _norms(off)


def competitive_impacts(freqs: np.ndarray, norm_bytes: np.ndarray) -> tuple[list[int], list[int]]:
    """Skyline of competitive (freq, norm) pairs for one block.

    Keeps, per distinct norm byte, the max freq; then prunes pairs dominated by
    a pair with <= norm and >= freq (CompetitiveImpactAccumulator semantics).
    Returns (freq_list, norm_list) sorted by norm ascending.
    """
    fr = np.asarray(freqs, dtype=np.int64)
    nb = np.asarray(norm_bytes, dtype=np.int64) & 0xFF
    order = np.argsort(nb, kind="stable")
    nb_s, fr_s = nb[order], fr[order]
    uniq, idx = np.unique(nb_s, return_index=True)
    max_per_norm = np.maximum.reduceat(fr_s, idx)
    keep_f: list[int] = []
    keep_n: list[int] = []
    running = -1
    for n, f in zip(uniq.tolist(), max_per_norm.tolist()):
        if f > running:
            keep_f.append(int(f))
            keep_n.append(int(n))
            running = int(f)
    return keep_f, keep_n


def encode_postings(
    doc_ids: np.ndarray, freqs: np.ndarray, norm_bytes: np.ndarray
) -> list[dict]:
    """Split one term's postings into blocks; returns per-block dicts with
    keys: block_id, first_doc, last_doc, num_docs, data (bytes),
    impact_freqs, impact_norms."""
    docs = np.asarray(doc_ids, dtype=np.int64)
    fr = np.asarray(freqs, dtype=np.int64)
    nb = np.asarray(norm_bytes, dtype=np.int64)
    out = []
    for bi in range(0, docs.size, BLOCK_SIZE):
        d = docs[bi : bi + BLOCK_SIZE]
        f = fr[bi : bi + BLOCK_SIZE]
        n = nb[bi : bi + BLOCK_SIZE]
        imp_f, imp_n = competitive_impacts(f, n)
        out.append(
            {
                "block_id": bi // BLOCK_SIZE,
                "first_doc": int(d[0]),
                "last_doc": int(d[-1]),
                "num_docs": int(d.size),
                "ttf": int(f.sum()),
                # delta base = own first_doc, NOT the previous block's last doc
                # (Lucene chains blocks sequentially in one file,
                # Lucene104PostingsFormat.java:180-190; a distributed scan
                # needs every block independently decodable because Arrow
                # batches split a term's blocks across tasks)
                "data": encode_block(d, f, int(d[0]), n),
                "impact_freqs": imp_f,
                "impact_norms": imp_n,
            }
        )
    return out


def _vint_sizes(vals: np.ndarray) -> np.ndarray:
    """Per-value encoded byte length (must mirror vint_encode)."""
    v = np.asarray(vals, dtype=np.uint64)
    nbits = np.frexp(np.maximum(v, 1).astype(np.float64))[1]
    return np.maximum((nbits + 6) // 7, 1).astype(np.int64)


def encode_postings_batch(
    docs: np.ndarray,
    freqs: np.ndarray,
    norm_bytes: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
) -> dict[str, list]:
    """Encode MANY terms' postings in ONE vectorized pass.

    ``docs/freqs/norm_bytes`` are the concatenated per-term postings (term
    ranges given by ``starts[i]:ends[i]``, docs sorted within each term).
    Every term's range is first split into <=BLOCK_SIZE chunks (block
    boundaries are materialized up front, vectorized), then ALL blocks are
    VInt-tail encoded with freq folding in a single numpy pass — the only
    Python-level work is byte slicing per block.

    Full 256-doc blocks are FOR-packed exactly like the scalar
    ``encode_block`` layout ([wd] deltas [wf] freqs [wn] norms at max-needed
    bit width, ``ForUtil.java:31-90``); packing is vectorized ACROSS blocks
    grouped by bit width (256 values * w bits = exactly 32w bytes, so
    concatenated packbits slices per block with no alignment fixup). Tail
    blocks (<256) are the VInt layout with freq folding.

    Differences vs the scalar ``encode_postings`` path (both decode
    identically via ``decode_block``): tail-block norms are written width-8
    raw (scalar packs them). Impacts are the full competitive skyline
    (identical to the scalar ``competitive_impacts``), vectorized across
    all blocks.

    Returns dict of parallel lists: term_idx, block_id, first_doc, last_doc,
    num_docs, ttf, data, impact_freqs, impact_norms.
    """
    docs = np.asarray(docs, dtype=np.int64)
    freqs = np.asarray(freqs, dtype=np.int64)
    nb = np.asarray(norm_bytes, dtype=np.int64) & 0xFF
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    sizes = ends - starts
    n_terms = starts.size

    out: dict[str, list] = {
        k: []
        for k in (
            "term_idx", "block_id", "first_doc", "last_doc", "num_docs",
            "ttf", "data", "impact_freqs", "impact_norms",
        )
    }
    if docs.size == 0 or n_terms == 0:
        return out

    # ---- split every term range into <=256-doc blocks (vectorized)
    nbpt = (sizes + BLOCK_SIZE - 1) // BLOCK_SIZE  # blocks per term
    total_blocks = int(nbpt.sum())
    term_of_block = np.repeat(np.arange(n_terms, dtype=np.int64), nbpt)
    # within-term block ordinal: arange per term
    first_block_of_term = np.concatenate(([0], np.cumsum(nbpt)[:-1]))
    block_ord = np.arange(total_blocks, dtype=np.int64) - first_block_of_term[term_of_block]
    bstarts = starts[term_of_block] + block_ord * BLOCK_SIZE
    bends = np.minimum(bstarts + BLOCK_SIZE, ends[term_of_block])
    bsizes = bends - bstarts

    # rows are already contiguous per block in term order? Only if blocks of a
    # term tile its range in order — they do, and terms are contiguous, so the
    # concatenation of [bstarts[i]:bends[i]] is exactly 0..N in order.
    # Therefore per-row block index:
    row_block = np.repeat(np.arange(total_blocks, dtype=np.int64), bsizes)
    bs_row = np.concatenate(([0], np.cumsum(bsizes)[:-1]))  # first row of block

    delta = docs.copy()
    delta[1:] -= docs[:-1]
    delta[bs_row] = 0  # each block's delta base is its own first_doc

    full_blk = bsizes == BLOCK_SIZE
    row_is_full = np.repeat(full_blk, bsizes)

    # ---- FOR-packed full blocks, vectorized across blocks per bit width
    # (scalar encode_block layout: [wd] deltas [wf] freqs [wn] norms)
    full_payload: dict[int, bytes] = {}
    if full_blk.any():
        # int64 -> uint64 is a zero-copy reinterpret (values are nonnegative)
        fd = delta[row_is_full].view(np.uint64).reshape(-1, BLOCK_SIZE)
        ff = freqs[row_is_full].view(np.uint64).reshape(-1, BLOCK_SIZE)
        fn = nb[row_is_full].view(np.uint64).reshape(-1, BLOCK_SIZE)
        fb_ids = np.flatnonzero(full_blk)

        def _widths(mat: np.ndarray) -> np.ndarray:
            mx = mat.max(axis=1)
            w = np.zeros(mx.size, dtype=np.int64)
            nz = mx > 0
            w[nz] = np.floor(np.log2(mx[nz].astype(np.float64))).astype(np.int64) + 1
            return w

        def _pack_rows(mat: np.ndarray, widths: np.ndarray) -> list[bytes]:
            out: list[bytes] = [b""] * mat.shape[0]
            uniq = np.unique(widths)
            for w in uniq:
                if w == 0:
                    continue  # width 0 packs to zero bytes
                if uniq.size == 1:
                    flat = mat.reshape(-1)  # view: skip the fancy-index copy
                    rows = range(mat.shape[0])
                else:
                    idx = np.flatnonzero(widths == w)
                    flat = mat[idx].reshape(-1)
                    rows = idx.tolist()
                packed = for_pack(flat, int(w)).tobytes()
                per = BLOCK_SIZE * int(w) // 8  # exact: 256*w bits = 32w bytes
                for k, r in enumerate(rows):
                    out[r] = packed[k * per : (k + 1) * per]
            return out

        wd_a, wn_a = _widths(fd), _widths(fn)
        dparts = _pack_rows(fd, wd_a)
        nparts = _pack_rows(fn, wn_a)

        # PFOR freqs (PForUtil.java semantics, vectorized across blocks):
        # base width = 8th-largest per-block bit length -> <= 7 exceptions,
        # whose high bits go out-of-band as VInts
        fw_all = np.frexp(np.maximum(ff, 1).astype(np.float64))[1].astype(np.int64)
        wmax_b = fw_all.max(axis=1)
        kidx = BLOCK_SIZE - 1 - MAX_PFOR_EXCEPTIONS
        base_b = np.partition(fw_all, kidx, axis=1)[:, kidx]
        patched = base_b < wmax_b
        eff_w = np.where(patched, base_b, wmax_b)
        lows = ff & (((np.uint64(1) << eff_w.astype(np.uint64))
                      - np.uint64(1))[:, None])
        fparts = _pack_rows(lows, eff_w)
        er, ec = np.nonzero(fw_all > eff_w[:, None])
        highs = ff[er, ec] >> eff_w[er].astype(np.uint64)
        hbytes = vint_encode(highs).tobytes()
        hoff = np.concatenate(([0], np.cumsum(_vint_sizes(highs))))
        nblk_full = ff.shape[0]
        e_lo = np.searchsorted(er, np.arange(nblk_full))
        e_hi = np.searchsorted(er, np.arange(nblk_full), side="right")
        ec_u8 = ec.astype(np.uint8).tobytes()

        patched_l = patched.tolist()
        for k, bid in enumerate(fb_ids.tolist()):
            if patched_l[k]:
                a, b2 = int(e_lo[k]), int(e_hi[k])
                fsec = (
                    bytes([int(eff_w[k]) | _PFOR_FLAG]) + fparts[k]
                    + bytes([b2 - a]) + ec_u8[a:b2]
                    + hbytes[hoff[a]:hoff[b2]]
                )
            else:
                fsec = bytes([int(eff_w[k])]) + fparts[k]
            # dense-block bitset doc section (same choice rule as the scalar
            # encode_block, so scalar/batch stay byte-identical)
            bdocs = docs[bstarts[bid]:bends[bid]]
            dsec = _bitset_doc_section(bdocs, int(bdocs[0]))
            if dsec is None:
                dsec = bytes([int(wd_a[k])]) + dparts[k]
            full_payload[bid] = (
                dsec + fsec + bytes([int(wn_a[k])]) + nparts[k]
            )

    # ---- VInt body with freq folding over TAIL-block rows only
    trows = ~row_is_full
    t_delta = delta[trows]
    t_freqs = freqs[trows]
    tsizes = bsizes[~full_blk]
    t_bs_row = np.concatenate(([0], np.cumsum(tsizes)[:-1])) if tsizes.size else np.zeros(0, np.int64)
    fold = t_freqs == 1
    extra = ~fold
    code = (t_delta.astype(np.uint64) << np.uint64(1)) | fold.astype(np.uint64)
    npos = np.arange(t_delta.size, dtype=np.int64) + np.concatenate(
        ([0], np.cumsum(extra.astype(np.int64))[:-1])
    )
    vals = np.zeros(t_delta.size + int(extra.sum()), dtype=np.uint64)
    if vals.size:
        vals[npos] = code
        vals[npos[extra] + 1] = t_freqs[extra].astype(np.uint64)
    body = vint_encode(vals).tobytes()
    boff = np.concatenate(([0], np.cumsum(_vint_sizes(vals))))
    if tsizes.size:
        vstart = npos[t_bs_row]
        vend = np.concatenate((vstart[1:], [vals.size]))
        byte_lo = boff[vstart]
        byte_hi = boff[vend]
    else:
        byte_lo = byte_hi = np.zeros(0, dtype=np.int64)
    norm_raw = nb.astype(np.uint8).tobytes()

    # ---- per-block competitive impact SKYLINE (CompetitiveImpactAccumulator
    # semantics, matching the scalar competitive_impacts): per distinct norm
    # byte the max freq, then entries dominated by a lower-norm pair with
    # >= freq are pruned — vectorized across ALL blocks with one lexsort +
    # reduceat + a Hillis-Steele segmented prefix-max (<= 8 doubling passes).
    order_i = np.lexsort((nb, row_block))
    rb_s = row_block[order_i]
    nb_s = nb[order_i]
    fr_s = freqs[order_i]
    new_grp = np.concatenate(
        ([True], (rb_s[1:] != rb_s[:-1]) | (nb_s[1:] != nb_s[:-1]))
    )
    g_start = np.flatnonzero(new_grp)
    g_block = rb_s[g_start]
    g_norm = nb_s[g_start]
    g_freq = np.maximum.reduceat(fr_s, g_start)
    # exclusive prefix max of g_freq within each block segment
    prev = np.full(g_freq.size, -1, dtype=np.int64)
    prev[1:] = g_freq[:-1]
    prev[np.concatenate(([True], g_block[1:] != g_block[:-1]))] = -1
    d = 1
    while d < g_freq.size:
        cand = prev[:-d]
        same = g_block[d:] == g_block[:-d]
        np.maximum(prev[d:], np.where(same, cand, -1), out=prev[d:])
        if d >= BLOCK_SIZE:
            break
        d *= 2
    keep = g_freq > prev
    sk_block = g_block[keep]
    sk_norm = g_norm[keep]
    sk_freq = g_freq[keep]
    sk_bounds = np.searchsorted(sk_block, np.arange(total_blocks + 1))

    ttfs = np.add.reduceat(freqs, bs_row)
    firsts = docs[bs_row]
    lasts = docs[bends - 1]
    tm = bytes([_TAIL_MARKER])
    w8 = bytes([8])

    out["term_idx"] = term_of_block.tolist()
    out["block_id"] = block_ord.tolist()
    out["first_doc"] = firsts.tolist()
    out["last_doc"] = lasts.tolist()
    out["num_docs"] = bsizes.tolist()
    out["ttf"] = ttfs.tolist()
    sk_f_l = sk_freq.tolist()
    sk_n_l = sk_norm.tolist()
    sk_b_l = sk_bounds.tolist()
    out["impact_freqs"] = [
        sk_f_l[sk_b_l[j]:sk_b_l[j + 1]] for j in range(total_blocks)
    ]
    out["impact_norms"] = [
        sk_n_l[sk_b_l[j]:sk_b_l[j + 1]] for j in range(total_blocks)
    ]
    data = out["data"]
    tail_ord = (np.cumsum(~full_blk) - 1).tolist()
    blo = byte_lo.tolist()
    bhi = byte_hi.tolist()
    rlo = bstarts.tolist()
    rhi = bends.tolist()
    is_full = full_blk.tolist()
    for j in range(total_blocks):
        if is_full[j]:
            data.append(full_payload[j])
        else:
            t = tail_ord[j]
            data.append(tm + body[blo[t]:bhi[t]] + w8 + norm_raw[rlo[j]:rhi[j]])
    return out


def decode_blocks_batch(
    datas, num_docs, first_docs
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY blocks in one numpy pass -> concatenated (doc_ids, freqs,
    norm_bytes) int64 arrays in input block order; ``first_docs[i]`` is
    block i's delta base (the ``prev_last_doc`` of ``decode_block``).

    The inverse of ``encode_postings_batch`` and equal, block for block, to
    ``decode_block``. VInt tail blocks (the bulk of a merge's cold-term
    input: short lists from many segments) decode array-at-a-time:

      - one varint pass over the concatenated tails, value ends forced at
        each block's marker byte and last byte so no value spans blocks
        (the norm bytes after a body parse as junk values, never read);
      - the code/freq structure walk runs over posting ordinal k < 256 for
        ALL blocks at once, the still-active blocks kept as a prefix by
        sorting on num_docs;
      - doc deltas by one segmented cumsum from each block's base;
      - norms by one bit gather at each block's own width (<= 8, so a
        value spans at most two bytes).

    Full blocks (FOR or bitset doc section) keep the per-block path."""
    datas = list(datas)
    nd = np.asarray(num_docs, dtype=np.int64)
    fd = np.asarray(first_docs, dtype=np.int64)
    is_tail = np.fromiter(
        (len(b) > 0 and b[0] == _TAIL_MARKER for b in datas), dtype=bool,
        count=len(datas))
    if is_tail.all():
        return _decode_tails(datas, nd, fd)
    out_end = np.cumsum(nd)
    out_start = out_end - nd
    total = int(out_end[-1])
    docs = np.empty(total, dtype=np.int64)
    freqs = np.empty(total, dtype=np.int64)
    norms = np.empty(total, dtype=np.int64)
    for j in np.flatnonzero(~is_tail).tolist():
        lo, hi = int(out_start[j]), int(out_end[j])
        docs[lo:hi], freqs[lo:hi], norms[lo:hi] = decode_block(
            datas[j], int(nd[j]), int(fd[j]))
    if is_tail.any():
        rows = np.repeat(is_tail, nd)
        docs[rows], freqs[rows], norms[rows] = _decode_tails(
            [datas[j] for j in np.flatnonzero(is_tail).tolist()],
            nd[is_tail], fd[is_tail])
    return docs, freqs, norms


def _decode_tails(
    datas: list, nd: np.ndarray, fd: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``decode_blocks_batch`` over VInt tail blocks only."""
    if not datas:
        z = np.zeros(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    buf = np.frombuffer(b"".join(datas), dtype=np.uint8)
    lens = np.fromiter(map(len, datas), dtype=np.int64, count=len(datas))
    b_end = np.cumsum(lens)
    b_start = b_end - lens

    # ---- varints over the whole buffer, never spanning a block boundary
    is_end = (buf & 0x80) == 0
    is_end[b_start] = True
    is_end[b_end - 1] = True
    vals, v_start = _varints(buf, is_end)
    step = 2 - (vals & np.uint64(1)).astype(np.int64)
    body = np.searchsorted(v_start, b_start) + 1  # first value after the marker

    # ---- code/freq walk: posting k of every block with num_docs > k
    out_end = np.cumsum(nd)
    out_start = out_end - nd
    order = np.argsort(-nd, kind="stable")
    o_body, o_out = body[order], out_start[order]
    active = nd.size - np.searchsorted(np.sort(nd), np.arange(int(nd.max())),
                                       side="right")
    cur = np.zeros(nd.size, dtype=np.int64)
    code_idx = np.empty(int(out_end[-1]), dtype=np.int64)
    for k, m in enumerate(active.tolist()):
        ci = o_body[:m] + cur[:m]
        code_idx[o_out[:m] + k] = ci
        cur[:m] += step[ci]
    body_end = np.empty_like(cur)
    body_end[order] = o_body + cur  # value index of each block's norm-width byte

    codes = vals[code_idx]
    deltas = (codes >> np.uint64(1)).astype(np.int64)
    freqs = np.ones(code_idx.size, dtype=np.int64)
    nf = (codes & np.uint64(1)) == 0
    freqs[nf] = vals[code_idx[nf] + 1].astype(np.int64)
    # segmented cumsum (int64 wraparound cancels in the subtraction)
    cs = np.cumsum(deltas)
    before = np.concatenate(([0], cs))[out_start]
    docs = cs + np.repeat(fd - before, nd)

    # ---- norms: FOR-unpack at each block's width via a two-byte gather
    wn_at = v_start[body_end]
    wn = buf[wn_at].astype(np.int64)
    if (wn > 8).any():
        raise ValueError("tail block norm width > 8")
    ordinal = np.arange(code_idx.size, dtype=np.int64) - np.repeat(out_start, nd)
    w = np.repeat(wn, nd)
    bit = np.repeat((wn_at + 1) * 8, nd) + ordinal * w
    # two zero pad bytes: a last block's width-0 norms point one past its end
    padded = np.append(buf, np.zeros(2, dtype=np.uint8))
    byte = bit >> 3
    two = padded[byte].astype(np.int64) | (padded[byte + 1].astype(np.int64) << 8)
    norms = (two >> (bit & 7)) & ((1 << w) - 1)
    return docs, freqs, norms


def decode_postings(blocks: list[dict]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of encode_postings over a term's block list ->
    (doc_ids, freqs, norm_bytes)."""
    blocks = sorted(blocks, key=lambda x: x["block_id"])
    return decode_blocks_batch(
        [b["data"] for b in blocks],
        [b["num_docs"] for b in blocks],
        [b["first_doc"] for b in blocks],
    )
