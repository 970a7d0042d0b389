"""Canonical length-limited Huffman coding for dictionary-code streams.

The segment-dictionary codecs (linedict/pathdict/dict) reduce a string
chunk to a small-alphabet uint stream; ``bitpack.pack_uints_auto`` stores
that stream at a fixed bit width (or the two-stream escape hybrid), which
leaves the order-0 entropy gap on the table: a frequency-ranked line-id
stream over k=547 lines measures H0 = 7.8 bits against a 10-bit packed
width.  This module closes that gap with the classical columnar answer —
a canonical, length-limited Huffman code per chunk — built from scratch:

- code lengths from the two-queue Huffman construction (O(k log k) in the
  sort, O(k) merge), length-limited to ``max_len`` bits by the BITS
  histogram adjustment of ITU-T T.81 Annex K.3 (the same procedure the
  repo's JPEG encoder tests exercise);
- canonical code assignment (sorted by (length, symbol)), so the decode
  table rebuilds from the k code lengths alone — the only table shipped;
- the symbol stream is split into fixed-count SEGMENTS, each byte-aligned
  with its own length header, so decode parallelizes across segments
  (zstd ships 4-stream Huffman for the same reason; here segments also
  let the NumPy fallback step all segments per iteration instead of one
  symbol at a time);
- encode is fully vectorized NumPy: per-symbol (code, len) gathers, an
  exclusive cumsum for bit offsets, then 4 byte-lane ``np.bincount``
  passes — contributions to one output byte never share bits, so float64
  summation IS bitwise OR, exactly;
- decode: a compiled C kernel (native/kernels.c ``huff_decode``) walks a
  2^table_bits prefix LUT; the NumPy fallback decodes all segments in
  lockstep with the same LUT, byte-identical (property-tested).

Bitstream layout (body of ``bitpack.pack_uints_auto`` tag 2, after the
shared [u32 n][u8 tag] frame):

    [u8 table_bits][u32 k][k x u8 code lengths]
    [u32 seg_syms][u32 n_seg][n_seg x u32 segment byte length]
    [segment payloads, MSB-first bits, each segment byte-aligned]

Symbols are the integers 0..k-1 (callers frequency-rank first, so the
alphabet is dense and the lens table is small); length 0 = absent.
"""

from __future__ import annotations

import struct

import numpy as np

U32 = struct.Struct("<I")

MAX_LEN = 16          # decode LUT is 2^MAX_LEN entries; T.81-style limit
SEG_SYMS = 4096       # symbols per segment (independent decode units)


def code_lengths(counts: np.ndarray, max_len: int = MAX_LEN) -> np.ndarray:
    """Huffman code lengths (uint8, 0 = unused symbol), limited to max_len.

    Two-queue construction over the count-sorted alphabet, then the BITS
    adjustment of ITU-T T.81 K.3: repeatedly take a pair from the longest
    over-limit length, move one code up and rebalance, which preserves the
    Kraft equality while capping depth. Raises ValueError when more than
    2^max_len symbols are present: no prefix code that short exists.

    Hot path is a compiled C kernel (native/kernels.c
    ``huff_code_lengths``, r8 — the two-queue merge is a data-dependent
    sequential chain, unvectorizable in NumPy); this Python body is the
    always-available fallback and the kernel's reference semantics
    (byte-identical, property-tested in tests/test_native.py).
    """
    from .. import native

    nat = native.huff_code_lengths(counts, max_len)
    if nat is not None:
        return nat
    return _code_lengths_py(counts, max_len)


def _code_lengths_py(counts: np.ndarray,
                     max_len: int = MAX_LEN) -> np.ndarray:
    """Pure-Python reference body of code_lengths (the native kernel's
    semantics and the no-toolchain fallback)."""
    counts = np.asarray(counts, dtype=np.int64)
    k = len(counts)
    present = np.flatnonzero(counts > 0)
    lens = np.zeros(k, dtype=np.uint8)
    m = len(present)
    if m == 0:
        return lens
    if max_len < 0 or m > 1 << max_len:
        raise ValueError(f"huffman: {m} symbols do not fit codes of at "
                         f"most {max_len} bits")
    if m == 1:
        lens[present[0]] = 1
        return lens
    # two-queue merge: leaves sorted ascending; merged nodes are produced
    # in nondecreasing weight order so a FIFO queue keeps them sorted.
    order = present[np.argsort(counts[present], kind="stable")]
    leaf_w = counts[order]
    node_w = np.empty(m - 1, dtype=np.int64)
    node_kids = np.empty((m - 1, 2), dtype=np.int64)  # <m: leaf, else node
    li = 0              # next leaf
    nh = nt = 0         # node queue head/tail
    for t in range(m - 1):
        picks = []
        for _ in range(2):
            take_leaf = li < m and (nh >= nt or leaf_w[li] <= node_w[nh])
            if take_leaf:
                picks.append((int(leaf_w[li]), li))
                li += 1
            else:
                picks.append((int(node_w[nh]), m + nh))
                nh += 1
        node_w[nt] = picks[0][0] + picks[1][0]
        node_kids[nt] = (picks[0][1], picks[1][1])
        nt += 1
    # depth of every leaf: walk nodes root-down (last node is the root)
    depth = np.zeros(m - 1, dtype=np.int64)
    raw = np.zeros(m, dtype=np.int64)
    for t in range(m - 2, -1, -1):
        d = depth[t] + 1
        for c in node_kids[t]:
            if c >= m:
                depth[c - m] = d
            else:
                raw[c] = d
    # length-limit via the BITS histogram (T.81 K.3 Adjust_BITS)
    max_raw = int(raw.max())
    bits = np.bincount(raw, minlength=max(max_raw, max_len) + 1)
    i = max_raw
    while i > max_len:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    # reassign lengths: shortest lengths to the most frequent symbols
    # (order[] is ascending by count, so fill from the back)
    fill = []
    for length in range(1, max_len + 1):
        fill.extend([length] * int(bits[length]))
    fill_arr = np.array(fill, dtype=np.uint8)
    assert len(fill_arr) == m
    lens[order[::-1]] = fill_arr          # most frequent -> shortest
    return lens


def canonical_codes(lens: np.ndarray) -> np.ndarray:
    """MSB-first canonical codes (uint32) for the given code lengths.

    Symbols sorted by (length, symbol); first code of each length =
    (prev_first + prev_count) << 1 (RFC 1951 §3.2.2 construction).
    """
    lens = np.asarray(lens, dtype=np.uint8)
    k = len(lens)
    codes = np.zeros(k, dtype=np.uint32)
    if k == 0:
        return codes
    bl_count = np.bincount(lens, minlength=MAX_LEN + 1).astype(np.uint64)
    bl_count[0] = 0
    next_code = np.zeros(MAX_LEN + 2, dtype=np.uint64)
    code = np.uint64(0)
    for L in range(1, MAX_LEN + 1):
        code = (code + bl_count[L - 1]) << np.uint64(1)
        next_code[L] = code
    # vectorized per-length assignment: rank within each length class
    present = lens > 0
    order = np.lexsort((np.arange(k), lens))      # by (len, sym)
    ol = lens[order]
    # rank within equal-length runs
    starts = np.flatnonzero(np.concatenate([[True], ol[1:] != ol[:-1]]))
    run_id = np.cumsum(np.concatenate([[0], (ol[1:] != ol[:-1]).astype(np.int64)]))
    rank = np.arange(k, dtype=np.uint64) - np.asarray(starts, dtype=np.uint64)[run_id]
    vals = next_code[ol.astype(np.int64)] + rank
    out = np.zeros(k, dtype=np.uint64)
    out[order] = vals
    out[~present] = 0
    return out.astype(np.uint32)


def _decode_lut(lens: np.ndarray, table_bits: int
                ) -> tuple[np.ndarray, np.ndarray]:
    """(sym, len) prefix LUT of 2^table_bits entries, built vectorized:
    in canonical order each symbol owns 2^(table_bits-len) consecutive
    entries, so one argsort + np.repeat fills the table."""
    lens = np.asarray(lens, dtype=np.uint8)
    present = np.flatnonzero(lens > 0)
    order = present[np.lexsort((present, lens[present]))]
    spans = (1 << (table_bits - lens[order].astype(np.int64)))
    total = int(spans.sum())
    # a single-symbol alphabet is the one legal incomplete code (len 1,
    # Kraft 1/2); anything else must satisfy Kraft equality exactly
    if total != (1 << table_bits) and len(order) != 1:
        raise ValueError("huffman: code lengths violate Kraft equality")
    lut_sym = np.repeat(order.astype(np.uint32), spans)
    lut_len = np.repeat(lens[order], spans)
    if total < (1 << table_bits):                 # single-symbol pad
        pad = (1 << table_bits) - total
        lut_sym = np.concatenate([lut_sym, np.zeros(pad, dtype=np.uint32)])
        lut_len = np.concatenate([lut_len, np.zeros(pad, dtype=np.uint8)])
    return lut_sym, lut_len


def exact_size(counts: np.ndarray, lens: np.ndarray, n: int) -> int:
    """Exact encoded byte size (header + lens table + segment padding)."""
    counts = np.asarray(counts, dtype=np.int64)
    k = len(counts)
    n_seg = max(1, -(-n // SEG_SYMS))
    total_bits = int((counts * lens.astype(np.int64)).sum())
    # per-segment byte padding: exact requires the actual stream; bound it
    # by the worst case (7 bits/segment) — this keeps the selection honest
    # (never understates huffman's size).
    body = (total_bits + 7 * n_seg) // 8 + n_seg  # +1/seg ceil slack
    return 1 + 4 + k + 4 + 4 + 4 * n_seg + body


_ENC_BLOCK = SEG_SYMS * 256   # symbols per vectorized encode block: caps
                              # the n-length int64 temporaries at ~8 MB
                              # each regardless of stream size (FSST code
                              # streams reach ~15M symbols per 32 MB chunk)


def _encode_block(v: np.ndarray, sym_len: np.ndarray, codes: np.ndarray
                  ) -> tuple[bytes, np.ndarray]:
    """Encode a segment-aligned block; returns (bytes, seg_byte_lens)."""
    n = len(v)
    L = sym_len[v]
    if np.any(L == 0):
        raise ValueError("huffman.encode: symbol with zero code length")
    C = codes.astype(np.uint64)[v]
    n_seg = max(1, -(-n // SEG_SYMS))
    seg_id = np.arange(n, dtype=np.int64) // SEG_SYMS
    # bit offset within segment: global exclusive cumsum minus segment base
    csum = np.concatenate([[0], np.cumsum(L)])
    seg_first = np.arange(n_seg, dtype=np.int64) * SEG_SYMS
    seg_base_bits = csum[seg_first]
    bitoff = csum[:-1] - seg_base_bits[seg_id]
    seg_bits = np.diff(np.concatenate([seg_base_bits, [csum[n]]]))
    seg_bytes = (seg_bits + 7) // 8
    seg_byte_base = np.concatenate([[0], np.cumsum(seg_bytes)])
    total_bytes = int(seg_byte_base[-1])
    # place each code in a 32-bit big-endian window at its byte offset
    gbit = bitoff + seg_byte_base[seg_id] * 8
    byte_idx = gbit >> 3
    shift = (np.uint64(32) - L.astype(np.uint64)
             - (gbit.astype(np.uint64) & np.uint64(7)))
    win = C << shift
    buf = np.zeros(total_bytes + 4, dtype=np.int64)
    for j in range(4):
        lane = ((win >> np.uint64(8 * (3 - j))) & np.uint64(0xFF)).astype(np.float64)
        buf[: total_bytes + 4] += np.bincount(
            byte_idx + j, weights=lane, minlength=total_bytes + 4
        ).astype(np.int64)
    return buf[:total_bytes].astype(np.uint8).tobytes(), seg_bytes


def encode(vals: np.ndarray, lens: np.ndarray) -> bytes:
    """Encode a uint stream with the given per-symbol code lengths.

    Hot path is a compiled C kernel (native/kernels.c ``huff_encode``,
    ~100x the NumPy lane-bincount path on dictionary-id streams — the
    r7 10 GB drive measured encode 154 -> 25 MB/s when this ran in
    NumPy); the fallback is byte-identical (property-tested)."""
    from .. import native

    v = np.ascontiguousarray(vals, dtype=np.int64)
    n = len(v)
    k = len(lens)
    codes = canonical_codes(lens)
    nat = native.huff_encode(v, lens, codes, SEG_SYMS)
    if nat is not None:
        body, seg_bytes = nat
        n_seg = len(seg_bytes)
        head = (bytes([MAX_LEN]) + U32.pack(k)
                + lens.astype(np.uint8).tobytes()
                + U32.pack(SEG_SYMS) + U32.pack(n_seg)
                + np.asarray(seg_bytes, dtype=np.uint32).tobytes())
        return head + body
    sym_len = lens.astype(np.int64)
    parts = []
    seg_lens = []
    for lo in range(0, max(n, 1), _ENC_BLOCK):
        blk, sb = _encode_block(v[lo: lo + _ENC_BLOCK], sym_len, codes)
        parts.append(blk)
        seg_lens.append(sb)
    seg_bytes = np.concatenate(seg_lens)
    n_seg = len(seg_bytes)
    head = (bytes([MAX_LEN]) + U32.pack(k)
            + lens.astype(np.uint8).tobytes()
            + U32.pack(SEG_SYMS) + U32.pack(n_seg)
            + np.asarray(seg_bytes, dtype=np.uint32).tobytes())
    return head + b"".join(parts)


def decode(buf: memoryview, n: int) -> tuple[np.ndarray, int]:
    """Inverse of encode; returns (values, bytes consumed). The values
    are uint32 as the C kernel writes them (uint64 on the NumPy path):
    every caller indexes or narrows them, so they are not widened."""
    buf = memoryview(buf)
    table_bits = buf[0]
    k = U32.unpack_from(buf, 1)[0]
    off = 5
    lens = np.frombuffer(buf, dtype=np.uint8, count=k, offset=off).copy()
    off += k
    seg_syms = U32.unpack_from(buf, off)[0]
    n_seg = U32.unpack_from(buf, off + 4)[0]
    off += 8
    if n_seg != max(1, -(-n // seg_syms)):
        raise ValueError("huffman: segment count mismatch")
    seg_bytes = np.frombuffer(buf, dtype=np.uint32, count=n_seg,
                              offset=off).astype(np.int64)
    off += 4 * n_seg
    total = int(seg_bytes.sum())
    if off + total > len(buf):
        raise ValueError("huffman: truncated payload")
    payload = np.frombuffer(buf, dtype=np.uint8, count=total, offset=off)
    consumed = off + total
    if n == 0:
        return np.zeros(0, dtype=np.uint64), consumed

    lut_sym, lut_len = _decode_lut(lens, table_bits)
    seg_off = np.concatenate([[0], np.cumsum(seg_bytes)])
    from .. import native

    out = native.huff_decode(payload, lut_sym, lut_len, table_bits,
                             seg_off, seg_syms, n)
    if out is not None:
        return out, consumed
    out = _decode_numpy(payload, lut_sym, lut_len, table_bits, seg_off,
                        seg_syms, n)
    return out, consumed


def _decode_numpy(payload: np.ndarray, lut_sym: np.ndarray,
                  lut_len: np.ndarray, table_bits: int,
                  seg_off: np.ndarray, seg_syms: int, n: int
                  ) -> np.ndarray:
    """All segments step in lockstep: one LUT gather per symbol slot."""
    seg_bytes = np.diff(seg_off)
    n_seg = len(seg_bytes)
    seg_base = seg_off[:-1]
    seg_count = np.minimum(seg_syms, n - np.arange(n_seg) * seg_syms)
    # pad so 4-byte windows never read past the end
    buf = np.concatenate([payload, np.zeros(4, dtype=np.uint8)]).astype(np.uint64)
    pos = seg_base * 8                       # absolute bit cursors
    end = (seg_base + seg_bytes) * 8
    out = np.zeros((n_seg, seg_syms), dtype=np.uint64)
    active = seg_count > 0
    tb = np.uint64(table_bits)
    for j in range(int(seg_count.max())):
        idx = np.flatnonzero(active)
        p = pos[idx]
        byte = p >> 3
        win = ((buf[byte] << np.uint64(24)) | (buf[byte + 1] << np.uint64(16))
               | (buf[byte + 2] << np.uint64(8)) | buf[byte + 3])
        win = (win >> (np.uint64(32) - tb - (p.astype(np.uint64) & np.uint64(7)))) \
            & np.uint64((1 << table_bits) - 1)
        ln = lut_len[win].astype(np.int64)
        if np.any(ln == 0):
            raise ValueError("huffman: invalid code in stream")
        out[idx, j] = lut_sym[win]
        pos[idx] = p + ln
        if np.any(pos[idx] > end[idx]):
            raise ValueError("huffman: segment overrun (corrupt stream)")
        active = (seg_count > (j + 1))
    return out.reshape(-1)[: n]
