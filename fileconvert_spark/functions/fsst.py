"""FSST — Fast Static Symbol Table string compression, from scratch.

Implements the algorithm of Boncz, Neumann & Freitag, "FSST: Fast Random
Access String Compression" (VLDB 2020): a table of up to 255 symbols of
1–8 bytes is trained on a bounded sample by iterative gain-maximization
(gain = frequency × length, candidates = current symbols plus
concatenations of adjacent matches), then the full buffer is encoded by
greedy longest-match with code 255 reserved as a one-byte escape for bytes
not covered by the table. Each string is encoded independently (no token
spans a string boundary), preserving FSST's per-string random access.

The sequential loops run in C (native/kernels.c) when the library is
available: training's per-iteration counting walk (``fsst_train_count``,
its candidates ranked in NumPy), the greedy encode parse
(``fsst_encode``) and the decode token walk (``fsst_decode``). Without a
toolchain, or under ``FCS_NO_NATIVE=1``, the NumPy paths below (and a
Python training walk) give identical tables and bytes.

The NumPy encode is vectorized end-to-end: window keys come from one
overlapping stride-1 view over the byte buffer; symbol lookups are O(1)
gathers — a combined 2-byte-window LUT resolves lengths 1-2 in one probe
and a 2-way lossy hash table keyed on the first 3 bytes (the paper's
design) resolves lengths 3-8 in two; the greedy parse is a pointer walk
with no per-token Python — strings are virtually chopped into
``_WALK_SEG`` pieces so round count is bounded under length skew, cursor
rounds advance every live piece one token at a time, and the small tail
switches to per-piece slice matching + pointer-doubling chain
enumeration. Decode emits through one flat byte gather (symbol pool +
escaped literals as slices of a combined source buffer). Training is
bounded by ``SAMPLE_BYTES`` so its cost is constant per chunk.

Capability parity note: the reference (renesugar/FileConvert, see SURVEY.md
§0 — empty checkout, cited via BASELINE.json line 6) delegates string
compression to Parquet/Snappy pages; the north rule mandates an explicit,
introspectable FSST codec instead.
"""

from __future__ import annotations

import struct
import sys
from collections import Counter

import numpy as np
import pyarrow as pa

if sys.byteorder != "little":  # pragma: no cover — no BE host in CI
    # _window_keys / _sym_key build uint64 window keys via a raw stride-1
    # view over the byte buffer, which is only correct little-endian; on a
    # big-endian host the masked comparisons could spuriously "verify" and
    # emit wrong codes — silent corruption. Fail fast at import instead.
    raise ImportError(
        "fileconvert_spark.functions.fsst requires a little-endian host: "
        "window-key construction views raw bytes as uint64 (see "
        "_window_keys); port the shift-or key builder before using this "
        "module on big-endian hardware")

MAX_SYMBOLS = 255          # code 255 = escape
MAX_SYMBOL_LEN = 8
# 64K sample (was 16K): measured r4, quadrupling the training sample cuts
# path ratio .388->.374, content .455->.422, commit .600->.538. Training
# cost grows with it, and every table trains anew: the worker table cache
# is keyed by output directory, so each encode_table retrains each
# column's tables. With the C counting walk one 64 KB train takes ~30 ms
# (~180-250 ms with the Python walk) on a 4-core x86 host.
SAMPLE_BYTES = 64 * 1024
TRAIN_ITERATIONS = 5
ESCAPE = 255

_U32 = struct.Struct("<I")


# ------------------------------------------------------------------ training

def train(sample: bytes, iterations: int = TRAIN_ITERATIONS,
          max_symbols: int = MAX_SYMBOLS,
          lengths: np.ndarray | list[int] | None = None) -> list[bytes]:
    """Learn a symbol table from a sample (<= SAMPLE_BYTES recommended).

    ``lengths`` (per-string byte lengths of the concatenated sample) makes
    training boundary-aware: candidate symbols and adjacent-pair
    concatenations never cross string boundaries, matching the constraint
    the encoder enforces for per-string random access.
    """
    sample = sample[:SAMPLE_BYTES]
    if not sample:
        return []
    n = len(sample)
    if lengths is None:
        bounds = [n]
    else:
        bounds = list(np.cumsum(np.asarray(lengths, dtype=np.int64)))
        while bounds and bounds[-1] > n:  # sample truncation
            bounds[-1] = n
            if len(bounds) > 1 and bounds[-2] >= n:
                bounds.pop()
            else:
                break
        if not bounds or bounds[-1] < n:
            bounds.append(n)
    buf = np.frombuffer(sample, dtype=np.uint8)
    # per-string lengths matching the (possibly truncated) sample
    seg_lengths = np.diff(np.concatenate([[0], bounds])).astype(np.int64)
    distinct_singles = [bytes([b]) for b in np.unique(buf)]

    from .. import native

    table: list[bytes] = []
    for _ in range(iterations):
        # vectorized longest-match for every position (same kernel as encode)
        bl, _bc = _match_all_positions(buf, seg_lengths, table)
        cand = native.fsst_train_count(buf, seg_lengths, bl)
        if cand is not None:
            table = _rank_counted(buf, *cand, max_symbols)
        else:
            table = _rank_walked(sample, bl, bounds, distinct_singles,
                                 max_symbols)
    return table


def _rank_walked(sample: bytes, bl: np.ndarray, bounds: list[int],
                 distinct_singles: list[bytes],
                 max_symbols: int) -> list[bytes]:
    """One training iteration without the C kernel: walk the greedy
    tokens (``bl[pos]`` bytes, 1 when 0), count each token and each
    adjacent pair of <= MAX_SYMBOL_LEN bytes inside one string, and keep
    the best candidates by gain = count x length (see train)."""
    n = len(sample)
    bl_l = bl.tolist()
    counts: Counter[bytes] = Counter()
    pair_counts: Counter[bytes] = Counter()
    pos = 0
    b_i = 0
    n_bounds = len(bounds)
    prev_start = -1
    prev_len = 0
    while pos < n:
        while b_i < n_bounds and bounds[b_i] <= pos:
            b_i += 1
            prev_start = -1  # pairs must not span a string boundary
        L = bl_l[pos]
        if L:
            counts[sample[pos : pos + L]] += 1
        else:
            L = 1
            counts[sample[pos : pos + 1]] += 1
        if prev_start >= 0 and prev_len + L <= MAX_SYMBOL_LEN:
            pair_counts[sample[prev_start : pos + L]] += 1
        prev_start, prev_len = pos, L
        pos += L
    gain: dict[bytes, int] = {s: c * len(s) for s, c in counts.items()}
    for s, c in pair_counts.items():
        gain[s] = gain.get(s, 0) + c * len(s)
    ranked = sorted(gain, key=lambda s: (gain[s], s), reverse=True)
    # guarantee coverage of every distinct byte (an escape costs 2 bytes,
    # so a present single byte is always worth a slot over a miss)
    singles = sorted(distinct_singles,
                     key=lambda s: gain.get(s, 0), reverse=True)[:max_symbols]
    chosen: list[bytes] = list(singles)
    seen = set(chosen)
    for s in ranked:
        if len(chosen) >= max_symbols:
            break
        if s not in seen:
            chosen.append(s)
            seen.add(s)
    return chosen


def _rank_counted(buf: np.ndarray, syms: np.ndarray, lens: np.ndarray,
                  gains: np.ndarray, max_symbols: int) -> list[bytes]:
    """_rank_walked's choice from native.fsst_train_count's candidates:
    every byte of the sample first, by gain descending and byte value
    ascending on ties, then the multi-byte candidates by (gain, bytes)
    descending. Bytes compare as Python ``bytes`` do: big-endian padded
    value first, then length (a prefix sorts first)."""
    one = lens == 1
    g1 = np.zeros(256, dtype=np.int64)
    g1[syms[one].astype(np.intp)] = gains[one]
    present = np.flatnonzero(np.bincount(buf, minlength=256))
    singles = present[np.argsort(-g1[present], kind="stable")][:max_symbols]
    multi = ~one
    ms, ml = syms[multi], lens[multi]
    order = np.lexsort((ml, ms.byteswap(), gains[multi]))[::-1]
    order = order[: max_symbols - len(singles)]
    return [bytes([b]) for b in singles.tolist()] + [
        v.to_bytes(ln, "little")
        for v, ln in zip(ms[order].tolist(), ml[order].tolist())]


def serialize_table(table: list[bytes]) -> bytes:
    """[u8 count][count x u8 len][concat symbol bytes]"""
    return bytes([len(table)]) + bytes(len(s) for s in table) + b"".join(table)


def deserialize_table(blob: bytes | memoryview) -> list[bytes]:
    blob = bytes(blob)
    count = blob[0]
    lens = blob[1 : 1 + count]
    out, off = [], 1 + count
    for ln in lens:
        out.append(blob[off : off + ln])
        off += ln
    return out


# ------------------------------------------------------------------ encoding

def _window_keys(buf: np.ndarray) -> np.ndarray:
    """LE uint64 key of the 8 bytes starting at each position (zero-padded).

    One pass: an overlapping stride-1 view over the padded byte buffer
    reads the unaligned 8-byte window at every position directly
    (little-endian hosts — the same assumption _sym_key makes), replacing
    eight shift-or passes over n uint64.
    """
    n = len(buf)
    pad = MAX_SYMBOL_LEN + (-n - MAX_SYMBOL_LEN) % 8
    padded = np.concatenate([buf, np.zeros(pad, np.uint8)])
    view = np.lib.stride_tricks.as_strided(
        padded.view(np.uint64), shape=(n,), strides=(1,))
    return np.ascontiguousarray(view)


def _sym_key(s: bytes) -> int:
    return int.from_bytes(s, "little")


_HASH_BITS = 12  # 4096-slot 3-byte-prefix ways (~60 KB each, L2-resident)
_TAIL_SWITCH = 256  # live strings below this -> per-string tail (the
                    # per-round NumPy overhead stops amortizing)
# walk-time chop size for long strings (see encode_buffer). 512 looked
# 1.5x faster in a sequential sweep but an INTERLEAVED min-of-5 A/B
# (r4) shows no speed difference and +0.2% ratio — the sweep's first
# row had paid the cold-allocation cost for the rest. 1024 stays.
_WALK_SEG = 1024
_HASH_MULT = np.uint64(0x9E3779B97F4A7C15)
_HASH_MULT2 = np.uint64(0xC2B2AE3D27D4EB4F)
# mask of the low L bytes of a little-endian uint64 window, L = 0..8
_LEN_MASK = np.array([0] + [(1 << (8 * L)) - 1 for L in range(1, 8)]
                     + [0xFFFFFFFFFFFFFFFF], dtype=np.uint64)


def _build_match_tables(table: list[bytes]):
    """Lookup structures for the greedy longest-match.

    L=1: direct 256-entry code LUT. L=2: direct 65536-entry LUT. L>=3: a
    2-way lossy hash table, each slot holding (symbol value, length,
    code) — two probes per position cover every length 3..8 instead of
    one probe per length class. The ways use DIFFERENT key widths: way A
    is keyed on the first 3 bytes (any symbol, the FSST paper's design);
    way B on the first 4 bytes and holds length>=4 symbols only (its key
    is undefined for a 3-byte symbol). Path-shaped data concentrates
    many symbols on one hot 3-byte prefix ("src", "/sr", ...); under
    same-width ways a third same-prefix symbol was always dropped,
    whereas way B separates them by their 4th byte. Length>=4 symbols
    prefer way B so way A stays free for 3-byte symbols. A dropped loser
    (two same-4-byte-prefix symbols over a full way A, or a double hash
    collision) is BENIGN: it is never matched at length >= 3, the greedy
    parse falls back to a shorter symbol or an escape, the ratio dips
    microscopically, decode stays exact.
    """
    # lut12[k16] = (len << 8) | code for the best 1-2 byte match of a 2-byte
    # window (0 = no match): ONE gather resolves both short lengths
    lut12 = np.zeros(1 << 16, dtype=np.uint16)
    ones = np.zeros(256, dtype=np.uint16)
    for code, s in enumerate(table):
        if len(s) == 1:
            ones[s[0]] = (1 << 8) | code
    lut12[:] = np.tile(ones, 256)  # low byte of k16 = first byte
    for code, s in enumerate(table):
        if len(s) == 2:
            lut12[_sym_key(s)] = (2 << 8) | code
    h3 = None
    longs = [(code, s) for code, s in enumerate(table) if len(s) >= 3]
    if longs:
        size = 1 << _HASH_BITS
        sym_t = np.zeros(2 * size, dtype=np.uint64)   # ways concatenated
        lc_t = np.zeros(2 * size, dtype=np.uint16)    # (len << 8) | code

        def slot_a(s: bytes) -> int:
            k3 = _sym_key(s[:3])
            return ((k3 * int(_HASH_MULT)) & 0xFFFFFFFFFFFFFFFF) \
                >> (64 - _HASH_BITS)

        def slot_b(s: bytes) -> int:  # len >= 4 only
            k4 = _sym_key(s[:4])
            return size + (((k4 * int(_HASH_MULT2)) & 0xFFFFFFFFFFFFFFFF)
                           >> (64 - _HASH_BITS))

        # longer first: they claim slots, shorter ones fill leftovers
        # (greedy prefers the longest match); ties prefer the earlier code
        # = the higher trained gain. Length>=4 symbols try the 4-byte-keyed
        # way first. (Cross-length gain-based EVICTION on contested slots
        # was measured worse — see NOTES "rejected"; longest-first stays.)
        leftover: list[tuple[int, bytes]] = []
        for code, s in sorted(longs, key=lambda cs: (-len(cs[1]), cs[0])):
            if len(s) >= 4:
                slot = slot_b(s)
                if lc_t[slot] == 0:
                    sym_t[slot] = _sym_key(s)
                    lc_t[slot] = (len(s) << 8) | code
                else:
                    leftover.append((code, s))  # way-B loser; way A later
            else:
                slot = slot_a(s)
                if lc_t[slot] == 0:
                    sym_t[slot] = _sym_key(s)
                    lc_t[slot] = (len(s) << 8) | code
        # length-3 symbols went first into way A (it is their ONLY possible
        # home); way-B conflict losers fill what remains, longest first
        for code, s in leftover:
            slot = slot_a(s)
            if lc_t[slot] == 0:
                sym_t[slot] = _sym_key(s)
                lc_t[slot] = (len(s) << 8) | code
        h3 = (sym_t, lc_t)
    return lut12, ones, h3


def _match_all_positions(buf: np.ndarray, lengths: np.ndarray,
                         table: list[bytes],
                         tables=None, w: np.ndarray | None = None
                         ) -> tuple[np.ndarray, np.ndarray]:
    """For every buffer position: (longest matching symbol len, its code).

    Matches never cross string boundaries (``lengths`` = per-string byte
    lengths of the concatenated buffer). All lookups are O(1) gathers —
    direct LUTs for 1-2 byte symbols, one 3-byte-prefix hash probe for 3-8
    (see _build_match_tables). ``tables``: pass a prebuilt
    _build_match_tables result when calling repeatedly for the same symbol
    table. ``w``: precomputed window keys for ``buf`` (a slice of a larger
    buffer's keys is fine — windows that cross into following bytes only
    differ above the length mask, and the dist guard kills those matches).
    """
    n = len(buf)
    if n == 0 or not table:
        return np.zeros(n, dtype=np.int64), np.zeros(n, dtype=np.uint8)
    lut12, ones, h3 = tables if tables is not None else _build_match_tables(table)
    # distance to end of the containing string, per position
    ends = np.cumsum(lengths.astype(np.int64))
    dist = np.repeat(ends, lengths) - np.arange(n, dtype=np.int64)
    if w is None:
        w = _window_keys(buf)

    # preallocated scratch (fresh-page allocation is this host's
    # bottleneck, so every op below runs with out=)
    kL = np.empty(n, dtype=np.uint64)
    slots = np.empty(n, dtype=np.int64)
    combo = np.empty(n, dtype=np.uint16)  # (len << 8) | code; 0 = no match
    hit = np.empty(n, dtype=bool)
    tmpb = np.empty(n, dtype=bool)

    # lengths 1-2 in one gather
    np.bitwise_and(w, np.uint64(0xFFFF), out=kL)
    np.copyto(slots, kL, casting="unsafe")
    np.take(lut12, slots, out=combo)
    # a 2-byte hit at the final byte of a string must fall back to the
    # 1-byte entry for that byte (the LUT saw the next string's byte)
    np.greater_equal(combo, 2 << 8, out=hit)
    np.less(dist, 2, out=tmpb)
    hit &= tmpb
    if hit.any():
        combo[hit] = ones[buf[hit]]

    if h3 is not None:
        sym_t, lc_t = h3
        lc_g = np.empty(n, dtype=np.uint16)
        lens_g = np.empty(n, dtype=np.uint16)
        sym_g = np.empty(n, dtype=np.uint64)
        k3 = np.empty(n, dtype=np.uint64)
        # way A: 3-byte prefix key; way B: 4-byte prefix key (len>=4 syms)
        for kmask, mult, base in ((0xFFFFFF, _HASH_MULT, 0),
                                  (0xFFFFFFFF, _HASH_MULT2, 1 << _HASH_BITS)):
            np.bitwise_and(w, np.uint64(kmask), out=k3)
            np.multiply(k3, mult, out=kL)
            kL >>= np.uint64(64 - _HASH_BITS)
            np.copyto(slots, kL, casting="unsafe")
            if base:
                slots += base
            np.take(lc_t, slots, out=lc_g)
            np.take(sym_t, slots, out=sym_g)
            np.right_shift(lc_g, 8, out=lens_g)
            # matched iff the window's low len bytes equal the stored symbol
            np.bitwise_and(w, _LEN_MASK[lens_g], out=kL)
            np.equal(kL, sym_g, out=hit)
            np.greater(lc_g, combo, out=tmpb)  # only longer can win
            hit &= tmpb
            np.greater_equal(dist, lens_g, out=tmpb)
            hit &= tmpb
            combo[hit] = lc_g[hit]
    return (combo >> 8).astype(np.int64), (combo & 0xFF).astype(np.uint8)


def encode_buffer(buf: bytes, lengths: np.ndarray,
                  table: list[bytes]) -> tuple[bytes, np.ndarray]:
    """Greedy-encode concatenated strings; returns (enc bytes, enc lengths).

    The greedy parse is evaluated as a pointer walk vectorized ACROSS
    strings: every position's jump target is ``i + max(bestlen, 1)``
    (matches never cross string boundaries), so one gather per round
    advances EVERY string's cursor by one token. Rounds = tokens of the
    longest string; work per round = O(live strings), all NumPy — the
    former one-Python-iteration-per-token loop is gone.
    """
    arr = np.frombuffer(buf, dtype=np.uint8)
    n = len(arr)
    if n == 0:
        return b"", np.zeros(len(lengths), dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    bounds = np.cumsum(lengths)
    lut12, ones, h3 = _build_match_tables(table)
    # compiled kernel (native/kernels.c): the same greedy parse as one
    # sequential C loop — byte-identical output (piece cuts, probe order,
    # tie-breaks all mirrored; property-tested), ~10x the NumPy walk.
    # Falls through to the NumPy path when no toolchain / FCS_NO_NATIVE.
    from .. import native

    nat = native.fsst_encode(arr, lengths, (lut12, ones, h3),
                             _HASH_BITS, _WALK_SEG)
    if nat is not None:
        return nat
    w = _window_keys(arr)

    is_tok = np.zeros(n, dtype=bool)
    bfh = np.zeros(n, dtype=np.uint16)  # (len << 8) | code per token start
    # virtually chop long strings into <= _WALK_SEG-byte pieces for the
    # WALK ONLY: the greedy parse restarts at each cut (a symbol never
    # spans one), which costs < len(symbol)/_WALK_SEG ~ 1% of ratio, and in
    # exchange the round count is bounded by _WALK_SEG tokens regardless of
    # string-length skew — a single 2 MB string no longer forces thousands
    # of near-empty rounds. The decoder is oblivious: the token stream
    # stays a valid FSST stream and per-string enc lengths are computed
    # against the ORIGINAL bounds (piece cuts are token starts).
    pieces = (lengths + _WALK_SEG - 1) // _WALK_SEG
    wl = np.full(int(pieces.sum()), _WALK_SEG, dtype=np.int64)
    nz = pieces > 0
    wl[np.cumsum(pieces)[nz] - 1] = lengths[nz] - (pieces[nz] - 1) * _WALK_SEG
    wbounds = np.cumsum(wl)
    cur = wbounds - wl
    ends = wbounds
    # adaptive walk: while MANY pieces are live, match only at cursor
    # positions (each round advances every live piece one token — total
    # match work ~= ratio*n, not n). Once the live set is too small to
    # amortize per-round NumPy overhead, each remaining piece switches to
    # precomputed matching over its own slice + pointer-doubling chain
    # enumeration (O(log tokens) rounds).
    while cur.size >= _TAIL_SWITCH:
        rem = ends - cur
        k8 = w[cur]
        # lengths 1-2 in one gather; fall back to the 1-byte entry at a
        # string-final byte where the LUT saw the next string's byte
        combo = lut12[(k8 & np.uint64(0xFFFF)).astype(np.int64)]
        fix = (combo >= 2 << 8) & (rem < 2)
        if fix.any():
            combo[fix] = ones[arr[cur[fix]]]
        if h3 is not None:  # two probes cover all lengths 3..8
            sym_t, lc_t = h3
            for kmask, mult, base in ((0xFFFFFF, _HASH_MULT, 0),
                                      (0xFFFFFFFF, _HASH_MULT2,
                                       1 << _HASH_BITS)):
                k3 = k8 & np.uint64(kmask)
                slots = ((k3 * mult) >> np.uint64(64 - _HASH_BITS)
                         ).astype(np.int64) + base
                lc = lc_t[slots]
                lg = lc >> 8
                hit = ((k8 & _LEN_MASK[lg]) == sym_t[slots]) \
                    & (lc > combo) & (rem >= lg)
                combo[hit] = lc[hit]
        is_tok[cur] = True
        bfh[cur] = combo
        cur = cur + np.maximum(combo >> 8, 1)
        keep = cur < ends
        if not keep.all():
            cur = cur[keep]
            ends = ends[keep]

    # tail: few (possibly very long) strings left — per string, match its
    # remaining slice in one vectorized pass, then enumerate the greedy
    # chain by pointer doubling (after round k, `known` holds the chain
    # nodes at distances [0, 2^k) and ptr jumps 2^k, so ptr[known] is
    # exactly the duplicate-free nodes at distances [2^k, 2^{k+1}))
    for c, e in zip(cur.tolist(), ends.tolist()):
        m = e - c
        sub = arr[c:e]
        bl_s, bc_s = _match_all_positions(
            sub, np.array([m], dtype=np.int64), table,
            tables=(lut12, ones, h3), w=w[c:e])
        ptr = np.empty(m + 1, dtype=np.int64)
        ptr[:m] = np.arange(m, dtype=np.int64) + np.maximum(bl_s, 1)
        ptr[m] = m  # absorbing terminal
        np.minimum(ptr, m, out=ptr)
        known = np.array([0], dtype=np.int64)
        while True:
            new = ptr[known]
            new = new[new < m]
            if new.size == 0:
                break
            known = np.concatenate([known, new])
            ptr = ptr[ptr]
        is_tok[c + known] = True
        bfh[c + known] = ((bl_s[known].astype(np.uint16) << np.uint16(8))
                          | bc_s[known])

    p = np.flatnonzero(is_tok)
    comb_p = bfh[p]
    tok_is_code = comb_p >= 1 << 8
    sizes = np.int64(2) - tok_is_code  # 1 code byte vs ESCAPE+literal
    offs = np.empty(p.size + 1, dtype=np.int64)
    offs[0] = 0
    np.cumsum(sizes, out=offs[1:])
    out = np.empty(offs[-1], dtype=np.uint8)
    out[offs[:-1]] = np.where(tok_is_code, comb_p & 0xFF, ESCAPE)
    esc = ~tok_is_code
    if esc.any():
        out[offs[:-1][esc] + 1] = arr[p[esc]]
    # enc length of string k = output offset at its first token >= bounds[k]
    enc_end = offs[np.searchsorted(p, bounds, side="left")]
    enc_lengths = np.diff(np.concatenate([[0], enc_end]))
    return out.tobytes(), enc_lengths


# ------------------------------------------------------------------ decoding

def _escape_mask(enc: np.ndarray) -> np.ndarray:
    """True where enc[i] is an ESCAPE marker (not an escaped literal).

    Within a maximal run of ESCAPE bytes, markers sit at even offsets; a
    non-ESCAPE byte can never be a marker-consumed literal unless the run
    before it has odd length. Vectorized run-parity computation.
    """
    n = len(enc)
    is255 = enc == ESCAPE
    if not is255.any():
        return np.zeros(n, dtype=bool)
    # run starts: 255 whose predecessor is not 255
    starts = is255 & np.concatenate([[True], ~is255[:-1]])
    run_id = np.cumsum(starts) - 1
    pos = np.arange(n)
    start_pos = np.zeros(n, dtype=np.int64)
    start_pos[is255] = pos[starts][run_id[is255]]
    offset = pos - start_pos
    mask = np.zeros(n, dtype=bool)
    mask[is255] = (offset[is255] % 2) == 0
    return mask


def decode_buffer(enc: bytes, enc_lengths: np.ndarray,
                  table: list[bytes]) -> tuple[bytes, np.ndarray]:
    """Decode; returns (decoded bytes, decoded per-string lengths).

    The NumPy path; fsst_decode_array runs the C kernel
    (native.fsst_decode) when it is available. String k gets the tokens
    that START inside its ``enc_lengths[k]`` bytes. Raises ValueError,
    as the kernel does, when a length is negative, the lengths do not
    sum to ``len(enc)``, or the stream ends in an ESCAPE."""
    from .. import native

    m = len(enc)
    n_str = len(enc_lengths)
    el = native.check_runs(enc_lengths, m, "fsst_decode: enc_lengths")
    if m == 0:
        return b"", np.zeros(n_str, dtype=np.int64)
    arr = np.frombuffer(enc, dtype=np.uint8)
    esc = _escape_mask(arr)
    if esc[-1]:
        raise ValueError("fsst_decode: stream ends in an ESCAPE with no "
                         "literal byte")
    # token starts = everything that is not a marker-consumed literal
    tok_start = np.ones(m, dtype=bool)
    tok_start[1:] = ~esc[:-1]

    sym_lens = np.array([len(s) for s in table] + [0] * (256 - len(table)),
                        dtype=np.int32)

    # decoded bytes via ONE flat gather: every token is a slice of a
    # combined source buffer — the flattened symbol pool for code tokens,
    # the enc buffer itself for escaped literals (the byte after the
    # marker). No per-token Python, escapes or not. int32 throughout (enc
    # chunks are far below 2 GB).
    pool = np.frombuffer(b"".join(table), dtype=np.uint8) if table else \
        np.empty(0, dtype=np.uint8)
    pool_off = np.zeros(256, dtype=np.int32)
    np.cumsum(sym_lens[:-1], out=pool_off[1:256])
    order = np.flatnonzero(tok_start).astype(np.int32)
    codes = arr[order]
    kinds = esc[order]  # True => escape token (emits the following byte)
    tok_len = np.where(kinds, np.int32(1), sym_lens[codes])
    src = np.where(kinds, np.int32(len(pool) + 1) + order, pool_off[codes])
    out_end = np.cumsum(tok_len, dtype=np.int32)
    total = int(out_end[-1]) if tok_len.size else 0
    pos = (np.repeat(src - (out_end - tok_len), tok_len)
           + np.arange(total, dtype=np.int32))
    decoded = np.concatenate([pool, arr])[pos].tobytes()

    # per-string decoded lengths from the per-token cumulative output ends:
    # string k covers tokens [searchsorted(order, enc_offs[k]), ...)
    enc_offs = np.zeros(n_str + 1, dtype=np.int64)
    np.cumsum(el, out=enc_offs[1:])
    bound_tok = np.searchsorted(order, enc_offs)
    cum = np.concatenate([[0], out_end])[bound_tok]
    dec_lengths = np.diff(cum)
    return decoded, dec_lengths.astype(np.int64)


# ------------------------------------------------------- arrow array wrappers

def fsst_encode_array(arr: pa.Array, table: list[bytes] | None = None
                      ) -> tuple[bytes, bytes]:
    """Encode a null-free pyarrow string array.

    Returns (payload, symbol_table_blob).
    payload = [u32 n][framed packed enc_lengths][enc bytes]
    """
    from .bitpack import pack_uints_framed

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.string())
    n = len(arr)
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32, count=n + 1,
                            offset=arr.offset * 4)
    data_buf = arr.buffers()[2]
    buf = data_buf.to_pybytes()[offsets[0]: offsets[-1]] if data_buf is not None else b""
    lengths = np.diff(offsets).astype(np.int64)
    if table is None:
        table = train(buf, lengths=lengths)
    enc, enc_lengths = encode_buffer(buf, lengths, table)
    payload = _U32.pack(n) + pack_uints_framed(enc_lengths.astype(np.uint64)) + enc
    return payload, serialize_table(table)


def fsst_payload_header(payload: memoryview) -> tuple[int, int]:
    """(n_strings, header_bytes) of an fsst_encode_array payload — the
    header is [u32 n][framed packed enc_lengths]; the code-byte stream
    follows (codecs.enc_fsst_str entropy-codes just that stream). Reads
    only the frame header, never unpacks the lengths."""
    from .bitpack import packed_size

    n = _U32.unpack_from(payload, 0)[0]
    n_lens = _U32.unpack_from(payload, 4)[0]
    width = payload[8]
    return n, 4 + 5 + packed_size(n_lens, width)


def fsst_decode_array(payload: bytes | memoryview, table_blob: bytes) -> pa.Array:
    """Inverse of fsst_encode_array: the C token walk
    (native.fsst_decode) when the library is available, else
    decode_buffer; both give the same array or raise the same
    ValueError."""
    from .. import native
    from .bitpack import unpack_uints_framed

    payload = memoryview(payload)
    n = _U32.unpack_from(payload, 0)[0]
    enc_lengths, consumed = unpack_uints_framed(payload[4:])
    if len(enc_lengths) != n:
        raise ValueError(f"fsst_decode: {len(enc_lengths)} lengths for "
                         f"{n} strings")
    enc = payload[4 + consumed:]
    table = deserialize_table(table_blob)
    nat = native.fsst_decode(enc, enc_lengths, table)
    if nat is not None:
        offsets, decoded = nat
    else:
        decoded, dec_lengths = decode_buffer(bytes(enc), enc_lengths, table)
        offsets = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(dec_lengths, out=offsets[1:])
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(decoded))


def estimate_ratio(arr: pa.Array, sample_rows: int = 64,
                   table: list[bytes] | None = None) -> tuple[float, list[bytes]]:
    """Trial-encode a row sample; returns (enc_bytes/raw_bytes, table used).

    ``table``: reuse an existing symbol table (no training — the cheap path
    for per-worker table caches)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        return 1.0, table or []
    step = max(1, n // sample_rows)
    sample = arr.take(np.arange(0, n, step))
    if pa.types.is_large_string(sample.type):
        sample = sample.cast(pa.string())
    offsets = np.frombuffer(sample.buffers()[1], dtype=np.int32,
                            count=len(sample) + 1)
    payload, tbl = fsst_encode_array(sample, table)
    raw_bytes = int(offsets[-1] - offsets[0])
    if raw_bytes <= 0:
        return 1.0, deserialize_table(tbl)
    return len(payload) / raw_bytes, deserialize_table(tbl)
