"""Per-column-chunk lightweight codecs + auto-selection (pure NumPy/Arrow).

The codec family mandated by the north rule (BASELINE.json line 14):
dictionary, RLE, FSST, frame-of-reference + bit-packing, delta — plus two
compositions: ``linedict`` (dictionary over *lines* of a text column, its
line dictionary itself FSST- or raw-encoded, indices bit-packed) and ``raw``
as the universal fallback. Selection is per (column, chunk): estimate the
encoded size of every eligible codec from exact chunk statistics (FSST via a
trial encode on a row sample), pick the minimum, and fall back to ``raw`` if
the winner's actual output is larger.

Capability parity: the reference (renesugar/FileConvert — empty checkout, see
SURVEY.md §0; cited via BASELINE.json line 6) gets these effects implicitly
from parquet-cpp page encodings (dictionary, RLE/bit-pack levels, Snappy
pages). Here they are explicit, introspectable engine codecs whose total
output must be <= the reference's Parquet/Snappy size.

No Spark imports; every function operates on a single null-free chunk
(validity handled by the wrapper in operators/encode.py). No per-row Python
in any hot path. Every whole-value and segment dictionary of selection
comes from one split-and-dedup pass (_split_dedup), and decode of the
dictionary codecs is one gather-join (_gather_strings): C kernels when
available, Arrow dictionary_encode / split_pattern and take / binary_join
otherwise; NumPy does the rest. FSST training and its token scans run
in C too, with NumPy fallbacks (see functions/fsst.py).
"""

from __future__ import annotations


import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .. import native
from . import fsst, huffman
from .bitpack import (
    U32,
    _entropy_floor_bytes,
    bitwidth_for,
    freq_remap,
    pack_uints,
    pack_uints_auto,
    pack_uints_framed,
    packed_size,
    str_blob_decode,
    str_blob_encode,
    unpack_uints,
    unpack_uints_auto,
    unpack_uints_framed,
)

# dict-blob flag bytes: how a string dictionary payload is itself encoded
_BLOB_RAW = 0
_BLOB_FSST = 1
_BLOB_HEX = 2

# try FSST on dictionary blobs above this size: below it the absolute
# savings (~1-2 KB) never repay a symbol-table training pass
_FSST_BLOB_MIN = 8192
# rows sampled for FSST / linedict size estimation
_EST_SAMPLE_ROWS = 64


class FsstTableCache:
    """Per-worker cache of trained FSST tables keyed by column identity.

    Python workers are reused across Spark tasks, so a table trained on one
    chunk serves the following chunks of the same column — training (the
    dominant kernel cost) amortizes to ~1/RETRAIN_EVERY per chunk. Any table
    decodes any data exactly (escapes cover misses); only the ratio could
    drift, which the periodic retrain bounds.
    """

    RETRAIN_EVERY = 16

    def __init__(self) -> None:
        self.tables: dict[str, list[bytes]] = {}
        self.uses: dict[str, int] = {}

    def get(self, key: str) -> list[bytes] | None:
        t = self.tables.get(key)
        if t is None:
            return None
        self.uses[key] = self.uses.get(key, 0) + 1
        if self.uses[key] >= self.RETRAIN_EVERY:
            del self.tables[key]
            self.uses[key] = 0
            return None
        return t

    def put(self, key: str, table: list[bytes]) -> None:
        self.tables[key] = table
        self.uses[key] = 0


# --------------------------------------------------------------------------
# flagged string blobs (used for dict / rle / linedict dictionaries)
# --------------------------------------------------------------------------

def _flagged_blob_encode(arr: pa.Array, cache: FsstTableCache | None = None,
                         cache_key: str | None = None) -> bytes:
    raw = str_blob_encode(arr)
    # hash-like value sets (hex) pack at exactly 2 chars/byte — better and
    # far cheaper than FSST on incompressible-to-FSST hex digits.
    # (probe a few values first so non-hex blobs skip the full regex pass)
    if (len(raw) >= 64 and _hex_eligible(arr.slice(0, min(len(arr), 8)))
            and _hex_eligible(arr)):
        payload, _none, hmeta = enc_hex_str(arr)
        hx = bytes([1 if hmeta.get("hc") == "up" else 0]) + payload
        if len(hx) < len(raw):
            return bytes([_BLOB_HEX]) + hx
    if len(raw) >= _FSST_BLOB_MIN:
        table = cache.get(cache_key) if cache and cache_key else None
        payload, table_blob = fsst.fsst_encode_array(arr, table)
        fs = U32.pack(len(table_blob)) + table_blob + payload
        if table is not None and len(fs) >= 0.85 * len(raw):
            # cached table fits this data poorly (distribution drift, e.g.
            # a pathological bucket trained it) -> retrain fresh
            payload2, table_blob2 = fsst.fsst_encode_array(arr, None)
            fs2 = U32.pack(len(table_blob2)) + table_blob2 + payload2
            if len(fs2) < len(fs):
                fs = fs2
                table_blob = table_blob2
                table = None  # treat as fresh for the cache update below
        if len(fs) < len(raw):
            if cache and cache_key and table is None:
                cache.put(cache_key, fsst.deserialize_table(table_blob))
            return bytes([_BLOB_FSST]) + fs
    return bytes([_BLOB_RAW]) + raw


def _flagged_blob_decode(blob) -> pa.Array:
    if isinstance(blob, pa.Array):
        # part dictionary pages (operators/encode.py): the chunk's local
        # uniques arrive pre-resolved as page_values.take(local_map)
        return blob
    blob = memoryview(blob)
    flag = blob[0]
    body = blob[1:]
    if flag == _BLOB_RAW:
        return str_blob_decode(body)
    if flag == _BLOB_HEX:
        meta = {"hc": "up" if body[0] else "lo"}
        half_lens, consumed = unpack_uints_framed(body[1:])
        return dec_hex_str(bytes(body[1:]), None, meta, len(half_lens))
    tlen = U32.unpack_from(body, 0)[0]
    table_blob = bytes(body[4 : 4 + tlen])
    return fsst.fsst_decode_array(body[4 + tlen :], table_blob)


def _count_byte(arr: pa.Array, sep: str) -> int:
    """Occurrences of the one-byte ASCII ``sep`` in a null-free string
    array: one NumPy count over the value-buffer span its offsets cover.
    Equals ``pc.sum(pc.count_substring(arr, sep))``, because an ASCII
    byte never occurs inside a multi-byte UTF-8 sequence."""
    if pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.string())
    if len(arr) == 0:
        return 0
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                            count=len(arr) + 1, offset=arr.offset * 4)
    lo, hi = int(offsets[0]), int(offsets[-1])
    if hi == lo:  # all values empty: the data buffer may be absent
        return 0
    return int(np.count_nonzero(
        np.frombuffer(arr.buffers()[2], dtype=np.uint8, count=hi - lo,
                      offset=lo) == ord(sep)))


def _string_buffers(arr: pa.Array) -> tuple[np.ndarray, int]:
    """(lengths, total_bytes) of a null-free string array, zero-copy."""
    if pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.string())
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                            count=len(arr) + 1, offset=arr.offset * 4)
    lengths = np.diff(offsets)
    return lengths, int(offsets[-1] - offsets[0])


def _split_dedup(arr: pa.Array, sep: str | None = None
                 ) -> tuple[np.ndarray | None, np.ndarray, pa.Array]:
    """Split a null-free string array on the one-byte ``sep`` (whole
    values when None) and dictionary-encode the segments. Returns (int64
    per-row segment counts, or None without ``sep``; int32 segment ids,
    numbering the unique segments in first-occurrence order; the unique
    segments, of ``arr``'s type). Every segment and whole-value
    dictionary of codec selection comes from here. The C kernel
    (native.str_split_dedup) does it in one pass; without it
    (FCS_NO_NATIVE=1, no toolchain) Arrow ``dictionary_encode`` (of
    ``split_pattern``'s values) gives the same result."""
    if pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.string())
    elif pa.types.is_large_binary(arr.type):
        arr = arr.cast(pa.binary())
    n = len(arr)
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int32, count=n + 1,
                            offset=arr.offset * 4) if n else \
        np.zeros(1, dtype=np.int32)
    data = np.frombuffer(bufs[2], dtype=np.uint8) \
        if n and bufs[2] is not None else np.empty(0, dtype=np.uint8)
    got = native.str_split_dedup(offsets, data, n,
                                 None if sep is None else ord(sep))
    if got is not None:
        counts, ids, u_offs, u_data = got
        uniques = pa.Array.from_buffers(
            arr.type, len(u_offs) - 1,
            [None, pa.py_buffer(u_offs), pa.py_buffer(u_data)])
        return counts, ids, uniques
    if sep is None:
        de = pc.dictionary_encode(arr)
        counts = None
    else:
        lines = pc.split_pattern(arr, sep)
        list_offs = np.frombuffer(lines.buffers()[1], dtype=np.int32,
                                  count=n + 1, offset=lines.offset * 4)
        counts = np.diff(list_offs).astype(np.int64)
        de = pc.dictionary_encode(lines.values)
    return (counts, de.indices.to_numpy(zero_copy_only=False),
            de.dictionary)


# --------------------------------------------------------------------------
# string codecs — encode(arr) -> (payload, dict_blob|None, meta_dict)
# --------------------------------------------------------------------------

def enc_raw_str(arr: pa.Array):
    return str_blob_encode(arr), None, {}


def dec_raw_str(payload, dict_blob, meta, n):
    return str_blob_decode(payload)


# hex-pack: ascii hex digit -> nibble (lowercase table, uppercase table)
_HEX_LUT_LO = np.full(256, 255, dtype=np.uint8)
for _i, _c in enumerate(b"0123456789abcdef"):
    _HEX_LUT_LO[_c] = _i
_HEX_LUT_UP = np.full(256, 255, dtype=np.uint8)
for _i, _c in enumerate(b"0123456789ABCDEF"):
    _HEX_LUT_UP[_c] = _i
_HEX_CHARS_LO = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
_HEX_CHARS_UP = np.frombuffer(b"0123456789ABCDEF", dtype=np.uint8)


def _hex_eligible(arr: pa.Array) -> bool:
    """True iff EVERY value is even-length single-case hex (exact check —
    a single mismatching value disqualifies the whole chunk)."""
    lengths, nb = _string_buffers(arr)
    if nb == 0 or (lengths % 2).any():
        return False
    if bool(pc.all(pc.match_substring_regex(arr, r"^[0-9a-f]*$")).as_py()):
        return True
    return bool(pc.all(pc.match_substring_regex(arr, r"^[0-9A-F]*$")).as_py())


def enc_hex_str(arr: pa.Array):
    """Pack single-case even-length hex strings at 2 chars/byte (hash-like
    columns: commits, digests). Caller guarantees eligibility via
    _hex_eligible; decode restores the exact original characters."""
    if pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.string())
    lengths, nb = _string_buffers(arr)
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                            count=len(arr) + 1, offset=arr.offset * 4)
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8,
                         count=nb, offset=int(offsets[0]))
    up = bool(((data >= ord("A")) & (data <= ord("F"))).any())
    lut = _HEX_LUT_UP if up else _HEX_LUT_LO
    nib = lut[data]
    packed = ((nib[0::2] << np.uint8(4)) | nib[1::2]).tobytes()
    payload = pack_uints_framed((lengths // 2).astype(np.uint64)) + packed
    return payload, None, {"hc": "up" if up else "lo"}


def dec_hex_str(payload, dict_blob, meta, n):
    buf = memoryview(payload)
    half_lens, consumed = unpack_uints_framed(buf)
    packed = np.frombuffer(buf[consumed:], dtype=np.uint8)
    chars = _HEX_CHARS_UP if meta.get("hc") == "up" else _HEX_CHARS_LO
    out = np.empty(packed.size * 2, dtype=np.uint8)
    out[0::2] = chars[packed >> np.uint8(4)]
    out[1::2] = chars[packed & np.uint8(0x0F)]
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(half_lens.astype(np.int64) * 2, out=offsets[1:])
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets.tobytes()), pa.py_buffer(out.tobytes()))


def enc_dict_str(arr: pa.Array, dedup: tuple | None = None,
                 cache=None, cache_key=None):
    """``dedup``: the (ids, uniques) of ``_split_dedup(arr)`` when the
    caller already has them."""
    ids, uniques = dedup if dedup is not None else _split_dedup(arr)[1:]
    idx = ids.astype(np.uint64)
    k = len(uniques)
    # frequency-rank the dictionary: skewed index streams then hybrid-pack
    # close to entropy (dictionary reordered so decode needs no map)
    ranked, order = freq_remap(idx, k) if k else (idx, np.arange(0))
    uniques = uniques.take(pa.array(order)) if k else uniques
    payload = pack_uints_auto(ranked)
    dict_blob = _flagged_blob_encode(uniques, cache, cache_key)
    return payload, dict_blob, {"k": k}


def _gather_strings(uniques: pa.Array, idx: np.ndarray,
                    counts: np.ndarray | None = None,
                    sep: str = "") -> pa.Array:
    """The decode gather of every dictionary codec: row i is
    ``sep.join(uniques[idx[j]])`` over its run of ``counts[i]`` indices,
    or ``uniques[idx[i]]`` when ``counts`` is None. The C kernel
    (native.str_gather_join) writes each output string once, straight
    from the dictionary. Without it (FCS_NO_NATIVE=1, no toolchain) Arrow
    ``take`` (+ ``binary_join``) gives the same array. Both raise on an
    index outside the dictionary."""
    k = len(uniques)
    offsets = np.frombuffer(uniques.buffers()[1], dtype=np.int32,
                            count=k + 1, offset=uniques.offset * 4) \
        if k else np.zeros(1, dtype=np.int32)
    data = uniques.buffers()[2] if k else None
    data = np.frombuffer(data, dtype=np.uint8) if data is not None else \
        np.empty(0, dtype=np.uint8)
    got = native.str_gather_join(offsets, data, idx, counts, sep.encode())
    if got is not None:
        out_offs, out_data = got
        return pa.StringArray.from_buffers(
            len(out_offs) - 1, pa.py_buffer(out_offs),
            pa.py_buffer(out_data))
    values = pc.take(uniques, pa.array(np.asarray(idx).astype(np.int64)))
    if counts is None:
        return values
    offs = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=offs[1:])
    lst = pa.ListArray.from_arrays(pa.array(offs, type=pa.int32()), values)
    return pc.binary_join(lst, sep)


def dec_dict_str(payload, dict_blob, meta, n):
    idx, _ = unpack_uints_auto(memoryview(payload))
    return _gather_strings(_flagged_blob_decode(dict_blob), idx)


def enc_rle_str(arr: pa.Array):
    n = len(arr)
    if n == 0:
        return pack_uints_framed(np.empty(0, np.uint64)), _flagged_blob_encode(arr), {"r": 0}
    neq = pc.not_equal(arr.slice(1), arr.slice(0, n - 1))
    change = np.concatenate(
        [[True], neq.to_numpy(zero_copy_only=False).astype(bool)])
    starts = np.flatnonzero(change)
    run_lengths = np.diff(np.concatenate([starts, [n]])).astype(np.uint64)
    run_values = arr.take(starts)
    payload = pack_uints_framed(run_lengths)
    return payload, _flagged_blob_encode(run_values), {"r": len(starts)}


def dec_rle_str(payload, dict_blob, meta, n):
    run_lengths, _ = unpack_uints_framed(memoryview(payload))
    run_values = _flagged_blob_decode(dict_blob)
    idx = np.repeat(np.arange(len(run_lengths), dtype=np.int64),
                    run_lengths.astype(np.int64))
    return _gather_strings(run_values, idx)


def enc_fsst_str(arr: pa.Array, table: list[bytes] | None = None):
    """FSST, plus an optional canonical-Huffman layer over the code-byte
    stream: FSST's 1-byte symbol codes are frequency-ranked by training,
    so the output byte alphabet is heavily skewed (measured 6.8 bits of
    byte entropy on corpus text) — the classic LZ-then-entropy stacking
    (zstd = LZ77 + FSE/Huffman). meta["h"] = original code-stream byte
    count marks an entropy-coded chunk; absent = plain FSST bytes, so
    previously-encoded tables decode unchanged."""
    payload, table_blob = fsst.fsst_encode_array(arr, table)
    mv = memoryview(payload)
    _n, hdr = fsst.fsst_payload_header(mv)
    enc = mv[hdr:]
    if len(enc) >= 4096:
        b = np.frombuffer(enc, dtype=np.uint8)
        counts = np.bincount(b, minlength=256)
        # entropy floor prunes hopeless trials (see bitpack): identical
        # winners, no code_lengths pass on near-uniform code streams
        if _entropy_floor_bytes(counts, len(b)) >= len(enc):
            return payload, table_blob, {}
        hlens = huffman.code_lengths(counts)
        if huffman.exact_size(counts, hlens, len(b)) < len(enc):
            body = huffman.encode(b.astype(np.uint64), hlens)
            if len(body) < len(enc):
                return (bytes(mv[:hdr]) + body, table_blob,
                        {"h": int(len(enc))})
    return payload, table_blob, {}


def dec_fsst_str(payload, dict_blob, meta, n):
    eb = meta.get("h")
    if eb:
        mv = memoryview(payload)
        _n, hdr = fsst.fsst_payload_header(mv)
        codes, _used = huffman.decode(mv[hdr:], int(eb))
        payload = bytes(mv[:hdr]) + codes.astype(np.uint8).tobytes()
    return fsst.fsst_decode_array(payload, bytes(dict_blob))


def _sepdict_prepare(arr: pa.Array, sep: str) -> dict:
    """Split rows on ``sep`` + dictionary-encode the segments (the shared
    prep for both the exact size estimate and the actual encode)."""
    counts, ids, seg_dict = _split_dedup(arr, sep)
    return {"counts": counts.astype(np.uint64), "ids": ids,
            "seg_dict": seg_dict, "nl": int(len(ids)), "sep": sep}


def enc_linedict_str(arr: pa.Array, cache=None, cache_key=None,
                     sep: str = "\n", pre: dict | None = None):
    """Dictionary over text *segments*: split rows on ``sep``, dict-encode
    the flattened segments, bit-pack per-row segment counts + indices; the
    unique segment dictionary is itself FSST- or raw-encoded (whichever is
    smaller). Exact reconstruction via join(sep), including trailing/CRLF
    content. sep='\\n' is the multi-line-text codec ("linedict");
    sep='/' targets path-like columns ("pathdict") whose components are
    low-cardinality even when whole paths are unique. ``pre``: reuse a
    _sepdict_prepare result (the selection trial already paid for it).
    """
    if pre is None:
        pre = _sepdict_prepare(arr, sep)
    if "payload" not in pre:
        _sepdict_pack(pre)
    payload = pre["payload"]
    dict_blob = _flagged_blob_encode(pre["uniques"], cache, cache_key)
    meta = {"k": pre["k"], "nl": pre["nl"]}
    if sep != "\n":
        meta["sep"] = sep
    return payload, dict_blob, meta


def _sepdict_pack(pre: dict) -> None:
    """Build the exact index/count payload for a _sepdict_prepare result
    (shared by the selection estimate and the winner's encode)."""
    idx = pre["ids"].astype(np.uint64)
    seg_dict = pre["seg_dict"]
    k = len(seg_dict)
    ranked, order = freq_remap(idx, k) if k else (idx, np.arange(0))
    pre["uniques"] = seg_dict.take(pa.array(order)) if k else seg_dict
    pre["payload"] = pack_uints_auto(pre["counts"]) + pack_uints_auto(ranked)
    pre["k"] = k


def enc_pathdict_str(arr: pa.Array, cache=None, cache_key=None,
                     pre: dict | None = None):
    return enc_linedict_str(arr, cache, cache_key, sep="/", pre=pre)


# codecs whose (payload = packed ids, dict = value blob) shape lets a
# write-time pass consolidate per-chunk dictionaries into one per-part
# dictionary PAGE (operators/encode.py consolidate_part_dicts); the
# pass rewrites only the DICT blob (value list -> local->global map) —
# id payloads stay untouched local alphabets, because entropy coding
# is permutation-invariant and remapping would only bloat the streams
DICT_FAMILY = frozenset({"dict", "linedict", "pathdict"})


def dec_linedict_str(payload, dict_blob, meta, n):
    buf = memoryview(payload)
    counts, consumed = unpack_uints_auto(buf)
    idx, _ = unpack_uints_auto(buf[consumed:])
    if len(idx) != meta["nl"]:
        raise ValueError(f"{len(idx)} segment indices, meta says "
                         f"{meta['nl']}")
    native.check_runs(counts, len(idx), "linedict: segment counts")
    return _gather_strings(_flagged_blob_decode(dict_blob), idx, counts,
                           meta.get("sep", "\n"))


# --------------------------------------------------------------------------
# int codecs — operate on np.int64 arrays (other types adapted by wrapper)
# --------------------------------------------------------------------------

def _zigzag(v: np.ndarray) -> np.ndarray:
    return ((v << 1) ^ (v >> 63)).astype(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    u = u.astype(np.uint64)
    return ((u >> np.uint64(1)) ^ (~(u & np.uint64(1)) + np.uint64(1))).astype(np.int64)


def enc_raw_int(vals: np.ndarray):
    return vals.astype("<i8").tobytes(), None, {}


def dec_raw_int(payload, dict_blob, meta, n):
    if len(payload) != 8 * n:
        raise ValueError(
            f"raw int payload is {len(payload)} bytes, expected {8 * n}")
    return np.frombuffer(payload, dtype="<i8").copy()


def _for_pack(vals: np.ndarray) -> tuple[bytes, int, int]:
    """frame-of-reference: subtract min, bit-pack. Returns (bytes, min, width)."""
    if len(vals) == 0:
        return b"", 0, 0
    vmin = int(vals.min())
    shifted = (vals.astype(np.int64) - vmin).astype(np.uint64)
    width = bitwidth_for(int(shifted.max()))
    return pack_uints(shifted, width), vmin, width


def enc_for_int(vals: np.ndarray):
    data, vmin, width = _for_pack(vals)
    return data, None, {"min": vmin, "w": width}


def dec_for_int(payload, dict_blob, meta, n):
    u = unpack_uints(payload, meta["w"], n)
    return (u.astype(np.int64) + np.int64(meta["min"]))


def enc_delta_int(vals: np.ndarray):
    if len(vals) == 0:
        return b"", None, {"first": 0, "min": 0, "w": 0}
    first = int(vals[0])
    d = np.diff(vals.astype(np.int64))
    data, vmin, width = _for_pack(d) if len(d) else (b"", 0, 0)
    return data, None, {"first": first, "min": vmin, "w": width}


def dec_delta_int(payload, dict_blob, meta, n):
    if n == 0:
        return np.empty(0, dtype=np.int64)
    d = unpack_uints(payload, meta["w"], n - 1).astype(np.int64) + np.int64(meta["min"])
    out = np.empty(n, dtype=np.int64)
    out[0] = meta["first"]
    np.cumsum(d, out=out[1:]) if n > 1 else None
    if n > 1:
        out[1:] += meta["first"]
    return out


def enc_rle_int(vals: np.ndarray):
    n = len(vals)
    if n == 0:
        return pack_uints_framed(np.empty(0, np.uint64)), None, {"min": 0, "w": 0, "r": 0}
    change = np.concatenate([[True], vals[1:] != vals[:-1]])
    starts = np.flatnonzero(change)
    run_lengths = np.diff(np.concatenate([starts, [n]])).astype(np.uint64)
    rv_data, vmin, width = _for_pack(vals[starts])
    payload = pack_uints_framed(run_lengths) + rv_data
    return payload, None, {"min": vmin, "w": width, "r": len(starts)}


def dec_rle_int(payload, dict_blob, meta, n):
    buf = memoryview(payload)
    run_lengths, consumed = unpack_uints_framed(buf)
    r = len(run_lengths)
    rv = unpack_uints(buf[consumed:], meta["w"], r).astype(np.int64) + np.int64(meta["min"])
    return np.repeat(rv, run_lengths.astype(np.int64))


def enc_dict_int(vals: np.ndarray):
    uniques, inverse = np.unique(vals, return_inverse=True)
    payload = pack_uints_framed(inverse.astype(np.uint64))
    dv, vmin, width = _for_pack(uniques)
    dict_blob = U32.pack(len(uniques)) + dv
    return payload, dict_blob, {"min": vmin, "w": width, "k": len(uniques)}


def dec_dict_int(payload, dict_blob, meta, n):
    idx, _ = unpack_uints_framed(memoryview(payload))
    buf = memoryview(dict_blob)
    k = U32.unpack_from(buf, 0)[0]
    uniques = unpack_uints(buf[4:], meta["w"], k).astype(np.int64) + np.int64(meta["min"])
    return uniques[idx.astype(np.int64)]


STR_CODECS = {
    "raw": (enc_raw_str, dec_raw_str),
    "dict": (enc_dict_str, dec_dict_str),
    "rle": (enc_rle_str, dec_rle_str),
    "fsst": (enc_fsst_str, dec_fsst_str),
    "linedict": (enc_linedict_str, dec_linedict_str),
    "pathdict": (enc_pathdict_str, dec_linedict_str),
    "hex": (enc_hex_str, dec_hex_str),
}

INT_CODECS = {
    "raw": (enc_raw_int, dec_raw_int),
    "for": (enc_for_int, dec_for_int),
    "delta": (enc_delta_int, dec_delta_int),
    "rle": (enc_rle_int, dec_rle_int),
    "dict": (enc_dict_int, dec_dict_int),
}


# --------------------------------------------------------------------------
# codec auto-selection (SURVEY.md §2 B9): estimate -> pick min -> encode
# --------------------------------------------------------------------------

def chunk_stats_str(arr: pa.Array) -> dict:
    lengths, n_bytes = _string_buffers(arr)
    n = len(arr)
    _, ids, uniques = _split_dedup(arr)
    runs = 1 + int(np.count_nonzero(np.diff(ids))) if n > 1 else min(n, 1)
    return {
        "n": n, "n_bytes": n_bytes, "k": len(uniques),
        "runs": runs, "avg_len": (n_bytes / n) if n else 0.0,
        "_dedup": (ids, uniques),
    }


def select_and_encode_str(arr: pa.Array,
                          allow_linedict: bool = True,
                          cache: FsstTableCache | None = None,
                          cache_key: str | None = None,
                          ) -> tuple[str, bytes, bytes | None, dict]:
    """Auto-select + encode a string chunk. ``allow_linedict=False`` for
    opaque binary payloads viewed as strings (no UTF-8 line semantics).
    ``cache``/``cache_key``: per-worker FSST table reuse across chunks."""
    n = len(arr)
    if n == 0:
        payload, dict_blob, meta = enc_raw_str(arr)
        return "raw", payload, dict_blob, meta
    st = chunk_stats_str(arr)
    dedup = st.pop("_dedup")
    ids, dict_strings = dedup
    n_bytes = st["n_bytes"]
    k, runs = st["k"], st["runs"]
    _, dict_bytes = _string_buffers(dict_strings)

    est: dict[str, float] = {}
    est["raw"] = n_bytes + packed_size(n, 20) + 16
    idx_w = bitwidth_for(max(k - 1, 0))
    # hash-like chunks (commits, digests) matter twice: as a standalone
    # hex codec AND inside the dict estimate — _flagged_blob_encode packs
    # a hex-eligible dictionary at 2 chars/byte, so a repeated-hash chunk
    # (many files per commit) dict-codes to k*len/2 + small indices, far
    # under the 0.7 FSST guess that used to hide the win from selection
    hex_ok = (st["avg_len"] >= 4
              and _hex_eligible(arr.slice(0, min(n, 8)))
              and _hex_eligible(arr))
    # dictionary blob may itself hex-pack or FSST-compress
    if hex_ok:
        blob_factor = 0.5
    elif dict_bytes >= _FSST_BLOB_MIN:
        blob_factor = 0.7
    else:
        blob_factor = 1.0
    blob_est = dict_bytes * blob_factor + k * 2
    est["dict"] = packed_size(n, idx_w) + blob_est + 24
    if runs <= n // 2 or runs <= 4:
        rv = arr.take(np.flatnonzero(
            np.concatenate([[True], np.diff(ids) != 0])))
        _, rv_bytes = _string_buffers(rv)
        est["rle"] = packed_size(runs, 32) + rv_bytes * 0.9 + runs * 2 + 24
    # linedict/pathdict: EXACT segment-dictionary sizing on the full chunk
    # (one _split_dedup pass each, and segment-dedup ratios are
    # dedup-driven — a row sample systematically overestimates them). The
    # prep is kept and reused by the winner's actual encode.
    pre_by_codec: dict[str, dict] = {}
    # a segment dictionary under this share of the raw bytes "clearly
    # wins": the FSST trial below is then skipped
    clear_win = 0.35 * n_bytes

    def _sepdict_best() -> float:
        return min(est.get("linedict", 1e18), est.get("pathdict", 1e18))

    def _sepdict_est(sep: str, name: str) -> None:
        pre = _sepdict_prepare(arr, sep)
        seg_dict = pre["seg_dict"]
        _, uniq_bytes = _string_buffers(seg_dict)
        # exact lower bound on the estimate below: FSST codes each symbol
        # of <= MAX_SYMBOL_LEN bytes as one byte, so the blob costs at
        # least uniq_bytes / MAX_SYMBOL_LEN, and the packed payload >= 0.
        # A trial whose bound already loses is skipped (no pack, no FSST
        # estimate) unless its estimate could still flip the clear-win
        # gate of the FSST trial. The trial never writes the worker
        # cache, so skipping it leaves every encoded byte unchanged.
        floor = uniq_bytes / fsst.MAX_SYMBOL_LEN + 2 * len(seg_dict)
        if floor > min(est.values()) and (
                floor >= clear_win or _sepdict_best() < clear_win):
            return
        _sepdict_pack(pre)  # exact index/count payload, kept for the winner
        pre_by_codec[name] = pre
        kk = max(pre["k"], 1)
        if uniq_bytes >= _FSST_BLOB_MIN:
            # trial-FSST the segment dictionary (same sampling optimism as
            # the fsst candidate's own estimate, so the comparison is
            # fair). r8: when the worker cache already holds the
            # WINNER's full-trained table for this column's blob
            # ("/ld"/"/pd", put there by _flagged_blob_encode on an
            # earlier chunk), estimate with THAT table — it is the very
            # table the winning encode will reuse, so the estimate is
            # more faithful than a fresh sample trial AND the ~25 ms
            # per-chunk training pass disappears (guide §4.5: amortize
            # heavyweight init; training was ~45% of the measured
            # per-chunk kernel cost). The estimate never writes the
            # cache: the first chunk still trains a throwaway sample
            # table here and the winner's encode still trains full and
            # populates the slot, so encoded bytes match the uncached
            # behavior (reusing the 64-row estimate table for actual
            # encodes was tried first and cost +5.6% engine bytes).
            bkey = (f"{cache_key}/{'ld' if name == 'linedict' else 'pd'}"
                    if cache_key else None)
            cached = cache.tables.get(bkey) if cache and bkey else None
            blob_ratio, _tbl = fsst.estimate_ratio(
                pre["uniques"], _EST_SAMPLE_ROWS, table=cached)
            blob = uniq_bytes * min(blob_ratio, 1.0)
        else:
            blob = float(uniq_bytes)
        est[name] = len(pre["payload"]) + blob + kk * 2

    if allow_linedict and st["avg_len"] >= 8:
        # a segment dictionary only beats a whole-value dictionary when
        # values actually split: require >= 1 separator per value on avg
        if st["avg_len"] >= 40 and _count_byte(arr, "\n") >= n:
            _sepdict_est("\n", "linedict")
        # path-shaped values: '/'-separated components are low-cardinality
        # even when whole values are unique. The exact full-chunk trial is
        # real work (split + dedup + pack), so pre-filter
        # slash-heavy columns whose segments DON'T dedup (URLs with unique
        # query strings): sample rows, split, and skip the trial only when
        # the sampled segments are almost all unique — a sample *over*states
        # uniqueness, so >=0.95 unique in-sample means the full chunk can't
        # dedup enough for a segment dictionary to win.
        if _count_byte(arr, "/") >= n:
            _, probe_ids, probe_uniq = _split_dedup(
                arr.slice(0, min(n, 256)), "/")
            nseg = len(probe_ids)
            if nseg == 0 or len(probe_uniq) < 0.95 * nseg:
                _sepdict_est("/", "pathdict")

    # hex-pack: hash-like columns (commits, digests) — 2 chars/byte exact
    # (hex_ok computed above, shared with the dict blob estimate)
    if hex_ok:
        _, hx_bytes = _string_buffers(arr)
        est["hex"] = hx_bytes / 2 + packed_size(n, 8) + 16

    # fsst: trial-encode a sample (only sensible when values are mostly
    # unique); the trial-trained table is reused for the real encode —
    # training on a row sample IS the FSST design. Skipped when linedict
    # already estimates below what an FSST table (<=255 symbols of <=8
    # bytes) can realistically reach on text, saving a training pass.
    fsst_table = None
    linedict_clearly_wins = _sepdict_best() < clear_win
    if k > max(4, n // 16) and st["avg_len"] >= 4 and not linedict_clearly_wins:
        fkey = f"{cache_key}/fsst" if cache_key else None
        cached = cache.get(fkey) if cache and fkey else None
        ratio, fsst_table = fsst.estimate_ratio(arr, _EST_SAMPLE_ROWS,
                                                table=cached)
        if cached is not None and ratio > 0.75:
            # poor fit -> retrain on this chunk's own sample
            ratio2, table2 = fsst.estimate_ratio(arr, _EST_SAMPLE_ROWS)
            if ratio2 < ratio:
                ratio, fsst_table = ratio2, table2
                cached = None
        if cache and fkey and cached is None and fsst_table:
            cache.put(fkey, fsst_table)
        est["fsst"] = ratio * n_bytes + 600 + packed_size(n, 16)

    winner = min(est, key=lambda c: est[c])
    if winner == "dict":
        payload, dict_blob, meta = enc_dict_str(arr, dedup, cache,
                                                f"{cache_key}/dict" if cache_key else None)
    elif winner == "fsst":
        payload, dict_blob, meta = enc_fsst_str(arr, fsst_table)
    elif winner == "linedict":
        payload, dict_blob, meta = enc_linedict_str(
            arr, cache, f"{cache_key}/ld" if cache_key else None,
            pre=pre_by_codec.get("linedict"))
    elif winner == "pathdict":
        payload, dict_blob, meta = enc_pathdict_str(
            arr, cache, f"{cache_key}/pd" if cache_key else None,
            pre=pre_by_codec.get("pathdict"))
    else:
        payload, dict_blob, meta = STR_CODECS[winner][0](arr)
    enc_size = len(payload) + (len(dict_blob) if dict_blob else 0)
    if winner != "raw" and enc_size >= est["raw"]:
        payload, dict_blob, meta = enc_raw_str(arr)
        winner = "raw"
    meta.update({k2: v for k2, v in st.items()})
    return winner, payload, dict_blob, meta


def select_and_encode_int(vals: np.ndarray) -> tuple[str, bytes, bytes | None, dict]:
    n = len(vals)
    if n == 0:
        payload, dict_blob, meta = enc_raw_int(vals)
        return "raw", payload, dict_blob, meta
    v = vals.astype(np.int64)
    vmin, vmax = int(v.min()), int(v.max())
    est: dict[str, float] = {"raw": n * 8}
    for_w = bitwidth_for(vmax - vmin) if vmax > vmin else 0
    est["for"] = packed_size(n, for_w) + 24
    if n > 1:
        d = np.diff(v)
        dmin, dmax = int(d.min()), int(d.max())
        delta_w = bitwidth_for(dmax - dmin) if dmax > dmin else 0
        est["delta"] = packed_size(n - 1, delta_w) + 32
        runs = 1 + int(np.count_nonzero(d))
    else:
        runs = 1
    if runs <= max(n // 3, 1):
        est["rle"] = packed_size(runs, 32) + packed_size(runs, for_w) + 32
    # dict only pays off when k small and FoR width is large
    if for_w >= 8:
        k = len(np.unique(v[:: max(1, n // 256)]))  # sampled cardinality
        if k <= 256:
            k_full = len(np.unique(v))
            est["dict"] = packed_size(n, bitwidth_for(max(k_full - 1, 0))) \
                + packed_size(k_full, for_w) + 32
    winner = min(est, key=lambda c: est[c])
    payload, dict_blob, meta = INT_CODECS[winner][0](v)
    enc_size = len(payload) + (len(dict_blob) if dict_blob else 0)
    if winner != "raw" and enc_size >= n * 8:
        payload, dict_blob, meta = enc_raw_int(v)
        winner = "raw"
    meta.update({"n": n, "min": meta.get("min", vmin)})
    return winner, payload, dict_blob, meta


# --------------------------------------------------------------------- ALP
# Decimal-float codec after ALP (Afroozeh & Boncz, "ALP: Adaptive Lossless
# floating-Point compression", SIGMOD 2024) — the single-factor variant:
# d = round(v * 10^e) with a bit-exact inverse check (d * 10^-e reproduces
# v's IEEE bits), d through the int codec family (FoR/delta/dict/rle),
# failures patched as (position, raw-bits) exceptions. Real-world floats
# are overwhelmingly decimals printed to fixed precision (prices, sensor
# readings, percentages); their IEEE bit patterns look random to FoR/dict,
# but the decimal integers underneath are tiny. NaN/Inf/huge values become
# exceptions; truly random floats fail the sample gate and keep the
# bit-view int path. Pure NumPy, no per-row Python.

_ALP_POW10 = 10.0 ** np.arange(19)     # 10^0 .. 10^18 (exact in float64)
_ALP_MAX_EXP = 18
_ALP_SAFE = float(2**53)  # |d| bound: round exact + int64-safe


def _alp_scale(v64: np.ndarray, e: int, orig: np.ndarray,
               f32: bool) -> tuple[np.ndarray, np.ndarray]:
    """(d, ok): d = round(v*10^e); ok where decode's exact expression
    (int64 -> float64 DIVIDE by 10^e, cast for f32) restores orig's
    bits. Correct by construction: the check IS the decode computation.

    Division, not multiply-by-10^-e: real-world decimal floats come from
    string parsing or division, both correctly-rounded — d / 10^e (one
    correctly-rounded IEEE divide by the exactly-representable power)
    reproduces them bit-for-bit, while d * fl(10^-e) compounds the
    inverse's own rounding error and threw ~13% of uniform 2-decimal
    money values into the exception list (measured, tools/scale_floats)."""
    # + 0.0 normalizes -0.0 to +0.0 (IEEE): decode goes through int64,
    # which cannot carry a signed zero — so -0.0 must fail the check and
    # travel as an exception, not silently decode to +0.0
    d = np.round(v64 * _ALP_POW10[e]) + 0.0
    with np.errstate(invalid="ignore"):
        ok = np.abs(d) < _ALP_SAFE  # False for NaN/Inf too
    rt = d / _ALP_POW10[e]
    if f32:
        ok &= rt.astype(np.float32).view(np.int32) == orig.view(np.int32)
    else:
        ok &= rt.view(np.int64) == orig.view(np.int64)
    return d, ok


def try_alp_encode(orig: np.ndarray):
    """ALP candidate for a null-free float32/float64 chunk.

    Returns (e, n_exc, inner_codec, inner_payload, inner_dict, inner_meta,
    pos_bytes, exc_bytes) or None when no exponent makes >=70% of values
    exactly representable (the caller then keeps the IEEE bit-view path).
    Exponent choice: scan e=0..18 on a <=1024-value stride sample, score
    estimated bytes/value = FoR-width(d range)/8 + exception overhead."""
    f32 = orig.dtype == np.float32
    if not (f32 or orig.dtype == np.float64):
        return None
    n = len(orig)
    if n == 0:
        return None
    v64 = orig.astype(np.float64) if f32 else orig
    step = max(1, n // 1024)
    s64, s_orig = v64[::step][:1024], orig[::step][:1024]
    exc_bytes_per = 4 + (4 if f32 else 8)
    best_e, best_cost = None, None
    with np.errstate(over="ignore", invalid="ignore"):
        for e in range(_ALP_MAX_EXP + 1):
            d, ok = _alp_scale(s64, e, s_orig, f32)
            okf = float(ok.mean())
            if okf < 0.7:
                continue
            dok = d[ok]
            rng = float(dok.max() - dok.min()) if len(dok) else 0.0
            bits = bitwidth_for(int(rng)) if rng >= 1.0 else 1
            cost = bits / 8.0 + (1.0 - okf) * exc_bytes_per
            if best_cost is None or cost < best_cost - 1e-9:
                best_e, best_cost = e, cost
    if best_e is None:
        return None
    with np.errstate(over="ignore", invalid="ignore"):
        d, ok = _alp_scale(v64, best_e, orig, f32)
    n_exc = int(n - int(ok.sum()))
    if n_exc > 0.3 * n:
        return None  # sample lied; not worth the exception list
    d_i = d.astype(np.int64, copy=True) if n_exc == 0 else None
    if n_exc:
        okd = d[ok]
        fill = okd[0] if len(okd) else 0.0  # a legal value: keeps FoR tight
        d_i = np.where(ok, d, fill).astype(np.int64)
        pos = np.flatnonzero(~ok).astype(np.uint32)
        posb, excb = pos.tobytes(), orig[~ok].tobytes()
    else:
        posb = excb = b""
    ic, ip, idict, im = select_and_encode_int(d_i)
    return best_e, n_exc, ic, ip, idict, im, posb, excb


def alp_decode_values(inner_codec: str, inner_payload, inner_dict,
                      inner_meta: dict, n: int, e: int, n_exc: int,
                      posb, excb, f32: bool) -> np.ndarray:
    """Inverse of try_alp_encode -> float array with orig's exact bits."""
    d = np.asarray(decode_int(inner_codec, inner_payload, inner_dict,
                              inner_meta, n), dtype=np.int64)
    v = d.astype(np.float64) / _ALP_POW10[e]  # see _alp_scale: division
    if f32:
        v = v.astype(np.float32)
    if n_exc:
        pos = np.frombuffer(posb, dtype=np.uint32).astype(np.int64)
        exc = np.frombuffer(excb, dtype=np.float32 if f32 else np.float64)
        v[pos] = exc
    return v


def decode_str(codec: str, payload, dict_blob, meta: dict, n: int) -> pa.Array:
    return STR_CODECS[codec][1](payload, dict_blob, meta, n)


def decode_int(codec: str, payload, dict_blob, meta: dict, n: int) -> np.ndarray:
    return INT_CODECS[codec][1](payload, dict_blob, meta, n)
