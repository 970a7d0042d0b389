"""Encode/decode executors (SURVEY.md §2 B10/B11).

Spark-first design: the encode kernel is a ``mapInArrow`` function — the
executor JVM streams Arrow record batches over IPC to the Python worker,
the kernel accumulates them into size-bounded chunks, encodes every column
with codec auto-selection (functions/codecs.py), and emits one ``enc`` row
per (partition, chunk, column). No RDDs, no per-row Python, no driver-side
data movement. A chunk's columns encode on two threads
(``encode_chunk_table``).

A task receives several whole buckets, one after another:
``repartition_by_bucket`` sends bucket b to shuffle partition b and
coalesces those into one task per core. The kernel encodes a bucket's
chunks on one chunk thread per process while the task's own thread
reads the next bucket from the JVM, so the Arrow hand-off and the encode
overlap instead of taking turns. Parts stay keyed by bucket.

Decode is one chunk decoder (``decode_chunk``) with two callers:
plans/manifest.py ``decode_table`` reads an encoded table part by part
with no shuffle, and ``decode_df`` restores an in-memory ``encode_df``
result after one shuffle of *compressed* bytes grouped by (part_id,
chunk_id). Either way each chunk's columns come back bit-identically.

Capability parity: reference = renesugar/FileConvert csv2parquet/parquet2csv
two-pass pipeline (BASELINE.json line 6; checkout empty, SURVEY.md §0) —
its row-group writer corresponds to the chunked encode here, its page
decoder to the grouped decode.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import uuid
from collections import deque
from collections.abc import Iterator
from concurrent.futures import Future, ThreadPoolExecutor, wait

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..functions import codecs
from ..functions.bitpack import validity_pack, validity_unpack

# one enc row per (part_id, chunk_id, column)
ENC_ARROW_SCHEMA = pa.schema(
    [
        ("part_id", pa.int32()),
        ("chunk_id", pa.int64()),
        ("column", pa.string()),
        ("codec", pa.string()),
        ("n_rows", pa.int64()),
        ("validity", pa.binary()),
        ("payload", pa.binary()),
        ("dict", pa.binary()),
        ("meta", pa.string()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("sha256_chunk", pa.binary()),
    ]
)

ENC_SPARK_SCHEMA = (
    "part_id int, chunk_id long, column string, codec string, n_rows long, "
    "validity binary, payload binary, dict binary, meta string, "
    "raw_bytes long, enc_bytes long, sha256_chunk binary"
)

DEFAULT_CHUNK_ROWS = 65536
DEFAULT_CHUNK_BYTES = 32 << 20  # a chunk flushes at whichever limit
                                # (rows or Arrow bytes) it reaches first

# arrow types reconstructible from their str() name (fast path)
_TYPE_REGISTRY: dict[str, pa.DataType] = {
    str(t): t
    for t in [
        pa.string(), pa.large_string(), pa.bool_(),
        pa.int8(), pa.int16(), pa.int32(), pa.int64(),
        pa.uint8(), pa.uint16(), pa.uint32(),
        pa.float32(), pa.float64(),
        pa.date32(), pa.date64(),
        pa.timestamp("s"), pa.timestamp("ms"), pa.timestamp("us"),
        pa.timestamp("ns"),
        pa.binary(), pa.large_binary(),
    ]
}

_RE = __import__("re")
_TS_RE = _RE.compile(r"^timestamp\[(s|ms|us|ns)(?:, tz=(.+))?\]$")
_DEC_RE = _RE.compile(r"^decimal128\((\d+), (\d+)\)$")
# field name varies by producer: pyarrow says "item", Spark "element"
_LIST_RE = _RE.compile(r"^(?:large_)?list<\w+: (.+)>$")
_STRUCT_RE = _RE.compile(r"^struct<(.*)>$")
_MAP_RE = _RE.compile(r"^map<(.+)>$")


def _split_top_level(s: str) -> list[str]:
    """Split on commas at angle-bracket depth 0 ('a: int64, b: list<...>')."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[start:i].strip())
            start = i + 1
    tail = s[start:].strip()
    if tail:
        out.append(tail)
    return out


def _type_from_str(name: str) -> pa.DataType:
    """Reconstruct an arrow type from its str() name; raises on unknown
    types so decode NEVER silently mis-types a column."""
    t = _TYPE_REGISTRY.get(name)
    if t is not None:
        return t
    m = _TS_RE.match(name)
    if m:
        return pa.timestamp(m.group(1), tz=m.group(2))
    m = _DEC_RE.match(name)
    if m:
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    m = _LIST_RE.match(name)
    if m:
        return pa.list_(_type_from_str(m.group(1)))  # recursive (list<list<..>>)
    m = _STRUCT_RE.match(name)
    if m:
        fields = []
        for part in _split_top_level(m.group(1)):
            fname, ftype = part.split(": ", 1)
            fields.append(pa.field(fname, _type_from_str(ftype)))
        return pa.struct(fields)
    m = _MAP_RE.match(name)
    if m:
        kt, vt = _split_top_level(m.group(1))
        return pa.map_(_type_from_str(kt), _type_from_str(vt))
    raise NotImplementedError(f"unsupported column type for decode: {name}")


def _pack_frames(*blobs: bytes) -> bytes:
    """[u32 len][bytes] per frame — container for nested codec streams."""
    return b"".join(
        __import__("struct").pack("<I", len(b)) + b for b in blobs
    )


def _unpack_frames(buf, n_frames: int) -> list[bytes]:
    import struct as _st

    buf = memoryview(buf)
    out, off = [], 0
    for _ in range(n_frames):
        ln = _st.unpack_from("<I", buf, off)[0]
        out.append(bytes(buf[off + 4 : off + 4 + ln]))
        off += 4 + ln
    return out


def _binary_as_string_view(arr: pa.Array) -> pa.Array:
    """View a binary array's buffers as a string array WITHOUT utf8
    validation — the codecs treat values as opaque bytes (equality,
    hashing, dictionary-encode are byte-wise in Arrow)."""
    if pa.types.is_large_binary(arr.type):
        arr = arr.cast(pa.binary())
    return pa.Array.from_buffers(
        pa.string(), len(arr),
        [arr.buffers()[0], arr.buffers()[1], arr.buffers()[2]],
        null_count=arr.null_count, offset=arr.offset)


def _string_as_binary_view(arr: pa.Array) -> pa.Array:
    return pa.Array.from_buffers(
        pa.binary(), len(arr),
        [arr.buffers()[0], arr.buffers()[1], arr.buffers()[2]],
        null_count=arr.null_count, offset=arr.offset)


def _decimal_bytes(arr: pa.Array) -> np.ndarray:
    """(n, 16) uint8 view of a decimal128 array's two's-complement values
    (little-endian), honoring any slice offset. No per-row Python."""
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    raw = np.frombuffer(arr.buffers()[1], dtype=np.uint8)
    start = arr.offset * 16
    return raw[start : start + len(arr) * 16].reshape(-1, 16)


def _decimal_to_int64(arr: pa.Array) -> np.ndarray | None:
    """Unscaled int64 values of a decimal128 array, or None when any value
    needs more than 64 bits (precision > 18 can overflow)."""
    limbs = _decimal_bytes(arr).view(np.int64).reshape(-1, 2)  # [lo, hi]
    lo, hi = limbs[:, 0], limbs[:, 1]
    if not (hi == (lo >> 63)).all():  # hi must be pure sign extension
        return None
    return lo.copy()


def _int64_to_decimal(vals: np.ndarray, dec_type: pa.DataType) -> pa.Array:
    """Rebuild a decimal128 array from unscaled int64 values."""
    vals = np.asarray(vals, dtype=np.int64)
    limbs = np.empty((len(vals), 2), dtype=np.int64)
    limbs[:, 0] = vals
    limbs[:, 1] = vals >> 63  # sign extension
    return pa.Array.from_buffers(
        dec_type, len(vals), [None, pa.py_buffer(limbs.tobytes())]
    )


def _decimal_to_binary(arr: pa.Array) -> pa.Array:
    """decimal128 -> variable binary of the 16-byte values (buffer-level)."""
    data = _decimal_bytes(arr).tobytes()
    n = len(arr)
    offsets = np.arange(0, 16 * (n + 1), 16, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(), n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data)],
    )


def _binary_to_decimal(bin_arr: pa.Array, dec_type: pa.DataType) -> pa.Array:
    """Inverse of _decimal_to_binary (all values are exactly 16 bytes)."""
    bin_arr = (bin_arr.combine_chunks()
               if isinstance(bin_arr, pa.ChunkedArray) else bin_arr)
    n = len(bin_arr)
    offs = np.frombuffer(bin_arr.buffers()[1], dtype=np.int32)[
        bin_arr.offset : bin_arr.offset + n + 1]
    data = np.frombuffer(bin_arr.buffers()[2], dtype=np.uint8)[
        offs[0] : offs[0] + 16 * n]
    return pa.Array.from_buffers(
        dec_type, n, [None, pa.py_buffer(data.tobytes())]
    )


def _as_int64(arr: pa.Array) -> tuple[np.ndarray, str]:
    """Adapt a null-free arrow array to int64 for the int codec family.

    Returns (values, adapter) where adapter tells decode how to restore:
    'i' plain integral cast, 'f64'/'f32' IEEE bit views (exact roundtrip
    incl. NaN payloads and -0.0).
    """
    t = arr.type
    if pa.types.is_float64(t):
        return arr.to_numpy(zero_copy_only=False).view(np.int64).copy(), "f64"
    if pa.types.is_float32(t):
        bits = arr.to_numpy(zero_copy_only=False).view(np.uint32)
        return bits.astype(np.int64), "f32"
    if pa.types.is_date32(t):  # no direct date32->int64 cast in arrow
        arr = arr.cast(pa.int32())
    elif pa.types.is_date64(t):
        arr = arr.view(pa.int64())
    return arr.cast(pa.int64()).to_numpy(zero_copy_only=False).copy(), "i"


def _from_int64(vals: np.ndarray, adapter: str, orig_type: pa.DataType) -> pa.Array:
    if adapter == "dec":
        return _int64_to_decimal(vals, orig_type)
    if adapter == "f64":
        return pa.array(np.asarray(vals, dtype=np.int64).view(np.float64))
    if adapter == "f32":
        return pa.array(np.asarray(vals, dtype=np.int64).astype(np.uint32).view(np.float32))
    out = pa.array(np.asarray(vals, dtype=np.int64))
    if pa.types.is_date32(orig_type):
        return out.cast(pa.int32()).cast(orig_type)
    if pa.types.is_date64(orig_type):
        return out.view(pa.date64())
    return out.cast(orig_type)


# one cache per Python worker process; workers are reused across tasks, so
# FSST tables amortize across every chunk of a column the worker ever sees
_WORKER_FSST_CACHE = codecs.FsstTableCache()

# A chunk's top-level columns encode on this many threads (the C kernels,
# NumPy and Arrow release the GIL). Two, not more: content is over half
# of kernel CPU, so once it has a thread of its own a third cannot shorten
# the chunk; and the task's own thread spends most of its time waiting on
# the JVM for the next bucket, so a task keeps about two cores busy
# (perfbench runs local[nproc/2] for that reason). Nested fields stay on
# their column's thread: a pool thread never submits, which with two
# workers could deadlock.
_COLUMN_THREADS = 2
# A task's chunks encode one at a time, in order, on one thread per
# process (make_encode_fn): one chunk thread keeps each worker's FSST
# cache seeing chunks in input order, whatever the scheduling.
_POOL_THREADS = {"fcs-encode": _COLUMN_THREADS, "fcs-chunk": 1}
_POOLS: dict[str, ThreadPoolExecutor] = {}
_POOLS_LOCK = threading.Lock()


def _pool(name: str) -> ThreadPoolExecutor:
    """The per-process pool ``name`` ("fcs-encode": columns,
    "fcs-chunk": chunks), created on first use."""
    with _POOLS_LOCK:
        pool = _POOLS.get(name)
        if pool is None:
            pool = _POOLS[name] = ThreadPoolExecutor(
                _POOL_THREADS[name], thread_name_prefix=name)
        return pool


def _forget_pools() -> None:
    # a forked child inherits the pool objects but not their threads
    global _POOLS_LOCK
    _POOLS.clear()
    _POOLS_LOCK = threading.Lock()


os.register_at_fork(after_in_child=_forget_pools)


_ZONE_MAX_STR = 64  # utf-8 bytes; longer bounds are dropped, not truncated
                    # (a truncated max is not a valid upper bound)
_ZONE_MAX_DISTINCT = 16  # distinct-value list cap per chunk (zsv)


def _zone_stats(clean: pa.Array, t: pa.DataType):
    """Per-chunk zone-map stats for predicate-pushdown decode
    (plans/manifest.py decode_table(predicate=...)): (bounds, values)
    where bounds = [min, max] and values = the sorted distinct values
    when the chunk holds <= _ZONE_MAX_DISTINCT of them, else None.

    The distinct list is what makes pruning work on HASH-bucketed key
    columns: a bucket holds a handful of scattered key values, so its
    [min, max] envelope spans nearly the whole key range and never
    prunes, while the value list prunes equality predicates exactly
    (each value becomes a degenerate [v, v] interval in the part
    manifest). Strings (bounded length), integers, and floats only;
    (None, None) = no pruning for this chunk — always safe, since
    pruning treats missing stats as 'may match'."""
    import math

    if len(clean) == 0:
        return None, None
    try:
        import pyarrow.compute as pc

        zsv = None
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            mm = pc.min_max(clean)
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
            if (mn is None or len(mn.encode()) > _ZONE_MAX_STR
                    or len(mx.encode()) > _ZONE_MAX_STR):
                return None, None
        elif pa.types.is_integer(t) or pa.types.is_floating(t):
            mm = pc.min_max(clean)
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
            if mn is None or (isinstance(mn, float) and (
                    math.isnan(mn) or math.isnan(mx))):
                return None, None
        else:
            return None, None
        uniq = pc.unique(clean)
        if len(uniq) <= _ZONE_MAX_DISTINCT:
            zsv = sorted(uniq.to_pylist())
        return [mn, mx], zsv
    except Exception:  # noqa: BLE001 - stats are an optimization only
        return None, None


def encode_column(arr: pa.Array, cache_key: str | None = None,
                  zone_stats: bool = True) -> dict:
    """Encode one column chunk (nulls handled here) -> enc row fields.

    ``zone_stats``: store [min, max] zone-map bounds in the chunk meta
    (decode_table predicate pushdown). Callers that know the column is
    not a pruning target pass False — the bounds are pure metadata cost
    on unclustered data (VERDICT r4 item 3), ~50 bytes/chunk/column.
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    orig_type = str(arr.type)
    validity = None
    if arr.null_count:
        mask = np.asarray(arr.is_valid())
        validity = validity_pack(mask)
        clean = arr.drop_null()
    else:
        clean = arr

    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        if pa.types.is_large_string(t):
            clean = clean.cast(pa.string())
        codec, payload, dict_blob, meta = codecs.select_and_encode_str(
            clean, cache=_WORKER_FSST_CACHE if cache_key else None,
            cache_key=cache_key)
        _, data_bytes = codecs._string_buffers(clean)
        raw_bytes = data_bytes + 4 * n
        meta["vt"] = "str"
    elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
        view = _binary_as_string_view(clean)
        codec, payload, dict_blob, meta = codecs.select_and_encode_str(
            view, allow_linedict=False,
            cache=_WORKER_FSST_CACHE if cache_key else None,
            cache_key=cache_key)
        _, data_bytes = codecs._string_buffers(view)
        raw_bytes = data_bytes + 4 * n
        meta["vt"] = "bin"
    elif pa.types.is_decimal(t):
        _type_from_str(orig_type)  # fail fast (decimal256 etc. unsupported)
        if not isinstance(clean, pa.Array):
            clean = clean.combine_chunks()
        vals = _decimal_to_int64(clean)
        raw_bytes = n * 16
        if vals is not None:
            # unscaled values fit int64 -> full int codec family (FoR/delta)
            codec, payload, dict_blob, meta = codecs.select_and_encode_int(vals)
            meta["vt"] = "int"
            meta["ad"] = "dec"
        else:
            # >64-bit unscaled values: 16-byte buffers through the byte codecs
            view = _binary_as_string_view(_decimal_to_binary(clean))
            codec, payload, dict_blob, meta = codecs.select_and_encode_str(
                view, allow_linedict=False,
                cache=_WORKER_FSST_CACHE if cache_key else None,
                cache_key=cache_key)
            meta["vt"] = "dec16"
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        _type_from_str(orig_type)  # fail fast on unsupported child types
        if not isinstance(clean, pa.Array):
            clean = clean.combine_chunks()
        # per-row lengths + compacted child values, each encoded with the
        # full codec machinery (recursive: list<list<...>> works too)
        import pyarrow.compute as pc

        lengths = pc.list_value_length(clean).cast(pa.int64()).to_numpy(
            zero_copy_only=False).astype(np.int64)
        child = pc.list_flatten(clean)
        lc, lp, _ld, lm = codecs.select_and_encode_int(lengths)
        cf = encode_column(child,
                           cache_key=f"{cache_key}.item" if cache_key else None)
        payload = _pack_frames(
            lp, cf["payload"], cf["dict"] or b"", cf["validity"] or b"")
        dict_blob = None
        meta = {
            "vt": "list", "lc": lc, "lm": lm,
            "cc": cf["codec"], "cm": cf["meta"], "cn": int(cf["n_rows"]),
            "cd": cf["dict"] is not None, "cv": cf["validity"] is not None,
        }
        codec = f"list[{cf['codec']}]"
        raw_bytes = int(cf["raw_bytes"]) + 4 * n
    elif pa.types.is_struct(t):
        _type_from_str(orig_type)  # fail fast on unsupported field types
        if not isinstance(clean, pa.Array):
            clean = clean.combine_chunks()
        frames: list[bytes] = []
        fmeta: list[dict] = []
        raw_bytes = 0
        for i in range(t.num_fields):
            fname = t.field(i).name
            cf = encode_column(
                clean.field(i),
                cache_key=f"{cache_key}.{fname}" if cache_key else None)
            frames += [cf["payload"], cf["dict"] or b"",
                       cf["validity"] or b""]
            fmeta.append({"nm": fname, "cc": cf["codec"], "cm": cf["meta"],
                          "cn": int(cf["n_rows"]),
                          "cd": cf["dict"] is not None,
                          "cv": cf["validity"] is not None})
            raw_bytes += int(cf["raw_bytes"])
        payload = _pack_frames(*frames)
        dict_blob = None
        meta = {"vt": "struct", "fs": fmeta}
        codec = "struct"
    elif pa.types.is_map(t):
        _type_from_str(orig_type)  # fail fast on unsupported key/value types
        if not isinstance(clean, pa.Array):
            clean = clean.combine_chunks()
        # offsets are contiguous per the Arrow spec (row i spans exactly
        # [offsets[i], offsets[i+1])), so per-row lengths are diff(offsets)
        # and the live entries are one child slice
        offs = np.frombuffer(clean.buffers()[1], dtype=np.int32,
                             count=len(clean) + 1, offset=clean.offset * 4)
        lengths = np.diff(offs).astype(np.int64)
        total = int(offs[-1] - offs[0])
        entries = pa.StructArray.from_arrays(
            [clean.keys.slice(offs[0], total),
             clean.items.slice(offs[0], total)],
            ["key", "value"])
        lc, lp, _ld, lm = codecs.select_and_encode_int(lengths)
        cf = encode_column(entries,
                           cache_key=f"{cache_key}.entries" if cache_key else None)
        payload = _pack_frames(lp, cf["payload"], cf["dict"] or b"",
                               cf["validity"] or b"")
        dict_blob = None
        meta = {"vt": "map", "lc": lc, "lm": lm,
                "cc": cf["codec"], "cm": cf["meta"], "cn": int(cf["n_rows"]),
                "cd": cf["dict"] is not None, "cv": cf["validity"] is not None}
        codec = "map"
        raw_bytes = int(cf["raw_bytes"]) + 4 * n
    else:
        _type_from_str(orig_type)  # fail fast on unsupported column types
        vals, adapter = _as_int64(clean)
        codec, payload, dict_blob, meta = codecs.select_and_encode_int(vals)
        raw_bytes = n * max(t.bit_width // 8, 1) if hasattr(t, "bit_width") else n * 8
        meta["vt"] = "int"
        meta["ad"] = adapter
        if adapter in ("f64", "f32") and len(clean):
            # ALP decimal-float candidate vs the IEEE bit-view path: the
            # winner is decided by ACTUAL encoded bytes, so adding ALP can
            # never regress a chunk (codecs.try_alp_encode docstring)
            alp = codecs.try_alp_encode(
                clean.to_numpy(zero_copy_only=False))
            if alp is not None:
                ae, nx, ic, ip, idict, im, posb, excb = alp
                alp_payload = _pack_frames(ip, idict or b"", posb, excb)
                alp_meta = {"vt": "alp", "ic": ic, "im": im, "ae": ae,
                            "nx": nx, "id": idict is not None,
                            "f32": adapter == "f32"}
                # compare TOTALS including the serialized metas — ALP's
                # meta (nested inner meta + exception fields) is bigger
                # than the int path's, so a payload-only compare could
                # still regress a near-tie chunk by a few bytes
                dumps = json.dumps
                std = (len(payload) + (len(dict_blob) if dict_blob else 0)
                       + len(dumps(meta, separators=(",", ":"))))
                alp_total = (len(alp_payload)
                             + len(dumps(alp_meta, separators=(",", ":"))))
                if alp_total < std:
                    codec, payload, dict_blob = "alp", alp_payload, None
                    meta = alp_meta
    meta["ot"] = orig_type
    if zone_stats:
        zs, zsv = _zone_stats(clean, t)
        if zs is not None:
            meta["zs"] = zs  # zone-map bounds ride inside the sha'd meta
        if zsv is not None:
            meta["zsv"] = zsv  # low-cardinality distinct values (exact)
    meta_json = json.dumps(meta, separators=(",", ":"))
    # integrity sha covers EVERY decode input (length-framed), so decode
    # can verify that no component — payload, dict, validity, or meta —
    # was corrupted at rest, not just the payload
    sha = chunk_integrity_sha(payload, dict_blob, validity, meta_json)
    enc_bytes = (
        len(payload)
        + (len(dict_blob) if dict_blob else 0)
        + (len(validity) if validity else 0)
        + len(meta_json)
    )
    return {
        "codec": codec,
        "n_rows": n,
        "validity": validity,
        "payload": payload,
        "dict": dict_blob,
        "meta": meta_json,
        "raw_bytes": int(raw_bytes),
        "enc_bytes": int(enc_bytes),
        "sha256_chunk": sha,
    }


class DecodeError(RuntimeError):
    """An encoded chunk failed integrity or structural checks at decode.

    Raised instead of ever returning silently-wrong data: the integrity
    sha covers payload + dict + validity + meta, so any at-rest bit flip
    in any component is detected before a codec touches the bytes, and
    structural failures inside a codec are wrapped with chunk context.
    """


def chunk_integrity_sha(payload: bytes, dict_blob: bytes | None,
                        validity: bytes | None, meta_json: str) -> bytes:
    """sha256 over all decode inputs, length-framed so component
    boundaries cannot shift (payload||dict ambiguity)."""
    h = hashlib.sha256()
    for part in (payload, dict_blob or b"", validity or b"",
                 meta_json.encode()):
        h.update(len(part).to_bytes(8, "little"))
        h.update(part)
    return h.digest()


def decode_column(codec: str, payload: bytes, dict_blob: bytes | None,
                  meta_json: str, n_rows: int,
                  validity: bytes | None,
                  expect_sha: bytes | None = None,
                  ctx: str = "",
                  page_dict: bytes | None = None) -> pa.Array:
    """Inverse of encode_column: restore the original arrow array exactly.

    ``expect_sha``: the chunk's stored integrity sha (enc row
    ``sha256_chunk``); when given, every decode input is verified against
    it before decoding and a mismatch raises DecodeError — corrupted
    bytes can never silently decode into wrong values. ``ctx`` names the
    chunk (part/chunk/column) in error messages.

    ``page_dict``: the part's shared dictionary-page blob for this column
    (consolidate_part_dicts); required when the chunk meta carries
    ``dp`` = 1, verified against the chunk's stored ``ps`` sha.
    """
    where = f" [{ctx}]" if ctx else ""
    if expect_sha is not None:
        got = chunk_integrity_sha(payload, dict_blob, validity, meta_json)
        if got != bytes(expect_sha):
            raise DecodeError(
                f"decode{where}: integrity sha mismatch for codec "
                f"{codec!r} ({n_rows} rows) — payload/dict/validity/meta "
                "bytes were corrupted at rest (expected "
                f"{bytes(expect_sha).hex()[:16]}…, got {got.hex()[:16]}…)")
    if '"dp":1' in meta_json:
        # chunk dict is a packed local->global map into the part's page
        dict_blob = resolve_page_dict(page_dict, dict_blob,
                                      json.loads(meta_json).get("ps"), where)
    try:
        out = _decode_column_checked(codec, payload, dict_blob, meta_json,
                                     n_rows, validity)
    except DecodeError:
        raise
    except Exception as e:  # noqa: BLE001 - any structural failure
        raise DecodeError(
            f"decode{where}: codec {codec!r} failed on a {n_rows}-row "
            f"chunk: {type(e).__name__}: {e}") from e
    if len(out) != n_rows:
        raise DecodeError(
            f"decode{where}: codec {codec!r} produced {len(out)} rows, "
            f"manifest says {n_rows} — truncated or corrupted chunk")
    return out


def _decode_column_checked(codec: str, payload: bytes,
                           dict_blob: bytes | None, meta_json: str,
                           n_rows: int, validity: bytes | None) -> pa.Array:
    meta = json.loads(meta_json)
    orig_type = _type_from_str(meta["ot"])
    n_valid = n_rows
    mask = None
    if validity is not None:
        mask = validity_unpack(validity, n_rows)
        n_valid = int(mask.sum())
    if meta["vt"] == "str":
        clean = codecs.decode_str(codec, payload, dict_blob, meta, n_valid)
        if not isinstance(clean, pa.Array):
            clean = clean.combine_chunks()
        clean = clean.cast(pa.string())
    elif meta["vt"] == "bin":
        clean = codecs.decode_str(codec, payload, dict_blob, meta, n_valid)
        if not isinstance(clean, pa.Array):
            clean = clean.combine_chunks()
        clean = _string_as_binary_view(clean)
    elif meta["vt"] == "dec16":
        clean = codecs.decode_str(codec, payload, dict_blob, meta, n_valid)
        if not isinstance(clean, pa.Array):
            clean = clean.combine_chunks()
        clean = _binary_to_decimal(_string_as_binary_view(clean), orig_type)
    elif meta["vt"] == "list":
        lp, cp, cd, cv = _unpack_frames(payload, 4)
        lengths = codecs.decode_int(meta["lc"], lp, None, meta["lm"], n_valid)
        child = decode_column(
            meta["cc"], cp, cd if meta["cd"] else None, meta["cm"],
            int(meta["cn"]), cv if meta["cv"] else None)
        if isinstance(child, pa.ChunkedArray):
            child = child.combine_chunks()
        offs = np.concatenate(
            [[0], np.cumsum(np.asarray(lengths, dtype=np.int64))]
        ).astype(np.int32)
        clean = pa.ListArray.from_arrays(
            pa.array(offs, type=pa.int32()), child)
    elif meta["vt"] == "struct":
        fs = meta["fs"]
        blobs = _unpack_frames(payload, 3 * len(fs))
        arrays = []
        for i, fm in enumerate(fs):
            p_, d_, v_ = blobs[3 * i : 3 * i + 3]
            a = decode_column(fm["cc"], p_, d_ if fm["cd"] else None,
                              fm["cm"], int(fm["cn"]),
                              v_ if fm["cv"] else None)
            if isinstance(a, pa.ChunkedArray):
                a = a.combine_chunks()
            arrays.append(a)
        clean = pa.StructArray.from_arrays(arrays, [fm["nm"] for fm in fs])
    elif meta["vt"] == "map":
        lp, cp, cd, cv = _unpack_frames(payload, 4)
        lengths = codecs.decode_int(meta["lc"], lp, None, meta["lm"], n_valid)
        entries = decode_column(
            meta["cc"], cp, cd if meta["cd"] else None, meta["cm"],
            int(meta["cn"]), cv if meta["cv"] else None)
        if isinstance(entries, pa.ChunkedArray):
            entries = entries.combine_chunks()
        offs = np.concatenate(
            [[0], np.cumsum(np.asarray(lengths, dtype=np.int64))]
        ).astype(np.int32)
        clean = pa.MapArray.from_arrays(
            pa.array(offs, type=pa.int32()),
            entries.field(0), entries.field(1))
    elif meta["vt"] == "alp":
        ip, idict, posb, excb = _unpack_frames(payload, 4)
        v = codecs.alp_decode_values(
            meta["ic"], ip, idict if meta["id"] else None, meta["im"],
            n_valid, int(meta["ae"]), int(meta["nx"]), posb, excb,
            bool(meta.get("f32")))
        clean = pa.array(v)
    else:
        vals = codecs.decode_int(codec, payload, dict_blob, meta, n_valid)
        clean = _from_int64(vals, meta.get("ad", "i"), orig_type)
        if isinstance(clean, pa.ChunkedArray):
            clean = clean.combine_chunks()
    if mask is None:
        out = clean
    else:
        # scatter valid values back into null positions via take-with-nulls
        idx = np.zeros(n_rows, dtype=np.int64)
        idx[mask] = np.arange(n_valid)
        take_idx = pa.array(idx, mask=~mask)
        out = clean.take(take_idx)
    if str(out.type) != meta["ot"]:
        out = out.cast(orig_type)
    return out


def encode_chunk_table(tbl: pa.Table, part_id: int, chunk_id: int,
                       cache_ns: str | None = None,
                       zone_cols: frozenset | None = None) -> pa.RecordBatch:
    """Encode all columns of one chunk -> a record batch of enc rows.

    ``cache_ns`` namespaces the per-worker FSST table cache (reused Python
    workers must not share trained tables across unrelated jobs/tables
    whose columns happen to share a name — decode stays exact either way,
    but a foreign table silently degrades the ratio until drift retrain).

    ``zone_cols``: columns that get zone-map bounds in their chunk meta
    (None = every column, the standalone/encode_df default).

    The columns encode on the per-process column pool, largest first;
    their rows come back in column order, so the output and the first
    error raised are those of a sequential loop.
    """
    pool = _pool("fcs-encode")
    futures: dict[str, Future] = {}
    # largest column first, so the biggest one never starts last
    for col in sorted(tbl.column_names, key=lambda c: -tbl.column(c).nbytes):
        futures[col] = pool.submit(
            encode_column, tbl.column(col),
            cache_key=f"{cache_ns}:{col}" if cache_ns else col,
            zone_stats=(zone_cols is None or col in zone_cols))
    rows = {name: [] for name in ENC_ARROW_SCHEMA.names}
    for col in tbl.column_names:
        # in column order: the first column that fails raises, as in a
        # sequential loop; columns not yet started are dropped and the
        # running ones finish before the error leaves this call
        try:
            fields = futures[col].result()
        except BaseException:
            for f in futures.values():
                f.cancel()
            wait(futures.values())
            raise
        rows["part_id"].append(part_id)
        rows["chunk_id"].append(chunk_id)
        rows["column"].append(col)
        for k, v in fields.items():
            rows[k].append(v)
    arrays = [pa.array(rows[name], type=ENC_ARROW_SCHEMA.field(name).type)
              for name in ENC_ARROW_SCHEMA.names]
    return pa.RecordBatch.from_arrays(arrays, schema=ENC_ARROW_SCHEMA)


PAGE_CHUNK_ID = -1          # chunk_id sentinel of a part dictionary page
PAGE_CODEC = "dictpage"
_PAGE_MAX_BYTES = 1 << 30   # never build a >1 GB page array in a worker

# decoded page-value arrays, keyed by page sha (worker-persistent, like
# _WORKER_FSST_CACHE): every chunk of a part shares its pages, so decode
# pays the page's blob decode + sha once per worker, not once per chunk
_PAGE_CACHE: dict[str, pa.Array] = {}


def resolve_page_dict(page_blob: bytes | None, map_blob: bytes,
                      expect_ps: str | None, where: str = "") -> pa.Array:
    """A dp=1 chunk's own value dictionary: the part dictionary page's
    values taken through the chunk's packed local->global map. The page
    blob's sha rides in the (sha-covered) chunk meta as ``ps``, so the
    integrity envelope extends to the page bytes. The one page resolver
    for decode (decode_column) and compaction (plans/compact.py)."""
    from ..functions.bitpack import unpack_uints_auto

    if page_blob is None:
        raise DecodeError(
            f"decode{where}: chunk references a part dictionary page "
            "(meta dp=1) but no dictpage row was provided — encoded "
            "rows were separated from their part file")
    got_ps = hashlib.sha256(page_blob).hexdigest()
    if expect_ps is not None and got_ps != expect_ps:
        raise DecodeError(
            f"decode{where}: dictionary-page sha mismatch (expected "
            f"{str(expect_ps)[:16]}…, got {got_ps[:16]}…) — page bytes "
            "corrupted at rest")
    vals = _PAGE_CACHE.get(got_ps)
    if vals is None:
        vals = codecs._flagged_blob_decode(page_blob)
        if isinstance(vals, pa.ChunkedArray):
            vals = vals.combine_chunks()
        if len(_PAGE_CACHE) > 64:
            _PAGE_CACHE.clear()
        _PAGE_CACHE[got_ps] = vals
    local_map, _ = unpack_uints_auto(memoryview(map_blob))
    if len(local_map) and int(local_map.max()) >= len(vals):
        raise DecodeError(
            f"decode{where}: dictionary-page map references value "
            f"{int(local_map.max())} past page size {len(vals)}")
    return codecs._gather_strings(vals, local_map)


_STR_VTS = frozenset({"str", "bin", "dec16"})  # string-codec value types


def consolidate_part_dicts(rows: list[dict], part_id: int) -> list[dict]:
    """Write-time per-part dictionary-page consolidation.

    Chunks of one part re-store their value dictionaries independently
    (a clustered part's chunks each carry near-identical line/path
    dictionaries). This pass — run inside the part's write task, never
    on the driver — unions each column's chunk dictionaries into ONE
    part dictionary page and replaces every chunk's value blob with a
    bit-packed local->global id MAP into that page. Chunk id PAYLOADS
    stay byte-identical (local frequency-ranked alphabets, per-chunk
    Huffman tables and all — entropy coding is permutation-invariant,
    so remapping streams to global ids would only bloat them), which
    also makes the pass cheap: no payload is ever unpacked. The rewrite
    is kept only when the exact total (maps + page + meta growth)
    undercuts the original dictionaries.

    The page rides in the same part file as an extra enc row
    (chunk_id = PAGE_CHUNK_ID, codec = "dictpage"), so the narrow
    one-task-per-part decode reads it for free; rewritten chunks carry
    meta ``dp`` = 1 and ``ps`` = sha256 of the page blob (chunk
    integrity extends to the page), with dict = the packed map.

    ``rows``: every enc row of the part; only string-valued rows (meta
    ``vt`` str, bin or dec16) whose codec is in DICT_FAMILY are
    rewritten (in place) — an int column's ``dict`` chunk carries a
    FoR value blob, not a string dictionary. Returns ``rows`` unchanged
    when no column profits — the common case on chunk-local value
    distributions (e.g. commit hashes whose repeats never straddle
    chunks: measured union == sum there, a guaranteed loss skipped
    before the page is even encoded). Otherwise returns ``rows`` plus
    one page row per column of the part (placeholder dict=None for
    non-consolidated columns, keeping per-column enc-row counts uniform
    so the per-COLUMN row-group alignment that page-skipping projection
    relies on survives).
    """
    from ..functions.bitpack import pack_uints_auto
    from ..functions.codecs import (
        DICT_FAMILY,
        _flagged_blob_decode,
        _flagged_blob_encode,
    )

    by_col: dict[str, list[dict]] = {}
    for r in rows:
        if (r["codec"] in DICT_FAMILY and r["dict"] is not None
                and json.loads(r["meta"])["vt"] in _STR_VTS):
            by_col.setdefault(r["column"], []).append(r)

    pages: dict[str, dict] = {}
    for col, fam in by_col.items():
        if len(fam) < 2:
            continue
        uniqs = []
        total_uniq_bytes = 0
        for r in fam:
            u = _flagged_blob_decode(r["dict"])
            if isinstance(u, pa.ChunkedArray):
                u = u.combine_chunks()
            if pa.types.is_large_string(u.type):
                u = u.cast(pa.string())
            total_uniq_bytes += u.nbytes
            uniqs.append(u)
        if total_uniq_bytes > _PAGE_MAX_BYTES:
            continue
        concat = pa.concat_arrays(uniqs)
        de = pc.dictionary_encode(concat)
        union_vals = de.dictionary
        mapping = de.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        offs = np.cumsum([0] + [len(u) for u in uniqs])
        k_part = len(union_vals)
        sum_k = max(int(offs[-1]), 1)
        # cheap pre-bound before encoding the page: dict blobs scale
        # ~linearly in their values, so the page can only save about
        # sum_dict_bytes * (1 - k_part / sum_k); the maps cost roughly
        # sum_k * ceil(log2 k_part) bits. Skip when the margin is
        # immaterial — near-free on zero-overlap columns.
        sum_dict_bytes = sum(len(r["dict"]) for r in fam)
        w_part = max(int(k_part - 1).bit_length(), 1)
        map_cost = sum_k * w_part // 8 + 12 * len(fam)
        if (sum_dict_bytes * (1.0 - k_part / sum_k) - map_cost) < 2048:
            continue
        page_blob = _flagged_blob_encode(union_vals)
        ps = hashlib.sha256(page_blob).hexdigest()

        old_bytes = sum_dict_bytes
        new_rows = []
        new_bytes = len(page_blob)
        for i, r in enumerate(fam):
            m = mapping[offs[i]: offs[i + 1]]
            map_blob = pack_uints_auto(m.astype(np.uint64))
            meta = json.loads(r["meta"])
            meta["dp"] = 1
            meta["ps"] = ps
            meta_json = json.dumps(meta, separators=(",", ":"))
            new_bytes += len(map_blob) + len(meta_json) - len(r["meta"])
            new_rows.append((r, map_blob, meta_json))
        if new_bytes >= old_bytes:
            continue
        pages[col] = {"blob": page_blob, "k": k_part}
        for r, map_blob, meta_json in new_rows:
            r["dict"] = map_blob
            r["meta"] = meta_json
            r["sha256_chunk"] = chunk_integrity_sha(
                r["payload"], map_blob, r["validity"], meta_json)
            r["enc_bytes"] = (len(r["payload"]) + len(map_blob)
                              + (len(r["validity"]) if r["validity"] else 0)
                              + len(meta_json))

    if not pages:
        return rows
    out = list(rows)
    for col in sorted({r["column"] for r in rows}):
        pg = pages.get(col)
        meta_json = json.dumps({"k": pg["k"]} if pg else {},
                               separators=(",", ":"))
        blob = pg["blob"] if pg else None
        out.append({
            "part_id": part_id,
            "chunk_id": PAGE_CHUNK_ID,
            "column": col,
            "codec": PAGE_CODEC,
            "n_rows": pg["k"] if pg else 0,
            "validity": None,
            "payload": b"",
            "dict": blob,
            "meta": meta_json,
            "raw_bytes": 0,
            "enc_bytes": len(blob) if blob else 0,
            "sha256_chunk": chunk_integrity_sha(
                b"", blob, None, meta_json),
        })
    return out


def decode_chunk(rows: dict[str, dict], column_order: list[str],
                 pages: dict[str, bytes] | None = None) -> pa.RecordBatch:
    """One chunk's enc rows (column -> enc row dict) -> a RecordBatch of
    the ``column_order`` columns, every column sha-checked by
    decode_column. ``pages``: the part's dictionary-page blobs by column
    (dp chunks). A missing column row raises DecodeError — the manifest
    and the encoded rows disagree. The one chunk decoder for
    decode_table's part reader and decode_df."""
    missing = [c for c in column_order if c not in rows]
    if missing:
        row = next(iter(rows.values()))
        raise DecodeError(
            f"decode: incomplete chunk part_id={row['part_id']} "
            f"chunk_id={row['chunk_id']} — missing encoded columns "
            f"{missing} (have {sorted(rows)}); the manifest and the "
            "encoded rows disagree (torn write or mixed manifests?)")
    arrays = []
    for c in column_order:
        row = rows[c]
        a = decode_column(row["codec"], row["payload"], row["dict"],
                          row["meta"], row["n_rows"], row["validity"],
                          expect_sha=row["sha256_chunk"],
                          ctx=f"part={row['part_id']} "
                              f"chunk={row['chunk_id']} column={c}",
                          page_dict=(pages or {}).get(c))
        if isinstance(a, pa.ChunkedArray):
            a = a.combine_chunks()
        arrays.append(a)
    return pa.RecordBatch.from_arrays(arrays, names=column_order)


# chunks handed to the chunk thread and not yet yielded, per task: one
# encoding and one waiting, while the task's thread reads the next one
_CHUNKS_AHEAD = 2


def _bucket_runs(b: pa.RecordBatch, col: str
                 ) -> list[tuple[int, pa.RecordBatch]]:
    """(bucket, zero-copy slice) per run of equal ``col`` values of a
    batch, in batch order."""
    vals = b.column(b.schema.get_field_index(col)).to_numpy(
        zero_copy_only=False)
    starts = np.concatenate(
        [[0], np.flatnonzero(vals[1:] != vals[:-1]) + 1, [len(vals)]])
    return [(int(vals[s]), b.slice(s, e - s))
            for s, e in zip(starts[:-1].tolist(), starts[1:].tolist())]


def _yield_ready(pending: deque, keep: int) -> Iterator[pa.RecordBatch]:
    """Yield finished chunks in chunk order, waiting on the oldest until
    at most ``keep`` are held; a failed chunk raises when its turn
    comes."""
    while pending and (len(pending) > keep or pending[0].done()):
        yield pending.popleft().result()


def make_encode_fn(chunk_rows: int = DEFAULT_CHUNK_ROWS,
                   part_id_col: str | None = None,
                   cache_ns: str | None = None,
                   zone_cols: frozenset | None = None,
                   key_index_cols: frozenset | None = None,
                   key_index_acc: dict | None = None):
    """Build the mapInArrow kernel: batches in -> enc record batches out.

    ``part_id_col``: optional column carrying the deterministic bucket id
    (B2 partitioning); it is popped from the data and used as part_id so
    checkpoint/resume is keyed by *bucket*, not by Spark's task numbering.
    The input must arrive grouped by bucket, as ``repartition_by_bucket``
    delivers it: a bucket that reappears after another one started
    raises ValueError rather than being split into extra chunks.
    ``cache_ns``: job/table namespace for the worker FSST cache.
    ``key_index_cols`` + ``key_index_acc``: per-part distinct key-hash
    accumulation for point-lookup sidecars (plans/keyindex.py) —
    ``key_index_acc[pid][col]`` collects each flushed chunk's hashes;
    the caller (make_write_kernel) drains it per part. Hashing runs on
    chunk uniques inside the same task, so nothing extra shuffles.

    Chunks encode on the per-process chunk thread, one at a time and in
    input order, while this task's thread keeps reading batches: a
    bucket's last chunk is handed over as soon as the next bucket
    starts. At most ``_CHUNKS_AHEAD`` chunks are held; the enc batches
    come out in chunk order, so rows, bytes and the first error raised
    are those of encoding each chunk in turn. On any error, or when the
    consumer stops early, chunks not started are dropped and a running
    one finishes before the kernel returns.
    """

    def encode(pid: int, cid: int, buf: list[pa.RecordBatch]
               ) -> pa.RecordBatch:
        tbl = pa.Table.from_batches(buf)
        if part_id_col is not None:
            tbl = tbl.drop_columns([part_id_col])
        out = encode_chunk_table(tbl, pid, cid, cache_ns=cache_ns,
                                 zone_cols=zone_cols)
        if key_index_cols and key_index_acc is not None:
            from ..plans import keyindex as _ki

            for col in key_index_cols:
                if col in tbl.column_names:
                    key_index_acc.setdefault(pid, {}).setdefault(
                        col, set()).update(
                        _ki.column_hashes(tbl.column(col)))
        return out

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        task_part = ctx.partitionId() if ctx is not None else 0
        pool = _pool("fcs-chunk")
        pending: deque[Future] = deque()
        closed: set[int] = set()    # buckets whose rows have all come
        pid, cid = None, 0
        buf: list[pa.RecordBatch] = []
        n_rows = n_bytes = 0

        def hand_over() -> Iterator[pa.RecordBatch]:
            nonlocal cid, buf, n_rows, n_bytes
            yield from _yield_ready(pending, _CHUNKS_AHEAD - 1)
            pending.append(pool.submit(encode, pid, cid, buf))
            cid, buf, n_rows, n_bytes = cid + 1, [], 0, 0

        try:
            for b in batches:
                if b.num_rows == 0:
                    continue
                runs = ([(task_part, b)] if part_id_col is None
                        else _bucket_runs(b, part_id_col))
                for run_pid, sub in runs:
                    if run_pid != pid:
                        if run_pid in closed:
                            raise ValueError(
                                f"encode: bucket {run_pid} reappeared after "
                                "its rows were flushed; the input must "
                                "arrive grouped by bucket "
                                "(repartition_by_bucket)")
                        if buf:
                            yield from hand_over()
                        if pid is not None:
                            closed.add(pid)
                        pid, cid = run_pid, 0
                    buf.append(sub)
                    n_rows += sub.num_rows
                    n_bytes += sub.nbytes
                    if n_rows >= chunk_rows or n_bytes >= DEFAULT_CHUNK_BYTES:
                        yield from hand_over()
                yield from _yield_ready(pending, _CHUNKS_AHEAD)
            if buf:
                yield from hand_over()
            yield from _yield_ready(pending, 0)
        finally:
            for f in pending:
                f.cancel()
            wait(pending)

    return fn


def encode_df(df, chunk_rows: int = DEFAULT_CHUNK_ROWS,
              part_id_col: str | None = None,
              cache_ns: str | None = None):
    """DataFrame -> enc DataFrame (one row per partition x chunk x column)."""
    if cache_ns is None:
        # driver-side uuid shipped in the closure: every task of THIS job
        # shares the FSST cache namespace, other jobs never collide
        cache_ns = uuid.uuid4().hex[:12]
    return df.mapInArrow(
        make_encode_fn(chunk_rows, part_id_col, cache_ns),
        ENC_SPARK_SCHEMA,
    )


def decode_df(enc_df, src_schema):
    """enc DataFrame -> original DataFrame (bit-identical values).

    One shuffle of compressed bytes co-locating each (part_id, chunk_id)
    group, then a narrow Arrow-native kernel: enc rows of a chunk are
    buffered per key until the partition iterator ends (a chunk's rows
    always share a partition after the repartition) and decoded straight
    to Arrow record batches — no pandas on the decode path, so every
    Arrow type the codecs support (incl. struct/map/list) flows through.

    For in-memory encode_df output. Encoded table directories are read
    by plans/manifest.py decode_table, which reads each part's
    dictionary pages in place: page rows are skipped here, so a chunk
    that references one (meta dp=1) raises DecodeError.
    """
    column_order = [f.name for f in src_schema.fields]
    needed = set(column_order)

    def decode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        groups: dict[tuple[int, int], dict[str, dict]] = {}
        for b in batches:
            for row in b.to_pylist():  # few rows per batch; blobs copy once
                if (row["column"] not in needed
                        or row["chunk_id"] == PAGE_CHUNK_ID):
                    continue  # a projection, or a part dictionary page
                key = (row["part_id"], row["chunk_id"])
                cols = groups.setdefault(key, {})
                cols[row["column"]] = row
                if len(cols) == len(needed):  # chunk complete -> emit
                    yield decode_chunk(groups.pop(key), column_order)
        for cols in groups.values():
            decode_chunk(cols, column_order)  # incomplete: raises

    return (
        enc_df.repartition("part_id", "chunk_id")
        .mapInArrow(decode_partition, schema=src_schema)
    )
