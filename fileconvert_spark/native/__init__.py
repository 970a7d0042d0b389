"""Optional compiled kernels (ctypes + the host C compiler).

The sequential inner loops NumPy cannot vectorize — the greedy FSST parse
(each token's start depends on the previous token's length) and PNG row
defiltering (each pixel depends on its left neighbour) — compile once per
host from ``kernels.c`` into a content-addressed shared library under a
per-user mode-0700 cache dir (~/.cache/fileconvert_spark, or a
uid-qualified tempdir subdir), never a world-writable shared path; the
loader additionally refuses any cache file not owned by the current uid
or carrying group/other write bits. Everything degrades gracefully:

- no C compiler / compile failure / ``FCS_NO_NATIVE=1``  ->  callers get
  None and fall back to the pure-NumPy implementations, whose output is
  BYTE-IDENTICAL (property-tested in tests/test_native.py);
- the library is keyed by a hash of the C source, so editing kernels.c
  recompiles and stale caches are never loaded;
- concurrent processes (Spark's forked Python workers) race benignly:
  each compiles to a unique temp name and os.replace()s it into place.

The C source is read through ``__file__`` when the package runs from a
directory and through zipimport when executors import it from the shipped
``--py-files`` zip (session._package_zip archives non-.py files too).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import sys
import tempfile
import threading

_LIB = None          # cached ctypes.CDLL (or False = tried and failed)
_LOAD_LOCK = threading.Lock()
_SRC_NAME = "kernels.c"


def _read_source() -> bytes | None:
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, _SRC_NAME)
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        pass
    # running from the shipped package zip: __file__ is <...>.zip/pkg/...
    probe = here
    while probe and probe != os.path.dirname(probe):
        if os.path.isfile(probe):
            try:
                import zipfile

                rel = os.path.relpath(os.path.join(here, _SRC_NAME), probe)
                with zipfile.ZipFile(probe) as z:
                    return z.read(rel.replace(os.sep, "/"))
            except (OSError, KeyError):
                return None
        probe = os.path.dirname(probe)
    return None


def _compiler() -> str | None:
    import shutil as _sh

    for cc in (os.environ.get("CC"), "cc", "gcc", "clang"):
        if cc and _sh.which(cc):
            return cc
    return None


def _cache_dir() -> str:
    """Per-user mode-0700 cache directory for compiled kernels.

    A world-writable shared location (e.g. a bare /tmp path) would let
    another local user pre-plant a .so at the content-addressed name and
    gain code execution in every Spark worker, so the cache lives under
    XDG_CACHE_HOME (or ~/.cache) when that resolves, else a
    uid-qualified tempdir subdirectory — created 0700 either way."""
    base = os.environ.get("XDG_CACHE_HOME")
    if not base:
        home = os.path.expanduser("~")
        base = os.path.join(home, ".cache") if home != "~" else None
    if not base:
        base = os.path.join(tempfile.gettempdir(),
                            f"fcs-native-uid{os.getuid()}")
        d = base
    else:
        d = os.path.join(base, "fileconvert_spark")
    os.makedirs(d, mode=0o700, exist_ok=True)
    return d


def _safe_to_load(path: str) -> bool:
    """True only if ``path`` exists, is a regular file owned by the
    current uid, and carries no group/other write bits — anything else
    is treated as absent (recompiled over) or refused."""
    try:
        st = os.lstat(path)
    except OSError:
        return False
    import stat as _stat

    return bool(_stat.S_ISREG(st.st_mode)
                and st.st_uid == os.getuid()
                and not (st.st_mode & 0o022))


def load():
    """The compiled library, or None (no toolchain / disabled / failed)."""
    if os.environ.get("FCS_NO_NATIVE"):
        return None
    if _LIB is not None:
        return _LIB or None
    # the encode column pool can make a fresh worker's first two native
    # calls at once; both would compile into the same per-pid temp files
    with _LOAD_LOCK:
        if _LIB is None:
            _load()
    return _LIB or None


def _load() -> None:
    """Compile (if needed) and open the library into ``_LIB``."""
    global _LIB
    src = _read_source()
    cc = _compiler()
    if src is None or cc is None:
        _LIB = False
        return None
    tag = hashlib.sha256(src).hexdigest()[:16]
    try:
        lib_path = os.path.join(_cache_dir(), f"fcs_native_{tag}.so")
    except OSError as e:
        print(f"fcs.native: no writable cache dir ({e}); using NumPy "
              "paths", file=sys.stderr)
        _LIB = False
        return None
    if not _safe_to_load(lib_path):
        tmp_c = lib_path + f".{os.getpid()}.c"
        tmp_so = lib_path + f".{os.getpid()}.so"
        try:
            with open(tmp_c, "wb") as f:
                f.write(src)
            subprocess.run(
                [cc, "-O3", "-fPIC", "-shared", "-std=c99", tmp_c,
                 "-o", tmp_so],
                check=True, capture_output=True, timeout=120)
            os.chmod(tmp_so, 0o700)
            os.replace(tmp_so, lib_path)    # atomic vs racing workers
        except (OSError, subprocess.SubprocessError) as e:
            print(f"fcs.native: compile failed ({e}); using NumPy paths",
                  file=sys.stderr)
            _LIB = False
            return None
        finally:
            for p in (tmp_c, tmp_so):
                try:
                    os.unlink(p)
                except OSError:
                    pass
    if not _safe_to_load(lib_path):
        print("fcs.native: refusing unsafe kernel cache file "
              f"{lib_path}; using NumPy paths", file=sys.stderr)
        _LIB = False
        return None
    try:
        lib = ctypes.CDLL(lib_path)
    except OSError as e:
        print(f"fcs.native: load failed ({e}); using NumPy paths",
              file=sys.stderr)
        _LIB = False
        return None

    from ctypes import POINTER, c_int64, c_uint8, c_uint16, c_uint64

    lib.fsst_encode.restype = c_int64
    lib.fsst_encode.argtypes = [
        POINTER(c_uint8), c_int64,              # buf (n+8 readable), n
        POINTER(c_int64), c_int64,              # str_lens, n_str
        POINTER(c_uint16), POINTER(c_uint16),   # lut12, ones
        POINTER(c_uint64), POINTER(c_uint16),   # sym_t, lc_t (nullable)
        c_int64, c_int64,                       # hash_bits, walk_seg
        POINTER(c_uint8), POINTER(c_int64),     # out (2n), enc_lens
    ]
    from ctypes import c_int32

    lib.fsst_decode.restype = c_int64
    lib.fsst_decode.argtypes = [
        POINTER(c_uint8), c_int64,              # enc, m
        POINTER(c_int64), c_int64,              # enc_lens, n_str
        POINTER(c_uint8), POINTER(c_int64),     # pool (+8 pad), sym_off
        POINTER(c_int32), POINTER(c_uint8),     # out_offs, out (nullable)
    ]
    lib.str_gather_join.restype = c_int64
    lib.str_gather_join.argtypes = [
        POINTER(c_int32), POINTER(c_uint8),     # dict offsets, dict data
        c_int64,                                # data_len
        ctypes.c_void_p, c_int64, c_int64,      # idx, idx_width, n_idx
        POINTER(c_int64), c_int64,              # counts (nullable), n_rows
        POINTER(c_uint8), c_int64,              # sep, sep_len
        POINTER(c_int32), POINTER(c_uint8),     # out_offs, out (nullable)
    ]
    lib.png_defilter.restype = c_int64
    lib.png_defilter.argtypes = [
        POINTER(c_uint8), POINTER(c_uint8),     # data, filters
        c_int64, c_int64, c_int64,              # h, w, ch
        POINTER(c_uint8),                       # out
    ]
    lib.winnow_select.restype = c_int64
    lib.winnow_select.argtypes = [
        POINTER(c_uint64), POINTER(c_int64),    # vals, counts
        c_int64, c_int64,                       # nd, w
        POINTER(c_int64),                       # out_idx
    ]
    lib.slab_word_hashes.restype = c_int64
    lib.slab_word_hashes.argtypes = [
        POINTER(c_uint8), c_int64,              # buf, n
        POINTER(c_int64), c_int64,              # doc_starts, nd
        POINTER(c_uint64), POINTER(c_int64),    # out_wh, out_wc
    ]
    lib.slab_gram_hashes.restype = c_int64
    lib.slab_gram_hashes.argtypes = [
        POINTER(c_uint64), POINTER(c_int64),    # wh, wc
        c_int64, c_int64, c_int64,              # nd, ngram, short_doc_gram
        POINTER(c_uint64),                      # out_gh
    ]
    lib.winnow_fps.restype = c_int64
    lib.winnow_fps.argtypes = [
        POINTER(c_uint64), POINTER(c_int64),    # vals, counts
        c_int64, c_int64,                       # nd, w
        POINTER(c_uint64), POINTER(c_int64),    # out_fps, out_nfp
    ]
    from ctypes import POINTER as _P

    lib.jpeg_entropy_decode.restype = c_int64
    lib.jpeg_entropy_decode.argtypes = [
        POINTER(c_uint8), c_int64,              # data, n
        c_int64, POINTER(c_int64), c_int64,     # n_mcus, sched, sched_n
        c_int64,                                # n_comp
        POINTER(c_int64), POINTER(c_int64),     # minc, maxc
        POINTER(c_int64), POINTER(c_uint8),     # vptr, vals
        _P(c_int32), c_int64,                   # out, start_block
    ]
    lib.oph_minhash.restype = c_int64
    lib.oph_minhash.argtypes = [
        POINTER(c_uint64), POINTER(c_int64),    # gh, counts
        c_int64, c_int64, c_uint64,             # nd, n_hashes, densify_c
        POINTER(c_uint64),                      # out_sig (nd, n_hashes)
    ]
    lib.simhash_batch.restype = c_int64
    lib.simhash_batch.argtypes = [
        POINTER(c_uint64), POINTER(c_int64),    # wh, wc
        c_int64,                                # nd
        POINTER(c_uint64),                      # out_sig
    ]
    from ctypes import c_uint32

    lib.huff_decode.restype = c_int64
    lib.huff_decode.argtypes = [
        POINTER(c_uint8), c_int64,              # payload, nbytes
        POINTER(c_uint32), POINTER(c_uint8),    # lut_sym, lut_len
        c_int64,                                # table_bits
        POINTER(c_int64), c_int64,              # seg_off, n_seg
        c_int64, c_int64,                       # seg_syms, n
        POINTER(c_uint32),                      # out
    ]
    lib.huff_encode.restype = c_int64
    lib.huff_encode.argtypes = [
        POINTER(c_int64), c_int64,              # v, n
        POINTER(c_uint8), POINTER(c_uint32),    # sym_len, codes
        c_int64,                                # seg_syms
        POINTER(c_uint8), c_int64,              # out, out_cap
        POINTER(c_uint32),                      # seg_bytes
    ]
    lib.huff_code_lengths.restype = c_int64
    lib.huff_code_lengths.argtypes = [
        POINTER(c_int64), c_int64,              # counts, k
        c_int64,                                # max_len
        POINTER(c_uint8),                       # lens_out
    ]
    lib.pack_bits.restype = c_int64
    lib.pack_bits.argtypes = [
        POINTER(c_uint64), c_int64, c_int64,    # v, n, width
        POINTER(c_uint8), c_int64,              # out, out_cap
    ]
    lib.unpack_bits.restype = c_int64
    lib.unpack_bits.argtypes = [
        POINTER(c_uint8), c_int64,              # data, nbytes
        c_int64, c_int64,                       # n, width
        POINTER(c_uint64),                      # out
    ]
    lib.count_bytes2.restype = None
    lib.count_bytes2.argtypes = [
        POINTER(c_uint8), c_int64,              # data, n
        c_int64, c_int64, POINTER(c_int64),     # a, b, out[2]
    ]
    lib.str_split_dedup.restype = c_int64
    lib.str_split_dedup.argtypes = [
        POINTER(c_int32), c_int64,              # offs, n_rows
        POINTER(c_uint8), c_int64,              # data, sep (-1 = none)
        POINTER(c_int64), POINTER(c_int32),     # row_counts (nullable), ids
        POINTER(c_int32), POINTER(c_uint8),     # u_offs, u_data
    ]
    lib.fsst_train_count.restype = c_int64
    lib.fsst_train_count.argtypes = [
        POINTER(c_uint8), c_int64,              # buf (n+8 readable), n
        POINTER(c_int64), c_int64,              # str_lens, n_str
        POINTER(c_int64),                       # match_len
        POINTER(c_uint64), POINTER(c_uint8),    # out_sym, out_len
        POINTER(c_int64),                       # out_gain
    ]
    _LIB = lib


def _u8p(a):
    return a.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8))


# The kernels trust their arguments: an out-of-range index reads or
# writes past a buffer. The wrappers below check every bound a kernel
# relies on and raise ValueError, so no caller can crash a Python worker
# or get silently wrong output.

def _check_doc_counts(counts, n_vals: int, what: str) -> None:
    """Kernels that walk ``counts[d]`` values per doc through one flat
    array of ``n_vals`` values."""
    if counts.size and int(counts.min()) < 0:
        raise ValueError(f"{what}: negative per-doc count")
    total = int(counts.sum())
    if total > n_vals:
        raise ValueError(
            f"{what}: counts sum to {total} but only {n_vals} values given")


def _check_table(a, dtype, min_size: int, what: str) -> None:
    """A lookup table the kernel reads through a typed pointer."""
    if (a.dtype != dtype or not a.flags.c_contiguous
            or a.size < min_size):
        raise ValueError(
            f"{what}: need a contiguous {dtype.__name__} array of >= "
            f"{min_size} entries")


def fsst_encode(arr, lengths, tables, hash_bits: int, walk_seg: int):
    """C greedy FSST parse; returns (enc bytes, enc_lengths) or None when
    the native library is unavailable. ``tables`` is the
    fsst._build_match_tables result; output is byte-identical to the
    NumPy walk (tests/test_native.py)."""
    import numpy as np

    lib = load()
    if lib is None:
        return None
    lut12, ones, h3 = tables
    n = len(arr)
    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    if lengths.size and int(lengths.min()) < 0:
        raise ValueError("fsst_encode: negative string length")
    if int(lengths.sum()) > n:
        raise ValueError(
            f"fsst_encode: lengths sum to {int(lengths.sum())} but only "
            f"{n} bytes given")
    if walk_seg < 1:
        raise ValueError(f"fsst_encode: walk_seg {walk_seg} < 1")
    _check_table(lut12, np.uint16, 1 << 16, "fsst_encode lut12")
    _check_table(ones, np.uint16, 256, "fsst_encode ones")
    if h3 is not None:
        if not 1 <= hash_bits <= 32:
            raise ValueError(f"fsst_encode: hash_bits {hash_bits} not in 1..32")
        # two hash ways of 2**hash_bits slots each
        _check_table(h3[0], np.uint64, 2 << hash_bits, "fsst_encode sym_t")
        _check_table(h3[1], np.uint16, 2 << hash_bits, "fsst_encode lc_t")
    padded = np.empty(n + 8, dtype=np.uint8)    # memcpy reads 8 past pos
    padded[:n] = arr
    padded[n:] = 0
    out = np.empty(2 * max(n, 1), dtype=np.uint8)
    enc_lens = np.empty(max(len(lengths), 1), dtype=np.int64)
    p_i64 = ctypes.POINTER(ctypes.c_int64)
    p_u16 = ctypes.POINTER(ctypes.c_uint16)
    p_u64 = ctypes.POINTER(ctypes.c_uint64)
    if h3 is not None:
        sym_t, lc_t = h3
        sym_p = sym_t.ctypes.data_as(p_u64)
        lc_p = lc_t.ctypes.data_as(p_u16)
    else:
        sym_p = ctypes.cast(None, p_u64)
        lc_p = ctypes.cast(None, p_u16)
    total = lib.fsst_encode(
        _u8p(padded), n,
        lengths.ctypes.data_as(p_i64), len(lengths),
        lut12.ctypes.data_as(p_u16), ones.ctypes.data_as(p_u16),
        sym_p, lc_p, hash_bits, walk_seg,
        _u8p(out), enc_lens.ctypes.data_as(p_i64))
    return out[:total].tobytes(), enc_lens[:len(lengths)].copy()


_INT32_MAX = (1 << 31) - 1      # an Arrow `string` array's byte limit


def _as_int64(a):
    """``a`` as a contiguous int64 array. A uint64 array is viewed, not
    copied: a value past 2**63 turns negative, which every caller's
    bound check then rejects."""
    import numpy as np

    a = np.ascontiguousarray(a)
    return a.view(np.int64) if a.dtype == np.uint64 else \
        a.astype(np.int64, copy=False)


def check_runs(counts, total: int, what: str):
    """``counts`` as contiguous int64; raises ValueError unless they
    split exactly ``total`` items into runs. Shared with the NumPy
    decode paths, so both paths reject the same inputs."""
    counts = _as_int64(counts)
    if counts.size and (int(counts.min()) < 0 or int(counts.max()) > total):
        raise ValueError(f"{what}: a count is negative or exceeds {total}")
    if int(counts.sum()) != total:
        raise ValueError(
            f"{what}: counts sum to {int(counts.sum())}, not {total}")
    return counts


def fsst_decode(enc, enc_lengths, table):
    """C FSST decode of an encode_buffer stream; returns the decoded
    Arrow string array's (int32 offsets, uint8 data), or None when the
    native library is unavailable. Identical to fsst.decode_buffer
    (tests/test_native.py). Raises ValueError, as decode_buffer does, on
    lengths that are negative or do not sum to the stream's size and on
    a stream ending in an ESCAPE; also on output past 2**31 - 1 bytes."""
    import numpy as np

    lib = load()
    if lib is None:
        return None
    enc = np.frombuffer(enc, dtype=np.uint8)
    el = check_runs(enc_lengths, enc.size, "fsst_decode: enc_lengths")
    if len(table) > 255:
        raise ValueError(f"fsst_decode: {len(table)} symbols, at most 255")
    sym_off = np.zeros(257, dtype=np.int64)
    np.cumsum([len(s) for s in table] + [0] * (256 - len(table)),
              out=sym_off[1:])
    pool = np.zeros(int(sym_off[-1]) + 8, dtype=np.uint8)  # 8-byte loads
    pool[:sym_off[-1]] = np.frombuffer(b"".join(table), dtype=np.uint8)
    p_i64 = ctypes.POINTER(ctypes.c_int64)
    args = (_u8p(enc), enc.size, el.ctypes.data_as(p_i64), el.size,
            _u8p(pool), sym_off.ctypes.data_as(p_i64))
    total = lib.fsst_decode(*args, None, None)
    if total < 0:
        raise ValueError("fsst_decode: stream ends in an ESCAPE with no "
                         "literal byte")
    if total > _INT32_MAX:
        raise ValueError(f"fsst_decode: output past {_INT32_MAX} bytes")
    offs = np.empty(el.size + 1, dtype=np.int32)
    out = np.empty(total + 8, dtype=np.uint8)              # 8-byte stores
    lib.fsst_decode(*args, offs.ctypes.data_as(ctypes.POINTER(ctypes.c_int32)),
                    _u8p(out))
    return offs, out[:total]


def str_gather_join(offsets, data, idx, counts=None, sep: bytes = b""):
    """C dictionary gather-join; returns the (int32 offsets, uint8 data)
    of the Arrow string array whose row i is ``sep.join(dict[idx[j]])``
    over its run of ``counts[i]`` indices (one index per row when
    ``counts`` is None), or None when the native library is unavailable.
    The dictionary is Arrow's layout: int32 ``offsets`` (k + 1 entries)
    into uint8 ``data``. uint32 ``idx`` is read as is, any other integer
    type as int64. Raises ValueError on an index outside 0..k-1,
    counts that are negative or do not sum to len(idx), and an output
    past 2**31 - 1 bytes, which it refuses before allocating."""
    import numpy as np

    lib = load()
    if lib is None:
        return None
    offsets = np.ascontiguousarray(offsets, dtype=np.int32)
    data = np.ascontiguousarray(data, dtype=np.uint8)
    k = offsets.size - 1
    if (k < 0 or int(offsets[0]) < 0 or int(offsets[-1]) > data.size
            or bool((np.diff(offsets) < 0).any())):
        raise ValueError("str_gather_join: dictionary offsets are not "
                         f"non-decreasing within {data.size} data bytes")
    idx = np.ascontiguousarray(idx)
    if idx.dtype == np.uint32:      # Huffman decode's: read in place
        top = idx
    else:
        idx = _as_int64(idx)
        top = idx.view(np.uint64)   # a negative index reads as huge
    if idx.size and int(top.max()) >= k:
        raise ValueError(f"str_gather_join: an index is outside 0..{k - 1}")
    if counts is not None:
        counts = check_runs(counts, idx.size, "str_gather_join")
    n_rows = idx.size if counts is None else counts.size
    sep_a = np.frombuffer(sep, dtype=np.uint8)
    p_i64 = ctypes.POINTER(ctypes.c_int64)
    p_i32 = ctypes.POINTER(ctypes.c_int32)
    args = (offsets.ctypes.data_as(p_i32), _u8p(data), data.size,
            idx.ctypes.data, idx.itemsize, idx.size,
            None if counts is None else counts.ctypes.data_as(p_i64),
            n_rows, _u8p(sep_a), sep_a.size)
    total = lib.str_gather_join(*args, None, None)
    if total > _INT32_MAX:
        raise ValueError(
            f"str_gather_join: output past {_INT32_MAX} bytes")
    out_offs = np.empty(n_rows + 1, dtype=np.int32)
    out = np.empty(total + 32, dtype=np.uint8)     # 32-byte block stores
    lib.str_gather_join(*args, out_offs.ctypes.data_as(p_i32), _u8p(out))
    return out_offs, out[:total]


def count_bytes2(data, a: int, b: int):
    """Occurrences of the bytes ``a`` and ``b`` in uint8 ``data``, both
    counted in one C pass with no temporary: (count of a, count of b),
    or None when the native library is unavailable. Raises ValueError
    on a byte outside 0..255."""
    import numpy as np

    lib = load()
    if lib is None:
        return None
    if not (0 <= a <= 255 and 0 <= b <= 255):
        raise ValueError(f"count_bytes2: bytes {a}, {b} not in 0..255")
    data = np.ascontiguousarray(data, dtype=np.uint8)
    out = np.zeros(2, dtype=np.int64)
    if data.size:
        lib.count_bytes2(_u8p(data), data.size, a, b,
                         out.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)))
    return int(out[0]), int(out[1])


def str_split_dedup(offsets, data, n_rows: int, sep: int | None = None):
    """C split-and-dedup of an Arrow `string` array given as int32
    ``offsets`` (n_rows + 1 entries) into uint8 ``data``: its values are
    split on the byte ``sep`` (whole values when None) and the segments
    dictionary-encoded. Returns (per-row segment counts int64, or None
    when ``sep`` is None; int32 segment ids in first-occurrence order;
    the unique values' int32 offsets and uint8 data), or None when the
    native library is unavailable. The same as Arrow
    ``dictionary_encode(split_pattern(arr, sep).values)``
    (tests/test_native.py); None also when the kernel cannot allocate
    its hash table. Raises ValueError on offsets that are not
    n_rows + 1 non-decreasing positions within ``data`` and on a
    ``sep`` outside 0..255."""
    import numpy as np

    lib = load()
    if lib is None:
        return None
    offsets = np.ascontiguousarray(offsets, dtype=np.int32)
    data = np.ascontiguousarray(data, dtype=np.uint8)
    if n_rows < 0 or offsets.size != n_rows + 1:
        raise ValueError(f"str_split_dedup: {offsets.size} offsets for "
                         f"{n_rows} rows")
    if (int(offsets[0]) < 0 or int(offsets[-1]) > data.size
            or bool((np.diff(offsets) < 0).any())):
        raise ValueError("str_split_dedup: offsets are not non-decreasing "
                         f"within {data.size} data bytes")
    if sep is not None and not 0 <= sep <= 255:
        raise ValueError(f"str_split_dedup: separator {sep} not in 0..255")
    if data.size == 0:
        data = np.zeros(1, dtype=np.uint8)
    p_i32 = ctypes.POINTER(ctypes.c_int32)
    p_i64 = ctypes.POINTER(ctypes.c_int64)
    c_sep = -1 if sep is None else sep
    head = (offsets.ctypes.data_as(p_i32), n_rows, _u8p(data), c_sep)
    n_seg = lib.str_split_dedup(*head, None, None, None, None)
    if n_seg > _INT32_MAX:
        raise ValueError(f"str_split_dedup: {n_seg} segments, more than "
                         "int32 ids can number")
    counts = None if sep is None else np.empty(max(n_rows, 1), np.int64)
    ids = np.empty(max(n_seg, 1), dtype=np.int32)
    u_offs = np.empty(n_seg + 1, dtype=np.int32)
    span = int(offsets[-1]) - int(offsets[0])
    u_data = np.empty(max(span, 1), dtype=np.uint8)
    k = lib.str_split_dedup(
        *head, None if counts is None else counts.ctypes.data_as(p_i64),
        ids.ctypes.data_as(p_i32), u_offs.ctypes.data_as(p_i32),
        _u8p(u_data))
    if k < 0:
        return None
    ub = int(u_offs[k])
    # the unique values usually fill a small share of the span: keep a
    # right-sized copy rather than the whole buffer alive
    u_data = u_data[:ub].copy() if 2 * ub < u_data.size else u_data[:ub]
    return (None if counts is None else counts[:n_rows], ids[:n_seg],
            u_offs[:k + 1].copy(), u_data)


def fsst_train_count(buf, str_lens, match_len):
    """The counting walk of one fsst.train iteration in C: over the
    strings of ``str_lens`` concatenated in uint8 ``buf``, every greedy
    token (``match_len[pos]`` bytes, 1 when 0) and every adjacent token
    pair of <= 8 bytes inside one string is a candidate, worth its length
    per occurrence. Returns the distinct candidates as (uint64 symbol
    bytes, little-endian; uint8 lengths; int64 gains), unordered, or None
    when the native library is unavailable or cannot allocate its hash
    table. Raises ValueError on lengths
    that are negative or do not sum to len(buf), and on a ``match_len``
    that is not one entry of 0..8 per byte or runs past its string."""
    import numpy as np

    lib = load()
    if lib is None:
        return None
    buf = np.ascontiguousarray(buf, dtype=np.uint8)
    n = buf.size
    sl = check_runs(str_lens, n, "fsst_train_count: str_lens")
    ml = _as_int64(match_len)
    if ml.size != n:
        raise ValueError(f"fsst_train_count: {ml.size} match lengths for "
                         f"{n} bytes")
    if n:
        if int(ml.min()) < 0 or int(ml.max()) > 8:
            raise ValueError("fsst_train_count: a match length is outside "
                             "0..8")
        # bytes left in the containing string, per position
        left = np.repeat(np.cumsum(sl), sl) - np.arange(n, dtype=np.int64)
        if bool((ml > left).any()):
            raise ValueError("fsst_train_count: a match runs past the end "
                             "of its string")
    padded = np.zeros(n + 8, dtype=np.uint8)       # 8-byte loads
    padded[:n] = buf
    cap = max(2 * n, 1)
    syms = np.empty(cap, dtype=np.uint64)
    lens = np.empty(cap, dtype=np.uint8)
    gains = np.empty(cap, dtype=np.int64)
    p_i64 = ctypes.POINTER(ctypes.c_int64)
    m = lib.fsst_train_count(
        _u8p(padded), n, sl.ctypes.data_as(p_i64), sl.size,
        ml.ctypes.data_as(p_i64),
        syms.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)), _u8p(lens),
        gains.ctypes.data_as(p_i64))
    if m < 0:
        return None
    return syms[:m], lens[:m], gains[:m]


def winnow_select(vals, counts, w: int):
    """C winnowing selection (one monotonic-deque pass, doc-boundary-
    aware, squeeze folded in); returns int64 global indices of the
    selected fingerprints, or None when the native library is
    unavailable. Output indices select the same (doc, fingerprint)
    multiset the NumPy tournament path selects (tests/test_native.py)."""
    import numpy as np

    lib = load()
    if lib is None:
        return None
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    _check_doc_counts(counts, vals.size, "winnow")
    if w < 1:
        raise ValueError(f"winnow: window {w} < 1")
    out = np.empty(max(vals.size, 1), dtype=np.int64)
    p_i64 = ctypes.POINTER(ctypes.c_int64)
    m = lib.winnow_select(
        vals.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
        counts.ctypes.data_as(p_i64), counts.size, w,
        out.ctypes.data_as(p_i64))
    if m < 0:
        return None
    return out[:m].copy()


def slab_word_hashes(buf, doc_starts):
    """C word hashing over a document slab; returns (word_hashes uint64,
    word_counts int64) or None when unavailable. Bit-identical to the
    NumPy prefix-sum path (functions/similarity.py _slab_word_hashes)."""
    import numpy as np

    lib = load()
    if lib is None:
        return None
    buf = np.ascontiguousarray(buf, dtype=np.uint8)
    doc_starts = np.ascontiguousarray(doc_starts, dtype=np.int64)
    nd = doc_starts.size
    # the kernel assigns each word to the last doc starting at or before
    # it; out-of-order starts would silently misattribute words
    if nd > 1 and bool((doc_starts[1:] < doc_starts[:-1]).any()):
        raise ValueError("slab_word_hashes: doc_starts not ascending")
    out_wh = np.empty((buf.size + 1) // 2 + 1, dtype=np.uint64)
    out_wc = np.empty(max(nd, 1), dtype=np.int64)
    p_i64 = ctypes.POINTER(ctypes.c_int64)
    p_u64 = ctypes.POINTER(ctypes.c_uint64)
    m = lib.slab_word_hashes(
        _u8p(buf), buf.size, doc_starts.ctypes.data_as(p_i64), nd,
        out_wh.ctypes.data_as(p_u64), out_wc.ctypes.data_as(p_i64))
    return out_wh[:m].copy(), out_wc[:nd].copy()


def slab_gram_hashes(wh, wc, ngram: int, short_doc_gram: bool, total: int):
    """C rolling word-n-gram hashes; returns gram hashes uint64[total] or
    None when unavailable. ``total`` is the exact gram count the caller
    derives from ``wc``; a different count raises ValueError before the
    kernel runs, since it would overrun the buffer."""
    import numpy as np

    lib = load()
    if lib is None:
        return None
    wh = np.ascontiguousarray(wh, dtype=np.uint64)
    wc = np.ascontiguousarray(wc, dtype=np.int64)
    _check_doc_counts(wc, wh.size, "slab_gram_hashes")
    if ngram < 1:
        raise ValueError(f"slab_gram_hashes: ngram {ngram} < 1")
    # the kernel writes exactly this many grams into a total-sized buffer
    grams = int(np.maximum(wc - (ngram - 1), 0).sum())
    if short_doc_gram:
        grams += int(((wc > 0) & (wc < ngram)).sum())
    if grams != total:
        raise ValueError(f"slab_gram_hashes: {grams} grams, not {total}")
    out = np.empty(max(total, 1), dtype=np.uint64)
    p_i64 = ctypes.POINTER(ctypes.c_int64)
    p_u64 = ctypes.POINTER(ctypes.c_uint64)
    lib.slab_gram_hashes(
        wh.ctypes.data_as(p_u64), wc.ctypes.data_as(p_i64), wc.size,
        ngram, 1 if short_doc_gram else 0, out.ctypes.data_as(p_u64))
    return out[:total]


def winnow_fps(vals, counts, w: int):
    """Fused C winnowing: selection + per-doc distinct/ascending sort in
    one pass; returns (fps uint64, n_fp int64[nd]) or None when
    unavailable. Identical to the NumPy batch path's output."""
    import numpy as np

    lib = load()
    if lib is None:
        return None
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    _check_doc_counts(counts, vals.size, "winnow")
    if w < 1:
        raise ValueError(f"winnow: window {w} < 1")
    out_fps = np.empty(max(vals.size, 1), dtype=np.uint64)
    out_nfp = np.empty(max(counts.size, 1), dtype=np.int64)
    p_i64 = ctypes.POINTER(ctypes.c_int64)
    p_u64 = ctypes.POINTER(ctypes.c_uint64)
    m = lib.winnow_fps(
        vals.ctypes.data_as(p_u64), counts.ctypes.data_as(p_i64),
        counts.size, w,
        out_fps.ctypes.data_as(p_u64), out_nfp.ctypes.data_as(p_i64))
    if m < 0:
        return None
    return out_fps[:m].copy(), out_nfp[:counts.size].copy()


def jpeg_entropy_decode(data, n_mcus, sched, dc_sel, ac_sel, coefs,
                        start_block: int):
    """C baseline-JPEG entropy decode of one restart segment; returns
    blocks written or None when unavailable (callers fall back to the
    Python bit reader with identical output)."""
    import numpy as np

    lib = load()
    if lib is None or not hasattr(lib, "jpeg_entropy_decode"):
        return None
    n_comp = max(sched) + 1
    if min(sched) < 0 or n_comp > 16:
        raise ValueError(f"JPEG: component index outside 0..15 in {sched}")
    end_block = start_block + max(n_mcus, 0) * len(sched)
    if start_block < 0 or not (
            coefs.dtype == np.int32 and coefs.flags.c_contiguous
            and coefs.size >= end_block * 64):
        raise ValueError(
            "JPEG: coefs must be a contiguous int32 array holding 64 "
            f"coefficients for blocks {start_block}..{end_block}")
    # flatten the huffman tables: per component, DC then AC —
    # mincode/maxcode/valptr are 17 int64 each, vals up to 256 bytes
    minc = np.zeros((n_comp, 2, 17), dtype=np.int64)
    maxc = np.zeros((n_comp, 2, 17), dtype=np.int64)
    vptr = np.zeros((n_comp, 2, 17), dtype=np.int64)
    vals = np.zeros((n_comp, 2, 256), dtype=np.uint8)
    for ci in set(sched):
        for ti, tab in ((0, dc_sel[ci]), (1, ac_sel[ci])):
            _check_jpeg_huff(tab)
            minc[ci, ti] = tab.mincode
            maxc[ci, ti] = tab.maxcode
            vptr[ci, ti] = tab.valptr
            vals[ci, ti, :tab.vals.size] = tab.vals
    buf = np.frombuffer(data, dtype=np.uint8)
    sched_a = np.asarray(sched, dtype=np.int64)
    p_i64 = ctypes.POINTER(ctypes.c_int64)
    p_i32 = ctypes.POINTER(ctypes.c_int32)
    rc = lib.jpeg_entropy_decode(
        _u8p(np.ascontiguousarray(buf)), buf.size,
        n_mcus, sched_a.ctypes.data_as(p_i64), sched_a.size, n_comp,
        minc.ctypes.data_as(p_i64), maxc.ctypes.data_as(p_i64),
        vptr.ctypes.data_as(p_i64), _u8p(vals),
        coefs.ctypes.data_as(p_i32), start_block)
    if rc < 0:
        raise ValueError(
            "JPEG: invalid huffman code or truncated entropy data"
            f" (native rc {rc})")
    return int(rc)


def _check_jpeg_huff(tab) -> None:
    """The kernel reads ``vals[valptr[ln] + code - mincode[ln]]`` for a
    code of length ln at most maxcode[ln]; that stays inside ``vals``
    only for the canonical table its code counts imply (T.81 F.2.2.3)
    and a ``vals`` holding every code's value."""
    code = k = 0
    for ln in range(1, 17):
        n = int(tab.maxcode[ln]) - code + 1 if tab.maxcode[ln] >= 0 else 0
        if tab.mincode[ln] != code or tab.valptr[ln] != k or n < 0:
            raise ValueError(
                f"JPEG: huffman table not canonical at code length {ln}")
        code = (code + n) << 1
        k += n
    if k > tab.vals.size:
        raise ValueError(
            f"JPEG: huffman table has {k} codes but {tab.vals.size} values")


def png_defilter(data, filters, w: int, ch: int):
    """C PNG defilter; returns (h, w*ch) uint8 or None when unavailable.
    Callers pre-validate filter bytes (the kernel's error return is
    defensive only)."""
    import numpy as np

    lib = load()
    if lib is None:
        return None
    data = np.ascontiguousarray(data, dtype=np.uint8)
    filters = np.ascontiguousarray(filters, dtype=np.uint8)
    if ch < 1 or data.ndim != 2 or data.shape[1] != w * ch:
        raise ValueError(
            f"PNG: data shape {data.shape} is not rows of w*ch = {w}*{ch} "
            "bytes")
    h = data.shape[0]
    if filters.size < h:
        raise ValueError(f"PNG: {filters.size} row filters for {h} rows")
    out = np.empty((h, w * ch), dtype=np.uint8)
    rc = lib.png_defilter(_u8p(data), _u8p(filters), h, w, ch, _u8p(out))
    if rc != 0:
        raise ValueError(f"PNG: unknown row filter at row {-rc - 1}")
    return out


def oph_minhash(gh, counts, n_hashes: int, densify_c):
    """C one-permutation MinHash (bucket-min + rotation densify);
    returns uint64 (nd, n_hashes) or None when unavailable.
    Bit-identical to similarity._oph_signatures (property-tested)."""
    import numpy as np

    lib = load()
    if lib is None:
        return None
    gh = np.ascontiguousarray(gh, dtype=np.uint64)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    _check_doc_counts(counts, gh.size, "oph_minhash")
    nd = counts.size
    out = np.empty((max(nd, 1), n_hashes), dtype=np.uint64)
    lib.oph_minhash(
        gh.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
        counts.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
        nd, n_hashes, ctypes.c_uint64(int(densify_c)),
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)))
    return out[:nd]


def simhash_batch(wh, wc):
    """C 64-bit SimHash (per-bit majority over word hashes); returns
    uint64[nd] or None when unavailable. Bit-identical to
    similarity.simhash64_batch's histogram path (property-tested)."""
    import numpy as np

    lib = load()
    if lib is None:
        return None
    wh = np.ascontiguousarray(wh, dtype=np.uint64)
    wc = np.ascontiguousarray(wc, dtype=np.int64)
    _check_doc_counts(wc, wh.size, "simhash_batch")
    nd = wc.size
    out = np.empty(max(nd, 1), dtype=np.uint64)
    lib.simhash_batch(
        wh.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
        wc.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
        nd, out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)))
    return out[:nd]


def huff_decode(payload, lut_sym, lut_len, table_bits: int, seg_off,
                seg_syms: int, n: int):
    """C canonical-Huffman segment decode; returns uint32[n] symbols or
    None when unavailable. Byte-identical to huffman._decode_numpy with
    the same prefix LUT (property-tested). Raises ValueError on corrupt
    streams (invalid code / segment overrun), matching the NumPy path."""
    import numpy as np

    lib = load()
    if lib is None:
        return None
    payload = np.ascontiguousarray(payload, dtype=np.uint8)
    lut_sym = np.ascontiguousarray(lut_sym, dtype=np.uint32)
    lut_len = np.ascontiguousarray(lut_len, dtype=np.uint8)
    seg_off = np.ascontiguousarray(seg_off, dtype=np.int64)
    n_seg = seg_off.size - 1
    # the kernel reads a (table_bits + 7)-bit window from a 32-bit load
    if not 1 <= table_bits <= 25:
        raise ValueError(f"huffman: table_bits {table_bits} not in 1..25")
    if min(lut_sym.size, lut_len.size) < 1 << table_bits:
        raise ValueError(f"huffman: LUT of {min(lut_sym.size, lut_len.size)}"
                         f" entries is smaller than 2^{table_bits}")
    if n_seg < 0 or seg_syms < 1 or not 0 <= n <= n_seg * seg_syms:
        raise ValueError(f"huffman: {n} symbols do not fit {max(n_seg, 0)}"
                         f" segments of {seg_syms}")
    if n_seg and (seg_off[0] < 0 or seg_off[-1] > payload.size
                  or bool((np.diff(seg_off) < 0).any())):
        raise ValueError("huffman: segment offsets outside the payload "
                         f"of {payload.size} bytes")
    out = np.empty(max(int(n_seg * seg_syms), 1), dtype=np.uint32)
    rc = lib.huff_decode(
        _u8p(payload), payload.size,
        lut_sym.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)),
        _u8p(lut_len), int(table_bits),
        seg_off.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
        int(n_seg), int(seg_syms), int(n),
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)))
    if rc < 0:
        raise ValueError(
            f"huffman: corrupt stream in segment {-rc - 1}")
    return out[:n]


def huff_encode(v, sym_len, codes, seg_syms: int):
    """C canonical-Huffman segment encode; returns (body bytes, uint32
    per-segment byte lengths) or None when unavailable. Byte-identical
    to the NumPy bincount-lane path in huffman.encode (property-tested).
    Raises ValueError on a symbol with zero code length."""
    import numpy as np

    lib = load()
    if lib is None:
        return None
    v = np.ascontiguousarray(v, dtype=np.int64)
    sym_len = np.ascontiguousarray(sym_len, dtype=np.uint8)
    codes = np.ascontiguousarray(codes, dtype=np.uint32)
    n = v.size
    if seg_syms < 1:
        raise ValueError(f"huffman.encode: seg_syms {seg_syms} < 1")
    if codes.size < sym_len.size:
        raise ValueError(f"huffman.encode: {codes.size} codes for "
                         f"{sym_len.size} symbols")
    if n and (int(v.min()) < 0 or int(v.max()) >= sym_len.size):
        raise ValueError("huffman.encode: symbol outside "
                         f"0..{sym_len.size - 1}")
    n_seg = max(1, -(-n // seg_syms))
    # every code is <= MAX_LEN (16) bits -> 2 bytes/symbol + per-segment
    # alignment byte bounds the output exactly
    cap = 2 * n + n_seg + 8
    out = np.empty(cap, dtype=np.uint8)
    seg_bytes = np.empty(n_seg, dtype=np.uint32)
    rc = lib.huff_encode(
        v.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)), int(n),
        _u8p(sym_len),
        codes.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)),
        int(seg_syms), _u8p(out), int(cap),
        seg_bytes.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)))
    if rc == -1:
        raise ValueError("huffman.encode: symbol with zero code length")
    if rc < 0:
        return None
    return out[:rc].tobytes(), seg_bytes


def huff_code_lengths(counts, max_len: int):
    """C two-queue merge + T.81 K.3 Adjust_BITS code-length construction;
    returns uint8[k] lens or None when unavailable. Byte-identical to
    the NumPy/Python path in huffman.code_lengths (property-tested) —
    the merge is a data-dependent sequential chain, so the Python loop
    was ~4 ms/call at 4k symbols on the encode hot path (r8). Raises
    ValueError when more than 2^max_len symbols are present (no prefix
    code that short exists)."""
    import numpy as np

    lib = load()
    if lib is None:
        return None
    c = np.ascontiguousarray(counts, dtype=np.int64)
    lens = np.zeros(max(c.size, 1), dtype=np.uint8)
    rc = lib.huff_code_lengths(
        c.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)), int(c.size),
        int(max_len), _u8p(lens))
    if rc == -1:
        raise ValueError(f"huffman: {int((c > 0).sum())} symbols do not "
                         f"fit codes of at most {max_len} bits")
    if rc < 0:
        return None
    return lens[: c.size]


def pack_bits(vals, width: int):
    """C fixed-width MSB-first bit-pack; returns bytes or None when the
    kernel is unavailable. Byte-identical to bitpack.pack_uints's
    np.packbits matrix path (property-tested). Raises ValueError when a
    value does not fit ``width`` bits."""
    import numpy as np

    lib = load()
    if lib is None:
        return None
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    n = v.size
    if not 0 <= width <= 64:
        raise ValueError(f"pack_bits: width {width} not in 0..64")
    if n and width < 64 and int(v.max()) >> width:
        raise ValueError(f"pack_bits: value {int(v.max())} does not fit "
                         f"{width} bits")
    cap = (n * width + 7) // 8 + 8
    out = np.empty(cap, dtype=np.uint8)
    rc = lib.pack_bits(
        v.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)), int(n),
        int(width), _u8p(out), int(cap))
    if rc < 0:
        return None
    return out[:rc].tobytes()


def unpack_bits(data, width: int, n: int):
    """C inverse of pack_bits; returns uint64[n] or None when the kernel
    is unavailable. Raises ValueError on a truncated payload, matching
    bitpack.unpack_uints."""
    import numpy as np

    lib = load()
    if lib is None:
        return None
    if not 0 <= width <= 64 or n < 0:
        raise ValueError(f"unpack_bits: {n} x {width}-bit values")
    buf = np.frombuffer(data, dtype=np.uint8)
    out = np.empty(max(n, 1), dtype=np.uint64)
    rc = lib.unpack_bits(
        _u8p(buf), int(buf.size), int(n), int(width),
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)))
    if rc < 0:
        raise ValueError(
            f"bit-packed payload truncated: need {(n * width + 7) // 8} "
            f"bytes for {n} x {width}-bit values, have {buf.size}")
    return out[:n]
