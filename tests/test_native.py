"""Compiled-kernel equivalence: native/kernels.c vs the NumPy fallbacks.

The native paths must be BYTE-IDENTICAL to the pure-NumPy implementations
— same greedy FSST parse (piece cuts, probe order, tie-breaks), same PNG
defilter semantics — so a host without a C toolchain produces the same
artifacts, just slower. If no toolchain is present these tests skip (the
fallback paths are covered by the rest of the suite either way).
"""

import os

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from fileconvert_spark import native


requires_native = pytest.mark.skipif(
    native.load() is None, reason="no C toolchain on this host")


def _numpy_encode(buf, lengths, table):
    """Force the NumPy walk regardless of toolchain availability."""
    from fileconvert_spark.functions import fsst

    os.environ["FCS_NO_NATIVE"] = "1"
    try:
        return fsst.encode_buffer(buf, lengths, table)
    finally:
        del os.environ["FCS_NO_NATIVE"]


@requires_native
@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(
    alphabet=st.characters(min_codepoint=0, max_codepoint=255),
    max_size=300), min_size=0, max_size=60),
    st.integers(min_value=0, max_value=3))
def test_fsst_native_matches_numpy_walk(strings, salt):
    """Property: for arbitrary byte strings (empties, repeats, full byte
    range) the C parse emits the same bytes and per-string lengths as the
    NumPy walk, and the stream decodes back exactly."""
    from fileconvert_spark.functions import fsst

    enc_strs = [s.encode("latin-1") for s in strings]
    if salt:  # mix in pathological shapes
        enc_strs += [b"", b"a" * (1024 * salt + 7), b"ab" * 600,
                     bytes(range(256)) * salt]
    buf = b"".join(enc_strs)
    lengths = np.array([len(s) for s in enc_strs], dtype=np.int64)
    table = fsst.train(buf, lengths=lengths)

    enc_c, el_c = fsst.encode_buffer(buf, lengths, table)
    enc_np, el_np = _numpy_encode(buf, lengths, table)
    assert enc_c == enc_np
    assert np.array_equal(el_c, el_np)
    dec, dl = fsst.decode_buffer(enc_c, el_c, table)
    assert dec == buf
    assert np.array_equal(dl, lengths)


@requires_native
def test_fsst_native_empty_table_and_boundaries():
    """Degenerate tables (empty, singles-only) and piece-boundary-sized
    strings (exactly _WALK_SEG, _WALK_SEG +/- 1) stay identical."""
    from fileconvert_spark.functions import fsst

    seg = fsst._WALK_SEG
    strs = [b"x" * seg, b"y" * (seg - 1), b"z" * (seg + 1), b"", b"q"]
    buf = b"".join(strs)
    lengths = np.array([len(s) for s in strs], dtype=np.int64)
    for table in ([], [b"x"], [b"xx", b"x", b"y"],
                  fsst.train(buf, lengths=lengths)):
        enc_c, el_c = fsst.encode_buffer(buf, lengths, table)
        enc_np, el_np = _numpy_encode(buf, lengths, table)
        assert enc_c == enc_np, table
        assert np.array_equal(el_c, el_np)
        dec, _ = fsst.decode_buffer(enc_c, el_c, table)
        assert dec == buf


def _no_native(fn, *args):
    """``fn(*args)`` with the compiled kernels switched off."""
    os.environ["FCS_NO_NATIVE"] = "1"
    try:
        return fn(*args)
    finally:
        del os.environ["FCS_NO_NATIVE"]


_DECODE = settings(max_examples=60, deadline=None, database=None)


@requires_native
@_DECODE
@given(st.lists(st.text(alphabet="ab\n/é中🎉", max_size=6), max_size=12),
       st.lists(st.lists(st.integers(min_value=0), max_size=5), max_size=20),
       st.sampled_from(["\n", "/", ""]),
       st.integers(min_value=0, max_value=3),
       st.booleans())
def test_str_gather_join_matches_take_join(values, rows, sep, skip, joined):
    """Property: the C gather-join equals Arrow take (+ binary_join) on
    empty and multi-byte values, rows of zero segments, every separator,
    a sliced dictionary (non-zero Arrow offset) and an empty dictionary
    with all-empty rows."""
    import pyarrow as pa

    from fileconvert_spark.functions import codecs

    uniques = pa.array(["pre"] * skip + values, type=pa.string()).slice(skip)
    k = len(values)
    rows = [[i % k for i in r] if k else [] for r in rows]
    idx = np.array([i for r in rows for i in r], dtype=np.uint64)
    if joined:
        counts = np.array([len(r) for r in rows], dtype=np.uint64)
        want = [sep.join(values[i] for i in r) for r in rows]
    else:
        counts = None
        want = [values[i] for i in idx]
    got = codecs._gather_strings(uniques, idx, counts, sep)
    ref = _no_native(codecs._gather_strings, uniques, idx, counts, sep)
    assert got.type == ref.type == pa.string()
    assert got.equals(ref)
    assert got.to_pylist() == want


def _fsst_cases(strings, n_symbols):
    """(enc, enc_lengths, table) from encode_buffer with a table of
    exactly ``n_symbols`` symbols cut from the data (0 = escapes only)."""
    from fileconvert_spark.functions import fsst

    buf = b"".join(strings)
    lengths = np.array([len(s) for s in strings], dtype=np.int64)
    pool = buf + bytes(range(256)) * 8
    table = []
    seen = set()
    for i in range(len(pool)):
        s = pool[i:i + 1 + i % 8]
        if len(table) == n_symbols:
            break
        if s not in seen:
            seen.add(s)
            table.append(s)
    enc, el = fsst.encode_buffer(buf, lengths, table)
    return enc, el, table


@requires_native
@_DECODE
@given(st.lists(st.binary(max_size=40), max_size=25),
       st.sampled_from([0, 1, 17, 255]))
def test_fsst_decode_kernel_matches_decode_buffer(strings, n_symbols):
    """Property: the C token walk equals decode_buffer on encode_buffer
    output with escapes, empty strings and tables of 0 and 255 symbols,
    and both give back the input."""
    from fileconvert_spark.functions import fsst

    enc, el, table = _fsst_cases(strings, n_symbols)
    assert len(table) == n_symbols
    offs, data = native.fsst_decode(enc, el, table)
    dec, dec_lens = fsst.decode_buffer(enc, el, table)
    assert data.tobytes() == dec == b"".join(strings)
    assert np.array_equal(np.diff(offs), dec_lens)


@requires_native
@_DECODE
@given(st.binary(max_size=60), st.lists(st.integers(min_value=0,
                                                     max_value=60),
                                         max_size=8),
       st.integers(min_value=0, max_value=255))
def test_fsst_decode_kernel_matches_on_any_stream(enc, cuts, n_symbols):
    """Property: on ANY byte stream and any split of it into strings
    (escape pairs straddling a split included) the two decoders
    attribute tokens to the same strings, and both raise ValueError on
    a stream ending in an ESCAPE."""
    from fileconvert_spark.functions import fsst

    table = [bytes([i, i]) * (1 + i % 4) for i in range(n_symbols)]
    bounds = sorted({min(c, len(enc)) for c in cuts} | {0, len(enc)})
    el = np.diff(bounds).astype(np.int64) if len(bounds) > 1 else \
        np.zeros(1, dtype=np.int64)
    try:
        dec, dec_lens = fsst.decode_buffer(enc, el, table)
    except ValueError as e:
        assert "ESCAPE" in str(e)
        with pytest.raises(ValueError, match="ESCAPE"):
            native.fsst_decode(enc, el, table)
        return
    offs, data = native.fsst_decode(enc, el, table)
    assert data.tobytes() == dec
    assert np.array_equal(np.diff(offs), dec_lens)


@requires_native
@pytest.mark.parametrize("n", [0, 1, 15, 4079, 4080, 4081, 8160, 20011])
def test_count_bytes2_matches_numpy(n):
    """Both counts of the one-pass kernel equal NumPy's, on either side
    of its 16 x 255-byte blocks, with either byte dense enough to fill a
    lane (a lane counts at most 255 per block) and for a == b."""
    rng = np.random.default_rng(n)
    for data in (rng.integers(0, 256, n, dtype=np.uint8),
                 np.full(n, 10, np.uint8),
                 rng.choice(np.array([10, 47], np.uint8), n)):
        for a, b in ((10, 47), (47, 10), (10, 10), (0, 255)):
            assert native.count_bytes2(data, a, b) == (
                int(np.count_nonzero(data == a)),
                int(np.count_nonzero(data == b)))


def _arrow_split_dedup(arr, sep):
    """What str_split_dedup must equal: Arrow's dictionary_encode of the
    split_pattern segments (of the whole values when ``sep`` is None)."""
    import pyarrow.compute as pc

    if sep is None:
        de = pc.dictionary_encode(arr)
        return None, de
    lines = pc.split_pattern(arr, sep)
    counts = pc.list_value_length(lines).to_pylist()
    return counts, pc.dictionary_encode(lines.values)


def _check_split_dedup(arr, sep):
    from fileconvert_spark.functions import codecs

    got = codecs._split_dedup(arr, sep)
    ref = _no_native(codecs._split_dedup, arr, sep)
    counts, de = _arrow_split_dedup(arr, sep)
    for c, ids, uniques in (got, ref):
        if sep is None:
            assert c is None
        else:
            assert c.dtype == np.int64 and c.tolist() == counts
        assert ids.dtype == np.int32
        assert ids.tolist() == de.indices.to_pylist()
        assert uniques.type == de.dictionary.type == arr.type
        assert uniques.equals(de.dictionary)


_SPLIT_VALUES = st.lists(st.text(alphabet="ab/\n é中🎉", max_size=8),
                         max_size=30)


@requires_native
@_DECODE
@given(_SPLIT_VALUES, st.sampled_from(["\n", "/", None]),
       st.integers(min_value=0, max_value=3),
       st.integers(min_value=0, max_value=3))
@example([], "/", 0, 0)
@example(["", "", ""], "\n", 0, 0)
@example(["/a", "a/", "a//b", "/", "//"], "/", 1, 1)
@example(["same/value"] * 40, "/", 0, 0)
@example([f"v{i}/é{i}" for i in range(60)], None, 2, 0)
@example([f"v{i}/é{i}" for i in range(60)], "/", 0, 2)
def test_split_dedup_matches_arrow(values, sep, head, tail):
    """Property: the C split-and-dedup equals Arrow split_pattern +
    dictionary_encode (and the no-native path) on empty arrays and
    values, separators at the start, the end and twice in a row,
    multi-byte UTF-8, all-equal and all-unique values, and arrays sliced
    at a non-zero offset."""
    import pyarrow as pa

    base = pa.array(["pre/x"] * head + values + ["post\n"] * tail,
                    type=pa.string())
    _check_split_dedup(base.slice(head, len(values)), sep)


@requires_native
@_DECODE
@given(st.lists(st.binary(max_size=10).map(
    lambda b: b.replace(b"a", b"\x00").replace(b"b", b"/")), max_size=30),
       st.sampled_from(["/", "\n", None]),
       st.integers(min_value=0, max_value=2))
@example([b"\x00/\x00", b"/", b"\x00\x00", b"\x00/\x00"], "/", 1)
def test_split_dedup_binary_views(values, sep, skip):
    """Property: binary values holding NUL and separator bytes, as a
    binary array and as the unvalidated string view the encoder makes of
    it, split and dedup the same on both paths."""
    import pyarrow as pa

    from fileconvert_spark.operators.encode import _binary_as_string_view

    arr = pa.array([b"x"] * skip + values, type=pa.binary()).slice(skip)
    _check_split_dedup(arr, sep)
    _check_split_dedup(_binary_as_string_view(arr), sep)


def _train_pair(sample, lengths, max_symbols):
    from fileconvert_spark.functions import fsst

    got = fsst.train(sample, lengths=lengths, max_symbols=max_symbols)
    ref = _no_native(lambda: fsst.train(sample, lengths=lengths,
                                        max_symbols=max_symbols))
    assert got == ref
    return got


@requires_native
@_DECODE
@given(st.binary(max_size=3000),
       st.lists(st.integers(min_value=0, max_value=3000), max_size=30),
       st.booleans(),
       st.sampled_from([255, 40, 3]),
       st.sampled_from([None, b"ab", b"abc\x00/\n\xff\xfe", b"\x00"]))
def test_fsst_train_kernel_matches_python_walk(data, cuts, use_lengths,
                                               max_symbols, alphabet):
    """Property: training with the C counting walk and the NumPy ranking
    returns the same table as the Python walk with sorted(), with and
    without string lengths (lengths that overrun the sample included),
    on samples of <= 8 distinct bytes and on tie-heavy ones (tiny
    alphabets give many candidates of equal gain)."""
    if alphabet is not None:
        data = bytes(alphabet[b % len(alphabet)] for b in data)
    lengths = None
    if use_lengths:
        bounds = sorted(set(cuts)) + [len(data)]
        lengths = np.diff([0] + bounds).clip(0)
    _train_pair(data, lengths, max_symbols)


@requires_native
@settings(max_examples=8, deadline=None, database=None)
@given(st.binary(min_size=1, max_size=400),
       st.integers(min_value=1, max_value=500),
       st.sampled_from([None, b"ab\n", bytes(range(256))]))
def test_fsst_train_kernel_matches_on_truncated_samples(unit, str_len,
                                                        alphabet):
    """Samples longer than SAMPLE_BYTES are cut to it, the last string
    with them; the two paths still give the same table, including on a
    sample of all 256 byte values (only the singles fit the table)."""
    from fileconvert_spark.functions import fsst

    if alphabet is not None:
        unit = bytes(alphabet[b % len(alphabet)] for b in unit)
    sample = (unit * (fsst.SAMPLE_BYTES // len(unit) + 2))
    n_str = -(-len(sample) // str_len)
    lengths = np.full(n_str, str_len, dtype=np.int64)
    table = _train_pair(sample, lengths, 255)
    assert len(sample) > fsst.SAMPLE_BYTES
    assert len(table) <= 255


@pytest.mark.parametrize("enc,lengths,match", [
    (b"\x00\x00\x00", [1, 1], "sum to 2, not 3"),       # short: drops bytes
    (b"\x00\x00\x00", [2, 2], "sum to 4, not 3"),       # long
    (b"\x00\x00\x00", [4, -1], "negative"),
    (b"\x00\xff", [2], "ESCAPE"),                       # trailing escape
    (b"\xff\xff\xff", [3], "ESCAPE"),
])
def test_fsst_decode_rejects_malformed_streams(enc, lengths, match):
    """Both decoders raise the same ValueError on lengths that do not
    cover the stream exactly and on a trailing ESCAPE (the NumPy path
    used to drop the last string's bytes, accept a long sum, and raise
    IndexError on the escape)."""
    from fileconvert_spark.functions import fsst

    el = np.array(lengths, dtype=np.int64)
    with pytest.raises(ValueError, match=match):
        fsst.decode_buffer(enc, el, [b"abc"])
    if native.load() is not None:
        with pytest.raises(ValueError, match=match):
            native.fsst_decode(enc, el, [b"abc"])


@pytest.mark.parametrize("no_native", [False, True])
def test_linedict_counts_must_cover_segments(monkeypatch, no_native):
    """Per-row segment counts that do not sum to the segment indices
    (and meta ``nl``) raise DecodeError on both paths; they used to
    decode 'f' as '' silently."""
    import json

    import pyarrow as pa

    from fileconvert_spark.functions import codecs
    from fileconvert_spark.functions.bitpack import pack_uints_auto
    from fileconvert_spark.operators.encode import DecodeError, decode_column

    if no_native:
        monkeypatch.setenv("FCS_NO_NATIVE", "1")
    blob = codecs._flagged_blob_encode(pa.array(list("abcdef")))
    idx = pack_uints_auto(np.arange(6, dtype=np.uint64))
    meta = json.dumps({"k": 6, "nl": 6, "vt": "str", "ot": "string"})
    ok = pack_uints_auto(np.array([3, 2, 1], dtype=np.uint64)) + idx
    assert decode_column("linedict", ok, blob, meta, 3, None).to_pylist() \
        == ["a\nb\nc", "d\ne", "f"]
    for counts in ([3, 2, 0], [3, 2, 2], [2**64 - 1, 7, 0]):
        bad = pack_uints_auto(np.array(counts, dtype=np.uint64)) + idx
        with pytest.raises(DecodeError, match="segment counts"):
            decode_column("linedict", bad, blob, meta, 3, None)


def test_dictionary_codecs_decode_equal_without_native(tmp_path,
                                                       monkeypatch):
    """End to end: parts written by the part writer, holding dict, rle,
    linedict and pathdict chunks and dictionary pages, decode to equal
    batches with and without the compiled kernels."""
    import pyarrow.parquet as pq

    from fileconvert_spark.operators import encode as E
    from fileconvert_spark.plans.manifest import make_write_kernel
    from tests.test_part_writer_digest import _clustered_batches

    out = str(tmp_path / "enc")
    list(make_write_kernel(out, chunk_rows=256)(iter(_clustered_batches())))
    cols = ["repo", "path", "commit", "lang", "content"]
    chunks, codecs_seen = [], set()
    for name in sorted(os.listdir(os.path.join(out, "data"))):
        rows = pq.read_table(os.path.join(out, "data", name)).to_pylist()
        pages = {r["column"]: r["dict"] for r in rows
                 if r["chunk_id"] == E.PAGE_CHUNK_ID}
        by_chunk = {}
        for r in rows:
            if r["chunk_id"] != E.PAGE_CHUNK_ID:
                by_chunk.setdefault(r["chunk_id"], {})[r["column"]] = r
                codecs_seen.add(r["codec"])
        chunks += [(by_chunk[c], pages) for c in sorted(by_chunk)]
    assert {"dict", "rle", "linedict", "pathdict"} <= codecs_seen

    def decode_all():
        E._PAGE_CACHE.clear()   # pages must decode on the path under test
        return [E.decode_chunk(rows, cols, pages) for rows, pages in chunks]

    native_batches = decode_all()
    monkeypatch.setenv("FCS_NO_NATIVE", "1")
    numpy_batches = decode_all()
    assert len(native_batches) == len(numpy_batches) > 0
    for a, b in zip(native_batches, numpy_batches):
        assert a.equals(b)


def _forward_filter(px, filters, ch):
    """Apply PNG row filters (the encoder direction) to reference pixels —
    ground truth for the defilter tests."""
    h, stride = px.shape
    out = np.empty_like(px)
    px16 = px.astype(np.int32)
    for r in range(h):
        up = px16[r - 1] if r else np.zeros(stride, np.int32)
        left = np.concatenate([np.zeros(ch, np.int32), px16[r, :-ch]]) \
            if stride > ch else np.zeros(stride, np.int32)
        ul = np.concatenate([np.zeros(ch, np.int32), up[:-ch]]) \
            if stride > ch else np.zeros(stride, np.int32)
        f = int(filters[r])
        if f == 0:
            pred = 0
        elif f == 1:
            pred = left
        elif f == 2:
            pred = up
        elif f == 3:
            pred = (left + up) >> 1
        else:
            p = left + up - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, up, ul))
        out[r] = ((px16[r] - pred) & 0xFF).astype(np.uint8)
    return out


@pytest.mark.parametrize("ch", [1, 2, 3, 4])
def test_png_defilter_all_filters_roundtrip(ch):
    """Every filter type (including rows mixing all five) defilters back
    to the original pixels, on the native path when available AND on the
    forced-NumPy fallback — and the two agree byte-for-byte."""
    from fileconvert_spark.operators.multimodal import _png_defilter

    rng = np.random.Generator(np.random.PCG64(31 + ch))
    h, w = 24, 17
    px = rng.integers(0, 256, size=(h, w * ch), dtype=np.uint8)
    filters = rng.integers(0, 5, size=h).astype(np.uint8)
    filters[:5] = [0, 1, 2, 3, 4]  # guarantee every type appears
    data = _forward_filter(px, filters, ch)

    got = _png_defilter(data, filters, w, ch)
    assert np.array_equal(got, px)

    os.environ["FCS_NO_NATIVE"] = "1"
    try:
        got_np = _png_defilter(data, filters, w, ch)
    finally:
        del os.environ["FCS_NO_NATIVE"]
    assert np.array_equal(got_np, px)


def test_png_defilter_rejects_unknown_filter():
    from fileconvert_spark.operators.multimodal import _png_defilter

    data = np.zeros((2, 6), dtype=np.uint8)
    with pytest.raises(ValueError, match="unknown row filter"):
        _png_defilter(data, np.array([0, 7], dtype=np.uint8), 2, 3)


@requires_native
def test_native_disabled_by_env(monkeypatch):
    monkeypatch.setenv("FCS_NO_NATIVE", "1")
    assert native.load() is None
    assert native.fsst_encode(np.zeros(1, np.uint8),
                              np.array([1], np.int64),
                              (np.zeros(1 << 16, np.uint16),
                               np.zeros(256, np.uint16), None),
                              12, 1024) is None


@requires_native
@settings(max_examples=40, deadline=None)
@given(st.lists(st.lists(st.integers(min_value=0, max_value=6),
                         max_size=40), max_size=12),
       st.integers(min_value=1, max_value=6))
def test_winnow_select_matches_numpy_tournament(docs, w):
    """Property: the C deque selection and the NumPy tournament path pick
    the SAME per-doc fingerprint sets for arbitrary doc shapes (empty
    docs, short docs, heavy value ties — the 0..6 alphabet forces tie
    runs) and any window length."""
    vals = np.array([v for d in docs for v in d], dtype=np.uint64)
    counts = np.array([len(d) for d in docs], dtype=np.int64)
    sel = native.winnow_select(vals, counts, w)
    assert sel is not None

    # NumPy reference: per doc, rightmost window minima (or whole-doc
    # min when < w grams), deduped — brute force
    doc_of = np.repeat(np.arange(counts.size), counts)
    want = set()
    off = 0
    for d, cnt in enumerate(counts):
        seg = vals[off:off + cnt]
        if cnt > 0:
            if cnt < w:
                want.add((d, int(seg.min())))
            else:
                for s in range(cnt - w + 1):
                    win = seg[s:s + w]
                    m = win.min()
                    want.add((d, int(m)))
        off += cnt
    got = {(int(doc_of[i]), int(vals[i])) for i in sel}
    assert got == want


@requires_native
def test_winnow_batch_native_equals_numpy_path():
    """Full winnow_fingerprints_batch output must be identical with and
    without the native kernel, across batch profiles (short docs,
    uniform long docs, empty/None, tie-heavy)."""
    from fileconvert_spark.functions import similarity as sim

    docs = (["alpha beta gamma delta epsilon zeta eta theta"] * 3
            + [" ".join(f"w{i % 9}" for i in range(400))] * 2
            + ["", None, "one two", "x " * 50]
            + [" ".join(f"t{i * 13 % 7}" for i in range(60))])
    for k, w in ((5, 4), (3, 2), (4, 8)):
        fps_c, n_c = sim.winnow_fingerprints_batch(docs, k=k, w=w)
        os.environ["FCS_NO_NATIVE"] = "1"
        try:
            fps_np, n_np = sim.winnow_fingerprints_batch(docs, k=k, w=w)
        finally:
            del os.environ["FCS_NO_NATIVE"]
        assert np.array_equal(n_c, n_np), (k, w)
        assert np.array_equal(fps_c, fps_np), (k, w)


@requires_native
@settings(max_examples=40, deadline=None)
@given(st.lists(st.one_of(
    st.none(),
    st.text(max_size=120),
    st.text(alphabet=" \t\n\v\f\rabé中", max_size=80)),
    max_size=15),
    st.integers(min_value=1, max_value=9))
def test_slab_hash_kernels_match_numpy(texts, n):
    """Property: the C word-hash and gram-hash kernels are BIT-identical
    to the NumPy prefix-sum path over arbitrary unicode (multi-byte
    UTF-8, every whitespace class, empty/None docs), for both
    short_doc_gram conventions."""
    from fileconvert_spark.functions import similarity as sim

    for short in (True, False):
        gh_c, cnt_c = sim.batch_gram_hashes(
            list(texts), n, short_doc_gram=short)
        os.environ["FCS_NO_NATIVE"] = "1"
        try:
            gh_np, cnt_np = sim.batch_gram_hashes(
                list(texts), n, short_doc_gram=short)
        finally:
            del os.environ["FCS_NO_NATIVE"]
        assert np.array_equal(cnt_c, cnt_np), (n, short)
        assert np.array_equal(gh_c, gh_np), (n, short)


@requires_native
def test_signature_kernels_native_equal_numpy():
    """End-to-end signatures (MinHash, SimHash) must be identical with
    and without the native hash kernels."""
    from fileconvert_spark.functions import similarity as sim

    docs = ["alpha beta gamma delta epsilon", "", None, "  x  ",
            " ".join(f"w{i % 13}" for i in range(300)),
            "café naïve 中文 words here",
            "\tmixed\nwhitespace doc\r\n"]
    mh_c = sim.minhash_signatures(docs)
    sh_c = sim.simhash64_batch(docs)
    os.environ["FCS_NO_NATIVE"] = "1"
    try:
        mh_np = sim.minhash_signatures(docs)
        sh_np = sim.simhash64_batch(docs)
    finally:
        del os.environ["FCS_NO_NATIVE"]
    assert np.array_equal(mh_c, mh_np)
    assert np.array_equal(sh_c, sh_np)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=40), min_size=0,
                max_size=60),
       st.sampled_from([8, 16, 32, 64]),
       st.integers(min_value=0, max_value=2**32))
def test_oph_minhash_kernel_matches_numpy(counts, n_hashes, seed):
    """r7 kernel: C bucket-min + rotation densification must be
    bit-identical to the NumPy _oph_signatures/_oph_densify pair over
    arbitrary per-doc gram counts (incl. empty docs and docs whose
    grams all land in one bucket)."""
    if native.load() is None:
        pytest.skip("no toolchain")
    from fileconvert_spark.functions import similarity as sim

    rng = np.random.Generator(np.random.PCG64(seed))
    counts = np.asarray(counts, dtype=np.int64)
    gh = rng.integers(0, 2**64, size=int(counts.sum()), dtype=np.uint64)
    # sprinkle single-bucket crowding: clamp some hashes' top bits
    if gh.size > 3:
        gh[::3] &= np.uint64(2**58 - 1)
    got = native.oph_minhash(gh, counts, n_hashes, sim._DENSIFY_C)
    lg = int(n_hashes).bit_length() - 1
    sig = np.full((counts.size, n_hashes), sim._EMPTY, dtype=np.uint64)
    if gh.size:
        ddoc = np.repeat(np.arange(counts.size, dtype=np.int64), counts)
        bucket = (gh >> np.uint64(64 - lg)).astype(np.int64)
        np.minimum.at(sig, (ddoc, bucket), gh)
    want = sim._oph_densify(sig)
    assert np.array_equal(got, want)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=50), min_size=0,
                max_size=50),
       st.integers(min_value=0, max_value=2**32))
def test_simhash_kernel_matches_numpy(counts, seed):
    """r7 kernel: C per-doc bit majorities == the byte-lane histogram
    path, including empty docs and exact-tie majorities (2*ones == n
    must NOT set the bit)."""
    if native.load() is None:
        pytest.skip("no toolchain")
    rng = np.random.Generator(np.random.PCG64(seed))
    counts = np.asarray(counts, dtype=np.int64)
    wh = rng.integers(0, 2**64, size=int(counts.sum()), dtype=np.uint64)
    got = native.simhash_batch(wh, counts)
    # independent NumPy majority (not the module's histogram, the
    # textbook definition): bit b set iff strictly more than half of
    # the doc's word hashes carry it
    want = np.zeros(counts.size, dtype=np.uint64)
    off = 0
    for d, c in enumerate(counts):
        if c == 0:
            continue
        bits = ((wh[off:off + c, None] >> np.arange(64, dtype=np.uint64))
                & np.uint64(1)).sum(axis=0)
        want[d] = np.sum((2 * bits > c).astype(np.uint64)
                         << np.arange(64, dtype=np.uint64))
        off += int(c)
    assert np.array_equal(got, want)


def test_cache_dir_is_private_and_unsafe_files_refused(monkeypatch,
                                                       tmp_path):
    """ADVICE r6 (medium): the kernel cache must never live at a
    predictable world-writable path, and a pre-planted cache file with
    loose permissions is replaced/refused, not CDLL'd."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setattr(native, "_LIB", None)
    d = native._cache_dir()
    assert d.startswith(str(tmp_path))
    assert (os.stat(d).st_mode & 0o077) == 0  # no group/other access

    # plant garbage with group/other write bits at the exact cache name
    src = native._read_source()
    import hashlib as _h
    tag = _h.sha256(src).hexdigest()[:16]
    planted = os.path.join(d, f"fcs_native_{tag}.so")
    with open(planted, "wb") as f:
        f.write(b"\x7fELF not a real library")
    os.chmod(planted, 0o777)
    assert not native._safe_to_load(planted)

    # load() must NOT dlopen the planted file: it recompiles over it
    # (owner-only) or bails to NumPy — either way no unsafe load
    lib = native.load()
    st = os.stat(planted)
    if lib is not None:  # toolchain present: recompiled, now private
        assert (st.st_mode & 0o022) == 0
        assert native._safe_to_load(planted)
    monkeypatch.setattr(native, "_LIB", None)  # leave clean state


_CONCURRENT_LOAD = """
import os, subprocess, sys, threading
from fileconvert_spark import native

sys.setswitchinterval(1e-6)

real_run, compiles = subprocess.run, []

def counting_run(*args, **kwargs):
    compiles.append(args)
    return real_run(*args, **kwargs)

subprocess.run = counting_run
start, libs = threading.Barrier(8), []

def first_call():
    start.wait()
    libs.append(native.load())

threads = [threading.Thread(target=first_call) for _ in range(8)]
for t in threads:
    t.start()
for t in threads:
    t.join()
print(len(compiles), len({id(lib) for lib in libs}), libs[0] is not None,
      sorted(os.listdir(native._cache_dir())))
"""


@requires_native
def test_concurrent_first_load_compiles_once(tmp_path):
    """Encode's column threads can make a fresh worker's first native
    call twice at once: the library must be compiled once, every thread
    must get it, and no temp file may be left in the cache dir."""
    import hashlib
    import subprocess
    import sys

    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path))
    env.pop("FCS_NO_NATIVE", None)
    r = subprocess.run([sys.executable, "-c", _CONCURRENT_LOAD], cwd=_ROOT,
                       env=env, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    n_compiles, n_libs, loaded, files = r.stdout.strip().split(" ", 3)
    assert (n_compiles, n_libs, loaded) == ("1", "1", "True"), r.stdout
    src_tag = hashlib.sha256(native._read_source()).hexdigest()[:16]
    assert files == repr([f"fcs_native_{src_tag}.so"]), r.stdout


@requires_native
@settings(max_examples=120, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1),
                max_size=300),
       st.integers(min_value=1, max_value=64))
def test_pack_bits_kernel_matches_numpy(vals, width):
    """pack_bits/unpack_bits must be byte-identical to the NumPy
    bit-matrix path at every width 1..64 (values masked into range)."""
    v = np.array(vals, dtype=np.uint64)
    if width < 64:
        v &= (np.uint64(1) << np.uint64(width)) - np.uint64(1)
    got = native.pack_bits(v, width)
    # NumPy reference (the original pack_uints body)
    if len(v) == 0:
        want = b""
    else:
        shifts = np.arange(width - 1, -1, -1, dtype=np.uint64)
        bits = ((v[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
        want = np.packbits(bits.ravel()).tobytes()
    assert got == want
    back = native.unpack_bits(got, width, len(v))
    assert np.array_equal(back, v)


@requires_native
def test_unpack_bits_kernel_truncation_raises():
    v = np.arange(100, dtype=np.uint64)
    blob = native.pack_bits(v, 13)
    with pytest.raises(ValueError, match="truncated"):
        native.unpack_bits(blob[:-2], 13, 100)


@requires_native
@settings(max_examples=150, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=100000),
                max_size=600),
       st.integers(min_value=0, max_value=16))
def test_huff_code_lengths_kernel_matches_python(counts, max_len):
    """huff_code_lengths (r8) must reproduce the Python two-queue +
    T.81 Adjust_BITS construction exactly — same lengths for every
    symbol, including stable tie-breaking on equal counts. Pairs with
    more than 2^max_len present symbols have no valid code: both paths
    raise ValueError instead of returning Kraft-invalid lengths (the C
    path used to corrupt the heap there)."""
    from fileconvert_spark.functions import huffman

    c = np.array(counts, dtype=np.int64)
    if int((c > 0).sum()) > 1 << max_len:
        with pytest.raises(ValueError, match="do not fit"):
            native.huff_code_lengths(c, max_len)
        with pytest.raises(ValueError, match="do not fit"):
            huffman._code_lengths_py(c, max_len)
        return
    got = native.huff_code_lengths(c, max_len)
    want = huffman._code_lengths_py(c, max_len)
    assert np.array_equal(got, want)
    present = got[c > 0].astype(np.int64)
    assert np.sum(2.0 ** -present) <= 1.0  # Kraft


@requires_native
def test_huff_code_lengths_infeasible_raises():
    """64 equal counts cannot fit 5-bit codes (32 at most): a clean
    ValueError from the public API, never a process abort."""
    from fileconvert_spark.functions import huffman

    with pytest.raises(ValueError, match="do not fit"):
        huffman.code_lengths(np.full(64, 10), 5)
    assert int(huffman.code_lengths(np.full(32, 10), 5).max()) == 5


@requires_native
def test_huff_code_lengths_kernel_skewed_large_alphabet():
    """A 4096-symbol Zipf-ish histogram (the dictionary-index shape that
    triggers the length limit) must match the Python path exactly."""
    from fileconvert_spark.functions import huffman

    rng = np.random.default_rng(11)
    c = (100000 / (1 + np.arange(4096))).astype(np.int64)
    c[rng.integers(0, 4096, 64)] = 0
    got = native.huff_code_lengths(c, 16)
    want = huffman._code_lengths_py(c, 16)
    assert np.array_equal(got, want)
    assert int(got.max()) <= 16


# ---------------------------------------------------------------------
# Argument validation: the kernels trust their bounds, so the wrappers
# must raise ValueError first. Everything below runs in a child process,
# so a regression that crashes a kernel fails one test instead of
# killing pytest.

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CRASH_CASES = {
    # returned b'' — silently dropped the values
    "pack_bits_nonzero_at_width_0":
        "native.pack_bits(np.array([1, 2], np.uint64), 0)",
    # SIGSEGV: symbol indexes far past sym_len
    "huff_encode_symbol_past_alphabet":
        "native.huff_encode(np.array([0, 1 << 40], np.int64),"
        " np.ones(2, np.uint8), np.arange(2, dtype=np.uint32), 64)",
    # free(): invalid size — counts walk past vals
    "winnow_select_counts_past_vals":
        "native.winnow_select(np.arange(4, dtype=np.uint64),"
        " np.array([3, 1 << 40]), 2)",
    # returned zeros — read past a 16-entry LUT
    "huff_decode_table_bits_past_lut":
        "native.huff_decode(np.zeros(8, np.uint8), np.zeros(16, np.uint32),"
        " np.ones(16, np.uint8), 16, np.array([0, 8]), 64, 10)",
    # returned zeros — read past the payload
    "huff_decode_seg_off_past_payload":
        "native.huff_decode(np.zeros(8, np.uint8), np.zeros(16, np.uint32),"
        " np.ones(16, np.uint8), 4, np.array([0, 1 << 20]), 64, 10)",
    # SIGSEGV: per-doc counts walk past the hash array
    "oph_minhash_counts_past_hashes":
        "native.oph_minhash(np.arange(4, dtype=np.uint64),"
        " np.array([3, 1 << 40]), 8, 7)",
    "simhash_batch_counts_past_hashes":
        "native.simhash_batch(np.arange(4, dtype=np.uint64),"
        " np.array([3, 1 << 40]))",
    "slab_gram_hashes_counts_past_hashes":
        "native.slab_gram_hashes(np.arange(4, dtype=np.uint64),"
        " np.array([3, 1 << 40]), 3, True, 5)",
    # wrote 98 grams into a buffer sized for the 1 the caller claimed
    "slab_gram_hashes_wrong_total":
        "native.slab_gram_hashes(np.arange(100, dtype=np.uint64),"
        " np.array([100]), 3, True, 1)",
    # SIGSEGV: string lengths walk far past the byte buffer
    "fsst_encode_lengths_past_buffer":
        "native.fsst_encode(np.zeros(4, np.uint8), np.array([1 << 40]),"
        " (np.zeros(1 << 16, np.uint16), np.zeros(256, np.uint16), None),"
        " 12, 1024)",
    # returned garbage — read past a 16-entry LUT
    "fsst_encode_short_lut":
        "native.fsst_encode(np.full(64, 255, np.uint8), np.array([64]),"
        " (np.zeros(16, np.uint16), np.zeros(256, np.uint16), None),"
        " 12, 1024)",
    # returned rows read 8 MiB past an 8-byte buffer
    "png_defilter_rows_past_data":
        "native.png_defilter(np.zeros(8, np.uint8), np.zeros(8, np.uint8),"
        " 1 << 20, 1)",
    # SIGSEGV: wrote 4000 coefficient blocks into a 1-block array
    "jpeg_entropy_decode_coefs_too_small":
        "from fileconvert_spark.operators.jpeg import _Huff\n"
        "t = _Huff([1] + [0] * 15, b'\\x00')\n"
        "native.jpeg_entropy_decode(bytes(1000), 4000, [0], [t], [t],"
        " np.zeros((1, 64), np.int32), 0)",
    # returned a block — decoded code '1' from a value the table lacks
    "jpeg_entropy_decode_codes_past_values":
        "from fileconvert_spark.operators.jpeg import _Huff\n"
        "t = _Huff([2] + [0] * 15, b'\\x00')\n"
        "native.jpeg_entropy_decode(b'\\xff' * 8, 1, [0], [t], [t],"
        " np.zeros((1, 64), np.int32), 0)",
    # returned counts — words silently credited to the wrong doc
    "slab_word_hashes_unsorted_doc_starts":
        "native.slab_word_hashes(np.frombuffer(b'a b c', np.uint8),"
        " np.array([4, 0]))",
    # the gather-join reads dictionary offsets at idx and idx + 1
    "str_gather_join_index_past_dictionary":
        "native.str_gather_join(np.array([0, 1, 2], np.int32),"
        " np.zeros(2, np.uint8), np.array([0, 1 << 40]))",
    "str_gather_join_negative_index":
        "native.str_gather_join(np.array([0, 1, 2], np.int32),"
        " np.zeros(2, np.uint8), np.array([0, -(1 << 40)]))",
    # rows walk counts[i] indices each through one flat index array
    "str_gather_join_counts_short_of_indices":
        "native.str_gather_join(np.array([0, 1, 2], np.int32),"
        " np.zeros(2, np.uint8), np.zeros(6, np.int64), np.array([3, 2, 0]),"
        " b'\\n')",
    "str_gather_join_counts_past_indices":
        "native.str_gather_join(np.array([0, 1, 2], np.int32),"
        " np.zeros(2, np.uint8), np.zeros(6, np.int64), np.array([3, 5]),"
        " b'\\n')",
    "str_gather_join_negative_count":
        "native.str_gather_join(np.array([0, 1, 2], np.int32),"
        " np.zeros(2, np.uint8), np.zeros(6, np.int64), np.array([1000, -994]),"
        " b'\\n')",
    # 2100 x 1 MiB: an int32-offset string array cannot hold it; refused
    # before the 2.2 GB output is allocated
    "str_gather_join_output_past_int32":
        "native.str_gather_join(np.array([0, 1 << 20], np.int32),"
        " np.zeros(1 << 20, np.uint8), np.zeros(2100, np.int64))",
    # the literal after a trailing ESCAPE lies past the stream
    "fsst_decode_trailing_escape":
        "native.fsst_decode(b'\\x00\\xff', np.array([2]), [b'a'])",
    # string lengths must cover the stream exactly
    "fsst_decode_lengths_short":
        "native.fsst_decode(b'\\x00\\x00\\x00', np.array([1, 1]), [b'abc'])",
    "fsst_decode_lengths_past_stream":
        "native.fsst_decode(b'\\x00\\x00\\x00', np.array([1, 1 << 40]),"
        " [b'abc'])",
    "fsst_decode_negative_length":
        "native.fsst_decode(b'\\x00\\x00\\x00', np.array([1 << 20, 3 - (1 << 20)]),"
        " [b'abc'])",
    # the split kernel walks n_rows + 1 offsets into the data
    "str_split_dedup_descending_offsets":
        "native.str_split_dedup(np.array([0, 3, 1], np.int32),"
        " np.zeros(4, np.uint8), 2, 47)",
    "str_split_dedup_offsets_past_data":
        "native.str_split_dedup(np.array([0, 1 << 20], np.int32),"
        " np.zeros(4, np.uint8), 1, 47)",
    "str_split_dedup_rows_past_offsets":
        "native.str_split_dedup(np.array([0, 1, 2], np.int32),"
        " np.zeros(4, np.uint8), 1 << 20, 47)",
    "str_split_dedup_rows_short_of_offsets":
        "native.str_split_dedup(np.array([0, 1, 2], np.int32),"
        " np.zeros(4, np.uint8), 1, None)",
    # 256 would split on NUL bytes, a negative one on nothing
    "str_split_dedup_separator_past_255":
        "native.str_split_dedup(np.array([0, 2], np.int32),"
        " np.zeros(2, np.uint8), 1, 256)",
    "str_split_dedup_negative_separator":
        "native.str_split_dedup(np.array([0, 2], np.int32),"
        " np.zeros(2, np.uint8), 1, -1)",
    # a byte past 255 would count a truncated value
    "count_bytes2_byte_past_255":
        "native.count_bytes2(np.zeros(4, np.uint8), 10, 256)",
    # the counting walk reads match_len[pos] and 8 bytes per candidate
    "fsst_train_count_match_lengths_short":
        "native.fsst_train_count(np.zeros(64, np.uint8), np.array([64]),"
        " np.zeros(1, np.int64))",
    "fsst_train_count_match_length_past_8":
        "native.fsst_train_count(np.zeros(64, np.uint8), np.array([64]),"
        " np.array([9] + [0] * 63))",
    "fsst_train_count_match_past_string_end":
        "native.fsst_train_count(np.zeros(8, np.uint8), np.array([4, 4]),"
        " np.array([0, 0, 0, 4, 0, 0, 0, 0]))",
    "fsst_train_count_negative_match_length":
        "native.fsst_train_count(np.zeros(8, np.uint8), np.array([8]),"
        " np.array([0, 0, 0, -(1 << 40), 0, 0, 0, 0]))",
    "fsst_train_count_lengths_past_sample":
        "native.fsst_train_count(np.zeros(8, np.uint8), np.array([1 << 40]),"
        " np.zeros(8, np.int64))",
}


def _run_child(code: str):
    import subprocess
    import sys

    return subprocess.run([sys.executable, "-c", code], cwd=_ROOT,
                          capture_output=True, text=True, timeout=300)


@requires_native
@pytest.mark.parametrize("case", sorted(_CRASH_CASES))
def test_native_bad_arguments_raise_value_error(case):
    body = "".join(f"    {line}\n"
                   for line in _CRASH_CASES[case].split("\n"))
    r = _run_child(
        "import numpy as np\n"
        "from fileconvert_spark import native\n"
        f"try:\n{body}"
        "except ValueError as e:\n"
        "    print('ValueError:', e)\n")
    assert r.returncode == 0, (r.returncode, r.stderr[-2000:])
    assert r.stdout.startswith("ValueError:"), r.stdout


_REJECT = settings(max_examples=60, deadline=None, database=None)


@_REJECT
@given(st.integers(min_value=-8, max_value=80),
       st.lists(st.integers(min_value=0, max_value=2**64 - 1),
                min_size=1, max_size=40))
def _prop_pack_bits_rejects(width, vals):
    v = np.array(vals, dtype=np.uint64)
    if 0 <= width <= 64:
        if width < 64:
            v[-1] |= np.uint64(1) << np.uint64(width)
        else:
            width = 65
    with pytest.raises(ValueError):
        native.pack_bits(v, width)


@_REJECT
@given(st.integers(min_value=1, max_value=64),
       st.lists(st.integers(min_value=0, max_value=63), max_size=200),
       st.integers(min_value=-(1 << 40), max_value=1 << 40))
def _prop_huff_encode_rejects(k, vals, bad):
    if 0 <= bad < k:
        bad += k
    v = np.array(vals + [bad], dtype=np.int64) % max(k, 1)
    v[-1] = bad
    with pytest.raises(ValueError):
        native.huff_encode(v, np.full(k, 6, np.uint8),
                           np.arange(k, dtype=np.uint32), 64)


@_REJECT
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1),
                max_size=100),
       st.lists(st.integers(min_value=0, max_value=50), min_size=1,
                max_size=20),
       st.integers(min_value=1, max_value=10))
def _prop_winnow_select_rejects(vals, counts, w):
    c = np.array(counts, dtype=np.int64)
    c[-1] += max(len(vals) - int(c.sum()), 0) + 1
    with pytest.raises(ValueError):
        native.winnow_select(np.array(vals, dtype=np.uint64), c, w)


@_REJECT
@given(st.integers(min_value=1, max_value=12),
       st.integers(min_value=0, max_value=64),
       st.booleans(),
       st.integers(min_value=1, max_value=1 << 30))
def _prop_huff_decode_rejects(lut_bits, n_payload, past_lut, over):
    lut = 1 << lut_bits
    table_bits, end = lut_bits, n_payload
    if past_lut:
        table_bits = lut_bits + 1 + over % 30
    else:
        end = n_payload + over
    with pytest.raises(ValueError):
        native.huff_decode(np.zeros(n_payload, np.uint8),
                           np.zeros(lut, np.uint32), np.ones(lut, np.uint8),
                           table_bits, np.array([0, end]), 64, 10)


@requires_native
@pytest.mark.parametrize("prop", ["pack_bits", "huff_encode",
                                  "winnow_select", "huff_decode"])
def test_native_rejects_invalid_arguments_property(prop):
    """Hypothesis property per entry point: generated out-of-bounds
    arguments raise ValueError, never crash or return garbage."""
    r = _run_child(f"from tests.test_native import _prop_{prop}_rejects\n"
                   f"_prop_{prop}_rejects()\n")
    assert r.returncode == 0, (r.returncode, r.stderr[-3000:])
