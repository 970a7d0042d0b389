"""Property-based roundtrip tests (hypothesis): for ANY input, codec
auto-selection must reproduce the data exactly and never exceed raw+eps."""

import struct

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from fileconvert_spark.functions import codecs

# text including unicode, control chars, newlines, long runs
text_value = st.text(
    alphabet=st.characters(min_codepoint=0, max_codepoint=0x10FFFF,
                           exclude_categories=("Cs",)),
    max_size=200,
)
text_lists = st.lists(text_value, max_size=120)

int_arrays = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=200
)


@settings(max_examples=120, deadline=None)
@given(text_lists)
def test_str_roundtrip_property(strs):
    arr = pa.array(strs, type=pa.string())
    codec, payload, dict_blob, meta = codecs.select_and_encode_str(arr)
    out = codecs.decode_str(codec, payload, dict_blob, meta, len(arr))
    assert out.cast(pa.string()).equals(arr), codec
    _, raw = codecs._string_buffers(arr)
    size = len(payload) + len(dict_blob or b"")
    assert size <= raw + 4 * len(arr) + 96, (codec, size, raw)


@settings(max_examples=120, deadline=None)
@given(int_arrays)
def test_int_roundtrip_property(vals):
    v = np.array(vals, dtype=np.int64)
    codec, payload, dict_blob, meta = codecs.select_and_encode_int(v)
    out = codecs.decode_int(codec, payload, dict_blob, meta, len(v))
    assert (np.asarray(out) == v).all(), codec
    size = len(payload) + len(dict_blob or b"")
    assert size <= 8 * len(v) + 64, (codec, size)


@settings(max_examples=80, deadline=None)
@given(st.lists(st.one_of(st.none(), text_value), max_size=100))
def test_nullable_column_roundtrip_property(strs):
    """Full column wrapper: validity bitmaps restore nulls positionally."""
    from fileconvert_spark.operators.encode import decode_column, encode_column

    arr = pa.array(strs, type=pa.string())
    f = encode_column(arr)
    out = decode_column(f["codec"], f["payload"], f["dict"], f["meta"],
                        f["n_rows"], f["validity"])
    assert out.cast(pa.string()).equals(arr), f["codec"]


@settings(max_examples=60, deadline=None)
@given(st.lists(st.binary(max_size=300), max_size=80))
def test_binary_roundtrip_property(blobs):
    from fileconvert_spark.operators.encode import (
        _binary_as_string_view, _string_as_binary_view,
    )

    arr = pa.array(blobs, type=pa.binary())
    view = _binary_as_string_view(arr)
    codec, payload, dict_blob, meta = codecs.select_and_encode_str(
        view, allow_linedict=False)
    out = codecs.decode_str(codec, payload, dict_blob, meta, len(arr))
    back = _string_as_binary_view(out if isinstance(out, pa.Array)
                                  else out.combine_chunks())
    assert back.equals(arr), codec


@settings(max_examples=80, deadline=None)
@given(st.lists(
    st.one_of(st.none(),
              st.decimals(min_value=-(10**9), max_value=10**9, places=2)),
    max_size=100,
))
def test_decimal_small_roundtrip_property(vals):
    """decimal(12,2) (int64-backed path) roundtrips exactly incl. nulls."""
    from fileconvert_spark.operators.encode import decode_column, encode_column

    arr = pa.array(vals, type=pa.decimal128(12, 2))
    f = encode_column(arr)
    out = decode_column(f["codec"], f["payload"], f["dict"], f["meta"],
                        f["n_rows"], f["validity"])
    assert out.equals(arr), f["codec"]


@settings(max_examples=40, deadline=None)
@given(st.lists(
    st.one_of(st.none(),
              st.decimals(min_value=-(10**30), max_value=10**30, places=6)),
    max_size=60,
))
def test_decimal_wide_roundtrip_property(vals):
    """decimal(38,6) (16-byte buffer path) roundtrips exactly incl. nulls."""
    from fileconvert_spark.operators.encode import decode_column, encode_column

    arr = pa.array(vals, type=pa.decimal128(38, 6))
    f = encode_column(arr)
    out = decode_column(f["codec"], f["payload"], f["dict"], f["meta"],
                        f["n_rows"], f["validity"])
    assert out.equals(arr), f["codec"]


@settings(max_examples=80, deadline=None)
@given(st.lists(st.text(max_size=80), max_size=40))
def test_minhash_identity_property(texts):
    """Identical texts always get identical signatures; signatures are
    invariant to batch composition (pure per-document function)."""
    from fileconvert_spark.functions import similarity as sim

    sigs = sim.minhash_signatures(texts, 32)
    for i, t in enumerate(texts):
        assert sigs[i].tolist() == sim.minhash_signature(t, 32), i
    sh = sim.simhash64_batch(texts)
    for i, t in enumerate(texts):
        assert int(sh[i]) == sim.simhash64(t), i


@settings(max_examples=60, deadline=None)
@given(st.lists(
    st.one_of(st.none(),
              st.lists(st.one_of(st.none(),
                                 st.integers(-(2**62), 2**62)),
                       max_size=8)),
    max_size=50,
))
def test_list_column_roundtrip_property(rows):
    """list<int64> with outer nulls, empty lists, and child nulls
    roundtrips exactly through the recursive list codec."""
    from fileconvert_spark.operators.encode import decode_column, encode_column

    arr = pa.array(rows, type=pa.list_(pa.int64()))
    f = encode_column(arr)
    out = decode_column(f["codec"], f["payload"], f["dict"], f["meta"],
                        f["n_rows"], f["validity"])
    if isinstance(out, pa.ChunkedArray):
        out = out.combine_chunks()
    assert out.equals(arr), f["codec"]


@settings(max_examples=40, deadline=None)
@given(st.lists(
    st.text(alphabet=st.sampled_from("ab x\t\n"), max_size=60),
    min_size=2, max_size=12))
def test_jaccard_batch_matches_scalar_property(texts):
    """Batched hash-set jaccard == scalar set-based jaccard on arbitrary
    (whitespace-heavy, collision-prone) text pairs."""
    from fileconvert_spark.functions import similarity as sim

    ta = texts
    tb = list(reversed(texts))
    got = sim.jaccard_batch(ta, tb)
    want = np.array([sim.jaccard(a, b) for a, b in zip(ta, tb)])
    assert np.abs(got - want).max() == 0.0


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(alphabet=st.sampled_from("abcde "), min_size=1,
                        max_size=40), min_size=1, max_size=20))
def test_bpe_invariants_property(texts):
    """count == len(tokenize); pieces concatenate back to the pre-tokens;
    training never crashes and is deterministic on arbitrary corpora."""
    from fileconvert_spark.functions.bpe import (
        BPETokenizer, pre_tokenize, train_bpe,
    )

    merges = train_bpe(texts, n_merges=12)
    assert merges == train_bpe(list(texts), n_merges=12)
    tok = BPETokenizer(merges)
    for t in texts:
        pieces = tok.tokenize(t)
        assert len(pieces) == tok.count(t)
        assert "".join(pieces) == "".join(pre_tokenize(t))


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(alphabet=st.sampled_from("abc \n\t"), max_size=50),
                min_size=1, max_size=10),
       st.integers(min_value=2, max_value=5))
def test_gram_hash_conventions_property(texts, n):
    """short_doc_gram=False gram counts == the word_ngram_col convention:
    max(words - n + 1, 0) per doc, in word order."""
    from fileconvert_spark.functions import similarity as sim

    _, cnt = sim.batch_gram_hashes(texts, n, short_doc_gram=False)
    for t, c in zip(texts, cnt):
        words = t.split()
        assert c == max(len(words) - n + 1, 0)


# ---------------- decode corruption robustness (VERDICT r3 item 5) ----------
# decode must raise a descriptive DecodeError on byte-level corruption of
# ANY component — payload, dict, validity, meta — never return wrong data.

def _corruption_fixture_columns():
    """Diverse columns hitting every codec family + nulls + nesting."""
    rng = np.random.default_rng(11)
    strs = pa.array(
        [f"src/module_{i % 7}/file_{i}.py" for i in range(400)])
    lowcard = pa.array([f"lang{i % 3}" for i in range(400)])
    ints = pa.array(rng.integers(0, 1 << 40, 400))
    floats = pa.array(
        [None if i % 9 == 0 else float(i) * 1.5 for i in range(400)])
    lists = pa.array([[i, i + 1, i + 2] for i in range(400)],
                     type=pa.list_(pa.int64()))
    return {"strs": strs, "lowcard": lowcard, "ints": ints,
            "floats": floats, "lists": lists}


def _corrupt(blob: bytes, pos: int, xor: int) -> bytes:
    b = bytearray(blob)
    b[pos % len(b)] ^= xor
    return bytes(b)


@settings(max_examples=60, deadline=None)
@given(st.sampled_from(["strs", "lowcard", "ints", "floats", "lists"]),
       st.sampled_from(["payload", "dict", "validity", "meta"]),
       st.integers(min_value=0, max_value=1 << 30),
       st.integers(min_value=1, max_value=255))
def test_decode_raises_on_any_component_corruption(col, component, pos, xor):
    import pytest

    from fileconvert_spark.operators.encode import (
        DecodeError, decode_column, encode_column,
    )

    f = encode_column(_corruption_fixture_columns()[col])
    fields = {"payload": f["payload"], "dict": f["dict"],
              "validity": f["validity"], "meta": f["meta"]}
    if not fields[component]:
        return  # column has no such component (no nulls / no dict)
    if component == "meta":
        fields["meta"] = _corrupt(f["meta"].encode(), pos, xor).decode(
            "utf-8", errors="replace")
    else:
        fields[component] = _corrupt(fields[component], pos, xor)
    with pytest.raises(DecodeError, match="integrity sha mismatch"):
        decode_column(f["codec"], fields["payload"], fields["dict"],
                      fields["meta"], f["n_rows"], fields["validity"],
                      expect_sha=f["sha256_chunk"], ctx="part=0 chunk=0")


def test_decode_error_names_the_chunk():
    """The error message carries the chunk context a cluster operator
    needs (which part/chunk/column to re-encode)."""
    import pytest

    from fileconvert_spark.operators.encode import (
        DecodeError, decode_column, encode_column,
    )

    f = encode_column(_corruption_fixture_columns()["strs"])
    bad = _corrupt(f["payload"], 7, 0x40)
    with pytest.raises(DecodeError, match=r"part=3 chunk=9 column=strs"):
        decode_column(f["codec"], bad, f["dict"], f["meta"], f["n_rows"],
                      f["validity"], expect_sha=f["sha256_chunk"],
                      ctx="part=3 chunk=9 column=strs")


def test_decode_structural_failure_wrapped_without_sha():
    """Even with no integrity sha (legacy/manual call), a structurally
    broken payload raises a DecodeError naming the codec — not a bare
    IndexError deep inside a kernel, and never silent wrong data."""
    import pytest

    from fileconvert_spark.operators.encode import (
        DecodeError, decode_column, encode_column,
    )

    f = encode_column(_corruption_fixture_columns()["ints"])
    with pytest.raises(DecodeError, match=f["codec"]):
        decode_column(f["codec"], f["payload"][: len(f["payload"]) // 3],
                      f["dict"], f["meta"], f["n_rows"], f["validity"])


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(1, 24), h=st.integers(1, 24),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_gray_roundtrip_property(w, h, seed):
    """Any 8-bit grayscale image round-trips exactly through the
    fixture writer + the real decoder (all shapes, incl. 1-pixel)."""
    import numpy as np

    from fileconvert_spark.operators.multimodal import (
        _decode_media, encode_png_gray,
    )

    rng = np.random.Generator(np.random.PCG64(seed))
    img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    gw, gh, frames, px = _decode_media(encode_png_gray(img))
    assert (gw, gh, frames) == (w, h, 1)
    assert np.array_equal(px.reshape(h, w), img)


@settings(max_examples=60, deadline=None)
@given(cut=st.integers(9, 120), xor=st.integers(1, 255),
       pos=st.integers(8, 119))
def test_png_corruption_never_silent(cut, xor, pos):
    """Truncated or bit-flipped PNG bytes must raise (ValueError /
    NotImplementedError / zlib.error) — never decode into silently
    wrong pixels of the wrong shape."""
    import zlib

    import numpy as np
    import pytest

    from fileconvert_spark.operators.multimodal import (
        _decode_media, encode_png_gray,
    )

    rng = np.random.Generator(np.random.PCG64(7))
    img = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
    blob = encode_png_gray(img)
    want = img.ravel()

    truncated = blob[: min(cut, len(blob) - 1)]
    try:
        _, _, _, px = _decode_media(truncated)
        # only acceptable "success" is the exact original image (the
        # truncation fell inside trailing bytes we never read)
        assert np.array_equal(px, want)
    except (ValueError, NotImplementedError, zlib.error, struct.error):
        pass

    p = min(pos, len(blob) - 1)
    flipped = blob[:p] + bytes([blob[p] ^ xor]) + blob[p + 1:]
    try:
        _, _, _, px = _decode_media(flipped)
        # a flip may hit a CRC (we don't check CRCs — pyarrow-style
        # trust-the-transport) or padding; if decode "succeeds" the
        # shape must still be sane and deterministic
        assert px.size == want.size
    except (ValueError, NotImplementedError, zlib.error, struct.error,
            KeyError):
        pass


@settings(max_examples=60, deadline=None)
@given(cut=st.integers(7, 400), xor=st.integers(1, 255),
       pos=st.integers(6, 399))
def test_gif_corruption_never_silent(cut, xor, pos):
    """Truncated or bit-flipped GIF bytes must raise ValueError /
    NotImplementedError — never an uncaught IndexError and never
    silently wrong pixels of the wrong shape."""
    import numpy as np
    from fileconvert_spark.operators.multimodal import (
        _decode_media, encode_gif_gray,
    )

    rng = np.random.Generator(np.random.PCG64(5))
    img = [rng.integers(0, 256, size=(6, 7), dtype=np.uint8)
           for _ in range(2)]
    blob = encode_gif_gray(img)
    want = np.concatenate([f.ravel() for f in img])

    truncated = blob[: min(cut, len(blob) - 1)]
    try:
        _, _, f, px = _decode_media(truncated)
        # acceptable only if the cut fell after a complete frame set:
        # every returned frame must be bit-exact
        assert f >= 1 and np.array_equal(px, want[: px.size])
    except (ValueError, NotImplementedError):
        pass

    p = min(pos, len(blob) - 1)
    flipped = blob[:p] + bytes([blob[p] ^ xor]) + blob[p + 1:]
    try:
        gw, gh, f, px = _decode_media(flipped)
        # GIF carries no checksums, so a header flip can legitimately
        # decode at different declared dims — but the result must be
        # internally consistent (whole frames of the declared size),
        # never a torn buffer
        assert px.size == f * gw * gh
    except (ValueError, NotImplementedError):
        pass


# runs of one repeated 8-byte symbol: the best case FSST can reach, where
# every code byte stands for a full MAX_SYMBOL_LEN-byte symbol
_symbol_runs = st.builds(
    lambda sym, reps, tail: sym * reps + tail,
    st.text(alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
            min_size=8, max_size=8),
    st.integers(0, 200), st.text(max_size=3))


@settings(max_examples=80, deadline=None)
@given(st.lists(st.one_of(text_value, _symbol_runs), max_size=60),
       st.booleans())
def test_fsst_output_never_below_symbol_length_bound(strs, reuse_table):
    """Selection prunes segment-dictionary trials on the bound
    fsst bytes >= raw_bytes / MAX_SYMBOL_LEN; it must hold for any input,
    trained or reused table, and for the sampled ratio estimate."""
    from fileconvert_spark.functions import fsst

    arr = pa.array(strs, type=pa.string())
    _, raw = codecs._string_buffers(arr)
    table = fsst.train("".join(strs).encode(),
                       lengths=[len(s.encode()) for s in strs]) \
        if reuse_table and raw else None
    payload, table_blob = fsst.fsst_encode_array(arr, table)
    assert all(len(s) <= fsst.MAX_SYMBOL_LEN
               for s in fsst.deserialize_table(table_blob))
    _, hdr = fsst.fsst_payload_header(memoryview(payload))
    assert len(payload) - hdr >= raw / fsst.MAX_SYMBOL_LEN
    ratio, _tbl = fsst.estimate_ratio(arr, 64, table=table)
    assert ratio >= 1 / fsst.MAX_SYMBOL_LEN
