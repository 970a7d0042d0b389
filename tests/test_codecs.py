"""Codec unit tests (no Spark): roundtrip identity on edges + seeded sweep.

Mirrors the reference's round-trip conversion test strategy (SURVEY.md §5.1:
FileConvert's correctness definition is convert->convert-back->equality;
cited via BASELINE.json line 6) at per-codec granularity.
"""

import hashlib

import numpy as np
import pyarrow as pa
import pytest

from fileconvert_spark.functions import codecs, fsst
from fileconvert_spark.functions.bitpack import (
    pack_uints, str_blob_decode, str_blob_encode, unpack_uints,
)

STR_CASES = {
    "empty": [],
    "single": ["hello"],
    "all_equal": ["same"] * 100,
    "all_distinct": [f"value-{i}" for i in range(200)],
    "sorted": sorted(f"k{i:05d}" for i in range(300)),
    "unicode": ["π≈3.14 — ✓", "héllo wörld", "日本語テキスト", "🎉🎊", ""],
    "zero_and_big": ["", "x" * (1 << 20), "", "y"],
    "crlf_tab": ["a\r\nb\tc", "line1\nline2\r\n", "\n\n\n", "\t"],
    "paths": [f"src/lib/internal/mod{i % 7}/file_{i}.py" for i in range(500)],
    "hex": [hashlib.sha1(str(i // 25).encode()).hexdigest() for i in range(500)],
    "multiline": ["\n".join(f"line {j % 9}" for j in range(i % 50)) for i in range(200)],
    "runs": ["a"] * 50 + ["b"] * 30 + ["c"] * 20,
}

INT_CASES = {
    "empty": np.array([], dtype=np.int64),
    "single": np.array([42], dtype=np.int64),
    "all_equal": np.full(100, 7, dtype=np.int64),
    "sorted": np.arange(1000, dtype=np.int64) * 3 + 11,
    "reverse": -np.arange(500, dtype=np.int64),
    "negative": np.array([-(2**62), -1, 0, 1, 2**62], dtype=np.int64),
    "bit_bounds": np.array([0, 1, (1 << 7) - 1, (1 << 8) - 1, (1 << 31) - 1,
                            (1 << 32) - 1, (1 << 63) - 1, -(1 << 63)], dtype=np.int64),
    "runs": np.repeat(np.array([5, -3, 5, 100], dtype=np.int64), [40, 30, 20, 10]),
    "low_card": np.array([10**12, 2 * 10**12, 10**12] * 100, dtype=np.int64),
}


def test_bitpack_widths():
    rng = np.random.default_rng(42)
    for width in [1, 2, 7, 8, 13, 31, 32, 47, 63, 64]:
        hi = (1 << width) - 1
        vals = rng.integers(0, hi, size=257, dtype=np.uint64, endpoint=True)
        vals[0], vals[1] = 0, hi
        out = unpack_uints(pack_uints(vals, width), width, len(vals))
        assert (out == vals).all(), f"width {width}"


def test_str_blob_roundtrip():
    for name, strs in STR_CASES.items():
        arr = pa.array(strs, type=pa.string())
        assert str_blob_decode(str_blob_encode(arr)).equals(arr), name


@pytest.mark.parametrize("codec", list(codecs.STR_CODECS))
@pytest.mark.parametrize("case", list(STR_CASES))
def test_str_codec_roundtrip(codec, case):
    arr = pa.array(STR_CASES[case], type=pa.string())
    if codec == "hex" and not codecs._hex_eligible(arr):
        pytest.skip("hex codec requires even-length single-case hex values; "
                    "selection only picks it after _hex_eligible")
    enc, dec = codecs.STR_CODECS[codec]
    payload, dict_blob, meta = enc(arr)
    out = dec(payload, dict_blob, meta, len(arr))
    assert out.cast(pa.string()).equals(arr), f"{codec}/{case}"


@pytest.mark.parametrize("codec", list(codecs.INT_CODECS))
@pytest.mark.parametrize("case", list(INT_CASES))
def test_int_codec_roundtrip(codec, case):
    vals = INT_CASES[case]
    if codec == "delta" and case in ("negative", "bit_bounds"):
        pytest.skip("delta overflows int64 on full-range diffs by design; "
                    "selection never picks delta there (width check)")
    enc, dec = codecs.INT_CODECS[codec]
    payload, dict_blob, meta = enc(vals)
    out = dec(payload, dict_blob, meta, len(vals))
    assert (np.asarray(out) == vals).all(), f"{codec}/{case}"


def test_random_sweep_str():
    rng = np.random.default_rng(42)
    vocab = [f"w{i}" for i in range(50)]
    for trial in range(25):
        n = int(rng.integers(0, 400))
        kind = trial % 3
        if kind == 0:
            strs = [vocab[int(rng.integers(0, len(vocab)))] for _ in range(n)]
        elif kind == 1:
            strs = ["".join(chr(int(rng.integers(32, 0x2FFF)))
                            for _ in range(int(rng.integers(0, 30)))) for _ in range(n)]
        else:
            strs = ["\n".join(vocab[int(rng.integers(0, len(vocab)))]
                              for _ in range(int(rng.integers(0, 20)))) for _ in range(n)]
        arr = pa.array(strs, type=pa.string())
        codec, payload, dict_blob, meta = codecs.select_and_encode_str(arr)
        out = codecs.decode_str(codec, payload, dict_blob, meta, n)
        assert out.cast(pa.string()).equals(arr), f"trial {trial} codec {codec}"


def test_random_sweep_int():
    rng = np.random.default_rng(7)
    for trial in range(25):
        n = int(rng.integers(0, 500))
        kind = trial % 4
        if kind == 0:
            vals = rng.integers(-100, 100, size=n).astype(np.int64)
        elif kind == 1:
            vals = np.sort(rng.integers(0, 10**12, size=n).astype(np.int64))
        elif kind == 2:
            vals = np.repeat(rng.integers(0, 5, size=max(n // 10, 1)).astype(np.int64), 10)[:n]
        else:
            vals = rng.integers(-(2**40), 2**40, size=n).astype(np.int64)
        codec, payload, dict_blob, meta = codecs.select_and_encode_int(vals)
        out = codecs.decode_int(codec, payload, dict_blob, meta, len(vals))
        assert len(np.asarray(out)) == len(vals)
        assert (np.asarray(out) == vals).all(), f"trial {trial} codec {codec}"


# ---------------------------------------------------------------- selection

def test_selection_constant_prefers_rle_or_dict():
    arr = pa.array(["const"] * 5000)
    codec, payload, dict_blob, meta = codecs.select_and_encode_str(arr)
    assert codec in ("rle", "dict")
    size = len(payload) + len(dict_blob or b"")
    assert size < 200  # 5000 identical strings in a handful of bytes


def test_selection_low_cardinality_prefers_dict():
    langs = ["py", "js", "java"] * 2000
    rng = np.random.default_rng(0)
    rng.shuffle(langs)
    codec, payload, dict_blob, meta = codecs.select_and_encode_str(pa.array(langs))
    assert codec == "dict"


def test_selection_sorted_ints_prefers_delta_or_rle():
    vals = np.arange(10000, dtype=np.int64) + 10**15
    codec, payload, _, meta = codecs.select_and_encode_int(vals)
    assert codec == "delta"
    assert len(payload) < 100  # constant delta packs to ~0 bits


def test_selection_paths_beats_raw_via_fsst():
    arr = pa.array([f"src/lib/internal/handler{i}.py" for i in range(4000)])
    codec, payload, dict_blob, meta = codecs.select_and_encode_str(arr)
    size = len(payload) + len(dict_blob or b"")
    _, raw_bytes = codecs._string_buffers(arr)
    assert size < raw_bytes * 0.6, (codec, size, raw_bytes)


def test_selection_templated_text_prefers_linedict():
    pool = [f"import module_{i}" for i in range(30)]
    rng = np.random.default_rng(3)
    texts = ["\n".join(pool[int(rng.integers(0, 30))] for _ in range(80))
             for _ in range(500)]
    arr = pa.array(texts)
    codec, payload, dict_blob, meta = codecs.select_and_encode_str(arr)
    assert codec == "linedict", codec
    size = len(payload) + len(dict_blob or b"")
    _, raw_bytes = codecs._string_buffers(arr)
    assert size < raw_bytes * 0.3, (size, raw_bytes)


def test_enc_never_bigger_than_raw_plus_eps():
    rng = np.random.default_rng(9)
    strs = ["".join(chr(int(rng.integers(33, 0x500))) for _ in range(40))
            for _ in range(300)]
    arr = pa.array(strs)
    codec, payload, dict_blob, meta = codecs.select_and_encode_str(arr)
    _, raw_bytes = codecs._string_buffers(arr)
    size = len(payload) + len(dict_blob or b"")
    assert size <= raw_bytes + len(arr) * 4 + 64


def test_fsst_table_roundtrip():
    table = fsst.train(b"hello world hello world abcabcabc")
    assert fsst.deserialize_table(fsst.serialize_table(table)) == table


def test_fsst_split_width_ways_hold_prefix_family():
    """r4 regression pin: three length>=3 symbols sharing a 3-byte prefix
    must ALL be matchable — way A keys on 3 bytes (3-byte symbols' only
    home), way B on 4 bytes, so same-k3 families separate by byte 4.
    Under same-width ways (r3) the third family member was always
    dropped."""
    import numpy as np

    fam = [b"/test_qq", b"/teAB", b"/te"]  # k3 '/te' shared; k4s differ
    table = fam + [bytes([b]) for b in sorted(set(b"".join(fam)))]
    buf = b"".join(fam)
    lengths = np.array([len(s) for s in fam], dtype=np.int64)
    bl, bc = fsst._match_all_positions(
        np.frombuffer(buf, dtype=np.uint8), lengths, table)
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    for s, pos in zip(fam, starts):
        assert bl[pos] == len(s), (s, bl[pos])
        assert table[bc[pos]] == s
    # and the encode/decode round trip agrees end-to-end
    import pyarrow as pa

    arr = pa.array([f.decode() for f in fam] * 50, type=pa.string())
    payload, tb = fsst.fsst_encode_array(arr, table)
    assert fsst.fsst_decode_array(payload, tb).equals(arr)


def test_selection_pathdict_for_paths():
    """Path-like columns (unique values, low-cardinality '/'-separated
    components) must pick the segment dictionary over FSST."""
    import pyarrow as pa

    dirs = ["src", "lib", "test", "docs", "pkg"]
    names = [f"file{i}.py" for i in range(40)]
    paths = [f"{dirs[i % 5]}/{dirs[(i // 5) % 5]}/mod{i % 97}/{names[i % 40]}"
             for i in range(5000)]
    arr = pa.array(paths, type=pa.string())
    codec, payload, dict_blob, meta = codecs.select_and_encode_str(arr)
    assert codec == "pathdict", codec
    out = codecs.decode_str(codec, payload, dict_blob, meta, len(arr))
    assert out.cast(pa.string()).equals(arr)
    _, raw = codecs._string_buffers(arr)
    assert len(payload) + len(dict_blob or b"") < 0.5 * raw


def test_pathdict_no_separator_falls_back():
    """Values without '/' must never pick pathdict (pure overhead)."""
    import pyarrow as pa

    arr = pa.array([f"{i:040x}" for i in range(3000)], type=pa.string())
    codec, payload, dict_blob, meta = codecs.select_and_encode_str(arr)
    assert codec != "pathdict", codec
    out = codecs.decode_str(codec, payload, dict_blob, meta, len(arr))
    assert out.cast(pa.string()).equals(arr)


def test_hex_codec_roundtrip_and_selection():
    """Hash-like columns: unique hex strings pick the hex codec at exactly
    2 chars/byte; mixed case or odd lengths fall back."""
    import hashlib

    import pyarrow as pa

    vals = [hashlib.sha1(str(i).encode()).hexdigest() for i in range(3000)]
    arr = pa.array(vals, type=pa.string())
    codec, payload, dict_blob, meta = codecs.select_and_encode_str(arr)
    assert codec == "hex", codec
    out = codecs.decode_str(codec, payload, dict_blob, meta, len(arr))
    assert out.cast(pa.string()).equals(arr)
    _, raw = codecs._string_buffers(arr)
    assert len(payload) < 0.6 * raw

    # uppercase variant
    arr_up = pa.array([v.upper() for v in vals[:500]], type=pa.string())
    c2, p2, d2, m2 = codecs.select_and_encode_str(arr_up)
    out2 = codecs.decode_str(c2, p2, d2, m2, len(arr_up))
    assert out2.cast(pa.string()).equals(arr_up)

    # a single non-hex value disqualifies the chunk, roundtrip still exact
    dirty = pa.array(vals[:100] + ["not-hex!"], type=pa.string())
    c3, p3, d3, m3 = codecs.select_and_encode_str(dirty)
    assert c3 != "hex"
    out3 = codecs.decode_str(c3, p3, d3, m3, len(dirty))
    assert out3.cast(pa.string()).equals(dirty)


def test_hex_blob_inside_dict_codec():
    """Repeated hex values: dict wins, and the unique-value blob hex-packs
    (commits: few uniques, many references)."""
    import hashlib

    import pyarrow as pa

    uniq = [hashlib.sha1(str(i).encode()).hexdigest() for i in range(200)]
    vals = [uniq[i % 200] for i in range(20000)]
    arr = pa.array(vals, type=pa.string())
    codec, payload, dict_blob, meta = codecs.select_and_encode_str(arr)
    assert codec == "dict", codec
    assert dict_blob[0] == 2  # _BLOB_HEX
    out = codecs.decode_str(codec, payload, dict_blob, meta, len(arr))
    assert out.cast(pa.string()).equals(arr)


def test_fsst_two_byte_symbol_never_crosses_string_boundary():
    """A 2-byte symbol whose bytes straddle two adjacent strings must NOT
    match at the first string's final byte (the combined 2-byte LUT reads
    the next string's byte there); the encoder must fall back to the
    1-byte symbol and decode exactly."""
    import pyarrow as pa

    from fileconvert_spark.functions import fsst

    # table trained so that 'ab' is a symbol and 'a','b' singles exist
    sample = b"ab" * 64
    table = fsst.train(sample, lengths=[2] * 64)
    assert b"ab" in table and b"a" in table and b"b" in table
    # 'xa' ends in 'a'; the NEXT string starts with 'b' -> window sees 'ab'
    arr = pa.array(["xa", "by", "ab", "a"], type=pa.string())
    payload, blob = fsst.fsst_encode_array(arr, table)
    dec = fsst.fsst_decode_array(payload, blob)
    assert dec.equals(arr)


def test_fsst_walk_seg_chop_is_transparent(monkeypatch):
    """Chopping long strings for the walk must not change decoded values
    (only possibly the encoded size), including exactly-at-cut symbols."""
    import pyarrow as pa

    from fileconvert_spark.functions import fsst

    text = "the quick brown fox jumps over the lazy dog " * 200  # ~9 KB
    arr = pa.array([text, text[: fsst._WALK_SEG], "x" * fsst._WALK_SEG * 3],
                   type=pa.string())
    table = fsst.train(text.encode()[:16384], lengths=[len(text.encode())])
    p1, b1 = fsst.fsst_encode_array(arr, table)
    monkeypatch.setattr(fsst, "_WALK_SEG", 128)
    p2, b2 = fsst.fsst_encode_array(arr, table)
    assert fsst.fsst_decode_array(p1, b1).equals(arr)
    assert fsst.fsst_decode_array(p2, b2).equals(arr)


@pytest.mark.parametrize("sep", ["\n", "/"])
def test_count_byte_matches_count_substring(sep):
    import pyarrow.compute as pc

    vals = ["a/b\nc", "π/≈\n✓", "日本/語\n\n", "", "🎉/🎊/", "//\n/",
            "no separators", "é" * 40 + "/\n" * 3]
    base = pa.array(vals * 7, type=pa.string())
    cases = [
        base,
        base.slice(3),                       # offset > 0
        base.slice(5, 17),                   # offset > 0, short tail
        base.slice(4, 1),                    # single empty string
        pa.array([], type=pa.string()),
        pa.array(["", "", ""], type=pa.string()),  # no value bytes
        pa.array(["", "", "a/\n"], type=pa.string()).slice(0, 2),
        pa.array(vals, type=pa.large_string()),
    ]
    for arr in cases:
        want = pc.sum(pc.count_substring(arr, sep)).as_py() or 0
        assert codecs._count_byte(arr, sep) == want, (arr, sep)


def test_pathdict_trial_pruned_on_multiline_content(monkeypatch):
    """On codefiles content, linedict's estimate beats the exact lower
    bound of the '/'-segment trial, so only linedict is packed and
    FSST-estimated; the chunk still selects linedict."""
    from fileconvert_spark.corpus import make_codefiles

    packed = []
    real_pack = codecs._sepdict_pack
    monkeypatch.setattr(codecs, "_sepdict_pack",
                        lambda pre: packed.append(pre["sep"]) or real_pack(pre))
    content = pa.array(make_codefiles(8000, seed=411)["content"][:500],
                       type=pa.string())
    assert codecs._count_byte(content, "/") >= len(content)
    codec, *_ = codecs.select_and_encode_str(content)
    assert codec == "linedict"
    assert packed == ["\n"]
