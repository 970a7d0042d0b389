"""Byte-identity regression for string codec selection.

``select_and_encode_str`` skips segment-dictionary trials whose exact
lower bound already loses and counts separators with one NumPy byte
count. Neither may change a single encoded byte: this test runs
selection over a seeded codefiles corpus and over the sf0.001 string
columns in worker order (chunks in sequence, columns in table order,
one shared ``FsstTableCache``, cache key = column name, as
``encode_chunk_table`` does) and pins a sha256 over every (column,
codec, payload, dict, meta).

The pinned digests were generated on commit 7947966, before the trial
pruning existed, and pass unchanged on both that commit and this one.
Each digest is also checked with the compiled kernels switched off
(FCS_NO_NATIVE=1): the Arrow/NumPy paths must select and write the same
bytes.
"""

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fileconvert_spark.functions import codecs

from .conftest import sf_dir

CODEFILES_DIGEST = \
    "6c1c473c1ce0542d1d3c16b946a02e9b0106172bc3e8eed3cce88e17ed9f2af3"
SF_DIGEST = \
    "183134be11ca60c52c6904fa9a8b4b518cc27e9da3de987ba124a200b1da0648"


def _selection_digest(tables: list[pa.Table], chunk_rows: int) -> str:
    cache = codecs.FsstTableCache()
    h = hashlib.sha256()
    for tbl in tables:
        for start in range(0, tbl.num_rows, chunk_rows):
            chunk = tbl.slice(start, chunk_rows)
            for col in chunk.column_names:
                arr = chunk.column(col)
                if not (pa.types.is_string(arr.type)
                        or pa.types.is_large_string(arr.type)):
                    continue
                clean = arr.combine_chunks().drop_null()
                if pa.types.is_large_string(clean.type):
                    clean = clean.cast(pa.string())
                codec, payload, dict_blob, meta = \
                    codecs.select_and_encode_str(clean, cache=cache,
                                                 cache_key=col)
                for part in (col.encode(), codec.encode(), payload,
                             dict_blob or b"",
                             json.dumps(meta, sort_keys=True).encode()):
                    h.update(len(part).to_bytes(8, "little"))
                    h.update(part)
    return h.hexdigest()


def test_codefiles_selection_digest_pinned():
    _check_codefiles_digest()


def test_codefiles_selection_digest_pinned_without_native(monkeypatch):
    monkeypatch.setenv("FCS_NO_NATIVE", "1")
    _check_codefiles_digest()


def test_sf_string_selection_digest_pinned():
    _check_sf_digest()


def test_sf_string_selection_digest_pinned_without_native(monkeypatch):
    monkeypatch.setenv("FCS_NO_NATIVE", "1")
    _check_sf_digest()


def _check_codefiles_digest() -> None:
    from fileconvert_spark.corpus import make_codefiles

    pdf = make_codefiles(8000, seed=411)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    assert _selection_digest([tbl], chunk_rows=500) == CODEFILES_DIGEST


def _check_sf_digest() -> None:
    d = sf_dir("sf0.001")
    if not os.path.isdir(d):
        pytest.skip("testdata missing")
    tables = [pq.read_table(os.path.join(d, f))
              for f in sorted(os.listdir(d)) if f.endswith(".parquet")]
    assert _selection_digest(tables, chunk_rows=4096) == SF_DIGEST
