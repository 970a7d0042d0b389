"""Part dictionary-page consolidation (consolidate_part_dicts):
profit gating, roundtrip through decode_table, predicate pruning with
pages present, and page-integrity failure modes."""

import json
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from fileconvert_spark.operators.encode import (
    PAGE_CHUNK_ID,
    PAGE_CODEC,
    consolidate_part_dicts,
    decode_column,
)


def _fam_rows(spark_free_texts, n_chunks=3):
    """Encode a synthetic column into enc rows with heavy cross-chunk
    dictionary overlap (same line pool in every chunk)."""
    from fileconvert_spark.operators.encode import encode_column

    rows = []
    for cid, texts in enumerate(spark_free_texts):
        arr = pa.array(texts, type=pa.string())
        fields = encode_column(arr)
        fields.update({"part_id": 7, "chunk_id": cid, "column": "text"})
        rows.append(fields)
    return rows


def _shared_line_chunks(n_chunks=3, rows_per=300):
    pool = [f"line number {i} with shared content" for i in range(40)]
    out = []
    for c in range(n_chunks):
        out.append(["\n".join(pool[(r + c + j) % 40] for j in range(25))
                    for r in range(rows_per)])
    return out


def test_consolidation_fires_on_overlapping_dicts():
    rows = _fam_rows(_shared_line_chunks())
    assert all(r["codec"] == "linedict" for r in rows)
    old_total = sum(r["enc_bytes"] for r in rows)
    new = consolidate_part_dicts(list(rows), 7)
    pages = [r for r in new if r["chunk_id"] == PAGE_CHUNK_ID]
    chunks = [r for r in new if r["chunk_id"] != PAGE_CHUNK_ID]
    assert len(pages) == 1 and pages[0]["codec"] == PAGE_CODEC
    assert pages[0]["dict"] is not None
    assert sum(r["enc_bytes"] for r in new) < old_total
    # payloads byte-identical (entropy coding is permutation-invariant
    # by construction here: streams are untouched)
    for old, newr in zip(rows, chunks):
        assert newr["payload"] == old["payload"]
        assert json.loads(newr["meta"])["dp"] == 1

    # decode through the page
    page_blob = pages[0]["dict"]
    for r in chunks:
        out = decode_column(r["codec"], r["payload"], r["dict"], r["meta"],
                            r["n_rows"], r["validity"],
                            expect_sha=r["sha256_chunk"],
                            page_dict=page_blob)
        assert len(out) == r["n_rows"]


def test_consolidation_skips_disjoint_dicts():
    # zero cross-chunk overlap: page == sum of dicts, maps are pure cost
    chunks = [[f"c{c}token{r}unique {r*7%13}\nsecond{c}_{r}"
               for r in range(400)] for c in range(3)]
    rows = _fam_rows(chunks)
    before = [dict(r) for r in rows]
    assert consolidate_part_dicts(rows, 7) is rows
    assert rows == before


def test_missing_page_raises():
    rows = _fam_rows(_shared_line_chunks())
    new = consolidate_part_dicts(list(rows), 7)
    chunk = next(r for r in new if r["chunk_id"] != PAGE_CHUNK_ID)
    with pytest.raises(Exception, match="dictpage row"):
        decode_column(chunk["codec"], chunk["payload"], chunk["dict"],
                      chunk["meta"], chunk["n_rows"], chunk["validity"],
                      expect_sha=chunk["sha256_chunk"])


def test_corrupt_page_raises():
    rows = _fam_rows(_shared_line_chunks())
    new = consolidate_part_dicts(list(rows), 7)
    page = next(r for r in new if r["chunk_id"] == PAGE_CHUNK_ID)
    chunk = next(r for r in new if r["chunk_id"] != PAGE_CHUNK_ID)
    bad = bytearray(page["dict"])
    bad[len(bad) // 2] ^= 0xFF
    with pytest.raises(Exception, match="sha mismatch"):
        decode_column(chunk["codec"], chunk["payload"], chunk["dict"],
                      chunk["meta"], chunk["n_rows"], chunk["validity"],
                      expect_sha=chunk["sha256_chunk"],
                      page_dict=bytes(bad))


@pytest.mark.parametrize("k", [200, 258])
def test_int_dict_chunks_not_consolidated(tmp_path, k):
    """An int column whose chunks pick the int ``dict`` codec (U32 k +
    FoR value blob) is not a string dictionary: the part writer must
    leave it out of page consolidation and every chunk must decode to
    its values. k = 258 puts 2 in the blob's first byte, the value that
    once passed for a string-blob flag and wrote undecodable chunks."""
    import numpy as np
    import pyarrow.parquet as pq

    from fileconvert_spark.operators.encode import decode_chunk
    from fileconvert_spark.plans.manifest import make_write_kernel

    rng = np.random.Generator(np.random.PCG64(k))
    uniq = rng.integers(0, 2**62, size=k, dtype=np.int64)
    vals = uniq[rng.integers(0, k, size=2 * 65536)]
    batches = [pa.RecordBatch.from_arrays(
        [pa.array(half), pa.array(np.zeros(len(half), dtype=np.int32))],
        names=["v", "bucket"]) for half in np.split(vals, 2)]
    out = str(tmp_path / "enc")
    list(make_write_kernel(out, chunk_rows=65536)(iter(batches)))

    rows = pq.read_table(os.path.join(out, "data", "part-00000.parquet")
                         ).to_pylist()
    pages = {r["column"]: r["dict"] for r in rows
             if r["chunk_id"] == PAGE_CHUNK_ID}
    chunks = sorted((r for r in rows if r["chunk_id"] != PAGE_CHUNK_ID),
                    key=lambda r: r["chunk_id"])
    assert [r["codec"] for r in chunks] == ["dict", "dict"]
    got = np.concatenate([decode_chunk({"v": r}, ["v"], pages)
                          .column(0).to_numpy() for r in chunks])
    assert np.array_equal(got, vals)


@pytest.fixture(scope="module")
def paged_table(spark, tmp_path_factory):
    """Encoded table whose layout forces multi-chunk parts so pages fire.
    A chunk is cut at an Arrow batch (at most 10000 rows in this session)
    once it holds ``chunk_rows``, and each bucket arrives as one run, so
    each of the two buckets must span more than one batch."""
    from fileconvert_spark.corpus import make_codefiles
    from fileconvert_spark.plans.manifest import encode_table

    out = str(tmp_path_factory.mktemp("pages") / "enc")
    df = spark.createDataFrame(make_codefiles(24000))
    encode_table(spark, df, out, n_buckets=2, resume=False,
                 chunk_rows=2048, cluster_by=("repo",))
    return df, out


def test_pages_present_and_roundtrip_narrow(spark, paged_table):
    from fileconvert_spark.operators.verify import assert_roundtrip
    from fileconvert_spark.plans.manifest import decode_table

    df, out = paged_table
    enc = spark.read.parquet(os.path.join(out, "data"))
    pages = enc.filter(F.col("chunk_id") == PAGE_CHUNK_ID)
    assert pages.filter(F.col("dict").isNotNull()).count() >= 1
    rep = assert_roundtrip(df, decode_table(spark, out),
                           ["repo", "path", "commit"])
    assert rep["value_mismatches"] == 0 and rep["sha_mismatches"] == 0


def test_decode_df_names_missing_page(spark, paged_table):
    """decode_df skips page rows, so a paged table's raw enc rows fail
    with a DecodeError naming the missing dictionary page — never
    silently wrong values. Only decode_table reads a part's pages."""
    from fileconvert_spark.operators.encode import decode_df

    df, out = paged_table
    enc = spark.read.parquet(os.path.join(out, "data"))
    with pytest.raises(Exception,
                       match=r"DecodeError[\s\S]*part dictionary page"):
        decode_df(enc, df.schema).collect()


def test_pages_survive_predicate_pruning(spark, paged_table):
    from fileconvert_spark.plans.manifest import decode_table

    df, out = paged_table
    repo = df.select("repo").first()["repo"]
    got = decode_table(spark, out, predicate=("repo", "=", repo))
    assert got.count() == df.filter(F.col("repo") == repo).count()
