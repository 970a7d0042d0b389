"""Spark integration: encode -> decode -> bit-identical, manifests, resume,
snappy-baseline gate (SURVEY.md §5.2.3)."""

import os

import pytest
from pyspark.sql import functions as F

from fileconvert_spark.operators.encode import decode_df, encode_df
from fileconvert_spark.operators.partitioning import plan_buckets
from fileconvert_spark.operators.verify import assert_roundtrip
from fileconvert_spark.plans.manifest import (
    decode_table,
    encode_table,
    read_all_manifests,
    scan_done_parts,
    snappy_baseline_bytes,
)

KEYS = ["repo", "path", "commit"]
SF = os.path.join(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"),
                  "sf0.001")


def test_encode_decode_in_memory(spark, corpus_df):
    enc = encode_df(corpus_df, chunk_rows=2048)
    dec = decode_df(enc, corpus_df.schema)
    report = assert_roundtrip(corpus_df, dec, KEYS)
    assert report["n_src"] == corpus_df.count()


def test_enc_schema_and_codecs(spark, corpus_df):
    enc = encode_df(corpus_df, chunk_rows=2048)
    rows = enc.groupBy("column", "codec").agg(F.sum("enc_bytes").alias("b")).collect()
    by_col = {}
    for r in rows:
        by_col.setdefault(r["column"], set()).add(r["codec"])
    # lang/repo are low-cardinality -> dictionary family everywhere
    assert by_col["lang"] <= {"dict", "rle", "raw"}
    assert "content" in by_col


def test_size_balanced_buckets(spark, corpus_df):
    n = 8
    dfb, info = plan_buckets(corpus_df, n)
    assert info["n_buckets"] == n
    sizes = (
        dfb.groupBy("bucket")
        .agg(F.sum(F.coalesce(F.length("content"), F.lit(0))).alias("b"))
        .collect()
    )
    loads = {r["bucket"]: r["b"] for r in sizes}
    assert set(loads) <= set(range(n))
    total = sum(loads.values())
    max_row = (
        corpus_df.agg(F.max(F.length("content")).alias("m")).collect()[0]["m"]
    )
    # Zipf-skewed input must still balance: max bucket <= fair share + one
    # indivisible row (the corpus has a single 2 MiB row) + 50% slack
    fair = total / n
    assert max(loads.values()) <= 1.5 * fair + max_row, (loads, fair, max_row)


def test_encode_table_job(spark, corpus_df, tmp_path):
    out = str(tmp_path / "enc")
    summary = encode_table(spark, corpus_df, out, n_buckets=8)
    assert summary["n_parts"] >= 1
    assert summary["n_rows"] == corpus_df.count()
    manifests = read_all_manifests(out)
    assert all(m["status"] == "done" for m in manifests)
    assert {m["part_id"] for m in manifests} == scan_done_parts(out)

    dec = decode_table(spark, out)
    assert_roundtrip(corpus_df, dec, KEYS)

    # size gate: engine bytes (actual parquet files, incl. all metadata)
    # must not exceed the reference Parquet/Snappy write of the same data
    baseline = snappy_baseline_bytes(corpus_df, str(tmp_path / "snappy"))
    engine_files = sum(
        os.path.getsize(os.path.join(out, "data", f))
        for f in os.listdir(os.path.join(out, "data"))
    )
    assert engine_files <= baseline, (engine_files, baseline)
    assert summary["enc_bytes"] <= baseline


def test_resume_skips_done_parts(spark, corpus_df, tmp_path):
    out = str(tmp_path / "enc")
    s1 = encode_table(spark, corpus_df, out, n_buckets=8)
    done_before = scan_done_parts(out)
    assert len(done_before) == s1["n_parts"]

    # simulate executor/job loss: drop half the manifests + their data
    victims = sorted(done_before)[: len(done_before) // 2]
    for pid in victims:
        os.remove(os.path.join(out, "manifests", f"part-{pid:05d}.json"))
        os.remove(os.path.join(out, "data", f"part-{pid:05d}.parquet"))

    s2 = encode_table(spark, corpus_df, out, n_buckets=8)
    assert s2["parts_skipped_resume"] == len(done_before) - len(victims)
    assert s2["parts_encoded_this_run"] == len(victims)
    assert scan_done_parts(out) == done_before

    dec = decode_table(spark, out)
    assert_roundtrip(corpus_df, dec, KEYS)


def test_resume_keeps_pinned_bucketing(spark, corpus_df, tmp_path):
    """Resume plans buckets with the key, salts and weight pinned in
    _meta.json, not with the caller's: bucketing a missing part by a
    different key would duplicate some rows and lose others."""
    from fileconvert_spark.plans import manifest as mf

    out = str(tmp_path / "enc")
    encode_table(spark, corpus_df, out, n_buckets=4, key_col="lang")
    victim = sorted(scan_done_parts(out))[0]
    os.remove(os.path.join(out, "data", f"part-{victim:05d}.parquet"))
    os.remove(os.path.join(out, "manifests", f"part-{victim:05d}.json"))
    os.remove(os.path.join(out, mf.MANIFEST_LIST))

    s2 = encode_table(spark, corpus_df, out, n_buckets=4)
    assert s2["parts_encoded_this_run"] == 1
    dec = decode_table(spark, out)
    assert dec.count() == corpus_df.count()
    assert dec.exceptAll(corpus_df).count() == 0
    assert corpus_df.exceptAll(dec).count() == 0


def test_torn_manifest_is_reencoded(spark, corpus_df, tmp_path):
    """A torn per-part manifest models an executor crash MID-JOB — in
    that state the consolidated manifest list does not exist yet (it is
    written only at completion), so the per-part scan governs."""
    from fileconvert_spark.plans.manifest import invalidate_manifest_list

    out = str(tmp_path / "enc")
    encode_table(spark, corpus_df, out, n_buckets=4)
    done = sorted(scan_done_parts(out))
    victim = done[0]
    invalidate_manifest_list(out)  # mid-job state: no completion rollup
    # torn write: truncated json must not count as done
    path = os.path.join(out, "manifests", f"part-{victim:05d}.json")
    with open(path, "w") as f:
        f.write('{"part_id": %d, "status": "do' % victim)
    assert victim not in scan_done_parts(out)
    s2 = encode_table(spark, corpus_df, out, n_buckets=4)
    assert s2["parts_encoded_this_run"] == 1
    dec = decode_table(spark, out)
    assert_roundtrip(corpus_df, dec, KEYS)


def test_manifest_list_fast_path_and_fallback(spark, corpus_df, tmp_path):
    """The completion-time manifest list (Iceberg pattern) answers
    scan_done_parts in one read; it vouches for parts while the data
    directory matches it exactly, and ANY data-file drift (the
    resume-relevant kind of damage) falls back to the per-part scan."""
    from fileconvert_spark.plans import manifest as mf

    out = str(tmp_path / "enc")
    encode_table(spark, corpus_df, out, n_buckets=4)
    assert os.path.exists(os.path.join(out, mf.MANIFEST_LIST))
    done = sorted(scan_done_parts(out))

    # 1. list vouches past a damaged PER-PART manifest when data is
    #    intact (completion already verified it — snapshot semantics)
    victim = done[0]
    ppath = os.path.join(out, "manifests", f"part-{victim:05d}.json")
    with open(ppath, "w") as f:
        f.write("{torn")
    assert victim in scan_done_parts(out)

    # 2. a MISSING data file invalidates the list (cross-check) and the
    #    per-part scan takes over — the torn manifest now also drops out
    os.remove(os.path.join(out, "data", f"part-{done[1]:05d}.parquet"))
    after = scan_done_parts(out)
    assert done[1] not in after and victim not in after

    # 3. resume re-encodes exactly the two damaged parts and rewrites a
    #    consistent list at completion
    s2 = encode_table(spark, corpus_df, out, n_buckets=4)
    assert s2["parts_encoded_this_run"] == 2
    assert sorted(scan_done_parts(out)) == done
    assert mf._load_manifest_list(out) is not None
    dec = decode_table(spark, out)
    assert_roundtrip(corpus_df, dec, KEYS)


def test_derived_int_columns_roundtrip(spark, corpus_df, tmp_path):
    """In-pipeline derived ints (FoR/delta targets) round-trip and agree
    with recomputation on the decoded data."""
    out = str(tmp_path / "enc_derived")
    derived = (
        corpus_df
        .withColumn("content_len",
                    F.coalesce(F.length("content"), F.lit(0)).cast("long"))
        .withColumn("n_lines",
                    F.size(F.split(F.coalesce(F.col("content"), F.lit("")),
                                   "\n")).cast("long")))
    encode_table(spark, derived, out, n_buckets=4)
    dec = decode_table(spark, out)
    assert "content_len" in dec.columns and "n_lines" in dec.columns
    bad = dec.filter(
        F.coalesce(F.length("content"), F.lit(0)).cast("long") != F.col("content_len")
    ).count()
    assert bad == 0
    # derived int columns should compress extremely well (FoR/delta/dict)
    mans = read_all_manifests(out)
    assert sum(m["n_rows"] for m in mans) == corpus_df.count()


def test_binary_columns_roundtrip(spark, tmp_path):
    """Opaque binary columns (multimodal payloads) encode/decode exactly."""
    from fileconvert_spark.operators.multimodal import synth_media_df

    media = synth_media_df(spark, n=64)
    out = str(tmp_path / "media_enc")
    encode_table(spark, media, out, n_buckets=4, key_col="kind",
                 salt_cols=("media_id",), weight_col="kind")
    dec = decode_table(spark, out)
    o, d = media.alias("o"), dec.alias("d")
    bad = (
        o.join(d, F.col("o.media_id") == F.col("d.media_id"), "full_outer")
        .filter(
            ~F.sha2(F.col("o.payload"), 256).eqNullSafe(F.sha2(F.col("d.payload"), 256))
            | ~F.col("o.kind").eqNullSafe(F.col("d.kind"))
        )
        .count()
    )
    assert bad == 0
    assert dec.count() == 64


def test_verify_catches_corruption(spark, corpus_df):
    """The hashed roundtrip report must detect mutated values, dropped rows
    and extra rows — not just pass on identity."""
    from fileconvert_spark.operators.verify import roundtrip_report

    first_path = corpus_df.select("path").first()["path"]
    hit = F.col("path") == first_path
    # content corruption lands in the DEDICATED sha channel (r8: the sha
    # column is no longer double-hashed into the row hash as well)
    mutated = corpus_df.withColumn(
        "content",
        F.when(hit, F.concat(F.col("content"), F.lit("X")))
        .otherwise(F.col("content")),
    )
    row = roundtrip_report(corpus_df, mutated, KEYS).collect()[0]
    assert row["sha_mismatches"] >= 1
    # a non-sha value column corruption lands in value_mismatches
    mutated2 = corpus_df.withColumn(
        "lang",
        F.when(hit, F.concat(F.col("lang"), F.lit("X")))
        .otherwise(F.col("lang")),
    )
    row = roundtrip_report(corpus_df, mutated2, KEYS).collect()[0]
    assert row["value_mismatches"] >= 1
    assert row["sha_mismatches"] == 0

    dropped = corpus_df.filter(F.col("lang").isNotNull())
    row = roundtrip_report(corpus_df, dropped, KEYS).collect()[0]
    assert row["missing"] >= 1


def test_documents_table_mixed_types(spark, tmp_path):
    """Engine generalizes beyond the corpus: int64/string mixed table."""
    sf = os.path.join(
        os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"), "sf0.001"
    )
    if not os.path.isdir(sf):
        pytest.skip("testdata missing")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    out = str(tmp_path / "docs_enc")
    encode_table(spark, docs, out, n_buckets=4, key_col="source",
                 salt_cols=("doc_id",), weight_col="text")
    dec = decode_table(spark, out)
    assert_roundtrip(docs, dec, ["doc_id"], sha_col="text")


def test_stale_data_cleared_when_meta_missing(spark, corpus_df, tmp_path):
    """resume=True with no _meta.json (fresh bucketing decision) must clear
    leftover part files from a previous, differently-bucketed table —
    otherwise foreign rows get merged into manifests and decode."""
    out = str(tmp_path / "enc")
    encode_table(spark, corpus_df, out, n_buckets=8)
    n_files_8 = len([f for f in os.listdir(os.path.join(out, "data"))
                     if f.endswith(".parquet")])
    assert n_files_8 > 4
    # previous table's identity is lost but its data/manifests linger
    os.remove(os.path.join(out, "_meta.json"))
    s = encode_table(spark, corpus_df, out, n_buckets=4, resume=True)
    assert s["parts_skipped_resume"] == 0
    files = [f for f in os.listdir(os.path.join(out, "data"))
             if f.endswith(".parquet")]
    assert len(files) <= 4
    dec = decode_table(spark, out)
    assert_roundtrip(corpus_df, dec, KEYS)
    assert dec.count() == corpus_df.count()  # no duplicated/foreign rows


def test_fsio_uri_and_atomic_semantics(tmp_path):
    """The fsio seam resolves file:// URIs and plain paths identically and
    write_bytes_atomic leaves no tmp litter on success."""
    from fileconvert_spark.plans import fsio

    d = str(tmp_path / "fs")
    fsio.makedirs(d)
    p = os.path.join(d, "x.json")
    fsio.write_bytes_atomic(p, b'{"a": 1}')
    assert fsio.read_bytes(p) == b'{"a": 1}'
    assert fsio.exists(p) and not fsio.exists(p + ".nope")
    assert fsio.listdir(d) == ["x.json"]
    assert fsio.getsize(p) == 8
    # file:// URI path reaches the same bytes
    assert fsio.read_bytes("file://" + p) == b'{"a": 1}'
    # no tmp leftovers
    assert not [f for f in os.listdir(d) if f.endswith(".tmp")]
    import pyarrow as pa
    t = pa.table({"a": [1, 2, 3]})
    pq_path = os.path.join(d, "t.parquet")
    size = fsio.write_parquet_atomic(t, pq_path, compression="none")
    assert size == os.path.getsize(pq_path)
    assert fsio.read_parquet(pq_path).equals(t)
    assert fsio.du_suffix(d, ".parquet") == size
    fsio.remove(pq_path)
    assert not fsio.exists(pq_path)


def test_decimal_columns_roundtrip(spark, tmp_path):
    """decimal128 round trip: precision<=18 rides the int codec family
    (unscaled int64), precision>18 falls back to 16-byte buffers; nulls,
    negatives, and >64-bit unscaled values included."""
    from decimal import Decimal

    rows = [
        (i,
         Decimal(f"{(-1)**i * i}.{i % 100:02d}"),
         Decimal("12345678901234567890.123456789") * (i - 500),
         Decimal("0.01") * i if i % 7 else None)
        for i in range(1000)
    ]
    df = spark.createDataFrame(
        rows,
        "id long, small decimal(12,2), big decimal(38,9), nul decimal(10,2)",
    )
    out = str(tmp_path / "enc_dec")
    encode_table(spark, df, out, n_buckets=2, key_col="id", salt_cols=(),
                 weight_col="small")
    dec = decode_table(spark, out)
    assert dict(dec.dtypes) == dict(df.dtypes)
    assert_roundtrip(df, dec, ["id"], sha_col=None)
    # codec check: small decimals must use the int family, big ones bytes
    mans = read_all_manifests(out)
    cm = {}
    for m in mans:
        for k, v in m["codec_map"].items():
            col, codec = k.split(":")
            cm.setdefault(col, set()).add(codec)
    assert cm["small"] & {"for", "delta", "dict", "rle_int", "raw_int"}, cm
    assert cm["big"] & {"fsst", "dict", "rle_str", "raw"}, cm


def test_multiset_verify_lineitem_no_unique_key(spark, tmp_path):
    """Tables without a unique key (lineitem) verify via the order-
    insensitive multiset fingerprint (closes NOTES_r1 item 5)."""
    from fileconvert_spark.operators.verify import (
        assert_multiset_roundtrip, multiset_roundtrip_report,
    )

    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    out = str(tmp_path / "enc_li")
    encode_table(spark, li, out, n_buckets=4, key_col="l_orderkey",
                 salt_cols=("l_linenumber",), weight_col="l_returnflag")
    dec = decode_table(spark, out)
    row = assert_multiset_roundtrip(li, dec)
    assert row["n_src"] == row["n_dec"] == li.count()

    # the fingerprint must catch a single corrupted value
    corrupted = dec.withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") == dec.first()["l_orderkey"],
               F.col("l_quantity") + 1).otherwise(F.col("l_quantity")),
    )
    bad = multiset_roundtrip_report(li, corrupted).collect()[0]
    assert not bad["fingerprint_match"]


def test_list_columns_roundtrip_job(spark, tmp_path):
    """Nested list columns (array<float> embeddings shape + ragged int
    lists with nulls) round-trip through the full encode_table/decode_table
    job, manifests included."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(5))
    rows = [
        (i,
         rng.standard_normal(8).astype(np.float32).tolist(),
         None if i % 13 == 0 else list(range(i % 5)))
        for i in range(2000)
    ]
    df = spark.createDataFrame(
        rows, "id long, vec array<float>, tags array<long>")
    out = str(tmp_path / "enc_list")
    encode_table(spark, df, out, n_buckets=4, key_col="id", salt_cols=(),
                 weight_col="id")
    dec = decode_table(spark, out)
    assert dict(dec.dtypes) == dict(df.dtypes)
    from pyspark.sql import functions as F2
    o, d = df.alias("o"), dec.alias("d")
    row = o.join(d, F2.col("o.id") == F2.col("d.id"), "full_outer").agg(
        F2.count(F2.col("o.id")).alias("n"),
        F2.sum(F2.col("o.vec").eqNullSafe(F2.col("d.vec")).cast("long"))
        .alias("vec_ok"),
        F2.sum(F2.col("o.tags").eqNullSafe(F2.col("d.tags")).cast("long"))
        .alias("tags_ok"),
    ).collect()[0]
    assert row["n"] == row["vec_ok"] == row["tags_ok"] == 2000


def test_struct_map_columns_roundtrip_job(spark, tmp_path):
    """struct and map columns round-trip through the full encode_table /
    decode_table job (recursive nested codec)."""
    rows = [
        (i,
         (i * 2, f"name{i % 5}", None if i % 4 == 0 else float(i)),
         {f"k{j}": f"v{i}_{j}" for j in range(i % 3)})
        for i in range(1500)
    ]
    df = spark.createDataFrame(
        rows,
        "id long, st struct<a: long, b: string, c: double>, "
        "mp map<string, string>",
    )
    out = str(tmp_path / "enc_nested")
    encode_table(spark, df, out, n_buckets=4, key_col="id", salt_cols=(),
                 weight_col="id")
    dec = decode_table(spark, out)
    assert dict(dec.dtypes) == dict(df.dtypes)
    o, d = df.alias("o"), dec.alias("d")
    row = o.join(d, F.col("o.id") == F.col("d.id"), "full_outer").agg(
        F.count(F.col("o.id")).alias("n"),
        F.sum(F.col("o.st").eqNullSafe(F.col("d.st")).cast("long"))
        .alias("st_ok"),
        F.sum(F.map_entries(F.col("o.mp"))
              .eqNullSafe(F.map_entries(F.col("d.mp"))).cast("long"))
        .alias("mp_ok"),
    ).collect()[0]
    assert row["n"] == row["st_ok"] == row["mp_ok"] == 1500


def test_encode_decode_via_file_uri(spark, corpus_df, tmp_path):
    """The whole job works when out_dir is a file:// URI — proving the
    fsio seam end-to-end (a cluster FS would differ only in scheme)."""
    out = "file://" + str(tmp_path / "enc_uri")
    s = encode_table(spark, corpus_df, out, n_buckets=4)
    assert s["n_parts"] >= 1
    dec = decode_table(spark, out)
    assert_roundtrip(corpus_df, dec, KEYS)
    s2 = encode_table(spark, corpus_df, out, n_buckets=4)
    assert s2["parts_skipped_resume"] == s["n_parts"]  # resume through URI


def test_edge_inputs_roundtrip(spark):
    """Empty table, all-null column, unicode incl. astral plane: all must
    round-trip through encode_df/decode_df."""
    from fileconvert_spark.operators.encode import decode_df, encode_df

    empty = spark.createDataFrame([], "id long, text string")
    assert decode_df(encode_df(empty, chunk_rows=128), empty.schema).count() == 0

    allnull = spark.createDataFrame([(1, None), (2, None)], "id long, text string")
    rows = sorted((r["id"], r["text"]) for r in
                  decode_df(encode_df(allnull, chunk_rows=128),
                            allnull.schema).collect())
    assert rows == [(1, None), (2, None)]

    uni = spark.createDataFrame([(1, "héllo wörld 汉字 \U0001F680 tail")],
                                "id long, text string")
    assert decode_df(encode_df(uni, chunk_rows=128),
                     uni.schema).collect() == uni.collect()


def test_encode_job_balances_adversarial_skew(spark, tmp_path):
    """Job-level skew: ONE repo holding ~60% of all content bytes must be
    salted across buckets by the encode job itself — manifests show no
    bucket above 1.5x fair share + one row — and still round-trip."""
    import json as _json

    from fileconvert_spark.plans.manifest import decode_table, encode_table

    rows = []
    for i in range(400):
        rows.append((f"hot/repo", f"src/f{i}.py", f"{i:08x}" * 5, "py",
                     f"hot line {i} " * 200))          # ~2.4 KB each
    for i in range(600):
        rows.append((f"repo{i % 40}", f"lib/g{i}.py", f"{i:08x}" * 5, "py",
                     f"cold line {i} " * 50))          # ~0.7 KB each
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    out = str(tmp_path / "enc")
    encode_table(spark, df, out, n_buckets=8, key_col="repo",
                 salt_cols=("path",), weight_col="content")
    mans = []
    mdir = os.path.join(out, "manifests")
    for f in os.listdir(mdir):
        if f.endswith(".json") and f.startswith("part-"):
            mans.append(_json.loads(open(os.path.join(mdir, f)).read()))
    assert mans, os.listdir(mdir)
    loads = {m["part_id"]: m["raw_bytes"] for m in mans}
    fair = sum(loads.values()) / len(loads)
    assert max(loads.values()) <= 1.5 * fair + 4096, loads

    dec = decode_table(spark, out)
    assert dec.count() == df.count()
    o, d = df.alias("o"), dec.alias("d")
    bad = (o.join(d, (F.col("o.repo") == F.col("d.repo"))
                  & (F.col("o.path") == F.col("d.path")), "full_outer")
           .filter(~F.col("o.content").eqNullSafe(F.col("d.content")))
           .count())
    assert bad == 0


def test_sampled_bucket_plan_balances_and_is_deterministic(spark, corpus_df):
    """A 25% stats sample must (a) produce byte-identical bucket
    assignments across two invocations on the same input (resume depends
    on it) and (b) still balance the Zipf-skewed corpus within the same
    bound as the exact plan."""
    n = 8
    d1, _ = plan_buckets(corpus_df, n, stats_sample_fraction=0.25)
    d2, _ = plan_buckets(corpus_df, n, stats_sample_fraction=0.25)
    def fp(d):  # order-insensitive assignment fingerprint (xor, no overflow)
        return d.select(F.xxhash64("path", "commit", "bucket").alias("h")) \
            .agg(F.expr("bit_xor(h)")).collect()[0][0]

    h1, h2 = fp(d1), fp(d2)
    assert h1 == h2

    loads = {r["bucket"]: r["b"] for r in
             d1.groupBy("bucket")
             .agg(F.sum(F.coalesce(F.length("content"), F.lit(0))).alias("b"))
             .collect()}
    total = sum(loads.values())
    max_row = corpus_df.agg(
        F.max(F.length("content")).alias("m")).collect()[0]["m"]
    assert max(loads.values()) <= 1.5 * (total / n) + max_row, loads


def test_decode_projection(spark, corpus_df, tmp_path):
    """Column pruning on the engine's own format: decoding a 2-column
    projection must return exactly those columns and reject unknown
    names."""
    out = str(tmp_path / "enc_proj")
    encode_table(spark, corpus_df, out, n_buckets=4)

    dec = decode_table(spark, out, columns=["path", "content"])
    assert dec.columns == ["path", "content"]
    o = corpus_df.select("path", "content").alias("o")
    d = dec.alias("d")
    bad = (o.join(d, F.col("o.path") == F.col("d.path"), "full_outer")
           .filter(~F.col("o.content").eqNullSafe(F.col("d.content")))
           .count())
    assert bad == 0

    with pytest.raises(ValueError, match="unknown columns"):
        decode_table(spark, out, columns=["nope"])

    # layout pin (r4, adaptive since r5): for a part with >= 4 chunks,
    # every row group holds exactly ONE source column, so its `column`
    # statistics (min == max) let a projected decode skip non-selected
    # payload PAGES at the parquet layer instead of
    # reading-then-discarding them. A part with FEWER chunks collapses
    # to a single row group — there the page skip saves almost nothing
    # while the extra per-row-group footer metadata is a measurable
    # size_vs_snappy cost (VERDICT r4 item 3).
    import pyarrow.parquet as pq

    def first_part(enc_dir):
        return os.path.join(enc_dir, "data", sorted(
            f for f in os.listdir(os.path.join(enc_dir, "data"))
            if f.endswith(".parquet"))[0])

    # the default-chunked encode above: ~1 chunk per part -> single RG
    assert pq.ParquetFile(first_part(out)).metadata.num_row_groups == 1

    out_multi = str(tmp_path / "enc_proj_multi")
    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "250")
    try:
        # chunks form at arrow-batch granularity: 2000 rows/part in
        # 250-row batches -> 8 chunks/part >= 4 -> per-column row groups
        encode_table(spark, corpus_df, out_multi, n_buckets=4,
                     chunk_rows=250)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       old_batch)
    meta = pq.ParquetFile(first_part(out_multi)).metadata
    col_idx = next(i for i in range(meta.num_columns)
                   if meta.row_group(0).column(i).path_in_schema == "column")
    seen = []
    for rg in range(meta.num_row_groups):
        st = meta.row_group(rg).column(col_idx).statistics
        assert st.min == st.max, "row group spans multiple source columns"
        seen.append(st.min)
    assert sorted(seen) == sorted(set(seen)) and len(seen) >= 5
    # projection still exact on the multi-chunk layout
    dec = decode_table(spark, out_multi, columns=["path", "content"])
    assert dec.count() == corpus_df.count()


def test_bpe_token_counts_as_derived_engine_column(spark, corpus_df, tmp_path):
    """Tokenization integrates with the engine as a derived column: a
    trained-BPE token count rides through the int codecs and decodes to
    exactly the recomputed value."""
    from fileconvert_spark.functions.bpe import train_bpe
    from fileconvert_spark.functions.text import token_count_bpe_learned

    sample = [r["content"] or "" for r in
              corpus_df.orderBy("path").limit(64).select("content").collect()]
    merges = train_bpe(sample, n_merges=64)
    out = str(tmp_path / "enc_bpe")
    encode_table(
        spark, corpus_df.withColumn("n_tok_bpe", token_count_bpe_learned(
            F.coalesce(F.col("content"), F.lit("")), merges)),
        out, n_buckets=4)
    dec = decode_table(spark, out)
    bad = dec.filter(
        token_count_bpe_learned(F.coalesce(F.col("content"), F.lit("")),
                                merges) != F.col("n_tok_bpe")).count()
    assert bad == 0


def test_full_user_journey_csv_to_engine_and_back(spark, tmp_path):
    """The reference-replacement story end-to-end in one flow: CSV in ->
    parquet -> engine encode (manifests, resume-capable) -> decode ->
    values equal the CSV source -> pipeline operators run on the decoded
    frame -> CSV out."""
    from fileconvert_spark.functions.text import lang_id, token_count_ws
    from fileconvert_spark.sources.csv_convert import csv2parquet, parquet2csv

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    csv_in = str(tmp_path / "csv_in")
    pq_dir = str(tmp_path / "pq")
    enc_dir = str(tmp_path / "enc")
    csv_out = str(tmp_path / "csv_out")

    # 1. the reference's own surface: CSV <-> parquet
    parquet2csv(spark, os.path.join(SF, "documents.parquet"), csv_in)
    src = csv2parquet(spark, csv_in, pq_dir, schema=docs.schema)

    # 2. the engine: encode with lineage, decode bit-identically
    encode_table(spark, spark.read.parquet(pq_dir), enc_dir, n_buckets=4,
                 key_col="source", salt_cols=("doc_id",), weight_col="text",
                 stats_sample_fraction=0.5)
    dec = decode_table(spark, enc_dir)
    o, d = src.alias("o"), dec.alias("d")
    bad = (o.join(d, F.col("o.doc_id") == F.col("d.doc_id"), "full_outer")
           .filter(~F.col("o.text").eqNullSafe(F.col("d.text")))
           .count())
    assert bad == 0

    # 3. pipeline operators straight on the decoded frame
    stats = (dec.select(lang_id(F.col("text")).alias("lg"),
                        token_count_ws(F.col("text")).alias("tok"))
             .agg(F.count("*").alias("n"), F.sum("tok").alias("toks"))
             .collect()[0])
    assert stats["n"] == docs.count() and stats["toks"] > 0

    # 4. back out to CSV (the decode direction of the reference)
    parquet2csv(spark, enc_dir.replace("enc", "pq"), csv_out)
    back = csv2parquet(spark, csv_out, str(tmp_path / "pq2"),
                       schema=docs.schema)
    assert back.count() == docs.count()


def test_decode_table_detects_at_rest_corruption(spark, corpus_df, tmp_path):
    """VERDICT r3 item 5, end-to-end: flip one payload byte inside a part
    file on disk — decode must raise with the integrity error and the
    chunk context, never return wrong values silently."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from fileconvert_spark.plans.manifest import decode_table, encode_table

    enc_dir = str(tmp_path / "enc")
    encode_table(spark, corpus_df, enc_dir, n_buckets=2)
    part = os.path.join(enc_dir, "data", "part-00000.parquet")
    tbl = pq.read_table(part)
    payloads = tbl.column("payload").to_pylist()
    payloads[0] = payloads[0][:10] + bytes([payloads[0][10] ^ 0x20]) \
        + payloads[0][11:]
    tbl = tbl.set_column(tbl.schema.get_field_index("payload"), "payload",
                         pa.array(payloads, type=pa.binary()))
    pq.write_table(tbl, part, compression="none")

    with pytest.raises(Exception, match="integrity sha mismatch"):
        decode_table(spark, enc_dir).collect()


def test_decode_table_incomplete_chunk_raises(spark, corpus_df, tmp_path):
    """A part file that lost one column's row for one chunk fails with
    the incomplete-chunk error naming that column, not a bare KeyError."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import pytest

    from fileconvert_spark.plans.manifest import decode_table, encode_table

    enc_dir = str(tmp_path / "enc")
    encode_table(spark, corpus_df, enc_dir, n_buckets=2)
    part = os.path.join(enc_dir, "data", "part-00000.parquet")
    tbl = pq.read_table(part)
    drop = pc.and_(pc.equal(tbl["column"], "lang"),
                   pc.equal(tbl["chunk_id"], 0))
    assert pc.sum(drop.cast("int64")).as_py() == 1
    pq.write_table(tbl.filter(pc.invert(drop)), part, compression="none")

    with pytest.raises(Exception, match=r"incomplete chunk part_id=0 "
                       r"chunk_id=0 — missing encoded columns \['lang'\]"):
        decode_table(spark, enc_dir).collect()


def test_predicate_decode_reads_table_metadata_once(spark, corpus_df,
                                                    tmp_path, monkeypatch):
    """A predicate decode on a key-indexed table plans from ONE read each
    of _meta.json, _schema.json and the manifest list."""
    from collections import Counter

    from fileconvert_spark.plans import fsio
    from fileconvert_spark.plans.manifest import decode_table, encode_table

    out = str(tmp_path / "enc_ki")
    encode_table(spark, corpus_df, out, n_buckets=4,
                 key_index_cols=("path",))
    reads: Counter = Counter()
    real = fsio.read_bytes

    def counting(path):
        reads[os.path.basename(path)] += 1
        return real(path)

    monkeypatch.setattr(fsio, "read_bytes", counting)
    path = corpus_df.select("path").first()["path"]
    dec = decode_table(spark, out, predicate=("path", "=", path))
    assert {n: reads[n] for n in ("_meta.json", "_schema.json",
                                  "_manifest_list.json")} == {
        "_meta.json": 1, "_schema.json": 1, "_manifest_list.json": 1}
    assert dec.count() == corpus_df.filter(F.col("path") == path).count()


def test_zone_map_predicate_pushdown(spark, corpus_df, tmp_path):
    """Zone-map predicate decode returns EXACTLY the rows a plain filter
    on the source returns, for every supported op, on both a clustered
    column (repo — the bucketing key, prunes hard) and an unclustered
    one (lang — degrades to exact filtering, still correct)."""
    from fileconvert_spark.plans.manifest import decode_table, encode_table

    out = str(tmp_path / "enc_zone")
    encode_table(spark, corpus_df, out, n_buckets=8)

    some_repo = corpus_df.groupBy("repo").count().orderBy(
        F.desc("count")).first()["repo"]
    cases = [
        ("repo", "=", some_repo),
        ("repo", "<", "org2"),
        ("lang", "=", "py"),
        ("lang", ">=", "rs"),
    ]
    for col, op, val in cases:
        want = corpus_df.filter({
            "=": F.col(col) == val, "<": F.col(col) < val,
            ">=": F.col(col) >= val}[op]).count()
        got = decode_table(spark, out, predicate=(col, op, val)).count()
        assert got == want, (col, op, val, got, want)
        # projection + predicate together
        got2 = decode_table(spark, out, columns=["repo", "lang", col],
                            predicate=(col, op, val)).count()
        assert got2 == want

    # validation errors
    with pytest.raises(ValueError, match="unknown predicate column"):
        decode_table(spark, out, predicate=("nope", "=", 1))
    with pytest.raises(ValueError, match="not in"):
        decode_table(spark, out, predicate=("repo", "!=", "x"))
    with pytest.raises(ValueError, match="must be in the projection"):
        decode_table(spark, out, columns=["lang"], predicate=("repo", "=", "x"))


def test_zone_map_actually_prunes_chunks(spark, tmp_path):
    """On a value-clustered column the zone maps must prune: decode with
    a point predicate on a sorted int column reads far fewer chunks than
    a full decode (observed via the decoded-before-filter row count —
    the pruned decode materializes only matching chunks' rows)."""
    from fileconvert_spark.operators.encode import _zone_stats, encode_column
    from fileconvert_spark.plans.manifest import decode_table, encode_table

    import pyarrow as pa

    # stats exist and are exact for ints and bounded strings
    f = encode_column(pa.array([5, 1, 9, 3]))
    import json as _json

    assert _json.loads(f["meta"])["zs"] == [1, 9]
    f2 = encode_column(pa.array(["b", "a", "z"]))
    assert _json.loads(f2["meta"])["zs"] == ["a", "z"]
    f3 = encode_column(pa.array(["x" * 200, "y" * 200]))
    assert "zs" not in _json.loads(f3["meta"])  # unbounded -> no stats

    rows = [(i, i // 1000, f"doc {i} body") for i in range(8000)]
    df = spark.createDataFrame(rows, "doc_id long, grp long, text string")
    out = str(tmp_path / "enc_sorted")
    encode_table(spark, df, out, n_buckets=4,
                 key_col="grp", salt_cols=("doc_id",), weight_col="text",
                 chunk_rows=500, cluster_by=("doc_id",))
    pred = ("doc_id", "<", 500)
    got = decode_table(spark, out, predicate=pred)
    assert got.count() == 500
    # the same rows as the source filter, value-for-value
    src_ids = {r["doc_id"] for r in df.filter(F.col("doc_id") < 500)
               .select("doc_id").collect()}
    assert {r["doc_id"] for r in got.select("doc_id").collect()} == src_ids

    # the zone maps REALLY prune: with cluster_by the chunks are
    # doc_id-runs, so across all parts only a small fraction of chunks
    # can match doc_id < 500 (total rows kept by stats << total rows)
    from fileconvert_spark.plans import fsio
    from fileconvert_spark.plans.manifest import _pred_may_match

    kept = total = 0
    ddir = os.path.join(out, "data")
    for fn in os.listdir(ddir):
        if not fn.endswith(".parquet"):
            continue
        t = fsio.read_parquet(os.path.join(ddir, fn),
                              filters=[("column", "=", "doc_id")],
                              columns=["n_rows", "meta"])
        import json as _json

        for nr, mj in zip(t.column("n_rows").to_pylist(),
                          t.column("meta").to_pylist()):
            total += nr
            if _pred_may_match(_json.loads(mj).get("zs"), "<", 500):
                kept += nr
    assert total == 8000
    # chunk granularity follows the incoming Arrow batch size (the
    # kernel flushes whole sub-batches once >= chunk_rows accumulate),
    # so one kept chunk here spans ~2000 rows — still 75% of all rows
    # never decoded, and the win grows as chunks shrink relative to
    # value runs
    assert kept <= 2500, (kept, total)


def test_format_version_gates_decode_and_resume(spark, corpus_df, tmp_path):
    """ADVICE r4: a directory stamped with an older format version (or a
    legacy one with no stamp, i.e. the pre-r4 payload-only sha) must fail
    with a clear "format too old" error BEFORE integrity verification —
    never a "corrupted at rest" misattribution — on decode AND resume."""
    import json as _json

    import pytest

    from fileconvert_spark.plans import fsio
    from fileconvert_spark.plans.manifest import (
        FORMAT_VERSION, decode_table, encode_table,
    )

    out = str(tmp_path / "enc_ver")
    encode_table(spark, corpus_df, out, n_buckets=2)
    meta_path = os.path.join(out, "_meta.json")
    meta = _json.loads(fsio.read_bytes(meta_path))
    assert meta["format_version"] == FORMAT_VERSION

    # legacy directory: no stamp at all (rounds 1-3 wrote none)
    del meta["format_version"]
    fsio.write_bytes_atomic(meta_path, _json.dumps(meta).encode())
    with pytest.raises(ValueError, match="format version 1.*re-encode"):
        decode_table(spark, out)
    with pytest.raises(ValueError, match="format version 1.*re-encode"):
        encode_table(spark, corpus_df, out, n_buckets=2, resume=True)

    # a FUTURE version fails as reader-too-old, not re-encode
    meta["format_version"] = FORMAT_VERSION + 1
    fsio.write_bytes_atomic(meta_path, _json.dumps(meta).encode())
    with pytest.raises(ValueError, match="upgrade the engine"):
        decode_table(spark, out)

    # restored stamp decodes cleanly
    meta["format_version"] = FORMAT_VERSION
    fsio.write_bytes_atomic(meta_path, _json.dumps(meta).encode())
    assert decode_table(spark, out).count() == corpus_df.count()


def test_manifest_zone_pruning_drops_parts_at_driver(spark, tmp_path):
    """r5: part manifests carry part-level zone bounds, and a predicate
    decode prunes excluded parts at the DRIVER (Iceberg manifest
    pruning) — a 1024-part selective decode must not schedule 1024
    tasks. Exactness: the pruned decode returns the same rows as the
    source filter, and an all-excluding predicate returns zero rows."""
    import json as _json

    from fileconvert_spark.plans.manifest import (
        _pred_may_match, decode_table, encode_table, read_all_manifests,
    )

    rows = [(i, i // 1000, f"doc {i} body") for i in range(8000)]
    df = spark.createDataFrame(rows, "doc_id long, grp long, text string")
    out = str(tmp_path / "enc_manifest_zones")
    encode_table(spark, df, out, n_buckets=8,
                 key_col="grp", salt_cols=("doc_id",), weight_col="text",
                 cluster_by=("doc_id",))

    mans = read_all_manifests(out)
    assert len(mans) == 8
    # every manifest carries doc_id part bounds (cluster_by col + key)
    # as a capped list of merged intervals (hash-bucketed keys make a
    # single [min, max] envelope span the whole range and never prune)
    for m in mans:
        assert "doc_id" in m["zones"], m
        for lo, hi in m["zones"]["doc_id"]:
            assert 0 <= lo <= hi < 8000
        assert len(m["zones"]["doc_id"]) <= 32
    # the bounds actually separate parts: a selective predicate excludes
    # most parts at the manifest level
    kept = [m for m in mans
            if any(_pred_may_match(iv, "<", 500)
                   for iv in m["zones"]["doc_id"])]
    assert len(kept) < len(mans), [m["zones"]["doc_id"] for m in mans]

    got = decode_table(spark, out, predicate=("doc_id", "<", 500))
    assert got.count() == 500
    # all-excluding predicate: zero parts survive, zero rows, no error
    assert decode_table(spark, out,
                        predicate=("doc_id", "<", -1)).count() == 0


def test_merge_intervals_union_and_cap():
    """_merge_intervals must only ever GROW coverage (safe for
    may-match pruning), union overlaps, and respect the cap — for ints
    and strings alike."""
    from fileconvert_spark.plans.manifest import _merge_intervals

    assert _merge_intervals([[5, 9], [1, 3], [2, 4]]) == [[1, 4], [5, 9]]
    assert _merge_intervals([["a", "c"], ["b", "d"], ["x", "z"]]) == \
        [["a", "d"], ["x", "z"]]
    many = [[i * 10, i * 10 + 1] for i in range(100)]
    capped = _merge_intervals(many, cap=8)
    assert len(capped) <= 8
    # every original interval stays covered
    for lo, hi in many:
        assert any(c[0] <= lo and hi <= c[1] for c in capped), (lo, hi)
    assert _merge_intervals([[7, 7]]) == [[7, 7]]


def test_predicate_conjunction_decode(spark, tmp_path):
    """r5: decode_table accepts a LIST of predicates (AND) — every
    combination stays exact vs the equivalent source filter, and the
    part/chunk pruning applies each predicate independently."""
    from fileconvert_spark.plans.manifest import decode_table, encode_table

    rows = [(i, i // 1000, f"s{i % 4}", f"doc {i} body") for i in range(8000)]
    df = spark.createDataFrame(
        rows, "doc_id long, grp long, src string, text string")
    out = str(tmp_path / "enc_conj")
    encode_table(spark, df, out, n_buckets=8,
                 key_col="grp", salt_cols=("doc_id",), weight_col="text",
                 cluster_by=("doc_id",))

    cases = [
        [("doc_id", "<", 3000), ("grp", ">=", 1)],
        [("doc_id", ">=", 500), ("doc_id", "<", 1500)],   # range via AND
        [("src", "=", "s1"), ("doc_id", "<", 4000)],
        [("doc_id", "<", 100), ("grp", ">", 5)],           # empty result
    ]
    for preds in cases:
        want = df
        for col, op, val in preds:
            c = F.col(col)
            want = want.filter({"=": c == val, "<": c < val,
                                "<=": c <= val, ">": c > val,
                                ">=": c >= val}[op])
        got = decode_table(spark, out, predicate=preds)
        assert got.count() == want.count(), preds
    # single-triple form still works unchanged
    assert decode_table(spark, out,
                        predicate=("doc_id", "<", 10)).count() == 10


def test_multi_column_cluster_secondary_predicate(spark, tmp_path):
    """r6 (VERDICT item 5): cluster_by=(key, secondary) sorts the
    secondary WITHIN leading-key runs. A secondary-column predicate is
    always EXACT (zone maps only prune; the catalyst filter decides),
    and when leading-key runs span multiple chunks the secondary's
    chunk zsv lists become selective. The measured 10 GB number
    (BENCH/SCALE_r6.md) is honest about the limit: with chunk-sized
    key runs a low-selectivity secondary value touches every chunk and
    prunes NOTHING (0.93x) — one sort order serves its leading column;
    pick the leading key for the dominant read pattern (the Iceberg
    sort-order economics)."""
    from fileconvert_spark.plans.manifest import decode_table, encode_table

    langs = ["py", "js", "go", "rs"]
    rows = [(i, i // 2000, langs[(i // 500) % 4], f"doc {i} body")
            for i in range(8000)]
    df = spark.createDataFrame(
        rows, "doc_id long, grp long, lang string, text string")
    out = str(tmp_path / "enc_mc")
    encode_table(spark, df, out, n_buckets=4, chunk_rows=500,
                 key_col="grp", salt_cols=("doc_id",), weight_col="text",
                 cluster_by=("grp", "lang"))

    # secondary predicate: exact rows, never an error
    got = decode_table(spark, out, predicate=("lang", "=", "go"))
    assert got.count() == df.filter(F.col("lang") == "go").count()
    # leading + secondary conjunction stays exact
    got2 = decode_table(spark, out,
                        predicate=[("grp", "=", 1), ("lang", "=", "py")])
    want2 = df.filter((F.col("grp") == 1) & (F.col("lang") == "py"))
    assert got2.count() == want2.count()
    # both cluster columns carry manifest zone bounds (chunk-sized runs
    # here -> lang CAN prune chunks since 500-row chunks align with the
    # 500-row lang runs)
    import json as _json

    man = _json.loads(
        (tmp_path / "enc_mc" / "manifests" / "part-00000.json").read_text())
    assert "lang" in man["zones"] and "grp" in man["zones"]


def test_predicate_in_list_decode(spark, tmp_path):
    """r5: op "in" prunes parts/chunks via the same zone machinery
    (distinct-value lists make it exact on the clustered key) and stays
    value-exact vs the source isin filter — alone and in conjunction."""
    from fileconvert_spark.plans.manifest import decode_table, encode_table

    rows = [(i, i // 1000, f"doc {i} body") for i in range(8000)]
    df = spark.createDataFrame(rows, "doc_id long, grp long, text string")
    out = str(tmp_path / "enc_in")
    encode_table(spark, df, out, n_buckets=8,
                 key_col="grp", salt_cols=("doc_id",), weight_col="text",
                 cluster_by=("doc_id",))

    got = decode_table(spark, out, predicate=("grp", "in", [1, 5]))
    assert got.count() == df.filter(F.col("grp").isin(1, 5)).count()
    # empty-match IN
    assert decode_table(spark, out,
                        predicate=("grp", "in", [99])).count() == 0
    # conjunction with a range
    got2 = decode_table(spark, out, predicate=[
        ("grp", "in", [1, 5]), ("doc_id", ">=", 5200)])
    want2 = df.filter(F.col("grp").isin(1, 5) & (F.col("doc_id") >= 5200))
    assert got2.count() == want2.count()


def test_predicate_disjunction_decode(spark, tmp_path):
    """r6: OR predicates — ("or", [...]) composes with AND and IN over
    the same zone machinery; results stay exact vs the equivalent source
    filter, and part pruning keeps exactly the UNION of the branches'
    keeps (a part prunes only when every branch excludes it)."""
    from fileconvert_spark.plans.manifest import (
        _may_match_part, decode_table, encode_table, normalize_predicate,
        read_all_manifests,
    )

    rows = [(i, i // 1000, f"s{i % 4}", f"doc {i} body") for i in range(8000)]
    df = spark.createDataFrame(
        rows, "doc_id long, grp long, src string, text string")
    out = str(tmp_path / "enc_disj")
    encode_table(spark, df, out, n_buckets=8,
                 key_col="grp", salt_cols=("doc_id",), weight_col="text",
                 cluster_by=("doc_id",))

    def want(expr):
        return df.filter(expr).count()

    c = F.col
    cases = [
        # plain OR of two point ranges
        (("or", [("doc_id", "<", 300), ("doc_id", ">=", 7700)]),
         (c("doc_id") < 300) | (c("doc_id") >= 7700)),
        # AND-of-OR: (grp=1 OR grp=5) AND doc_id >= 5200
        ([("or", [("grp", "=", 1), ("grp", "=", 5)]),
          ("doc_id", ">=", 5200)],
         ((c("grp") == 1) | (c("grp") == 5)) & (c("doc_id") >= 5200)),
        # OR-of-IN with a range branch
        (("or", [("grp", "in", [2, 3]), ("doc_id", "<", 50)]),
         c("grp").isin(2, 3) | (c("doc_id") < 50)),
        # nested: OR containing an AND
        (("or", [[("doc_id", ">=", 1000), ("doc_id", "<", 1200)],
                 ("src", "=", "s2")]),
         ((c("doc_id") >= 1000) & (c("doc_id") < 1200))
         | (c("src") == "s2")),
        # empty-result OR
        (("or", [("doc_id", "<", -5), ("grp", ">", 99)]),
         (c("doc_id") < -5) | (c("grp") > 99)),
    ]
    for pred, expr in cases:
        got = decode_table(spark, out, predicate=pred).count()
        assert got == want(expr), pred

    # union-of-keeps at the manifest level: parts kept by the OR ==
    # parts kept by branch A | parts kept by branch B
    mans = read_all_manifests(out)
    br_a = normalize_predicate(("doc_id", "<", 300))
    br_b = normalize_predicate(("doc_id", ">=", 7700))
    both = normalize_predicate(("or", [("doc_id", "<", 300),
                                       ("doc_id", ">=", 7700)]))
    keep_a = {m["part_id"] for m in mans
              if _may_match_part(br_a, m["zones"])}
    keep_b = {m["part_id"] for m in mans
              if _may_match_part(br_b, m["zones"])}
    keep_or = {m["part_id"] for m in mans
               if _may_match_part(both, m["zones"])}
    assert keep_or == keep_a | keep_b
    # and the OR still prunes: with doc_id-clustered parts, two tight
    # ranges must not keep every part
    assert len(keep_or) < len(mans)


def test_decode_task_grouping(spark, tmp_path):
    """r6: tiny parts coalesce into byte-targeted task groups at the
    driver (decode wall must track bytes, not part count — the measured
    ~8 ms/part fixed cost at 8192 parts). Grouping is a performance
    layer only: rows, values, predicates, and projections come through
    a group exactly."""
    from fileconvert_spark.plans.manifest import decode_table, encode_table

    rows = [(i, i // 100, f"doc {i} body " * 5) for i in range(6400)]
    df = spark.createDataFrame(rows, "doc_id long, grp long, text string")
    out = str(tmp_path / "enc_grouped")
    encode_table(spark, df, out, n_buckets=64,
                 key_col="grp", salt_cols=("doc_id",), weight_col="text",
                 cluster_by=("doc_id",))

    # grouped between one task and one task per part
    auto = decode_table(spark, out)
    assert 1 <= auto.rdd.getNumPartitions() <= 64
    # decoded rows equal the source rows (sorted compare)
    assert sorted(auto.collect()) == sorted(df.collect())

    # predicates prune per-part THROUGH a group: same exact rows
    got = decode_table(spark, out, predicate=("doc_id", "<", 200))
    assert got.count() == 200
    got2 = decode_table(spark, out, columns=["doc_id", "grp"],
                        predicate=("doc_id", "<", 200))
    assert got2.count() == 200 and sorted(got2.columns) == ["doc_id", "grp"]


def test_predicate_malformed_shapes_raise(spark, tmp_path):
    """ADVICE r5: malformed predicates fail up front with a ValueError
    naming the expected shape — never an opaque unpack error deep in the
    decode path."""
    import pytest

    from fileconvert_spark.plans.manifest import normalize_predicate

    bad_shapes = [
        ("doc_id", "<"),                       # 2-tuple, not a triple
        [("doc_id", "<", 5), "stray"],         # scalar mixed into AND list
        ("doc_id", "between", 1),              # unknown op
        ("or", []),                            # empty OR
        ("or", ("doc_id", "<", 5), "extra"),   # malformed tagged shape
        ("doc_id", "in", 5),                   # IN without a collection
        42,                                    # not a sequence at all
    ]
    for p in bad_shapes:
        with pytest.raises(ValueError, match="predicate"):
            normalize_predicate(p)

    # the valid shapes normalize as documented
    assert normalize_predicate(None) is None
    assert normalize_predicate(("a", "=", 1)) == ("leaf", "a", "=", 1)
    assert normalize_predicate([("a", "=", 1)]) == ("leaf", "a", "=", 1)
    assert normalize_predicate([("a", "=", 1), ("b", "<", 2)]) == \
        ("and", [("leaf", "a", "=", 1), ("leaf", "b", "<", 2)])
    assert normalize_predicate(("or", [("a", "=", 1), ("b", "<", 2)])) == \
        ("or", [("leaf", "a", "=", 1), ("leaf", "b", "<", 2)])


def _chunk_tables():
    """An sf0.001 lineitem chunk with int, decimal, date and string
    columns, and a nested one with list, struct and map columns."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    li = pq.read_table(os.path.join(SF, "lineitem.parquet"))
    flat = pa.table({
        "l_orderkey": li["l_orderkey"],
        "l_linenumber": li["l_linenumber"],
        "price": pc.cast(li["l_extendedprice"], pa.decimal128(12, 2)),
        "shipdate": pc.cast(li["l_shipdate"], pa.date32()),
        "l_returnflag": li["l_returnflag"],
        "l_linestatus": li["l_linestatus"],
        "l_quantity": li["l_quantity"],
    })
    n = 1500
    nested = pa.table({
        "id": pa.array(range(n), pa.int64()),
        "tags": pa.array([None if i % 13 == 0 else list(range(i % 5))
                          for i in range(n)], pa.list_(pa.int64())),
        "st": pa.array([{"a": i * 2, "b": f"name{i % 5}",
                         "c": None if i % 4 == 0 else float(i)}
                        for i in range(n)]),
        "mp": pa.array([[(f"k{j}", f"v{i}_{j}") for j in range(i % 3)]
                        for i in range(n)],
                       pa.map_(pa.string(), pa.string())),
    })
    return flat, nested


@pytest.mark.parametrize("which", ["flat", "nested"])
def test_chunk_columns_encode_as_a_sequential_loop(monkeypatch, which):
    """The column pool changes when a column encodes, never what: every
    enc row equals a sequential encode_column loop's, field for field,
    in column order (each side starts from an empty FSST cache)."""
    from fileconvert_spark.functions import codecs
    from fileconvert_spark.operators import encode as E

    tbl = dict(zip(["flat", "nested"], _chunk_tables()))[which]
    zone_cols = frozenset(tbl.column_names[:2])
    monkeypatch.setattr(E, "_WORKER_FSST_CACHE", codecs.FsstTableCache())
    got = E.encode_chunk_table(tbl, 3, 1, cache_ns="ns",
                               zone_cols=zone_cols).to_pylist()
    monkeypatch.setattr(E, "_WORKER_FSST_CACHE", codecs.FsstTableCache())
    want = []
    for col in tbl.column_names:
        fields = E.encode_column(tbl.column(col), cache_key=f"ns:{col}",
                                 zone_stats=col in zone_cols)
        want.append({"part_id": 3, "chunk_id": 1, "column": col, **fields})
    assert [r["column"] for r in got] == tbl.column_names
    assert got == want


def test_chunk_raises_first_failing_column():
    """A first column of an unsupported type raises what the sequential
    loop raised, although larger valid columns and a second unsupported
    one are submitted before it."""
    import pyarrow as pa

    from fileconvert_spark.operators.encode import (
        encode_chunk_table, encode_column,
    )

    n = 4096
    tbl = pa.table({
        "d": pa.array(range(n), pa.duration("s")),
        "s": pa.array([f"value-{i % 97}-{'x' * (i % 40)}" for i in range(n)]),
        "i": pa.array(range(n), pa.int64()),
        "t": pa.array(range(n), pa.time64("us")),
    })
    with pytest.raises(NotImplementedError) as first:
        encode_column(tbl.column("d"))
    with pytest.raises(NotImplementedError) as chunk:
        encode_chunk_table(tbl, 0, 0)
    assert str(chunk.value) == str(first.value)
    assert "duration" in str(chunk.value)


def _bucket_batches(sizes, rows_per_batch, start=0):
    """Codefiles rows with a ``bucket`` column holding runs of the given
    sizes (bucket i gets sizes[i] consecutive rows), cut into batches of
    ``rows_per_batch`` rows, so runs span batch boundaries."""
    import pyarrow as pa

    from fileconvert_spark.corpus import make_codefiles

    n = sum(sizes)
    tbl = pa.Table.from_pandas(make_codefiles(n, seed=411).head(n),
                               preserve_index=False)
    bucket = [start + i for i, n in enumerate(sizes) for _ in range(n)]
    return tbl.append_column("bucket", pa.array(bucket, pa.int32())
                             ).to_batches(max_chunksize=rows_per_batch)


def test_streaming_kernel_matches_sequential_chunks(monkeypatch):
    """The streaming kernel yields, in order, the enc rows of encoding
    its chunks one after another on this thread, each side from an empty
    FSST cache; every chunk but a bucket's last reaches chunk_rows, and
    each bucket's chunks hold its rows in input order."""
    import pyarrow as pa

    from fileconvert_spark.functions import codecs
    from fileconvert_spark.operators import encode as E

    batches = _bucket_batches([700, 90, 1300, 400], 256)
    chunks = []
    real = E.encode_chunk_table

    def recording(tbl, pid, cid, **kw):
        chunks.append((pid, cid, tbl, kw))
        return real(tbl, pid, cid, **kw)

    monkeypatch.setattr(E, "encode_chunk_table", recording)
    monkeypatch.setattr(E, "_WORKER_FSST_CACHE", codecs.FsstTableCache())
    got = list(E.make_encode_fn(300, "bucket", cache_ns="ns")(iter(batches)))

    monkeypatch.setattr(E, "_WORKER_FSST_CACHE", codecs.FsstTableCache())
    want = [real(tbl, pid, cid, **kw) for pid, cid, tbl, kw in chunks]
    assert [b.to_pylist() for b in got] == [b.to_pylist() for b in want]

    src = pa.Table.from_batches(batches)
    for pid in range(4):
        mine = [(cid, tbl) for p, cid, tbl, _ in chunks if p == pid]
        assert [cid for cid, _ in mine] == list(range(len(mine)))
        assert all(t.num_rows >= 300 for _, t in mine[:-1])
        rows = pa.concat_tables([t for _, t in mine])
        want_rows = src.filter(pa.compute.equal(src["bucket"], pid)
                               ).drop_columns(["bucket"])
        assert rows.equals(want_rows.cast(rows.schema))


class _SlowChunks:
    """Stand-in for encode_chunk_table: records how many chunks run at
    once, sleeps, and fails on the buckets in ``fail`` (the tests below
    give each bucket one chunk)."""

    def __init__(self, fail=()):
        import threading

        self.fail, self.running, self.started = set(fail), 0, []
        self.lock = threading.Lock()

    def __call__(self, tbl, pid, cid, **kw):
        import time

        import pyarrow as pa

        with self.lock:
            self.running += 1
            self.started.append(pid)
        try:
            time.sleep(0.05)
            if pid in self.fail:
                raise ValueError(f"chunk {pid} failed")
            return pa.RecordBatch.from_pydict({"chunk": [pid]})
        finally:
            with self.lock:
                self.running -= 1


def test_streaming_kernel_holds_at_most_chunks_ahead(monkeypatch):
    """Chunks handed to the chunk thread and not yet yielded never
    exceed _CHUNKS_AHEAD, and the kernel reads ahead while they encode."""
    from fileconvert_spark.operators import encode as E

    slow = _SlowChunks()
    monkeypatch.setattr(E, "encode_chunk_table", slow)
    pool = E._pool("fcs-chunk")
    state = {"submitted": 0, "yielded": 0, "held_max": 0, "read": 0}

    class Counting:
        def submit(self, *a, **kw):
            state["submitted"] += 1
            state["held_max"] = max(state["held_max"],
                                    state["submitted"] - state["yielded"])
            return pool.submit(*a, **kw)

    monkeypatch.setattr(E, "_pool", lambda name: Counting())

    def feed():
        for b in _bucket_batches([40] * 12, 40):
            state["read"] += 1
            yield b

    reads_at_yield = []
    for out in E.make_encode_fn(1000, "bucket")(feed()):
        state["yielded"] += 1
        reads_at_yield.append(state["read"])
    assert state["submitted"] == state["yielded"] == 12
    assert state["held_max"] == E._CHUNKS_AHEAD
    # the first chunk comes back only after later buckets were read
    assert reads_at_yield[0] > 2


def test_streaming_kernel_raises_first_failing_chunk(monkeypatch):
    """Chunk 1 and chunk 2 fail: chunk 0 is yielded, then chunk 1's error
    is raised, and no chunk is still running once it has left the
    kernel. Closing the kernel early also leaves nothing running."""
    from fileconvert_spark.operators import encode as E

    slow = _SlowChunks(fail={1, 2})
    monkeypatch.setattr(E, "encode_chunk_table", slow)
    got = []
    with pytest.raises(ValueError, match="chunk 1 failed"):
        for out in E.make_encode_fn(1000, "bucket")(
                iter(_bucket_batches([30] * 6, 30))):
            got.append(out.column(0)[0].as_py())
    assert got == [0]
    assert slow.running == 0

    slow = _SlowChunks()
    monkeypatch.setattr(E, "encode_chunk_table", slow)
    gen = E.make_encode_fn(1000, "bucket")(iter(_bucket_batches([30] * 6, 30)))
    assert next(gen).column(0)[0].as_py() == 0
    gen.close()
    assert slow.running == 0 and len(slow.started) <= 1 + E._CHUNKS_AHEAD


def test_streaming_kernel_rejects_a_bucket_after_its_flush():
    """Bucket 5 reappears after bucket 6 started: the kernel raises
    instead of writing the rows as extra chunks of bucket 5."""
    from fileconvert_spark.operators import encode as E

    first = _bucket_batches([50, 50], 100, start=5)
    again = _bucket_batches([20], 100, start=5)
    with pytest.raises(ValueError, match="bucket 5 reappeared"):
        list(E.make_encode_fn(1000, "bucket")(iter(first + again)))


def _part_files(tmp_path, corrupt_part=None):
    """Two part files of three chunks each, written in process; with
    ``corrupt_part``, one payload byte of that part's middle chunk is
    flipped after its sha was taken. Returns (paths, column order)."""
    import time

    import pyarrow as pa

    from fileconvert_spark.corpus import make_codefiles
    from fileconvert_spark.operators import encode as E
    from fileconvert_spark.plans.manifest import write_part_file

    tbl = pa.Table.from_pandas(make_codefiles(600, seed=16),
                               preserve_index=False)
    for sub in ("data", "manifests"):
        (tmp_path / sub).mkdir()
    paths = []
    for pid in range(2):
        rows = []
        for cid in range(3):
            rows += E.encode_chunk_table(
                tbl.slice(300 * pid + 100 * cid, 100), pid, cid).to_pylist()
        if pid == corrupt_part:
            row = next(r for r in rows
                       if r["chunk_id"] == 1 and r["column"] == "content")
            p = bytearray(row["payload"])
            p[len(p) // 2] ^= 0x5A
            row["payload"] = bytes(p)
        write_part_file(str(tmp_path), pid, rows, time.time())
        paths.append(str(tmp_path / "data" / f"part-{pid:05d}.parquet"))
    return paths, tbl.column_names


def _group_chunks(paths):
    from fileconvert_spark.plans.manifest import part_chunk_rows

    return (c for p in paths for c in part_chunk_rows(p))


def test_decode_pipeline_matches_sequential_decode(tmp_path):
    """decode_table's in-task pipeline yields, in order, the batches of
    decoding each chunk of a group's parts one after another."""
    from fileconvert_spark.operators import encode as E

    paths, order = _part_files(tmp_path)
    got = list(E.decode_chunks(_group_chunks(paths), order))
    want = [E.decode_chunk(rows, order, pages)
            for rows, pages in _group_chunks(paths)]
    assert len(want) == 6
    assert [b.to_pylist() for b in got] == [b.to_pylist() for b in want]


def test_decode_pipeline_raises_corrupt_chunk_in_its_turn(tmp_path):
    """A flipped payload byte in the second part of a group: the first
    part's batches and the second part's first chunk come out, then a
    DecodeError naming part 1."""
    from fileconvert_spark.operators import encode as E

    paths, order = _part_files(tmp_path, corrupt_part=1)
    got = []
    with pytest.raises(E.DecodeError, match="part=1 chunk=1 column=content"):
        for b in E.decode_chunks(_group_chunks(paths), order):
            got.append(b)
    assert [b.num_rows for b in got] == [100] * 4


def test_decode_pipeline_early_close_leaves_nothing_running(
        tmp_path, monkeypatch):
    """Closing the generator after its first batch cancels the chunks
    not started and waits for the running one: no future is left
    running, and at most _CHUNKS_AHEAD chunks were ever handed over."""
    import threading
    import time

    from fileconvert_spark.operators import encode as E

    paths, order = _part_files(tmp_path)
    real = E.decode_chunk
    lock = threading.Lock()
    state = {"running": 0, "started": 0}

    def slow(rows, column_order, pages=None):
        with lock:
            state["running"] += 1
            state["started"] += 1
        try:
            time.sleep(0.05)
            return real(rows, column_order, pages)
        finally:
            with lock:
                state["running"] -= 1

    monkeypatch.setattr(E, "decode_chunk", slow)
    futures = []
    pool = E._pool("fcs-chunk")

    class Recording:
        def submit(self, *a, **kw):
            futures.append(pool.submit(*a, **kw))
            return futures[-1]

    monkeypatch.setattr(E, "_pool", lambda name: Recording())
    gen = E.decode_chunks(_group_chunks(paths), order)
    assert next(gen).num_rows == 100
    gen.close()
    assert state["running"] == 0
    assert not any(f.running() for f in futures)
    assert len(futures) <= 1 + E._CHUNKS_AHEAD
    assert state["started"] < 6
