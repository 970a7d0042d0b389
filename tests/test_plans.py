"""Physical-plan regression guards: the claims in PLANS.md must stay true.

A refactor that silently loses predicate pushdown, broadcasts, the
single-shuffle encode shape, or rank-limit pushdown would not fail any
value-correctness test — these lock the plan shapes in.
"""

import contextlib
import io
import os

import pytest

import __spark_entry__ as E

SF = os.path.join(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"), "sf0.001")


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_and_pruning(spark):
    p = plan_of(E.filter_project(spark, SF))
    assert "PushedFilters: [" in p
    assert "GreaterThanOrEqual(l_shipdate" in p
    # column pruning: the scan must not read unneeded columns
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" not in read_schema
    assert "l_quantity" in read_schema


def test_dim_joins_broadcast(spark):
    p = plan_of(E.q5_revenue_by_nation(spark, SF))
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p


def test_topk_uses_rank_limit_pushdown(spark):
    p = plan_of(E.window_topk_orders(spark, SF))
    assert "WindowGroupLimit" in p


def test_encode_pipeline_single_shuffle(spark):
    from pyspark.sql import functions as F

    from fileconvert_spark.operators.encode import encode_df
    from fileconvert_spark.operators.partitioning import (
        plan_buckets, repartition_by_bucket,
    )

    df = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    dfb, info = plan_buckets(df, 4, key_col="source", salt_cols=("doc_id",),
                             weight_col="text")
    enc = encode_df(repartition_by_bucket(dfb, 4), part_id_col="bucket")
    p = plan_of(enc)
    # exactly one data Exchange (the bucket repartition); the bucket-map
    # join must be broadcast, not a shuffle join
    n_exchanges = sum(
        1 for l in p.splitlines()
        if l.strip().startswith("(") and ") Exchange" in l
    )
    assert n_exchanges == 1, p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def _hot_key_frames(spark):
    """A string key whose hot value gets salted, and a bigint key whose
    heavy hitter (key 7 on ids below 1000) does or does not."""
    from pyspark.sql import functions as F

    strings = spark.range(3000).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("r"), (F.col("id") % 41).cast("string")))
        .alias("repo"),
        F.concat(F.lit("p/"), F.col("id").cast("string")).alias("path"),
        F.expr("repeat('y', cast(id % 97 as int))").alias("content"))
    longs = spark.range(2000).select(
        F.col("id"),
        F.when(F.col("id") < 1000, F.lit(7)).otherwise(F.col("id"))
        .alias("k"),
        F.expr("repeat('x', cast(id % 50 as int))").alias("pay"))
    return strings, longs


def _assignment(dfb):
    """Per-bucket row counts and a digest of the sorted (id, bucket)."""
    return _pairs_digest([(r["id"], r["bucket"])
                          for r in dfb.select("id", "bucket").collect()])


def _pairs_digest(pairs):
    import hashlib

    rows = sorted(pairs)
    counts = [0] * 4
    for _, b in rows:
        counts[b] += 1
    digest = hashlib.sha256(
        ";".join(f"{i}:{b}" for i, b in rows).encode()).hexdigest()[:16]
    return counts, digest


def test_bucket_map_is_a_jvm_local_relation(spark):
    """The bucket map reaches the JVM as a LocalRelation, not a
    LogicalRDD: a Python-list map would run a Spark job on Python
    workers to broadcast it, every encode round. This holds with Arrow
    conversion switched off, as the job CLIs run."""
    from fileconvert_spark.operators.partitioning import plan_buckets

    strings, longs = _hot_key_frames(spark)
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(conf, None)
    spark.conf.set(conf, "false")
    try:
        for df, kw in ((strings, {"salt_cols": ("path",)}),
                       (longs, {"key_col": "k", "salt_cols": ("id",),
                                "weight_col": "pay"})):
            dfb, info = plan_buckets(df, 4, **kw)
            assert info["heavy"] >= 1
            p = dfb._jdf.queryExecution().optimizedPlan().toString()
            assert "LocalRelation" in p, p
            assert "LogicalRDD" not in p, p
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)


def test_bucket_assignment_salted_string_key(spark):
    """(key, bucket) pinned to the values of the Python-list bucket map
    the Arrow one replaced: the hot key is salted over all 4 buckets."""
    from fileconvert_spark.operators.partitioning import plan_buckets

    strings, _ = _hot_key_frames(spark)
    dfb, info = plan_buckets(strings, 4, salt_cols=("path",))
    assert (info["heavy"], info["salted"]) == (41, 1)
    assert _assignment(dfb) == ([755, 736, 781, 728], "7be3b00e65b959cb")
    assert dfb.filter("repo = 'hot'").select("bucket").distinct().count() == 4


@pytest.mark.parametrize("weight_col,salted,expected", [
    ("pay", 1, ([482, 504, 503, 511], "afca9ef5859025e2")),
    ("k", 0, ([1240, 241, 247, 272], "15e2c93b42b66adc")),
])
def test_bucket_assignment_bigint_heavy_hitter(spark, weight_col, salted,
                                               expected):
    """A bigint key joins the map on its own type. Pinned to the
    assignment of the string-typed map, which made Spark cast the key in
    the join: key 7 salted over 4 shards when weighed by ``pay``, and
    placed whole by LPT when weighed by its own length."""
    from fileconvert_spark.operators.partitioning import plan_buckets

    _, longs = _hot_key_frames(spark)
    dfb, info = plan_buckets(longs, 4, key_col="k", salt_cols=("id",),
                             weight_col=weight_col)
    assert (info["heavy"], info["salted"]) == (1, salted)
    assert dfb.schema["bucket"].dataType.simpleString() == "int"
    assert _assignment(dfb) == expected


def test_narrow_decode_no_data_exchange(spark, tmp_path):
    from fileconvert_spark.plans.manifest import decode_table, encode_table

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    out = str(tmp_path / "enc")
    encode_table(spark, docs, out, n_buckets=2, key_col="source",
                 salt_cols=("doc_id",), weight_col="text")
    p = plan_of(decode_table(spark, out))
    # only the tiny path-distribution exchange is allowed
    assert p.count(") Exchange") <= 1
    assert "MapInArrow" in p or "mapInArrow" in p.lower()


def _least_largest_run(sizes, n):
    """Brute force: the smallest possible largest run over every split
    of ``sizes`` into at most ``n`` runs of consecutive items."""
    best = {(0, 0): 0}
    for g in range(1, n + 1):
        for i in range(g, len(sizes) + 1):
            best[(i, g)] = min(
                max(best[(j, g - 1)], sum(sizes[j:i]))
                for j in range(g - 1, i) if (j, g - 1) in best)
    return min(best[(len(sizes), g)]
               for g in range(1, min(n, len(sizes)) + 1))


def test_balanced_runs_split():
    """Decode task groups: runs of consecutive parts in part order, as
    many as parts or cores allow (never more under the cap), the largest
    as small as any such split allows, no run past the cap unless one
    part alone is, and a part of unknown size (no manifest) alone."""
    import random

    from fileconvert_spark.plans.manifest import (
        balanced_runs,
        pack_consecutive,
    )

    # a large part flushes pack_consecutive's run: 3 groups for 2 cores
    assert len(pack_consecutive([1, 5, 1, 3], 5)) == 3
    assert balanced_runs([1, 5, 1, 3], 2, 1 << 30) == [[0, 1], [2, 3]]
    assert balanced_runs([], 4, 100) == []
    # over n * cap bytes: more runs than cores, each within the cap
    assert balanced_runs([10] * 10, 2, 30) == [[0, 1, 2], [3, 4, 5],
                                               [6, 7, 8], [9]]
    rng = random.Random(16)
    for _ in range(400):
        n, cap = rng.randrange(1, 6), rng.randrange(20, 400)
        sizes = [None if rng.random() < 0.08 else rng.randrange(0, 90)
                 for _ in range(rng.randrange(0, 12))]
        runs = balanced_runs(sizes, n, cap)
        assert [i for r in runs for i in r] == list(range(len(sizes)))
        w = [None if s is None else max(s, 1) for s in sizes]
        for r in runs:
            if len(r) > 1:
                assert None not in [w[i] for i in r]
                assert sum(w[i] for i in r) <= cap
        if None not in w and sum(w) <= cap:
            assert len(runs) == min(len(w), n)
            if w:
                assert max(sum(w[i] for i in r) for r in runs) == \
                    _least_largest_run(w, n)


def test_decode_runs_at_most_one_task_per_core(spark, tmp_path):
    """A multi-part table under DECODE_TASK_BYTES decodes in
    min(parts, defaultParallelism) tasks, with every row."""
    from fileconvert_spark.plans.manifest import (
        decode_table,
        encode_table,
        read_all_manifests,
    )

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    par = spark.sparkContext.defaultParallelism
    for n_buckets in (3, par + 3):
        out = str(tmp_path / f"enc{n_buckets}")
        encode_table(spark, docs, out, n_buckets=n_buckets, key_col="source",
                     salt_cols=("doc_id",), weight_col="text")
        n_parts = len(read_all_manifests(out))
        assert n_parts > 1
        dec = decode_table(spark, out)
        assert dec.rdd.getNumPartitions() == min(n_parts, par)
        assert dec.count() == docs.count()


def test_lsh_band_join_carries_no_text(spark):
    """The MinHash-LSH band explode/self-join must shuffle only (id, band,
    band_key) — never the document bodies (VERDICT r1 item 4). Texts may
    appear only downstream, joined back by id for jaccard verification."""
    from fileconvert_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    p = plan_of(minhash_lsh_pairs(docs, "doc_id"))
    gen_lines = [l for l in p.splitlines() if "Generate" in l]
    assert gen_lines, p  # the posexplode must exist
    for l in gen_lines:
        assert "text" not in l, l
    # the explode output feeding the self-join must not mention text either
    for l in p.splitlines():
        if "band_key" in l and "Arguments" in l:
            assert "text" not in l, l


def test_grouped_decode_single_exchange(spark):
    """decode_df must shuffle compressed bytes exactly once (the
    (part_id, chunk_id) co-location repartition) and decode via
    mapInArrow — no pandas stages, no extra exchanges."""
    from fileconvert_spark.operators.encode import decode_df, encode_df

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    enc = encode_df(docs, chunk_rows=2048)
    p = plan_of(decode_df(enc, docs.schema))
    n_exchanges = sum(
        1 for l in p.splitlines()
        if l.strip().startswith("(") and ") Exchange" in l
    )
    assert n_exchanges == 1, p
    assert "MapInArrow" in p or "mapinarrow" in p.lower()
    assert "FlatMapGroupsInPandas" not in p


def test_contamination_exact_is_broadcast_semi_join(spark):
    """The benchmark fingerprint set must broadcast and join left-semi —
    the 100-TB corpus side is scanned in place, never shuffled."""
    from fileconvert_spark.operators.contamination import exact_contamination

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    bench = docs.limit(20).select("text")
    p = plan_of(exact_contamination(docs, bench))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p
    assert "SortMergeJoin" not in p


def test_contamination_ngram_no_prejoin_corpus_shuffle(spark):
    """ngram_contamination: the benchmark gram-hash set broadcasts and
    the corpus gram stream reaches the semi-join WITHOUT a wide shuffle
    — the only hash Exchange is the post-join per-doc aggregate over
    matched rows. (The r6 10 GB run caught the old shape: a pre-join
    dropDuplicates shuffled the entire corpus gram stream, and a
    Catalyst gram expression burned ~10 us/gram.)"""
    from fileconvert_spark.operators.contamination import ngram_contamination

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    bench = docs.limit(20).select("text")
    df = ngram_contamination(docs, bench)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p
    assert "SortMergeJoin" not in p
    # the corpus branch (the join's streamed side, rendered with ':-'/':'
    # prefixes in the tree) must contain no Exchange — every hash
    # Exchange in the plan sits ABOVE the semi-join (matched rows only)
    # or inside the tiny broadcast build side
    tree = p.split("(1) Scan")[0]
    join_line = next(l for l in tree.splitlines()
                     if "BroadcastHashJoin" in l)
    indent = join_line.index("BroadcastHashJoin")
    streamed = [l for l in tree.splitlines()[
        tree.splitlines().index(join_line) + 1:]
        if len(l) > indent and l[indent] == ":"]
    assert streamed and not any("Exchange" in l for l in streamed), p
    # gram hashing must be the Arrow-batched kernel, not higher-order exprs
    assert "ArrowEvalPython" in p, p


def test_embedding_pairs_grouped_matmul_single_exchange(spark):
    """The exact near-dup path must be applyInPandas over block-pair
    groups (one hash Exchange into the group grid) — not a catalyst
    pairwise join evaluating per-pair array expressions."""
    from fileconvert_spark.operators.dedup import embedding_near_dups

    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    p = plan_of(embedding_near_dups(emb, threshold=0.5))
    assert "FlatMapGroupsInPandas" in p, p
    assert p.count("Exchange (") == 1, p  # tree form; details repeat nodes
    assert "BroadcastNestedLoopJoin" not in p and "SortMergeJoin" not in p


def test_boilerplate_wide_shuffle_is_hash_keyed(spark):
    """The document-frequency groupBy must shuffle (gh, id) — 8-byte gram
    hashes — not the gram strings; strings resolve via a broadcast join of
    the (tiny) qualifying set."""
    from fileconvert_spark.functions.text import boilerplate_ngrams

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    p = plan_of(boilerplate_ngrams(docs))
    assert "BroadcastHashJoin" in p, p
    for line in p.splitlines():
        if "hashpartitioning" in line:
            assert "ngram" not in line, line


def test_winnow_prune_broadcasts_frequent_set_only(spark):
    """The winnowing df-pruning must broadcast the FREQUENT-fingerprint
    set (df > max_df — bounded by corpus-wide boilerplate) as a LeftAnti
    build side. Broadcasting the kept "rare" side — nearly every distinct
    fingerprint, O(corpus) — would OOM at 100 TB (VERDICT r4 item 1).
    Shuffles must carry (fp, id) only, never document text."""
    from fileconvert_spark.operators.dedup import winnow_overlap_pairs

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    p = plan_of(winnow_overlap_pairs(docs, "doc_id", max_df=64))
    assert "LeftAnti" in p, p
    # the broadcast build side filters df > max_df (the small hot set);
    # the old shape filtered df <= max_df (the O(corpus) keep set)
    assert "> 64)" in p, p
    assert "<= 64)" not in p, p
    for line in p.splitlines():
        if "hashpartitioning" in line:
            assert "text" not in line, line


def test_non_pruning_predicate_warns(spark, tmp_path):
    """VERDICT r6 item 6: a predicate on a column that cannot prune at
    part level (not the bucketing key / no zone stats) must emit a
    one-line advisory warning naming the layout guidance — with NO
    behavior change (results identical)."""
    import warnings

    import pytest

    from fileconvert_spark.plans.manifest import decode_table, encode_table

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    out = str(tmp_path / "enc")
    encode_table(spark, docs, out, n_buckets=2, key_col="source",
                 salt_cols=("doc_id",), weight_col="text",
                 cluster_by=("lang",))

    # key_col predicate: prunes at part level, NO warning
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        df = decode_table(spark, out, predicate=("source", "=", "wiki"))
    n_key = df.count()

    # secondary zone column: part-level structurally weak -> warn
    with pytest.warns(UserWarning, match="not the bucketing key"):
        df2 = decode_table(spark, out, predicate=("lang", "=", "en"))
    # unzoned column: no pruning at all -> warn with cluster_by guidance
    with pytest.warns(UserWarning, match="no zone stats"):
        df3 = decode_table(spark, out, predicate=("n_chars", ">", 100))

    # no behavior change: results match a plain filter of the source
    assert n_key == docs.filter("source = 'wiki'").count()
    assert df2.count() == docs.filter("lang = 'en'").count()
    assert df3.count() == docs.filter("n_chars > 100").count()


def test_clustered_encode_is_byte_deterministic(spark, tmp_path):
    """With cluster_by, two encodes of the same input must produce
    byte-identical part files (and so identical part shas): the
    within-partition sort carries an xxhash64 content tiebreak, so
    shuffle-arrival order can never leak into the stored bytes. This is
    the lineage/resume story — a part re-encoded after executor loss is
    provably the same part. (Without cluster_by there is no sort and no
    determinism claim.)"""
    import hashlib

    from fileconvert_spark.plans.manifest import encode_table

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    # shuffle the input's partitioning differently per run so arrival
    # order genuinely differs — determinism must come from the sort,
    # not from a lucky stable scan
    shas = []
    for i, nparts in enumerate((7, 3)):
        out = str(tmp_path / f"enc{i}")
        encode_table(spark, docs.repartition(nparts), out, n_buckets=2,
                     key_col="source", salt_cols=("doc_id",),
                     weight_col="text", cluster_by=("lang",))
        d = os.path.join(out, "data")
        shas.append({
            f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))
        })
    assert shas[0] == shas[1]


@pytest.mark.parametrize("n_buckets", [3, 13])
def test_repartition_by_bucket_streams_whole_buckets(spark, n_buckets):
    """Every bucket lands in exactly one task as one contiguous run, and
    there are min(n_buckets, defaultParallelism) tasks."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from fileconvert_spark.operators.partitioning import repartition_by_bucket

    df = spark.range(6000, numPartitions=5).withColumn(
        "bucket", F.pmod(F.xxhash64("id"), F.lit(n_buckets)).cast("int"))

    def probe(batches):
        from pyspark import TaskContext

        runs = []
        for b in batches:
            for v in b.column("bucket").to_pylist():
                if not runs or runs[-1] != v:
                    runs.append(v)
        yield pa.RecordBatch.from_arrays(
            [pa.array([TaskContext.get().partitionId()], pa.int32()),
             pa.array([runs], pa.list_(pa.int32()))], names=["task", "runs"])

    shuffled = repartition_by_bucket(df, n_buckets)
    tasks = shuffled.mapInArrow(probe, "task int, runs array<int>").collect()
    want_tasks = min(n_buckets, spark.sparkContext.defaultParallelism)
    assert shuffled.rdd.getNumPartitions() == want_tasks
    assert len(tasks) == want_tasks
    runs = [b for t in tasks for b in t["runs"]]
    assert sorted(runs) == list(range(n_buckets))   # one run per bucket


def _mixed_width_frame(spark):
    """8 of 23 repos hold 3-byte characters, the rest ASCII: byte and
    character weights rank the repos differently."""
    from pyspark.sql import functions as F

    return spark.range(3000).select(
        F.col("id"),
        F.concat(F.lit("r"), (F.col("id") % 23).cast("string")).alias("repo"),
        F.concat(F.lit("p/"), F.col("id").cast("string")).alias("path"),
        F.when(F.col("id") % 23 < 8,
               F.expr("repeat('中', cast(id % 97 as int))"))
        .otherwise(F.expr("repeat('y', cast(2 * (id % 97) as int))"))
        .alias("content"))


# plan_buckets(_mixed_width_frame, 4, salt_cols=("path",)) as the code
# before byte weights assigned it (character weights)
CHAR_WEIGHT_ASSIGNMENT = ([783, 783, 783, 651], "1d1925bd116a9384")


def test_bucket_weights_are_utf8_bytes(spark):
    """The planner weighs UTF-8 bytes, as DEFAULT_BUCKET_BYTES and
    ``total_bytes`` say; character weights stay available for old
    tables and give the assignment they were written with."""
    from pyspark.sql import functions as F

    from fileconvert_spark.operators.partitioning import plan_buckets

    df = _mixed_width_frame(spark)
    octets, chars = df.agg(F.sum(F.octet_length("content")),
                           F.sum(F.length("content"))).first()
    assert octets > chars
    dfb, info = plan_buckets(df, 4, salt_cols=("path",))
    assert info["total_bytes"] == octets
    assert _assignment(dfb) == ([653, 782, 783, 782], "b7f53208d1acec40")
    dfc, info = plan_buckets(df, 4, salt_cols=("path",), weight_unit="chars")
    assert info["total_bytes"] == chars
    assert _assignment(dfc) == CHAR_WEIGHT_ASSIGNMENT
    with pytest.raises(ValueError, match="weight_unit"):
        plan_buckets(df, 4, weight_unit="runes")


def _part_assignment(out_dir):
    """_assignment's (counts, digest) of an encoded table, read from its
    part files: each row's bucket is the part holding it."""
    import pyarrow.parquet as pq

    from fileconvert_spark.operators.encode import PAGE_CHUNK_ID, decode_chunk

    data = os.path.join(out_dir, "data")
    pairs = []
    for name in sorted(os.listdir(data)):
        rows = pq.read_table(os.path.join(data, name)).to_pylist()
        pages = {r["column"]: r["dict"] for r in rows
                 if r["chunk_id"] == PAGE_CHUNK_ID}
        chunks = {}
        for r in rows:
            if r["chunk_id"] != PAGE_CHUNK_ID:
                chunks.setdefault(r["chunk_id"], {})[r["column"]] = r
        for cols in chunks.values():
            ids = decode_chunk(cols, ["id"], pages).column(0).to_pylist()
            pairs += [(i, int(name[5:10])) for i in ids]
    return _pairs_digest(pairs)


def test_resume_of_a_char_weighted_table_keeps_its_buckets(spark, tmp_path):
    """A table whose _meta.json predates byte weights (no weight_unit)
    resumes with character weights: its parts keep the assignment the
    old code gave them, and a re-encoded part neither loses nor
    duplicates rows. A fresh table pins byte weights."""
    import json

    from fileconvert_spark.plans.manifest import decode_table, encode_table

    df = _mixed_width_frame(spark)
    out = str(tmp_path / "enc")
    kw = dict(n_buckets=4, salt_cols=("path",))
    encode_table(spark, df, out, **kw)
    meta_path = os.path.join(out, "_meta.json")
    meta = json.load(open(meta_path))
    assert meta["weight_unit"] == "bytes"
    assert _part_assignment(out)[1] == "b7f53208d1acec40"

    # the table as the old code wrote it: no weight_unit, char-weighted
    # parts (written here by resuming into the emptied table)
    del meta["weight_unit"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    for sub in ("data", "manifests"):
        for name in os.listdir(os.path.join(out, sub)):
            os.remove(os.path.join(out, sub, name))
    os.remove(os.path.join(out, "_manifest_list.json"))
    encode_table(spark, df, out, **kw)
    assert _part_assignment(out) == CHAR_WEIGHT_ASSIGNMENT

    # lose one part and resume again
    os.remove(os.path.join(out, "data", "part-00001.parquet"))
    summary = encode_table(spark, df, out, **kw)
    assert summary["parts_encoded_this_run"] == 1
    assert _part_assignment(out) == CHAR_WEIGHT_ASSIGNMENT
    assert decode_table(spark, out).count() == df.count()


def test_unclustered_encode_is_byte_reproducible(spark, tmp_path):
    """Without cluster_by, two encodes of the same input write identical
    part files: each task streams its buckets in order through one chunk
    thread, so which bucket trains a worker's FSST tables no longer
    depends on scheduling. Two buckets per task make the tables trained
    on one bucket encode the next."""
    import hashlib

    from fileconvert_spark.corpus import make_codefiles
    from fileconvert_spark.plans.manifest import encode_table

    df = spark.createDataFrame(make_codefiles(6000, seed=5))
    n = 2 * spark.sparkContext.defaultParallelism
    shas = []
    for i in range(2):
        out = str(tmp_path / f"enc{i}")
        encode_table(spark, df, out, n_buckets=n)
        d = os.path.join(out, "data")
        shas.append({f: hashlib.sha256(open(os.path.join(d, f), "rb").read()
                                       ).hexdigest() for f in os.listdir(d)})
    assert len(shas[0]) == n and shas[0] == shas[1]
