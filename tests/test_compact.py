"""Compaction (plans/compact.py — Iceberg rewrite_data_files parity):
value-exact merges without decoding, dictionary-page expansion +
re-consolidation, crash recovery in both phases, and the guard rails
(decode/resume refuse mid-compaction dirs; resume refuses compacted dirs)."""

import json
import os

import pyarrow.parquet as pq
import pytest

from fileconvert_spark.plans import fsio
from fileconvert_spark.plans.compact import (
    COMPACT_STATE,
    compact_table,
    plan_groups,
    recover_compaction,
)
from fileconvert_spark.plans.manifest import (
    decode_table,
    encode_table,
    pack_consecutive,
    read_all_manifests,
)


def _corpus_df(spark, n=4000):
    from fileconvert_spark.corpus import make_codefiles

    return spark.createDataFrame(make_codefiles(n))


def _fingerprint(df):
    from pyspark.sql import functions as F

    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in
            sorted(df.columns)]
    return (df.select(F.sha2(F.concat_ws("\x01", *cols), 256).alias("h"))
            .groupBy("h").count().orderBy("h").collect())


@pytest.fixture(scope="module")
def encoded_small_parts(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("compact") / "enc")
    df = _corpus_df(spark)
    summary = encode_table(spark, df, out, n_buckets=16,
                           cluster_by=("repo",))
    return out, df, summary


def test_plan_groups_packs_consecutive():
    mans = [{"part_id": i, "file_bytes": 100} for i in range(10)]
    mans.append({"part_id": 10, "file_bytes": 5000})
    groups = plan_groups(mans, target_bytes=350)
    # consecutive runs only; the big part stands alone
    flat = [p for g in groups for p in g]
    assert flat == sorted(flat)
    assert [10] in groups
    assert all(len(g) <= 4 for g in groups)


def test_pack_consecutive_order_big_and_unknown_parts():
    """The packer behind compaction merges:
    order kept, a part >= target alone, and a part of unknown size (no
    manifest) in its own group rather than closing the run before it."""
    sizes = [100, 100, 500, 100, None, 100, 100, 100, 100]
    assert pack_consecutive(sizes, 250) == [
        [0, 1], [2], [3], [4], [5, 6, 7], [8]]
    assert pack_consecutive([], 250) == []


def test_compact_roundtrip_and_part_count(spark, encoded_small_parts):
    out, df, _ = encoded_small_parts
    before = _fingerprint(decode_table(spark, out))
    n_before = len(read_all_manifests(out))
    res = compact_table(spark, out, target_bytes=1 << 20)
    assert not res["noop"]
    assert res["n_parts_after"] < n_before
    mans = read_all_manifests(out)
    assert len(mans) == res["n_parts_after"]
    # lineage: every merged manifest names its sources
    merged = [m for m in mans if m.get("src_parts")]
    assert merged and all(len(m["src_parts"]) >= 2 for m in merged)
    # decode equality (value multiset, all columns)
    after = _fingerprint(decode_table(spark, out))
    assert before == after
    # data dir holds exactly the manifest-listed parts
    files = {f for f in os.listdir(os.path.join(out, "data"))
             if f.endswith(".parquet")}
    assert files == {f"part-{int(m['part_id']):05d}.parquet" for m in mans}


def test_compact_predicate_pruning_survives(spark, encoded_small_parts):
    out, df, _ = encoded_small_parts
    repo = df.select("repo").first()[0]
    got = decode_table(spark, out, predicate=("repo", "=", repo))
    want = df.filter(df.repo == repo)
    assert _fingerprint(got) == _fingerprint(want)
    # merged manifests carry rebuilt zone folds for the cluster key
    zoned = [m for m in read_all_manifests(out)
             if m.get("src_parts") and (m.get("zones") or {}).get("repo")]
    assert zoned


def test_compact_noop_when_parts_big_enough(spark, encoded_small_parts):
    out, _, _ = encoded_small_parts
    res = compact_table(spark, out, target_bytes=1)
    assert res["noop"]


def test_resume_refused_after_compaction(spark, encoded_small_parts):
    out, df, _ = encoded_small_parts
    with pytest.raises(ValueError, match="compacted"):
        encode_table(spark, df, out, n_buckets=16)


def test_recover_rolls_back_staging(spark, tmp_path):
    out = str(tmp_path / "enc")
    df = _corpus_df(spark, 1500)
    encode_table(spark, df, out, n_buckets=8)
    before = _fingerprint(decode_table(spark, out))
    pids = sorted(int(m["part_id"]) for m in read_all_manifests(out))
    # simulate a crash after the staging marker + one staged (junk) part
    staged = max(pids) + 1
    fsio.write_bytes_atomic(os.path.join(out, COMPACT_STATE), json.dumps(
        {"phase": "staging", "add": [staged], "remove": pids[:2]}).encode())
    fsio.write_bytes_atomic(
        os.path.join(out, "data", f"part-{staged:05d}.parquet"), b"junk")
    # decode and a fresh compaction both refuse the torn dir
    with pytest.raises(ValueError, match="interrupted compaction"):
        decode_table(spark, out)
    with pytest.raises(ValueError, match="interrupted compaction"):
        compact_table(spark, out)
    assert recover_compaction(out) == "rolled_back"
    assert not fsio.exists(os.path.join(
        out, "data", f"part-{staged:05d}.parquet"))
    assert _fingerprint(decode_table(spark, out)) == before
    assert recover_compaction(out) == "clean"  # idempotent


def test_recover_rolls_forward_committed(spark, tmp_path):
    out = str(tmp_path / "enc")
    df = _corpus_df(spark, 1500)
    encode_table(spark, df, out, n_buckets=8)
    before = _fingerprint(decode_table(spark, out))
    # run a real compaction but simulate a crash AT the commit point:
    # re-create the committed state file after success, undoing the
    # cleanup (the files then look exactly like a post-commit crash,
    # except the removes already happened — recovery must be idempotent)
    res = compact_table(spark, out, target_bytes=1 << 20)
    assert not res["noop"]
    mans = read_all_manifests(out)
    add = [int(m["part_id"]) for m in mans if m.get("src_parts")]
    removed = [p for m in mans if m.get("src_parts")
               for p in m["src_parts"]]
    fsio.write_bytes_atomic(os.path.join(out, COMPACT_STATE), json.dumps(
        {"phase": "committed", "add": add, "remove": removed}).encode())
    assert recover_compaction(out) == "rolled_forward"
    assert _fingerprint(decode_table(spark, out)) == before
    meta = json.loads(fsio.read_bytes(os.path.join(out, "_meta.json")))
    assert meta.get("compacted") is True


def test_compact_refuses_incomplete_table(spark, tmp_path):
    out = str(tmp_path / "enc")
    df = _corpus_df(spark, 1000)
    encode_table(spark, df, out, n_buckets=4)
    # forge an in-progress part manifest
    m = json.loads(fsio.read_bytes(
        os.path.join(out, "manifests", "part-00000.json")))
    m["status"] = "running"
    fsio.write_bytes_atomic(
        os.path.join(out, "manifests", "part-00000.json"),
        json.dumps(m).encode())
    from fileconvert_spark.plans.manifest import invalidate_manifest_list

    invalidate_manifest_list(out)
    with pytest.raises(ValueError, match="complete table"):
        compact_table(spark, out, target_bytes=1 << 20)


def test_merged_parts_reconsolidate_dict_pages(spark, encoded_small_parts):
    out, _, _ = encoded_small_parts
    mans = read_all_manifests(out)
    merged = [m for m in mans if m.get("src_parts")]
    pid = int(merged[0]["part_id"])
    t = pq.read_table(os.path.join(out, "data", f"part-{pid:05d}.parquet"))
    codecs_used = set(t.column("codec").to_pylist())
    # the merged part carries its own dictionary-page rows (cross-part
    # consolidation) — dict-family codecs are present in this corpus
    assert "dictpage" in codecs_used


def test_compact_dedup_store_subtables(spark, tmp_path):
    """The dedup store composes encode_table for refs/ and blobs/, so
    compact_table applies to each subtable directly — decode equality
    through decode_table_dedup after compacting both."""
    from fileconvert_spark.plans.dedup_store import (
        decode_table_dedup, encode_table_dedup)

    # corpus columns are (repo, path, commit, lang, content)
    df = _corpus_df(spark, 1200)
    from pyspark.sql import functions as F

    dup = df.limit(200).withColumn("path", F.concat(F.col("path"),
                                                    F.lit(".copy")))
    src = df.unionAll(dup)  # guaranteed duplicated content
    out = str(tmp_path / "store")
    encode_table_dedup(spark, src, out, content_col="content",
                       key_col="repo", salt_cols=("path",),
                       n_buckets=8, blob_buckets=4)
    before = _fingerprint(decode_table_dedup(spark, out))
    import os as _os

    for sub in ("refs", "blobs"):
        res = compact_table(spark, _os.path.join(out, sub),
                            target_bytes=1 << 20)
        assert not res["noop"]
    assert _fingerprint(decode_table_dedup(spark, out)) == before


def test_compact_epochs_sweep(spark, tmp_path):
    """compact_epochs: compacts every complete epoch dir of an
    incremental-encode tree; decode over all epochs is value-identical,
    epoch count and rows survive, incomplete epochs are skipped."""
    from fileconvert_spark.plans.manifest import invalidate_manifest_list
    from fileconvert_spark.streaming.incremental import (
        compact_epochs, incremental_encode)

    src = tmp_path / "src"
    src.mkdir()
    df = _corpus_df(spark, 1200)
    df.limit(600).write.mode("overwrite").parquet(str(src / "b1"))
    out = str(tmp_path / "enc")
    incremental_encode(spark, str(src / "b1"), out, df.schema,
                       str(tmp_path / "ckpt"))
    epochs = [e for e in os.listdir(out) if e.startswith("epoch=")]
    assert epochs
    before = {e: _fingerprint(decode_table(spark, os.path.join(out, e)))
              for e in epochs}
    # forge one INCOMPLETE epoch the sweep must skip untouched
    bad = os.path.join(out, "epoch=999")
    import shutil

    shutil.copytree(os.path.join(out, epochs[0]), bad)
    m = json.loads(fsio.read_bytes(
        os.path.join(bad, "manifests", "part-00000.json")))
    m["status"] = "running"
    fsio.write_bytes_atomic(
        os.path.join(bad, "manifests", "part-00000.json"),
        json.dumps(m).encode())
    invalidate_manifest_list(bad)

    res = compact_epochs(spark, out, target_bytes=1 << 20)
    assert res["epochs"]["epoch=999"] == {"skipped": "incomplete table"}
    for e in epochs:
        assert not res["epochs"][e].get("noop", False)
        assert _fingerprint(decode_table(spark, os.path.join(out, e))) \
            == before[e]
    assert res["parts_after"] < res["parts_before"]


def test_fresh_reencode_clears_stale_compact_state(spark, tmp_path):
    """Review finding (r7, data-loss path): a fresh re-encode over a dir
    with a stale _compact_state.json must remove the state file —
    otherwise recover_compaction against the NEW table deletes
    newly-encoded parts whose ids collide with the old remove-list."""
    out = str(tmp_path / "enc")
    df = _corpus_df(spark, 800)
    encode_table(spark, df, out, n_buckets=4)
    # stale committed-phase state naming current pids as removes
    fsio.write_bytes_atomic(os.path.join(out, COMPACT_STATE), json.dumps(
        {"phase": "committed", "add": [99], "remove": [0, 1]}).encode())
    os.remove(os.path.join(out, "_meta.json"))  # wiped table scenario
    encode_table(spark, df, out, n_buckets=4, resume=False)
    assert not fsio.exists(os.path.join(out, COMPACT_STATE))
    assert recover_compaction(out) == "clean"
    assert decode_table(spark, out).count() == df.count()


def test_compact_refuses_corrupted_chunk(spark, tmp_path):
    """Review finding (r7, integrity laundering): compaction recomputes
    chunk shas, so it must VERIFY every chunk envelope before rewriting
    — an at-rest bit flip fails compaction loudly instead of being
    re-sealed under a fresh sha that passes every future decode."""
    import pyarrow.parquet as _pq

    out = str(tmp_path / "enc")
    df = _corpus_df(spark, 800)
    encode_table(spark, df, out, n_buckets=4)
    path = os.path.join(out, "data", "part-00001.parquet")
    t = _pq.read_table(path)
    payloads = t.column("payload").to_pylist()
    payloads[0] = bytes([payloads[0][0] ^ 0xFF]) + payloads[0][1:]
    t = t.set_column(t.schema.get_field_index("payload"), "payload",
                     [payloads])
    _pq.write_table(t, path, compression="none")
    with pytest.raises(Exception, match="integrity sha mismatch"):
        compact_table(spark, out, target_bytes=1 << 20)
    # the torn staging rolls back cleanly; originals are untouched
    assert recover_compaction(out) in ("rolled_back", "clean")
