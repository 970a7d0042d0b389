"""Job-level encode/decode with lineage manifests + checkpoint/resume
(SURVEY.md §2 B13/B14/B15).

Layout of an encoded table directory (Iceberg-style seam — data files plus
manifest files carrying snapshot/file/stats metadata; a real Iceberg catalog
is a config-only swap behind sources/icebergish.py):

    out_dir/
      _schema.json            source Spark schema (for decode)
      _summary.json           job-level metrics rollup
      data/part-00017.parquet encoded chunks of bucket 17 (parquet
                              compression=NONE — sizes are the engine's own)
      manifests/part-00017.json  per-partition lineage: rows, chunks, bytes,
                              codec histogram, chunk sha256s, wall_ms, status

Checkpoint/resume: a bucket whose manifest says status=done (and whose data
file exists) is skipped on re-run — partition ids are deterministic bucket
ids from operators/partitioning.py, so a restarted job re-encodes exactly
the missing buckets (BASELINE.json line 6: "resumable from checkpoint after
executor loss"). Writes are atomic with attempt-unique tmp names and all
I/O goes through the plans/fsio.py filesystem seam, so a cluster
filesystem (HDFS/S3 URI) is a config swap.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections import Counter
from collections.abc import Iterator

import pyarrow as pa

from . import fsio
from ..operators.encode import (
    DEFAULT_CHUNK_ROWS,
    ENC_ARROW_SCHEMA,
    PAGE_CHUNK_ID,
    consolidate_part_dicts,
    make_encode_fn,
)

# one summary row per written part, yielded by the encode write kernel
# and the compaction kernel; MANIFEST_SPARK_SCHEMA is the same schema as
# the DDL string mapInArrow takes
MANIFEST_ARROW_SCHEMA = pa.schema([
    ("part_id", pa.int32()), ("n_rows", pa.int64()),
    ("n_chunks", pa.int32()), ("raw_bytes", pa.int64()),
    ("enc_bytes", pa.int64()), ("file_bytes", pa.int64()),
    ("codec_map", pa.string()), ("sha256_part", pa.string()),
    ("wall_ms", pa.int64()), ("status", pa.string()),
])
_DDL_TYPES = {"int32": "int", "int64": "long", "string": "string"}
MANIFEST_SPARK_SCHEMA = ", ".join(
    f"{f.name} {_DDL_TYPES[str(f.type)]}" for f in MANIFEST_ARROW_SCHEMA)


def manifest_batch(rows: list[dict]) -> pa.RecordBatch:
    """Manifest summary rows (write_part_file results) -> one batch."""
    return pa.RecordBatch.from_arrays(
        [pa.array([r[f.name] for r in rows], type=f.type)
         for f in MANIFEST_ARROW_SCHEMA],
        schema=MANIFEST_ARROW_SCHEMA)


def part_id_of(name: str) -> int | None:
    """Part id of a ``part-XXXXX.*`` file name or path; None otherwise."""
    try:
        return int(os.path.basename(name).split("-")[1].split(".")[0])
    except (IndexError, ValueError):
        return None


MANIFEST_LIST = "_manifest_list.json"

# On-disk format version, stamped in _meta.json and checked before any
# decode/resume. v3 (r5): BOUNDED salting changed the bucket-assignment
# function (heavy keys split into ceil(bytes/bucket_cap) LPT-placed
# shards instead of spraying across all buckets) — resuming a v2 dir
# with v3 code would re-derive DIFFERENT assignments and drop/duplicate
# rows, so v2 must hard-fail, not limp. v2 (r4): the per-chunk integrity
# sha covers EVERY decode component, length-framed
# (payload||dict||validity||meta). v1 (r1-r3) hashed the payload only
# and carried no marker — a v1 directory would fail v2's integrity check
# with a "corrupted at rest" report, which misattributes an intentional
# format change to corruption; the version gate turns that into a clear
# "format too old, re-encode" error instead.
FORMAT_VERSION = 4   # v4: part dictionary-page rows (chunk_id = -1) +
                     # dp/ps chunk meta (consolidate_part_dicts)


def read_table_meta(out_dir: str) -> dict | None:
    """The table's _meta.json, or None when the directory has none."""
    path = os.path.join(out_dir, "_meta.json")
    if not fsio.exists(path):
        return None
    return json.loads(fsio.read_bytes(path))


def check_format_version(out_dir: str, meta: dict | None = None) -> None:
    """Raise ValueError unless the table at out_dir is FORMAT_VERSION.

    A missing _meta.json (decode of a bare directory) is left to the
    schema/data checks — only an explicit older/newer stamp (or a legacy
    meta without one) fails here, before integrity verification runs.
    """
    state = os.path.join(out_dir, "_compact_state.json")
    if fsio.exists(state):
        raise ValueError(
            f"encoded table at {out_dir} has an interrupted compaction "
            "(_compact_state.json present) — run "
            "plans.compact.recover_compaction(out_dir) to roll it back "
            "or forward before reading/writing the table")
    if meta is None:
        meta = read_table_meta(out_dir)
        if meta is None:
            return
    ver = int(meta.get("format_version", 1))
    if ver != FORMAT_VERSION:
        raise ValueError(
            f"encoded table at {out_dir} is format version {ver}, this "
            f"reader is version {FORMAT_VERSION} — "
            + ("re-encode the table (older format versions predate "
               "length-framed integrity shas / bounded-salting bucket "
               "assignment)" if ver < FORMAT_VERSION
               else "upgrade the engine to read it"))


def _load_manifest_list(out_dir: str) -> list[dict] | None:
    """The consolidated manifest list (Iceberg pattern): one file holding
    every per-part manifest, written atomically by the DRIVER only after
    a job completes. Per-part manifests stay the source of truth written
    by executors; the list is a completion-time rollup that turns the
    O(parts) resume scan (N reads — N GETs on an object store) into one
    read at 10^5+ parts. Returns None when absent, torn, or inconsistent
    with the data directory (one listdir cross-check), in which case
    callers fall back to the per-part scan.
    """
    path = os.path.join(out_dir, MANIFEST_LIST)
    if not fsio.exists(path):
        return None
    try:
        doc = json.loads(fsio.read_bytes(path))
        parts = doc["parts"]
    except (json.JSONDecodeError, OSError, KeyError, TypeError):
        return None
    data_files = {n for n in fsio.listdir(os.path.join(out_dir, "data"))
                  if n.endswith(".parquet")}
    expect = {f"part-{int(m['part_id']):05d}.parquet" for m in parts}
    if expect != data_files:  # deleted/extra parts since completion
        return None
    return parts


def write_manifest_list(out_dir: str, manifests: list[dict]) -> None:
    fsio.write_bytes_atomic(
        os.path.join(out_dir, MANIFEST_LIST),
        json.dumps({"n_parts": len(manifests), "parts": manifests}).encode())


def invalidate_manifest_list(out_dir: str) -> None:
    path = os.path.join(out_dir, MANIFEST_LIST)
    if fsio.exists(path):
        fsio.remove(path)


def scan_done_parts(out_dir: str) -> set[int]:
    """Buckets already encoded: manifest status done AND data file
    listed under ``data/``. The manifests come from read_all_manifests
    (one read when the consolidated list is valid, else the per-part
    scan, where a torn manifest drops its part)."""
    data_files = set(fsio.listdir(os.path.join(out_dir, "data")))
    return {int(m["part_id"]) for m in read_all_manifests(out_dir)
            if m.get("status") == "done"
            and f"part-{int(m['part_id']):05d}.parquet" in data_files}


def _merge_intervals(ivs: list[list], cap: int = 32) -> list[list]:
    """Sort + union overlapping [lo, hi] intervals; if more than ``cap``
    remain, merge neighbors pairwise until under the cap (coverage only
    grows — always safe for may-match pruning, works for any orderable
    type including strings where numeric gap sizes don't exist)."""
    ivs = sorted(ivs, key=lambda p: (p[0], p[1]))
    merged: list[list] = []
    for lo, hi in ivs:
        if merged and lo <= merged[-1][1]:
            if hi > merged[-1][1]:
                merged[-1][1] = hi
        else:
            merged.append([lo, hi])
    while len(merged) > cap:
        merged = [
            [merged[i][0], merged[min(i + 1, len(merged) - 1)][1]]
            for i in range(0, len(merged), 2)
        ]
    return merged


def make_write_kernel(out_dir: str,
                      chunk_rows: int = DEFAULT_CHUNK_ROWS,
                      zone_cols: frozenset | None = None,
                      key_index_cols: frozenset | None = None):
    """mapInArrow kernel: encode + write per-bucket parquet + manifest,
    yielding one manifest summary row per bucket (the input's ``bucket``
    column names each row's part). ``key_index_cols``:
    also write per-part key-hash sidecars (plans/keyindex.py) for
    point-lookup pruning on unclustered columns — written BEFORE the
    manifest so a done part always has its sidecars.

    A task holds several buckets, and the encode kernel yields their
    chunks in input order, bucket after bucket: a part is written as
    soon as the next part's first chunk arrives, so a task killed
    midway leaves its finished parts done for resume."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t0 = time.time()
        # per-call accumulator: a retried task starts a fresh one, so a
        # failed attempt's hashes never leak into another attempt's
        # sidecar (extra hashes would only weaken pruning, never decode
        # wrongly — but fresh is fresh)
        ki_acc: dict | None = {} if key_index_cols else None
        encode_fn = make_encode_fn(chunk_rows, "bucket",
                                   cache_ns=out_dir, zone_cols=zone_cols,
                                   key_index_cols=key_index_cols,
                                   key_index_acc=ki_acc)
        fsio.makedirs(os.path.join(out_dir, "data"))
        fsio.makedirs(os.path.join(out_dir, "manifests"))
        manifests: list[dict] = []

        def write(pid: int, rows: list[dict]) -> None:
            if key_index_cols:
                from .keyindex import write_part_index

                for col in key_index_cols:
                    write_part_index(out_dir, pid, col,
                                     (ki_acc.get(pid) or {}).get(col,
                                                                 set()))
            manifests.append(write_part_file(
                out_dir, pid, consolidate_part_dicts(rows, pid), t0))

        pid, rows = None, []
        for enc_batch in encode_fn(batches):
            for r in enc_batch.to_pylist():
                if r["part_id"] != pid:
                    if rows:
                        write(pid, rows)
                    pid, rows = r["part_id"], []
                rows.append(r)
        if rows:
            write(pid, rows)

        if manifests:
            yield manifest_batch(manifests)

    return fn


def write_part_file(out_dir: str, pid: int, rows: list[dict], t0: float,
                    extra: dict | None = None) -> dict:
    """Write one part's enc rows (dicts of ENC_ARROW_SCHEMA fields) +
    per-part manifest JSON; returns the manifest as a flat dict
    (codec_map JSON-encoded) ready for a MANIFEST_SPARK_SCHEMA row.
    Shared by the encode write kernel and plans/compact.py so footer
    discipline and part-level zone folding have one source of truth.
    ``extra`` keys are merged into the manifest JSON only (lineage like
    src_parts)."""
    data_path = os.path.join(out_dir, "data", f"part-{pid:05d}.parquet")
    # Sort enc rows by (column, chunk_id) and align row groups to
    # one COLUMN each (every chunk emits every column, so each
    # column contributes exactly n_chunks rows): the row-group
    # "column" statistics then let a projected decode
    # (decode_table(columns=...)) skip non-selected columns'
    # payload PAGES at the parquet layer instead of reading and
    # discarding them — at 10 GB this took the 2-of-5-column
    # decode from ~8.8 s (row-level filter, all bytes read) to
    # page-skipping (see BENCH/SCALE_r4.md addendum 3).
    rows = sorted(rows, key=lambda r: (r["column"], r["chunk_id"]))
    chunk_ids = [r["chunk_id"] for r in rows]
    rows_per_col = len(set(chunk_ids))
    # compression=NONE: our codecs, not parquet's, account for size;
    # attempt-unique tmp + move (fsio) so speculative/zombie task
    # attempts can never corrupt a part whose manifest says done.
    # Footer discipline (r5, VERDICT item 3): statistics only on
    # 'column' (the one filter that prunes row groups — part_id is
    # constant per file and chunk_id stats span every chunk),
    # dictionary encoding only for the two low-cardinality string
    # columns (dictionary-encoding unique payload/sha blobs is
    # pure page overhead), and per-COLUMN row groups only when
    # the part holds >= 4 chunks: below that the page-skipping
    # projection can save at most a few hundred KB while the
    # extra per-row-group column-chunk metadata costs ~1 KB per
    # row group — at real scale (many chunks/part) the footer
    # amortizes and the projection win dominates.
    per_col_rgs = rows_per_col >= 4
    file_bytes = fsio.write_parquet_atomic(
        pa.Table.from_pylist(rows, schema=ENC_ARROW_SCHEMA), data_path,
        compression="none",
        row_group_size=rows_per_col if per_col_rgs else max(len(rows), 1),
        write_statistics=["column"],
        use_dictionary=["column", "codec"],
    )

    raw_b = sum(r["raw_bytes"] for r in rows)
    enc_b = sum(r["enc_bytes"] for r in rows)
    n_chunks = len({cid for cid in chunk_ids
                    if cid != PAGE_CHUNK_ID})
    n_rows = sum(r["n_rows"] for r in rows
                 if r["column"] == rows[0]["column"]
                 and r["chunk_id"] != PAGE_CHUNK_ID)
    codec_map = dict(Counter(f"{r['column']}:{r['codec']}" for r in rows))
    sha_part = hashlib.sha256(
        b"".join(r["sha256_chunk"] for r in rows)).hexdigest()
    wall_ms = int((time.time() - t0) * 1000)
    # part-level zone bounds (Iceberg manifest-pruning pattern):
    # fold each zone column's per-chunk [min, max] into a CAPPED
    # LIST OF MERGED INTERVALS and put it IN THE MANIFEST, so
    # the decode driver can drop whole parts before they ever
    # become tasks — at 10^5 parts a selective predicate must
    # not schedule (or per-part meta-read) the 99% of parts it
    # excludes. An interval LIST, not one envelope: buckets are
    # HASH-keyed, so a part holds a few scattered key values
    # whose single [min, max] envelope spans nearly the whole
    # key range and never prunes (measured on the 10 GB corpus:
    # 0 of 1024 parts pruned for a 0.16%-selective repo
    # equality). With cluster_by the chunks are tight runs, the
    # merged intervals ~= the part's distinct keys, and equality
    # predicates prune exactly. A column with any chunk lacking
    # bounds is omitted (absence = may-match, never prune).
    zones: dict[str, list] = {}
    col_iv: dict[str, list] = {}
    complete: dict[str, bool] = {}
    for r in rows:
        c = r["column"]
        if r["chunk_id"] == PAGE_CHUNK_ID:
            continue  # page rows carry no zone stats by design
        meta_d = json.loads(r["meta"])
        zs = meta_d.get("zs")
        if zs is None:
            complete[c] = False
            continue
        complete.setdefault(c, True)
        zsv = meta_d.get("zsv")
        if zsv is not None:
            # low-cardinality chunk: each distinct value is a
            # degenerate [v, v] interval — exact equality pruning
            # even on hash-scattered keys
            col_iv.setdefault(c, []).extend([v, v] for v in zsv)
        else:
            col_iv.setdefault(c, []).append([zs[0], zs[1]])
    for c, ok in complete.items():
        if ok and col_iv.get(c):
            zones[c] = _merge_intervals(col_iv[c], cap=32)
    manifest = {
        "part_id": pid,
        "n_rows": int(n_rows),
        "n_chunks": int(n_chunks),
        "raw_bytes": int(raw_b),
        "enc_bytes": int(enc_b),
        "file_bytes": int(file_bytes),
        "codec_map": codec_map,
        "sha256_part": sha_part,
        "wall_ms": wall_ms,
        "status": "done",
        "zones": zones,
    }
    if extra:
        manifest.update(extra)
    fsio.write_bytes_atomic(
        os.path.join(out_dir, "manifests", f"part-{pid:05d}.json"),
        json.dumps(manifest, indent=1).encode(),
    )
    return {**manifest, "codec_map": json.dumps(codec_map)}


def encode_table(spark, df, out_dir: str, n_buckets: int | None = None,
                 resume: bool = True, key_col: str = "repo",
                 salt_cols: tuple[str, ...] = ("path", "commit"),
                 weight_col: str = "content",
                 chunk_rows: int = DEFAULT_CHUNK_ROWS,
                 stats_sample_fraction: float = 1.0,
                 cluster_by: tuple[str, ...] | None = None,
                 key_index_cols: tuple[str, ...] | None = None) -> dict:
    """Encode a table to out_dir with manifests; returns job summary.

    ``key_index_cols``: write per-part key-hash sidecar indexes
    (plans/keyindex.py) for these string/integer columns — point-lookup
    (``=``/``in``) predicate decode on UNCLUSTERED columns then skips
    parts whose index lacks the probe hash, where zone maps cannot prune
    at all (every part's envelope spans the key range on hash-scattered
    data). Probed at TASK level, not the driver: index bytes scale with
    rows-per-part (like Parquet/Iceberg bloom filters, and for the same
    reason they live next to the data, not in the manifest). Pinned in
    _meta.json like the other table-identity knobs.

    Plan shape: 1 small agg (stats pre-pass) + 1 broadcast join (bucket
    map) + 1 shuffle (``repartition_by_bucket``: bucket b to shuffle
    partition b, coalesced to one task per core, no sort) + narrow
    encode/write. Each task streams its whole buckets one after another
    through the encode kernel, which encodes bucket k while the JVM
    feeds bucket k+1 (make_encode_fn).

    ``stats_sample_fraction``: weigh the bucket plan on a seeded row
    sample (see plan_buckets) — at 10^12 files the exact pre-pass is a
    full-corpus read; a few percent sample plans the same buckets. Pinned
    in _meta.json so resume re-derives byte-identical assignments.

    Zone maps: the ``cluster_by`` columns plus ``key_col`` carry
    per-chunk [min, max] bounds for decode_table(predicate=...); without
    ``cluster_by`` no column does — on unclustered data every chunk's
    bounds span the whole range and never prune, so they would be pure
    metadata cost (~50 B/chunk/column; VERDICT r4 item 3 measured +0.6%
    of the snappy baseline for zero pruning power). Decoding on a column
    without bounds degrades to the exact catalyst filter — never wrong,
    just unpruned.

    Resume: ``n_buckets``, ``key_col``, ``salt_cols``, ``weight_col``,
    ``stats_sample_fraction``, the weight unit (see plan_buckets; a
    _meta.json without one means characters), the zone-map columns and
    ``key_index_cols`` are the table's identity and come from its
    _meta.json, whatever the caller passes: bucketing a missing part any
    other way would duplicate some rows and lose others.
    """
    from pyspark.sql import functions as F

    from ..operators.partitioning import plan_buckets, repartition_by_bucket

    t0 = time.time()
    fsio.makedirs(out_dir)
    meta_path = os.path.join(out_dir, "_meta.json")
    pinned = None
    ki_cols = frozenset(key_index_cols or ())
    if ki_cols:
        schema_by_name = {f.name: f for f in df.schema.fields}
        for c in sorted(ki_cols):
            if c not in schema_by_name:
                raise ValueError(f"key_index_cols: no column {c!r}")
            st = schema_by_name[c].dataType.simpleString()
            if st not in ("string", "int", "bigint", "smallint",
                          "tinyint"):
                raise ValueError(
                    f"key_index_cols: column {c!r} has type {st} — only "
                    "string and integer columns are indexable (equality "
                    "probes hash a canonical value form; see "
                    "plans/keyindex.py)")
    if resume and fsio.exists(meta_path):
        meta = json.loads(fsio.read_bytes(meta_path))
        check_format_version(out_dir, meta)  # never mix v1 parts with v2
        if meta.get("compacted"):
            raise ValueError(
                f"encoded table at {out_dir} was compacted — the original "
                "bucket->part mapping is gone, so resuming would re-encode "
                "buckets whose rows already live inside merged parts "
                "(duplicates); encode into a fresh directory instead")
        pinned = meta["n_buckets"]
        key_col = meta["key_col"]
        salt_cols = tuple(meta["salt_cols"])
        weight_col = meta["weight_col"]
        stats_sample_fraction = float(meta.get("stats_sample_fraction", 1.0))
        # tables written before byte weights planned with characters
        weight_unit = meta.get("weight_unit", "chars")
        # "all" is pinned by tables written when every column could
        # carry zone bounds
        zc = meta.get("zone_cols", "none")
        zone_cols = None if zc == "all" else frozenset(zc if zc != "none"
                                                       else ())
        ki_cols = frozenset(meta.get("key_index_cols") or ())
    else:
        zone_cols = (frozenset(cluster_by) | {key_col}) if cluster_by \
            else frozenset()
        weight_unit = "bytes"

    t_plan = time.time()
    dfb, plan_info = plan_buckets(df, pinned if pinned is not None else n_buckets,
                                  key_col=key_col, salt_cols=salt_cols,
                                  weight_col=weight_col,
                                  stats_sample_fraction=stats_sample_fraction,
                                  weight_unit=weight_unit)
    plan_wall_s = time.time() - t_plan
    n_buckets = plan_info["n_buckets"]  # resolved (auto-sized when None)

    if pinned is None:
        # fresh bucketing decision: stale data/manifests (from a previous,
        # possibly differently-bucketed table whose _meta.json is gone)
        # must never leak into this table's manifests/decode — clear them
        # regardless of the resume flag
        invalidate_manifest_list(out_dir)
        # a stale compaction state file from the wiped table must die
        # with it: recover_compaction() against a FRESH table would
        # delete newly-encoded parts whose ids collide with the old
        # state's remove-list (review finding, r7) — silent data loss
        state = os.path.join(out_dir, "_compact_state.json")
        if fsio.exists(state):
            fsio.remove(state)
        for sub in ("data", "manifests", "indexes"):
            p = os.path.join(out_dir, sub)
            for name in fsio.listdir(p):
                fsio.remove(os.path.join(p, name))
        fsio.write_bytes_atomic(meta_path, json.dumps(
            {"format_version": FORMAT_VERSION,
             "n_buckets": n_buckets, "key_col": key_col,
             "salt_cols": list(salt_cols), "weight_col": weight_col,
             "stats_sample_fraction": stats_sample_fraction,
             "weight_unit": weight_unit,
             "zone_cols": sorted(zone_cols),
             "key_index_cols": sorted(ki_cols)}).encode())
    fsio.write_bytes_atomic(os.path.join(out_dir, "_schema.json"),
                            df.schema.json().encode())
    t_scan = time.time()
    done = scan_done_parts(out_dir) if resume else set()
    resume_scan_wall_s = time.time() - t_scan
    skipped = len(done)
    if done:
        dfb = dfb.filter(~F.col("bucket").isin([int(p) for p in done]))
    # about to (re-)encode parts: a complete-looking list must not
    # survive a crash mid-run — per-part manifests take over until the
    # new list is written at completion
    invalidate_manifest_list(out_dir)

    # ``cluster_by``: opt-in within-bucket sort (no extra shuffle — a
    # per-task sort after the bucket exchange) that CLUSTERS chunk values
    # so the per-chunk zone maps (decode_table(predicate=...)) can prune;
    # without it, salted buckets interleave keys and every chunk's
    # [min, max] spans the whole range. Opt-in because the sort is real
    # wall time (~40 s on the 10 GB corpus, a ~45% encode hit) and pays
    # off only for predicate-heavy read patterns on the sorted columns —
    # the same economics as Iceberg table sort orders. Side effect:
    # ratio improves slightly (0.0738 -> 0.0730 at 10 GB).
    shuffled = repartition_by_bucket(dfb, n_buckets)
    if cluster_by:
        # Deterministic tiebreak: ties on the cluster key otherwise land
        # in shuffle-arrival order, which varies run to run (956/1024 of
        # the 10 GB corpus's part files byte-differed between two
        # identical encodes — measured, BENCH/SCALE_r7.md §dictpages).
        # xxhash64 over every source column is a total order on row
        # CONTENT (equal-hash rows are near-certainly identical rows, and
        # identical rows are interchangeable), so clustered encode
        # becomes byte-reproducible: re-running a part after executor
        # loss or a full re-encode for lineage audit yields identical
        # part bytes and shas. One JVM-side hash per row — no Python,
        # no extra shuffle; the tiebreak only costs comparisons inside
        # tie runs the sort already had to order arbitrarily.
        tie = F.xxhash64(*[F.col(c) for c in df.columns])
        shuffled = (shuffled.withColumn("_fcs_tie", tie)
                    .sortWithinPartitions("bucket", *cluster_by, "_fcs_tie")
                    .drop("_fcs_tie"))
    man_df = shuffled.mapInArrow(
        make_write_kernel(out_dir, chunk_rows, zone_cols=zone_cols,
                          key_index_cols=ki_cols or None),
        MANIFEST_SPARK_SCHEMA,
    )
    manifests = [r.asDict() for r in man_df.collect()]

    wall_s = time.time() - t0
    t_rollup = time.time()
    all_manifests = read_all_manifests(out_dir)
    raw_bytes = sum(m["raw_bytes"] for m in all_manifests)
    enc_bytes = sum(m["enc_bytes"] for m in all_manifests)
    codec_hist: Counter[str] = Counter()
    for m in all_manifests:
        cm = m["codec_map"]
        cm = json.loads(cm) if isinstance(cm, str) else cm
        codec_hist.update(cm)
    summary = {
        "n_parts": len(all_manifests),
        "parts_encoded_this_run": len(manifests),
        "parts_skipped_resume": skipped,
        "n_rows": sum(m["n_rows"] for m in all_manifests),
        "raw_bytes": int(raw_bytes),
        "enc_bytes": int(enc_bytes),
        "ratio": (enc_bytes / raw_bytes) if raw_bytes else None,
        "wall_s": wall_s,
        "throughput_mb_s": (raw_bytes / 1e6 / wall_s) if wall_s > 0 else None,
        "codec_histogram": dict(codec_hist),
        "plan": plan_info,
        # driver-side metadata phase timings: these are the paths that
        # scale with PART COUNT, not data size — the 100-TB risk axis
        "plan_wall_s": round(plan_wall_s, 3),
        "resume_scan_wall_s": round(resume_scan_wall_s, 3),
        "manifest_rollup_wall_s": round(time.time() - t_rollup, 3),
    }
    fsio.write_bytes_atomic(os.path.join(out_dir, "_summary.json"),
                            json.dumps(summary, indent=1).encode())
    write_manifest_list(out_dir, all_manifests)
    return summary


BPE_VOCAB_FILE = "_bpe_merges.txt"


def train_and_store_bpe(df, out_dir: str, text_col: str,
                        n_merges: int = 128, sample_docs: int = 200) -> str:
    """Train a BPE vocab ONCE and store it as table metadata
    (``_bpe_merges.txt`` alongside ``_meta.json``, GPT-2 merges.txt
    format) — token counting over an encoded table then loads the stored
    vocab instead of retraining per query.

    Idempotent: an existing vocab file is kept (resume semantics — the
    vocab is part of the table's identity like ``n_buckets``). The
    training sample is the ``sample_docs`` rows with the smallest
    xxhash64(text) (ties broken on the text itself): a TakeOrderedAndProject
    over a single-column projection, deterministic and independent of the
    input's partitioning/order, same device as the IVF quantizer sample.
    Training itself is bounded driver-side work (train_bpe caps the bytes
    it consumes); the merge table is a few KB.
    """
    from pyspark.sql import functions as F

    from ..functions.bpe import serialize_merges, train_bpe

    path = os.path.join(out_dir, BPE_VOCAB_FILE)
    if fsio.exists(path):
        return path
    fsio.makedirs(out_dir)
    sample = [
        r[0]
        for r in df.select(F.col(text_col).alias("t"))
        .where(F.col("t").isNotNull())
        .orderBy(F.xxhash64("t"), "t")
        .limit(sample_docs)
        .collect()
    ]
    merges = train_bpe(sample, n_merges=n_merges)
    fsio.write_bytes_atomic(path, serialize_merges(merges).encode())
    return path


def load_bpe_vocab(out_dir: str) -> list[tuple[str, str]]:
    """Load the stored merge list of an encoded table; raises
    FileNotFoundError when the table was encoded without a vocab."""
    from ..functions.bpe import deserialize_merges

    path = os.path.join(out_dir, BPE_VOCAB_FILE)
    if not fsio.exists(path):
        raise FileNotFoundError(
            f"no {BPE_VOCAB_FILE} in {out_dir}; call "
            "train_and_store_bpe on the table first")
    return deserialize_merges(fsio.read_bytes(path).decode())


def read_all_manifests(out_dir: str) -> list[dict]:
    listed = _load_manifest_list(out_dir)
    if listed is not None:
        return listed
    mdir = os.path.join(out_dir, "manifests")
    out = []
    for name in fsio.listdir(mdir):
        if name.endswith(".json"):
            try:
                out.append(json.loads(fsio.read_bytes(os.path.join(mdir, name))))
            except (json.JSONDecodeError, OSError):
                continue
    return out


_PRED_OPS = ("=", "<", "<=", ">", ">=", "in")


def normalize_predicate(predicate):
    """Normalize a user predicate into a nested boolean tree.

    Accepted shapes (composable):
      - triple ``(col, op, value)`` with op in ``=,<,<=,>,>=,in``
        (``in`` takes a collection of values)
      - plain list/tuple of predicates — conjunction (AND), the historic
        shape
      - tagged pair ``("and", [preds...])`` / ``("or", [preds...])`` —
        explicit boolean combinators, nestable to any depth

    Returns ``("leaf", col, op, value)`` / ``("and", [nodes])`` /
    ``("or", [nodes])``, or None for an empty predicate. Any other shape
    raises ValueError naming the expected forms up front — a malformed
    predicate must fail loudly here, not as an opaque unpack error deep
    in the decode path.
    """
    if predicate is None:
        return None
    node = _norm_pred(predicate)
    return node


def _norm_pred(p):
    def bad(detail: str) -> ValueError:
        return ValueError(
            f"decode predicate: {detail}; expected a (col, op, value) "
            f"triple with op in {_PRED_OPS}, a list of predicates (AND), "
            f"or ('and'|'or', [predicates...]) — got {p!r}")

    if not isinstance(p, (list, tuple)):
        raise bad(f"not a sequence: {type(p).__name__}")
    if (len(p) == 3 and isinstance(p[0], str)
            and isinstance(p[1], str) and p[1] in _PRED_OPS):
        col, op, val = p
        if op == "in" and not isinstance(val, (list, tuple, set, frozenset)):
            raise bad("op 'in' needs a collection of values")
        return ("leaf", col, op, list(val) if op == "in" else val)
    if len(p) == 2 and p[0] in ("and", "or"):
        tag, subs = p
        if not isinstance(subs, (list, tuple)) or not subs:
            raise bad(f"('{tag}', ...) needs a non-empty list of predicates")
        return (tag, [_norm_pred(s) for s in subs])
    if len(p) == 0:
        return None
    if (len(p) == 3 and isinstance(p[0], str) and isinstance(p[1], str)):
        raise bad(f"op {p[1]!r} not in {_PRED_OPS}")
    # plain sequence of predicates = conjunction
    if not all(isinstance(s, (list, tuple)) for s in p):
        raise bad("a conjunction list must contain only predicates "
                  "(triples / tagged pairs / nested lists)")
    subs = [_norm_pred(s) for s in p]
    return subs[0] if len(subs) == 1 else ("and", subs)


def pred_columns(node) -> set:
    """Every column name referenced anywhere in a predicate tree."""
    if node is None:
        return set()
    if node[0] == "leaf":
        return {node[1]}
    out: set = set()
    for s in node[1]:
        out |= pred_columns(s)
    return out


def predicate_column_expr(node):
    """Catalyst Column for a predicate tree — the EXACT filter applied on
    top of zone pruning (zone maps only prune; rows are still filtered
    precisely)."""
    import functools
    import operator as _op

    from pyspark.sql import functions as F

    if node[0] == "leaf":
        _, col, op, val = node
        c = F.col(col)
        return (c.isin(list(val)) if op == "in" else
                {"=": c == val, "<": c < val, "<=": c <= val,
                 ">": c > val, ">=": c >= val}[op])
    exprs = [predicate_column_expr(s) for s in node[1]]
    return functools.reduce(
        _op.and_ if node[0] == "and" else _op.or_, exprs)


def _may_match_part(node, zones: dict) -> bool:
    """Can any row of a part satisfy the predicate tree, judging only by
    the part's manifest zone bounds? Missing bounds -> True (absence of
    evidence never prunes). AND prunes if ANY branch is impossible; OR
    prunes only if EVERY branch is impossible — each is an upper bound
    on satisfiability, so pruning is always safe."""
    if node[0] == "leaf":
        _, col, op, val = node
        ivs = zones.get(col)
        if not ivs:
            return True
        return any(_pred_may_match(iv, op, val) for iv in ivs)
    if node[0] == "and":
        return all(_may_match_part(s, zones) for s in node[1])
    return any(_may_match_part(s, zones) for s in node[1])


def _may_match_chunk(node, stats: dict, cid: int) -> bool:
    """Same logic at chunk granularity: ``stats[(col, cid)]`` holds the
    chunk's meta dict with ``zs`` [min, max] bounds and optionally
    ``zsv`` (distinct-value list — exact membership on low-cardinality
    chunks, see operators/encode.py _zone_stats)."""
    if node[0] == "leaf":
        _, col, op, val = node
        md = stats.get((col, cid))
        if md is None:
            return True  # no stats -> may match
        zsv = md.get("zsv")
        if zsv is not None:
            return any(_pred_may_match([v, v], op, val) for v in zsv)
        return _pred_may_match(md.get("zs"), op, val)
    if node[0] == "and":
        return all(_may_match_chunk(s, stats, cid) for s in node[1])
    return any(_may_match_chunk(s, stats, cid) for s in node[1])


def _pred_may_match(zs, op: str, value) -> bool:
    """Can any value in [zs[0], zs[1]] satisfy ``op value``? Missing or
    malformed stats -> True (never prune on absence of evidence).
    ``in`` takes a collection: may-match iff any member might."""
    try:
        mn, mx = zs
    except (TypeError, ValueError):
        return True
    if mn is None or mx is None:
        return True
    try:
        if op == "in":
            return any(mn <= v <= mx for v in value)
        if op == "=":
            return mn <= value <= mx
        if op == "<":
            return mn < value
        if op == "<=":
            return mn <= value
        if op == ">":
            return mx > value
        if op == ">=":
            return mx >= value
    except TypeError:  # incomparable types -> no pruning
        return True
    return True


def _pred_ops_by_col(node, acc: dict | None = None) -> dict:
    """column -> set of leaf ops appearing for it in a predicate tree."""
    if acc is None:
        acc = {}
    if node is None:
        return acc
    if node[0] == "leaf":
        acc.setdefault(node[1], set()).add(node[2])
        return acc
    for s in node[1]:
        _pred_ops_by_col(s, acc)
    return acc


def _warn_non_pruning_predicates(meta: dict | None, pcols: list,
                                 pred=None) -> None:
    """One-line runtime warning (VERDICT r6 item 6) when a predicate
    column structurally cannot prune at PART level, so the user learns
    the sort-order guidance where it matters instead of from BENCH
    docs. Parts are bucketed by ``key_col``: only that column's
    part-level bounds are tight; other zone columns carry bounds but —
    the measured §4 case (BENCH/SCALE_r6.md, honest 0.93x) — their
    per-part ranges span the space, so pruning degrades to CHUNK level
    at best, and a column with no zone stats at all only gets the
    exact row filter. Purely advisory — behavior is unchanged.
    ``meta``: the table's _meta.json (None = no layout facts, no
    warning)."""
    import warnings

    if meta is None:
        return
    key_col = meta.get("key_col")
    zone_cols = meta.get("zone_cols")
    indexed = set(meta.get("key_index_cols") or ())
    ops_by_col = _pred_ops_by_col(pred)
    for pcol in pcols:
        if pcol == key_col:
            continue
        if pcol in indexed and ops_by_col.get(pcol, set()) <= {"=", "in"}:
            # point lookups prune via the key-index sidecars — but ONLY
            # =/in leaves do (r8, ADVICE r7): a range op on an indexed,
            # unzoned column still scans every part and keeps its warning
            continue
        if zone_cols != "all" and pcol not in (zone_cols or []):
            warnings.warn(
                f"decode_table: predicate column {pcol!r} has no zone "
                f"stats in this layout (zone_cols={zone_cols}) — no "
                "part- or chunk-level pruning, rows are filtered after "
                "decode; for selective scans re-encode with "
                f"cluster_by including {pcol!r}", stacklevel=3)
        else:
            warnings.warn(
                f"decode_table: predicate column {pcol!r} is not the "
                f"bucketing key ({key_col!r}) — parts are laid out by "
                f"{key_col!r}, so part-level pruning on {pcol!r} is "
                "structurally weak (chunk-level zone pruning inside "
                "surviving parts at best); for part-level pruning "
                f"re-encode with key_col={pcol!r}", stacklevel=3)


def pack_consecutive(sizes: list, target: int) -> list[list[int]]:
    """Pack items into runs of consecutive indices of about ``target``
    bytes, order kept (consecutive parts keep cluster_by key locality
    and tight zones). An item of ``target`` or more, or of unknown size
    (None), stands alone; smaller items pack until their run reaches
    ``target``. Used by compaction merges; decode tasks use
    ``balanced_runs``, which balances the runs against each other."""
    groups: list[list[int]] = []
    cur: list[int] = []
    cur_b = 0
    for i, sz in enumerate(sizes):
        if sz is None or sz >= target:
            if cur:
                groups.append(cur)
                cur, cur_b = [], 0
            groups.append([i])
            continue
        cur.append(i)
        cur_b += max(sz, 1)
        if cur_b >= target:
            groups.append(cur)
            cur, cur_b = [], 0
    if cur:
        groups.append(cur)
    return groups


def part_chunk_rows(path: str, filters=None
                    ) -> Iterator[tuple[dict, dict]]:
    """A part file's enc rows per chunk, in chunk order, as decode_chunk
    takes them: (column -> enc row, the part's dictionary pages by
    column). ``filters``: pyarrow filters on the part's rows (projection,
    pruned chunks)."""
    # one C-level conversion for the whole part file instead of per-cell
    # .as_py() round trips through Python objects
    by_chunk: dict[int, dict[str, dict]] = {}
    pages: dict[str, bytes] = {}
    for row in fsio.read_parquet(path, filters=filters).to_pylist():
        if row["chunk_id"] == PAGE_CHUNK_ID:
            if row["dict"] is not None:
                pages[row["column"]] = row["dict"]
        else:
            by_chunk.setdefault(row["chunk_id"], {})[row["column"]] = row
    for cid in sorted(by_chunk):
        yield by_chunk[cid], pages


def balanced_runs(sizes: list, n: int, cap: int) -> list[list[int]]:
    """Split items into runs of consecutive indices, order kept: exactly
    ``min(len(sizes), n)`` runs, with the largest as small as any such
    split allows, unless ``cap`` or unknown sizes force more. No run
    passes ``cap`` bytes unless one item alone does, and an item of
    unknown size (None) stands alone. The runs are the tasks of
    decode_table. Sizes [1, 5, 1, 3] in 2 runs are [[0, 1], [2, 3]],
    where ``pack_consecutive`` at target 5 makes 3, because a large item
    closes the run before it."""
    w = [None if s is None else max(int(s), 1) for s in sizes]

    def cut(bound: int) -> list[list[int]]:
        # greedy: a run closes before the item that would take it past
        # bound (the fewest runs that fit it), and once the items left
        # can each stand alone within n runs, they do
        runs: list[list[int]] = []
        run_b = None
        for i, s in enumerate(w):
            if (s is None or run_b is None or run_b + s > bound
                    or len(runs) + len(w) - i <= n):
                runs.append([i])
                run_b = s
            else:
                runs[-1].append(i)
                run_b += s
        return runs

    known = [s for s in w if s is not None]
    if not known:
        return cut(0)
    n = max(n, -(-sum(known) // cap))
    lo, hi = max(known), sum(known)
    while lo < hi:  # the least bound whose greedy cut fits n runs
        mid = (lo + hi) // 2
        if len(cut(mid)) <= n:
            hi = mid
        else:
            lo = mid + 1
    return cut(min(lo, cap))


# most bytes of part files one decode task reads, unless one part alone
# is larger (see decode_table "Task granularity")
DECODE_TASK_BYTES = 64 << 20


def decode_table(spark, out_dir: str,
                 columns: list[str] | None = None,
                 predicate: tuple | list | None = None):
    """Read an encoded table directory back as the original DataFrame.

    Concurrency contract (ADVICE r7): the table directory is
    single-writer. A decode whose check_format_version ran before a
    concurrent compact_table wrote _compact_state.json can race the
    compaction's part removal and fail mid-read with file-not-found —
    LOUD and retriable (re-run the decode after the compaction
    finishes), never silently wrong data; the manifest-list cross-check
    narrows but does not close the window. Serialize compaction against
    readers, or treat a missing-part read error during a known
    compaction as "compaction in progress — retry".

    Plan shape: each task decodes whole part files in place — NO shuffle
    at all. The enc layout is chunk-aligned by construction, so decode
    is embarrassingly parallel; every chunk is sha-checked and decoded
    by operators/encode.py decode_chunk, with the part's dictionary
    pages read from the same file.

    ``columns``: decode only a projection — the engine-format equivalent
    of parquet column pruning. Non-selected columns' payload rows are
    filtered at the parquet read (pyarrow filter pushdown per part), so
    their bytes never reach a codec.

    ``predicate``: ``(col, op, value)`` with op one of
    ``=,<,<=,>,>=,in`` (``in`` takes a collection of values), a
    LIST of predicates (conjunction — every one must hold), or a tagged
    boolean combinator ``("and"|"or", [predicates...])`` nestable to any
    depth (see normalize_predicate) — zone-map predicate pushdown into
    the engine format. A disjunction prunes a part/chunk only when EVERY
    branch is impossible by its bounds (union of keeps), so
    ``("or", [("repo","=",a), ("repo","=",b)])`` on a clustered table
    reads exactly the parts holding either repo. Each chunk's
    meta carries [min, max] bounds for string/int/float columns
    (operators/encode.py _zone_stats), and each part's MANIFEST carries
    the part-level fold of those bounds. Pruning happens at two levels:
    (1) the driver reads the (consolidated) manifest list and drops
    excluded parts before they become tasks — the Iceberg
    manifest-pruning shape, so a selective predicate scales with
    matching parts, not total parts; (2) surviving parts read the
    predicate column's (tiny) meta rows and drop excluded chunks. A
    part whose every chunk is excluded is skipped whole — no payload
    bytes read at all. Within a surviving part, excluded chunks are dropped by a
    chunk_id filter: that skips their DECODE cost, but because row
    groups are aligned one-per-COLUMN (for projection page-skipping),
    each row group's chunk_id stats span all chunks, so the pruned
    chunks' payload bytes are still read — byte-level skipping inside a
    part would need per-(column, chunk) row groups, a footer-bloat
    trade this format deliberately doesn't make. Exactness comes from a
    normal catalyst filter applied on top — zone maps only prune, rows
    are still filtered precisely. Pruning power follows data clustering:
    a predicate on the bucketing key (repo) eliminates almost every
    part; a predicate on an unclustered column degrades gracefully to
    the plain filtered decode.

    Task granularity: every task pays a fixed cost (scheduling, Python
    worker Arrow stream setup, parquet footer read). On ``local[2]``, a
    no-op ``mapInArrow`` job costs 0.113-0.128 s with 1 task, 0.123-0.139
    s with 2, 0.169-0.189 s with 4 and 0.275-0.292 s with 8 (medians of
    11), while a serial in-process decode of the whole 8-part codefiles
    table takes 0.17 s. So the driver runs at most defaultParallelism
    decode tasks: ``balanced_runs`` splits the parts into that many runs
    of CONSECUTIVE parts (cluster_by key locality and row order kept),
    balanced by the ``file_bytes`` the manifest list already carries,
    and caps a run at DECODE_TASK_BYTES so a large table still gets many
    tasks. A part without a manifest has no known size and runs alone.
    Inside a task, ``decode_chunks`` decodes each chunk on the worker's
    chunk thread while the task's thread returns the previous one to the
    JVM and reads the next part file; at most two decoded chunks are
    held, never a whole decoded part. perfbench codefiles_scan on
    ``local[2]`` (4-core host), against the floor of 4 groups per core
    this replaced, 10 interleaved pairs on seeds 1, 2, 3, 5 and the
    held-out 1000003: median 313.7 -> 498.3 MB/s, 10/10 won; seed 1's 8
    parts run as 2 tasks instead of 6, and a no-op decode of its table
    fell from 0.35-0.36 s to 0.21 s (traced).
    ``spark.python.unix.domain.socket.enabled`` cuts a no-op task's wait
    for its input batch over TCP (Linux's delayed ACK) and added
    1.05-1.32x on top of one task per core (4 seeds, sequential runs),
    but it is not set: the driver binds the socket under
    ``java.io.tmpdir``, and session start fails with ``OSError: AF_UNIX
    path too long`` when that directory is long (seen with a
    103-character one). The groups are the partitions of
    ``spark.range(len(groups))``; the kernel looks each id up in the
    group list, so no exchange stage runs before the decode.

    The table's _meta.json, _schema.json and manifest list are each
    read once per call.
    """
    from pyspark.sql.types import StructType

    from ..operators.encode import decode_chunks
    from .keyindex import part_may_match

    meta = read_table_meta(out_dir)
    check_format_version(out_dir, meta)  # fail "format too old", not "corrupt"
    full_schema = StructType.fromJson(
        json.loads(fsio.read_bytes(os.path.join(out_dir, "_schema.json"))))
    all_names = set(full_schema.names)
    # normalize into the boolean predicate tree (validates shape/ops)
    pred = normalize_predicate(predicate)
    pcols_all = sorted(pred_columns(pred))
    for pcol in pcols_all:
        if pcol not in all_names:
            raise ValueError(f"decode_table: unknown predicate column {pcol!r}")
        if columns is not None and pcol not in columns:
            raise ValueError(
                "decode_table: predicate column must be in the projection")
    schema = full_schema
    if columns is not None:
        missing = set(columns) - all_names
        if missing:
            raise ValueError(f"decode_table: unknown columns {sorted(missing)}")
        schema = StructType([f for f in full_schema.fields
                             if f.name in columns])
    column_order = schema.names
    data_dir = os.path.join(out_dir, "data")
    files = [os.path.join(data_dir, f) for f in fsio.listdir(data_dir)
             if f.endswith(".parquet")]
    manifests = {int(m["part_id"]): m for m in read_all_manifests(out_dir)}

    ki_cols: frozenset = frozenset()
    ki_types: dict = {}
    if pred:
        _warn_non_pruning_predicates(meta, pcols_all, pred)
        # manifest pruning (Iceberg pattern, r5): every part manifest
        # carries part-level zone bounds per zone column; one driver-side
        # read of the (consolidated) manifest list drops excluded parts
        # BEFORE they become tasks. At 1024 parts the earlier shape —
        # schedule every part and let its task read zone meta — made a
        # 0.16%-selective decode SLOWER than a full decode (per-part
        # fixed cost dominates); pruning at the driver makes it scale
        # with matching parts, not total parts. Manifests without zones
        # (or a missing bound for the column) keep the part: absence of
        # evidence never prunes. AND: a part survives only if EVERY
        # branch may-match; OR: it survives if ANY branch may-match
        # (union of keeps over the same bounds — see _may_match_part).
        def _zones_may_match(path: str) -> bool:
            m = manifests.get(part_id_of(path))
            return m is None or _may_match_part(pred, m.get("zones") or {})

        files = [p for p in files if _zones_may_match(p)]

        # key-index point-lookup pruning (plans/keyindex.py): active only
        # when the table was encoded with key_index_cols AND the
        # predicate has =/in leaves on one of them. Probed at TASK level
        # inside _decode_part — index bytes scale with rows-per-part, so
        # a driver-side pass would re-grow the O(parts)-reads problem
        # the manifest list solved (same placement economics as Parquet
        # blooms).
        eq_cols = {c for c, ops in _pred_ops_by_col(pred).items()
                   if ops & {"=", "in"}}
        ki_cols = frozenset((meta or {}).get("key_index_cols") or ()) \
            & eq_cols
        # column -> canonical probe type ('string'|'int') from the table
        # schema: probes that don't match the column type exactly can
        # never refute (keyindex.probe_hashes)
        _int_t = {"integer", "long", "short", "byte"}
        for f in full_schema.fields:
            if f.name in ki_cols:
                tn = f.dataType.typeName()
                ki_types[f.name] = ("string" if tn == "string"
                                    else "int" if tn in _int_t else tn)

    # task groups (see docstring): at most one run of consecutive parts
    # per core, balanced by bytes. A part without a manifest has no known
    # size and gets its own group — grouping is a performance layer,
    # never a correctness one.
    fsizes = []
    for p in files:
        m = manifests.get(part_id_of(p))
        fsizes.append(None if m is None else int(m.get("file_bytes") or 0))
    par = max(spark.sparkContext.defaultParallelism, 1)
    groups = [[files[i] for i in g]
              for g in balanced_runs(fsizes, par, DECODE_TASK_BYTES)]
    flt = [("column", "in", sorted(column_order))] \
        if len(column_order) < len(all_names) else None

    def _part_chunks(path):
        part_flt = flt
        pid = part_id_of(path)
        if ki_cols and pid is not None and not part_may_match(
                pred, out_dir, pid, ki_cols, ki_types):
            return  # no probe hash in this part's key set
        if pred:
            # zone-map pass: the predicate columns' meta rows are
            # tiny; excluded chunks are dropped via the chunk_id
            # filter (skips decode cost; their payload bytes are
            # still read unless the WHOLE part prunes — row
            # groups are per-column, see decode_table docstring).
            # AND/OR follow _may_match_chunk: a chunk survives an
            # AND only if every branch may-match, an OR if any
            # branch does.
            zmeta = fsio.read_parquet(
                path, filters=[("column", "in", pcols_all)],
                columns=["column", "chunk_id", "meta"])
            stats: dict[tuple, dict] = {}
            chunk_ids = set()
            for col, cid, mj in zip(
                    zmeta.column("column").to_pylist(),
                    zmeta.column("chunk_id").to_pylist(),
                    zmeta.column("meta").to_pylist()):
                if int(cid) == PAGE_CHUNK_ID:
                    continue  # page rows carry no zone stats
                stats[(col, int(cid))] = json.loads(mj)
                chunk_ids.add(int(cid))

            keep = [cid for cid in sorted(chunk_ids)
                    if _may_match_chunk(pred, stats, cid)]
            if not keep:
                return  # whole part pruned
            if len(keep) < len(chunk_ids):
                # page rows (chunk_id = PAGE_CHUNK_ID) must survive
                # any chunk pruning — dp chunks decode through them
                part_flt = (part_flt or []) + [
                    ("chunk_id", "in", keep + [PAGE_CHUNK_ID])]
        yield from part_chunk_rows(path, part_flt)

    def decode_groups(batches):
        # mapInArrow: decoded chunks go back to the JVM as Arrow batches
        # directly — no pandas materialization on the decode hot path;
        # each incoming id row names one task GROUP of part paths
        return decode_chunks(
            (chunk for b in batches for i in b.column(0).to_pylist()
             for path in groups[i] for chunk in _part_chunks(path)),
            column_order)

    # one task per group, straight from a range: no exchange stage
    dec = spark.range(len(groups), numPartitions=max(len(groups), 1)) \
        .mapInArrow(decode_groups, schema=schema)
    return dec.filter(predicate_column_expr(pred)) if pred else dec


def snappy_baseline_bytes(df, baseline_dir: str) -> int:
    """Reference comparator (B15): bytes of a Parquet/Snappy write of the
    same data — the size FileConvert's csv2parquet round-trip tests define
    (BASELINE.json line 6)."""
    df.write.mode("overwrite").option("compression", "snappy").parquet(baseline_dir)
    return fsio.du_suffix(baseline_dir, ".parquet")
