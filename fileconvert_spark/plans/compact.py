"""Encoded-table compaction — Iceberg ``rewrite_data_files`` parity for
the engine format (SURVEY.md §2 B13/B14 lifecycle companion).

Why it exists: the streaming incremental encoder (streaming/incremental.py)
and any fine-bucketed job accrete SMALL part files over time. Decode-side
task grouping (decode_table packs consecutive parts into ~64 MiB tasks)
already keeps read parallelism healthy, but the file COUNT itself still
grows without bound — manifest-list size, listdir cost, object-store GET
count, and per-file footer overhead all scale with parts, not bytes.
Compaction merges runs of consecutive small parts into ~target-size parts
WITHOUT decoding a single value:

- chunk payloads move byte-identical (codecs are chunk-local by design);
- part dictionary pages (format v4) are first expanded back into
  self-contained chunk dictionaries (page values .take(local_map)), then
  re-consolidated across the WIDER merged part — cross-part dictionary
  overlap the original per-part pages could not see is captured here;
- chunk ids are renumbered per source part (order-preserving), chunk
  integrity shas recomputed where dict/meta changed;
- the merged part's manifest (zones fold, codec map, sha256_part) is
  rebuilt by the same write_part_file the encoder uses, and records
  ``src_parts`` lineage.

Crash-safety (single writer, like Iceberg without a catalog's atomic
swap): a two-phase state file ``_compact_state.json``:

  phase=staging    written BEFORE any new part file; lists planned adds
                   and removes. A crash here rolls BACK (delete adds).
  phase=committed  written only after every merged part + manifest is
                   on disk. A crash here rolls FORWARD (delete removes,
                   rewrite the manifest list).

``check_format_version`` (called by decode_table and encode resume)
refuses a directory with a state file present, pointing at
``recover_compaction``; recovery is idempotent in both directions.

After compaction the original bucket->part mapping is gone, so
``encode_table(resume=True)`` into a compacted dir is refused via the
``compacted`` stamp in _meta.json (re-encoding missing buckets would
duplicate rows already inside merged parts).

Scale shape: the driver plans groups from manifest metadata only (no data
read); each group is one executor task that reads its run of small files
and writes one — no shuffle of encoded bytes, parallelism = number of
groups. This is exactly Iceberg's rewriteDataFiles bin-packing action.

Known trade (measured, tools/scale_compact.py): part-LEVEL predicate
pruning coarsens — a merged part's zone fold caps at 32 intervals over
what used to be many parts' worth of key runs, so a selective predicate
prunes fewer parts after compaction (Iceberg bin-packing has the same
property). Chunk-level zone pruning inside surviving parts is unchanged
(chunk metas move byte-identical). Pick target_bytes accordingly:
compaction is for file-count pathology, not for read-path tuning of
heavily predicate-scanned tables.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa

from . import fsio
from ..operators.encode import (
    PAGE_CHUNK_ID,
    chunk_integrity_sha,
    consolidate_part_dicts,
    resolve_page_dict,
)
from .manifest import (
    MANIFEST_SPARK_SCHEMA,
    check_format_version,
    invalidate_manifest_list,
    manifest_batch,
    pack_consecutive,
    part_id_of,
    read_all_manifests,
    read_table_meta,
    write_manifest_list,
    write_part_file,
)

COMPACT_STATE = "_compact_state.json"


def _expand_dict_pages(tbl: pa.Table, src_pid: int) -> list[dict]:
    """One source part's enc rows as self-contained dicts: page rows are
    dropped and every dp-chunk's packed local->global map is materialized
    back into a chunk-local value dictionary (integrity sha recomputed —
    the page sha check runs first, so the envelope never weakens)."""
    from ..functions.codecs import _flagged_blob_encode

    chunk_ids = tbl.column("chunk_id").to_pylist()
    pages: dict[str, bytes | None] = {}
    for i, cid in enumerate(chunk_ids):
        if cid == PAGE_CHUNK_ID:
            pages[tbl.column("column")[i].as_py()] = \
                tbl.column("dict")[i].as_py()
    keep = [i for i, cid in enumerate(chunk_ids) if cid != PAGE_CHUNK_ID]
    rows = tbl.take(keep).to_pylist()
    for r in rows:
        # verify EVERY chunk's integrity envelope before any byte is
        # rewritten: compaction recomputes shas for rewritten chunks, so
        # skipping this would LAUNDER at-rest corruption into chunks
        # that then pass every future decode check (review finding, r7)
        got = chunk_integrity_sha(r["payload"], r["dict"], r["validity"],
                                  r["meta"])
        if got != bytes(r["sha256_chunk"]):
            raise ValueError(
                f"compact: integrity sha mismatch in part {src_pid} "
                f"chunk {r['chunk_id']} column {r['column']!r} — bytes "
                "corrupted at rest; refusing to rewrite (decode the "
                "part to get the full DecodeError context)")
        meta = json.loads(r["meta"])
        if meta.get("dp") != 1:
            continue
        local_vals = resolve_page_dict(
            pages.get(r["column"]), r["dict"], meta.get("ps"),
            f" [compact part {src_pid} chunk {r['chunk_id']} "
            f"column {r['column']!r}]")
        new_dict = _flagged_blob_encode(local_vals)
        meta.pop("dp", None)
        meta.pop("ps", None)
        mj = json.dumps(meta, separators=(",", ":"))
        r["dict"] = new_dict
        r["meta"] = mj
        r["sha256_chunk"] = chunk_integrity_sha(
            r["payload"], new_dict, r["validity"], mj)
        r["enc_bytes"] = (len(r["payload"]) + len(new_dict)
                          + (len(r["validity"]) if r["validity"] else 0)
                          + len(mj))
    return rows


def _merge_sidecars(out_dir: str, new_pid: int, src_pids: list[int],
                    ki_cols: list[str]) -> None:
    """Union the source parts' key-index sidecars into the merged
    part's. A missing/corrupt source sidecar skips that column entirely
    (absence never prunes, so the merged part just loses pruning power
    for it — never correctness)."""
    from .keyindex import index_path, load_index, write_part_index

    for col in ki_cols:
        union: set[int] = set()
        ok = True
        for pid in src_pids:
            try:
                union.update(
                    load_index(fsio.read_bytes(
                        index_path(out_dir, pid, col))).tolist())
            except (OSError, ValueError):
                ok = False
                break
        if ok:
            write_part_index(out_dir, new_pid, col, union)


def _merge_group(out_dir: str, new_pid: int, src_pids: list[int],
                 t0: float, ki_cols: list[str] | None = None) -> dict:
    """Executor-side: merge one run of source parts into part new_pid."""
    merged: list[dict] = []
    offset = 0
    for pid in src_pids:
        path = os.path.join(out_dir, "data", f"part-{pid:05d}.parquet")
        tbl = fsio.read_parquet(path)
        rows = _expand_dict_pages(tbl, pid)
        max_cid = -1
        for r in rows:
            cid = int(r["chunk_id"])
            max_cid = max(max_cid, cid)
            r["chunk_id"] = cid + offset
            r["part_id"] = new_pid
        offset += max_cid + 1
        merged.extend(rows)
    if ki_cols:
        _merge_sidecars(out_dir, new_pid, src_pids, ki_cols)
    # cross-part dictionary-page consolidation over the merged part: the
    # whole point of merging clustered small parts — value overlap that
    # per-part pages could not capture
    return write_part_file(out_dir, new_pid,
                           consolidate_part_dicts(merged, new_pid), t0,
                           extra={"src_parts": [int(p) for p in src_pids]})


def make_compact_kernel(out_dir: str, plan: list[tuple[int, list[int]]],
                        ki_cols: list[str] | None = None):
    """mapInArrow kernel over ``spark.range(len(plan))``: each id row
    merges ``plan[id]`` = (new part id, source part ids)."""
    def fn(batches):
        t0 = time.time()
        rows = []
        for b in batches:
            for i in b.column(0).to_pylist():
                new_pid, src_pids = plan[i]
                rows.append(_merge_group(out_dir, new_pid, src_pids, t0,
                                         ki_cols=ki_cols))
        if rows:
            yield manifest_batch(rows)

    return fn


def _state_path(out_dir: str) -> str:
    return os.path.join(out_dir, COMPACT_STATE)


def _remove_parts(out_dir: str, pids: list[int]) -> None:
    for pid in pids:
        for sub, ext in (("data", ".parquet"), ("manifests", ".json")):
            p = os.path.join(out_dir, sub, f"part-{pid:05d}{ext}")
            if fsio.exists(p):
                fsio.remove(p)
    idx_dir = os.path.join(out_dir, "indexes")
    if fsio.exists(idx_dir):
        doomed = {int(p) for p in pids}
        for name in fsio.listdir(idx_dir):
            # names are part-XXXXX.<col>.idx — parse the pid once
            # instead of prefix-scanning (O(files x pids) at 8192 parts)
            if name.endswith(".idx") and part_id_of(name) in doomed:
                fsio.remove(os.path.join(idx_dir, name))


def _stamp_compacted(out_dir: str) -> None:
    meta_path = os.path.join(out_dir, "_meta.json")
    if fsio.exists(meta_path):
        meta = json.loads(fsio.read_bytes(meta_path))
        if not meta.get("compacted"):
            meta["compacted"] = True
            fsio.write_bytes_atomic(meta_path, json.dumps(meta).encode())


def plan_groups(manifests: list[dict], target_bytes: int) -> list[list[int]]:
    """Runs of CONSECUTIVE part ids whose file_bytes pack to about
    target_bytes (manifest.pack_consecutive; consecutive = cluster_by key
    locality and zone tightness survive the merge). Parts already >=
    target stand alone."""
    by_pid = {int(m["part_id"]): int(m.get("file_bytes") or 0)
              for m in manifests}
    pids = sorted(by_pid)
    return [[pids[i] for i in g] for g in
            pack_consecutive([by_pid[p] for p in pids], target_bytes)]


def compact_table(spark, out_dir: str, target_bytes: int = 64 << 20) -> dict:
    """Merge small parts of a COMPLETE encoded table into ~target-size
    parts. Returns a summary dict; no-op (and says so) when every part
    already meets the target. See module docstring for semantics."""
    check_format_version(out_dir)  # also refuses an interrupted compaction
    manifests = read_all_manifests(out_dir)
    if not manifests:
        raise ValueError(f"compact_table: no manifests under {out_dir}")
    not_done = [m["part_id"] for m in manifests if m.get("status") != "done"]
    if not_done:
        raise ValueError(
            "compact_table requires a complete table — parts not done: "
            f"{sorted(not_done)[:10]} (finish or re-run the encode first)")
    pids = sorted(int(m["part_id"]) for m in manifests)
    t0 = time.time()
    groups = plan_groups(manifests, target_bytes)
    merge = [g for g in groups if len(g) >= 2]
    if not merge:
        return {"n_parts_before": len(pids), "n_parts_after": len(pids),
                "groups_merged": 0, "noop": True, "wall_s": 0.0}
    next_pid = max(pids) + 1
    plan = [(next_pid + i, g) for i, g in enumerate(merge)]
    add = [p for p, _ in plan]
    remove = [pid for _, g in plan for pid in g]

    # phase 1: staging marker BEFORE any new file exists; the stale
    # manifest list must not survive the mutation either way
    fsio.write_bytes_atomic(_state_path(out_dir), json.dumps(
        {"phase": "staging", "add": add, "remove": remove}).encode())
    invalidate_manifest_list(out_dir)

    ki_cols = list((read_table_meta(out_dir) or {})
                   .get("key_index_cols") or ())
    # one task per merge group, straight from a range: no exchange stage
    man_rows = spark.range(len(plan), numPartitions=len(plan)).mapInArrow(
        make_compact_kernel(out_dir, plan, ki_cols),
        MANIFEST_SPARK_SCHEMA).collect()
    if len(man_rows) != len(plan):
        raise RuntimeError(
            f"compact_table: {len(plan)} groups planned but "
            f"{len(man_rows)} merged parts written — aborting before the "
            "commit point (recover_compaction rolls the staging back)")

    # phase 2: commit point — every merged part + manifest is on disk
    fsio.write_bytes_atomic(_state_path(out_dir), json.dumps(
        {"phase": "committed", "add": add, "remove": remove}).encode())
    _remove_parts(out_dir, remove)
    _stamp_compacted(out_dir)
    all_m = read_all_manifests(out_dir)
    write_manifest_list(out_dir, all_m)
    fsio.remove(_state_path(out_dir))

    before_files = len(pids)
    after_files = len(all_m)
    return {
        "n_parts_before": before_files,
        "n_parts_after": after_files,
        "groups_merged": len(plan),
        "parts_removed": len(remove),
        "bytes_written": int(sum(r["file_bytes"] for r in man_rows)),
        "noop": False,
        "wall_s": round(time.time() - t0, 3),
    }


def recover_compaction(out_dir: str) -> str:
    """Finish or undo an interrupted compact_table. Idempotent.

    staging   -> roll BACK: delete any staged merged parts; originals
                 are untouched by construction (removes only happen
                 after the committed stamp).
    committed -> roll FORWARD: every merged part is on disk; delete the
                 source parts, stamp _meta.json, rebuild the list.
    Returns 'clean' | 'rolled_back' | 'rolled_forward'.
    """
    sp = _state_path(out_dir)
    if not fsio.exists(sp):
        return "clean"
    state = json.loads(fsio.read_bytes(sp))
    if state.get("phase") == "staging":
        _remove_parts(out_dir, state["add"])
        write_manifest_list(out_dir, read_all_manifests(out_dir))
        fsio.remove(sp)
        return "rolled_back"
    _remove_parts(out_dir, state["remove"])
    _stamp_compacted(out_dir)
    write_manifest_list(out_dir, read_all_manifests(out_dir))
    fsio.remove(sp)
    return "rolled_forward"
