"""Byte-identity regression for the part writer and compaction.

Runs the encode write kernel (``make_write_kernel``) in process over
fixed Arrow batches of a clustered codefiles slice, then merges two of
the written parts with ``compact._merge_group``, and pins a sha256 over
every data file plus every manifest (``wall_ms`` dropped). The slice is
sized so the parts hold several chunks each and build dictionary pages,
so page consolidation is part of what is pinned.

No Spark session is needed: ``TaskContext.get()`` is None outside a
task, and both kernels are plain functions over Arrow batches and files.
The worker-level FSST table and page caches are cleared first, so the
digest does not depend on what earlier tests encoded.
"""

import hashlib
import json
import os

import pyarrow as pa

from fileconvert_spark.operators import encode as E
from fileconvert_spark.plans import compact
from fileconvert_spark.plans.manifest import make_write_kernel

WRITER_DIGEST = \
    "1c8313bc366e8384d3d3116b3f1f2d4fa7f7a99ad87440cc90dcbd809ef30172"


def _clustered_batches() -> list[pa.RecordBatch]:
    from fileconvert_spark.corpus import make_codefiles

    pdf = make_codefiles(3000, seed=411).sort_values(
        ["repo", "path"], kind="stable").reset_index(drop=True)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    bucket = pa.array([min(i * 3 // len(pdf), 2) for i in range(len(pdf))],
                      type=pa.int32())
    return tbl.append_column("bucket", bucket).to_batches(max_chunksize=700)


def _dir_digest(out_dir: str) -> str:
    h = hashlib.sha256()
    for sub in ("data", "manifests"):
        for name in sorted(os.listdir(os.path.join(out_dir, sub))):
            with open(os.path.join(out_dir, sub, name), "rb") as f:
                blob = f.read()
            if sub == "manifests":
                m = json.loads(blob)
                m.pop("wall_ms")
                blob = json.dumps(m, sort_keys=True).encode()
            for part in (f"{sub}/{name}".encode(), blob):
                h.update(len(part).to_bytes(8, "little"))
                h.update(part)
    return h.hexdigest()


def test_part_writer_and_compaction_digest_pinned(tmp_path):
    _check_writer_digest(tmp_path)


def test_part_writer_digest_pinned_without_native(tmp_path, monkeypatch):
    """The Arrow/NumPy paths (FCS_NO_NATIVE=1) write the same bytes as
    the compiled kernels."""
    monkeypatch.setenv("FCS_NO_NATIVE", "1")
    _check_writer_digest(tmp_path)


def _check_writer_digest(tmp_path) -> None:
    E._WORKER_FSST_CACHE.tables.clear()
    E._WORKER_FSST_CACHE.uses.clear()
    E._PAGE_CACHE.clear()
    out = str(tmp_path / "enc")
    man = list(make_write_kernel(out, chunk_rows=256)(
        iter(_clustered_batches())))
    assert sorted(man[0].column("part_id").to_pylist()) == [0, 1, 2]

    # the slice must exercise page consolidation, or the pin is weaker
    # than it claims
    import pyarrow.parquet as pq

    paged = [n for n in os.listdir(os.path.join(out, "data"))
             if E.PAGE_CHUNK_ID in pq.read_table(
                 os.path.join(out, "data", n),
                 columns=["chunk_id"]).column(0).to_pylist()]
    assert paged

    compact._merge_group(out, 3, [0, 1], 0.0)
    assert _dir_digest(out) == WRITER_DIGEST
