"""Cluster entry point: compact an encoded table's small parts in place
(plans/compact.py — Iceberg rewrite_data_files parity, no value decode).

    spark-submit --py-files /tmp/fileconvert_spark_pyfiles.zip \
        jobs/compact_job.py <enc_dir> [--target-mb=64] [--recover]

- <enc_dir>: a COMPLETE encoded table directory written by
  jobs/encode_job.py (every part status=done). Runs of consecutive parts
  smaller than the target merge into ~target-size parts; chunk payloads
  move byte-identical, dictionary pages re-consolidate across the merged
  part, manifests/zone folds are rebuilt, src_parts lineage recorded.
- [--target-mb]: merged-part size target (default 64).
- [--recover]: finish or undo an interrupted compaction (two-phase state
  file; staging rolls back, committed rolls forward) and exit.

Prints one JSON summary line. Exit codes: 0 ok/no-op, 1 failure,
2 usage. After compaction the table cannot be resumed by encode_job
(bucket->part mapping is gone; the _meta.json 'compacted' stamp makes
encode_job refuse loudly instead of duplicating rows).
"""

from __future__ import annotations

import json
import os
import sys

# plain `python jobs/<job>.py` puts jobs/ (not the repo root) on sys.path;
# under spark-submit --py-files the zip provides the package instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def main(argv: list[str]) -> int:
    target_mb = 64
    recover = False
    args = []
    for a in argv[1:]:
        if a.startswith("--target-mb="):
            target_mb = int(a.split("=", 1)[1])
        elif a == "--recover":
            recover = True
        else:
            args.append(a)
    if len(args) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    enc_dir = args[0]

    from fileconvert_spark.plans.fsio import check_output_path_allowed

    try:
        check_output_path_allowed(enc_dir)  # compaction MUTATES enc_dir
    except PermissionError as e:
        print(f"compact_job: {e}", file=sys.stderr)
        return 2

    if recover:
        from fileconvert_spark.plans.compact import recover_compaction

        outcome = recover_compaction(enc_dir)
        print(json.dumps({"recover": outcome}))
        return 0

    from fileconvert_spark.session import job_session

    spark, owned = job_session("fcs-compact")

    from fileconvert_spark.plans.compact import compact_table

    try:
        res = compact_table(spark, enc_dir, target_bytes=target_mb << 20)
    except ValueError as e:
        print(f"compact_job: {e}", file=sys.stderr)
        return 1
    finally:
        if owned:
            spark.stop()
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
