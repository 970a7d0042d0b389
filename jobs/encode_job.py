"""Cluster entry point: encode a corpus table with lineage + resume.

Launch (the north-rule launch mode, BASELINE.json line 14):

    spark-submit --py-files /tmp/fileconvert_spark_pyfiles.zip \
        jobs/encode_job.py <src_parquet> <out_dir> [n_buckets] \
        [key_col] [salt_cols] [weight_col] [stats_sample_fraction] \
        [--cluster-by=a,b] [--key-index=c,d]

``--cluster-by``: within-bucket sort on those columns (zone-map
clustering; they also get per-chunk zone bounds, enabling
decode_table(predicate=...) part/chunk pruning — the Iceberg
sort-order economics, see encode_table).

``--key-index``: per-part key-hash sidecar indexes on those
string/integer columns — point-lookup (=/in) predicate decode prunes
parts on UNCLUSTERED columns where zone maps cannot (plans/keyindex.py).

On a real cluster, --master/--num-executors come from spark-submit and
<out_dir> must be a shared filesystem. The job is idempotent: re-running
after executor or job loss re-encodes only the buckets whose manifests are
missing or torn.
"""

from __future__ import annotations

import json
import os
import sys

# plain `python jobs/<job>.py` puts jobs/ (not the repo root) on sys.path;
# under spark-submit --py-files the zip provides the package instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def main(argv: list[str]) -> int:
    cluster_by: tuple[str, ...] | None = None
    key_index_cols: tuple[str, ...] | None = None
    flags = [a for a in argv if a.startswith("--")]
    argv = [a for a in argv if not a.startswith("--")]
    for f in flags:
        if f.startswith("--cluster-by="):
            cluster_by = tuple(f.split("=", 1)[1].split(","))
        elif f.startswith("--key-index="):
            key_index_cols = tuple(f.split("=", 1)[1].split(","))
        else:
            print(f"encode_job: unknown flag {f}", file=sys.stderr)
            return 2
    if len(argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    src, out = argv[1], argv[2]
    n_buckets = int(argv[3]) if len(argv) > 3 else None
    # refuse to write anywhere under a protected source tree (testdata):
    # a transposed invocation must fail loudly, never clobber an input
    from fileconvert_spark.plans.fsio import check_output_path_allowed

    try:
        check_output_path_allowed(out)
    except PermissionError as e:
        print(f"encode_job: {e}", file=sys.stderr)
        return 2
    # optional overrides for non-codefiles schemas:
    #   [key_col] [salt_cols(comma-sep)] [weight_col] [stats_sample_fraction]
    key_col = argv[4] if len(argv) > 4 else "repo"
    salt_cols = tuple(argv[5].split(",")) if len(argv) > 5 else ("path", "commit")
    weight_col = argv[6] if len(argv) > 6 else "content"
    stats_sample_fraction = float(argv[7]) if len(argv) > 7 else 1.0

    from fileconvert_spark.session import job_session

    spark, owned = job_session("fcs-encode")

    from fileconvert_spark.plans.manifest import encode_table

    df = spark.read.parquet(src)
    missing = ({key_col, weight_col, *salt_cols, *(cluster_by or ()),
                *(key_index_cols or ())} - set(df.columns))
    if missing:
        print(f"columns {sorted(missing)} not in {df.columns}; pass "
              f"[key_col] [salt_cols] [weight_col] for this schema",
              file=sys.stderr)
        return 2
    summary = encode_table(spark, df, out, n_buckets=n_buckets,
                           key_col=key_col, salt_cols=salt_cols,
                           weight_col=weight_col,
                           stats_sample_fraction=stats_sample_fraction,
                           cluster_by=cluster_by,
                           key_index_cols=key_index_cols)
    print(json.dumps(summary))
    if owned:  # embedded callers keep their session
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
