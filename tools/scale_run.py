"""Scale-headroom + metadata-stress run (VERDICT r3 item 1).

Exercises the driver-side metadata paths at >=1024 parts on a >=10 GB
corpus — the paths that scale with PART COUNT rather than data size
(LPT bucket planning, resume manifest scan, manifest rollup) — plus a
real kill -9 / resume cycle through the actual job CLIs:

    python tools/scale_run.py [n_rows=7600000] [n_buckets=1024] \
        [work_dir=/tmp/fcs_scale]

Phases: distributed corpus generation (sharded make_codefiles via
mapInPandas) -> encode_job subprocess killed with SIGKILL mid-encode ->
encode_job again (resume) -> decode + multiset fingerprint verify.
Prints one JSON line with throughput, ratio, phase timings, parts
skipped on resume, and the verify result. Results are recorded in
BENCH/SCALE_r4.md.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ROWS_PER_SHARD = 100_000


def generate_corpus(spark, path: str, n_rows: int) -> float:
    """Sharded, deterministic, distributed generation (no driver-side
    10 GB materialization): each task builds its shard with its own seed
    and a global row offset for path/commit uniqueness."""
    from pyspark.sql.types import (StringType, StructField, StructType)

    n_shards = max(1, (n_rows + ROWS_PER_SHARD - 1) // ROWS_PER_SHARD)
    schema = StructType([StructField(c, StringType()) for c in
                         ("repo", "path", "commit", "lang", "content")])

    def gen(iterator):
        from fileconvert_spark.corpus import SEED, make_codefiles

        for pdf in iterator:
            for shard in pdf["shard"]:
                shard = int(shard)
                rows = min(ROWS_PER_SHARD, n_rows - shard * ROWS_PER_SHARD)
                yield make_codefiles(
                    rows, with_edge_rows=(shard == 0),
                    seed=SEED + 1000 + shard,
                    row_offset=shard * ROWS_PER_SHARD)

    t0 = time.time()
    shards = spark.range(n_shards).withColumnRenamed("id", "shard") \
        .repartition(n_shards)
    shards.mapInPandas(gen, schema).write.mode("overwrite").parquet(path)
    return time.time() - t0


def run_encode_job(src: str, out: str, n_buckets: int,
                   kill_at_fraction: float | None = None,
                   cluster_by: str | None = None) -> dict:
    """Run jobs/encode_job.py as a real subprocess; optionally SIGKILL it
    (executor/job-loss simulation) once ~``kill_at_fraction`` of the
    parts have done-manifests — a genuinely mid-encode kill regardless
    of corpus size or host speed."""
    from fileconvert_spark.plans.manifest import scan_done_parts

    cmd = [sys.executable, os.path.join(REPO, "jobs", "encode_job.py"),
           src, out, str(n_buckets),
           "repo", "path,commit", "content", "0.05"]  # sampled bucket stats
    if cluster_by:
        cmd.append(f"--cluster-by={cluster_by}")
    t0 = time.time()
    err_log = open(out.rstrip("/") + ".encode_job.stderr", "ab")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                            stderr=err_log, text=True)
    if kill_at_fraction is not None:
        target = max(1, int(n_buckets * kill_at_fraction))
        while proc.poll() is None:
            # a task streams many buckets back to back, so parts land in
            # bursts: a coarse poll can miss the whole encode
            time.sleep(0.1)
            if len(scan_done_parts(out)) >= target:
                break
        proc.send_signal(signal.SIGKILL)
        proc.wait()
        return {"killed_after_s": round(time.time() - t0, 1),
                "finished_before_kill": proc.returncode == 0}
    stdout, _ = proc.communicate()
    wall = time.time() - t0
    summary = json.loads(stdout.strip().splitlines()[-1])
    summary["cli_wall_s"] = round(wall, 1)
    return summary


def main() -> int:
    args = [a for a in sys.argv if not a.startswith("--")]
    cluster_by = None
    for a in sys.argv:
        if a.startswith("--cluster-by="):
            cluster_by = a.split("=", 1)[1]
    n_rows = int(args[1]) if len(args) > 1 else 7_600_000
    n_buckets = int(args[2]) if len(args) > 2 else 1024
    work = args[3] if len(args) > 3 else "/tmp/fcs_scale"

    from fileconvert_spark.session import get_spark

    corpus_path = os.path.join(work, "corpus.parquet")
    enc_dir = os.path.join(work, "enc")
    out: dict = {"n_rows": n_rows, "n_buckets": n_buckets}

    spark = get_spark("scale-run")
    if not os.path.exists(corpus_path):
        out["gen_wall_s"] = round(generate_corpus(spark, corpus_path, n_rows), 1)
    corpus = spark.read.parquet(corpus_path)
    from pyspark.sql import functions as F

    raw_bytes = corpus.select(
        F.sum(F.octet_length("content")).alias("b")).first()["b"]
    out["content_gb"] = round(raw_bytes / 1e9, 2)

    # fresh encode, killed mid-run (the job-loss scenario of BASELINE.json)
    shutil.rmtree(enc_dir, ignore_errors=True)
    if "--no-kill" in sys.argv:
        out["full"] = run_encode_job(corpus_path, enc_dir, n_buckets,
                                     cluster_by=cluster_by)
    else:
        out["kill"] = run_encode_job(corpus_path, enc_dir, n_buckets,
                                     kill_at_fraction=0.4,
                                     cluster_by=cluster_by)
        from fileconvert_spark.plans.manifest import scan_done_parts

        out["parts_done_at_kill"] = len(scan_done_parts(enc_dir))

    # resume to completion through the same CLI
    resume = run_encode_job(corpus_path, enc_dir, n_buckets,
                            cluster_by=cluster_by)
    out["resume"] = {
        k: resume[k] for k in (
            "n_parts", "parts_encoded_this_run", "parts_skipped_resume",
            "n_rows", "ratio", "wall_s", "throughput_mb_s",
            "plan_wall_s", "resume_scan_wall_s", "manifest_rollup_wall_s",
            "cli_wall_s") if k in resume}
    out["resume"]["ratio"] = round(out["resume"]["ratio"], 4)
    out["resume"]["wall_s"] = round(out["resume"]["wall_s"], 1)
    out["resume"]["throughput_mb_s"] = round(out["resume"]["throughput_mb_s"], 1)

    # decode + order-insensitive fingerprint verify (in-process: the
    # decoded frame feeds the verifier directly, no 10 GB re-write)
    from fileconvert_spark.operators.verify import multiset_roundtrip_report
    from fileconvert_spark.plans.manifest import decode_table

    t0 = time.time()
    rep = multiset_roundtrip_report(
        corpus, decode_table(spark, enc_dir)).collect()[0].asDict()
    out["verify"] = {"wall_s": round(time.time() - t0, 1),
                     "n_src": rep["n_src"], "n_dec": rep["n_dec"],
                     "fingerprint_match": bool(rep["fingerprint_match"])}

    if cluster_by:
        # zone-map predicate decode at scale (VERDICT r4 item 5): a
        # selective predicate on the clustered bucket key should decode
        # a tiny fraction of the corpus vs the full decode above
        pcol = cluster_by.split(",")[0]
        pval = corpus.select(pcol).first()[pcol]
        t0 = time.time()
        full_rows = decode_table(spark, enc_dir).count()
        t_full = time.time() - t0
        t0 = time.time()
        pred_df = decode_table(spark, enc_dir, predicate=(pcol, "=", pval))
        pred_rows = pred_df.count()
        t_pred = time.time() - t0
        want = corpus.filter(F.col(pcol) == pval).count()
        out["predicate_decode"] = {
            "column": pcol, "value": str(pval)[:64],
            "rows": int(pred_rows), "rows_expected": int(want),
            "exact": bool(pred_rows == want),
            "wall_s": round(t_pred, 2),
            "full_decode_wall_s": round(t_full, 2),
            "speedup": round(t_full / max(t_pred, 1e-9), 1),
            "selectivity": round(pred_rows / max(full_rows, 1), 6),
        }
    print(json.dumps(out))
    spark.stop()
    return 0 if out["verify"]["fingerprint_match"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
