"""ANN/IVF at multi-million-vector scale (VERDICT r6 "Next round" #1).

After r6, knn/IVF was the last operator family whose 100-TB claims
rested on sf0.1 numbers + plan shapes. This driver synthesizes a
clustered embedding corpus (mixture-of-gaussians on the unit sphere,
Zipf-imbalanced clusters — the workload IVF exists for) at the
multi-million-row scale, then measures, per phase: wall seconds,
shuffle read/write bytes and INPUT bytes (Spark REST status API — the
partition-pruning claim is "probing n_probe of C cells reads
~n_probe/C of the index bytes", and input_b is how we check it),
recall@10 against the exact brute-force baseline, and the
index build cost split into train / distributed-refine / assign+write.

    python tools/scale_ann.py [n_rows=8000000] [dim=128] \
        [work=/tmp/fcs_ann] [n_centroids=1024] [--skip-ma2] [--keep]

Metric caveat, measured r7: Spark's REST inputBytes is NOT proportional
to parquet bytes actually decoded (column pruning, metadata-only
counts, vectorized-reader accounting), so pruning is evidenced
logically: rows_scanned (exact, from cell sizes) as the query-BATCH
union, and per_query_scan_fraction mean/max (what one query's probe
costs — the number that matters for serving). shuffle_read_b IS
trustworthy and proves the no-vector-shuffle claim: probes shuffle
only (q_id, vec_id, cosine) candidates.

Everything is deterministic (PCG64 streams keyed by row-id blocks); no
external data. One JSON line on stdout; recorded in BENCH/SCALE_r7.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import fileconvert_spark  # noqa: F401,E402  (malloc tuning before numpy)
import numpy as np  # noqa: E402

N_CLUSTERS = 2000
# total expected noise NORM relative to the unit cluster centers (the
# per-dim sigma is SIGMA_TOTAL/sqrt(dim)): 0.6 leaves moderate cluster
# overlap — neighbors are mostly same-cluster but cell boundaries still
# matter, so the recall curve measures something
SIGMA_TOTAL = 0.6
N_QUERIES = 100
K = 10
SAMPLE_ROWS = 32768
SEED = 3


def _ui_totals(port: int = 4040) -> dict:
    import urllib.request

    base = f"http://localhost:{port}/api/v1"
    try:
        apps = json.load(urllib.request.urlopen(f"{base}/applications",
                                                timeout=10))
        app = apps[0]["id"]
        stages = json.load(urllib.request.urlopen(
            f"{base}/applications/{app}/stages?status=complete", timeout=30))
    except Exception:  # noqa: BLE001 - metrics are best-effort reporting
        return {}
    return {
        "shuffle_read_b": sum(s.get("shuffleReadBytes", 0) for s in stages),
        "shuffle_write_b": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "input_b": sum(s.get("inputBytes", 0) for s in stages),
    }


class PhaseMeter:
    def __init__(self):
        self.t0, self.base = None, {}

    def start(self):
        self.base = _ui_totals()
        self.t0 = time.time()

    def stop(self) -> dict:
        wall = time.time() - self.t0
        now = _ui_totals()
        out = {"wall_s": round(wall, 1)}
        for k in ("shuffle_read_b", "shuffle_write_b", "input_b"):
            if k in now and k in self.base:
                out[k] = int(now[k] - self.base[k])
        return out


def _centers(dim: int) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(SEED))
    c = rng.standard_normal((N_CLUSTERS, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return c


def _zipf_cdf() -> np.ndarray:
    w = 1.0 / np.arange(1, N_CLUSTERS + 1)
    return np.cumsum(w / w.sum())


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic per-id uniform in [0,1): cluster membership must
    depend only on vec_id, never on batch composition."""
    z = (x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    return (z >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def gen_corpus(spark, n_rows: int, dim: int, path: str) -> None:
    """Write the synthetic corpus in parallel: spark.range -> one
    mapInPandas generator; noise streams are seeded per batch by the
    batch's first id, assignments are pure per-id functions, so the
    table is deterministic for a fixed partition count."""
    import pandas as pd

    centers = _centers(dim)
    cdf = _zipf_cdf()
    bc = spark.sparkContext.broadcast({"centers": centers, "cdf": cdf})

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            v = bc.value
            assign = np.searchsorted(v["cdf"], _splitmix64(ids),
                                     side="right")
            rng = np.random.Generator(np.random.PCG64(
                SEED ^ int(ids[0]) if len(ids) else SEED))
            d = v["centers"].shape[1]
            x = (v["centers"][assign]
                 + (SIGMA_TOTAL / np.sqrt(d))
                 * rng.standard_normal((len(ids), d)))
            x /= np.linalg.norm(x, axis=1, keepdims=True)
            yield pd.DataFrame({
                "vec_id": ids,
                "embedding": [row.astype(np.float32) for row in x]})

    (spark.range(n_rows, numPartitions=256)
     .mapInPandas(gen, "vec_id long, embedding array<float>")
     .write.mode("error").parquet(path))


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    n_rows = int(args[0]) if len(args) > 0 else 8_000_000
    dim = int(args[1]) if len(args) > 1 else 128
    work = args[2] if len(args) > 2 else "/tmp/fcs_ann"
    n_centroids = int(args[3]) if len(args) > 3 else 1024

    from pyspark.sql import functions as F

    from fileconvert_spark.operators.knn import (
        brute_force_topk, ivf_probe_indexed, refine_centroids,
        train_centroids, write_ivf_index)
    from fileconvert_spark.session import get_spark

    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    spark = get_spark("scale-ann",
                      extra_conf={"spark.ui.enabled": "true",
                                  "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    meter = PhaseMeter()
    out: dict = {"n_rows": n_rows, "dim": dim, "k": K,
                 "n_centroids": n_centroids, "n_queries": N_QUERIES}

    def prog(key):
        print(f"[scale_ann] {key}: {json.dumps(out[key])}",
              file=sys.stderr, flush=True)

    corpus_path = os.path.join(work, "corpus.parquet")
    meter.start()
    gen_corpus(spark, n_rows, dim, corpus_path)
    out["gen"] = {**meter.stop(), "bytes": du(corpus_path)}
    prog("gen")

    emb = spark.read.parquet(corpus_path)

    # queries: every (n_rows // N_QUERIES)-th corpus point — clustered
    # exactly like the data; ground truth from the exact baseline below
    stride = n_rows // N_QUERIES
    q_ids = [j * stride + 17 for j in range(N_QUERIES)]
    queries = (emb.filter(F.col("vec_id").isin(q_ids))
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec"))
               .cache())
    assert queries.count() == N_QUERIES

    # ---- phase 1: exact brute force (ground truth + baseline)
    meter.start()
    exact_rows = brute_force_topk(emb, queries, k=K).collect()
    out["exact_bruteforce"] = meter.stop()
    prog("exact_bruteforce")
    truth: dict[int, set[int]] = {}
    for r in exact_rows:
        truth.setdefault(r["q_id"], set()).add(r["vec_id"])

    def recall(rows) -> float:
        by_q: dict[int, set[int]] = {}
        for r in rows:
            by_q.setdefault(r["q_id"], set()).add(r["vec_id"])
        return float(np.mean([len(by_q.get(q, set()) & t) / len(t)
                              for q, t in truth.items()]))

    # ---- phase 2: index build, costs split train / refine / write
    meter.start()
    cent = train_centroids(emb, n_centroids, sample_rows=SAMPLE_ROWS,
                           id_col="vec_id", seed=42)
    t_train = meter.stop()
    meter.start()
    cent = refine_centroids(emb, cent, iters=1)
    t_refine = meter.stop()
    idx_path = os.path.join(work, "ivf_ma1")
    meter.start()
    write_ivf_index(emb, idx_path, n_centroids, centroids=cent)
    t_write = meter.stop()
    out["build_ma1"] = {"train": t_train, "refine_1iter": t_refine,
                        "assign_write": t_write,
                        "index_bytes": du(idx_path)}
    prog("build_ma1")

    # ---- phase 3: probes — pruning evidence at two levels: input_b
    # ratio vs a full scan of the SAME parquet (physical; Spark's
    # inputBytes under-reports absolute parquet bytes, but the ratio
    # between scans of one table is meaningful), and rows-in-probed-
    # cells vs n_rows (logical, exact)
    idx_df = spark.read.parquet(idx_path)
    n_idx_rows = idx_df.count()
    cell_sizes = np.zeros(n_centroids, dtype=np.int64)
    for r in idx_df.groupBy("cell").count().collect():
        cell_sizes[r["cell"]] = r["count"]
    out["index_rows"] = int(n_idx_rows)
    out["cell_size_p50_p99_max"] = [
        int(np.percentile(cell_sizes, 50)),
        int(np.percentile(cell_sizes, 99)), int(cell_sizes.max())]

    qpd = queries.toPandas()
    Qn = np.array(qpd["q_vec"].tolist(), dtype=np.float64)
    Qn /= np.maximum(np.linalg.norm(Qn, axis=1, keepdims=True), 1e-12)
    probe_order = np.argsort(-(Qn @ cent.T), kind="stable", axis=1)

    for n_probe in (4, 8, 16, 32):
        cells = sorted({int(c) for row in probe_order[:, :n_probe]
                        for c in row})
        meter.start()
        rows = ivf_probe_indexed(spark, idx_path, queries, k=K,
                                 n_probe=n_probe).collect()
        m = meter.stop()
        # counted AFTER the metered probe so it can't pre-warm the cache
        rows_scanned = idx_df.filter(
            F.col("cell").isin(cells)).count()
        per_q = cell_sizes[probe_order[:, :n_probe]].sum(axis=1) / n_rows
        out[f"probe_ma1_p{n_probe}"] = {
            **m, "recall_at_10": round(recall(rows), 4),
            "distinct_cells": len(cells),
            "batch_union_rows": int(rows_scanned),
            "batch_union_fraction": round(rows_scanned / n_idx_rows, 4),
            "per_query_scan_fraction_mean": round(float(per_q.mean()), 5),
            "per_query_scan_fraction_max": round(float(per_q.max()), 5)}
        prog(f"probe_ma1_p{n_probe}")

    # ---- phase 3b: adaptive scan-budget probes (r7) — same index,
    # per-query MINIMAL cell prefix reaching a row budget instead of a
    # fixed cell count; under Zipf cells fixed n_probe scans 0.5-1.7x
    # its own mean per query, the budget bounds it
    from fileconvert_spark.operators.knn import _adaptive_probes

    sims = Qn @ cent.T
    for budget in (0.006, 0.02):
        meter.start()
        rows = ivf_probe_indexed(spark, idx_path, queries, k=K,
                                 scan_budget=budget).collect()
        m = meter.stop()
        probes = _adaptive_probes(
            sims, cell_sizes, max(1, int(np.ceil(budget * n_idx_rows))))
        per_q = np.array([int(cell_sizes[p].sum())
                          for p in probes]) / n_rows
        n_cells_q = np.array([len(p) for p in probes])
        out[f"probe_ma1_budget{budget}"] = {
            **m, "recall_at_10": round(recall(rows), 4),
            "cells_per_query_min_mean_max": [
                int(n_cells_q.min()), round(float(n_cells_q.mean()), 2),
                int(n_cells_q.max())],
            "per_query_scan_fraction_mean": round(float(per_q.mean()), 5),
            "per_query_scan_fraction_max": round(float(per_q.max()), 5)}
        prog(f"probe_ma1_budget{budget}")

    # ---- phase 4: multi-assign=2 index (cell-boundary recall cliff)
    if "--skip-ma2" not in flags:
        idx2 = os.path.join(work, "ivf_ma2")
        meter.start()
        write_ivf_index(emb, idx2, n_centroids, multi_assign=2,
                        centroids=cent)
        out["build_ma2"] = {**meter.stop(), "index_bytes": du(idx2)}
        prog("build_ma2")
        for n_probe in (8, 16):
            meter.start()
            rows = ivf_probe_indexed(spark, idx2, queries, k=K,
                                     n_probe=n_probe).collect()
            m = meter.stop()
            out[f"probe_ma2_p{n_probe}"] = {
                **m, "recall_at_10": round(recall(rows), 4)}
            prog(f"probe_ma2_p{n_probe}")

    print(json.dumps(out))
    if "--keep" not in flags:
        shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
