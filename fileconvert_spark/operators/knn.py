"""Approximate-nearest-neighbor search over an embedding column.

Every search scores the same way: exact cosine of unit rows, one NumPy
matmul per Arrow batch against a broadcast query matrix, a per-batch
top-k per query, then one window over the (q_id, vec_id, cosine)
candidates (``_blocked_candidates`` + ``_final_topk``). Queries are the
small, broadcast side; the shuffle carries candidate triples, never
vectors.

- ``brute_force_topk``: every vector against every query (exact).
- ``ivf_topk``: IVF-style coarse quantization — assign every vector to
  its nearest of C centroids (trained on a sample), then score only the
  closest n_probe centroid cells per query: the scoring shrinks by
  ~C/n_probe at 100 TB while recall stays high.
- ``write_ivf_index`` + ``ivf_probe_indexed``: the same IVF stored as a
  cell-partitioned table, so a probe prunes the scan at the source.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F


def _as_matrix(col, dtype=np.float64) -> np.ndarray:
    """Stack a vector column (a pandas Series of arrays) into a matrix
    of unit rows — the one normalizer of the k-NN and embedding-dedup
    operators. An empty column gives a (0, 0) matrix.
    float32 is for QUANTIZER ASSIGNMENT only (half the transient, ~2x
    the BLAS throughput; a boundary vector may land in the adjacent
    cell, which multi_assign/n_probe absorb) — candidate SCORING stays
    float64 so ranking matches the exact/oracle path."""
    m = np.array(col.tolist(), dtype=dtype)
    if not len(m):
        return m.reshape(0, 0)
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True),
                    dtype(1e-12))
    return m


def _top_cells(sims: np.ndarray, n: int) -> np.ndarray:
    """Per row, the indices of the n highest similarities, best first
    (stable: equal similarities keep centroid order)."""
    return np.argsort(-sims, kind="stable", axis=1)[:, :n]


def _cells_udf(bc_cent, n_cells: int, dtype):
    """pandas UDF: each vector's ``n_cells`` nearest centroid cells
    (array<int>, best first) against the broadcast centroid matrix,
    computed in ``dtype``."""
    @F.pandas_udf("array<int>")
    def cells(vecs: pd.Series) -> pd.Series:
        cT = np.ascontiguousarray(bc_cent.value.T, dtype=dtype)
        idx = _top_cells(_as_matrix(vecs, dtype) @ cT, n_cells)
        return pd.Series([row.astype("int32").tolist() for row in idx])
    return cells


def _query_side(queries: DataFrame, q_id_col: str, q_vec_col: str):
    """Collect the query set on the driver: (int64 ids, unit-row
    matrix)."""
    qpd = queries.select(q_id_col, q_vec_col).toPandas()
    return (qpd[q_id_col].to_numpy(dtype=np.int64),
            _as_matrix(qpd[q_vec_col]))


def _probe_broadcast(spark, queries: DataFrame, q_id_col: str,
                     q_vec_col: str, cent: np.ndarray, n_probe: int,
                     budget: tuple[np.ndarray, int] | None = None):
    """Plan every query's probe cells on the driver and broadcast the
    query side as ``{Q, q_ids, by_cell}`` for
    ``_blocked_candidates(..., "cell")``; ``by_cell`` maps each probed
    cell to the indices of the queries that probe it. A query probes
    its ``n_probe`` most similar cells, or with ``budget`` = (cell row
    counts, row budget) the adaptive prefix of ``_adaptive_probes``.
    Returns the broadcast and the sorted probed cells."""
    q_ids, Q = _query_side(queries, q_id_col, q_vec_col)
    by_cell: dict[int, list[int]] = {}
    if len(q_ids):
        sims = Q @ cent.T
        probes = (_adaptive_probes(sims, *budget) if budget is not None
                  else _top_cells(sims, min(n_probe, len(cent))))
        for qi, row in enumerate(probes):
            for c in row:
                by_cell.setdefault(int(c), []).append(qi)
    bc = spark.sparkContext.broadcast({
        "Q": Q, "q_ids": q_ids,
        "by_cell": {c: np.array(v, dtype=np.int64)
                    for c, v in by_cell.items()}})
    return bc, sorted(by_cell)


def _blocked_candidates(df, bc_q, k: int, id_col: str, vec_col: str,
                        cell_col: str | None):
    """Per-Arrow-batch exact scoring against the broadcast query matrix:
    one matmul, then a per-batch top-k per query ordered by (-cosine,
    id) — the union of per-batch top-ks contains the global top-k, so a
    final window recovers the exact answer while only candidate triples
    are ever shuffled. With ``cell_col``, each batch sub-block is scored
    only against the queries probing that cell."""
    out_schema = f"q_id long, {id_col} long, cosine double"

    def gen(batches):
        v = bc_q.value
        Q, q_ids, by_cell = v["Q"], v["q_ids"], v.get("by_cell")
        for pdf in batches:
            if not len(pdf) or not len(q_ids):
                continue
            X = _as_matrix(pdf[vec_col])
            ids = pdf[id_col].to_numpy()
            chunks = []

            def topk(S, sub_ids, q_idx):
                for j, qi in enumerate(q_idx):
                    s = S[:, j]
                    kk = min(k, len(s))
                    order = np.lexsort((sub_ids, -s))[:kk]
                    chunks.append(pd.DataFrame({
                        "q_id": np.full(kk, q_ids[qi], dtype=np.int64),
                        id_col: sub_ids[order],
                        "cosine": s[order]}))

            if by_cell is None:
                topk(X @ Q.T, ids, np.arange(len(q_ids)))
            else:
                cells = pdf[cell_col].to_numpy()
                for c in np.unique(cells):
                    q_idx = by_cell.get(int(c))
                    if q_idx is None:
                        continue
                    mask = cells == c
                    topk(X[mask] @ Q[q_idx].T, ids[mask], q_idx)
            if chunks:
                yield pd.concat(chunks, ignore_index=True)

    return df.mapInPandas(gen, out_schema)


def _final_topk(cand: DataFrame, k: int, id_col: str, q_id_col: str,
                dedup: bool) -> DataFrame:
    """(q_id_col, rank, id_col, cosine): the top k candidates per query
    by (-cosine, id)."""
    if dedup:  # multi-assigned vectors can meet a query in several cells
        cand = cand.dropDuplicates(["q_id", id_col])
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc(id_col))
    out = (cand.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= k)
           .select("q_id", "rank", id_col, "cosine"))
    return out.withColumnRenamed("q_id", q_id_col) \
        if q_id_col != "q_id" else out


def brute_force_topk(df: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     q_id_col: str = "q_id",
                     q_vec_col: str = "q_vec") -> DataFrame:
    """Exact cosine top-k: (q_id, rank, vec_id, cosine), ids as long,
    ties ranked by vec_id. One BLAS matmul per (Arrow batch x query
    set); only n_batches*m*k candidate triples reach the final
    window."""
    q_ids, Q = _query_side(queries, q_id_col, q_vec_col)
    bc = df.sparkSession.sparkContext.broadcast({"Q": Q, "q_ids": q_ids})
    cand = _blocked_candidates(df.select(id_col, vec_col), bc, k,
                               id_col, vec_col, None)
    return _final_topk(cand, k, id_col, q_id_col, dedup=False)


def train_centroids(df: DataFrame, n_centroids: int = 16,
                    vec_col: str = "embedding", sample_rows: int = 2048,
                    iters: int = 5, seed: int = 42,
                    id_col: str | None = None) -> np.ndarray:
    """Tiny k-means on a driver-side sample (IVF coarse quantizer).
    Sample size is bounded — at 10^12 rows the driver still sees <= 2048.

    The sample is the ``sample_rows`` smallest ``xxhash64(id, seed)`` rows:
    a deterministic, row-order-independent uniform draw that plans as
    TakeOrderedAndProject (per-partition top-N, then merge — no full sort).
    A plain ``.limit()`` would take the FIRST N rows, and on any naturally
    ordered table (by repo, by date) the quantizer would train on one
    biased corner of the space and recall would quietly degrade at scale.
    """
    key_src = F.col(id_col) if id_col else F.col(vec_col)
    sample = np.array(
        df.select(F.col(vec_col), F.xxhash64(key_src, F.lit(seed)).alias("_h"))
        .orderBy("_h")
        .limit(sample_rows)
        .toPandas()[vec_col]
        .tolist(),
        dtype=np.float64,
    )
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    rng = np.random.Generator(np.random.PCG64(seed))
    cent = sample[rng.choice(len(sample), size=min(n_centroids, len(sample)),
                             replace=False)]
    for _ in range(iters):
        sims = sample @ cent.T
        assign = sims.argmax(axis=1)
        for c in range(len(cent)):
            members = sample[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def refine_centroids(df: DataFrame, cent: np.ndarray,
                     vec_col: str = "embedding", iters: int = 2) -> np.ndarray:
    """Distributed Lloyd refinement of an IVF quantizer over the FULL
    table: each task assigns its vectors to their nearest centroid (one
    broadcast matmul per Arrow batch) and accumulates the per-cell sum
    matrix LOCALLY, emitting only its non-empty (cell, dim, partial_sum,
    count) rows — so the shuffle carries at most
    partitions x n_centroids x dim tiny rows (never rows x dim: the r6
    posexplode shape materialized a billion exploded values at 8M x 128),
    and the driver only ever sees n_centroids x dim aggregates. Use
    after train_centroids when the bounded driver sample shouldn't have
    the last word at 10^12 rows."""
    spark = df.sparkSession
    n_cent, dim = cent.shape
    for _ in range(max(iters, 0)):
        bc = spark.sparkContext.broadcast(cent)

        def part_sums(batches):
            acc = np.zeros((n_cent, dim))
            cnt = np.zeros(n_cent, dtype=np.int64)
            cT = np.ascontiguousarray(bc.value.T, dtype=np.float32)
            seen = False
            for pdf in batches:
                if not len(pdf):
                    continue
                seen = True
                m = _as_matrix(pdf[vec_col], np.float32)
                assign = (m @ cT).argmax(axis=1)
                np.add.at(acc, assign, m.astype(np.float64))
                cnt += np.bincount(assign, minlength=n_cent)
            if seen:
                nz = np.flatnonzero(cnt)
                yield pd.DataFrame({
                    "cell": np.repeat(nz, dim).astype(np.int32),
                    "dim": np.tile(np.arange(dim, dtype=np.int32),
                                   len(nz)),
                    "s": acc[nz].ravel(),
                    "n": np.repeat(cnt[nz], dim)})

        rows = (
            df.select(vec_col)
            .mapInPandas(part_sums, "cell int, dim int, s double, n long")
            .groupBy("cell", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        new = cent.copy()
        acc = np.zeros_like(cent)
        cnt = np.zeros(len(cent), dtype=np.int64)
        for r in rows:
            acc[r["cell"], r["dim"]] = r["s"]
            cnt[r["cell"]] = r["n"]
        nz = cnt > 0
        new[nz] = acc[nz] / np.maximum(
            np.linalg.norm(acc[nz], axis=1, keepdims=True), 1e-12)
        cent = new
        bc.destroy()
    return cent


def ivf_topk(df: DataFrame, queries: DataFrame, k: int = 5,
             n_centroids: int = 16, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec",
             refine_iters: int = 0, multi_assign: int = 1) -> DataFrame:
    """IVF ANN: probe only the n_probe nearest centroid cells per query.

    Centroids ship as a Spark broadcast variable consumed by a
    vectorized Pandas UDF (one float64 matmul per Arrow batch) — not as
    plan literals, so 1024 centroids x 768 dims costs one broadcast,
    not a megabyte of expression tree re-analyzed per query. Probe
    cells are planned on the driver; each vector is scored only against
    the queries probing its cell.

    ``multi_assign``: store each base vector in its ``multi_assign``
    nearest cells instead of one. Coarse-only IVF has a recall cliff when
    clusters overlap (a true neighbor near a cell boundary lives in an
    unprobed cell); measured on a 100k x 64 mixture workload (r4,
    BENCH/BASELINE.md), recall@10 at n_probe=8/32 goes 0.82 -> 0.93 with
    multi_assign=2 and 0.97 with 3, at a storage/scan cost of x2/x3 —
    the standard trade when more probes alone stop paying.
    """
    cent = train_centroids(df, n_centroids, vec_col, id_col=id_col)
    if refine_iters:
        cent = refine_centroids(df, cent, vec_col, iters=refine_iters)
    spark = df.sparkSession
    ma = max(1, min(multi_assign, len(cent)))
    bc_q, probed = _probe_broadcast(spark, queries, q_id_col, q_vec_col,
                                    cent, n_probe)
    cells = _cells_udf(spark.sparkContext.broadcast(cent), ma, np.float64)
    assigned = (df.select(F.col(id_col), F.col(vec_col),
                          F.explode(cells(F.col(vec_col))).alias("cell"))
                .filter(F.col("cell").isin(probed)))
    cand = _blocked_candidates(assigned, bc_q, k, id_col, vec_col, "cell")
    return _final_topk(cand, k, id_col, q_id_col, dedup=ma > 1)


# ------------------------------------------------------- indexed IVF
# The ivf_topk above recomputes assignment per query batch — right for
# ad-hoc use, wrong for a standing 100-TB index where the base table
# should be scanned once, not per query set. The functions below
# materialize the IVF index as a cell-PARTITIONED parquet table so that
# probing n_probe of C cells prunes the scan to ~n_probe/C of the bytes
# at the source (PartitionFilters, no file even opened for unprobed
# cells), and score candidates with the same blocked matmul.

_IVF_META = "_ivf_meta.json"          # leading '_': ignored by Spark scans
_IVF_CENTROIDS = "_ivf_centroids.npy"


def write_ivf_index(df: DataFrame, path: str, n_centroids: int = 256,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    multi_assign: int = 1, refine_iters: int = 0,
                    sample_rows: int | None = None,
                    seed: int = 42,
                    centroids: np.ndarray | None = None) -> dict:
    """Materialize an IVF index: train the coarse quantizer (bounded
    driver sample + optional distributed Lloyd refinement), assign every
    vector to its ``multi_assign`` nearest cells, and write the table
    cell-PARTITIONED so probes prune at the source. Centroids ride as
    ``_ivf_centroids.npy`` + ``_ivf_meta.json`` sidecars (underscore
    names: invisible to Spark's scan). Returns the meta dict.

    The repartition("cell") before the partitioned write sends each cell
    to exactly one task — one file per cell directory, not
    tasks x cells tiny files."""
    import io as _io
    import json as _json

    from ..plans import fsio

    fsio.check_output_path_allowed(path)
    n_sample = sample_rows or max(2048, 32 * n_centroids)
    if centroids is not None:  # pre-trained quantizer (scale drivers
        cent = centroids       # time train/refine/write separately)
    else:
        cent = train_centroids(df, n_centroids, vec_col,
                               sample_rows=n_sample, seed=seed,
                               id_col=id_col)
        if refine_iters:
            cent = refine_centroids(df, cent, vec_col, iters=refine_iters)
    bc = df.sparkSession.sparkContext.broadcast(cent)
    ma = max(1, min(multi_assign, len(cent)))

    assigned = df.select(
        F.col(id_col), F.col(vec_col),
        F.explode(_cells_udf(bc, ma, np.float32)(F.col(vec_col)))
        .alias("cell"))
    (assigned.repartition("cell")
     .write.mode("error").partitionBy("cell").parquet(path))

    buf = _io.BytesIO()
    np.save(buf, cent)
    fsio.write_bytes_atomic(os.path.join(path, _IVF_CENTROIDS),
                            buf.getvalue())
    # per-cell row counts from the written truth: the probe-time scan
    # budget needs them, and they are the straggler/skew observability
    # for the index (C entries, driver-bounded)
    counts = {int(r["cell"]): int(r["count"]) for r in
              df.sparkSession.read.parquet(path)
              .groupBy("cell").count().collect()}
    meta = {"n_centroids": int(len(cent)), "dim": int(cent.shape[1]),
            "id_col": id_col, "vec_col": vec_col,
            "multi_assign": int(ma), "refine_iters": int(refine_iters),
            "sample_rows": int(n_sample), "seed": int(seed),
            "cell_rows": [counts.get(c, 0) for c in range(len(cent))]}
    fsio.write_bytes_atomic(os.path.join(path, _IVF_META),
                            _json.dumps(meta).encode())
    return meta


def _adaptive_probes(sims: np.ndarray, sizes: np.ndarray,
                     budget_rows: int) -> list[np.ndarray]:
    """Per-query minimal prefix of sim-ranked cells whose cumulative
    row count reaches budget_rows (always >= 1 cell). Unit-tested for
    the minimal-prefix property."""
    order = np.argsort(-sims, kind="stable", axis=1)
    out = []
    for row in order:
        cum = np.cumsum(sizes[row])
        cut = int(np.searchsorted(cum, budget_rows, side="left")) + 1
        out.append(row[:min(cut, len(row))])
    return out


def ivf_probe_indexed(spark, path: str, queries: DataFrame, k: int = 5,
                      n_probe: int = 8, q_id_col: str = "q_id",
                      q_vec_col: str = "q_vec",
                      scan_budget: float | None = None) -> DataFrame:
    """Probe a write_ivf_index table: compute each query's probe cells
    driver-side (queries are the small/broadcast side by contract),
    scan ONLY those cell partitions (isin on the partition column ->
    PartitionFilters; unprobed cells cost zero I/O), score with the
    blocked matmul, and window the exact top-k of the probed set. At
    full probe (n_probe >= n_centroids) the result equals
    brute_force_topk exactly (tested).

    ``scan_budget`` (fraction of stored index rows, e.g. 0.02) makes
    the probe ADAPTIVE: each query takes the minimal prefix of its
    sim-ranked cells whose cumulative row count reaches the budget,
    instead of a fixed cell count. Under Zipf-imbalanced cells
    (measured p99/median 5.5x at 8M rows, BENCH/SCALE_r7.md) a fixed
    n_probe over-scans queries that land in hot cells and under-scans
    those in cold ones; the budget equalizes per-query serving cost.
    Overrides n_probe when set; requires an index written with
    cell_rows meta (any index from r7 on)."""
    import io as _io
    import json as _json

    from ..plans import fsio

    meta = _json.loads(fsio.read_bytes(os.path.join(path, _IVF_META)))
    cent = np.load(_io.BytesIO(
        fsio.read_bytes(os.path.join(path, _IVF_CENTROIDS))))
    id_col, vec_col = meta["id_col"], meta["vec_col"]

    budget = None
    if scan_budget is not None:
        cell_rows = meta.get("cell_rows")
        if cell_rows is None:
            raise ValueError(
                "IVF index predates cell_rows meta — rebuild with "
                "write_ivf_index, or probe with a fixed n_probe")
        sizes = np.asarray(cell_rows, dtype=np.int64)
        budget = (sizes, max(1, int(np.ceil(scan_budget * max(
            int(sizes.sum()), 1)))))
    bc, probed = _probe_broadcast(spark, queries, q_id_col, q_vec_col,
                                  cent, n_probe, budget)

    idx = spark.read.parquet(path).filter(F.col("cell").isin(probed))
    cand = _blocked_candidates(idx, bc, k, id_col, vec_col, "cell")
    return _final_topk(cand, k, id_col, q_id_col,
                       dedup=meta["multi_assign"] > 1)
