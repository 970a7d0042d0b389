"""Size-balanced, salted, skew-aware partitioning (SURVEY.md §2 B2).

The corpus is Zipf-skewed by repo: a few repos hold most of the bytes.
Catalyst balances partitions by row count / split size, not by
sum(length(content)), so an explicit two-pass scheme is used:

  pass 1 (small agg): per-repo content bytes -> only repos heavier than
     total/(4*n_buckets) are collected to the driver (bounded by
     ~4*n_buckets rows regardless of corpus size — at 10^12 files the
     driver never sees the light-repo long tail);
  pass 2: LPT (longest-processing-time) greedy bin-packing of heavy repos
     onto buckets pre-loaded with the light repos' expected hash share;
     repos too big for any single bucket are SALTED — their rows spread
     over all buckets by xxhash64(path, commit).

The bucket column then drives one explicit hash shuffle
(``repartition(n_buckets, "bucket")``) — the single wide dependency of the
encode job. Reference parity: FileConvert is single-file single-process
(BASELINE.json line 6); partitioning exists only in our engine, mandated by
the north rule ("partitioning / shuffle / skew handled explicitly").
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType


# target bytes per bucket when the caller lets the planner size buckets;
# at cluster scale raise this toward 256MB-1GB so task overheads amortize
DEFAULT_BUCKET_BYTES = 8 << 20


def plan_buckets(
    df: DataFrame,
    n_buckets: int | None = None,
    key_col: str = "repo",
    salt_cols: tuple[str, ...] = ("path", "commit"),
    weight_col: str = "content",
    stats_sample_fraction: float = 1.0,
) -> tuple[DataFrame, dict]:
    """Assign a ``bucket`` column balancing bytes, salting hot keys.

    ``n_buckets=None``: sized from the measured total — enough buckets that
    every core has >=1 (and up to 4x cores for stragglers), but never so
    many that buckets fall under ``DEFAULT_BUCKET_BYTES`` (tiny chunks hurt
    both codec ratio and per-task fixed costs).

    ``stats_sample_fraction < 1``: weigh keys on a seeded Bernoulli row
    sample, scaled by 1/fraction, instead of scanning every content byte —
    at 10^12 files the exact pre-pass is a full-corpus read just to plan
    buckets, while LPT only needs RELATIVE weights and any hot key
    dominates any sample. Determinism: the seed is fixed, so the same
    input (same files, same splits) yields the same sample, the same
    weights, and byte-identical bucket assignments — the property resume
    depends on (encode_table pins the fraction in _meta.json alongside
    n_buckets for exactly that reason).

    Returns (df + bucket column, plan info dict).
    """
    spark = df.sparkSession
    w = F.coalesce(F.length(F.col(weight_col)), F.lit(0)).cast("long")

    frac = float(stats_sample_fraction)
    if not (0.0 < frac <= 1.0):
        raise ValueError(f"stats_sample_fraction must be in (0, 1]: {frac}")
    stats_src = df if frac >= 1.0 else df.sample(fraction=frac, seed=7)
    scale = 1.0 if frac >= 1.0 else 1.0 / frac
    sizes = stats_src.groupBy(key_col).agg(
        (F.sum(w) * F.lit(scale)).cast("long").alias("bytes"))
    # ONE stats action in the common case (r8): collect the top
    # driver_cap keys by (bytes desc, key asc). Whenever the key count
    # fits under the cap — every corpus measured so far, incl. 201 keys
    # at 10 GB — the collected list IS the complete key table, so total,
    # n_keys and the heavy set all derive driver-side from the same
    # single TakeOrdered job (the previous shape paid a second full
    # weight scan, or a persisted cache, for the total). Only past the
    # cap (10^8-repo territory) does the exact total need its own
    # aggregate, a second scan of the weights (the collect above has
    # already run, so nothing cached now could be reused). Determinism
    # is unchanged: the ordering is total on (bytes, key), and the heavy
    # threshold filter applied driver-side selects exactly the rows the
    # old filter-then-limit collected.
    driver_cap = 65536
    top = (sizes.orderBy(F.desc("bytes"), F.asc(key_col))
           .limit(driver_cap + 1))
    rows = top.collect()
    if len(rows) <= driver_cap:
        total = sum(int(r["bytes"]) for r in rows)
        n_keys = len(rows)
        all_rows = rows
    else:
        # key count exceeds the driver cap: pay the exact-total aggregate
        # (its own scan), keep the capped top list
        total_row = sizes.agg(
            F.sum("bytes").alias("total"),
            F.count("*").alias("n_keys")).collect()[0]
        total = int(total_row["total"] or 0)
        n_keys = int(total_row["n_keys"])
        all_rows = rows[:driver_cap]

    if n_buckets is None:
        cores = spark.sparkContext.defaultParallelism
        by_size = max(1, total // DEFAULT_BUCKET_BYTES)
        n_buckets = int(max(cores, min(cores * 4, by_size)))
    if total == 0 or n_keys == 0:
        return df.withColumn(
            "bucket",
            F.pmod(F.xxhash64(F.col(key_col)),
                   F.lit(n_buckets)).cast("int")
        ), {"total_bytes": 0, "heavy": 0, "salted": 0,
            "n_buckets": n_buckets}

    # keys heavier than a small fraction of a bucket get exact LPT; the
    # long tail below the threshold is hashed. driver_cap bounds driver
    # memory at extreme key counts (10^8 repos -> top 64k only).
    heavy_thr = max(total // (16 * n_buckets), 1)
    bucket_cap = total / n_buckets
    heavy = [r for r in all_rows if int(r["bytes"]) >= heavy_thr]

    heavy_bytes = sum(int(r["bytes"]) for r in heavy)
    light_share = (total - heavy_bytes) / n_buckets  # expected hash share
    loads = [light_share] * n_buckets
    # least-loaded-bucket queries via a heap: bounded salting places
    # O(keys * shards) shards, and a linear min() scan per shard is
    # O(shards * n_buckets) — minutes of pure planning at 8192+ buckets.
    # (load, bucket) tuples keep ties deterministic by bucket index.
    import heapq

    heap = [(light_share, i) for i in range(n_buckets)]
    heapq.heapify(heap)

    def take_least_loaded(add: float) -> int:
        load, i = heapq.heappop(heap)
        heapq.heappush(heap, (load + add, i))
        loads[i] = load + add
        return i

    # (key, [shard buckets]): one entry = unsalted; k entries = the key is
    # split into k salt shards, each LPT-placed. BOUNDED salting — a key
    # too big for one bucket splits into ceil(bytes / (bucket_cap/4))
    # quarter-cap shards, NOT across all n_buckets: spraying every hot
    # key everywhere (the pre-r5 shape) put every hot key's rows in
    # every part, which (a) destroyed key locality so zone-map/manifest
    # pruning on the bucket key could never prune a part (measured on
    # the 10 GB corpus: 0 of 1024 parts pruned for a single-repo
    # predicate), and (b) interleaved ~200 key groups per part, costing
    # dict/RLE locality. Quarter-cap granularity (not minimum-count):
    # the row->shard salt hash has binomial variance, and LPT can only
    # balance at shard granularity — finer shards absorb both. A key
    # still touches <= 4x its minimum part count (e.g. a 50 MB repo at
    # 10 MB caps lands in <= 20 of 1024 parts, not all of them); when
    # shards >= n_buckets (tiny clusters) this degrades to the old
    # spray, which is then the right call.
    assignments: list[tuple[object, list[int]]] = []
    n_salted = 0
    shard_unit = max(bucket_cap / 4, 1.0)
    for r in sorted(heavy, key=lambda r: (-int(r["bytes"]), r[key_col])):
        b = int(r["bytes"])
        if b <= bucket_cap:
            n_shards = 1
        else:
            n_shards = min(int(-(-b // shard_unit)), n_buckets)
            n_salted += 1
        per = b / n_shards
        shard_buckets = [take_least_loaded(per) for _ in range(n_shards)]
        assignments.append((r[key_col], shard_buckets))

    info = {
        "total_bytes": total,
        "n_keys": n_keys,
        "heavy": len(heavy),
        "salted": n_salted,
        "n_buckets": n_buckets,
        "max_load_skew": (max(loads) / (total / n_buckets)) if total else 1.0,
    }

    if assignments:
        # an Arrow table becomes a JVM LocalRelation; a Python list would
        # go through parallelize + an identity map, so broadcasting the
        # map would cost a Spark job on Python workers every round. The
        # key keeps the input column's type, so the join needs no cast.
        map_df = spark.createDataFrame(
            pa.table({key_col: [k for k, _ in assignments],
                      "_shards": [s for _, s in assignments]}),
            schema=StructType([
                StructField(key_col, df.schema[key_col].dataType),
                StructField("_shards", ArrayType(IntegerType())),
            ]),
        )
        df2 = df.join(F.broadcast(map_df), key_col, "left")
        # row's shard = salt hash mod the key's shard count; bucket =
        # that shard's LPT-assigned bucket (1 shard -> plain assignment)
        salt_idx = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]),
                          F.size("_shards")).cast("int")
        key_hash = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
        bucket = (
            F.when(F.col("_shards").isNotNull(),
                   F.element_at(F.col("_shards"), salt_idx + 1))
            .otherwise(key_hash)
        )
        df2 = df2.withColumn("bucket", bucket).drop("_shards")
    else:
        df2 = df.withColumn(
            "bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
        )
    return df2, info


def repartition_by_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """The encode job's single explicit shuffle."""
    return df.repartition(n_buckets, F.col("bucket"))
