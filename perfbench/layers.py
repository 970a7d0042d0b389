"""Traced run (``--trace 1``): time per layer, measured from outside.

Every traced run reports every per-layer metric, whichever workload it is
given; the workload only selects which timed operation the Spark
event-log metrics (``spark.*``) and the tracing overhead refer to.

Encode is split with noop sinks on the same bucketed frame:

    plan_buckets                      -> partitioning.plan_buckets_s
    repartition_by_bucket -> noop     -> partitioning.exchange_s   (E)
    + passthrough mapInArrow -> noop  -> encode.arrow_ipc_s        (P - E)
    + make_encode_fn -> noop          -> encode.kernel_s           (K - P)
    encode_table round R              -> manifest.part_write_s = R - plan - K

so plan (as measured inside the round) + exchange + IPC + kernel + part
write equals the warm round by construction. ``encode.stage_gap_s`` is
the round minus the stages with the standalone ``plan_buckets`` time in
place of the in-round one.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import uuid

import numpy as np

from harness import (KEY_COLS, checksum, median, timed, vm_hwm_mb,
                     worker_pids)
from workloads import Ops, decodes_to, encode_round, warm_up_encode

COLUMNS = ("repo", "path", "commit", "lang", "content")
CODECS = ("linedict", "pathdict", "dict", "hex", "dictpage")
OP_GROUP = "perfbench-op"
MICRO_REPS = 3
NOOP_REPS = 2
FSST_MAX_BYTES = 8 << 20
LOOKUP_ROUNDS = 2
# untraced rounds of the workload's own operation, then as many traced
ENCODE_OP_ROUNDS = 1
SCAN_OP_ROUNDS = 2


def event_log_conf(d: str) -> dict:
    os.makedirs(d, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + d,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_traced(bench, corpus, facts, workload, seed) -> dict:
    sc = bench.spark.sparkContext
    tr = bench.tracer
    ops = Ops()
    m = {"session.get_spark_s": (bench.setup["session.get_spark"], "s"),
         "session.input_persist_s": (bench.setup["session.input_persist"], "s")}

    warm_up_encode(bench, corpus, facts)

    enc_dir = _encode_layers(bench, corpus, facts, ops, m,
                             op=workload == "codefiles_encode")
    _codec_layers(bench, enc_dir, facts, m)
    _scan_layers(bench, corpus, enc_dir, ops, m,
                 op=workload == "codefiles_scan")
    _lookup_layers(bench, corpus, facts, seed, ops, m)
    with tr.span("verify.key_unique"):
        m["verify.key_unique_s"] = (timed(lambda: (
            corpus.groupBy(*KEY_COLS).count().filter("count > 1")
            .limit(1).isEmpty()))[0], "s")
    _verify_report(bench, corpus, enc_dir, ops, m)

    jvm = bench.jvm_pid()
    m["mem.jvm_rss_peak_mb"] = (vm_hwm_mb(jvm) if jvm else 0.0, "MB")
    m["mem.py_workers_rss_peak_mb"] = (
        sum(vm_hwm_mb(p) for p in worker_pids(jvm)) if jvm else 0.0, "MB")
    sc.setLocalProperty("spark.jobGroup.id", None)
    op_rounds = 2 * (ENCODE_OP_ROUNDS if workload == "codefiles_encode"
                     else SCAN_OP_ROUNDS)
    return {"ops": ops, "metrics": m, "op_rounds": op_rounds, "extra": {}}


def _op_rounds(bench, ops, name, fn, n):
    """n untraced then n traced rounds of the workload's own operation,
    all in the event-log job group OP_GROUP. Returns the tracing overhead:
    median traced minus median untraced wall."""
    sc = bench.spark.sparkContext
    walls = {False: [], True: []}
    enabled = bench.tracer.enabled
    for traced in (False, True):
        bench.tracer.enabled = traced
        for _ in range(n):
            sc.setJobGroup(OP_GROUP, name)
            ops.run(bench.tracer, name, fn)
            walls[traced].append(ops.all_walls[-1])
    bench.tracer.enabled = enabled
    sc.setLocalProperty("spark.jobGroup.id", None)
    return median(walls[True]) - median(walls[False])


def _encode_layers(bench, corpus, facts, ops, m, op: bool) -> str:
    from fileconvert_spark.operators.encode import (ENC_SPARK_SCHEMA,
                                                    make_encode_fn)
    from fileconvert_spark.operators.partitioning import (
        plan_buckets, repartition_by_bucket)
    from fileconvert_spark.plans.manifest import read_all_manifests

    def passthrough(batches):  # nested: shipped to workers by value
        yield from batches

    tr = bench.tracer
    with tr.span("partitioning.plan_buckets"):
        plan_s, (dfb, info) = timed(lambda: plan_buckets(
            corpus, None, stats_sample_fraction=0.25))
    nb = info["n_buckets"]
    shuffled = repartition_by_bucket(dfb, nb)

    def kernel_frame():
        # a fresh cache namespace, as every encode_table round gets one
        fn = make_encode_fn(part_id_col="bucket",
                            cache_ns=f"perfbench-{uuid.uuid4().hex}")
        return shuffled.mapInArrow(fn, ENC_SPARK_SCHEMA)

    # each noop job twice, keeping the faster: the stages are differences
    # of these walls, so one slow repetition would skew two stages
    stage = {}
    for _rep in range(NOOP_REPS):
        for name, frame in (
                ("partitioning.exchange", lambda: shuffled),
                ("encode.passthrough",
                 lambda: shuffled.mapInArrow(passthrough, shuffled.schema)),
                ("encode.kernel_noop", kernel_frame)):
            with tr.span(name):
                t, _ = timed(lambda: _noop(frame()))
            stage[name] = min(stage.get(name, t), t)
    ex_s = stage["partitioning.exchange"]
    pt_s = stage["encode.passthrough"]
    k_s = stage["encode.kernel_noop"]

    # full rounds: the last one's table feeds the codec and scan layers
    rounds, dirs = [], []

    def one_round():
        ok, d, s = encode_round(bench, corpus, facts,
                                f"layers-{len(dirs)}")
        dirs.append(d)
        rounds.append(s)
        return s if ok else False

    if op:
        m["trace.overhead_s"] = (_op_rounds(
            bench, ops, "codefiles_encode.round", one_round,
            ENCODE_OP_ROUNDS), "s")
    else:
        ops.run(tr, "codefiles_encode.round", one_round)
    walls = ops.all_walls[-len(rounds):]
    for d in dirs[:-1]:
        shutil.rmtree(d, ignore_errors=True)
    summary = rounds[-1]
    if not summary:
        raise RuntimeError("encode round failed in the traced run")
    r_s = median(walls)
    in_plan = summary["plan_wall_s"]
    part_walls = [int(x["wall_ms"]) for x in read_all_manifests(dirs[-1])]
    m.update({
        "partitioning.plan_buckets_s": (plan_s, "s"),
        "partitioning.max_load_skew": (float(info["max_load_skew"]), "ratio"),
        "partitioning.n_buckets": (nb, "count"),
        "partitioning.exchange_s": (ex_s, "s"),
        "encode.arrow_ipc_s": (pt_s - ex_s, "s"),
        "encode.kernel_s": (k_s - pt_s, "s"),
        "encode.round_s": (r_s, "s"),
        "manifest.part_write_s": (r_s - in_plan - k_s, "s"),
        "encode.stage_gap_s": (in_plan - plan_s, "s"),
        "manifest.plan_wall_s": (in_plan, "s"),
        "manifest.rollup_s": (summary["manifest_rollup_wall_s"], "s"),
        "manifest.part_wall_ms_max": (max(part_walls), "ms"),
        "manifest.part_wall_ms_median": (median(part_walls), "ms"),
    })
    return dirs[-1]


def _codec_layers(bench, enc_dir, facts, m) -> None:
    """Single-core codec speeds on one part's worth of corpus rows, and
    the winning codecs' chunk counts and bytes in the encoded table."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from fileconvert_spark.functions import fsst
    from fileconvert_spark.functions.bitpack import pack_uints, unpack_uints
    from fileconvert_spark.operators.encode import (decode_column,
                                                    encode_column)

    tr = bench.tracer
    data = os.path.join(enc_dir, "data")
    enc = pq.read_table(data, columns=["codec", "enc_bytes"])
    by = {}
    for c, b in zip(enc.column("codec").to_pylist(),
                    enc.column("enc_bytes").to_pylist()):
        n, tot = by.get(c, (0, 0))
        by[c] = (n + 1, tot + int(b or 0))
    print(f"perfbench: codec chunks/bytes {by}", file=sys.stderr)
    for c in CODECS:
        n, tot = by.get(c, (0, 0))
        m[f"codec.{c}.chunks"] = (n, "count")
        m[f"codec.{c}.enc_bytes"] = (tot, "bytes")

    n_parts = m["partitioning.n_buckets"][0]
    src = pq.read_table(bench.corpus_path).slice(0, facts["rows"] // n_parts)
    for col in COLUMNS:
        arr = src.column(col).combine_chunks()
        mb = int(pc.sum(pc.binary_length(arr.cast(pa.binary()))).as_py()
                 or 0) / 1e6
        with tr.span(f"encode.encode_column.{col}"):
            et = []
            for _ in range(MICRO_REPS):
                t, row = timed(lambda: encode_column(arr, zone_stats=False))
                et.append(t)
        with tr.span(f"encode.decode_column.{col}"):
            dt = []
            for _ in range(MICRO_REPS):
                t, out = timed(lambda: decode_column(
                    row["codec"], row["payload"], row["dict"], row["meta"],
                    row["n_rows"], row["validity"]))
                dt.append(t)
        if not out.equals(arr):
            raise RuntimeError(f"decode_column({col}) differs from source")
        m[f"encode.encode_column_mb_s.{col}"] = (mb / median(et), "MB/s")
        m[f"encode.decode_column_mb_s.{col}"] = (mb / median(dt), "MB/s")

    content = src.column("content").combine_chunks().drop_null()
    offs = np.frombuffer(content.buffers()[1], dtype=np.int32,
                         count=len(content) + 1)
    content = content.slice(0, int(np.searchsorted(offs, FSST_MAX_BYTES)))
    mb = int(pc.sum(pc.binary_length(content.cast(pa.binary()))).as_py()) / 1e6
    payload, blob = fsst.fsst_encode_array(content)  # trains the table
    table = fsst.deserialize_table(blob)
    with tr.span("fsst.encode"):
        et = [timed(lambda: fsst.fsst_encode_array(content, table))[0]
              for _ in range(MICRO_REPS)]
    with tr.span("fsst.decode"):
        dt = []
        for _ in range(MICRO_REPS):
            t, out = timed(lambda: fsst.fsst_decode_array(payload, blob))
            dt.append(t)
    if not out.equals(content):
        raise RuntimeError("fsst decode differs from source")
    m["fsst.encode_mb_s"] = (mb / median(et), "MB/s")
    m["fsst.decode_mb_s"] = (mb / median(dt), "MB/s")

    vals = np.random.Generator(np.random.PCG64(7)).integers(
        0, 1 << 12, 2_000_000, dtype=np.uint64)
    with tr.span("bitpack.pack"):
        pt = []
        for _ in range(MICRO_REPS):
            t, packed = timed(lambda: pack_uints(vals, 12))
            pt.append(t)
    if not np.array_equal(unpack_uints(packed, 12, len(vals)), vals):
        raise RuntimeError("bitpack round trip differs")
    m["bitpack.pack_mb_s"] = (vals.nbytes / 1e6 / median(pt), "MB/s")


def _scan_layers(bench, corpus, enc_dir, ops, m, op: bool) -> None:
    from fileconvert_spark.plans.manifest import decode_table

    tr = bench.tracer
    with tr.span("reference.source_checksum"):
        ref = checksum(corpus)
    with tr.span("scan.warmup"):
        checksum(decode_table(bench.spark, enc_dir))
    with tr.span("manifest.decode_noop"):
        m["manifest.decode_noop_s"] = (timed(lambda: _noop(
            decode_table(bench.spark, enc_dir)))[0], "s")

    if op:
        m["trace.overhead_s"] = (_op_rounds(
            bench, ops, "codefiles_scan.round",
            lambda: decodes_to(bench, enc_dir, ref), SCAN_OP_ROUNDS), "s")


def lookup_keys(corpus_path: str, seed: int, n: int):
    """Seeded lookup probes: n repos, n present paths, n absent paths."""
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    t = pq.read_table(corpus_path, columns=["repo", "path"])
    repos = sorted(set(t.column("repo").to_pylist()))
    paths = t.column("path")
    return ([rng.choice(repos) for _ in range(n)],
            [paths[rng.randrange(len(paths))].as_py() for _ in range(n)],
            [f"absent/{rng.getrandbits(48):012x}.py" for _ in range(n)])


def _lookup_layers(bench, corpus, facts, seed, ops, m) -> None:
    from pyspark.sql import functions as F

    from fileconvert_spark.plans.keyindex import part_may_match
    from fileconvert_spark.plans.manifest import (decode_table,
                                                  normalize_predicate,
                                                  read_all_manifests)

    sc = bench.spark.sparkContext
    tr = bench.tracer
    with tr.span("lookup.build_table"):
        _ok, d, _s = encode_round(bench, corpus, facts, "lookup",
                                  cluster_by=("repo",),
                                  key_index_cols=("path",))
    repos, paths, absent = lookup_keys(bench.corpus_path, seed,
                                       LOOKUP_ROUNDS)
    with tr.span("reference.lookup_counts"):
        ref = {("repo", r[0]): r[1] for r in corpus.filter(
            F.col("repo").isin(repos)).groupBy("repo").count().collect()}
        ref.update({("path", r[0]): r[1] for r in corpus.filter(
            F.col("path").isin(paths)).groupBy("path").count().collect()})
    probes = []
    for i in range(LOOKUP_ROUNDS):
        probes += [("repo", repos[i], ["repo", "path", "lang"]),
                   ("path", paths[i], ["repo", "path", "commit"]),
                   ("path", absent[i], ["repo", "path", "commit"])]
    plan_s, lat, tasks = [], [], []
    for i, (col, val, proj) in enumerate(probes):
        group = f"perfbench-lookup-{i}"

        def op():
            sc.setJobGroup(group, "lookup")
            with tr.span("manifest.decode_plan"):
                t, df = timed(lambda: decode_table(
                    bench.spark, d, columns=proj,
                    predicate=(col, "=", val)))
            plan_s.append(t)
            return df.count() == ref.get((col, val), 0)

        ok, _ = ops.run(tr, "lookup", op)
        lat.append(ops.all_walls[-1])
        st = sc.statusTracker()
        tasks.append(sum(
            st.getStageInfo(s).numCompletedTasks
            for j in st.getJobIdsForGroup(group)
            for s in (st.getJobInfo(j).stageIds if st.getJobInfo(j) else [])
            if st.getStageInfo(s)))
    sc.setLocalProperty("spark.jobGroup.id", None)

    pids = [int(x["part_id"]) for x in read_all_manifests(d)]
    pm = []
    with tr.span("keyindex.part_may_match"):
        for val in paths + absent:
            pred = normalize_predicate(("path", "=", val))
            pm.append(timed(lambda: [part_may_match(
                pred, d, pid, {"path"}, {"path": "string"})
                for pid in pids])[0])
    m.update({
        "manifest.decode_plan_s": (median(plan_s), "s"),
        "lookup.tasks": (sum(tasks) / len(tasks), "count"),
        "lookup.latency_p50_s": (median(lat), "s"),
        "keyindex.part_may_match_s": (median(pm), "s"),
    })


def _verify_report(bench, corpus, enc_dir, ops, m) -> None:
    from fileconvert_spark.operators.verify import roundtrip_report
    from fileconvert_spark.plans.manifest import decode_table

    def report():
        row = roundtrip_report(corpus, decode_table(bench.spark, enc_dir),
                               KEY_COLS).collect()[0].asDict()
        return (row["n_src"] == row["n_dec"]
                and not any(row[k] for k in ("missing", "extra",
                                             "value_mismatches",
                                             "sha_mismatches")))

    ops.run(bench.tracer, "verify.roundtrip_report", report)
    m["verify.roundtrip_report_s"] = (ops.all_walls[-1], "s")


def _event_log_metrics(log_dir: str) -> dict:
    """Sum task metrics of the OP_GROUP jobs in the Spark event log."""
    stage_group, tasks = {}, []
    paths = sorted(os.path.join(d, f) for d, _s, files in os.walk(log_dir)
                   for f in files)
    for path in paths:
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in e.get("Stage IDs", []):
                        stage_group[s] = g
                elif ev == "SparkListenerTaskEnd":
                    tasks.append(e)
    out = {"shuffle_write_bytes": 0.0, "jvm_gc_s": 0.0, "executor_cpu_s": 0.0,
           "scheduler_delay_s": 0.0, "task_failures": 0}
    for e in tasks:
        if stage_group.get(e.get("Stage ID")) != OP_GROUP:
            continue
        info = e.get("Task Info") or {}
        tm = e.get("Task Metrics") or {}
        reason = (e.get("Task End Reason") or {}).get("Reason")
        if info.get("Failed") or reason not in (None, "Success"):
            out["task_failures"] += 1
        dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        got = info.get("Getting Result Time", 0)
        getting = info.get("Finish Time", 0) - got if got else 0
        delay = dur - tm.get("Executor Run Time", 0) \
            - tm.get("Executor Deserialize Time", 0) \
            - tm.get("Result Serialization Time", 0) - getting
        out["scheduler_delay_s"] += max(delay, 0) / 1e3
        out["jvm_gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        out["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        out["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}) \
            .get("Shuffle Bytes Written", 0)
    return out


def after_stop(bench, res) -> dict:
    """Metrics read once Spark has stopped and flushed its event log,
    per operation of the workload's own timed rounds."""
    n_ops = res["op_rounds"]
    ev = _event_log_metrics(os.path.join(bench.work, "eventlog"))
    units = {"shuffle_write_bytes": "bytes", "task_failures": "count"}
    out = {f"spark.{k}": (v if k == "task_failures" else v / n_ops,
                          units.get(k, "s")) for k, v in ev.items()}
    for name, t in sorted(bench.tracer.self_times().items()):
        print(f"perfbench: self {name:42s} {t:9.3f} s", file=sys.stderr)
    return out
