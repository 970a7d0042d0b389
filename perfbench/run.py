#!/usr/bin/env python3
"""Benchmark of the fileconvert_spark engine on the seeded codefiles corpus.

    python3 perfbench/run.py --workload codefiles_encode --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. The corpus is ``make_codefiles(100000,
seed=SEED)``, generated before setup and cached by (seed, rows) under
``.perfbench/corpus``. With ``--trace 0`` the last stdout line is the
JSON result holding every end-to-end metric (both workloads print the
same ones); with ``--trace 1`` it holds the per-layer metrics of a
traced run (see layers.py), and the spans go to ``.perfbench/traces``.
The line before it is a JSON record of the host, versions, corpus and
every round's wall time. All scratch files live under ``.perfbench`` in
the checkout; the tables a run creates are removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("codefiles_encode", "codefiles_scan")


def _isolate(work_base: str, run_dir: str) -> None:
    """Keep every file Spark, the JVM and the engine write inside the
    checkout. Must run before pyspark or the engine is imported."""
    for sub in ("tmp", "cache"):
        os.makedirs(os.path.join(work_base, sub), exist_ok=True)
    local = os.path.join(run_dir, "local")
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work_base, "tmp")
    os.environ["XDG_CACHE_HOME"] = os.path.join(work_base, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    # the same string hashing in every run's Python workers
    os.environ["PYTHONHASHSEED"] = "0"


def _remove_dead_runs(runs: str) -> None:
    """Delete run directories left by benchmark processes that are gone,
    so that no run inherits tables from an earlier one."""
    if not os.path.isdir(runs):
        return
    for name in os.listdir(runs):
        pid = name.rsplit("-", 1)[-1]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True,
                             text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return (out.stderr or out.stdout).splitlines()[0].strip()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "fileconvert_spark",
                                       "__init__.py")):
        print(f"perfbench: no fileconvert_spark package under {ROOT}; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2

    work_base = os.path.join(ROOT, ".perfbench")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(work_base, "runs", run_id)
    _remove_dead_runs(os.path.join(work_base, "runs"))
    _isolate(work_base, run_dir)
    sys.path.insert(0, ROOT)

    import fileconvert_spark  # noqa: F401  (sets allocator env first)
    import pyarrow
    import pyspark
    from fileconvert_spark import native

    import harness
    import workloads

    if args.seed == harness.HOLDOUT_SEED:
        print("perfbench: running on the held-out seed", file=sys.stderr)
    native.load()  # compile the C kernels once per checkout, before timing
    t0 = time.perf_counter()
    corpus_path, facts = harness.corpus_file(
        os.path.join(work_base, "corpus"), args.seed)
    corpus_gen_s = time.perf_counter() - t0

    # a running task keeps a JVM thread and a Python worker busy at once,
    # so local[nproc/2] is the most that does not oversubscribe the CPUs
    cores = max(1, (os.cpu_count() or 2) // 2)
    tracer = harness.Tracer(run_id, enabled=bool(args.trace))
    extra_conf = {}
    if args.trace:
        import layers

        extra_conf = layers.event_log_conf(os.path.join(run_dir, "eventlog"))
    bench = harness.Bench(run_dir, cores, tracer, extra_conf)
    try:
        try:
            corpus = bench.start(corpus_path)
            if args.trace:
                res = layers.run_traced(bench, corpus, facts, args.workload,
                                        args.seed)
            else:
                res = workloads.WORKLOADS[args.workload](bench, corpus,
                                                         facts, args.seconds)
        finally:
            bench.close()
        if args.trace:
            res["metrics"].update(layers.after_stop(bench, res))
            tracer.write(os.path.join(work_base, "traces", run_id + ".json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = res["ops"]
    metrics = dict(res["metrics"])
    if not args.trace:
        metrics["setup_s"] = (bench.setup_s(), "s")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = {m["name"] for m in json.load(f)[
            "per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != listed:
        print(f"perfbench: metrics not in BENCHMARK.json: "
              f"{sorted(set(metrics) - listed)}; missing: "
              f"{sorted(listed - set(metrics))}", file=sys.stderr)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "master": f"local[{cores}]",
        "spark_driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "java": _java_version(), "python": platform.python_version(),
        "git_commit": harness.git_commit(ROOT),
        "source_sha": harness.source_sha(ROOT),
        "corpus": {**facts, "seed": args.seed, "gen_or_load_s": corpus_gen_s},
        "setup_phases_s": bench.setup,
        "session_starts_s": bench.session_starts,
        "round_walls_s": ops.all_walls,
        **res.get("extra", {}),
    }
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": ops.failed == 0 and set(metrics) == listed,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
