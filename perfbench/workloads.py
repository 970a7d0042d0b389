"""The timed workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned. Both report the
same end-to-end metrics: ``throughput_mb_s`` of their own timed
operation, and the size of the table they encoded.

codefiles_encode  repeated ``encode_table`` of the corpus, each round into
                  a fresh directory (no decode in the timed loop).
codefiles_scan    the table is encoded once in setup; each round is a
                  full ``decode_table`` consumed by a JVM checksum
                  aggregate (no encode in the timed loop).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

from harness import checksum, du, median

ENCODE_ARGS = {"n_buckets": None, "stats_sample_fraction": 0.25}
ENCODE_WARMUPS = 1
MIN_ENCODE_ROUNDS = 4
MIN_SCAN_ROUNDS = 6
SCAN_WARMUPS = 2


class Ops:
    """Attempted/failed counts and per-operation wall times."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []      # successful timed operations
        self.all_walls: list[float] = []  # every attempt, in order

    def run(self, tracer, name, fn):
        """Time fn(); a raised exception or a False return is a failed
        operation (logged), not a crashed run. Returns (ok, value)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span(name):
                value = fn()
            ok = value is not False
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            print(f"perfbench: {name} failed: {type(e).__name__}: {e}",
                  file=sys.stderr)
            value, ok = None, False
        wall = time.perf_counter() - t0
        self.all_walls.append(wall)
        if ok:
            self.walls.append(wall)
        else:
            self.failed += 1
        return ok, value


def _loop(seconds: float, min_ops: int, body) -> None:
    t_end = time.perf_counter() + seconds
    i = 0
    while i < min_ops or time.perf_counter() < t_end:
        body(i)
        i += 1


def encode_round(bench, corpus, facts, name: str, ops: Ops | None = None,
                 **extra):
    """One ``encode_table`` into a fresh directory; returns (ok, dir,
    summary). The summary's row count must equal the source rows."""
    from fileconvert_spark.plans.manifest import encode_table

    d = bench.table_dir(name)

    def op():
        s = encode_table(bench.spark, corpus, d, **ENCODE_ARGS, **extra)
        if s["n_rows"] != facts["rows"]:
            print(f"perfbench: {name}: n_rows {s['n_rows']} != "
                  f"{facts['rows']}", file=sys.stderr)
            return False
        return s

    if ops is None:  # setup: a failure here ends the run
        with bench.tracer.span("manifest.encode_table"):
            s = op()
        return s is not False, d, s
    ok, s = ops.run(bench.tracer, "manifest.encode_table", op)
    return ok, d, s


def warm_up_encode(bench, corpus, facts) -> None:
    """Setup: a full encode starts the Python workers and warms the JVM.
    The first round in a process is about twice as slow as later ones;
    an encode of a quarter sample costs nearly as much and leaves the
    next round cold. The second round is still about 10% slower than
    the rest, which the median over 4+ timed rounds absorbs."""
    with bench.setup_phase("warmup"):
        for i in range(ENCODE_WARMUPS):
            _ok, d, _s = encode_round(bench, corpus, facts, f"warmup-{i}")
            shutil.rmtree(d, ignore_errors=True)


def run_encode(bench, corpus, facts, seconds: float) -> dict:
    from fileconvert_spark.plans.manifest import snappy_baseline_bytes

    warm_up_encode(bench, corpus, facts)

    ops = Ops()
    stored, data = [], []
    last = {"dir": None}

    def body(i):
        ok, d, _s = encode_round(bench, corpus, facts, f"enc-{i}", ops)
        if ok:
            stored.append(du(d))
            data.append(du(os.path.join(d, "data"), ".parquet"))
            if last["dir"]:
                shutil.rmtree(last["dir"], ignore_errors=True)
            last["dir"] = d
        else:
            shutil.rmtree(d, ignore_errors=True)

    _loop(seconds, MIN_ENCODE_ROUNDS, body)

    # untimed: the baseline, and the last table decoded back to the
    # source's checksum (one more checked operation)
    with bench.tracer.span("manifest.snappy_baseline_bytes"):
        snappy = snappy_baseline_bytes(corpus, bench.table_dir("snappy"))
    if last["dir"]:
        with bench.tracer.span("reference.source_checksum"):
            ref = checksum(corpus)
        vops = Ops()
        vops.run(bench.tracer, "verify.decoded_checksum",
                 lambda: decodes_to(bench, last["dir"], ref))
        ops.attempted += vops.attempted
        ops.failed += vops.failed

    return {"ops": ops,
            "metrics": _metrics(ops, facts, stored, data, snappy),
            "extra": {"snappy_bytes": snappy, "stored_bytes": stored,
                      "data_bytes": data}}


def decodes_to(bench, table: str, ref) -> bool:
    """Full ``decode_table`` consumed by the checksum aggregate; True when
    the checksum equals ``ref``, the source's."""
    from fileconvert_spark.plans.manifest import decode_table

    with bench.tracer.span("manifest.decode_table"):
        df = decode_table(bench.spark, table)
    got = checksum(df)
    if got != ref:
        print(f"perfbench: checksum of {table} is {got}, source {ref}",
              file=sys.stderr)
        return False
    return True


def _metrics(ops: Ops, facts, stored, data, snappy) -> dict:
    """The end-to-end metrics: content MB/s of the timed operation and
    the encoded table's size (medians over the tables measured)."""
    if not (ops.walls and stored):
        return {}
    mb = facts["content_bytes"] / 1e6
    return {
        "throughput_mb_s": (median([mb / w for w in ops.walls]), "MB/s"),
        "stored_bytes_ratio": (median(stored) / facts["raw_bytes"], "ratio"),
        "size_vs_snappy": (median(data) / snappy, "ratio"),
    }


def run_scan(bench, corpus, facts, seconds: float) -> dict:
    from fileconvert_spark.plans.manifest import (decode_table,
                                                  snappy_baseline_bytes)

    with bench.setup_phase("build_table"):
        ok, d, _s = encode_round(bench, corpus, facts, "scan")
    with bench.tracer.span("reference.source_checksum"):
        ref = checksum(corpus)
    with bench.setup_phase("warmup"):
        for _ in range(SCAN_WARMUPS):
            checksum(decode_table(bench.spark, d))

    ops = Ops()

    _loop(seconds, MIN_SCAN_ROUNDS,
          lambda _i: ops.run(bench.tracer, "scan",
                             lambda: decodes_to(bench, d, ref)))

    # untimed: the size of the table scanned, against the baseline
    with bench.tracer.span("manifest.snappy_baseline_bytes"):
        snappy = snappy_baseline_bytes(corpus, bench.table_dir("snappy"))
    stored, data = [], []
    if ok:
        stored.append(du(d))
        data.append(du(os.path.join(d, "data"), ".parquet"))
    return {"ops": ops,
            "metrics": _metrics(ops, facts, stored, data, snappy),
            "extra": {"snappy_bytes": snappy, "stored_bytes": stored,
                      "data_bytes": data}}


WORKLOADS = {"codefiles_encode": run_encode, "codefiles_scan": run_scan}
