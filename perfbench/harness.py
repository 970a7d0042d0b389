"""Shared pieces of the benchmark: corpus cache, Spark session lifecycle,
span tracer, the source checksum and small statistics helpers.

Everything that touches the engine goes through its public functions
(``make_codefiles``, ``get_spark``); nothing here reaches into the
package's internals.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import time
from contextlib import contextmanager

CORPUS_ROWS = 100_000
KEY_COLS = ["repo", "path", "commit"]
# Seed kept out of every tuning run: a speed claim made on the usual seeds
# must also hold on this one before it is accepted.
HOLDOUT_SEED = 1_000_003
CORPUS_CACHE_MAX = 12   # cached corpus files kept per checkout
# Spark session starts per run; setup_s counts the median one
SESSION_STARTS = 3


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _persisted(df):
    df = df.persist()
    df.count()
    return df


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def du(path: str, suffix: str = "") -> int:
    """Bytes of the regular files under ``path`` whose name ends in suffix."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                total += os.path.getsize(os.path.join(root, f))
    return total


def source_sha(root: str) -> str:
    """sha256 over the engine's .py/.c sources: identifies the program
    version where the checkout carries no git metadata."""
    pkg = os.path.join(root, "fileconvert_spark")
    h = hashlib.sha256()
    for d, _sub, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith((".py", ".c")):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


# ---------------------------------------------------------------- tracing

class Tracer:
    """In-memory span recorder: (id, name, parent, run, start, end).

    Disabled tracers cost one attribute test per span, so the untraced
    runs call the same code paths as the traced one."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children
        cover (children of one span never overlap: calls are sequential)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = (out.get(s["name"], 0.0)
                              + s["end"] - s["start"] - child[s["id"]])
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": rows,
                       "self_s": self.self_times()}, f, indent=1)


# ----------------------------------------------------------------- corpus

def corpus_file(cache_dir: str, seed: int, rows: int = CORPUS_ROWS) -> tuple[str, dict]:
    """Parquet file of ``make_codefiles(rows, seed=seed)`` plus its facts
    (rows, content and raw column bytes), cached by (seed, rows)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from fileconvert_spark.corpus import make_codefiles

    os.makedirs(cache_dir, exist_ok=True)
    stem = os.path.join(cache_dir, f"codefiles-n{rows}-s{seed}")
    path, facts_path = stem + ".parquet", stem + ".json"
    if os.path.exists(path) and os.path.exists(facts_path):
        os.utime(path)  # most recently used survives eviction
        with open(facts_path) as f:
            return path, json.load(f)
    tbl = pa.Table.from_pandas(make_codefiles(rows, seed=seed),
                               preserve_index=False)

    def utf8_bytes(col: str) -> int:
        lens = pc.binary_length(tbl.column(col).cast(pa.binary()))
        return int(pc.sum(lens).as_py() or 0)

    facts = {"rows": tbl.num_rows,
             "content_bytes": utf8_bytes("content"),
             "raw_bytes": sum(utf8_bytes(c) for c in tbl.column_names)}
    tmp = f"{path}.{os.getpid()}.tmp"
    pq.write_table(tbl, tmp, row_group_size=20000)
    os.replace(tmp, path)
    with open(facts_path + ".tmp", "w") as f:
        json.dump(facts, f)
    os.replace(facts_path + ".tmp", facts_path)
    _evict(cache_dir)
    return path, facts


def _evict(cache_dir: str) -> None:
    files = sorted((os.path.getmtime(os.path.join(cache_dir, f)), f)
                   for f in os.listdir(cache_dir) if f.endswith(".parquet"))
    for _mt, f in files[:-CORPUS_CACHE_MAX]:
        for p in (f, f[:-len(".parquet")] + ".json"):
            try:
                os.remove(os.path.join(cache_dir, p))
            except FileNotFoundError:
                pass


# ---------------------------------------------------------------- session

class Bench:
    """One benchmark process: its Spark session, its scratch directory
    and the setup-time ledger. ``close()`` stops Spark, waits for the
    JVM to exit and removes every table directory the run created."""

    def __init__(self, work: str, cores: int, tracer: Tracer,
                 extra_conf: dict | None = None):
        self.work = work
        self.cores = cores
        self.tracer = tracer
        self.extra_conf = extra_conf or {}
        self.setup: dict[str, float] = {}
        self.session_starts: list[dict[str, float]] = []
        self.spark = None
        self._jvm = None
        os.makedirs(work, exist_ok=True)

    @contextmanager
    def setup_phase(self, name: str):
        """Time a phase that counts toward ``setup_s``."""
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0

    def setup_s(self) -> float:
        return sum(self.setup.values())

    def table_dir(self, name: str) -> str:
        d = os.path.join(self.work, "tables", name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def start(self, corpus_path: str):
        """Start the Spark session and persist the input, SESSION_STARTS
        times. The first start launches the JVM; each later one stops the
        session and starts a new one in the same JVM. The start with the
        median time is the one ``setup_s`` counts; all are kept in
        ``session_starts``."""
        from pyspark import SparkContext

        from fileconvert_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
                **self.extra_conf}
        self.corpus_path = corpus_path
        for _ in range(SESSION_STARTS):
            if self.spark is not None:
                self.spark.stop()
            with self.tracer.span("session.get_spark"):
                t_spark, self.spark = timed(lambda: get_spark(
                    "perfbench", master=f"local[{self.cores}]",
                    shuffle_partitions=max(self.cores, 8), extra_conf=conf))
            if self._jvm is None:
                self._jvm = getattr(SparkContext._gateway, "proc", None)
            with self.tracer.span("session.input_persist"):
                t_persist, corpus = timed(lambda: _persisted(
                    self.spark.read.parquet(corpus_path)))
            self.session_starts.append({"session.get_spark": t_spark,
                                        "session.input_persist": t_persist})
        mid = sorted(self.session_starts, key=lambda r: sum(r.values()))[
            (SESSION_STARTS - 1) // 2]
        self.setup.update(mid)
        return corpus

    def jvm_pid(self) -> int | None:
        return self._jvm.pid if self._jvm is not None else None

    def close(self) -> None:
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            proc, self._jvm = self._jvm, None
            if proc is not None:
                # the gateway JVM exits when its stdin closes; its Python
                # worker daemon exits with it
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
                _wait_children_gone(proc.pid)
            shutil.rmtree(os.path.join(self.work, "tables"),
                          ignore_errors=True)


def _children(pid: int) -> list[int]:
    """Live descendants of ``pid`` (from /proc)."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parent[int(d)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _wait_children_gone(pid: int, timeout: float = 15.0) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline:
        alive = [c for c in _children(pid) if os.path.exists(f"/proc/{c}")]
        if not alive:
            return
        time.sleep(0.2)
    for c in _children(pid):
        try:
            os.kill(c, 9)
        except OSError:
            pass


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def worker_pids(jvm_pid: int) -> list[int]:
    """Python processes (worker daemon and workers) under the JVM."""
    out = []
    for c in _children(jvm_pid):
        try:
            with open(f"/proc/{c}/cmdline", "rb") as f:
                if b"pyspark" in f.read():
                    out.append(c)
        except OSError:
            continue
    return out


# -------------------------------------------------------------- checksums

def checksum(df):
    """(row count, sum of a per-row xxhash64 over every column): one JVM
    aggregate that consumes every decoded value. The sum is taken as
    decimal so it cannot overflow under ANSI mode."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(row["n"]), str(row["h"])
