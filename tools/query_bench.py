"""Time every registered query at bench shape, interleaving git refs.

    python tools/query_bench.py REF_A [REF_B] [--queries a,b] [--reps N] \
        [--sf-dir DIR] [--out FILE]

``HEAD`` is the working tree as it is; any other ref is resolved to its
commit and checked out once into a cached ``git worktree`` under /tmp.
Each rep starts one fresh JVM per ref, alternating which ref goes first
(sequential runs on one host drift: the first pays the cold caches).
The JVM has the bench.py shape: ``local[$SPARK_GRAFT_CPUS]``,
``shuffle_partitions = max(cpus, 8)``, every pooled Python worker warmed
with the engine and pandas imports. Every query runs twice untimed
(two passes over the list) before the first timed run; then three timed
passes go round-robin over the list, and each query keeps the minimum of
its 3 timed runs of bench.py's action (``count()`` for
dedup_minhash_docs, ``collect()`` otherwise).

Writes one JSON document (stdout without ``--out``). Per query and ref:
``walls`` (one min-of-3 per rep), ``median_s``, the formatted physical
plan and ``python_eval_nodes``, its count of operators that ship rows to
Python workers. Two refs add ``ratio_b_over_a`` of the medians. A
query's error is recorded under ``errors`` and the run goes on.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext, redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WARM_PASSES = 2     # untimed runs of every query before the first timed one

# node names of Spark's Python-evaluation operators: *EvalPython*,
# Arrow{Aggregate,Window}Python, MapIn{Arrow,Pandas},
# FlatMap[Co]GroupsIn{Arrow,Pandas}[WithState]
_PY_EVAL = re.compile(r"Python(UDTF)?$|In(Arrow|Pandas)(WithState)?$")
# operator headers in the details section of a formatted plan: "(7) Name"
_NODE = re.compile(r"^\(\d+\) (\w+)", re.MULTILINE)


def python_eval_nodes(plan: str) -> int:
    """Python-evaluation operators in an ``explain("formatted")`` plan."""
    return sum(1 for name in _NODE.findall(plan) if _PY_EVAL.search(name))


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _action(name: str, df) -> None:
    df.count() if name == "dedup_minhash_docs" else df.collect()


def _warm_fn(batches):
    # pyarrow imports pandas lazily, on its first conversion of Python or
    # pandas data, which any real UDF makes: ~0.3 s on a worker's first
    # UDF. A 1-row mapInArrow probe took 0.40-0.56 s on each worker's
    # first use after an engine-only warm-up, 0.18-0.25 s after this one,
    # and 0.10-0.17 s once warm (local[4], 4-core host).
    import pandas  # noqa: F401
    import pyarrow.pandas_compat  # noqa: F401

    import fileconvert_spark.functions.codecs  # noqa: F401

    yield from batches


def run_child(tree: str, sf_dir: str, names: list[str], out_path: str) -> None:
    """One fresh JVM over ``tree``'s engine: warm-up passes, then the
    min of 3 round-robin timed runs per query."""
    os.chdir(tree)
    sys.path.insert(0, tree)
    import fileconvert_spark  # noqa: F401  (malloc tuning before numpy)
    from fileconvert_spark.session import get_spark

    import __spark_entry__ as E

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark("query-bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8), extra_conf={
                          "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    # cpus * 4 tasks start cpus at once, so every pooled worker runs one
    spark.range(cpus * 4, numPartitions=cpus * 4) \
        .mapInArrow(_warm_fn, "id long").count()
    qmap = E.queries()
    res, plans, walls = {}, {}, {}
    # The JVM keeps getting faster over its first ~15 query runs (JIT):
    # knn_bruteforce ran 1.15, 0.86, 0.77 ... 0.62 s in its first 8 runs,
    # then 0.50-0.60 s after 8 runs of knn_ivf. So every query runs
    # WARM_PASSES times before the first timed run, and the 3 timed runs
    # go round-robin over the list, so the query order moves little time
    # between queries.
    for p in range(WARM_PASSES + 3):
        for name in names:
            if name in res:
                continue
            try:
                t0 = time.perf_counter()
                df = qmap[name](spark, sf_dir)
                if not p:
                    plans[name] = formatted_plan(df)
                _action(name, df)
                if p >= WARM_PASSES:
                    walls.setdefault(name, []).append(
                        time.perf_counter() - t0)
            except Exception as e:  # noqa: BLE001 - record it, run the rest
                res[name] = {"error": f"{type(e).__name__}: {e}"[:2000]}
    for name in names:
        if name not in res:
            res[name] = {"wall_s": round(min(walls[name]), 4),
                         "plan": plans[name],
                         "python_eval_nodes": python_eval_nodes(plans[name])}
        print(f"# {name:32s} {res[name].get('wall_s', 'error')}",
              file=sys.stderr, flush=True)
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(res, f)


def tree_for(ref: str) -> str:
    if ref == "HEAD":
        return REPO
    sha = subprocess.run(["git", "-C", REPO, "rev-parse", "--verify",
                          f"{ref}^{{commit}}"], check=True,
                         capture_output=True, text=True).stdout.strip()
    path = os.path.join(tempfile.gettempdir(), f"fcs_qb_{sha[:12]}")
    if not os.path.exists(os.path.join(path, "__spark_entry__.py")):
        subprocess.run(["git", "-C", REPO, "worktree", "add", "--force",
                        "--detach", path, sha], check=True,
                       capture_output=True)
    return path


def run_ref(tree: str, sf_dir: str, names: list[str]) -> dict:
    """One fresh JVM: per query its result, or the child's exit error."""
    with tempfile.TemporaryDirectory(prefix="fcs_qb_") as d:
        out_path = os.path.join(d, "result.json")
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", tree,
             sf_dir, ",".join(names), out_path], stdout=subprocess.DEVNULL,
            env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
        if p.returncode == 0:
            with open(out_path) as f:
                return json.load(f)
    return {n: {"error": f"child exited {p.returncode}"} for n in names}


def main(argv: list[str]) -> int:
    if argv[:1] == ["--child"]:
        tree, sf_dir, names, out_path = argv[1:5]
        run_child(tree, sf_dir, names.split(","), out_path)
        return 0
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("refs", nargs="+", metavar="REF")
    ap.add_argument("--queries", help="comma-separated (default: all)")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", type=os.path.abspath,
                    default=os.environ.get("SPARK_GRAFT_SF_DIR") or None,
                    help="TPC-H-style table dir (default $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    if len(args.refs) > 2:
        ap.error("at most two refs")
    if not args.sf_dir:
        ap.error("--sf-dir or $SPARK_GRAFT_SF_DIR is required")
    sys.path.insert(0, REPO)
    import __spark_entry__ as E

    names = args.queries.split(",") if args.queries else list(E.queries())
    trees = {ref: tree_for(ref) for ref in args.refs}
    runs: dict[str, list[dict]] = {ref: [] for ref in args.refs}
    t0 = time.time()
    for rep in range(args.reps):  # even reps run REF_A first, odd REF_B
        for ref in (args.refs if rep % 2 == 0 else args.refs[::-1]):
            print(f"# rep {rep} {ref}", file=sys.stderr, flush=True)
            runs[ref].append(run_ref(trees[ref], args.sf_dir, names))

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    out = {"refs": args.refs, "trees": trees, "reps": args.reps,
           "sf_dir": args.sf_dir, "cpus": cpus,
           "wall_s": round(time.time() - t0, 1), "queries": {},
           "errors": {}}
    for name in names:
        entry = out["queries"][name] = {}
        for ref in args.refs:
            got = [r[name] for r in runs[ref]]
            walls = [g["wall_s"] for g in got if "wall_s" in g]
            for g in got:
                if "error" in g:
                    out["errors"].setdefault(f"{name}@{ref}", g["error"])
            ok = next((g for g in got if "plan" in g), {})
            entry[ref] = {"walls": walls, "plan": ok.get("plan"),
                          "median_s": statistics.median(walls) if walls
                          else None,
                          "python_eval_nodes": ok.get("python_eval_nodes")}
        if len(args.refs) == 2:
            a, b = (entry[r]["median_s"] for r in args.refs)
            entry["ratio_b_over_a"] = round(b / a, 3) if a and b else None
    with open(args.out, "w") if args.out else nullcontext(sys.stdout) as f:
        json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
