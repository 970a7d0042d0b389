"""Cluster entry point: decode an encoded table back to parquet, with an
optional bit-identity verification against the original source.

    spark-submit --py-files /tmp/fileconvert_spark_pyfiles.zip \
        jobs/decode_job.py <enc_dir> <out_parquet> [src_parquet] \
        [--columns=a,b,...] [--predicate=col,op,value]

- <enc_dir>: directory written by jobs/encode_job.py (local path or URI).
- <out_parquet>: where to write the decoded table.
- [src_parquet]: if given, verifies the round trip and prints the report —
  key-join mode when the table has a unique key, order-insensitive
  multiset-fingerprint mode otherwise (exit code 1 on any mismatch).
- [--columns=a,b]: decode only a projection — non-selected columns'
  payload pages are skipped at the parquet layer (row groups are
  column-aligned). Verification compares only the selected columns.
- [--predicate=col,op,value]: zone-map predicate decode (op one of
  =,<,<=,>,>=,in); excluded parts prune at the driver via manifest
  zone bounds, excluded chunks at the parquet read. Repeatable —
  multiple flags form a conjunction (AND); WITHIN one flag,
  ;-separated triples form a disjunction (OR):
  --predicate="repo,=,a;repo,=,b" reads the parts holding either
  repo. op "in" takes a |-separated value list (--predicate=repo,in,a|b).
  Values cast by the encoded table's OWN column type (_schema.json) —
  a string column keeps digit-like values as strings ('007' matches
  '007', never 7); quote a value ('x' or "x") to force string
  regardless. Verification (if src given) applies the same filters to
  the source.
"""

from __future__ import annotations

import json
import os
import sys

# plain `python jobs/<job>.py` puts jobs/ (not the repo root) on sys.path;
# under spark-submit --py-files the zip provides the package instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def _schema_caster(enc_dir: str):
    """Value caster resolved against the encoded table's own column types
    (_schema.json) — NOT try-int-then-float guessing: a string column
    with digit-like values ('007') must compare as the literal string,
    or Spark casts the COLUMN to int and '007' matches 7 (and zone
    pruning silently disables on the type mismatch). Quoting ('x'/"x")
    forces string for any column."""
    import json as _json

    from fileconvert_spark.plans import fsio

    fields = _json.loads(
        fsio.read_bytes(os.path.join(enc_dir, "_schema.json")))["fields"]
    types = {f["name"]: f["type"] for f in fields
             if isinstance(f.get("type"), str)}

    def cast(col: str, v: str):
        if len(v) >= 2 and v[0] == v[-1] and v[0] in ("'", '"'):
            return v[1:-1]  # explicit string literal
        t = types.get(col)
        try:
            if t in ("byte", "short", "integer", "long"):
                return int(v)
            if t in ("float", "double") or (t or "").startswith("decimal"):
                # Spark schema JSON spells decimals 'decimal(p,s)'
                return float(v)
            if t == "boolean":
                return v.lower() in ("1", "true", "t", "yes")
            if t == "string":
                return v
        except ValueError as e:
            raise SystemExit(
                f"decode_job: predicate value {v!r} does not parse as the "
                f"{t} column {col!r}") from e
        # unknown/absent column type: legacy int-then-float guess (the
        # unknown-column error surfaces later in decode_table)
        for c in (int, float):
            try:
                return c(v)
            except ValueError:
                continue
        return v

    return cast


def _split_unquoted(s: str, sep: str) -> list[str]:
    """Split on ``sep`` only outside '...'/\"...\" quoting, so a quoted
    predicate value may contain the ';' OR-separator or the '|'
    in-list separator literally."""
    out, buf, q = [], [], None
    for ch in s:
        if q:
            buf.append(ch)
            if ch == q:
                q = None
        elif ch in ("'", '"'):
            q = ch
            buf.append(ch)
        elif ch == sep:
            out.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    out.append("".join(buf))
    return out


def _parse_predicates(raw_flags: list[str], cast) -> list | None:
    """Each flag is an OR of ;-separated triples; flags AND together.
    Quote a value ('x' or \"x\") to force string typing AND to protect
    ';'/'|' inside it; the ',' before the value never needs protection
    (the triple split stops after col,op)."""
    conj = []
    for raw in raw_flags:
        branches = []
        for triple in _split_unquoted(raw, ";"):
            parts = triple.split(",", 2)
            if len(parts) != 3:
                raise SystemExit(
                    "decode_job: --predicate wants col,op,value "
                    "(;-separate triples for OR)")
            pcol, pop, pval = parts
            pv = ([cast(pcol, v) for v in _split_unquoted(pval, "|")]
                  if pop == "in" else cast(pcol, pval))
            branches.append((pcol, pop, pv))
        conj.append(branches[0] if len(branches) == 1
                    else ("or", branches))
    return conj or None


def main(argv: list[str]) -> int:
    if len(argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    columns = None
    pred_flags: list[str] = []  # parsed after enc_dir is known (schema cast)
    args = []
    for a in argv[1:]:
        if a.startswith("--columns="):
            columns = [c for c in a.split("=", 1)[1].split(",") if c]
        elif a.startswith("--predicate="):
            pred_flags.append(a.split("=", 1)[1])
        else:
            args.append(a)
    if len(args) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    enc_dir, out = args[0], args[1]
    src = args[2] if len(args) > 2 else None
    try:
        predicate = _parse_predicates(pred_flags, _schema_caster(enc_dir)) \
            if pred_flags else None
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 2
    # refuse to clobber existing data: the decoded output goes to a FRESH
    # path (a transposed-arguments invocation must not overwrite a source)
    if os.path.exists(out) and (os.path.isfile(out) or os.listdir(out)):
        print(f"decode_job: output path {out!r} already exists and is not "
              "empty — refusing to overwrite; pass a fresh output directory",
              file=sys.stderr)
        return 2
    # and refuse the whole protected source tree, even fresh paths in it
    from fileconvert_spark.plans.fsio import check_output_path_allowed

    try:
        check_output_path_allowed(out)
    except PermissionError as e:
        print(f"decode_job: {e}", file=sys.stderr)
        return 2

    from fileconvert_spark.session import job_session

    spark, owned = job_session("fcs-decode")

    from fileconvert_spark.operators.verify import multiset_roundtrip_report
    from fileconvert_spark.plans.manifest import decode_table

    dec = decode_table(spark, enc_dir, columns=columns, predicate=predicate)
    dec.write.mode("overwrite").parquet(out)

    rc = 0
    if src is not None:
        from fileconvert_spark.plans.manifest import (
            normalize_predicate, predicate_column_expr)

        src_df = spark.read.parquet(src)
        ptree = normalize_predicate(predicate)
        if ptree:
            src_df = src_df.filter(predicate_column_expr(ptree))
        if columns is not None:
            src_df = src_df.select(*columns)
        report = multiset_roundtrip_report(
            src_df, spark.read.parquet(out)).collect()[0].asDict()
        print(json.dumps({k: (str(v) if not isinstance(v, (int, bool)) else v)
                          for k, v in report.items()}))
        rc = 0 if report["fingerprint_match"] else 1
    if owned:  # embedded callers keep their session
        spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
