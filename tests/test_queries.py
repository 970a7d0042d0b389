"""Driver-contract harness: run every queries() entry and compare against
its oracle_sql() in DuckDB — the same check CORRECTNESS_r{N}.json records
(row count + schema names + order-insensitive value compare)."""

import datetime
import decimal
import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.path.join(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"),
                      os.environ.get("SPARK_GRAFT_TEST_SF", "sf0.001"))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, (int,)):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v
    # numpy scalars handled by .item() upstream


def _normalize(df_pandas):
    cols = sorted(df_pandas.columns)
    rows = []
    for _, row in df_pandas[cols].iterrows():
        out = []
        for v in row:
            if hasattr(v, "item") and not isinstance(v, (bytes, str)):
                try:
                    v = v.item()
                except (ValueError, AttributeError):
                    pass
            if isinstance(v, float) and math.isnan(v):
                v = None
            out.append(_norm_cell(v))
        rows.append(tuple(out))
    key = lambda r: tuple(
        (x is None, str(type(x)), round(x, 6) if isinstance(x, float) else x)
        for x in r
    )
    return cols, sorted(rows, key=key)


def _compare(name, spark_df, duck_rel):
    sp = spark_df.toPandas()
    du = duck_rel.df()
    cols_s, rows_s = _normalize(sp)
    cols_d, rows_d = _normalize(du)
    assert cols_s == cols_d, f"{name}: schema mismatch {cols_s} vs {cols_d}"
    assert len(rows_s) == len(rows_d), (
        f"{name}: row count {len(rows_s)} vs {len(rows_d)}"
    )
    for i, (a, b) in enumerate(zip(rows_s, rows_d)):
        for j, (x, y) in enumerate(zip(a, b)):
            if isinstance(x, float) and isinstance(y, float):
                assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9), (
                    f"{name} row {i} col {cols_s[j]}: {x} != {y}"
                )
            else:
                assert x == y, f"{name} row {i} col {cols_s[j]}: {x!r} != {y!r}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_query(spark, duck, name):
    assert name in QUERIES, f"oracle {name} has no queries() entry"
    sdf = QUERIES[name](spark, SF_DIR)
    _compare(name, sdf, duck.sql(ORACLES[name]))


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_query(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert len(df.schema.fields) > 0
    # stable schema: re-running yields the same columns
    df2 = QUERIES[name](spark, SF_DIR)
    assert [f.name for f in df.schema.fields] == [f.name for f in df2.schema.fields]


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert all(r["sha_mismatches"] == 0 for r in rows)


def test_size_bytes_parses_spark_size_strings():
    sb = entry_mod._size_bytes
    assert sb("128m") == sb("128MB") == sb("134217728") == 128 << 20
    assert sb("1g") == 1 << 30 and sb("64k") == 64 << 10
    assert sb("nonsense") == sb("0") == sb("1.5g") == 128 << 20


def test_q1_accepts_size_suffixed_max_partition_bytes(spark, duck):
    """A session that sets spark.sql.files.maxPartitionBytes with a size
    suffix ("128m") must not fail q1, and q1 still matches its oracle."""
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "128m")
    try:
        sdf = QUERIES["q1_pricing_summary"](spark, SF_DIR)
        _compare("q1_pricing_summary", sdf,
                 duck.sql(ORACLES["q1_pricing_summary"]))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
