"""Focused contract for the r15 split-long dsum (parity.py).

The fast path must be BIT-identical to the plain DECIMAL(27,6) bridge
(dsum_wide) on every value class — negatives, nulls, all-null groups,
half-up rounding ties, near-cap magnitudes — and must fail LOUDLY (never
a silent skip or wrap) when a per-row value exceeds the decimal(18,6)
cast range, in ANSI and non-ANSI sessions alike (the non-ANSI leg is the
dangerous one: the cast there nulls silently, so the guard is what keeps
the sum honest).

The per-row rounding takes a double-arithmetic branch for rows that are
provably off a tie and the decimal cast for every other row; the tests
below check it bit for bit against the cast on adversarial doubles, check
that the special values behave as with the cast alone, and check that the
Q1 inputs never leave the double branch.
"""

from __future__ import annotations

import math
import random
import struct
import weakref

import pytest
from pyspark.sql import functions as F

from trireme_spark import parity
from trireme_spark.parity import davg, dsum, dsum_wide

ROWS = [
    ("a", -123.4567895),
    ("a", 0.0000005),  # rounds half-up to 0.000001
    ("a", -0.0000005),
    ("a", None),
    ("b", 9.9e11),  # just under the per-row cap
    ("b", -9.9e11),
    ("b", 123456789.123456789),
    ("c", None),  # all-null group -> NULL sum
    ("d", -0.0),
    ("d", 66.2913725),  # the fquant-doc shortest-repr tie case
]


def _bits(x):
    return None if x is None else struct.pack("d", x)


def test_split_long_matches_wide_bitexact(spark):
    df = spark.createDataFrame(ROWS, "g string, x double")
    out = (
        df.groupBy("g")
        .agg(
            dsum("x").alias("s"),
            dsum_wide("x").alias("w"),
            davg("x").alias("a"),
            (dsum_wide("x") / F.count(F.lit(1))).alias("aw"),
        )
        .collect()
    )
    assert len(out) == 4
    for r in out:
        assert _bits(r.s) == _bits(r.w), (r.g, r.s, r.w)
        assert _bits(r.a) == _bits(r.aw), (r.g, r.a, r.aw)


def test_split_long_empty_input_is_null(spark):
    empty = spark.createDataFrame([], "g string, x double")
    assert empty.agg(dsum("x").alias("s")).collect()[0].s is None


def test_split_long_out_of_bounds_raises_loudly(spark):
    big = spark.createDataFrame([("z", 2.0e12), ("z", 5.0)], "g string, x double")
    with pytest.raises(Exception) as exc:
        big.groupBy("g").agg(dsum("x").alias("s")).collect()
    # ANSI session: the decimal(18,6) cast itself throws; non-ANSI: the
    # explicit guard raises. Either way the failure is loud.
    msg = str(exc.value)
    assert (
        "dsum split-long bounds exceeded" in msg
        or "NUMERIC_VALUE_OUT_OF_RANGE" in msg
    )


def test_split_long_fixture_sum_matches_wide(spark):
    """On real fixture data (600 k lineitem rows, Q1 shape) the two paths
    agree bit-for-bit — the contract the oracle hash consumes."""
    from tests.conftest import SF_SMOKE
    from trireme_spark.sources.io import table

    li = table(spark, SF_SMOKE, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    out = (
        li.groupBy("l_returnflag")
        .agg(
            dsum(disc).alias("s"),
            dsum_wide(disc).alias("w"),
            dsum("l_quantity").alias("q"),
            dsum_wide("l_quantity").alias("qw"),
        )
        .collect()
    )
    assert out
    for r in out:
        assert _bits(r.s) == _bits(r.w)
        assert _bits(r.q) == _bits(r.qw)


def test_session_caches_are_per_session_object(spark):
    """The shipped-package, py4j-handle and built-Column caches are weakly
    keyed by the session object, not by ``id()`` or process-wide: a second
    session gets entries of its own, and dsum on it still matches the
    oracle."""
    from tests.conftest import SF_SMOKE, assert_matches_oracle
    from trireme_spark import registry, session

    other = spark.newSession()
    assert other is not spark
    parity._jvm_handles(spark)
    parity._jvm_handles(other)
    dsum("l_quantity")  # built under the active session, ``spark``
    key = "agg_pricing_summary"  # dsum over lineitem
    try:
        # createDataFrame makes ``other`` the active session, the one
        # dsum builds (and memoizes) its Columns for
        other.createDataFrame([(1,)], "x int")
        df = registry.QUERIES[key](other, SF_SMOKE)
        assert other in session._SHIPPED
        assert {spark, other} <= set(parity._JVM_HANDLES.keys())
        assert {spark, other} <= set(parity._DSUM_MEMO.keys())
        assert {spark, other} <= set(parity._CONST_MEMO.keys())
        mine, theirs = parity._DSUM_MEMO[spark], parity._DSUM_MEMO[other]
        assert mine is not theirs
        assert str(F.col("l_quantity")) in theirs
        assert_matches_oracle(df, registry.ORACLES[key], SF_SMOKE)
    finally:
        spark.createDataFrame([(1,)], "x int")  # ``spark`` active again


def test_prep_rejects_malformed_shuffle_width(spark, monkeypatch):
    """prep() reads the width get_spark defaults to; a malformed value
    raises there too instead of silently keeping the session's width."""
    from trireme_spark import session

    monkeypatch.setenv("TRIREME_SHUFFLE_WIDTH", "abc")
    with pytest.raises(ValueError):
        session.prep(spark)


def test_fixture_session_starts_at_shuffle_width(spark):
    """get_spark builds at the width prep() applies, so a test's width
    does not depend on whether a registered query ran before it."""
    from trireme_spark.session import shuffle_width

    width = spark.newSession().conf.get("spark.sql.shuffle.partitions")
    assert width == str(shuffle_width())


def _fast_path_values() -> list[float]:
    """Adversarial doubles for the per-row rounding, all |x| < 9.99e11."""
    vals = []
    # exact decimal ties ±(k + 0.5)·1e-6 at every decade 1e-6 .. 1e11,
    # with their neighbouring doubles
    for e in range(-6, 12):
        for m in (1, 1.5, 2.5, 3.7, 5, 9.9):
            k = int(m * 10.0**e * 1e6)
            tie = float(f"{k}.5e-6")
            if tie >= 9.99e11:
                continue
            for v in (tie, math.nextafter(tie, 0.0), math.nextafter(tie, 1e300)):
                vals += [v, -v]
    # both sides of the |x| = 1e9 fast-path cap
    for v in (1e9, 1e9 - 0.5e-6, 1e9 + 0.5e-6, 999999999.9999995, 1e9 - 1.0):
        for w in (v, math.nextafter(v, 0.0), math.nextafter(v, 1e300)):
            vals += [w, -w]
    rng = random.Random(20260117)
    # two-decimal TPC-H products: price·(1 − disc) and ·(1 + tax)
    for _ in range(2000):
        p = rng.randint(90_000, 10_500_000) / 100
        d = rng.randint(0, 10) / 100
        t = rng.randint(0, 8) / 100
        vals += [p * (1 - d), p * (1 - d) * (1 + t), p * d]
    # random 64-bit patterns (uniform over exponents) inside the cast range
    while len(vals) < 12_000:
        v = struct.unpack("d", struct.pack("Q", rng.getrandbits(64)))[0]
        if math.isfinite(v) and abs(v) < 9.99e11:
            vals.append(v)
    # uniform magnitudes up to the row cap
    vals += [rng.uniform(-1e9, 1e9) for _ in range(1000)]
    vals += [rng.uniform(-9.99e11, 9.99e11) for _ in range(1000)]
    # signed zero and subnormals
    vals += [-0.0, 0.0, 5e-324, -5e-324, 2.2250738585072009e-308,
             -2.2250738585072009e-308, 2.2250738585072014e-308]
    return vals


def test_fast_path_matches_cast_bitexact(spark):
    """Single-row groups: each group's sum is exactly that row's rounded
    value, so any row the double branch rounds differently from the
    decimal cast shows as a mismatch."""
    vals = _fast_path_values()
    df = spark.createDataFrame(list(enumerate(vals)), "g long, x double")
    fast, _ = parity._micro_units(spark, F.col("x"))
    rows = (
        df.groupBy("g")
        .agg(
            dsum("x").alias("s"),
            dsum_wide("x").alias("w"),
            F.max(fast.cast("int")).alias("f"),
        )
        .collect()
    )
    assert len(rows) == len(vals)
    bad = [(vals[r.g], r.s, r.w) for r in rows if _bits(r.s) != _bits(r.w)]
    assert not bad, bad[:10]
    # both branches ran: the double branch for most rows, the cast for
    # the ties and for |x| >= 1e9
    n_fast = sum(r.f for r in rows)
    assert 0.3 * len(vals) < n_fast < len(vals)


SPECIALS = [float("nan"), float("inf"), float("-inf"), None, 1e12, -5e12, 1e300]


def _outcome(df):
    try:
        return ("ok", _bits(df.collect()[0].s))
    except Exception as e:  # noqa: BLE001 — the error itself is compared
        cond = getattr(e, "getCondition", lambda: None)()
        return ("raised", type(e).__name__, cond)


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_special_values_behave_as_the_cast(spark, monkeypatch, ansi):
    """NaN, ±inf, null and |x| >= 1e12 never take the double branch: the
    result, or the error, is the one dsum gives with the cast alone."""
    with monkeypatch.context() as m:
        # the cast-only build: no row passes |x| < 0
        m.setattr(parity, "_FAST_CAP", 0.0)
        m.setattr(parity, "_DSUM_MEMO", weakref.WeakKeyDictionary())
        cast_only = dsum("x").alias("s")
    both = dsum("x").alias("s")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        outcomes = []
        for v in SPECIALS:
            df = spark.createDataFrame([("g", v), ("g", 1.25)], "g string, x double")
            want = _outcome(df.groupBy("g").agg(cast_only))
            got = _outcome(df.groupBy("g").agg(both))
            outcomes.append(got)
            assert got == want, (v, ansi, got, want)
        # the loud guard still fires for every non-finite or huge row
        assert outcomes[3][0] == "ok"  # null: the 1.25 row alone
        assert all(o[0] == "raised" for i, o in enumerate(outcomes) if i != 3)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_q1_inputs_take_the_fast_path(spark):
    """Coverage guard: every row of the Q1 inputs rounds in double
    arithmetic. An edit that sends rows back to the per-row BigDecimal
    cast fails here, not only in the benchmark."""
    from tests.conftest import SF_SMOKE
    from trireme_spark.sources.io import table

    li = table(spark, SF_SMOKE, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    inputs = {
        "l_quantity": F.col("l_quantity"),
        "l_extendedprice": F.col("l_extendedprice"),
        "l_discount": F.col("l_discount"),
        "disc_price": disc_price,
        "charge": disc_price * (1 + F.col("l_tax")),
    }
    aggs = [F.count(F.lit(1)).alias("n")]
    for name, c in inputs.items():
        fast, _ = parity._micro_units(spark, c)
        aggs.append(F.sum(F.when(fast, 0).otherwise(1)).alias(name))
    r = li.agg(*aggs).collect()[0]
    assert r.n > 5000
    assert {k: r[k] for k in inputs} == {k: 0 for k in inputs}
