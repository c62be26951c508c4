"""Focused contract for the r15 split-long dsum (parity.py).

The fast path must be BIT-identical to the plain DECIMAL(27,6) bridge
(dsum_wide) on every value class — negatives, nulls, all-null groups,
half-up rounding ties, near-cap magnitudes — and must fail LOUDLY (never
a silent skip or wrap) when a per-row value exceeds the decimal(18,6)
cast range, in ANSI and non-ANSI sessions alike (the non-ANSI leg is the
dangerous one: the cast there nulls silently, so the guard is what keeps
the sum honest).
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

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
    """The shipped-package and py4j-handle caches are weakly keyed by the
    session object, not by ``id()``: a second session gets entries of its
    own, and dsum on it still matches the oracle."""
    from tests.conftest import SF_SMOKE, assert_matches_oracle
    from trireme_spark import parity, registry, session

    other = spark.newSession()
    assert other is not spark
    parity._jvm_handles(spark)
    parity._jvm_handles(other)
    key = "agg_pricing_summary"  # dsum over lineitem
    df = registry.QUERIES[key](other, SF_SMOKE)
    assert other in session._SHIPPED
    assert {spark, other} <= set(parity._JVM_HANDLES.keys())
    assert_matches_oracle(df, registry.ORACLES[key], SF_SMOKE)
