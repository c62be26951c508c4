"""Salting correctness: skew mitigations must be result-identical to their
naive forms (the whole point is changing the physical shape only)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from trireme_spark.operators.skew import salted_join
from trireme_spark.sources.io import table


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_salted_join_matches_plain_join(spark):
    orders = table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = orders.join(cust, ["o_custkey"])
    salted = salted_join(orders, cust, ["o_custkey"], n_salts=4)
    assert _canon(salted) == _canon(plain)


def test_salted_left_join_matches(spark):
    ev = table(spark, SF_SMOKE, "events").select("event_id", "user_id")
    users = (
        table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .count()
        .where(F.col("count") > 70)
        .select("user_id", F.col("count").alias("n"))
    )
    plain = ev.join(users, ["user_id"], "left")
    salted = salted_join(ev, users, ["user_id"], n_salts=4, how="left")
    assert _canon(salted) == _canon(plain)

