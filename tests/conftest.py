"""Shared test harness — local mirror of the driver's t2 oracle loop
(SURVEY.md §5.3).

``assert_matches_oracle`` canonicalizes both results the way the driver's
order-insensitive value-hash would: sort columns by name, sort rows, compare
values exactly (floats too — the queries themselves are responsible for
cross-engine determinism via trireme_spark.parity).
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from trireme_spark.session import get_spark, shuffle_width
from trireme_spark.sources.io import TABLES

SF_SMOKE = os.environ.get("TRIREME_TEST_SF", "/root/testdata/sf0.001")
SF_FULL = os.environ.get("TRIREME_TEST_SF_FULL", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("trireme-tests", cpus=8)
    yield s
    s.stop()


def hostile_layout(spark, monkeypatch, run):
    """Run ``run()`` under the hostile partition layout and restore the
    session conf (width ``shuffle_width()``) after: 7 shuffle partitions
    (odd, tiny, divides nothing evenly), 64 KB scan splits (every
    fixture scan goes multi-split), prep()'s shuffle pin raising as an
    immutable-conf environment would, and a cleared cache so cached
    stages actually re-materialize under the hostile layout instead of
    being served from a pinned-layout InMemoryRelation."""
    from pyspark.sql.conf import RuntimeConfig

    spark.catalog.clearCache()
    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    real_set = RuntimeConfig.set

    def guarded(self, k, v):
        if k == "spark.sql.shuffle.partitions":
            # what an immutable-conf environment raises at prep()'s pin
            raise RuntimeError("CANNOT_MODIFY_CONFIG (simulated)")
        return real_set(self, k, v)

    monkeypatch.setattr(RuntimeConfig, "set", guarded)
    try:
        return run()
    finally:
        monkeypatch.setattr(RuntimeConfig, "set", real_set)
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_width()))
        spark.catalog.clearCache()


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for name in TABLES:
        con.sql(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


@pytest.fixture(scope="session")
def duck():
    return duck_con(SF_SMOKE)


def canon_value(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return int(v)
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return 0.0 if f == 0.0 else f  # normalize -0.0
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (pd.Timestamp, _dt.datetime)):
        t = pd.Timestamp(v)
        if t.tzinfo is not None:
            t = t.tz_convert("UTC").tz_localize(None)
        return t.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon_value(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def canon_frame(pdf: pd.DataFrame):
    """Rows as canonical REPR strings: '1' vs '1.0' must differ — the
    driver's value hash sees dtype drift (e.g. DuckDB sign()→TINYINT vs
    Spark signum()→DOUBLE), so the local mirror must too."""
    cols = sorted(pdf.columns)
    rows = [
        repr(tuple(canon_value(v) for v in row))
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort()
    return cols, rows


def assert_matches_oracle(spark_df, oracle_sql: str, sf_dir: str):
    con = duck_con(sf_dir)
    try:
        duck_pdf = con.sql(oracle_sql).df()
    finally:
        con.close()
    spark_pdf = spark_df.toPandas()

    s_cols, s_rows = canon_frame(spark_pdf)
    d_cols, d_rows = canon_frame(duck_pdf)
    assert s_cols == d_cols, f"column mismatch: spark={s_cols} duck={d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"row count mismatch: spark={len(s_rows)} duck={len(d_rows)}"
    )
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        assert a == b, (
            f"value mismatch at canonical row {i}:\n spark={a}\n duck ={b}"
        )
