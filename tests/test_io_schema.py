"""The parquet schema memo of ``sources/io.py``: a warm read runs no Spark
job, a pinned schema equals the inferred one, and a rewritten file or a
changed inference conf re-infers."""

from __future__ import annotations

import datetime as dt
import itertools
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from tests.conftest import SF_SMOKE
from trireme_spark import registry
from trireme_spark.sources.io import TABLES, read_parquet, table

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
_GROUPS = itertools.count()


def jobs_of(spark, fn) -> int:
    """Spark jobs started while ``fn()`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"test_io_schema_{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def inferred_table(spark, sf_dir, name):
    """``table()`` as it reads without the memo: a fresh inference."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return df


def test_warm_table_read_runs_no_job(spark, tmp_path):
    # a fresh copy is a file the memo has never seen
    shutil.copy(f"{SF_SMOKE}/orders.parquet", tmp_path / "orders.parquet")
    cold = jobs_of(spark, lambda: table(spark, str(tmp_path), "orders").schema)
    warm = jobs_of(spark, lambda: table(spark, str(tmp_path), "orders").schema)
    assert cold == 1, cold  # the inference job, seen by the probe
    assert warm == 0, warm


@pytest.mark.parametrize("name", TABLES)
def test_pinned_schema_equals_inferred(spark, name):
    spark.conf.set(NANOS, "true")
    table(spark, SF_SMOKE, name)  # the memo is warm from here on
    pinned = table(spark, SF_SMOKE, name).schema
    assert pinned == inferred_table(spark, SF_SMOKE, name).schema


def test_rewritten_table_reads_new_schema(spark, tmp_path):
    path = str(tmp_path / "part.parquet")
    spark.range(5).toDF("p_partkey").write.parquet(path)
    assert table(spark, str(tmp_path), "part").columns == ["p_partkey"]
    spark.range(5).select(
        F.col("id").alias("p_partkey"), (F.col("id") * 2).alias("p_size")
    ).write.mode("overwrite").parquet(path)
    df = table(spark, str(tmp_path), "part")
    assert df.columns == ["p_partkey", "p_size"]
    assert sorted(r.p_size for r in df.collect()) == [0, 2, 4, 6, 8]


def test_spark_written_events_ts_not_converted_again(spark, tmp_path):
    ts = dt.datetime(2024, 1, 2, 3, 4, 5, 678901)
    spark.createDataFrame(
        [(1, ts)], "event_id long, ts timestamp"
    ).write.parquet(str(tmp_path / "events.parquet"))
    for _ in range(2):  # an inferring read, then a pinned one
        rows = table(spark, str(tmp_path), "events").collect()
        assert [r.ts for r in rows] == [ts]


def test_nanos_conf_is_part_of_the_key(spark, tmp_path):
    """Under ``nanosAsLong=false`` Spark 4 refuses TIMESTAMP(NANOS): the
    memo must infer again instead of serving the raw-nanos schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "events.parquet")
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path)
    spark.conf.set(NANOS, "true")
    assert isinstance(read_parquet(spark, path).schema["ts"].dataType, LongType)
    spark.conf.set(NANOS, "false")
    try:
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path).schema
    finally:
        spark.conf.set(NANOS, "true")


def test_ntz_conf_is_part_of_the_key(spark):
    """The fixture's ``events.ts`` is a local (not UTC-adjusted) timestamp:
    its inferred type follows ``inferTimestampNTZ.enabled``."""
    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    path = f"{SF_SMOKE}/events.parquet"
    prev = spark.conf.get(ntz)
    try:
        for flag, typ in (("true", TimestampNTZType), ("false", TimestampType)):
            spark.conf.set(ntz, flag)
            for _ in range(2):  # an inferring read, then a pinned one
                got = read_parquet(spark, path).schema["ts"].dataType
                assert isinstance(got, typ), (flag, got)
    finally:
        spark.conf.set(ntz, prev)


def test_migration_pipeline_second_call_infers_nothing(spark, monkeypatch):
    """Every parquet read of a repeated ``etl_migration_pipeline`` call
    carries a schema (the Cassandra emulation and the nation table from
    the memo, the Solr read-back from its write), so it runs no
    inference job."""
    fn = registry.QUERIES["etl_migration_pipeline"]
    fn(spark, SF_SMOKE).collect()

    unpinned = []
    orig_schema, orig_parquet = DataFrameReader.schema, DataFrameReader.parquet

    def schema(self, s):
        self._test_pinned = True
        return orig_schema(self, s)

    def parquet(self, *paths, **options):
        if not getattr(self, "_test_pinned", False):
            unpinned.append(paths)
        return orig_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "schema", schema)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    n = jobs_of(spark, lambda: fn(spark, SF_SMOKE))
    assert unpinned == []
    # only the sink's write runs jobs: 4 here, against 7 when the two
    # source reads and the read-back each inferred
    assert n <= 4, n
