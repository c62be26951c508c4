"""Connector interface tests (SURVEY.md §2.1 note): the Cassandra/Solr
drop-ins must build the real format wiring when asked and run correctly on
the parquet emulation here (no connector jars in this container)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from trireme_spark.sources.connectors import (
    CASSANDRA_FORMAT,
    CassandraSource,
    SolrSink,
    _format_available,
)


def test_cassandra_source_emulated_read(spark):
    src = CassandraSource(
        keyspace="tpch",
        table="customer",
        emulate_path=f"{SF_SMOKE}/customer.parquet",
        partition_cols=("c_nationkey",),
    )
    df = src.read(spark)
    assert df.count() > 0
    assert "c_custkey" in df.columns


def test_cassandra_source_without_jar_and_path_raises(spark):
    src = CassandraSource(keyspace="tpch", table="orders")
    with pytest.raises(FileNotFoundError):
        src.read(spark)


def test_cassandra_real_path_uses_connector_format(spark):
    """The non-emulated reader must target the documented format string —
    building the reader fails only at load() (jar absent), so the wiring
    itself is checkable."""
    src = CassandraSource(keyspace="tpch", table="orders")
    with pytest.raises(Exception) as exc:
        src.read(spark, emulate=False)
    assert CASSANDRA_FORMAT in str(exc.value) or "ClassNotFound" in str(
        exc.value
    ) or "Failed to find" in str(exc.value)


def test_solr_sink_upsert_last_write_wins(spark, tmp_path):
    sink = SolrSink(
        collection="events",
        unique_key="event_id",
        emulate_dir=str(tmp_path / "solr_events"),
    )
    df = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (2, "c", 1)],
        "event_id long, payload string, version int",
    )
    sink.write(df, order_col="version")
    back = sink.read_back(spark)
    rows = {r["event_id"]: r["payload"] for r in back.collect()}
    assert rows == {1: "b", 2: "c"}
    # idempotent re-write (Solr overwrite semantics)
    sink.write(df, order_col="version")
    assert sink.read_back(spark).count() == 2


def test_solr_sink_batch_commit_visible_atomically(spark, tmp_path):
    sink = SolrSink(
        collection="docs",
        unique_key="doc_id",
        emulate_dir=str(tmp_path / "solr_docs"),
    )
    df = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("body")
    )
    sink.write(df)
    assert sink.read_back(spark).count() == 100


def test_format_available_answers_without_raising(spark):
    """The classpath probe returns a boolean for present and absent
    classes alike; neither connector jar is on this classpath."""
    assert _format_available(spark, "com.lucidworks.spark.SolrRelation") is False
    assert (
        _format_available(
            spark, "com.datastax.spark.connector.datasource.CassandraCatalog"
        )
        is False
    )
    assert _format_available(spark, "org.apache.spark.sql.SparkSession") is True


def test_cassandra_live_roundtrip(spark):
    """LIVE integration (skipped-by-default): given the connector jar on
    the classpath AND a reachable cluster (env TRIREME_CASSANDRA_HOST),
    a real token-range scan must return the fixture keyspace. This is
    the executable form of the drop-in claim — runs the day the env has
    network + jars, costs one skip here."""
    if not _format_available(
        spark, "com.datastax.spark.connector.datasource.CassandraCatalog"
    ):
        pytest.skip("spark-cassandra-connector jar not on classpath")
    host = os.environ.get("TRIREME_CASSANDRA_HOST")
    if not host:
        pytest.skip("TRIREME_CASSANDRA_HOST not set")
    src = CassandraSource(
        keyspace="tpch", table="customer", contact_points=host
    )
    df = src.read(spark, emulate=False)
    assert df.count() > 0
    assert "c_custkey" in df.columns


def test_solr_live_roundtrip(spark):
    """LIVE integration (skipped-by-default): with the spark-solr jar and
    a reachable ZK (env TRIREME_SOLR_ZKHOST), write-then-read one keyed
    batch through a real collection and assert last-write-wins by
    uniqueKey — the overwrite semantics the emulation mirrors."""
    if not _format_available(spark, "com.lucidworks.spark.SolrRelation"):
        pytest.skip("spark-solr jar not on classpath")
    zk = os.environ.get("TRIREME_SOLR_ZKHOST")
    if not zk:
        pytest.skip("TRIREME_SOLR_ZKHOST not set")
    sink = SolrSink(collection="trireme_it", unique_key="id", zkhost=zk)
    df = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2)], "id long, payload string, version int"
    )
    sink.write(df, order_col="version", emulate=False)
    back = (
        spark.read.format("solr")
        .option("zkhost", zk)
        .option("collection", "trireme_it")
        .load()
    )
    rows = {r["id"]: r["payload"] for r in back.collect()}
    assert rows[1] == "b"


def test_python_sink_commit_protocol(spark, tmp_path):
    """The Python sink's two-phase commit: parts written during write()
    stay INVISIBLE until commit() publishes the manifest; abort()
    removes parts so a failed job leaves nothing behind."""
    import json

    from pyspark.sql import Row

    from trireme_spark.sources.pydatasource import _DocSinkWriter

    out = str(tmp_path / "sink")
    w = _DocSinkWriter({"path": out})
    msg = w.write(iter([Row(a=1), Row(a=2)]))
    assert os.path.exists(msg.path) and msg.n_rows == 2
    # no manifest yet → not visible
    assert not os.path.exists(os.path.join(out, "_MANIFEST.json"))
    w.commit([msg])
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["parts"] == [msg.path]
    assert manifest["n_rows"] == 2
    # abort of a second attempt removes its part, manifest untouched
    msg2 = w.write(iter([Row(a=3)]))
    w.abort([msg2])
    assert not os.path.exists(msg2.path)
    assert json.load(open(os.path.join(out, "_MANIFEST.json")))["parts"] == [
        msg.path
    ]


def test_staging_dir_is_per_process():
    """r5 ADVICE: staging paths must differ across processes (concurrent
    sessions must never share a mid-overwrite path) and stay stable
    within one (cross-call reuse)."""
    import os
    import subprocess
    import sys

    from trireme_spark.sources.io import staging_dir

    a = staging_dir("probe", "/root/testdata/sf0.001")
    b = staging_dir("probe", "/root/testdata/sf0.001")
    assert a == b
    assert f"p{os.getpid()}" in a
    other = subprocess.run(
        [
            sys.executable,
            "-c",
            "from trireme_spark.sources.io import staging_dir;"
            "print(staging_dir('probe', '/root/testdata/sf0.001'))",
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    ).stdout.strip()
    assert other and other != a
