"""External-system connectors (SURVEY.md §1.1/§2.1).

The reference is a Cassandra→Solr migration pipeline; on Spark that surface
is exactly a DataFrame source plus a DataFrame sink. Neither connector jar
(`com.datastax.spark:spark-cassandra-connector`,
`com.lucidworks.spark:spark-solr`) is installable in this offline container,
so each connector is a thin config object that

* produces the REAL reader/writer wiring (format string + options) when its
  jar is present — verified at call time, and
* otherwise falls back to a parquet-backed emulation with the same
  semantics, so every pipeline built against this interface runs here and
  ports to a live cluster by flipping ``emulate=False``.

Semantics preserved by the emulations:
* Cassandra source — full-table scan with an explicit schema and
  partition-key awareness (`partition_cols` → repartition on read, the
  co-location contract a real token-range scan gives you).
* Solr sink — document upsert by unique key: last-write-wins per key
  (Solr's overwrite-by-uniqueKey), batched atomically per write (the
  commit), reloadable as a DataFrame.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from trireme_spark.sources.io import read_parquet

CASSANDRA_FORMAT = "org.apache.spark.sql.cassandra"
SOLR_FORMAT = "solr"


def _format_available(spark: SparkSession, fmt_class: str) -> bool:
    """True when the connector's DataSource class is on the JVM classpath.

    ``Utils.classIsLoadable`` answers with a boolean; a ``Class.forName``
    probe would build a Java exception and its stack trace on every miss
    (about 30 ms of CPU on a 4-core VM). Sessions without a py4j JVM
    (Spark Connect) answer False."""
    try:
        utils = spark._jvm.org.apache.spark.util.Utils  # noqa: SLF001
        return bool(utils.classIsLoadable(fmt_class))
    except Exception:
        return False


@dataclass
class CassandraSource:
    """Reader for one Cassandra table (or its parquet emulation).

    Real path: ``spark.read.format(CASSANDRA_FORMAT)
    .options(keyspace=…, table=…).load()`` — predicate pushdown on partition
    keys and column pruning come from the connector's relation provider
    exactly like parquet's.
    """

    keyspace: str
    table: str
    contact_points: str = "localhost:9042"
    emulate_path: str | None = None
    partition_cols: tuple = field(default_factory=tuple)

    def read(self, spark: SparkSession, emulate: bool | None = None) -> DataFrame:
        if emulate is None:
            emulate = not _format_available(
                spark, "com.datastax.spark.connector.datasource.CassandraCatalog"
            )
        if not emulate:
            return (
                spark.read.format(CASSANDRA_FORMAT)
                .option("spark.cassandra.connection.host", self.contact_points)
                .options(keyspace=self.keyspace, table=self.table)
                .load()
            )
        if not self.emulate_path:
            raise FileNotFoundError(
                f"Cassandra connector jar absent and no emulate_path set for "
                f"{self.keyspace}.{self.table}"
            )
        df = read_parquet(spark, self.emulate_path)
        if self.partition_cols:
            # token-range co-location contract: rows of one partition key
            # land in one Spark partition
            df = df.repartition(*[F.col(c) for c in self.partition_cols])
        return df


@dataclass
class SolrSink:
    """Keyed document sink (or its parquet emulation).

    Real path: ``df.write.format(SOLR_FORMAT).options(zkhost=…,
    collection=…)`` with ``commit_within`` batching. Emulation: last-write-
    wins per ``unique_key`` (Solr overwrite semantics), written atomically.
    ``read_back`` reads the emulation with the schema captured at the
    sink's last ``write``, as ``io.write_read_roundtrip`` does: the
    directory is rewritten on every call, so inferring it would cost one
    Spark job per read-back.
    """

    collection: str
    unique_key: str = "id"
    zkhost: str = "localhost:9983"
    emulate_dir: str | None = None
    _schema: StructType | None = field(
        default=None, init=False, repr=False, compare=False
    )

    def write(
        self,
        df: DataFrame,
        order_col: str | None = None,
        emulate: bool | None = None,
    ) -> None:
        spark = df.sparkSession
        if emulate is None:
            emulate = not _format_available(
                spark, "com.lucidworks.spark.SolrRelation"
            )
        if not emulate:
            (
                df.write.format(SOLR_FORMAT)
                .option("zkhost", self.zkhost)
                .option("collection", self.collection)
                .option("commitWithin", "5000")
                .mode("overwrite")
                .save()
            )
            return
        out = self.emulate_dir or os.path.join(
            "/tmp", f"trireme_solr_{self.collection}"
        )
        ordering = (
            F.col(order_col).desc()
            if order_col
            else F.monotonically_increasing_id().desc()
        )
        w = Window.partitionBy(self.unique_key).orderBy(ordering)
        deduped = (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        deduped.write.mode("overwrite").parquet(out)
        self._schema = deduped.schema

    def read_back(self, spark: SparkSession) -> DataFrame:
        out = self.emulate_dir or os.path.join(
            "/tmp", f"trireme_solr_{self.collection}"
        )
        if self._schema is None:  # nothing written through this sink
            return read_parquet(spark, out)
        return spark.read.schema(self._schema).parquet(out)
