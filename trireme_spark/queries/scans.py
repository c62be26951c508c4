"""Scans / sources / sinks — SURVEY.md §2.1 (s1–s7).

This group IS the reference's core surface (full-table scan → per-row
doc mapping → batched keyed load, SURVEY.md §1.1). Re-expressed Spark-first:
the scan is the vectorized parquet reader, the doc mapping is a projection
Catalyst can prune/push through, and the keyed load is a window-dedup +
idempotent overwrite write.

Scale notes: s5's partitioned write is the substrate for partition pruning
at 100 TB (a reader filtering on the partition column touches one
directory). s7's last-write-wins shuffles once on the upsert key — at
cluster scale that is the same plan, just more partitions, and AQE handles
key skew.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trireme_spark.registry import register
from trireme_spark.sources.io import table, write_read_roundtrip


def _tmp(name: str, sf_dir: str) -> str:
    # per-process staging (r5 ADVICE): concurrent sessions must never
    # share a staging path — including the embedded Derby DB dir, whose
    # single-process lock otherwise reds source_jdbc_partitioned the
    # moment another local session holds it
    from trireme_spark.sources.io import staging_dir

    return staging_dir(name, sf_dir)


@register("scan_parquet", oracle="SELECT * FROM orders")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s1 — full-table scan (≙ the reference's Cassandra full export)."""
    return table(spark, sf_dir, "orders")


@register(
    "scan_projected",
    oracle="SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem",
)
def scan_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s2 — scan with column pruning.

    ``.explain('formatted')`` shows ReadSchema with exactly these three
    columns — the projection reaches the parquet reader, which at 100 TB
    means reading 3 column chunks instead of 16.
    """
    return table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )


@register("source_csv_roundtrip", oracle="SELECT * FROM orders")
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s3 — write→read CSV with header + explicit schema. Value-oracled:
    the round-trip is verified LOSSLESS against the original table, not
    just row-counted."""
    df = table(spark, sf_dir, "orders")
    return write_read_roundtrip(
        df, "csv", os.path.basename(sf_dir.rstrip("/")), header="true"
    )


@register("source_json_roundtrip", oracle="SELECT * FROM events")
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s4 — write→read JSON lines (nested JSON string column survives).

    Explicit µs-precision formats for BOTH timestamp flavors: Spark's
    default JSON formats truncate µs→ms (measured — the silent-precision-
    loss trap). The fixture's ts is TIMESTAMP_NTZ (naive parquet
    annotation), which is governed by timestampNTZFormat — the plain
    timestampFormat option is silently ignored for NTZ columns (measured:
    the r3-green key went stale when the fixture annotation flipped to
    naive; keeping both options makes the roundtrip lossless either way)."""
    df = table(spark, sf_dir, "events")
    return write_read_roundtrip(
        df,
        "json",
        os.path.basename(sf_dir.rstrip("/")),
        timestampFormat="yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
        timestampNTZFormat="yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    )


@register("source_text_roundtrip", oracle="SELECT doc_id, text FROM documents")
def source_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s4c — write→read line-oriented text (the rawest corpus interchange
    format: one record per line). Records serialize as ``doc_id<TAB>text``
    and parse back with a positional split — lossless because the fixture
    corpus is single-line, tab-free prose (verified), which is exactly the
    contract real .txt corpus dumps carry. Value-oracled like s3/s4."""
    out = _tmp("roundtrip_text", sf_dir)
    d = table(spark, sf_dir, "documents")
    (
        d.select(
            F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text"))
            .alias("value")
        )
        .write.mode("overwrite")
        .text(out)
    )
    back = spark.read.text(out)
    tab = F.instr(F.col("value"), "\t")
    return back.select(
        F.substring(F.col("value"), 1, tab - 1).cast("long").alias("doc_id"),
        F.expr("substring(value, instr(value, '\t') + 1)").alias("text"),
    )


@register("source_orc_roundtrip", oracle="SELECT * FROM orders")
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s4b — write→read ORC (the second columnar format Spark ships
    natively); lossless value oracle like s3."""
    df = table(spark, sf_dir, "orders")
    return write_read_roundtrip(
        df, "orc", os.path.basename(sf_dir.rstrip("/"))
    )


@register(
    "sink_partitioned_parquet",
    oracle=(
        "SELECT l_orderkey, l_linenumber, l_returnflag "
        "FROM lineitem WHERE l_returnflag = 'A'"
    ),
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s5 — partitioned write; read back ONE partition, value-oracled
    against the source rows of that partition (layout is lossless).

    The read filter on the partition column prunes directories before any
    file IO (PartitionFilters in the explain output) — the layout pattern
    that makes selective readers cheap at 100 TB.
    """
    out = _tmp("sink_part", sf_dir)
    li = table(spark, sf_dir, "lineitem")
    (
        li.write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(out)
    )
    back = spark.read.parquet(out).where(F.col("l_returnflag") == "A")
    return back.select("l_orderkey", "l_linenumber", "l_returnflag")


_S6_ORACLE = """
SELECT o_orderkey AS doc_id,
       c_name     AS customer_name,
       o_orderstatus AS status,
       o_totalprice  AS total,
       CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS priority_rank,
       'orders' AS source_table
FROM orders JOIN customer ON o_custkey = c_custkey
"""


@register("doc_assembly", oracle=_S6_ORACLE)
def doc_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s6 — the reference's central op: source row → sink document.

    Builds the nested document (rename + computed field + literal + struct
    nesting + JSON serialization), then re-projects the leaf fields so the
    oracle comparison stays flat. ``to_json`` output itself is engine-
    formatted, so it is exercised but not compared.
    """
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    doc = joined.select(
        F.struct(
            F.col("o_orderkey").alias("doc_id"),
            F.col("c_name").alias("customer_name"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("total"),
            F.substring("o_orderpriority", 1, 1)
            .cast("int")
            .alias("priority_rank"),
            F.lit("orders").alias("source_table"),
        ).alias("doc")
    ).withColumn("doc_json", F.to_json("doc"))
    # flatten the assembled document back out for the value comparison
    return doc.select("doc.*")


_S7_ORACLE = """
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       value AS last_value
FROM events
QUALIFY row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


@register("sink_batched_upsert", oracle=_S7_ORACLE)
def sink_batched_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s7 — idempotent keyed load: last-write-wins per key (Solr
    overwrite-by-uniqueKey semantics), materialized through a parquet sink
    and read back, so re-running converges to the same state.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )
    out = _tmp("sink_upsert", sf_dir)
    latest.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


_ETL_ORACLE = """
SELECT c_custkey AS id,
       c_name AS name_s,
       c_mktsegment AS segment_s,
       CAST(c_acctbal AS DOUBLE) AS balance_d,
       c_name || ' ' || c_mktsegment AS text_t,
       n_name AS nation_s
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""


@register("etl_migration_pipeline", oracle=_ETL_ORACLE)
def etl_migration_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole job as one pipeline (SURVEY.md §1.1):
    Cassandra table scan → per-row field mapping into Solr-style documents
    (dynamic-field suffixes _s/_d/_t, denormalized dimension lookup) →
    keyed upsert into the Solr sink → read back. Runs on the parquet
    emulations here; on a live cluster the same code targets the real
    connectors (sources/connectors.py)."""
    from pyspark.sql import functions as F

    from trireme_spark.sources.connectors import CassandraSource, SolrSink

    src = CassandraSource(
        keyspace="tpch",
        table="customer",
        emulate_path=os.path.join(sf_dir, "customer.parquet"),
        partition_cols=("c_nationkey",),
    )
    nation = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    docs = (
        src.read(spark)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_name").alias("name_s"),
            F.col("c_mktsegment").alias("segment_s"),
            F.col("c_acctbal").cast("double").alias("balance_d"),
            F.concat_ws(" ", "c_name", "c_mktsegment").alias("text_t"),
            F.col("n_name").alias("nation_s"),
        )
    )
    sink = SolrSink(
        collection="customers_" + os.path.basename(sf_dir.rstrip("/")),
        unique_key="id",
        emulate_dir=_tmp("solr_mig", sf_dir),
    )
    sink.write(docs)
    return sink.read_back(spark)


_INCR_ORACLE = """
SELECT user_id, event_id AS last_event_id, value AS last_value
FROM events
QUALIFY row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


@register("etl_incremental_migration", oracle=_INCR_ORACLE)
def etl_incremental_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resume migration: a base load up to a cutoff timestamp,
    then an incremental batch of only newer rows appended into the same
    sink, compacted last-write-wins on read. The oracle is the FULL
    recompute over all events — the key property of incremental
    migration is that resuming from a checkpoint converges to exactly
    the full-migration state.

    At 100 TB this is the difference between re-exporting the source
    every run and shipping only the delta: the incremental scan's ts
    predicate pushes down to the source (row-group pruning on parquet,
    token-range + ts filtering on a real Cassandra connector), and the
    append-log + merge sink is the same idempotent shape as t7's
    foreachBatch upsert."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    cutoff = F.lit("2024-01-16").cast("timestamp")
    out = _tmp("incr_migration", sf_dir)

    import shutil

    shutil.rmtree(out, ignore_errors=True)
    # base load: everything through the checkpoint
    ev.where(F.col("ts") <= cutoff).withColumn(
        "batch", F.lit(0)
    ).write.mode("overwrite").parquet(out)
    # incremental batch: only rows AFTER the checkpoint (pushed-down scan)
    ev.where(F.col("ts") > cutoff).withColumn(
        "batch", F.lit(1)
    ).write.mode("append").parquet(out)

    sunk = spark.read.parquet(out)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        sunk.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
        )
    )


_EVO_ORACLE = """
SELECT event_id, user_id, CAST(NULL AS DOUBLE) AS value
FROM events WHERE event_id % 2 = 0
UNION ALL
SELECT event_id, user_id, value FROM events WHERE event_id % 2 = 1
"""


@register("source_schema_evolution", oracle=_EVO_ORACLE)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift read: two parquet batches written at different
    'pipeline versions' (the second adds a ``value`` column) are read
    back together with ``mergeSchema`` — old rows surface NULL for the
    new column, exactly the long-lived-dataset evolution story. The
    oracle states the expected merged relation from the source table.

    Scale note: mergeSchema reconciles footers only (one pass over file
    metadata, not data); at 100 TB pin the merged schema explicitly once
    known — the read itself stays a plain vectorized scan either way."""
    ev = table(spark, sf_dir, "events")
    base = _tmp("schema_evo", os.path.basename(sf_dir.rstrip("/")))
    p1, p2 = os.path.join(base, "v1"), os.path.join(base, "v2")
    (
        ev.where(F.col("event_id") % 2 == 0)
        .select("event_id", "user_id")
        .write.mode("overwrite")
        .parquet(p1)
    )
    (
        ev.where(F.col("event_id") % 2 == 1)
        .select("event_id", "user_id", "value")
        .write.mode("overwrite")
        .parquet(p2)
    )
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(p1, p2)
        .select("event_id", "user_id", "value")
    )


_COMPACT_ORACLE = "SELECT event_id, ts, user_id, event_type, value FROM events"


@register("etl_compact_small_files", oracle=_COMPACT_ORACLE)
def etl_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files compaction job every lakehouse pipeline schedules:
    a directory fragmented into 64 tiny parquet files (staged here from
    the events fixture — streaming sinks and per-batch upserts fragment
    exactly like this) is rewritten into a handful of right-sized files,
    losslessly.

    Scale design: the rewrite uses ``coalesce`` — a NARROW dependency that
    merges input partitions without any shuffle, which is the whole point
    of a compaction pass (repartition would pay a full network copy of
    the dataset for nothing; you only accept that when also re-sorting or
    re-bucketing). Target file count derives from total input bytes over
    a target file size, the same arithmetic a table-maintenance service
    applies; here 128 MB targets collapse the fixture to 1-4 files. The
    oracle checks content identity end-to-end through both rewrites;
    tests/test_properties.py asserts the file-count contract and
    tests/test_plans.py asserts narrow-coalesce on THIS frame (via
    :func:`_compaction_frame`)."""
    out = _tmp("compact_out", sf_dir)
    _compaction_frame(spark, sf_dir).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


def _compaction_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage the 64-file fragmented input and return the coalesced frame
    etl_compact_small_files writes — exposed separately so the plan gate
    inspects the key's ACTUAL compaction plan, not a hand-built stand-in."""
    frag = _tmp("compact_in", sf_dir)
    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ev.repartition(64).write.mode("overwrite").parquet(frag)

    fragmented = spark.read.parquet(frag)
    total_bytes = sum(
        os.path.getsize(os.path.join(frag, f))
        for f in os.listdir(frag)
        if f.endswith(".parquet")
    )
    target_file_bytes = 128 * 1024 * 1024
    n_out = max(1, -(-total_bytes // target_file_bytes))  # ceil div
    return fragmented.coalesce(n_out)


_BACKFILL_ORACLE = """
SELECT event_id,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       CASE WHEN date_trunc('day', ts) = TIMESTAMP '2024-01-15'
            THEN value * 2 ELSE value END AS value
FROM events
"""


@register("etl_backfill_partition_overwrite", oracle=_BACKFILL_ORACLE)
def etl_backfill_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition backfill via DYNAMIC partition overwrite — the standard
    correction job: a day-partitioned table gets ONE day's data rewritten
    (here: 2024-01-15 re-derived with corrected values) while every other
    partition's files stay untouched. With the default STATIC overwrite
    mode the second write would have wiped the whole table — the classic
    data-loss trap this key pins down.

    Scale design: the backfill write shuffles only the corrected day's
    rows; readers of other partitions see no churn (their files are not
    rewritten — object-store listings and downstream incremental
    consumers depend on exactly that)."""
    out = _tmp("backfill", sf_dir)
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        "event_type",
        "value",
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(out)

    fixed = ev.where(F.col("day") == F.lit("2024-01-15").cast("date")).select(
        "event_id",
        "day",
        "event_type",
        (F.col("value") * 2).alias("value"),
    )
    (
        fixed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    # dates serialize engine-differently (python date vs pandas ts) — emit
    # the ISO string for the value hash; the partition column stays DATE
    return back.select(
        "event_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        "value",
    )


_SNAPDIFF_ORACLE = """
WITH prev AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey % 10 <> 0
), curr AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
             AS o_orderstatus,
         o_totalprice
  FROM orders
  WHERE o_orderkey % 10 <> 1
)
SELECT COALESCE(p.o_orderkey, c.o_orderkey) AS o_orderkey,
       CASE WHEN p.o_orderkey IS NULL THEN 'added'
            WHEN c.o_orderkey IS NULL THEN 'deleted'
            ELSE 'changed' END AS change_type
FROM prev p FULL JOIN curr c USING (o_orderkey)
WHERE p.o_orderkey IS NULL OR c.o_orderkey IS NULL
   OR p.o_orderstatus <> c.o_orderstatus
   OR p.o_totalprice <> c.o_totalprice
"""


@register("etl_snapshot_diff", oracle=_SNAPDIFF_ORACLE)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — change detection WITHOUT a CDC feed: two versions
    of a table (derived deterministically here: some keys only in prev,
    some only in curr, some values mutated) full-outer-join on the key
    and classify added / deleted / changed. This is how batch pipelines
    derive incremental updates from full-table dumps.

    Scale design: one full-outer shuffle join on the key — the minimum
    possible for a diff; the change predicate is codegen'd column
    comparison. At real scale you first compare per-row content HASHES
    (doc_fingerprint's machinery) so wide rows never ship twice."""
    o = table(spark, sf_dir, "orders")
    prev = o.where(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    curr = o.where(F.col("o_orderkey") % 10 != 1).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_totalprice",
    )
    p = prev.alias("p")
    c = curr.alias("c")
    j = p.join(c, F.col("p.o_orderkey") == F.col("c.o_orderkey"), "full")
    change = (
        F.when(F.col("p.o_orderkey").isNull(), "added")
        .when(F.col("c.o_orderkey").isNull(), "deleted")
        .otherwise("changed")
    )
    return j.where(
        F.col("p.o_orderkey").isNull()
        | F.col("c.o_orderkey").isNull()
        | (F.col("p.o_orderstatus") != F.col("c.o_orderstatus"))
        | (F.col("p.o_totalprice") != F.col("c.o_totalprice"))
    ).select(
        F.coalesce(F.col("p.o_orderkey"), F.col("c.o_orderkey")).alias(
            "o_orderkey"
        ),
        change.alias("change_type"),
    )


_CHECKSUM_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(CAST('0x' || substr(md5(
             CAST(event_id AS VARCHAR) || '|' || event_type || '|' ||
             CAST(user_id AS VARCHAR)), 1, 12) AS VARCHAR)
           AS BIGINT)) AS BIGINT) AS content_checksum
FROM events
GROUP BY 1
"""


@register("etl_partition_checksum", oracle=_CHECKSUM_ORACLE)
def etl_partition_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition content checksums — the migration-validation
    primitive (≙ verifying a Cassandra→Solr style copy): each day
    partition reports row count plus an ORDER-INDEPENDENT checksum (sum
    of truncated per-row content hashes), so source and target sides can
    be compared partition-by-partition without shipping rows, and a
    mismatch pinpoints WHICH partition to re-copy.

    Scale design: one codegen'd hash projection + one map-side-combined
    aggregation per partition key; 48-bit truncation keeps the int64 sum
    overflow-free to ~10¹³ rows per partition. The checksum is
    commutative by construction — partitioning, ordering, and engine
    never change it.

    NULL parity: F.concat (not concat_ws, which SKIPS null fields) —
    like the oracle's ``||`` it null-propagates, so a row with a NULL
    field hashes to NULL and drops out of the SUM identically on both
    engines (the fn_uuid_deterministic pattern)."""
    ev = table(spark, sf_dir, "events")
    row_hash = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("event_id").cast("string"),
                    F.lit("|"),
                    F.col("event_type"),
                    F.lit("|"),
                    F.col("user_id").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    return ev.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_hash).alias("content_checksum"),
    )


# ---------------------------------------------------------------------------
# etl_column_profile — one-pass data-profiling summary
# ---------------------------------------------------------------------------

def _profile_col_sql(col: str, val: str) -> str:
    return f"""SELECT '{col}' AS column_name,
       COUNT(*) AS n_rows,
       COUNT(*) - COUNT({val}) AS n_null,
       COUNT(DISTINCT {val}) AS n_distinct,
       CAST(MIN({val}) AS VARCHAR) AS min_value,
       CAST(MAX({val}) AS VARCHAR) AS max_value
FROM orders"""


_PROFILE_ORACLE = "\nUNION ALL\n".join(
    _profile_col_sql(c, v)
    for c, v in [
        ("o_orderstatus", "o_orderstatus"),
        ("o_custkey", "o_custkey"),
        ("o_totalprice", "CAST(o_totalprice AS DECIMAL(27,6))"),
        ("o_orderdate", "CAST(o_orderdate AS DATE)"),
    ]
)


@register("etl_column_profile", oracle=_PROFILE_ORACLE)
def etl_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — per-column row/null/distinct counts and
    min/max, as rows: the Deequ/expectations-style table summary every
    ingestion pipeline publishes next to the data (and the statistics a
    migration validator compares source-vs-target, complementing
    etl_partition_checksum's content hashes).

    Scale design: ONE scan computes every metric in a single partial+
    final aggregate (the oracle's per-column UNION of scans is the shape
    this key exists to avoid — at 100 TB, 4 scans vs 1); the 1-row
    metric vector then explodes into per-column rows driver-free.
    Cross-engine value formatting goes through type-stable casts
    (decimal with fixed scale, DATE) so min/max strings are identical.
    Exact COUNT(DISTINCT) here; the approx_distinct key is the
    documented fallback when a profile column's cardinality makes the
    exact distinct shuffle the bottleneck."""
    o = table(spark, sf_dir, "orders")
    cols = {
        "o_orderstatus": F.col("o_orderstatus"),
        "o_custkey": F.col("o_custkey"),
        "o_totalprice": F.col("o_totalprice").cast("decimal(27,6)"),
        "o_orderdate": F.col("o_orderdate").cast("date"),
    }
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, c in cols.items():
        aggs += [
            F.count(c).alias(f"{name}__nn"),
            F.countDistinct(c).alias(f"{name}__nd"),
            F.min(c).cast("string").alias(f"{name}__min"),
            F.max(c).cast("string").alias(f"{name}__max"),
        ]
    one = o.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("column_name"),
                (F.col("n_rows") - F.col(f"{name}__nn")).alias("n_null"),
                F.col(f"{name}__nd").alias("n_distinct"),
                F.col(f"{name}__min").alias("min_value"),
                F.col(f"{name}__max").alias("max_value"),
            )
            for name in cols
        ]
    )
    return one.select("n_rows", F.explode(rows).alias("p")).select(
        "p.column_name",
        "n_rows",
        "p.n_null",
        "p.n_distinct",
        "p.min_value",
        "p.max_value",
    )


# ---------------------------------------------------------------------------
# etl_incremental_agg_merge — incremental rollup maintenance
# ---------------------------------------------------------------------------

_INC_ORACLE = """
SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue
FROM orders
GROUP BY 1
"""


@register("etl_incremental_agg_merge", oracle=_INC_ORACLE)
def etl_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the daily-rollup table kept
    up to date by MERGING each ingest batch's PARTIAL aggregate into the
    store, never re-scanning history: four deterministic ingest batches
    each write their partial (day, count, decimal sum) to the rollup
    directory, and readers combine partials by key. The oracle is the
    full-table batch recompute, so the check IS the
    incremental-equals-batch contract every incremental pipeline must
    honor (and additivity is why sums/counts are kept, with avg derived
    at read time — the non-additive-metric trap).

    Scale design: each batch's work is one map-side-combined aggregation
    over THAT batch only; the merge-on-read combines |days|×|batches|
    partial rows — dimension-sized forever. The decimal partial sums
    make the merge order-independent and exactly additive."""
    store = _tmp("inc_agg", sf_dir)
    import shutil

    shutil.rmtree(store, ignore_errors=True)
    o = table(spark, sf_dir, "orders")
    for batch in range(4):  # deterministic ingest batches
        part = (
            o.where(F.col("o_orderkey") % 4 == batch)
            .groupBy(
                F.date_format(
                    F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd"
                ).alias("day")
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(27,6)")).alias(
                    "rev_partial"
                ),
            )
        )
        part.write.mode("append").parquet(store)
    merged = (
        spark.read.parquet(store)
        .groupBy("day")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("rev_partial").cast("double").alias("revenue"),
        )
    )
    return merged


# ---------------------------------------------------------------------------
# etl_zorder_layout — space-filling-curve file clustering
# ---------------------------------------------------------------------------

_ZORDER_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice,
       strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day
FROM orders
WHERE o_custkey BETWEEN 100 AND 200
  AND o_orderdate >= TIMESTAMP '1996-01-01'
"""


def _interleave_bits(a, b, nbits: int = 8):
    """Morton/Z-value of two nbits-wide ints — pure integer expression
    (bit i of a → bit 2i+1, bit i of b → bit 2i)."""
    z = F.lit(0).cast("long")
    for i in range(nbits):
        z = (
            z
            + (F.shiftright(a, i) % 2) * F.lit(1 << (2 * i + 1))
            + (F.shiftright(b, i) % 2) * F.lit(1 << (2 * i))
        )
    return z


@register("etl_zorder_layout", oracle=_ZORDER_ORACLE)
def etl_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) file clustering — the OPTIMIZE ZORDER BY
    of Delta/Iceberg table maintenance, built from primitives: rows sort
    by the bit-interleaved Z-value of the two filter dimensions
    (customer bucket × day bucket) before the write, so a reader
    filtering on EITHER dimension touches few row groups — single-column
    sorting clusters one dimension and scatters the other; the Z-curve
    keeps both locally dense.

    Scale design: the Z-value is a pure integer expression (no UDF);
    the write is one range-sort by zval (sortWithinPartitions after a
    repartitionByRange — at cluster scale that is the standard
    one-shuffle re-layout); parquet row-group min/max stats on the
    ORIGINAL columns then do the pruning — the curve exists purely to
    make those stats tight. The oracle reads the same slice straight
    from the source, so the re-layout is value-checked lossless."""
    out = _tmp("zorder", sf_dir)
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    # 8-bit equal-width buckets over the ACTUAL per-dimension domains
    # (a 1-row bounds aggregate, broadcast — what a real OPTIMIZE ZORDER
    # reads from table stats); fixed-constant domains clamp at scale and
    # collapse the curve's tail into one bucket (measured: the date tail
    # degenerated and killed file pruning on that dimension)
    bounds = o.agg(
        F.min("o_custkey").alias("c_lo"),
        F.max("o_custkey").alias("c_hi"),
        F.min("o_orderdate").alias("d_lo"),
        F.max("o_orderdate").alias("d_hi"),
    )

    def _bucket8(v, lo, hi):
        raw = ((v - lo) * 256.0 / (hi - lo + 1)).cast("long")
        return F.least(F.greatest(raw, F.lit(0)), F.lit(255))

    ob = o.crossJoin(F.broadcast(bounds))
    cb = _bucket8(F.col("o_custkey"), F.col("c_lo"), F.col("c_hi"))
    db = _bucket8(
        F.datediff(F.col("o_orderdate"), F.col("d_lo")).cast("long"),
        F.lit(0),
        F.datediff(F.col("d_hi"), F.col("d_lo")).cast("long"),
    )
    zval = _interleave_bits(cb, db)
    o = ob
    (
        o.withColumn("zval", zval)
        .repartitionByRange(8, "zval")
        .sortWithinPartitions("zval")
        .drop("zval", "c_lo", "c_hi", "d_lo", "d_hi")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).where(
        (F.col("o_custkey").between(100, 200))
        & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
    )
    return back.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd")
        .alias("day"),
    )


# ---------------------------------------------------------------------------
# source_python_datasource — Spark 4 Python DataSource plugin surface
# ---------------------------------------------------------------------------

_PYDS_ORACLE = f"""
WITH src AS (
  SELECT i AS record_id,
         CAST(i // 1000 AS INTEGER) AS shard,
         ((i % 2147483648) * 2654435761) % 4294967296 AS value
  FROM range(8000) t(i)
)
SELECT shard, COUNT(*) AS n_rows,
       CAST(SUM(value) AS BIGINT) AS value_sum,
       MIN(value) AS value_min,
       MAX(value) AS value_max
FROM src GROUP BY shard
"""


@register("source_python_datasource", oracle=_PYDS_ORACLE)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON data source (Spark 4 ``pyspark.sql.datasource``) —
    the connector plugin surface when no JVM driver exists (REST pagers,
    token-range scans, queue snapshots): partition planning returns one
    InputPartition per shard, each read independently executor-side,
    rows flowing through Arrow into the ordinary DataFrame algebra.
    Content is hash-deterministic, so the oracle value-checks the full
    plumbing (planning → per-partition iteration → schema → agg);
    sources/pydatasource.py is the drop-in template a real connector
    fills with its client calls.

    Scale design: partitions are the parallelism unit exactly like
    parquet splits — a 100 TB external scan is N_SHARDS=token-ranges
    wide; the per-shard aggregation combines map-side so only
    shard-level stats shuffle."""
    from trireme_spark.sources.pydatasource import ShardedSyntheticSource

    spark.dataSource.register(ShardedSyntheticSource)
    src = spark.read.format("trireme_shards").load()
    return src.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("value").alias("value_sum"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
    )


_PYSINK_ORACLE = "SELECT doc_id, source, n_chars FROM documents"


@register("sink_python_datasource", oracle=_PYSINK_ORACLE)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON data sink (Spark 4 DataSourceWriter) with a real
    two-phase commit: executors write unlisted JSONL part files and
    return commit messages; the driver's commit() publishes a manifest,
    and the read-back resolves ONLY manifest-listed parts — atomic
    visibility exactly like a lakehouse commit log or a search-engine
    bulk load's final commit. abort() removes parts, so failed jobs are
    invisible and task retries merely orphan unlisted files. The
    round-trip is value-oracled lossless.

    Scale design: one part file per task, commit metadata is
    O(#partitions) — the driver never sees row data; readers list the
    manifest, not the directory (object-store-safe)."""
    import shutil

    from trireme_spark.sources.pydatasource import (
        KeyedDocSink,
        read_manifest_parts,
    )

    spark.dataSource.register(KeyedDocSink)
    out = _tmp("pydocsink", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    (
        d.write.format("trireme_docsink")
        .option("path", out)
        .mode("append")
        .save()
    )
    return read_manifest_parts(
        spark, out, "doc_id long, source string, n_chars long"
    )


# ---------------------------------------------------------------------------
# etl_merge_cdc_apply — MERGE-INTO semantics: apply a CDC changelog
# ---------------------------------------------------------------------------

_CDC_ORACLE = """
SELECT o_orderkey,
       CASE o_orderkey % 4
         WHEN 1 THEN ROUND(o_totalprice + 10.0, 2)
         ELSE ROUND(o_totalprice, 2)
       END AS price,
       CAST(CASE o_orderkey % 4
         WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 1
       END AS BIGINT) AS version
FROM orders
WHERE o_orderkey % 4 <> 2
"""


@register("etl_merge_cdc_apply", oracle=_CDC_ORACLE)
def etl_merge_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics from primitives: apply a CDC changelog
    (insert / update / delete ops with monotone sequence numbers) to a
    base snapshot — the Debezium-consumer / lakehouse-merge shape that
    incremental migration pipelines live on (complement of
    etl_incremental_migration's append-only LWW and etl_snapshot_diff's
    diff DETECTION: this key APPLIES a diff).

    The changelog derives deterministically from the key space so the
    final state is SQL-expressible: base holds keys ≢3 (mod 4);
    the log INSERTs the ≡3 keys (seq 1), UPDATEs the ≡1 keys twice
    (seq 1: +5, seq 2: +10 — last-writer must win within one batch),
    and DELETEs the ≡2 keys (seq 1).

    Scale design: base rows enter the changelog tagged seq 0, one
    key-shuffled window picks the max-seq row per key, the anti-delete
    filter drops tombstones LAST (a delete must beat the base row it
    tombstones, and a later re-insert would beat the delete — ordering
    handled by seq, not op precedence). One shuffle total; the
    changelog side would be the (small) delta in production, and the
    same plan serves both the one-shot merge and the foreachBatch
    incremental form (t7). The synthetic changelog materializes in ONE
    corpus pass (per-key entry array + explode) rather than a 5-leg
    filtered self-union — same rows, 1 scan instead of 5 (the r14
    optimization round; at 100 TB the union form re-reads the snapshot
    five times to build rows one pass can emit). Prices round at the
    product's 2-dp decimal grain in both engines."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    mod = F.col("o_orderkey") % 4

    def _e(price, seq, op):
        return F.struct(
            price.cast("double").alias("price"),
            F.lit(seq).cast("long").alias("seq"),
            F.lit(op).alias("op"),
        )

    p = F.col("price")
    entries = (
        F.when(mod == 1, F.array(_e(p, 0, "B"), _e(p + 5.0, 1, "U"),
                                 _e(p + 10.0, 2, "U")))
        .when(mod == 2, F.array(_e(p, 0, "B"),
                                _e(F.lit(None), 1, "D")))
        .when(mod == 3, F.array(_e(p, 1, "I")))
        .otherwise(F.array(_e(p, 0, "B")))
    )
    log = o.select(
        "o_orderkey", F.explode(entries).alias("e")
    ).select("o_orderkey", "e.price", "e.seq", "e.op")
    w = Window.partitionBy("o_orderkey").orderBy(F.col("seq").desc())
    latest = (
        log.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .where(F.col("op") != "D")
    )
    return latest.select(
        "o_orderkey",
        F.round("price", 2).alias("price"),
        F.col("seq").alias("version"),
    )


# ---------------------------------------------------------------------------
# scan_file_metadata — hidden _metadata column introspection
# ---------------------------------------------------------------------------

_FILEMETA_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS meta_rows
FROM lineitem
GROUP BY l_returnflag
"""


@register("scan_file_metadata", oracle=_FILEMETA_ORACLE)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden ``_metadata`` column surface: a partitioned lakehouse dir
    is audited per PHYSICAL FILE — which files feed each partition, and
    how many rows each contributes — the debugging/ops primitive behind
    "which file corrupted this partition" and small-file audits
    (complement of etl_compact_small_files, which FIXES what this key
    measures).

    The staged layout is contractual: repartition(partition col) before
    a partitionBy write ⇒ exactly ONE file per partition value, which
    the query verifies from ``_metadata.file_path`` alone (n_files) —
    the oracle pins that contract as a literal plus the true per-flag
    row counts from the source table, so any drift in the write layout
    OR the metadata read shows up as a value mismatch. ``_metadata`` is
    populated by the scan itself (no extra IO — the path/size fields
    ride the split metadata); grouping by a parsed path component is
    one map-side agg. At 100 TB the same query audits a million-file
    table for free, because it reads footers' worth of metadata plus
    the rows it was scanning anyway."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    stage = _tmp("filemeta", sf_dir)
    (
        li.repartition("l_returnflag")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(stage)
    )
    back = spark.read.parquet(stage).select(
        "l_returnflag", F.col("_metadata.file_path").alias("fp")
    )
    per_file = back.groupBy("l_returnflag", "fp").agg(
        F.count(F.lit(1)).alias("file_rows")
    )
    # with one file per value n_rows == meta_rows; a second file per dir
    # would split them apart and trip the oracle
    return per_file.groupBy("l_returnflag").agg(
        F.sum("file_rows").alias("n_rows"),
        F.count(F.lit(1)).alias("n_files"),
        F.max("file_rows").alias("meta_rows"),
    )


# ---------------------------------------------------------------------------
# etl_manifest_vacuum — orphan-file detection against the commit manifest
# ---------------------------------------------------------------------------

_VACUUM_ORACLE = """
SELECT * FROM (VALUES ('orphan-0.jsonl', CAST(2 AS BIGINT)),
                      ('orphan-1.jsonl', CAST(2 AS BIGINT)))
       AS t(orphan_file, n_rows)
"""


@register("etl_manifest_vacuum", oracle=_VACUUM_ORACLE)
def etl_manifest_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM's detection half: diff the PHYSICAL directory listing
    against the commit manifest and surface orphan part files — the
    debris failed jobs and zombie task retries leave behind under any
    manifest-committed sink (the sink_python_datasource protocol
    documents that aborts/retries orphan unlisted files by design;
    this key is the maintenance pass that finds them). Two orphans are
    planted to mimic a dead task's output; their rows are counted
    through a quarantine read before the (real) vacuum would unlink.

    Scale design: the diff is manifest-set vs listing-set — pure
    metadata, no row data moves for detection (at object-store scale
    the listing side comes from an S3 Inventory/filesystem report and
    the diff becomes one anti-join of two path tables; the local
    os.listdir here is that report's 1-node stand-in). Only ORPHAN
    files are ever opened, and only to count what deletion will
    destroy — the audit trail a safe vacuum logs before unlinking."""
    import json as _json
    import shutil

    from trireme_spark.sources.pydatasource import KeyedDocSink

    spark.dataSource.register(KeyedDocSink)
    out = _tmp("pyvacuum", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    (
        d.write.format("trireme_docsink")
        .option("path", out)
        .mode("append")
        .save()
    )
    # plant two orphans: part-shaped files a failed task would leave
    for i in range(2):
        with open(os.path.join(out, f"orphan-{i}.jsonl"), "w") as fh:
            for r in range(2):
                fh.write(
                    _json.dumps(
                        {"doc_id": -1 - i, "source": "dead-task",
                         "n_chars": r}
                    )
                    + "\n"
                )
    with open(os.path.join(out, "_MANIFEST.json")) as fh:
        listed = {
            os.path.basename(pth) for pth in _json.load(fh)["parts"]
        }
    on_disk = {
        f
        for f in os.listdir(out)
        if f.endswith(".jsonl")
    }
    orphans = sorted(on_disk - listed)
    quarantine = spark.read.schema(
        "doc_id long, source string, n_chars long"
    ).json([os.path.join(out, f) for f in orphans])
    return (
        quarantine.withColumn(
            "orphan_file",
            F.element_at(F.split(F.input_file_name(), "/"), -1),
        )
        .groupBy("orphan_file")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# etl_observe_metrics — pipeline observability via the Observation API
# ---------------------------------------------------------------------------

_OBSERVE_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
       CAST(count_if(o_orderstatus IS NULL) AS BIGINT) AS n_null_status,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_price
FROM orders
"""


@register("etl_observe_metrics", oracle=_OBSERVE_ORACLE)
def etl_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability — ``df.observe()`` metrics (the
    CollectMetrics operator): data-quality counters ride the SAME pass
    as the real work and surface after the action, so a production
    write publishes row counts, rule violations, and control totals
    with ZERO extra scans — the difference between "the job ran" and
    "the job ran and moved what it should have" (Deequ-style checks as
    a side effect instead of a second job; complements
    etl_expectations, which is the standalone-audit form).

    Scale design: metrics are decomposable aggregates computed
    map-side inside the existing plan — adding a metric adds an
    expression, never a pass; the observed pipeline here is a real
    filtered write (staged parquet). The metric VALUES come back as a
    bounded 1-row driver payload (the k-means doctrine) and are
    re-emitted as the result frame so the oracle can pin them."""
    from pyspark.sql import Observation

    obs = Observation("trireme_etl_metrics")
    o = table(spark, sf_dir, "orders")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("o_totalprice") > 150000).alias("n_big"),
        F.count_if(F.col("o_orderstatus").isNull()).alias(
            "n_null_status"
        ),
        F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
        .cast("double")
        .alias("sum_price"),
    )
    stage = _tmp("observe_sink", sf_dir)
    # the action that both does the work AND materializes the metrics
    observed.where(F.col("o_totalprice") > 150000).write.mode(
        "overwrite"
    ).parquet(stage)
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["n_big"]),
                int(m["n_null_status"]),
                float(m["sum_price"]),
            )
        ],
        "n_rows long, n_big long, n_null_status long, sum_price double",
    )


# ---------------------------------------------------------------------------
# join_dpp_partitioned — dynamic partition pruning
# ---------------------------------------------------------------------------

_DPP_ORACLE = """
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_extendedprice
FROM lineitem l
JOIN (SELECT l_returnflag FROM lineitem
      GROUP BY l_returnflag
      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)
             / COUNT(*) > 25.33) d
  ON l.l_returnflag = d.l_returnflag
"""


@register("join_dpp_partitioned", oracle=_DPP_ORACLE)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is PARTITIONED on the
    join column, the dim side's filter is only known at runtime — DPP
    turns the dim's qualifying keys into a partition filter on the
    fact scan, so entire directories never open. With static pruning
    (s5), runtime bloom filters (join_runtime_bloom_filter), and this
    key, the pruning trio that carries selective joins at 100 TB is
    complete: directory-level, row-level, and runtime-directory-level.

    The fact stages as a partitioned tmp write (the s5 layout); the
    dim filter is on an AGGREGATE attribute (per-flag mean quantity),
    so the qualifying partition keys are genuinely unknowable until
    runtime — a literal dim filter would be folded into a static
    partition filter and no DPP would fire (observed).
    tests/test_plans.py asserts ``dynamicpruning`` lands in the fact
    scan's partition filters."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag"
    )
    stage = _tmp("dpp_fact", sf_dir)
    (
        li.write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(stage)
    )
    fact = spark.read.parquet(stage)
    dim = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            (
                F.sum(F.col("l_quantity").cast("decimal(27,6)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("avg_qty")
        )
        .where(F.col("avg_qty") > 25.33)
        .select("l_returnflag")
    )
    return fact.join(dim, "l_returnflag").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )


# ---------------------------------------------------------------------------
# etl_early_arriving_facts — pending-queue resolution across dim batches
# ---------------------------------------------------------------------------

_EARLY_FACTS_ORACLE = """
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, c.c_name,
       CASE WHEN o.o_custkey % 3 = 0 THEN 'batch2' ELSE 'batch1' END
           AS resolved_in
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
"""


@register("etl_early_arriving_facts", oracle=_EARLY_FACTS_ORACLE)
def etl_early_arriving_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Early-arriving facts: orders land BEFORE their customer
    dimension rows exist (dim batch 1 is missing every third customer
    — the classic warehouse race). Unmatched facts go to a PENDING
    queue instead of being dropped or crashing the load; when dim
    batch 2 lands, the queue drains and each fact records which batch
    resolved it — the retry-with-state pattern every incremental
    dimension load needs (dropping unmatched facts undercounts
    revenue; failing the job blocks the pipeline on upstream timing).

    Scale design: each resolution round is one fact×dim equi-join plus
    a LEFT-ANTI split of the still-pending remainder; pending is
    corpus-sized only in the pathological all-dims-late case and
    shrinks monotonically per round. The final union carries the
    resolution provenance; the oracle pins it via the planted
    missing-dim rule, so the queue mechanics — not just the final
    join — are value-checked."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    dim_b1 = c.where(F.col("c_custkey") % 3 != 0)
    dim_b2 = c.where(F.col("c_custkey") % 3 == 0)

    def resolve(facts: DataFrame, dim: DataFrame, tag: str):
        matched = facts.join(
            dim, facts.o_custkey == dim.c_custkey
        ).select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "c_name",
            F.lit(tag).alias("resolved_in"),
        )
        pending = facts.join(
            dim, facts.o_custkey == dim.c_custkey, "left_anti"
        )
        return matched, pending

    m1, pending = resolve(o, dim_b1, "batch1")
    m2, still_pending = resolve(pending, dim_b2, "batch2")
    # the fixture's dim is complete after batch 2; a real pipeline loops
    # with the pending table persisted between loads
    return m1.unionByName(m2)


# ---------------------------------------------------------------------------
# source_csv_malformed_modes — the CSV parse-mode robustness matrix
# ---------------------------------------------------------------------------

_CSV_MODES_ORACLE = """
SELECT 'permissive' AS mode,
       CAST((SELECT COUNT(*) FROM orders) + 2 AS BIGINT) AS n_rows,
       CAST(2 AS BIGINT) AS n_quarantined
UNION ALL
SELECT 'dropmalformed' AS mode,
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS n_quarantined
"""


@register("source_csv_malformed_modes", oracle=_CSV_MODES_ORACLE)
def source_csv_malformed_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV parse-mode matrix over a file with PLANTED corruption (two
    rows with a non-numeric key and a truncated column count):
    PERMISSIVE keeps every line and quarantines the broken ones into
    _corrupt_record; DROPMALFORMED silently sheds them — the two
    survivable answers to dirty ingest (FAILFAST, the third mode, is
    exercised in pytest where its exception belongs). The JSON twin is
    etl_corrupt_quarantine; CSV's column-count failure class is
    different enough to earn its own contract.

    The oracle pins the exact bookkeeping: permissive = all rows + 2
    quarantined, dropmalformed = clean rows + 0 — so a parser-mode
    regression (or a quarantine column that stops populating) is a
    value mismatch, not a silent row-count drift at 3 AM.

    Scale design: parsing is per-line executor work; the mode matrix
    reads the same staged file twice with different parse contracts —
    at 100 TB you run PERMISSIVE once and route on the quarantine
    column instead (the documented production form)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    stage = _tmp("csv_modes", sf_dir)
    o.write.mode("overwrite").option("header", "false").csv(stage)
    # plant two malformed lines in their own part file
    with open(os.path.join(stage, "part-junk.csv"), "w") as fh:
        fh.write("not_a_number,1,2.0\n")
        fh.write("123\n")
    schema = (
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "_corrupt_record string"
    )
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(stage)
    )
    # Spark refuses to aggregate the corrupt-record column straight off
    # the parser (the internal-column pushdown restriction) — the parse
    # must materialize first; tmp parquet per the staging doctrine
    pstage = _tmp("csv_modes_parsed", sf_dir)
    permissive.write.mode("overwrite").parquet(pstage)
    permissive = spark.read.parquet(pstage)
    p_counts = permissive.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("_corrupt_record").alias("n_quarantined"),
    ).select(F.lit("permissive").alias("mode"), "n_rows", "n_quarantined")
    dropped = (
        spark.read.schema("o_orderkey long, o_custkey long, o_totalprice double")
        .option("mode", "DROPMALFORMED")
        .csv(stage)
    )
    # same materialization trap, sharper teeth: a bare count() prunes
    # every column, the parser parses NOTHING, and DROPMALFORMED drops
    # nothing — the count silently includes the malformed lines
    # (observed: 15002). Materializing all columns forces real parsing.
    dstage = _tmp("csv_modes_dropped", sf_dir)
    dropped.write.mode("overwrite").parquet(dstage)
    dropped = spark.read.parquet(dstage)
    d_counts = dropped.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(0).cast("long").alias("n_quarantined"),
    ).select(
        F.lit("dropmalformed").alias("mode"), "n_rows", "n_quarantined"
    )
    return p_counts.unionByName(d_counts)


# ---------------------------------------------------------------------------
# etl_deletion_vectors — merge-on-read positional deletes
# ---------------------------------------------------------------------------

_DV_ORACLE = "SELECT * FROM orders WHERE o_orderkey % 97 <> 0"


@register("etl_deletion_vectors", oracle=_DV_ORACLE)
def etl_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read POSITIONAL deletes (the Delta/Iceberg deletion-vector
    mechanism): deletes never rewrite data files — a sidecar records
    (file, row position) pairs and readers anti-join positions at scan
    time. The positions come from the hidden ``_metadata.row_index`` /
    ``_metadata.file_path`` parquet scan columns, so the sidecar holds
    NO keys and NO predicate — exactly what a DV is (storage-level
    positions, content-agnostic).

    Value contract: base snapshot staged to a multi-file parquet dir;
    the DV is built from a one-time predicate pass (o_orderkey % 97 = 0
    stands in for the MERGE/DELETE that produced it); the read path is
    base ⟕̸ DV on (file, position) and must equal the logically-filtered
    table — which the oracle checks COLUMN-FOR-COLUMN, so a position
    drift (row_index misread, file split reorder) surfaces as a hash
    mismatch, not silence.

    Scale design: a delete of d rows costs O(d) sidecar bytes while the
    petabyte base stays immobile; the read-side anti-join keys on
    (file, position) — broadcastable while DVs are small (AQE decides;
    no hint — DVs can grow), and at 100 TB the join prunes to only the
    files that appear in the DV (file_path equi-key). Compaction
    (etl_compact_small_files) is the documented reconciliation that
    rewrites files and retires their DVs."""
    stage = _tmp("dv_base", sf_dir)
    table(spark, sf_dir, "orders").repartition(4).write.mode(
        "overwrite"
    ).parquet(stage)
    with_pos = spark.read.parquet(stage).select(
        "*",
        F.col("_metadata.file_path").alias("__file"),
        F.col("_metadata.row_index").alias("__pos"),
    )
    dv = with_pos.where(F.col("o_orderkey") % 97 == 0).select(
        "__file", "__pos"
    )
    dv_path = _tmp("dv_sidecar", sf_dir)
    dv.write.mode("overwrite").parquet(dv_path)
    sidecar = spark.read.parquet(dv_path)
    return (
        with_pos.join(sidecar, ["__file", "__pos"], "left_anti")
        .drop("__file", "__pos")
    )


# ---------------------------------------------------------------------------
# source_jdbc_partitioned — real JDBC connector roundtrip (embedded Derby)
# ---------------------------------------------------------------------------

_JDBC_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderpriority,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate
FROM orders
"""


@register("source_jdbc_partitioned", oracle=_JDBC_ORACLE)
def source_jdbc_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JDBC connector exercise — the database-substrate source the
    reference's Cassandra connector stands in for, runnable offline
    because Spark ships an embedded Derby: orders is bulk-loaded into a
    Derby table over JDBC, then read back as a PARTITIONED JDBC scan
    (partitionColumn/bounds/numPartitions → one range-bounded query per
    task), value-oracled lossless column-for-column.

    Scale design: the partitioned read is the JDBC scale mechanism —
    N executors each pull an id-range slice concurrently instead of one
    serial cursor (the same token-range planning a Cassandra reader
    does); bounds are a 1-row min/max aggregate pushed to the database.
    Filters/projections push into the generated SQL (JDBC source
    supports pushdown). o_orderdate travels as DATE: Derby TIMESTAMP
    would come back TZ-ful and drift against the NTZ fixture — the
    cross-system type-mapping trap, pinned by the oracle's CAST.
    Embedded Derby is single-process by design; a server-mode URL (or
    the documented Cassandra drop-in, sources/connectors.py) is the
    only change at cluster scale."""
    db = _tmp("derby_db", sf_dir)
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
    )
    o.write.jdbc(url, "orders_t", mode="overwrite", properties=props)
    hi = o.agg(F.max("o_orderkey")).first()[0]
    back = spark.read.jdbc(
        url,
        "orders_t",
        column="o_orderkey",
        lowerBound=0,
        upperBound=int(hi) + 1,
        numPartitions=4,
        properties=props,
    )
    # DATE stays DATE inside Derby (the type-mapping under test); the
    # OUTPUT ships as ISO string — the driver canonicalizer compares
    # datetime.date and datetime64 cells unequal (house date doctrine)
    return back.withColumn(
        "o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd")
    )


# ---------------------------------------------------------------------------
# scan_glob_recursive — recursive lookup + glob-filtered directory scans
# ---------------------------------------------------------------------------

_GLOB_ORACLE = """
SELECT o_orderkey, o_totalprice,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr
FROM orders
WHERE EXTRACT(year FROM o_orderdate) IN (1996, 1997)
"""


@register("scan_glob_recursive", oracle=_GLOB_ORACLE)
def scan_glob_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive directory ingestion over a NON-Hive layout: data lands
    in arbitrary nested folders (`batch=.../year/...` as upstream
    dumps tend to arrive — no `col=value` names, so partition
    discovery cannot help), read with ``recursiveFileLookup`` +
    ``pathGlobFilter``. The glob keeps only `*.parquet`, so the
    planted `_manifest.txt` debris in the same tree is NEVER opened —
    the value check proves both the recursive traversal (all years
    present) and the filter (junk files would crash the parquet
    reader or change counts).

    Scale design: file listing is driver-side metadata (distributed
    listing kicks in past the parallelism threshold); the glob prunes
    AT LISTING time, before any reader task launches — at a
    million-file landing zone that is the difference between a
    metadata pass and a job that opens junk. Pruning by PATH here
    complements pruning by PARTITION VALUE (s5) and by FILE STATS
    (etl_zorder_layout)."""
    stage = _tmp("glob_tree", sf_dir)
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.year("o_orderdate").cast("long").alias("yr"),
    )
    for yr in (1996, 1997):
        o.where(F.col("yr") == yr).write.mode("overwrite").parquet(
            os.path.join(stage, f"dump_{yr}", "part-a")
        )
        # plant non-data debris the glob must skip
        with open(
            os.path.join(stage, f"dump_{yr}", "_manifest.txt"), "w"
        ) as fh:
            fh.write("uploaded\n")
    return (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(stage)
    )


# ---------------------------------------------------------------------------
# catalog_managed_table — managed-table lifecycle (catalog + warehouse)
# ---------------------------------------------------------------------------

_CATALOG_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders
UNION ALL
SELECT * FROM (VALUES
  (CAST(99000001 AS BIGINT), CAST(1 AS BIGINT), 111.11, '1-URGENT'),
  (CAST(99000002 AS BIGINT), CAST(2 AS BIGINT), 222.22, '5-LOW'))
"""


@register("catalog_managed_table", oracle=_CATALOG_ORACLE)
def catalog_managed_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Managed-table lifecycle — the CATALOG surface: CREATE DATABASE
    (explicit LOCATION), ``saveAsTable`` into it, ``INSERT INTO`` via
    SQL, read back through the catalog name. This is the workflow of
    every warehouse user (tables, not paths), and the value check pins
    the full loop: the base load AND the SQL-inserted rows must both
    surface — a write that lands in the wrong location or an insert
    that misses the table's files breaks the hash.

    Ordering contract: overwrite-then-insert per invocation, so the
    key is idempotent under re-runs in a shared session (no append
    accumulation — the sink_batched_upsert doctrine).

    Scale design: the catalog stores METADATA; data is ordinary
    partitioned parquet under the database location, so every scan
    optimization (pruning, pushdown) is identical to path-based reads.
    In production the same code targets a Hive metastore / Unity-style
    catalog — the API is the session catalog either way."""
    import shutil

    loc = _tmp("catalog_wh", sf_dir)
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS trireme_cat LOCATION '{loc}'"
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    # Fresh-session trap (caught by the full-registry sim): the
    # in-memory catalog forgets the table across sessions but its
    # LOCATION persists in the warehouse dir, and saveAsTable refuses
    # to create a "new" managed table over an existing location
    # (LOCATION_ALREADY_EXISTS). Drop what the catalog knows, then
    # clear the orphaned location — the same reconciliation a real
    # metastore's DROP TABLE does atomically.
    spark.sql("DROP TABLE IF EXISTS trireme_cat.orders_m")
    shutil.rmtree(os.path.join(loc, "orders_m"), ignore_errors=True)
    o.write.mode("overwrite").saveAsTable("trireme_cat.orders_m")
    spark.sql(
        """
        INSERT INTO trireme_cat.orders_m VALUES
          (99000001, 1, 111.11, '1-URGENT'),
          (99000002, 2, 222.22, '5-LOW')
        """
    )
    return spark.table("trireme_cat.orders_m")


# ---------------------------------------------------------------------------
# source_binary_files — binaryFile format: raw-blob ingestion
# ---------------------------------------------------------------------------

_BINFILE_N = 200  # blob landing zones are file-grained; bounded staging set

_BINFILE_ORACLE = f"""
SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 6, '0') || '.bin' AS fname,
       CAST(strlen(text) AS BIGINT) AS length,
       sha256(text) AS digest
FROM documents WHERE doc_id < {_BINFILE_N}
"""


@register("source_binary_files", oracle=_BINFILE_ORACLE)
def source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` ingestion — the raw-blob front door of every
    multimodal pipeline (images/audio/models land as FILES, not rows):
    a staged directory of .bin blobs reads back as (path, length,
    content), and the value check digests every byte — SHA-256 of the
    content column must equal the oracle's digest of the source text
    the blob was written from, so truncation, charset mangling, or a
    missed file all break the hash.

    Scale design: one file = one row = one task unit; Spark's
    binaryFile source lists distributively and never concatenates
    blobs, so a million-blob landing zone parallelizes like any scan.
    The documented pairing is mapInPandas decode (multimodal_decode)
    downstream; the staging set is bounded (200 files) because the
    SUBJECT is the connector, not the fixture's write throughput —
    file-grained sources cost O(#files) driver-side metadata, which is
    the real 100 TB design constraint (hence manifest/compaction
    keys)."""
    stage = _tmp("binfiles", sf_dir)
    os.makedirs(stage, exist_ok=True)
    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _BINFILE_N)
        .select("doc_id", "text")
        .collect()
    )
    for r in docs:
        with open(
            os.path.join(stage, f"doc_{r['doc_id']:06d}.bin"), "wb"
        ) as fh:
            fh.write(r["text"].encode("utf-8"))
    back = spark.read.format("binaryFile").load(stage)
    return back.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
        F.col("length"),
        F.lower(F.sha2(F.col("content"), 256)).alias("digest"),
    )


# ---------------------------------------------------------------------------
# sink_parquet_codecs — compression codec matrix, lossless roundtrips
# ---------------------------------------------------------------------------

_CODECS = ["zstd", "snappy", "gzip"]

_CODEC_ORACLE = " UNION ALL ".join(
    f"""SELECT '{c}' AS codec, CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)
          AS total_price
    FROM lineitem"""
    for c in _CODECS
)


@register("sink_parquet_codecs", oracle=_CODEC_ORACLE)
def sink_parquet_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec matrix: the same table written with zstd,
    snappy, and gzip, each read back and aggregate-checked lossless —
    the storage knob that decides a 100 TB table's footprint (zstd ≈
    gzip size at snappy-class speed — why it became the lakehouse
    default) exercised through the real write path, not assumed.

    Value contract: per codec, row count and the decimal-exact price
    sum must equal the source, so a codec that silently corrupts or
    drops pages fails the hash; the pytest gate additionally asserts
    the on-disk part files carry the codec's extension and that the
    codecs genuinely produce different byte sizes (i.e. the option
    reached the writer).

    Scale note: codec choice is per-write and readers auto-detect per
    page, so tables MIX codecs across files — recompression is
    rewrite-on-compact (etl_compact_small_files), never a blocking
    migration."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    outs = []
    for c in _CODECS:
        path = _tmp(f"codec_{c}", sf_dir)
        li.write.mode("overwrite").option("compression", c).parquet(path)
        back = spark.read.parquet(path)
        outs.append(
            back.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("l_extendedprice").cast("decimal(27,6)"))
                .cast("double")
                .alias("total_price"),
            ).select(F.lit(c).alias("codec"), "n_rows", "total_price")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# ---------------------------------------------------------------------------
# source_csv_quoted_multiline — CSV quoting/escaping/embedded-newline edges
# ---------------------------------------------------------------------------

_CSVQ_ORACLE = """
SELECT doc_id,
       'a,b "' || source || '"' || chr(10) || 'line2:' ||
         substr(text, 1, 40) AS payload,
       source
FROM documents WHERE doc_id < 100
"""


@register("source_csv_quoted_multiline", oracle=_CSVQ_ORACLE)
def source_csv_quoted_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV QUOTING edge semantics — payloads containing the three
    things that break naive CSV pipelines: embedded COMMAS, embedded
    DOUBLE QUOTES, and embedded NEWLINES. The write path must quote
    and escape; the read path must run in ``multiLine`` mode (without
    it, the parser treats each physical line as a record and shreds the
    quoted newline — the classic silent-corruption mode of log
    exports). The roundtrip is value-checked byte-for-byte against
    payloads the oracle constructs independently.

    Scale note (the honest trade, pinned here): multiLine CSV is NOT
    arbitrarily splittable — a record boundary can't be found mid-file
    without parsing from the start, so Spark reads each multiLine file
    as one unit. Big quoted-CSV drops must arrive as MANY files (or be
    converted to parquet at the edge); that operational rule is why
    this key exists."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    payload = F.concat(
        F.lit('a,b "'),
        F.col("source"),
        F.lit('"\nline2:'),
        F.substring("text", 1, 40),
    )
    staged = d.select("doc_id", payload.alias("payload"), "source")
    path = _tmp("csv_quoted", sf_dir)
    # TRAP found while pinning: the CSV WRITER trims leading/trailing
    # whitespace by default (ignore*WhiteSpace=true on write) — a
    # 40-char substring ending in ' ' came back 39 chars. Lossless
    # text transport must disable both.
    (
        staged.write.mode("overwrite")
        .option("header", True)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(path)
    )
    return (
        spark.read.option("header", True)
        .option("multiLine", True)
        .schema("doc_id long, payload string, source string")
        .csv(path)
    )


# ---------------------------------------------------------------------------
# etl_referential_integrity — FK orphan audit across the star schema
# ---------------------------------------------------------------------------

_RI_ORACLE = """
WITH live_cust AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0
)
SELECT 'orders->customer' AS relation,
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_facts,
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM live_cust c
                               WHERE c.c_custkey = o.o_custkey))
            AS BIGINT) AS n_orphans
UNION ALL
SELECT 'lineitem->orders',
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
            AS BIGINT)
UNION ALL
SELECT 'lineitem->part',
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey))
            AS BIGINT)
"""


@register("etl_referential_integrity", oracle=_RI_ORACLE)
def etl_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — orphaned foreign keys per relation
    (facts whose dimension row is missing): the data-quality check that
    catches late dimensions, botched deletes, and broken CDC ordering
    before a join silently drops revenue (inner joins EAT orphans —
    this key counts what those joins would lose). A deterministic
    deletion is PLANTED on the customer dimension (every 97th key
    "deleted" in-query, mirrored in the oracle) so the audit's nonzero
    path is value-checked, and the clean relations pin the zero path.

    Scale design: each relation is one LEFT ANTI join counted —
    dimension side broadcasts while small, hash-shuffles when not;
    counts combine map-side. The output is |relations| rows; adding a
    relation adds one anti-join, and at 100 TB the audits share the
    fact scans via caching or run per-partition incrementally
    (etl_partition_checksum's layout)."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    live_cust = table(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 97 != 0
    )

    def audit(name, fact, dim, fk, pk):
        n = fact.count()
        orphans = (
            fact.join(dim, fact[fk] == dim[pk], "left_anti").count()
        )
        return spark.createDataFrame(
            [(name, n, orphans)], "relation string, n_facts long, n_orphans long"
        )

    parts = [
        audit("orders->customer", o, live_cust, "o_custkey", "c_custkey"),
        audit(
            "lineitem->orders",
            li,
            o.select("o_orderkey"),
            "l_orderkey",
            "o_orderkey",
        ),
        audit(
            "lineitem->part",
            li,
            table(spark, sf_dir, "part").select("p_partkey"),
            "l_partkey",
            "p_partkey",
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# ---------------------------------------------------------------------------
# sql_ctas_overwrite — CREATE TABLE AS SELECT + INSERT OVERWRITE
# ---------------------------------------------------------------------------

_CTAS_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue
FROM orders WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
"""


@register("sql_ctas_overwrite", oracle=_CTAS_ORACLE)
def sql_ctas_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTAS + INSERT OVERWRITE — the two SQL statements every
    warehouse job scheduler is built from: CREATE TABLE AS SELECT
    materializes a derived table; INSERT OVERWRITE atomically replaces
    its contents on the next run (the idempotent-batch-job contract —
    re-running a day's job must not double-count). The key runs BOTH:
    CTAS seeds the table with a WRONG subset (status 'F'), INSERT
    OVERWRITE replaces it with the correct one ('O') — so the value
    check proves the overwrite actually replaced rather than appended
    (an append would double rows and shift every aggregate).

    Scale design: both statements are ordinary write jobs into the
    catalog location (full scan-side optimization); OVERWRITE's
    atomicity comes from staging-then-swap at the storage layer —
    partition-scoped overwrite (etl_backfill_partition_overwrite) is
    the incremental refinement."""
    import shutil

    loc = _tmp("catalog_wh", sf_dir)
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS trireme_cat LOCATION '{loc}'"
    )
    spark.sql("DROP TABLE IF EXISTS trireme_cat.prio_rollup")
    shutil.rmtree(os.path.join(loc, "prio_rollup"), ignore_errors=True)
    table(spark, sf_dir, "orders").createOrReplaceTempView(
        "trireme_orders_ctas"
    )
    spark.sql(
        """
        CREATE TABLE trireme_cat.prio_rollup USING PARQUET AS
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
                 AS revenue
        FROM trireme_orders_ctas WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
        """
    )
    spark.sql(
        """
        INSERT OVERWRITE trireme_cat.prio_rollup
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
                 AS revenue
        FROM trireme_orders_ctas WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority
        """
    )
    return spark.table("trireme_cat.prio_rollup")


# ---------------------------------------------------------------------------
# source_cassandra_cell_lww — per-CELL last-write-wins snapshot merge
# ---------------------------------------------------------------------------

_CELL_LWW_ORACLE = """
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price,
         1000 AS status_wt, 1000 AS price_wt
  FROM orders
),
upd AS (
  SELECT o_orderkey AS k, 'R' AS status, o_totalprice * 1.1 AS price,
         CASE WHEN o_orderkey % 3 = 0 THEN 2000 ELSE 500 END AS status_wt,
         CASE WHEN o_orderkey % 5 = 0 THEN 2000 ELSE 500 END AS price_wt
  FROM orders WHERE o_orderkey % 2 = 0
),
u AS (SELECT * FROM base UNION ALL SELECT * FROM upd)
SELECT k AS o_orderkey,
       MAX(CASE WHEN status_wt = m_swt THEN status END) AS status,
       ROUND(MAX(CASE WHEN price_wt = m_pwt THEN price END), 4) AS price,
       CAST(m_swt AS BIGINT) AS status_writetime,
       CAST(m_pwt AS BIGINT) AS price_writetime
FROM (
  SELECT u.*, MAX(status_wt) OVER (PARTITION BY k) AS m_swt,
         MAX(price_wt) OVER (PARTITION BY k) AS m_pwt
  FROM u
)
GROUP BY k, m_swt, m_pwt
"""


@register("source_cassandra_cell_lww", oracle=_CELL_LWW_ORACLE)
def source_cassandra_cell_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cassandra CELL-level last-write-wins reconciliation — the
    reference's source semantics at its most granular: every column of
    a row carries its own writetime, and merging two SSTable
    dumps/snapshots must pick the newest value PER CELL, not per row (a
    row-level merge silently resurrects stale cells whenever different
    columns were updated at different times — the classic
    Cassandra-export bug). Emulated with a planted update snapshot:
    even keys get an update whose status/price writetimes land newer or
    older per a deterministic schedule, so the merged row mixes cells
    from BOTH snapshots exactly where it should.

    Scale design: union + one key-partitioned max per cell column
    (max_by is the agg form; the window form here keeps the per-cell
    writetime visible in the output for auditability) — one shuffle on
    the row key, linear in cells."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit(1000).alias("status_wt"),
        F.lit(1000).alias("price_wt"),
    )
    upd = o.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("R").alias("status"),
        (F.col("o_totalprice") * 1.1).alias("price"),
        F.when(F.col("o_orderkey") % 3 == 0, 2000)
        .otherwise(500)
        .alias("status_wt"),
        F.when(F.col("o_orderkey") % 5 == 0, 2000)
        .otherwise(500)
        .alias("price_wt"),
    )
    u = base.unionByName(upd)
    return u.groupBy("k").agg(
        F.max_by("status", "status_wt").alias("status"),
        F.round(F.max_by("price", "price_wt"), 4).alias("price"),
        F.max("status_wt").cast("long").alias("status_writetime"),
        F.max("price_wt").cast("long").alias("price_writetime"),
    ).select(
        F.col("k").alias("o_orderkey"),
        "status",
        "price",
        "status_writetime",
        "price_writetime",
    )


# ---------------------------------------------------------------------------
# sink_solr_atomic_updates — Solr-style set/inc atomic update folding
# ---------------------------------------------------------------------------

_ATOMIC_UPD_ORACLE = """
WITH ops AS (
  SELECT o_orderkey AS id, 1 AS seq, 'set' AS op,
         o_totalprice AS val
  FROM orders
  UNION ALL
  SELECT o_orderkey, 2, 'inc', 10.0 FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, 3, 'set', 500.0 FROM orders WHERE o_orderkey % 6 = 0
  UNION ALL
  SELECT o_orderkey, 4, 'inc', -3.5 FROM orders WHERE o_orderkey % 3 = 0
),
last_set AS (
  SELECT id, MAX(CASE WHEN op = 'set' THEN seq END) AS ls FROM ops
  GROUP BY id
)
SELECT o.id AS o_orderkey,
       ROUND(MAX(CASE WHEN o.seq = s.ls THEN o.val END)
             + COALESCE(SUM(CASE WHEN o.op = 'inc' AND o.seq > s.ls
                                 THEN o.val END), 0), 4) AS final_value,
       CAST(COUNT(*) AS BIGINT) AS n_ops
FROM ops o JOIN last_set s ON o.id = s.id
GROUP BY o.id
"""


@register("sink_solr_atomic_updates", oracle=_ATOMIC_UPD_ORACLE)
def sink_solr_atomic_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ATOMIC UPDATE folding — the sink-side semantics the
    reference's upsert path needs when updates are partial: a stream of
    per-document {set, inc} operations (ordered by sequence) must fold
    to the same final field value Solr would hold after applying them
    one-by-one. The declarative identity: final = (value of the LAST
    set) + (sum of incs AFTER that set) — no per-row iteration, no
    UDF, order captured entirely by the seq comparison. The planted op
    log exercises every interleaving: inc-after-set, set-overriding-
    incs, multiple sets, trailing negative incs.

    Scale design: ONE id-keyed shuffle total. The planted op log
    materializes in one corpus pass (per-id entry array + explode — the
    4-leg filtered self-union it replaces re-read orders four times,
    and its two consumers re-read THAT, 8 scans in the formatted plan);
    each doc's last set comes from an id-partitioned window whose
    exchange the final id-keyed fold agg then REUSES (same key, same
    width — guide §2.4), replacing the old agg + equi-join pair. This
    is exactly how a Spark job compacts a CDC/op log before a bulk Solr
    reindex, replacing millions of atomic-update round-trips with one
    upsert per doc."""
    o = table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")

    def _op(seq, op, val):
        return F.struct(
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
            val.cast("double").alias("val"),
        )

    entries = F.concat(
        F.array(_op(1, "set", F.col("o_totalprice"))),
        F.when(k % 2 == 0, F.array(_op(2, "inc", F.lit(10.0))))
        .otherwise(F.array().cast("array<struct<seq:int,op:string,val:double>>")),
        F.when(k % 6 == 0, F.array(_op(3, "set", F.lit(500.0))))
        .otherwise(F.array().cast("array<struct<seq:int,op:string,val:double>>")),
        F.when(k % 3 == 0, F.array(_op(4, "inc", F.lit(-3.5))))
        .otherwise(F.array().cast("array<struct<seq:int,op:string,val:double>>")),
    )
    ops = o.select(k.alias("id"), F.explode(entries).alias("e")).select(
        "id", "e.seq", "e.op", "e.val"
    )
    # every id has the seq-1 set, so the old inner join on last_set kept
    # every ops row — the id-partitioned window computes the identical
    # per-id ls without the second aggregate or the join
    ls = F.max(
        F.when(F.col("op") == "set", F.col("seq"))
    ).over(Window.partitionBy("id"))
    return (
        ops.withColumn("ls", ls)
        .groupBy("id")
        .agg(
            F.round(
                F.max(F.when(F.col("seq") == F.col("ls"), F.col("val")))
                + F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("op") == "inc")
                            & (F.col("seq") > F.col("ls")),
                            F.col("val"),
                        )
                    ),
                    F.lit(0.0),
                ),
                4,
            ).alias("final_value"),
            F.count(F.lit(1)).cast("long").alias("n_ops"),
        )
        .select(
            F.col("id").alias("o_orderkey"), "final_value", "n_ops"
        )
    )


# ---------------------------------------------------------------------------
# source_cassandra_tombstones — delete markers + gc_grace purge semantics
# ---------------------------------------------------------------------------

_TOMBSTONE_ORACLE = """
WITH live AS (
  SELECT o_orderkey AS k, o_totalprice AS price, 1000 AS wt,
         FALSE AS is_tombstone
  FROM orders
),
dels AS (
  SELECT o_orderkey AS k, CAST(NULL AS DOUBLE) AS price,
         CASE WHEN o_orderkey % 4 = 0 THEN 2000 ELSE 500 END AS wt,
         TRUE AS is_tombstone
  FROM orders WHERE o_orderkey % 2 = 0
),
u AS (SELECT * FROM live UNION ALL SELECT * FROM dels),
win AS (
  SELECT k, price, wt, is_tombstone,
         MAX(wt) OVER (PARTITION BY k) AS m_wt
  FROM u
),
merged AS (
  SELECT k,
         MAX(CASE WHEN wt = m_wt THEN price END) AS price,
         BOOL_OR(CASE WHEN wt = m_wt THEN is_tombstone END) AS dead,
         m_wt
  FROM win GROUP BY k, m_wt
)
SELECT k AS o_orderkey,
       CASE WHEN dead THEN NULL ELSE price END AS price,
       dead AS deleted,
       CAST(dead AND m_wt < 1500 AS BOOLEAN) AS purgeable
FROM merged
"""


@register("source_cassandra_tombstones", oracle=_TOMBSTONE_ORACLE)
def source_cassandra_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cassandra TOMBSTONE semantics — the delete half of the LWW merge
    (source_cassandra_cell_lww is the update half): a delete is a
    MARKER cell with its own writetime; it suppresses any older write
    of the same cell but LOSES to a newer one (the planted schedule
    exercises both: %4 keys' tombstones are newest → row reads as
    deleted; other even keys' tombstones are older than the live write
    → the data survives). Tombstones older than gc_grace (wt < 1500
    here) are additionally flagged purgeable — the compaction decision
    that keeps an export from resurrecting deleted data on a node that
    missed the delete.

    Scale design: identical shape to the LWW merge — union + one
    key-partitioned newest-cell resolution; the gc_grace flag is pure
    row algebra on the merged result."""
    o = table(spark, sf_dir, "orders")
    live = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.lit(1000).alias("wt"),
        F.lit(False).alias("is_tombstone"),
    )
    dels = o.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit(None).cast("double").alias("price"),
        F.when(F.col("o_orderkey") % 4 == 0, 2000)
        .otherwise(500)
        .alias("wt"),
        F.lit(True).alias("is_tombstone"),
    )
    u = live.unionByName(dels)
    merged = u.groupBy("k").agg(
        F.max_by("price", "wt").alias("price"),
        F.max_by("is_tombstone", "wt").alias("dead"),
        F.max("wt").alias("m_wt"),
    )
    return merged.select(
        F.col("k").alias("o_orderkey"),
        F.when(F.col("dead"), F.lit(None).cast("double"))
        .otherwise(F.col("price"))
        .alias("price"),
        F.col("dead").alias("deleted"),
        (F.col("dead") & (F.col("m_wt") < 1500)).alias("purgeable"),
    )
