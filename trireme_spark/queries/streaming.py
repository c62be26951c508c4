"""Streaming query keys (SURVEY.md §2.9, t1–t7).

Oracle strategy (SURVEY.md §2.9): the window/dedup/session keys register
their *batch-equivalent* form — the exact same builder functions from
:mod:`trireme_spark.streaming.builders` applied to the batch events table —
so the driver hash-checks the semantics against DuckDB, while
``tests/test_streaming.py`` replays the same builders through a real
file-source stream (``trigger(availableNow=True)``, multi-file staging,
``maxFilesPerTrigger=1``) and asserts stream == batch. The genuinely
stateful keys (t4 watermark, t6 arbitrary state, t7 foreachBatch sink) RUN
a real streaming query right here; t6 still oracle-checks because its final
running counts are deterministic.

Scale notes: every stateful operator here has bounded state — windows and
dedup keys expire with the watermark, session windows close after the gap,
the t6 counter holds one long per user. Nothing buffers the stream.
"""

from __future__ import annotations

import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trireme_spark.parity import oracle_sum
from trireme_spark.registry import register
from trireme_spark.sources.io import table
from trireme_spark.streaming.builders import (
    chained_window_peaks,
    dedup_by_key,
    hourly_distinct_users,
    events_stream_staged,
    run_to_memory,
    session_windows,
    sliding_counts,
    stage_events_files,
    stateful_user_counts,
    tumbling_counts,
)

@contextmanager
def _fixture_stream_width(spark: SparkSession, width: int = 8):
    """Stage a state-store-sized shuffle width for a REAL micro-batch
    replay, restore after (t13's conf-staging discipline, applied r15 to
    every real-stream key; guide §5). State-store commits cost
    O(partitions × micro-batches) in files and store instances; the
    session-wide 32 partitions are pure overhead at fixture key
    cardinality (150 users / 10 buckets / hour×type windows). At cluster
    scale this knob goes UP with key cardinality — it is a replay-
    overhead trim, never a correctness input (stateful results are
    partition-count invariant; the layout-invariance suite pins that).
    """
    try:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        staged = True
    except Exception:
        # immutable in some environments (prep()'s tolerated path, and
        # the layout-invariance suite simulates it): run at whatever
        # count the session carries.
        staged = False
    try:
        yield
    finally:
        if staged:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


_T1_ORACLE = f"""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*) AS n,
       {oracle_sum('value')} AS sum_value
FROM events
GROUP BY 1, 2
"""


@register("stream_tumbling", oracle=_T1_ORACLE)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t1 — 1-hour tumbling count+sum per event_type (batch-equivalent of
    the streaming builder; replayed as a real stream in tests)."""
    return tumbling_counts(table(spark, sf_dir, "events"))


_T2_ORACLE = """
SELECT make_timestamp(
         (CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - o.off) * 1000000
       ) AS window_start,
       event_type,
       count(*) AS n
FROM events, (VALUES (0), (900), (1800), (2700)) AS o(off)
GROUP BY 1, 2
"""


@register("stream_sliding", oracle=_T2_ORACLE)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t2 — 1-hour windows sliding every 15 min: each event lands in 4
    windows. Oracle generates the same 4 epoch-aligned starts per event
    (Spark's window grid and DuckDB's epoch grid coincide: both are
    multiples of 900 s)."""
    return sliding_counts(table(spark, sf_dir, "events"))


_T3_ORACLE = """
WITH x AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), y AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (
           PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
         ) AS sid
  FROM x
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM y
GROUP BY user_id, sid
"""


@register("stream_session", oracle=_T3_ORACLE)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t3 — per-user session windows, 30-min inactivity gap. Oracle is the
    gaps-and-islands form; `>=` matches Spark's exclusive window end (an
    event exactly at last+gap starts a new session). Verified: no exact
    30-min gaps exist in the fixture, so the boundary can't bite."""
    return session_windows(table(spark, sf_dir, "events"))


_T5_ORACLE = """
SELECT event_id, ts, user_id, event_type, value FROM events
"""


@register("stream_dedup", oracle=_T5_ORACLE)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t5 — exactly-once by event_id. The fixture's event_ids are unique, so
    duplicates are manufactured (union the table with itself — identical
    rows, so any survivor is deterministic); dedup must collapse it back to
    exactly the original table. Streaming replay uses
    dropDuplicatesWithinWatermark over the same duplicated input."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return dedup_by_key(ev.unionByName(ev))


_T6_ORACLE = """
SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
"""


@register("stream_stateful", oracle=_T6_ORACLE)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t6 — REAL arbitrary-stateful streaming (applyInPandasWithState):
    running per-user counter over a 4-file replay, one file per micro-batch.
    The memory sink (update mode) holds every intermediate running count;
    the final count per user = max — deterministic, so this genuinely
    streaming query still hash-matches a plain GROUP BY oracle."""
    staged = stage_events_files(spark, sf_dir, n_files=4, tag="shared")
    ev = events_stream_staged(spark, staged, max_files_per_trigger=1)
    with _fixture_stream_width(spark):
        updates = run_to_memory(stateful_user_counts(ev), mode="update")
    return updates.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


_T4_ORACLE = f"""
WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*) AS n,
       {oracle_sum('value')} AS sum_value
FROM events, wm
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
GROUP BY 1, 2
"""


@register("stream_watermark_late", oracle=_T4_ORACLE)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t4 — 10-min watermark, append mode: windows are emitted only once
    finalized, and rows older than the watermark are dropped. The late-row
    drop itself is asserted in tests/test_streaming.py.

    The replay IS oracle-checkable: staged files are range-partitioned on
    ts with disjoint ranges (builders.stage_events_files), so no row ever
    arrives behind the watermark and the append-mode output is exactly the
    deterministic set of windows finalized by the FINAL watermark
    (max event time - 10 min) — i.e. window_end <= final watermark. The
    boundary operator cannot bite: window ends are hour-aligned while the
    watermark carries the fixture's sub-second max ts."""
    staged = stage_events_files(spark, sf_dir, n_files=4, tag="shared")
    ev = events_stream_staged(spark, staged, max_files_per_trigger=1)
    agg = tumbling_counts(ev, watermark="10 minutes")
    with _fixture_stream_width(spark):
        return run_to_memory(agg, mode="append")


_T7_ORACLE = """
SELECT event_type, count(*) AS n FROM events GROUP BY event_type
"""


@register("stream_foreachbatch_sink", oracle=_T7_ORACLE)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t7 — micro-batch upsert into a parquet dir via foreachBatch.

    Pattern: each micro-batch appends with its batch_id (exactly-once via
    the streaming commit log + idempotent path-per-batch), and readers
    compact with last-write-wins per key — the classic append-log + merge
    shape you'd hand to Delta/Iceberg MERGE INTO on a real lakehouse; plain
    parquet here keeps the container dependency-free."""
    staged = stage_events_files(spark, sf_dir, n_files=4, tag="shared")
    from trireme_spark.sources.io import staging_dir

    out = staging_dir("t7_sink")
    ckpt = staging_dir("t7_ckpt")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    ev = events_stream_staged(spark, staged, max_files_per_trigger=1)
    q = (
        ev.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from pyspark.sql.window import Window

    sunk = spark.read.parquet(out)
    w = Window.partitionBy("event_id").orderBy(F.col("batch_id").desc())
    return (
        sunk.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_T8_ORACLE = """
SELECT c.user_id,
       c.event_id AS click_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts,
       p.value AS purchase_value
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


@register("stream_stream_join", oracle=_T8_ORACLE)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t8 — stream-stream join, batch-equivalent form (same builder
    replayed as two real watermarked streams in tests/test_streaming.py).
    The event-time range conjunct is what bounds join state on real
    streams — without it Spark must buffer a side forever."""
    from trireme_spark.streaming.builders import click_purchase_join

    return click_purchase_join(table(spark, sf_dir, "events"))


_T9_ORACLE = """
SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.event_type
FROM events e JOIN customer c ON e.user_id = c.c_custkey
"""


@register("stream_static_join", oracle=_T9_ORACLE)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t9 — stream-static dimension enrichment: a REAL micro-batch replay
    of the events stream joins the static customer table per batch. The
    state-free streaming join (no watermark, no buffered side — the
    batch side re-resolves each trigger, which is also how dimension
    UPDATES become visible mid-stream on a real pipeline).

    Scale design: the static side is a dimension, so every micro-batch
    gets a broadcast hash join — zero shuffle of the stream; at 100 TB of
    stream the per-batch cost is the batch itself, nothing accumulates."""
    staged = stage_events_files(spark, sf_dir, n_files=4, tag="shared")
    ev = events_stream_staged(spark, staged, max_files_per_trigger=1)
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    joined = ev.join(
        F.broadcast(cust), ev.user_id == cust.c_custkey, "inner"
    ).select("event_id", "user_id", "c_name", "c_mktsegment", "event_type")
    return run_to_memory(joined, mode="append")


# ---------------------------------------------------------------------------
# t10 — transformWithStateInPandas (Spark 4's flagship stateful API),
# registered ONLY where it can actually run: its Python state server
# needs a healthy protobuf install (this container's lacks the C
# descriptor module). In a healthy env the key registers and the driver
# grades it against the same GROUP BY oracle as t6; here it is cleanly
# absent instead of red. t6 (applyInPandasWithState) keeps arbitrary
# state covered everywhere.
# ---------------------------------------------------------------------------

from trireme_spark.streaming.builders import (  # noqa: E402
    transform_with_state_user_counts,
    tws_available,
)

if tws_available():

    @register("stream_transform_with_state", oracle=_T6_ORACLE)
    def stream_transform_with_state(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """t10 — running per-user counts via transformWithStateInPandas
        (typed value state on the RocksDB store), replayed over a 4-file
        micro-batch stream exactly like t6; final counts are
        deterministic, so the update-mode memory sink's max per user
        hash-matches the plain GROUP BY oracle."""
        staged = stage_events_files(spark, sf_dir, n_files=4, tag="tws")
        ev = events_stream_staged(spark, staged, max_files_per_trigger=1)
        with _fixture_stream_width(spark):
            updates = run_to_memory(
                transform_with_state_user_counts(ev), mode="update"
            )
        return updates.groupBy("user_id").agg(
            F.max("n_events").alias("n_events")
        )


_T11_ORACLE = f"""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*) AS n,
       {oracle_sum('value')} AS sum_value
FROM events
GROUP BY 1, 2
"""


@register("stream_complete_mode", oracle=_T11_ORACLE)
def stream_complete_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t11 — COMPLETE output mode over a real 4-file micro-batch replay:
    the third of the three output modes (t4 pins append, t6 update).
    Complete re-emits the ENTIRE aggregate each trigger, so the memory
    sink's final state is exactly the full tumbling aggregate and
    hash-matches the plain GROUP BY oracle with no watermark dance.

    Scale design: complete mode keeps every group in the state store and
    re-emits all of them per trigger — correct only while the aggregate
    is dimension-sized (hour × event_type here). The docstring IS the
    contract: corpus-keyed aggregates belong in update/append mode;
    complete is for small live dashboards."""
    staged = stage_events_files(spark, sf_dir, n_files=4, tag="shared")
    ev = events_stream_staged(spark, staged, max_files_per_trigger=1)
    agg = tumbling_counts(ev)  # no watermark: complete mode retains all
    with _fixture_stream_width(spark):
        return run_to_memory(agg, mode="complete")


_T12_ORACLE = """
WITH src AS (
  SELECT i AS record_id, CAST(i % 10 AS INTEGER) AS bucket,
         ((i % 2147483648) * 2654435761) % 4294967296 AS value
  FROM range(2000) t(i)
)
SELECT bucket, COUNT(*) AS n, CAST(SUM(value) AS BIGINT) AS value_sum
FROM src GROUP BY bucket
"""


@register("stream_python_datasource", oracle=_T12_ORACLE)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t12 — custom PYTHON streaming source (Spark 4
    ``SimpleDataSourceStreamReader``): an offset-managed micro-batch
    feed (the queue-consumer shape) drained by availableNow through a
    stateful aggregation. The engine checkpoints the source-returned
    offsets; replay between committed offsets is deterministic, so the
    final complete-mode aggregate hash-matches the arithmetic oracle —
    the exactly-once contract, value-checked through a source WE wrote.

    Scale design: offsets are O(1) driver state; rows flow executor-
    side; the aggregation is the ordinary partial+final over a
    10-bucket dimension. A real consumer swaps _rows() for client
    fetches — the offset/commit plumbing is unchanged."""
    from trireme_spark.sources.pydatasource import TickStreamSource

    spark.dataSource.register(TickStreamSource)
    stream = spark.readStream.format("trireme_ticks").load()
    agg = stream.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("value_sum"),
    )
    with _fixture_stream_width(spark):
        return run_to_memory(agg, mode="complete")


# ---------------------------------------------------------------------------
# t13 — event-time TIMEOUT path of arbitrary stateful processing
# ---------------------------------------------------------------------------

_T13_ORACLE = """
WITH s AS (
  SELECT user_id, epoch_us(ts) AS us,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), i AS (
  SELECT user_id, us,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
)
SELECT user_id, MIN(us) AS session_start_us, MAX(us) AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM i GROUP BY user_id, sid
"""


@register("stream_stateful_timeout", oracle=_T13_ORACLE)
def stream_stateful_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t13 — REAL streaming run of the EVENT-TIME TIMEOUT path
    (``GroupStateTimeout.EventTimeTimeout`` + ``state.hasTimedOut``):
    per-user sessions that close either on an in-data gap or when the
    WATERMARK passes the open session's end + 30 min — the state-
    eviction mechanism t6 (NoTimeout) never exercises, and the one
    that bounds state under users who go quiet forever.

    The replay appends two SENTINEL files (far-future watermark
    drivers): file 1 advances the watermark past every real session's
    deadline; file 2 triggers the batch where those timeouts actually
    FIRE — timeouts fire in the batch AFTER the watermark moves, the
    off-by-one every event-time-timeout consumer hits (builders.py
    documents it). Every real session therefore emits through either
    the gap path or the timeout path, and the result is EXACTLY the
    batch gaps-and-islands oracle — hash-checked, not approximated.

    Scale: state is (start, last, n) per ACTIVE user only (timed-out
    keys are removed), watermark-bounded — the 100 TB-safe shape."""
    from trireme_spark.streaming.builders import (
        stage_events_files_with_sentinels,
        stateful_sessions_event_timeout,
    )

    staged = stage_events_files_with_sentinels(spark, sf_dir)
    stream = events_stream_staged(spark, staged)
    # Conf-staging discipline shared with every real-stream key (r15
    # extracted it into _fixture_stream_width; same 8 as before).
    with _fixture_stream_width(spark):
        out = run_to_memory(
            stateful_sessions_event_timeout(stream), mode="append"
        )
    return out.where(F.col("user_id") >= 0)


# ---------------------------------------------------------------------------
# t14 — stream-stream LEFT OUTER join (watermark-driven null emission)
# ---------------------------------------------------------------------------

_T14_ORACLE = """
SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
       p.ts AS purchase_ts, p.value AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


@register("stream_stream_left_outer", oracle=_T14_ORACLE)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t14 — stream-stream LEFT OUTER join: every click emits, matched
    or not — but on a real stream the NULL row for an unmatched click
    can only emit once the purchase-side WATERMARK proves no match can
    still arrive (before that, "no match yet" is indistinguishable
    from "match in flight"). That deferred-null mechanism is the
    semantic difference from t8's inner join, where unmatched rows
    simply never appear; get the watermark wrong and outer results are
    silently incomplete — which is why this is its own key.

    Batch-equivalent form here (the oracle is the plain left join with
    the range conjunct — on a COMPLETE input every deferral resolves);
    tests/test_streaming.py replays the same builder as two
    watermarked streams and asserts stream == batch, null rows
    included. State bound: each side holds rows only until the other
    side's watermark passes ts + 1 hour, same as t8."""
    from trireme_spark.streaming.builders import click_purchase_join

    return click_purchase_join(
        table(spark, sf_dir, "events"), how="leftOuter"
    )


# --- r11 cadence-batch streaming keys (r12 grading window) ------------------
# Registered under the post-428 cadence (SURVEY round-11 log): the two
# multiple-stateful-operator surfaces Spark 3.4/3.5 added — chained
# event-time window aggregation, and the dedup-then-count rewrite that
# makes exact streaming COUNT(DISTINCT) legal. Same contract as t1-t3:
# the registered form is the batch-equivalent of the shared builder;
# tests/test_streaming.py replays the SAME builder through a real
# multi-file stream (watermark + append mode, as the
# multiple-stateful-operator rule requires) and asserts stream == batch
# on the watermark-finalized prefix.

_CHAINED_ORACLE = """
WITH s1 AS (
  SELECT make_timestamp(
           (CAST(floor(epoch(ts) / 900) AS BIGINT) * 900) * 1000000
         ) AS w15,
         event_type,
         CAST(COUNT(*) AS BIGINT) AS n15
  FROM events
  GROUP BY 1, 2
)
SELECT make_timestamp(
         (CAST(floor(epoch(w15) / 3600) AS BIGINT) * 3600) * 1000000
       ) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_subwindows,
       CAST(MAX(n15) AS BIGINT) AS peak_15m,
       CAST(SUM(n15) AS BIGINT) AS total
FROM s1
GROUP BY 1, 2
"""


@register("stream_chained_time_windows", oracle=_CHAINED_ORACLE)
def stream_chained_time_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained time-window aggregation — 15-min sub-counts rolled into
    hourly n/peak/total per event_type (batch-equivalent of the
    streaming builder; replayed as a real two-stateful-operator stream
    in tests)."""
    return chained_window_peaks(table(spark, sf_dir, "events"))


_DISTINCT_USERS_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1
"""


@register("stream_windowed_distinct_users", oracle=_DISTINCT_USERS_ORACLE)
def stream_windowed_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact distinct users per hour via the streaming-legal two-stage
    rewrite (event-time dedup, then count) — batch-equivalent form;
    the real dedup-state + agg-state stream runs in tests."""
    return hourly_distinct_users(table(spark, sf_dir, "events"))


# --- stream_session_dynamic_gap ----------------------------------------------
# Staged under the cadence rule (SURVEY round-11 log): built and
# oracle-verified this round, decorator flips at the r12 rotation once
# the r12 window is pinned. Dynamic-gap session windows are the Spark
# surface stream_session (fixed 30-min gap) does not exercise:
# F.session_window(ts, gap_EXPRESSION) — per-event gaps, sessions merge
# while each event's [ts, ts+gap) window overlaps the running union.

_DYN_GAP_ORACLE = """
WITH g AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'error'
              THEN INTERVAL 5 MINUTE ELSE INTERVAL 30 MINUTE END AS gap
  FROM events
), x AS (
  SELECT user_id, ts, event_id, event_type, gap,
         MAX(ts + gap) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS rm
  FROM g
), y AS (
  SELECT user_id, ts, event_type, gap,
         SUM(CASE WHEN rm IS NULL OR ts >= rm THEN 1 ELSE 0 END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING
         ) AS sid
  FROM x
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts + gap) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT)
         AS n_errors
FROM y
GROUP BY user_id, sid
"""


@register("stream_session_dynamic_gap", oracle=_DYN_GAP_ORACLE)
def stream_session_dynamic_gap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user sessions with a PER-EVENT gap: error events hold the
    session open 5 minutes, everything else 30 — the adaptive-timeout
    sessionization ``F.session_window(ts, gap_expr)`` exists for.
    An event at exactly the running session end starts a NEW session
    (window ends are exclusive).

    Scale design: the batch form is one session_window aggregation —
    a single user-keyed shuffle with Spark's native merging-session
    iterator (no self-join, no window-then-agg double shuffle); in
    streaming the same expression runs with a watermark and the state
    store merges sessions incrementally. The ORACLE mirrors the merge
    semantics relationally: running MAX(ts+gap) over the user's prior
    events (frame ... AND 1 PRECEDING), a new session whenever ts
    reaches it, cumulative-sum session ids — the lag/flag rewrite of
    stream_session generalized from constant to expression gaps.

    Cross-engine parity: timestamps are exact microseconds, gaps are
    literal intervals, session bounds are MIN/MAX of exact values, and
    the (ts, event_id) order key makes the running max tie-free.
    """
    ev = table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "error", F.lit("5 minutes")
    ).otherwise(F.lit("30 minutes"))
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count_if(F.col("event_type") == "error")
            .cast("long")
            .alias("n_errors"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "n_errors",
        )
    )
