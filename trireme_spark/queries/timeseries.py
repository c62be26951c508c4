"""Time-series keys (round-2 addendum): gap-filling resample and
single-pass multi-grain rollup — the hypertable-style operations of a
metrics/events store.

Scale shapes: the resample spine is |users| × |hours| rows generated
in-plan (a 1-row bounds aggregate exploded into the hour series, then a
broadcast cross join — never collected to the driver); forward-fill is
one window per user. The rollup computes every grain in ONE scan + ONE
shuffle by exploding each row into its (grain, bucket) memberships —
at 100 TB this halves the scan cost vs a UNION of per-grain aggregates
and keeps partial aggregation effective (grain is part of the group key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trireme_spark.parity import (
    DSCALE,
    dsum,
    dsum_wide,
    fquant,
    meta_part,
    oracle_pico_sum,
    oracle_sum,
    pico_sum,
)
from trireme_spark.registry import register
from trireme_spark.sources.io import table

_RESAMPLE_ORACLE = f"""
WITH b AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
),
h AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b),
u AS (SELECT DISTINCT user_id FROM events),
agg AS (
  SELECT user_id, date_trunc('hour', ts) AS hr,
         {oracle_sum('value')} AS v
  FROM events GROUP BY 1, 2
)
SELECT u.user_id, h.hr, a.v,
       last_value(a.v IGNORE NULLS) OVER (
         PARTITION BY u.user_id ORDER BY h.hr
         ROWS UNBOUNDED PRECEDING) AS v_ff
FROM u CROSS JOIN h
LEFT JOIN agg a ON a.user_id = u.user_id AND a.hr = h.hr
"""


@register("ts_resample_fill", oracle=_RESAMPLE_ORACLE)
def ts_resample_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample with forward fill: every (user, hour) cell over the
    corpus time range, hourly sums where events exist, last-known value
    carried forward through gaps (leading gaps stay NULL).

    The hour spine comes from a 1-row min/max aggregate exploded into a
    sequence — plan-side generation, nothing collected. The spine
    broadcast-joins the distinct users (|hours| is dimension-sized at any
    corpus scale: a decade is <90k rows); fill is one window per user."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg(dsum("value").alias("v"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("hr")
    )
    users = ev.select("user_id").distinct()
    spine = users.crossJoin(F.broadcast(hours))
    joined = spine.join(hourly, ["user_id", "hr"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "hr",
        "v",
        F.last("v", ignorenulls=True).over(w).alias("v_ff"),
    )


_ROLLUP_ORACLE = f"""
SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket, event_type,
       count(*) AS n, {oracle_sum('value')} AS sum_value
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'day' AS grain, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
       event_type, count(*) AS n, {oracle_sum('value')} AS sum_value
FROM events GROUP BY 2, 3
"""


@register("ts_rollup_multigrain", oracle=_ROLLUP_ORACLE)
def ts_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour + day rollups in a single scan: each event explodes into its
    two (grain, bucket) memberships, then one keyed aggregation covers
    both grains (grain joins the group key, so partial aggregation still
    combines map-side). The oracle is the equivalent two-scan UNION ALL;
    DuckDB's day-grain date_trunc returns DATE, so it's cast back to
    TIMESTAMP to mirror Spark's type."""
    ev = table(spark, sf_dir, "events")
    g = F.explode(
        F.array(
            F.struct(
                F.lit("hour").alias("grain"),
                F.date_trunc("hour", "ts").alias("bucket"),
            ),
            F.struct(
                F.lit("day").alias("grain"),
                F.date_trunc("day", "ts").alias("bucket"),
            ),
        )
    ).alias("g")
    return (
        ev.select(g, "event_type", "value")
        .groupBy(
            F.col("g.grain").alias("grain"),
            F.col("g.bucket").alias("bucket"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
    )


_FUNNEL_ORACLE = """
WITH s AS (
    SELECT user_id, MIN(ts) AS signup_ts
    FROM events WHERE event_type = 'signup' GROUP BY user_id
), c AS (
    SELECT e.user_id, MIN(e.ts) AS click_ts
    FROM events e JOIN s USING (user_id)
    WHERE e.event_type = 'click' AND e.ts > s.signup_ts
    GROUP BY e.user_id
), p AS (
    SELECT e.user_id, MIN(e.ts) AS purchase_ts
    FROM events e JOIN c USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
    GROUP BY e.user_id
)
SELECT s.user_id, s.signup_ts, c.click_ts, p.purchase_ts,
       1 + CASE WHEN c.click_ts IS NULL THEN 0 ELSE 1 END
         + CASE WHEN p.purchase_ts IS NULL THEN 0 ELSE 1 END AS funnel_stage
FROM s
LEFT JOIN c ON s.user_id = c.user_id
LEFT JOIN p ON s.user_id = p.user_id
"""


@register("events_funnel", oracle=_FUNNEL_ORACLE)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup → first later click → first later
    purchase) per user, with the stage reached. Each funnel step is one
    keyed aggregation joined to the previous step's anchor time — three
    shuffles on user_id total, no windows over the whole event stream,
    no per-user iteration. At 100 TB each step's join keys on the same
    user_id, so AQE coalesces these into co-partitioned exchanges."""
    ev = table(spark, sf_dir, "events")

    def first_after(etype: str, anchor: DataFrame, anchor_col: str,
                    out_col: str) -> DataFrame:
        e = ev.where(F.col("event_type") == etype).alias("e")
        return (
            e.join(anchor, "user_id")
            .where(F.col("e.ts") > F.col(anchor_col))
            .groupBy("user_id")
            .agg(F.min("e.ts").alias(out_col))
        )

    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    c = first_after("click", s, "signup_ts", "click_ts")
    p = first_after("purchase", c, "click_ts", "purchase_ts")
    stage = (
        F.lit(1)
        + F.when(F.col("click_ts").isNull(), 0).otherwise(1)
        + F.when(F.col("purchase_ts").isNull(), 0).otherwise(1)
    )
    return (
        s.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id", "signup_ts", "click_ts", "purchase_ts",
            stage.alias("funnel_stage"),
        )
    )


_SCD2_ORACLE = """
SELECT user_id, value AS attr_value, ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           AS is_current,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS version
FROM events
WHERE event_type = 'signup'
"""


@register("etl_scd2_dimension", oracle=_SCD2_ORACLE)
def etl_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: each attribute change
    (here: signup events as the change stream) becomes a versioned row
    with [valid_from, valid_to) effectivity and a current flag — the
    standard warehouse dimension-history pattern, derivable with one
    keyed window pass (no self-join). At 100 TB this is one shuffle on
    the dimension key; the window state is O(1) per row."""
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type") == "signup"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("value").alias("attr_value"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
        F.row_number().over(w).alias("version"),
    )


# ---------------------------------------------------------------------------
# events_retention_cohorts — cohort retention matrix
# ---------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH first AS (
  SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
  FROM events GROUP BY user_id
), sizes AS (
  SELECT cohort_day, COUNT(*) AS cohort_size FROM first GROUP BY cohort_day
), act AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS act_day FROM events
)
SELECT f.cohort_day,
       date_diff('day', f.cohort_day, a.act_day) AS day_offset,
       COUNT(DISTINCT a.user_id) AS active_users,
       s.cohort_size,
       ROUND(CAST(COUNT(DISTINCT a.user_id) AS DOUBLE) / s.cohort_size, 6)
           AS retention
FROM act a
JOIN first f USING (user_id)
JOIN sizes s USING (cohort_day)
GROUP BY f.cohort_day, day_offset, s.cohort_size
"""


@register("events_retention_cohorts", oracle=_COHORT_ORACLE)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — users grouped by first-seen day, counted
    per day-offset of later activity with the retention fraction: the
    standard product-analytics table (complements events_funnel).

    Scale design: three keyed aggregations, each map-side combined — first
    touch per user (shuffle on user_id), distinct (user, day) activity
    (same key, so AQE reuses the partitioning), and the final matrix
    rollup on (cohort_day, offset); cohort sizes are a
    cohort-count-sized table and broadcast-join back. COUNT(DISTINCT
    user) in the final rollup rides Spark's two-phase distinct expand —
    no per-cohort collection anywhere."""
    ev = table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    first = ev.groupBy("user_id").agg(
        F.min(day).alias("cohort_day")
    )
    sizes = first.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    act = ev.select("user_id", day.alias("act_day")).distinct()
    return (
        act.join(first, "user_id")
        .join(F.broadcast(sizes), "cohort_day")
        .groupBy(
            "cohort_day",
            F.datediff("act_day", "cohort_day").alias("day_offset"),
            "cohort_size",
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
        .select(
            "cohort_day",
            "day_offset",
            "active_users",
            "cohort_size",
            F.round(
                F.col("active_users").cast("double") / F.col("cohort_size"),
                6,
            ).alias("retention"),
        )
    )

# ---------------------------------------------------------------------------
# join_point_in_time — feature-store PIT join against the SCD2 dimension
# ---------------------------------------------------------------------------

_PIT_ORACLE = """
WITH dim AS (
  SELECT user_id, value AS attr_value, ts AS valid_from,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS version
  FROM events WHERE event_type = 'signup'
), f AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT event_id, user_id, ts, attr_value, version FROM (
  SELECT f.event_id, f.user_id, f.ts, d.attr_value, d.version,
         ROW_NUMBER() OVER (PARTITION BY f.event_id
             ORDER BY d.valid_from DESC, d.version DESC) AS rn
  FROM f LEFT JOIN dim d
    ON f.user_id = d.user_id AND d.valid_from <= f.ts
) WHERE rn = 1
"""


@register("join_point_in_time", oracle=_PIT_ORACLE)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature join — each fact (purchase) is enriched with
    the dimension version that was valid AT ITS OWN TIMESTAMP, never a
    later one: the feature-store correctness rule that prevents
    training-serving skew (a training example must see exactly the
    feature state an online lookup would have seen).

    Because SCD2 validity windows are consecutive per key, the version
    valid at time t IS the backward as-of match on valid_from — so this
    rides the union-window as-of operator (operators/asof.py): ONE
    shuffle on the dimension key, O(1) window state, no per-event
    candidate explosion (the oracle's join-then-rank form is the
    quadratic shape this plan deliberately avoids). Facts with no
    preceding version surface with null features, loudly."""
    from trireme_spark.operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = ev.where(F.col("event_type") == "signup").select(
        "user_id",
        F.col("value").alias("attr_value"),
        F.col("ts").alias("valid_from"),
        F.row_number().over(w).alias("version"),
    )
    facts = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = asof_join(
        facts,
        dim,
        on="user_id",
        left_ts="ts",
        right_ts="valid_from",
        value_cols=["attr_value", "version"],
        right_tie_col="version",
    )
    return j.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_attr_value").alias("attr_value"),
        F.col("asof_version").alias("version"),
    )

# ---------------------------------------------------------------------------
# events_anomaly_zscore — distribution-based outlier flagging
# ---------------------------------------------------------------------------

_ZSCORE_ORACLE = """
WITH st AS (
  SELECT event_type, avg(value) AS m, stddev_samp(value) AS s
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       ROUND((e.value - st.m) / st.s, 3) AS zscore
FROM events e JOIN st USING (event_type)
WHERE abs((e.value - st.m) / st.s) > 2
"""


@register("events_anomaly_zscore", oracle=_ZSCORE_ORACLE)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-based outlier flagging: events whose value sits more
    than 2σ from their type's mean — the first-line anomaly screen of any
    metrics pipeline (and, over quality-score columns, the standard
    outlier filter in a training-data build).

    Scale design: one map-side-combined stats aggregation (per-type mean
    and σ — a types-sized table) broadcast back over the stream of rows;
    the scan→filter is a single pass, no window, no sort. The z-score is
    ROUND(3)ed and the threshold sits far from any engine's stddev ulp
    drift (parity.py doctrine for inexact stats)."""
    ev = table(spark, sf_dir, "events")
    st = ev.groupBy("event_type").agg(
        F.avg("value").alias("m"), F.stddev_samp("value").alias("s")
    )
    z = (F.col("value") - F.col("m")) / F.col("s")
    return (
        ev.join(F.broadcast(st), "event_type")
        .where(F.abs(z) > 2)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 3).alias("zscore"),
        )
    )

# ---------------------------------------------------------------------------
# events_active_users — rolling DAU / trailing-7-day active users
# ---------------------------------------------------------------------------

_DAU_ORACLE = """
WITH days AS (
  SELECT DISTINCT date_trunc('day', ts) AS day FROM events
), act AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS act_day FROM events
)
SELECT d.day,
       COUNT(DISTINCT CASE WHEN a.act_day = d.day
                           THEN a.user_id END) AS dau,
       COUNT(DISTINCT a.user_id) AS wau
FROM days d
JOIN act a
  ON a.act_day <= d.day AND a.act_day > d.day - INTERVAL 7 DAY
GROUP BY d.day
"""


@register("events_active_users", oracle=_DAU_ORACLE)
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement counts — DAU and trailing-7-day WAU per day:
    the metric pair every product dashboard leads with, and a DISTINCT
    aggregation over a SLIDING window, which no plain groupBy(window)
    expresses (windows overlap, users dedup within each).

    Scale design: activity first collapses to distinct (user, day) —
    the only corpus-sized shuffle — then each activity day fans out to
    the ≤7 window days it contributes to (bounded explode, the
    stream_sliding trick) and the per-day COUNT(DISTINCT) rides the
    two-phase expand. The days spine is dimension-sized; no per-day
    re-scan of the corpus, no window-over-everything."""
    ev = table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    act = ev.select("user_id", day.alias("act_day")).distinct()
    days = ev.select(day.alias("day")).distinct()
    # each activity day contributes to windows ending on day..day+6;
    # join to the real days spine to drop phantom trailing days
    fan = act.select(
        "user_id",
        "act_day",
        F.explode(
            F.sequence(
                F.col("act_day"),
                F.col("act_day") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    ).join(days, "day")
    return fan.groupBy("day").agg(
        F.countDistinct(
            F.when(F.col("act_day") == F.col("day"), F.col("user_id"))
        ).alias("dau"),
        F.countDistinct("user_id").alias("wau"),
    )

# ---------------------------------------------------------------------------
# events_top_paths — most common event-type transitions
# ---------------------------------------------------------------------------

_PATHS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS step_a,
         LEAD(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS step_b
  FROM events
)
SELECT step_a, step_b, COUNT(*) AS n_transitions,
       COUNT(DISTINCT user_id) AS n_users
FROM seq WHERE step_b IS NOT NULL
GROUP BY step_a, step_b
ORDER BY n_transitions DESC, step_a, step_b
LIMIT 20
"""


@register("events_top_paths", oracle=_PATHS_ORACLE)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type transitions (2-step paths) across users — the path
    analysis behind "what do users do next", complementing events_funnel's
    fixed-sequence form with the exploratory all-pairs view.

    Scale design: one keyed window (user, time-ordered) to pair each
    event with its successor — O(1) state, no self-join on events —
    then a transition-keyed aggregation whose cardinality is
    |event_types|², i.e. dimension-sized regardless of corpus scale;
    top-20 folds into TakeOrderedAndProject."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("step_a"),
        F.lead("event_type").over(w).alias("step_b"),
    ).where(F.col("step_b").isNotNull())
    return (
        seq.groupBy("step_a", "step_b")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.col("n_transitions").desc(), "step_a", "step_b")
        .limit(20)
    )

# ---------------------------------------------------------------------------
# orders_rfm_segments — recency / frequency / monetary segmentation
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH rfm AS (
  SELECT o_custkey,
         date_diff('day', max(o_orderdate),
                   (SELECT max(o_orderdate) FROM orders)) AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
             AS monetary
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT o_custkey, recency_days, frequency, monetary,
         NTILE(5) OVER (ORDER BY recency_days ASC, o_custkey) AS r_score,
         NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
         NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
  FROM rfm
)
SELECT o_custkey, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       CASE WHEN r_score = 1 AND f_score <= 2 THEN 'champion'
            WHEN r_score <= 2 AND m_score <= 2 THEN 'loyal'
            WHEN r_score >= 4 AND f_score >= 4 THEN 'churned'
            ELSE 'regular' END AS segment
FROM scored
"""


@register("orders_rfm_segments", oracle=_RFM_ORACLE)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — recency/frequency/monetary quintile scores and
    the named segments built from them: the workhorse customer-analytics
    composite (one keyed aggregation + global quintile ranks + a rule
    table).

    Scale design: the per-customer rollup is one map-side-combined
    aggregation; the three global NTILE quintiles are each the
    DISTRIBUTED two-pass form (operators/winframes.two_pass_ntile —
    keyed range-bucket row_number + broadcast offsets + the SQL NTILE
    fill rule from the broadcast total), never a bare one-reducer
    ``Window.orderBy`` — a customer dimension is itself huge at 100×.
    Range-bucket expressions are pure functions of each metric
    (equal-width over its practical domain; out-of-domain values pool
    in edge buckets — skew, never wrongness). Monetary uses the
    decimal-exact sum so the quintile boundaries can't drift
    cross-engine; NTILE ties break on o_custkey in both engines."""
    o = table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))
    rfm = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            dsum("o_totalprice").alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff("anchor", "last_order").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    from trireme_spark.operators.hints import cache_once
    from trireme_spark.operators.winframes import two_pass_ntile

    # The three chained two_pass_ntile calls each consume their input
    # multiple times (row_number leg + broadcast count legs); uncached,
    # the replay multiplies down the chain — the committed before-plan
    # shows 54 scans of orders. Caching the per-customer rollup and each
    # chained intermediate (all customer-dimension frames) linearizes
    # the chain to one evaluation per stage.
    rfm = cache_once(rfm)

    n_rng = spark.sparkContext.defaultParallelism
    # order-preserving pure-expression buckets per metric (ascending in
    # SORT order, so the desc metrics negate): recency spans the order
    # history (~2500 days), frequency is orders-per-customer (≲100 at
    # any SF — the ratio |orders|/|customers| is SF-invariant), monetary
    # is the per-customer revenue sum (≲1e7 by the same ratio)
    def _bkt(v, lo, hi):
        raw = ((v - F.lit(lo)) / F.lit((hi - lo) / n_rng)).cast("int")
        return F.least(F.greatest(raw, F.lit(0)), F.lit(n_rng - 1))

    scored = two_pass_ntile(
        rfm,
        [F.col("recency_days").asc(), F.col("o_custkey")],
        _bkt(F.col("recency_days"), 0, 3000),
        5,
        "r_score",
    )
    scored = two_pass_ntile(
        cache_once(scored),
        [F.col("frequency").desc(), F.col("o_custkey")],
        _bkt(-F.col("frequency"), -100, 0),
        5,
        "f_score",
    )
    scored = two_pass_ntile(
        cache_once(scored),
        [F.col("monetary").desc(), F.col("o_custkey")],
        _bkt(-F.col("monetary"), -1e7, 0),
        5,
        "m_score",
    ).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
    )
    seg = (
        F.when(
            (F.col("r_score") == 1) & (F.col("f_score") <= 2), "champion"
        )
        .when((F.col("r_score") <= 2) & (F.col("m_score") <= 2), "loyal")
        .when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "churned")
        .otherwise("regular")
    )
    return scored.withColumn("segment", seg)

# ---------------------------------------------------------------------------
# events_hourly_heatmap — day-of-week × hour activity grid
# ---------------------------------------------------------------------------

_HEATMAP_ORACLE = """
SELECT isodow(ts) - 1 AS dow, CAST(hour(ts) AS INT) AS hod,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


@register("events_hourly_heatmap", oracle=_HEATMAP_ORACLE)
def events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity grid — the canonical traffic
    heatmap. Day-of-week numbering is the classic cross-engine trap:
    Spark's ``dayofweek`` starts Sunday=1 while DuckDB's ``dayofweek``
    starts Sunday=0 — both sides here use the Monday=0 convention
    (Spark ``weekday``, DuckDB ``isodow - 1``) so the grid cells agree.

    One map-side-combined aggregation over a 7×24-bounded key space."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        F.weekday("ts").alias("dow"), F.hour("ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# orders_daily_revenue_ma — daily revenue with trailing 7-day moving average
# ---------------------------------------------------------------------------

_REV_MA_ORACLE = f"""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         {oracle_sum('o_totalprice')} AS revenue
  FROM orders GROUP BY 1
)
SELECT day, revenue,
       ROUND(AVG(revenue) OVER (ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS revenue_7d_ma
FROM daily
"""


@register("orders_daily_revenue_ma", oracle=_REV_MA_ORACLE)
def orders_daily_revenue_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue with a trailing 7-day moving average — the top line
    of every revenue dashboard. The corpus-sized work is ONE
    map-side-combined daily rollup (decimal-exact, so the averages can't
    drift cross-engine); the moving-average window then runs over the
    DAY-levelled table — dimension-sized rows, with the lit(0) partition
    key keeping the plan warning-free (the repo's two-pass machinery is
    the at-scale fallback if the day spine ever stopped fitting)."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(dsum("o_totalprice").alias("revenue"))
    w = (
        Window.partitionBy(meta_part("day"))
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return daily.select(
        "day",
        "revenue",
        F.round(F.avg("revenue").over(w), 4).alias("revenue_7d_ma"),
    )


# ---------------------------------------------------------------------------
# events_attribution_last_touch — purchases credited to the latest prior click
# ---------------------------------------------------------------------------

_ATTR_ORACLE = """
WITH m AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN event_type = 'click' THEN event_id END AS c_id,
         CASE WHEN event_type = 'click' THEN ts END AS c_ts
  FROM events WHERE event_type IN ('click', 'purchase')
), f AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
         value AS purchase_value, event_type,
         last_value(c_id IGNORE NULLS) OVER w AS click_id,
         last_value(c_ts IGNORE NULLS) OVER w AS click_ts
  FROM m
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)
)
SELECT purchase_id, user_id, purchase_ts, purchase_value,
       click_id, click_ts
FROM f WHERE event_type = 'purchase'
"""


@register("events_attribution_last_touch", oracle=_ATTR_ORACLE)
def events_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch attribution — every purchase credited to the same
    user's most recent PRIOR click (NULL when none): the revenue-
    attribution join every marketing pipeline runs, and the classic
    as-of shape solved WITHOUT a range join.

    Scale design: clicks and purchases interleave in ONE per-user
    time-ordered window (ts, event_id total order — a click at the
    exact purchase ts attributes iff its event_id sorts first, same
    rule both engines) and the click id/ts carry forward via
    last_value(ignore nulls) — one keyed shuffle on user_id, O(1)
    window state, no click×purchase candidate blowup, unbounded
    lookback for free. The union-LOCF trick is operators/asof.py's;
    inlined here because the carried payload is two columns."""
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    is_click = F.col("event_type") == "click"
    m = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.when(is_click, F.col("event_id")).alias("c_id"),
        F.when(is_click, F.col("ts")).alias("c_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        m.select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
            F.last("c_id", ignorenulls=True).over(w).alias("click_id"),
            F.last("c_ts", ignorenulls=True).over(w).alias("click_ts"),
            "event_type",
        )
        .where(F.col("event_type") == "purchase")
        .drop("event_type")
    )


# ---------------------------------------------------------------------------
# orders_cohort_ltv — cohort lifetime-value accumulation
# ---------------------------------------------------------------------------

_LTV_ORACLE = """
WITH first AS (
  SELECT o_custkey, date_trunc('month', min(o_orderdate)) AS cohort_month
  FROM orders GROUP BY o_custkey
), sizes AS (
  SELECT cohort_month, COUNT(*) AS cohort_users FROM first GROUP BY 1
), rev AS (
  SELECT f.cohort_month,
         date_diff('month', f.cohort_month,
                   date_trunc('month', o.o_orderdate)) AS age_months,
         SUM(CAST(o.o_totalprice AS DECIMAL(27,6))) AS revenue
  FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
  GROUP BY 1, 2
)
SELECT cohort_month, age_months, cohort_users,
       CAST(revenue AS DOUBLE) AS revenue,
       FLOOR(CAST(SUM(revenue) OVER (
                PARTITION BY cohort_month ORDER BY age_months
             ) AS DOUBLE) / cohort_users * 1e4) / 1e4 AS cum_ltv_per_user
FROM rev JOIN sizes USING (cohort_month)
"""


@register("orders_cohort_ltv", oracle=_LTV_ORACLE)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves — customers grouped by first-order month, each
    cohort's revenue accumulated per age month and normalized per user:
    the money-side complement of events_retention_cohorts, and the
    curve every growth model is fit against.

    Scale design: the corpus-sized work is one first-order rollup and
    one decimal-exact (cohort, age) revenue rollup; the cumulative LTV
    window runs PARTITIONED by cohort over the dimension-sized rollup
    (ages per cohort ≈ months of history — never a global window). The
    month arithmetic uses month-truncated dates on both engines, where
    calendar month counting agrees exactly. The per-user LTV quantizes
    by FLOOR (not ROUND): the exact-decimal cum ÷ integer cohort size
    lands on .00005 boundaries where the engines' round-half rules
    disagree — floor of identical doubles cannot (the PageRank parity
    contract)."""
    o = table(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    sizes = first.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    rev = (
        o.join(first, "o_custkey")
        .groupBy(
            "cohort_month",
            F.months_between(
                F.date_trunc("month", F.col("o_orderdate")),
                F.col("cohort_month"),
            )
            .cast("int")
            .alias("age_months"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(27,6)")).alias(
                "revenue"
            )
        )
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.join(sizes, "cohort_month")
        .select(
            "cohort_month",
            "age_months",
            "cohort_users",
            F.col("revenue").cast("double").alias("revenue"),
            (
                F.floor(
                    F.sum("revenue").over(w).cast("double")
                    / F.col("cohort_users")
                    * F.lit(1e4)
                )
                / F.lit(1e4)
            ).alias("cum_ltv_per_user"),
        )
    )


# ---------------------------------------------------------------------------
# events_outlier_mad — robust (median/MAD) outlier flagging
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, median(value) AS med
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type, median(abs(e.value - med.med)) AS mad
  FROM events e JOIN med USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_id, e.event_type, e.value,
       FLOOR(0.6745 * (e.value - med.med) / mad.mad * 1e3) / 1e3
           AS robust_z
FROM events e
JOIN med USING (event_type)
JOIN mad USING (event_type)
WHERE abs(0.6745 * (e.value - med.med) / mad.mad) > 3.5
"""


@register("events_outlier_mad", oracle=_MAD_ORACLE)
def events_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen — median/MAD z-scores (|z| > 3.5, the
    Iglewicz-Hoaglin cut): the heavy-tail-safe complement of
    events_anomaly_zscore, whose mean/stddev are themselves dragged by
    the outliers they hunt. The standard robust filter for quality
    scores and metrics with fat tails.

    Scale design: two per-group medians (exact interpolated percentile —
    a keyed sort-based aggregate over each group) broadcast back as
    dimension-sized stats; the flagging pass is one codegen'd projection
    over the stream. Exact medians beat approx here because the stats
    table is group-count-sized; at corpus-keyed cardinality the
    approx_percentile sketch is the documented swap. Robust z
    floor-quantizes (memory: round-half rules differ cross-engine)."""
    ev = table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        ev.join(med, "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5))
            .alias("mad")
        )
    )
    rz = 0.6745 * (F.col("value") - F.col("med")) / F.col("mad")
    return (
        ev.join(med, "event_type")
        .join(mad, "event_type")
        .where(F.abs(rz) > 3.5)
        .select(
            "event_id",
            "event_type",
            "value",
            (F.floor(rz * F.lit(1e3)) / F.lit(1e3)).alias("robust_z"),
        )
    )


# ---------------------------------------------------------------------------
# events_funnel_latency — conversion-time distribution
# ---------------------------------------------------------------------------

_FUNNEL_LAT_ORACLE = """
WITH s AS (
  SELECT user_id, MIN(ts) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), p AS (
  SELECT e.user_id,
         MIN(epoch_us(e.ts) - epoch_us(s.signup_ts)) AS latency_us
  FROM events e JOIN s USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s.signup_ts
  GROUP BY e.user_id
)
SELECT COUNT(*) AS n_converted,
       CAST(FLOOR(quantile_cont(latency_us, 0.5) / 1e6) AS BIGINT) AS p50_s,
       CAST(FLOOR(quantile_cont(latency_us, 0.9) / 1e6) AS BIGINT) AS p90_s,
       CAST(FLOOR(quantile_cont(latency_us, 0.99) / 1e6) AS BIGINT) AS p99_s
FROM p
"""


@register("events_funnel_latency", oracle=_FUNNEL_LAT_ORACLE)
def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution — p50/p90/p99 of time from first
    signup to first subsequent purchase: the latency histogram behind
    every funnel dashboard, complementing events_funnel's stage counts.

    Scale design: two keyed aggregations (first signup, first later
    purchase) shuffled on user_id, then ONE exact percentile aggregate
    over the per-user latencies (converted-users-sized — a dimension);
    approx_percentile is the documented swap when the converted set is
    itself corpus-scale. Latencies are integral epoch seconds; the
    FLOOR on the interpolated quantile keeps cross-engine parity."""
    ev = table(spark, sf_dir, "events")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    # EXACT microsecond latencies: DuckDB's epoch() keeps fractional
    # seconds while unix_timestamp() truncates — integral µs on both
    # sides makes the interpolated quantiles bit-identical
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("signup_ts").cast("timestamp"))
            ).alias("latency_us")
        )
    )
    return p.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.floor(F.percentile("latency_us", F.lit(0.5)) / 1e6).alias("p50_s"),
        F.floor(F.percentile("latency_us", F.lit(0.9)) / 1e6).alias("p90_s"),
        F.floor(F.percentile("latency_us", F.lit(0.99)) / 1e6).alias(
            "p99_s"
        ),
    )


# ---------------------------------------------------------------------------
# events_bounce_rate — sessionized single-event-session ratio per day
# ---------------------------------------------------------------------------

_BOUNCE_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
              ) > INTERVAL 30 MINUTE
              OR lag(ts) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
              ) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked
), per_session AS (
  SELECT user_id, session_no,
         MIN(ts) AS session_start, COUNT(*) AS n_events
  FROM sess GROUP BY user_id, session_no
)
SELECT strftime(date_trunc('day', session_start), '%Y-%m-%d') AS day,
       COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bounces,
       FLOOR(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*) * 1e4) / 1e4 AS bounce_rate
FROM per_session GROUP BY 1
"""


@register("events_bounce_rate", oracle=_BOUNCE_ORACLE)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate — share of sessions (30-min inactivity gap)
    containing exactly one event: the engagement-quality headline
    metric, and the batch gaps-and-islands twin of the t3 streaming
    session windows.

    Scale design: sessionization is ONE per-user keyed window chain
    (lag → running sum — O(1) state, both windows share the user_id
    shuffle), then two keyed aggregations; the final per-day table is
    dimension-sized. Bounce ratio floor-quantizes (cross-engine
    round-half rule)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ timestamps don't cast to long — go through unix_micros
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    sess = marked.select(
        "user_id",
        "ts",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_no"),
    )
    per_session = sess.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounces = F.sum(
        F.when(F.col("n_events") == 1, 1).otherwise(0)
    ).cast("long")
    return per_session.groupBy(
        F.date_format(
            F.date_trunc("day", "session_start"), "yyyy-MM-dd"
        ).alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        bounces.alias("n_bounces"),
        (
            F.floor(
                bounces.cast("double")
                / F.count(F.lit(1))
                * F.lit(1e4)
            )
            / F.lit(1e4)
        ).alias("bounce_rate"),
    )


# ---------------------------------------------------------------------------
# ts_interpolate_linear — gap interpolation on the hourly resample spine
# ---------------------------------------------------------------------------

_INTERP_ORACLE = f"""
WITH b AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
),
h AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b),
u AS (SELECT DISTINCT user_id FROM events),
agg AS (
  SELECT user_id, date_trunc('hour', ts) AS hr,
         {oracle_sum('value')} AS v
  FROM events GROUP BY 1, 2
),
sp AS (
  SELECT u.user_id, h.hr, a.v,
         last_value(a.v IGNORE NULLS) OVER w AS pv,
         last_value(CASE WHEN a.v IS NOT NULL THEN h.hr END IGNORE NULLS)
             OVER w AS ph,
         first_value(a.v IGNORE NULLS) OVER w2 AS nv,
         first_value(CASE WHEN a.v IS NOT NULL THEN h.hr END IGNORE NULLS)
             OVER w2 AS nh
  FROM u CROSS JOIN h
  LEFT JOIN agg a ON a.user_id = u.user_id AND a.hr = h.hr
  WINDOW w AS (PARTITION BY u.user_id ORDER BY h.hr
               ROWS UNBOUNDED PRECEDING),
         w2 AS (PARTITION BY u.user_id ORDER BY h.hr
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, hr, v,
       CASE
         WHEN v IS NOT NULL THEN v
         WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
           FLOOR((pv + (nv - pv)
                  * (CAST(date_diff('hour', ph, hr) AS DOUBLE)
                     / CAST(date_diff('hour', ph, nh) AS DOUBLE))) * 1e6)
           / 1e6
       END AS v_li
FROM sp
"""


@register("ts_interpolate_linear", oracle=_INTERP_ORACLE)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation through gaps on the hourly (user × hour)
    spine — the metrics-store companion to ts_resample_fill's step
    fill: missing cells take the line between their nearest known
    neighbors; leading/trailing gaps (no neighbor on one side) stay
    NULL on both engines.

    Scale design: the spine reuses the resample generator (1-row bounds
    → sequence explode → broadcast cross join) and BOTH neighbor
    lookups ride the same user_id-keyed shuffle — one window forward
    (last ignorenulls), one backward (first ignorenulls), O(1) state
    each, never a per-gap join. The hour index rides the spine rows as
    a plain long (posexplode), so the interpolation fraction is integer
    arithmetic — no timestamp subtraction in the hot path (events.ts is
    NTZ, which refuses long casts). Interpolated values floor-quantize
    to 1e-6: both engines compute pv + (nv-pv)·frac on identical
    doubles in the same operation order, and the floor stops a final
    print-boundary ulp from flipping a cell."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg(dsum("value").alias("v"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.posexplode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("idx", "hr")
    )
    users = ev.select("user_id").distinct()
    spine = users.crossJoin(F.broadcast(hours))
    joined = spine.join(hourly, ["user_id", "hr"], "left")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The backward lookup is a DESC-ordered RUNNING frame, not a
    # (currentRow, unboundedFollowing) frame on the ASC order:
    # UnboundedFollowing frames re-scan the partition tail per row in
    # WindowExec — O(n²)/partition, the exact class the round-2 scale
    # sweep caught on win_analytic (52 s → 0.8 s there; 20 s → ~9 s
    # here at sf0.1). Two one-pass sorts beat one quadratic frame.
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.col("idx").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    known_idx = F.when(F.col("v").isNotNull(), F.col("idx"))
    g = joined.select(
        "user_id",
        "hr",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(known_idx, ignorenulls=True).over(wb).alias("pi"),
        F.last("v", ignorenulls=True).over(wf).alias("nv"),
        F.last(known_idx, ignorenulls=True).over(wf).alias("ni"),
        "idx",
    )
    frac = (F.col("idx") - F.col("pi")).cast("double") / (
        F.col("ni") - F.col("pi")
    ).cast("double")
    interp = (
        F.floor((F.col("pv") + (F.col("nv") - F.col("pv")) * frac) * 1e6)
        / 1e6
    )
    return g.select(
        "user_id",
        "hr",
        "v",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp
        )
        .alias("v_li"),
    )


# ---------------------------------------------------------------------------
# orders_open_backlog_daily — interval-stabbing backlog via +1/-1 deltas
# ---------------------------------------------------------------------------

_BACKLOG_ORACLE = """
WITH o AS (
  SELECT date_trunc('day', o_orderdate) AS d0,
         date_trunc('day', o_orderdate)
           + (o_orderkey % 30 + 1) * INTERVAL 1 DAY AS d1
  FROM orders
),
b AS (SELECT min(d0) AS lo, max(d1) AS hi FROM o),
days AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b)
SELECT day,
       CAST((SELECT COUNT(*) FROM o
             WHERE o.d0 <= days.day AND days.day < o.d1) AS BIGINT)
           AS open_orders
FROM days
"""


@register("orders_open_backlog_daily", oracle=_BACKLOG_ORACLE)
def orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog — how many orders are open (placed, not
    yet fulfilled) on every calendar day. Fulfillment time derives
    deterministically from the key (1–30 days), making the check exact;
    swap one expression for a real close-date column.

    Scale design — interval stabbing WITHOUT the interval join: each
    order contributes two DELTA events (+1 at open, −1 at close), one
    map-side-combined agg collapses them to per-day net change, and a
    running sum over the DAY spine (calendar-bounded, dimension-sized
    forever) rebuilds the level. Corpus-sized work is O(n) row algebra
    + one tiny shuffle — against the naive day×interval join the oracle
    runs (O(n·days), the plan that dies first on long-lived intervals).
    The day spine generates in-plan from a 1-row bounds aggregate so
    zero-change days still appear; the cumulative window rides
    meta_part (constant for non-negative longs) to stay warning-free."""
    o = table(spark, sf_dir, "orders").select(
        F.date_trunc("day", "o_orderdate").alias("d0"),
        F.timestamp_add(
            "DAY",
            (F.col("o_orderkey") % 30 + 1).cast("int"),
            F.date_trunc("day", "o_orderdate"),
        ).alias("d1"),
    )
    deltas = (
        o.select(F.col("d0").alias("day"), F.lit(1).alias("d"))
        .unionAll(o.select(F.col("d1").alias("day"), F.lit(-1).alias("d")))
        .groupBy("day")
        .agg(F.sum("d").alias("net"))
    )
    bounds = o.agg(F.min("d0").alias("lo"), F.max("d1").alias("hi"))
    days = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 day"))
        ).alias("day")
    )
    spine = days.join(deltas, "day", "left").select(
        "day", F.coalesce("net", F.lit(0)).alias("net")
    )
    # meta_part over the DAY (epoch ≥ 0 — "net" can be negative, where
    # the arithmetic shiftright would split the spec by sign)
    w = (
        Window.partitionBy(meta_part("day"))
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return spine.select(
        "day", F.sum("net").over(w).cast("long").alias("open_orders")
    )


# ---------------------------------------------------------------------------
# events_wau_hll_sliding — sliding-window distinct via mergeable sketches
# ---------------------------------------------------------------------------

@register("events_wau_hll_sliding")  # rows-only: sketch estimates are
# engine-specific; tests/test_quality.py bounds the error vs the exact WAU
def events_wau_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day weekly-active-users via HLL sketch UNION — the
    approximate sibling of events_active_users' exact two-phase
    distinct, and the shape that wins at corpus scale: ONE daily sketch
    per day is the only thing ever persisted (a few KB), and every
    sliding window is a UNION of 7 sketches — no per-window re-distinct
    over raw events, no (user, day)×7 fan-out, and yesterday's sketches
    never recompute when today's data lands (the incremental-rollup
    property exact distinct fundamentally lacks).

    Plan shape: one day-keyed sketch aggregation over the corpus, a
    bounded ≤7-day explode over the DAY-levelled sketch table, one
    union-merge per window day. Estimates are deterministic for a given
    input (DataSketches HLL is seed-fixed), so the driver's rows-only
    check is stable; the quality gate asserts ≤5% relative error vs
    the exact key."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", 14).alias("sk")
    )
    # each daily sketch serves the 7 windows ending on day..day+6
    bounds = daily.agg(
        F.max(F.col("day").cast("date")).alias("max_day")
    )
    fan = (
        daily.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
            "day",
            "sk",
        )
        .select(
            F.date_add(F.col("day").cast("date"), F.col("off")).alias(
                "window_end"
            ),
            "sk",
        )
        # windows ending past the data range are partial-future noise
        .join(F.broadcast(bounds), F.col("window_end") <= F.col("max_day"))
        .drop("max_day")
    )
    return (
        fan.groupBy("window_end")
        .agg(
            F.ceil(
                F.hll_sketch_estimate(F.hll_union_agg("sk"))
            ).cast("long").alias("wau_approx")
        )
        .orderBy("window_end")
    )


# ---------------------------------------------------------------------------
# events_ab_test_analysis — deterministic experiment assignment + readout
# ---------------------------------------------------------------------------

_ABTEST_ORACLE = """
WITH assign AS (
  SELECT DISTINCT user_id,
         CASE WHEN ('0x' || substr(md5(user_id::VARCHAR || '|exp42'), 1, 8)
                   )::BIGINT % 2 = 0
              THEN 'control' ELSE 'treatment' END AS variant
  FROM events
),
conv AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
),
cell AS (
  SELECT a.variant,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(count_if(c.user_id IS NOT NULL) AS BIGINT) AS n_converted
  FROM assign a LEFT JOIN conv c USING (user_id)
  GROUP BY a.variant
)
SELECT variant, n_users, n_converted,
       FLOOR(CAST(n_converted AS DOUBLE) / n_users * 1e6) / 1e6 AS cvr
FROM cell
"""


@register("events_ab_test_analysis", oracle=_ABTEST_ORACLE)
def events_ab_test_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users assign to control/treatment by a
    SEEDED HASH of (user_id, experiment key) — the industry-standard
    bucketing that is stable across sessions, devices, and reruns
    without an assignment table — then per-variant users, conversions,
    and conversion rate. The hash is md5-prefix (bit-identical
    cross-engine, the shuffle_deterministic pattern), so the entire
    experiment pipeline — assignment included — is value-checked, and
    adding experiments costs a new salt, not new infrastructure.

    Scale design: assignment is a codegen'd projection on the distinct-
    user pass; conversion is a second distinct collapse; the readout is
    a 2-row aggregate. Two user-keyed shuffles total, both two-phase
    distinct plans; nothing corpus-sized survives past them. The CVR
    floor-quantizes at 1e-6 (identical division operands both engines)."""
    ev = table(spark, sf_dir, "events")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("user_id").cast("string"), F.lit("|exp42"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    assign = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(bucket == 0, "control")
            .otherwise("treatment")
            .alias("variant"),
        )
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    cell = (
        assign.join(conv, "user_id", "left")
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count_if(F.col("converted").isNotNull()).alias(
                "n_converted"
            ),
        )
    )
    return cell.select(
        "variant",
        "n_users",
        "n_converted",
        (
            F.floor(
                F.col("n_converted").cast("double")
                / F.col("n_users")
                * 1e6
            )
            / 1e6
        ).alias("cvr"),
    )


# ---------------------------------------------------------------------------
# events_attribution_linear — multi-touch credit splitting
# ---------------------------------------------------------------------------

_LINEAR_ATTR_ORACLE = """
WITH clicks AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
  FROM events WHERE event_type = 'purchase'
),
touch AS (
  SELECT p.purchase_id, p.user_id, p.value, c.click_id,
         CAST(COUNT(*) OVER (PARTITION BY p.purchase_id) AS BIGINT)
             AS n_touches
  FROM purchases p
  JOIN clicks c
    ON c.user_id = p.user_id
   AND c.click_ts <= p.purchase_ts
   AND c.click_ts >= p.purchase_ts - INTERVAL 7 DAY
)
SELECT purchase_id, user_id, click_id, n_touches,
       FLOOR(value / n_touches * 1e6) / 1e6 AS credit
FROM touch
"""


@register("events_attribution_linear", oracle=_LINEAR_ATTR_ORACLE)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every click in the 7 days before
    a purchase shares the purchase value EQUALLY — the fairness-model
    complement of events_attribution_last_touch (last-touch rewards
    the closer; linear pays the whole journey, and the delta between
    the two models is the standard marketing-mix diagnostic).

    Scale design: the touch join carries the user_id equi key with the
    7-day range as a post-join conjunct (hash join, never BNL — the j8
    doctrine), so fan-out is per-user clicks×purchases within the
    window, bounded by user activity, not the corpus. The per-purchase
    touch count rides a purchase-keyed window on the SAME shuffled
    rows, and credits floor-quantize at 1e-6 so the equal split is
    bit-identical cross-engine. Unbounded lookback is the documented
    trade against the last-touch key's O(1)-state window."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    touch = purchases.join(
        clicks,
        (clicks["user_id"] == purchases["user_id"])
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 7 DAY")
        ),
    ).select(
        "purchase_id",
        purchases["user_id"].alias("user_id"),
        "value",
        "click_id",
    )
    w = Window.partitionBy("purchase_id")
    return touch.select(
        "purchase_id",
        "user_id",
        "click_id",
        F.count(F.lit(1)).over(w).alias("n_touches"),
        (
            F.floor(
                F.col("value") / F.count(F.lit(1)).over(w) * 1e6
            )
            / 1e6
        ).alias("credit"),
    )


# ---------------------------------------------------------------------------
# events_cumulative_adoption — running distinct users without the trap
# ---------------------------------------------------------------------------

_ADOPTION_ORACLE = """
WITH f AS (
  SELECT user_id, MIN(date_trunc('day', ts)) AS first_day
  FROM events GROUP BY user_id
),
b AS (SELECT min(date_trunc('day', ts)) AS lo, max(date_trunc('day', ts)) AS hi
      FROM events),
days AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b)
SELECT day,
       CAST((SELECT COUNT(*) FROM f WHERE f.first_day <= days.day) AS BIGINT)
           AS total_users
FROM days
"""


@register("events_cumulative_adoption", oracle=_ADOPTION_ORACLE)
def events_cumulative_adoption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative adoption curve: total distinct users EVER seen, per
    calendar day — the all-time-uniques dashboard line. The naive form
    is COUNT(DISTINCT) over an ever-EXPANDING window (per-day re-
    distinct over all history: O(days·corpus), the classic cumulative-
    uniques trap). The scalable identity: a user enters the cumulative
    count exactly once, on their FIRST day — so collapse to (user,
    first_day) once, count first-seens per day, and prefix-sum over the
    calendar-bounded day spine.

    Scale design: one user-keyed min aggregation (two-phase distinct
    shape), one dimension-sized daily count, one meta_part running sum
    over the spine; history never rescans when a new day lands (the
    incremental property: yesterday's counts are final). The oracle
    runs the naive expanding count, value-checking the rewrite."""
    ev = table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day")
    )
    per_day = first.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    days = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 day"))
        ).alias("day")
    )
    spine = days.join(per_day, "day", "left").select(
        "day", F.coalesce("n_new", F.lit(0)).alias("n_new")
    )
    w = (
        Window.partitionBy(meta_part("day"))
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return spine.select(
        "day", F.sum("n_new").over(w).cast("long").alias("total_users")
    )


# ---------------------------------------------------------------------------
# ts_gap_detection — reporting-outage detection per source
# ---------------------------------------------------------------------------

_GAPS_ORACLE = """
WITH s AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_ts
  FROM events
)
SELECT user_id, prev_ts AS gap_start, ts AS gap_end,
       (epoch_us(ts) - epoch_us(prev_ts)) // 1000000 AS gap_seconds
FROM s
WHERE (epoch_us(ts) - epoch_us(prev_ts)) / 1000000.0 > 172800
"""


@register("ts_gap_detection", oracle=_GAPS_ORACLE)
def ts_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reporting-gap detection: per-user silences longer than 48 h,
    with exact gap boundaries — the monitoring primitive behind
    "sensor X stopped reporting" / "pipeline Y skipped a day" alerts,
    and the inverse view of ts_resample_fill (which papers over the
    gaps this key surfaces).

    Scale design: ONE lag window per user (the same user_id-keyed
    shuffle every sessionization key rides), then a codegen'd
    predicate — no spine, no join; cost is one sort per user
    partition regardless of how long the history is. Gap length in
    whole seconds keeps the compare integer-exact (events.ts is µs
    precision in both engines; both sides floor-divide the µs epoch
    delta — date_diff('second') would count BOUNDARY CROSSINGS, the
    cross-engine trap this oracle avoids)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id", "ts", "event_id", F.lag("ts").over(w).alias("prev_ts")
    )
    gap_s = (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.col("prev_ts").cast("timestamp"))
    ) / 1000000
    return s.where(gap_s > 172800).select(
        "user_id",
        F.col("prev_ts").alias("gap_start"),
        F.col("ts").alias("gap_end"),
        F.floor(gap_s).cast("long").alias("gap_seconds"),
    )


# ---------------------------------------------------------------------------
# events_alert_throttle — at-most-one-alert-per-window suppression
# ---------------------------------------------------------------------------

_THROTTLE_ORACLE = """
WITH a AS (
  SELECT user_id, event_id, ts
  FROM events WHERE event_type = 'error'
),
marked AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_ts
  FROM a
),
flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 21600000000
              THEN 1 ELSE 0 END AS opens
  FROM marked
),
runs AS (
  SELECT user_id, event_id, ts, opens,
         SUM(opens) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS burst_id
  FROM flagged
)
SELECT user_id, CAST(burst_id AS BIGINT) AS burst_id,
       MIN(event_id) AS alert_event,
       MIN(ts) AS alert_ts,
       CAST(COUNT(*) AS BIGINT) AS n_suppressed
FROM runs
GROUP BY user_id, burst_id
"""


@register("events_alert_throttle", oracle=_THROTTLE_ORACLE)
def events_alert_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert throttling: error events collapse into BURSTS separated by
    >6 h of silence; each burst raises exactly ONE alert (its first
    event) and reports how many events it suppressed — the dedup layer
    between detectors and pagers (a detector that fires per event
    melts the on-call; per-burst is the operable unit). Same
    gaps-and-islands algebra as the bounce-rate sessions, pointed at
    the ops domain with the suppression count as the payload.

    Scale design: ONE user-keyed shuffle carries the lag, the running
    burst-id sum, and the per-burst aggregate (Catalyst reuses the
    exchange); epoch-µs arithmetic both engines (the date_diff
    boundary-crossing trap); burst ids are per-user ordinals —
    deterministic under any partitioning."""
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type") == "error"
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.lag("ts").over(wo).alias("prev_ts"),
    )
    gap_us = F.unix_micros(
        F.col("ts").cast("timestamp")
    ) - F.unix_micros(F.col("prev_ts").cast("timestamp"))
    opens = F.when(
        F.col("prev_ts").isNull() | (gap_us > 21600000000), 1
    ).otherwise(0)
    runs = marked.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(opens)
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("long")
        .alias("burst_id"),
    )
    return runs.groupBy("user_id", "burst_id").agg(
        F.min("event_id").alias("alert_event"),
        F.min("ts").alias("alert_ts"),
        F.count(F.lit(1)).alias("n_suppressed"),
    )


# ---------------------------------------------------------------------------
# events_kpi_daily_scorecard — one scan, every headline metric
# ---------------------------------------------------------------------------

_SCORECARD_ORACLE = """
WITH d AS (
  SELECT date_trunc('day', ts) AS day, user_id, event_type, value
  FROM events
),
base AS (
  SELECT day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau,
         CAST(count_if(event_type = 'purchase') AS BIGINT) AS n_purchases,
         CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value
                            ELSE 0 END AS DECIMAL(27,6))) AS DOUBLE)
             AS revenue,
         CAST(count_if(event_type = 'error') AS BIGINT) AS n_errors
  FROM d GROUP BY day
)
SELECT day, n_events, dau, n_purchases, revenue, n_errors,
       FLOOR(CAST(n_errors AS DOUBLE) / n_events * 1e6) / 1e6
           AS error_rate,
       FLOOR(CAST(n_purchases AS DOUBLE) / dau * 1e6) / 1e6
           AS purchases_per_dau
FROM base
"""


@register("events_kpi_daily_scorecard", oracle=_SCORECARD_ORACLE)
def events_kpi_daily_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily KPI scorecard: events, DAU, purchases, decimal-exact
    revenue, errors, error rate, purchases-per-DAU — every headline
    metric a product dashboard opens with, in ONE day-keyed
    aggregation over ONE scan. The individual keys (active_users,
    revenue_ma, bounce, anomaly) each own a metric in depth; this
    composite pins the "one pass, many metrics" production shape —
    adding a KPI adds an expression, and the scan cost NEVER grows
    with the metric count (the etl_expectations rule applied to the
    dashboard workload).

    The exact DAU makes this a two-phase-distinct plan (Expand on the
    distinct column only); every other metric is a conditional partial
    sum riding the same exchange. Ratios floor-quantize at 1e-6."""
    ev = table(spark, sf_dir, "events")
    d = ev.select(
        F.date_trunc("day", "ts").alias("day"),
        "user_id",
        "event_type",
        "value",
    )
    base = d.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("dau"),
        F.count_if(F.col("event_type") == "purchase").alias(
            "n_purchases"
        ),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .otherwise(0.0)
            .cast("decimal(27,6)")
        )
        .cast("double")
        .alias("revenue"),
        F.count_if(F.col("event_type") == "error").alias("n_errors"),
    )
    return base.select(
        "day",
        "n_events",
        "dau",
        "n_purchases",
        "revenue",
        "n_errors",
        (
            F.floor(
                F.col("n_errors").cast("double")
                / F.col("n_events")
                * 1e6
            )
            / 1e6
        ).alias("error_rate"),
        (
            F.floor(
                F.col("n_purchases").cast("double") / F.col("dau") * 1e6
            )
            / 1e6
        ).alias("purchases_per_dau"),
    )


# ---------------------------------------------------------------------------
# orders_seasonality_index — month-of-year revenue decomposition
# ---------------------------------------------------------------------------

_SEASON_ORACLE = """
WITH m AS (
  SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1, 2
),
momo AS (
  SELECT mo,
         CAST(SUM(CAST(rev AS DECIMAL(27,6))) AS DOUBLE)
             / COUNT(*) AS avg_rev,
         CAST(COUNT(*) AS BIGINT) AS n_years
  FROM m GROUP BY mo
),
tot AS (
  SELECT CAST(SUM(CAST(avg_rev AS DECIMAL(27,6))) AS DOUBLE) / 12
      AS grand_avg
  FROM momo
)
SELECT mo, n_years, avg_rev,
       FLOOR(avg_rev / grand_avg * 1e6) / 1e6 AS seasonal_index
FROM momo CROSS JOIN tot
"""


@register("orders_seasonality_index", oracle=_SEASON_ORACLE)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonality index: each calendar month's average
    revenue (across years) relative to the overall monthly average —
    index > 1 = a seasonally strong month. The classical decomposition
    input for demand planning and anomaly BASELINES (an "anomalous"
    December is often just December; the zscore/MAD keys flag raw
    outliers, this key supplies the seasonal expectation to judge them
    against).

    Scale design: corpus-sized work is one (year, month) rollup
    (decimal-exact); everything after runs on ≤ 12·years dimension
    rows with a 1-row grand-average broadcast. Index floor-quantizes
    at 1e-6 (identical division operands both engines)."""
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
        .cast("double")
        .alias("rev")
    )
    momo = m.groupBy("mo").agg(
        (
            F.sum(F.col("rev").cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_rev"),
        F.count(F.lit(1)).alias("n_years"),
    )
    tot = momo.agg(
        (
            F.sum(F.col("avg_rev").cast("decimal(27,6)")).cast("double")
            / 12
        ).alias("grand_avg")
    )
    return momo.crossJoin(F.broadcast(tot)).select(
        "mo",
        "n_years",
        "avg_rev",
        (
            F.floor(F.col("avg_rev") / F.col("grand_avg") * 1e6) / 1e6
        ).alias("seasonal_index"),
    )


# ---------------------------------------------------------------------------
# ts_ewma_smoothing — per-user exponentially weighted moving average
# ---------------------------------------------------------------------------

_EWMA_ORACLE = """
WITH RECURSIVE seq AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), r AS (
  SELECT user_id, event_id, rn, value AS ewma FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.event_id, s.rn, 0.3 * s.value + 0.7 * r.ewma
  FROM r JOIN seq s ON s.user_id = r.user_id AND s.rn = r.rn + 1
)
SELECT user_id, event_id, FLOOR(ewma * 1e6) / 1e6 AS ewma FROM r
"""


@register("ts_ewma_smoothing", oracle=_EWMA_ORACLE)
def ts_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (α = 0.3, y₀ = x₀) over the time-ordered value
    stream — the smoothing primitive behind anomaly baselines and
    latency dashboards, and a genuinely RECURSIVE computation: y_t
    depends on y_{t-1}, which no window frame expresses.

    Scale design: the recurrence is sequential PER USER but
    embarrassingly parallel ACROSS users — exactly applyInPandas'
    shape: one user-keyed shuffle, each group folds in Arrow-batched
    executor memory, state is one double. The fold is written as the
    LITERAL expression `0.3*x + 0.7*y` (not pandas .ewm, whose
    normalized form divides by (0.3+0.7) ≠ 1.0 in IEEE double) so the
    operation sequence is bit-identical to the oracle's recursive CTE;
    outputs floor-quantize at 1e-6 (parity.fquant — ROUND(6) ties on
    short-repr chain values resolve differently cross-engine, observed
    at sf0.1: 66.2913725). The documented
    degenerate case — ONE giant key — is real but benign here: a single
    user's history fits any executor; a per-(user, era) re-anchored
    variant is the unbounded-history swap."""
    import pandas as pd

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "event_id"])
        out, y = [], None
        for x in pdf["value"].to_numpy():
            y = float(x) if y is None else 0.3 * float(x) + 0.7 * y
            out.append(y)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "ewma": out,
            }
        )

    return (
        ev.groupBy("user_id")
        .applyInPandas(fold, "user_id long, event_id long, ewma double")
        .select("user_id", "event_id", fquant("ewma").alias("ewma"))
    )


# ---------------------------------------------------------------------------
# orders_forecast_seasonal_naive — forecast backtest + MAPE scoring
# ---------------------------------------------------------------------------

_SNAIVE_ORACLE = f"""
WITH m AS (
  SELECT EXTRACT(year FROM o_orderdate) AS yr,
         EXTRACT(month FROM o_orderdate) AS mo,
         {oracle_sum('o_totalprice')} AS revenue
  FROM orders GROUP BY 1, 2
)
SELECT a.yr, a.mo, a.revenue AS actual, f.revenue AS forecast,
       FLOOR(ABS(a.revenue - f.revenue) / a.revenue * 1e6) / 1e6 AS ape
FROM m a JOIN m f ON f.yr = a.yr - 1 AND f.mo = a.mo
"""


@register("orders_forecast_seasonal_naive", oracle=_SNAIVE_ORACLE)
def orders_forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast BACKTEST: predict each month's revenue as
    the same month one year earlier and score the absolute percentage
    error — the baseline every real forecasting model must beat, and
    the backtest harness shape (join actuals to lagged forecasts,
    score) is identical for any model that replaces the naive one.

    Scale design: the corpus collapses to a (year, month) decimal-exact
    rollup in ONE map-side-combined aggregation; the actual↔forecast
    join and APE scoring run on the ≤12·years-row dimension table. APE
    divides exact decimals in double and FLOOR-quantizes (round-half
    boundaries are where engines disagree — the cohort-LTV lesson)."""
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
    ).agg(dsum("o_totalprice").alias("revenue"))
    # One corpus rollup, not two: the actual/forecast self-join otherwise
    # re-aggregates the whole orders table per side (the tiny rollup
    # broadcasts, so plan reuse cannot dedupe the subtrees). The cached
    # frame is the ≤12·years-row dimension table.
    from trireme_spark.operators.hints import cache_once

    m = cache_once(m)
    a = m.alias("a")
    f_ = m.alias("f")
    joined = a.join(
        f_,
        (F.col("f.yr") == F.col("a.yr") - 1)
        & (F.col("f.mo") == F.col("a.mo")),
    )
    ape = (
        F.floor(
            F.abs(F.col("a.revenue") - F.col("f.revenue"))
            / F.col("a.revenue")
            * 1e6
        )
        / 1e6
    )
    return joined.select(
        F.col("a.yr").alias("yr"),
        F.col("a.mo").alias("mo"),
        F.col("a.revenue").alias("actual"),
        F.col("f.revenue").alias("forecast"),
        ape.alias("ape"),
    )


# ---------------------------------------------------------------------------
# ts_cusum_changepoint — CUSUM drift detection (recursive, like EWMA)
# ---------------------------------------------------------------------------

_CUSUM_TARGET = 50.0  # ≈ fixture mean(value); the in-control reference
_CUSUM_H = 200.0  # alarm threshold

_CUSUM_ORACLE = f"""
WITH RECURSIVE seq AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), r AS (
  SELECT user_id, event_id, rn,
         GREATEST(0.0, value - {_CUSUM_TARGET}) AS cusum
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.event_id, s.rn,
         GREATEST(0.0, r.cusum + s.value - {_CUSUM_TARGET})
  FROM r JOIN seq s ON s.user_id = r.user_id AND s.rn = r.rn + 1
)
SELECT user_id, event_id, FLOOR(cusum * 1e6) / 1e6 AS cusum,
       cusum > {_CUSUM_H} AS alarm
FROM r
"""


@register("ts_cusum_changepoint", oracle=_CUSUM_ORACLE)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detector per user: s_t = max(0, s_{t-1} +
    x_t − target), alarm when s crosses h — the classic sequential
    change-point statistic behind metric-drift monitors, and (like
    EWMA) a genuinely RECURSIVE op: the max-clamp makes it non-linear,
    so not even a prefix-sum trick expresses it.

    Same machinery as ts_ewma_smoothing: applyInPandas fold (sequential
    per user, parallel across users, O(1) state), the fold written as
    the LITERAL `max(0, s + x − target)` so the double-op sequence is
    bit-identical to the oracle's recursive CTE — outputs floor-quantize
    (parity.fquant, tie-free cross-engine). The reset-to-zero clamp
    also bounds numeric growth,
    so unlike EWMA's closed forms there is no overflow-prone rewrite
    to even be tempted by."""
    import pandas as pd

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "event_id"])
        out, s = [], 0.0
        for x in pdf["value"].to_numpy():
            s = max(0.0, s + float(x) - _CUSUM_TARGET)
            out.append(s)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "cusum": out,
            }
        )

    return (
        ev.groupBy("user_id")
        .applyInPandas(fold, "user_id long, event_id long, cusum double")
        .select(
            "user_id",
            "event_id",
            fquant("cusum").alias("cusum"),
            (F.col("cusum") > _CUSUM_H).alias("alarm"),
        )
    )


# ---------------------------------------------------------------------------
# events_ab_cuped — CUPED variance-reduced experiment readout
# ---------------------------------------------------------------------------

_CUPED_SPLIT = "2024-01-16"

_CUPED_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         {oracle_sum("CASE WHEN ts <  TIMESTAMP '" + _CUPED_SPLIT + "' THEN value ELSE 0 END")} AS x,
         {oracle_sum("CASE WHEN ts >= TIMESTAMP '" + _CUPED_SPLIT + "' THEN value ELSE 0 END")} AS y,
         CAST(('0x' || substr(md5(user_id::VARCHAR || '|cuped'), 1, 8))
              AS BIGINT) % 2 AS variant
  FROM events GROUP BY user_id
), g AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_all,
         {oracle_sum('x')} AS sx, {oracle_sum('x * x')} AS sxx,
         {oracle_sum('y')} AS sy, {oracle_sum('x * y')} AS sxy
  FROM u
), t AS (
  SELECT (sxy - sx * sy / n_all) / (sxx - sx * sx / n_all) AS theta,
         sx / n_all AS xbar
  FROM g
)
SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND({oracle_sum('y')} / COUNT(*), 6) AS mean_post,
       ROUND(({oracle_sum('y')} - theta * ({oracle_sum('x')}
              - COUNT(*) * xbar)) / COUNT(*), 6) AS mean_adj
FROM u CROSS JOIN t
GROUP BY variant, theta, xbar
"""


@register("events_ab_cuped", oracle=_CUPED_ORACLE)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al. 2013):
    each user's post-period metric y adjusts by θ·(x − x̄) of their
    PRE-period covariate x, removing the between-user variance the
    experiment didn't cause — the standard trick that shrinks A/B
    confidence intervals ~30-50% for retention/spend metrics.

    Cross-engine exactness: the per-user sums are decimal-exact; θ and
    the adjusted means reduce ALGEBRAICALLY to sufficient statistics
    (Σx, Σy, Σxx, Σxy — mean_adj = (Σy − θ(Σx − n·x̄))/n), so no
    per-user float accumulation order exists to diverge; both engines
    run the identical double expression over identical exact inputs.
    Assignment is the seeded md5-prefix hash (the ab_test_analysis
    pattern) — stable, table-free.

    Scale design: ONE user-keyed aggregation builds (x, y, variant);
    a 1-row global-stats aggregate broadcasts θ and x̄ back; the
    readout is a 2-row group. Adding covariates adds columns to the
    sufficient-stats row, never passes."""
    ev = table(spark, sf_dir, "events")
    split = F.lit(_CUPED_SPLIT).cast("timestamp_ntz")
    u = ev.groupBy("user_id").agg(
        dsum(
            F.when(F.col("ts") < split, F.col("value")).otherwise(0.0)
        ).alias("x"),
        dsum(
            F.when(F.col("ts") >= split, F.col("value")).otherwise(0.0)
        ).alias("y"),
    )
    variant = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("user_id").cast("string"), F.lit("|cuped"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    u = u.withColumn("variant", variant)
    g = u.agg(
        F.count(F.lit(1)).cast("double").alias("n_all"),
        dsum("x").alias("sx"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum("y").alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
    ).select(
        (
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n_all"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_all"))
        ).alias("theta"),
        (F.col("sx") / F.col("n_all")).alias("xbar"),
    )
    return (
        u.crossJoin(F.broadcast(g))
        .groupBy("variant", "theta", "xbar")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            dsum("y").alias("sy_v"),
            dsum("x").alias("sx_v"),
        )
        .select(
            "variant",
            "n_users",
            F.round(F.col("sy_v") / F.col("n_users"), 6).alias("mean_post"),
            F.round(
                (
                    F.col("sy_v")
                    - F.col("theta")
                    * (F.col("sx_v") - F.col("n_users") * F.col("xbar"))
                )
                / F.col("n_users"),
                6,
            ).alias("mean_adj"),
        )
    )


# ---------------------------------------------------------------------------
# events_funnel_windowed — windowFunnel: per-step conversion deadlines
# ---------------------------------------------------------------------------

_WFUNNEL_H = 72  # hours allowed per step

_WFUNNEL_ORACLE = f"""
WITH s AS (
  SELECT user_id, MIN(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), c AS (
  SELECT s.user_id, s.signup_ts, MIN(e.ts) AS click_ts
  FROM s JOIN events e ON e.user_id = s.user_id
   AND e.event_type = 'click' AND e.ts > s.signup_ts
   AND epoch_us(e.ts) - epoch_us(s.signup_ts) <= {_WFUNNEL_H} * 3600000000::BIGINT
  GROUP BY s.user_id, s.signup_ts
), p AS (
  SELECT c.user_id, c.click_ts, MIN(e.ts) AS purchase_ts
  FROM c JOIN events e ON e.user_id = c.user_id
   AND e.event_type = 'purchase' AND e.ts > c.click_ts
   AND epoch_us(e.ts) - epoch_us(c.click_ts) <= {_WFUNNEL_H} * 3600000000::BIGINT
  GROUP BY c.user_id, c.click_ts
)
SELECT s.user_id,
       CASE WHEN p.user_id IS NOT NULL THEN 3
            WHEN c.user_id IS NOT NULL THEN 2
            ELSE 1 END AS stage
FROM s LEFT JOIN c ON c.user_id = s.user_id
       LEFT JOIN p ON p.user_id = s.user_id
"""


@register("events_funnel_windowed", oracle=_WFUNNEL_ORACLE)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed funnel (the ClickHouse windowFunnel semantics): each
    step must land within 72 h of the PREVIOUS step's anchor — the
    time-bounded variant of events_funnel, which measures real
    conversion (a purchase three months after the click is not this
    campaign's conversion).

    Scale design: same three user-keyed aggregations as the unbounded
    funnel — the deadline is ONE extra epoch-µs conjunct riding each
    step's join, zero new shuffles; AQE co-partitions the chain on
    user_id. Deadlines compare exact integer microseconds (the
    funnel-latency parity lesson: DuckDB epoch() keeps fractions)."""
    ev = table(spark, sf_dir, "events")
    lim = F.lit(_WFUNNEL_H * 3600 * 10**6)

    def us(c):
        return F.unix_micros(F.col(c).cast("timestamp"))

    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    c = (
        s.join(ev, "user_id")
        .where(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("signup_ts"))
            & (us("ts") - us("signup_ts") <= lim)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        c.join(ev, "user_id")
        .where(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("click_ts"))
            & (us("ts") - us("click_ts") <= lim)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        s.join(c.select("user_id", F.lit(True).alias("has_c")), "user_id", "left")
        .join(p.select("user_id", F.lit(True).alias("has_p")), "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("has_p"), 3)
            .when(F.col("has_c"), 2)
            .otherwise(1)
            .cast("int")
            .alias("stage"),
        )
    )


# ---------------------------------------------------------------------------
# events_anomaly_seasonal_hour — seasonality-adjusted anomaly screen
# ---------------------------------------------------------------------------

_SEAS_ANOM_ORACLE = f"""
WITH h AS (
  SELECT event_id, value, EXTRACT(hour FROM ts) AS hod
  FROM events WHERE event_type = 'purchase'
), stats AS (
  SELECT hod, CAST(COUNT(*) AS DOUBLE) AS n,
         {oracle_sum('value')} AS sx,
         {oracle_sum('value * value')} AS sxx
  FROM h GROUP BY hod
), z AS (
  SELECT h.event_id, h.hod, h.value,
         FLOOR((h.value - sx / n)
               / sqrt((sxx - sx * sx / n) / (n - 1)) * 1e6) / 1e6 AS zscore
  FROM h JOIN stats USING (hod)
)
SELECT event_id, hod, value, zscore
FROM z WHERE ABS(zscore) > 3.0
"""


@register("events_anomaly_seasonal_hour", oracle=_SEAS_ANOM_ORACLE)
def events_anomaly_seasonal_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-ADJUSTED anomaly screen: each purchase is z-scored
    against the baseline of ITS OWN hour-of-day — the fix for the raw
    z-score key's (events_anomaly_zscore) classic false-positive mode,
    where a normal 2 pm peak flags simply because nights drag the
    global mean down. Same pattern generalizes to day-of-week or the
    month index (orders_seasonality_index) as the grouping key.

    Exactness: per-hour mean/std from decimal-exact Σx/Σx² (sample
    std, n−1); z floor-quantizes at 1e-6 with identical double
    operand order both engines, so the |z| > 3 cut cannot wobble.

    Scale design: 24-row baseline table (bounded model state,
    broadcast back into the stream); one map-side-combined stats agg +
    one codegen'd flagging pass — adding seasonal keys multiplies the
    baseline rows, never the passes."""
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    h = ev.select(
        "event_id",
        "value",
        F.hour("ts").cast("long").alias("hod"),
    )
    stats = h.groupBy("hod").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("value").alias("sx"),
        dsum(F.col("value") * F.col("value")).alias("sxx"),
    )
    z = (
        F.floor(
            (F.col("value") - F.col("sx") / F.col("n"))
            / F.sqrt(
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                / (F.col("n") - 1)
            )
            * 1e6
        )
        / 1e6
    )
    flagged = h.join(F.broadcast(stats), "hod").select(
        "event_id", "hod", "value", z.alias("zscore")
    )
    return flagged.where(F.abs(F.col("zscore")) > 3.0)


# ---------------------------------------------------------------------------
# orders_invoice_aging — AR aging buckets at a reference date
# ---------------------------------------------------------------------------

_AGING_ORACLE = f"""
WITH ref AS (
  SELECT CAST(MAX(o_orderdate) AS DATE) + 1 AS ref_date FROM orders
), open_o AS (
  SELECT o_orderkey, o_totalprice,
         datediff('day', CAST(o_orderdate AS DATE), ref_date) AS age_days
  FROM orders CROSS JOIN ref
  WHERE o_orderstatus = 'O'
)
SELECT CASE WHEN age_days <= 30 THEN '0-30'
            WHEN age_days <= 60 THEN '31-60'
            WHEN age_days <= 90 THEN '61-90'
            ELSE '90+' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {oracle_sum('o_totalprice')} AS outstanding
FROM open_o GROUP BY 1
"""


@register("orders_invoice_aging", oracle=_AGING_ORACLE)
def orders_invoice_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounts-receivable AGING: open orders bucketed by days
    outstanding at the data's own reference date (max order date + 1 —
    self-anchored, so the key is deterministic on any snapshot) — the
    0-30/31-60/61-90/90+ report every finance close runs.

    Scale design: the reference date is a 1-row aggregate broadcast
    into the scan; aging is a codegen'd datediff + CASE projection; the
    report is one map-side-combined 4-group aggregate with the status
    filter pushed to the parquet scan. Decimal-exact outstanding
    totals. DAY arithmetic on DATE-cast values both engines — no
    timestamp-fraction ambiguity can shift a bucket edge."""
    o = table(spark, sf_dir, "orders")
    ref = o.agg(
        F.date_add(F.max(F.col("o_orderdate").cast("date")), 1).alias(
            "ref_date"
        )
    )
    open_o = (
        o.where(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(ref))
        .select(
            "o_totalprice",
            F.datediff(
                "ref_date", F.col("o_orderdate").cast("date")
            ).alias("age_days"),
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 60, "31-60")
        .when(F.col("age_days") <= 90, "61-90")
        .otherwise("90+")
    )
    return open_o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("outstanding"),
    )


# ---------------------------------------------------------------------------
# events_error_budget_slo — SLO burn-rate accounting
# ---------------------------------------------------------------------------

_SLO_TARGET = 0.25  # error budget: 25% of daily events may be errors

_SLO_ORACLE = f"""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS events,
         CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT)
           AS errors
  FROM events GROUP BY 1
)
SELECT CAST(day AS VARCHAR) AS day, events, errors,
       FLOOR(errors * 1e6 / events) / 1e6 AS err_rate,
       FLOOR((SUM(errors) OVER w) * 1e6
             / ({_SLO_TARGET} * (SUM(events) OVER w))) / 1e6
         AS cum_burn
FROM d
WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
"""


@register("events_error_budget_slo", oracle=_SLO_ORACLE)
def events_error_budget_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn: daily error rate plus CUMULATIVE budget
    consumption against a 25%-of-traffic budget (burn > 1.0 = budget
    blown) — the SRE accounting that pages on slope, not spikes, and
    the observability twin of the KPI scorecard.

    Scale design: the corpus collapses to one day-keyed aggregate
    (conditional count rides the same pass); the cumulative window
    runs over the DIMENSION-sized daily table under a meta_part spec
    (constant partition that survives the optimizer — the r5
    warning-storm fix), so no corpus-sized global window exists.
    Rates floor-quantize with identical integer-scaled operands both
    engines."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("events"),
        F.count_if(F.col("event_type") == "error").alias("errors"),
    )
    w = (
        Window.partitionBy(meta_part("events"))
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return d.select(
        F.col("day").cast("string").alias("day"),
        "events",
        "errors",
        (F.floor(F.col("errors") * 1e6 / F.col("events")) / 1e6).alias(
            "err_rate"
        ),
        (
            F.floor(
                F.sum("errors").over(w)
                * 1e6
                / (F.lit(_SLO_TARGET) * F.sum("events").over(w))
            )
            / 1e6
        ).alias("cum_burn"),
    )


# ---------------------------------------------------------------------------
# ts_decompose_additive — trend + seasonal + residual decomposition
# ---------------------------------------------------------------------------

_DECOMP_ORACLE = f"""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hr,
         {oracle_sum('value')} AS v
  FROM events GROUP BY 1
), t AS (
  SELECT hr, v,
         ROUND(CAST(SUM(CAST(v AS DECIMAL(27,6))) OVER w AS DOUBLE)
               / COUNT(*) OVER w, 6) AS trend
  FROM h
  WINDOW w AS (ORDER BY hr ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
), d AS (
  SELECT hr, v, trend,
         CAST(ROUND(v - trend, 6) AS DECIMAL(27,6)) AS det
  FROM t
), s AS (
  SELECT EXTRACT(hour FROM hr) AS hod,
         ROUND(CAST(SUM(det) AS DOUBLE) / COUNT(*), 6) AS seasonal
  FROM d GROUP BY 1
)
SELECT CAST(d.hr AS VARCHAR) AS hr, d.v, d.trend, s.seasonal,
       ROUND(CAST(d.det AS DOUBLE) - s.seasonal, 6) AS residual
FROM d JOIN s ON EXTRACT(hour FROM d.hr) = s.hod
"""


@register("ts_decompose_additive", oracle=_DECOMP_ORACLE)
def ts_decompose_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive decomposition of the hourly value series —
    value = TREND (centered 25-hour moving average) + SEASONAL
    (hour-of-day mean of the detrended series) + RESIDUAL — the
    classical-decomposition skeleton behind seasonal anomaly screens
    (events_anomaly_seasonal_hour is its single-component shortcut)
    and forecast baselines.

    Exactness chain: hourly sums decimal-exact → trend =
    decimal-frame-sum / frame-count (identical double division both
    engines) → detrended QUANTIZES to decimal before the hour-of-day
    mean (a raw double sum over days would be partition-order-
    dependent — the geomean lesson) → residual one double subtraction,
    rounded.

    Scale design: the corpus collapses to the hourly rollup in one
    keyed agg; everything downstream — centered MA, 24-row seasonal
    table, residual join — runs on the DIMENSION-sized series (the MA
    under a meta_part spec; at multi-year × per-key grain the same MA
    becomes the keyed two-pass form, machinery already in-repo)."""
    ev = table(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        dsum("value").alias("v")
    )
    w = (
        Window.partitionBy(meta_part("v"))
        .orderBy("hr")
        .rowsBetween(-12, 12)
    )
    t = h.select(
        "hr",
        "v",
        F.round(
            F.sum(F.col("v").cast("decimal(27,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
            6,
        ).alias("trend"),
    )
    d = t.withColumn(
        "det", F.round(F.col("v") - F.col("trend"), 6).cast("decimal(27,6)")
    ).withColumn("hod", F.hour("hr"))
    s = d.groupBy("hod").agg(
        F.round(
            F.sum("det").cast("double") / F.count(F.lit(1)), 6
        ).alias("seasonal")
    )
    return d.join(F.broadcast(s), "hod").select(
        F.col("hr").cast("string").alias("hr"),
        "v",
        "trend",
        "seasonal",
        F.round(F.col("det").cast("double") - F.col("seasonal"), 6).alias(
            "residual"
        ),
    )


# ---------------------------------------------------------------------------
# events_ab_diff_in_diff — difference-in-differences readout
# ---------------------------------------------------------------------------

_DID_SPLIT = "2024-01-16"

_DID_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         {oracle_sum("CASE WHEN ts <  TIMESTAMP '" + _DID_SPLIT + "' THEN value ELSE 0 END")} AS pre,
         {oracle_sum("CASE WHEN ts >= TIMESTAMP '" + _DID_SPLIT + "' THEN value ELSE 0 END")} AS post,
         CAST(('0x' || substr(md5(user_id::VARCHAR || '|did'), 1, 8))
              AS BIGINT) % 2 AS treated
  FROM events GROUP BY user_id
), g AS (
  SELECT treated, CAST(COUNT(*) AS DOUBLE) AS n,
         {oracle_sum('pre')} AS spre, {oracle_sum('post')} AS spost
  FROM u GROUP BY treated
)
SELECT t.n AS n_treated, c.n AS n_control,
       ROUND(t.spost / t.n - t.spre / t.n, 6) AS delta_treated,
       ROUND(c.spost / c.n - c.spre / c.n, 6) AS delta_control,
       ROUND((t.spost / t.n - t.spre / t.n)
             - (c.spost / c.n - c.spre / c.n), 6) AS did_estimate
FROM (SELECT * FROM g WHERE treated = 1) t
CROSS JOIN (SELECT * FROM g WHERE treated = 0) c
"""


@register("events_ab_diff_in_diff", oracle=_DID_ORACLE)
def events_ab_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: (treated post − pre) − (control post
    − pre) — the quasi-experimental estimator for rollouts WITHOUT
    clean randomization (staged launches, geo splits), where raw
    post-period comparison confounds with pre-existing group
    differences; DiD nets out both the group baseline and the shared
    time trend. Completes the experimentation trio: CVR readout
    (ab_test), variance reduction (CUPED), quasi-experiment (this).

    Exactness: the per-user pre/post sums are decimal-exact; every
    mean and delta reduces to sufficient statistics, so both engines
    run the identical double expression — no per-user accumulation
    order exists. Assignment = seeded md5 of user_id.

    Scale: one user-keyed aggregation + a 2-row group table; the
    readout is a 1-row cross of the two groups."""
    ev = table(spark, sf_dir, "events")
    split = F.lit(_DID_SPLIT).cast("timestamp_ntz")
    treated = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit("|did"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    u = ev.groupBy("user_id").agg(
        dsum(F.when(F.col("ts") < split, F.col("value")).otherwise(0.0)).alias(
            "pre"
        ),
        dsum(
            F.when(F.col("ts") >= split, F.col("value")).otherwise(0.0)
        ).alias("post"),
    ).withColumn("treated", treated)
    g = u.groupBy("treated").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("pre").alias("spre"),
        dsum("post").alias("spost"),
    )
    t = g.where("treated = 1").alias("t")
    c = g.where("treated = 0").alias("c")
    d_t = F.col("t.spost") / F.col("t.n") - F.col("t.spre") / F.col("t.n")
    d_c = F.col("c.spost") / F.col("c.n") - F.col("c.spre") / F.col("c.n")
    return t.crossJoin(c).select(
        F.col("t.n").alias("n_treated"),
        F.col("c.n").alias("n_control"),
        F.round(d_t, 6).alias("delta_treated"),
        F.round(d_c, 6).alias("delta_control"),
        F.round(d_t - d_c, 6).alias("did_estimate"),
    )


# ---------------------------------------------------------------------------
# events_velocity_flag — sliding-window velocity rule (fraud screen)
# ---------------------------------------------------------------------------

_VEL_WINDOW_US = 12 * 3600 * 10**6  # 12 hours (fixture-calibrated)
_VEL_N = 3  # purchases within the window that trip the rule

_VELOCITY_ORACLE = f"""
WITH p AS (
  SELECT event_id, user_id, ts, epoch_us(ts) AS us
  FROM events WHERE event_type = 'purchase'
)
SELECT event_id, user_id, CAST(ts AS VARCHAR) AS ts,
       CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY us
                           RANGE BETWEEN {_VEL_WINDOW_US} PRECEDING
                                     AND CURRENT ROW) AS BIGINT)
         AS n_in_window
FROM p
QUALIFY n_in_window >= {_VEL_N}
"""


@register("events_velocity_flag", oracle=_VELOCITY_ORACLE)
def events_velocity_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity rule — flag every purchase that is the ≥3rd by its user
    within a trailing 12-hour window: the canonical card-fraud /
    abuse screen ("too many, too fast"), and the COUNT form of the
    trailing RANGE frame (win_time_range_trailing is the SUM form).
    The window is calibrated to the fixture's purchase density (42
    flags at sf0.01) — a card-fraud deployment shrinks it to minutes,
    the plan is identical.

    The frame counts the triggering event itself (RANGE ... AND
    CURRENT ROW), so the rule reads "this is the Nth within the
    window" — same-microsecond peers count together, making the flag
    tie-order-independent. Exact integer-µs frame both engines.

    Scale design: one user-keyed shuffle, incremental frame state
    bounded by the window's event count; the streaming twin is the
    t2 sliding-window count with the same keys."""
    p = table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-_VEL_WINDOW_US, 0)
    )
    return (
        p.select(
            "event_id",
            "user_id",
            F.col("ts").cast("string").alias("ts"),
            F.count(F.lit(1)).over(w).alias("n_in_window"),
        )
        .where(F.col("n_in_window") >= _VEL_N)
    )


# ---------------------------------------------------------------------------
# ts_holt_linear_trend — coupled-state exponential smoothing
# ---------------------------------------------------------------------------

_HOLT_A = 0.3  # level smoothing
_HOLT_B = 0.1  # trend smoothing

_HOLT_ORACLE = f"""
WITH RECURSIVE seq AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), r AS (
  SELECT user_id, event_id, rn, CAST(value AS DOUBLE) AS lvl,
         CAST(0.0 AS DOUBLE) AS trd
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.event_id, s.rn,
         {_HOLT_A} * s.value + (1 - {_HOLT_A}) * (r.lvl + r.trd),
         {_HOLT_B} * (({_HOLT_A} * s.value
                       + (1 - {_HOLT_A}) * (r.lvl + r.trd)) - r.lvl)
           + (1 - {_HOLT_B}) * r.trd
  FROM r JOIN seq s ON s.user_id = r.user_id AND s.rn = r.rn + 1
)
SELECT user_id, event_id, FLOOR(lvl * 1e6) / 1e6 AS level,
       FLOOR(trd * 1e6) / 1e6 AS trend,
       FLOOR((lvl + trd) * 1e6) / 1e6 AS forecast_next
FROM r
"""


@register("ts_holt_linear_trend", oracle=_HOLT_ORACLE)
def ts_holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend smoothing per user — TWO COUPLED recursions
    (level ℓ_t = αx + (1−α)(ℓ+b); trend b_t = β(ℓ_t−ℓ) + (1−β)b) with
    a one-step-ahead forecast ℓ+b — the next rung past EWMA on the
    forecasting ladder, and proof the applyInPandas-fold ↔
    recursive-CTE parity machinery generalizes to MULTI-VARIABLE
    state (EWMA: one double; this: two, mutually dependent within a
    step — the level update feeds the same step's trend update, an
    ordering the fold and the CTE must agree on exactly, and do).

    Same literal-expression bit parity as EWMA/CUSUM: identical
    double ops in identical order; outputs floor-quantize
    (parity.fquant, tie-free cross-engine).
    Sequential per user, parallel across users, O(1) state."""
    import pandas as pd

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "event_id"])
        lvls, trds = [], []
        lvl = trd = None
        for x in pdf["value"].to_numpy():
            x = float(x)
            if lvl is None:
                lvl, trd = x, 0.0
            else:
                new_lvl = _HOLT_A * x + (1 - _HOLT_A) * (lvl + trd)
                trd = _HOLT_B * (new_lvl - lvl) + (1 - _HOLT_B) * trd
                lvl = new_lvl
            lvls.append(lvl)
            trds.append(trd)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "lvl": lvls,
                "trd": trds,
            }
        )

    return (
        ev.groupBy("user_id")
        .applyInPandas(
            fold, "user_id long, event_id long, lvl double, trd double"
        )
        .select(
            "user_id",
            "event_id",
            fquant("lvl").alias("level"),
            fquant("trd").alias("trend"),
            fquant(F.col("lvl") + F.col("trd")).alias("forecast_next"),
        )
    )


# ---------------------------------------------------------------------------
# orders_duplicate_payments — near-duplicate transaction screen
# ---------------------------------------------------------------------------

_DUPPAY_AMT = 500.0  # amount proximity
_DUPPAY_DAYS = 30  # temporal proximity

_DUPPAY_ORACLE = f"""
SELECT a.o_orderkey AS order_a, b.o_orderkey AS order_b,
       a.o_custkey AS custkey,
       FLOOR(ABS(a.o_totalprice - b.o_totalprice) * 1e6) / 1e6
         AS amount_delta,
       datediff('day', CAST(a.o_orderdate AS DATE),
                CAST(b.o_orderdate AS DATE)) AS days_apart
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
WHERE ABS(a.o_totalprice - b.o_totalprice) <= {_DUPPAY_AMT}
  AND ABS(datediff('day', CAST(a.o_orderdate AS DATE),
                   CAST(b.o_orderdate AS DATE))) <= {_DUPPAY_DAYS}
"""


@register("orders_duplicate_payments", oracle=_DUPPAY_ORACLE)
def orders_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate TRANSACTION screen: same customer, amounts within
    $500, dates within 30 days — the double-charge / resubmitted-
    invoice detector, which is exactly the near-dup problem in one
    numeric dimension (exact-match dedup finds NOTHING here — zero
    exact amount collisions in the fixture — which is why finance
    dedup must band, not group).

    Scale design: candidates block on (customer, amount-band) with
    each order probing its own and both adjacent bands (1-D version
    of the geo grid's 3×3 — a ±δ pair cannot span more than two
    δ-wide bands, so blocking is provably complete, and the BRUTE-
    FORCE per-customer oracle value-checks that); exact |Δ| predicates
    verify only co-band candidates. Per-customer order counts bound
    the worst case; the amount band keeps even whale customers
    sub-quadratic."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("od"),
    )
    band = F.floor(F.col("o_totalprice") / _DUPPAY_AMT).cast("long")
    # probe ±1 band: the a<b role assignment is by ORDER KEY, so the
    # probe side can sit in either the lower or higher band of a pair
    probe = o.select(
        "*", F.explode(F.array(band - 1, band, band + 1)).alias("band")
    )
    build = o.withColumn("band", band)
    a = probe.alias("a")
    b = build.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .where(
            (
                F.abs(F.col("a.o_totalprice") - F.col("b.o_totalprice"))
                <= _DUPPAY_AMT
            )
            & (
                F.abs(F.datediff(F.col("b.od"), F.col("a.od")))
                <= _DUPPAY_DAYS
            )
        )
        .select(
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            F.col("a.o_custkey").alias("custkey"),
            (
                F.floor(
                    F.abs(
                        F.col("a.o_totalprice") - F.col("b.o_totalprice")
                    )
                    * 1e6
                )
                / 1e6
            ).alias("amount_delta"),
            F.datediff(F.col("b.od"), F.col("a.od")).alias("days_apart"),
        )
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# orders_currency_conversion — multi-currency money math, decimal-safe
# ---------------------------------------------------------------------------

_FX = [("USD", "1.0"), ("EUR", "1.08"), ("JPY", "0.0068")]
_FX_SQL = ", ".join(f"('{c}', {r})" for c, r in _FX)

_FX_ORACLE = f"""
WITH fx(currency, rate) AS (VALUES {_FX_SQL}),
o AS (
  SELECT o_orderkey, o_totalprice,
         CASE o_custkey % 3 WHEN 0 THEN 'USD' WHEN 1 THEN 'EUR'
              ELSE 'JPY' END AS currency
  FROM orders
)
SELECT o.o_orderkey, o.currency,
       CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
         AS amount_local,
       CAST(FLOOR(CAST(o.o_totalprice AS DECIMAL(18,2))
                  * CAST(rate AS DECIMAL(18,6)) * 100) / 100 AS DOUBLE)
         AS amount_usd
FROM o JOIN fx USING (currency)
"""


@register("orders_currency_conversion", oracle=_FX_ORACLE)
def orders_currency_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-currency normalization — local amounts × a broadcast FX
    rate table → settlement currency, with MONEY-SAFE arithmetic:
    amounts and rates are DECIMAL end-to-end (a double would drift on
    exactly the JPY-sized magnitudes regulators audit), and the cent
    rounding is an EXPLICIT FLOOR-to-cents — not the engine's decimal
    multiply scale rules, which differ (Spark truncates the product
    scale with HALF_UP at 38 digits, DuckDB widens; pinning the
    quantization in the query is the only portable money contract.)
    Currency assignment is planted (custkey mod 3 — the fixture has
    no currency column), mirrored in the oracle.

    Scale design: the rate table is configuration (broadcast); the
    conversion is one codegen'd decimal projection. Rate-AS-OF-date
    joins ride join_point_in_time's machinery when rates become a
    time series."""
    fx = spark.createDataFrame(
        [(c, r) for c, r in _FX], "currency string, rate_s string"
    ).select("currency", F.col("rate_s").cast("decimal(18,6)").alias("rate"))
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("amount_local"),
        F.when(F.col("o_custkey") % 3 == 0, "USD")
        .when(F.col("o_custkey") % 3 == 1, "EUR")
        .otherwise("JPY")
        .alias("currency"),
    )
    # decimal math INSIDE the plan; the OUTPUT casts to double (cent
    # values are double-exact) because pandas renders Spark decimals as
    # Decimal objects and DuckDB's as float64 — the canonicalizer would
    # compare reprs unequal (the date-doctrine sibling for money)
    return o.join(F.broadcast(fx), "currency").select(
        "o_orderkey",
        "currency",
        F.col("amount_local").cast("double").alias("amount_local"),
        (F.floor(F.col("amount_local") * F.col("rate") * 100) / 100)
        .cast("double")
        .alias("amount_usd"),
    )


# ---------------------------------------------------------------------------
# ts_ewma_control_chart — SPC flags against the smoothed baseline
# ---------------------------------------------------------------------------

_ECC_L = 3.0  # control limit width in sigma units

_ECC_ORACLE = f"""
WITH RECURSIVE seq AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), r AS (
  SELECT user_id, event_id, rn, CAST(value AS DOUBLE) AS ewma
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.event_id, s.rn, 0.3 * s.value + 0.7 * r.ewma
  FROM r JOIN seq s ON s.user_id = r.user_id AND s.rn = r.rn + 1
), g AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value * value AS DECIMAL(27,6))) AS DOUBLE) AS sxx
  FROM events
), lim AS (
  SELECT {_ECC_L} * sqrt((sxx - sx * sx / n) / (n - 1)
                         * (0.3 / (2 - 0.3))) AS width
  FROM g
), joined AS (
  SELECT seq.user_id, seq.event_id, seq.value,
         LAG(r.ewma) OVER (PARTITION BY seq.user_id ORDER BY seq.rn)
           AS baseline
  FROM seq JOIN r ON seq.user_id = r.user_id AND seq.rn = r.rn
)
SELECT user_id, event_id, value,
       FLOOR(baseline * 1e6) / 1e6 AS baseline,
       ABS(value - baseline) > width AS out_of_control
FROM joined CROSS JOIN lim
WHERE baseline IS NOT NULL
"""


@register("ts_ewma_control_chart", oracle=_ECC_ORACLE)
def ts_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (Roberts 1959 / SPC): each observation tests
    against the PREVIOUS smoothed baseline ± L·σ_ewma, where σ_ewma =
    σ·√(α/(2−α)) — the steady-state standard deviation of the EWMA
    statistic itself (narrower than raw σ: smoothing suppresses
    variance, so raw-σ limits would under-alarm). Flags small
    SUSTAINED shifts CUSUM-style point rules miss; "previous" matters
    — testing against a baseline that already absorbed the new point
    dilutes exactly the signal being tested.

    Composition: the EWMA fold (bit-parity recursion) → one lag per
    user (same keyed shuffle) → global σ from decimal-exact sufficient
    stats broadcast as a 1-row limit. Comparison operands are
    identical doubles both engines, so even the boolean flag is
    hash-exact."""
    import pandas as pd

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "event_id"])
        out, y = [], None
        for x in pdf["value"].to_numpy():
            y = float(x) if y is None else 0.3 * float(x) + 0.7 * y
            out.append(y)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "ewma": out,
            }
        )

    sm = ev.groupBy("user_id").applyInPandas(
        fold, "user_id long, event_id long, ewma double"
    )
    g = ev.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("value").alias("sx"),
        dsum(F.col("value") * F.col("value")).alias("sxx"),
    )
    width = (
        F.lit(_ECC_L)
        * F.sqrt(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            / (F.col("n") - 1)
            * (0.3 / (2 - 0.3))
        )
    ).alias("width")
    lim = g.select(width)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    joined = (
        ev.join(sm, ["user_id", "event_id"])
        .withColumn("baseline", F.lag("ewma").over(w))
        .where(F.col("baseline").isNotNull())
        .crossJoin(F.broadcast(lim))
    )
    return joined.select(
        "user_id",
        "event_id",
        "value",
        fquant("baseline").alias("baseline"),
        (F.abs(F.col("value") - F.col("baseline")) > F.col("width")).alias(
            "out_of_control"
        ),
    )


# ---------------------------------------------------------------------------
# events_feature_drift_psi — population stability index (ML monitoring)
# ---------------------------------------------------------------------------

_PSI_SPLIT = "2024-01-16"
_PSI_BINS = 10

_PSI_ORACLE = f"""
WITH pre AS (
  SELECT value FROM events WHERE ts < TIMESTAMP '{_PSI_SPLIT}'
), post AS (
  SELECT value FROM events WHERE ts >= TIMESTAMP '{_PSI_SPLIT}'
), edges AS (
  SELECT ROUND(UNNEST(quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])), 6) AS edge
  FROM pre
), binned AS (
  SELECT era, rid, 1 + COUNT(e.edge) AS bin
  FROM (SELECT 'pre' AS era, value AS v,
               ROW_NUMBER() OVER (ORDER BY value) AS rid FROM pre
        UNION ALL
        SELECT 'post', value,
               ROW_NUMBER() OVER (ORDER BY value) AS rid FROM post) x
  LEFT JOIN edges e ON x.v > e.edge
  GROUP BY era, rid
), counts AS (
  SELECT bin,
         CAST(COUNT(*) FILTER (WHERE era = 'pre') AS DOUBLE) AS n_pre,
         CAST(COUNT(*) FILTER (WHERE era = 'post') AS DOUBLE) AS n_post
  FROM binned GROUP BY bin
), tot AS (
  SELECT SUM(n_pre) AS tp, SUM(n_post) AS tq FROM counts
)
SELECT CAST(bin AS INTEGER) AS bin,
       CAST(n_pre AS BIGINT) AS n_pre, CAST(n_post AS BIGINT) AS n_post,
       ROUND((GREATEST(n_post, 0.5) / tq - GREATEST(n_pre, 0.5) / tp)
             * ln((GREATEST(n_post, 0.5) / tq)
                  / (GREATEST(n_pre, 0.5) / tp)), 6) AS psi_term
FROM counts CROSS JOIN tot
"""


@register("events_feature_drift_psi", oracle=_PSI_ORACLE)
def events_feature_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — the ML-monitoring standard for
    feature drift: decile the REFERENCE (pre) period, count both
    periods into those fixed bins, PSI term = (q−p)·ln(q/p) per bin
    (Σ > 0.2 = retrain alarm). Reference-period edges are the
    contract: re-binning on the current period would hide exactly the
    drift being measured.

    Binning is oracle-mirrored via counting edges BELOW each value
    (v > edge count), so boundary ties resolve identically in both
    engines by construction — no bucket function semantics to align;
    edges themselves are ROUNDED exact percentiles (the a7 parity).

    Scale design: 9 edges from one exact-percentile pass over the
    reference (approx_percentile is the corpus-scale swap), broadcast
    as a 9-row table; binning is one join + count per (era, bin) —
    two map-side-combined aggregations; the PSI terms are a 10-row
    projection. Per-FEATURE drift sweeps add a feature key to every
    group-by, never passes."""
    ev = table(spark, sf_dir, "events")
    split = F.lit(_PSI_SPLIT).cast("timestamp_ntz")
    # rid keeps duplicate values distinct: PSI counts OBSERVATIONS,
    # not distinct values (the bin join groups per row, not per value)
    labeled = ev.select(
        F.when(F.col("ts") < split, "pre").otherwise("post").alias("era"),
        F.col("value").alias("v"),
        F.col("event_id").alias("rid"),
    )
    pre = labeled.where("era = 'pre'")
    edges = pre.agg(
        *[
            F.round(
                F.percentile(F.col("v"), F.lit(i / _PSI_BINS)), 6
            ).alias(f"e{i}")
            for i in range(1, _PSI_BINS)
        ]
    ).select(
        F.explode(
            F.array(*[F.col(f"e{i}") for i in range(1, _PSI_BINS)])
        ).alias("edge")
    )
    binned = (
        labeled.join(
            F.broadcast(edges), F.col("v") > F.col("edge"), "left"
        )
        .groupBy("era", "rid")
        .agg((1 + F.count("edge")).alias("bin"))
    )
    counts = binned.groupBy("bin").agg(
        F.count_if(F.col("era") == "pre").cast("double").alias("n_pre"),
        F.count_if(F.col("era") == "post").cast("double").alias("n_post"),
    )
    tot = counts.agg(
        F.sum("n_pre").alias("tp"), F.sum("n_post").alias("tq")
    )
    # ε-smoothing (max(count, 0.5)) — tied decile edges leave bins
    # empty and a raw PSI term divides by zero (ANSI errors loudly, the
    # classic PSI-implementation bug silent engines hide); 0.5 is the
    # standard continuity correction, mirrored in the oracle
    qp = F.greatest(F.col("n_post"), F.lit(0.5)) / F.col("tq")
    pp = F.greatest(F.col("n_pre"), F.lit(0.5)) / F.col("tp")
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("int").alias("bin"),
        F.col("n_pre").cast("long").alias("n_pre"),
        F.col("n_post").cast("long").alias("n_post"),
        F.round((qp - pp) * F.log(qp / pp), 6).alias("psi_term"),
    )


# ---------------------------------------------------------------------------
# orders_installments_split — decimal-exact payment schedule explode
# ---------------------------------------------------------------------------

_N_INST = 3

_INSTALL_ORACLE = f"""
WITH o AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS total,
         CAST(o_orderdate AS DATE) AS od
  FROM orders
), base AS (
  SELECT o_orderkey, od,
         CAST(total * 100 AS BIGINT) AS cents,
         CAST(total * 100 AS BIGINT) // {_N_INST} AS part_cents
  FROM o
)
SELECT o_orderkey, i AS installment_no,
       CAST(od + CAST((i - 1) * 30 AS INTEGER) AS VARCHAR) AS due_date,
       CAST(CASE WHEN i = 1
            THEN cents - {_N_INST - 1} * part_cents
            ELSE part_cents END AS DOUBLE) / 100 AS amount
FROM base, (SELECT UNNEST(range(1, {_N_INST} + 1)) AS i)
"""


@register("orders_installments_split", oracle=_INSTALL_ORACLE)
def orders_installments_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Installment-schedule explode: each order splits into 3 monthly
    payments that sum EXACTLY to the invoice — the billing-engine
    primitive where naive division loses cents (total/3 rounds to a
    sum ≠ total): amounts compute in INTEGER CENTS (int64 floor
    division; decimal division was tried first and the two engines'
    scale rules split the same total differently) with the FIRST
    installment carrying the remainder, so Σ amounts ≡ total by
    construction — enforced row-by-row by the oracle hash.

    Scale design: a bounded explode (×3) of a codegen'd decimal
    projection — no shuffle, no state; due dates are day arithmetic
    on DATE casts. Variable schedules (n per row) swap the literal
    for a column in the same sequence() expression."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("total"),
        F.col("o_orderdate").cast("date").alias("od"),
    )
    # INTEGER CENTS, not decimal division: the engines' decimal
    # division scale rules differ (observed: same total split to
    # different parts) — int64 floor-division is the only portable
    # money-split arithmetic, and exactness is by construction
    cents = (F.col("total") * 100).cast("long")
    base = o.withColumn("cents", cents).withColumn(
        "part_cents", (cents / _N_INST).cast("long")
    )
    return base.select(
        "o_orderkey",
        "cents",
        "part_cents",
        "od",
        F.explode(F.sequence(F.lit(1), F.lit(_N_INST))).alias(
            "installment_no"
        ),
    ).select(
        "o_orderkey",
        "installment_no",
        F.date_add("od", (F.col("installment_no") - 1) * 30)
        .cast("string")
        .alias("due_date"),
        (
            F.when(
                F.col("installment_no") == 1,
                F.col("cents") - (_N_INST - 1) * F.col("part_cents"),
            )
            .otherwise(F.col("part_cents"))
            .cast("double")
            / 100
        ).alias("amount"),
    )


# ---------------------------------------------------------------------------
# orders_survival_km — Kaplan-Meier customer-lifetime curve
# ---------------------------------------------------------------------------

_KM_CHURN_GAP = 90  # days without orders before the snapshot ⇒ churned

_KM_ORACLE = f"""
WITH life AS (
  SELECT o_custkey,
         datediff('day', MIN(CAST(o_orderdate AS DATE)),
                  MAX(CAST(o_orderdate AS DATE))) AS t,
         MAX(CAST(o_orderdate AS DATE)) AS last_d
  FROM orders GROUP BY o_custkey
), snap AS (SELECT MAX(last_d) AS snap_d FROM life),
lab AS (
  SELECT t, (datediff('day', last_d, snap_d) > {_KM_CHURN_GAP}) AS event
  FROM life CROSS JOIN snap
), n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0 FROM lab),
times AS (
  SELECT t, CAST(COUNT(*) FILTER (WHERE event) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS leaving
  FROM lab GROUP BY t
), risk AS (
  SELECT t, d,
         n0 - COALESCE(SUM(leaving) OVER (
           ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS n_at_risk
  FROM times CROSS JOIN n_tot
)
SELECT t, d, CAST(n_at_risk AS BIGINT) AS n_at_risk,
       ROUND(exp(CAST(SUM(CAST(ROUND(
           ln(1.0 - CAST(d AS DOUBLE) / n_at_risk), 12)
           AS DECIMAL(38,12))) OVER (
           ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 6)
         AS survival
FROM risk WHERE d > 0
"""


@register("orders_survival_km", oracle=_KM_ORACLE)
def orders_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival over customer lifetimes (first→last order
    span; churn = silent for >90 days before the snapshot date, else
    CENSORED): S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) — the estimator that makes
    censoring honest (naive churn curves that drop censored customers
    systematically understate survival), feeding LTV models and
    retention targets.

    Exactness: the running PRODUCT goes to log space with per-factor
    ln quantized to 12 dp before the order-independent decimal sum
    (the geomean discipline — a raw product is both overflow-prone
    and order-dependent); dᵢ/nᵢ are exact integer ratios.

    Scale design: the corpus collapses to one customer-keyed lifetime
    rollup; everything after — event times, at-risk counts, the
    cumulative log-sum — runs on the DIMENSION-sized distinct-time
    table (cumulative window under meta_part; the two-pass form is
    the corpus-keyed swap)."""
    life = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")),
                F.min(F.col("o_orderdate").cast("date")),
            ).alias("t"),
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        )
    )
    snap = life.agg(F.max("last_d").alias("snap_d"))
    lab = life.crossJoin(F.broadcast(snap)).select(
        "t",
        (F.datediff("snap_d", "last_d") > _KM_CHURN_GAP).alias("event"),
    )
    n0 = lab.count()
    per_t = lab.groupBy("t").agg(
        F.count_if("event").alias("d"),
        F.count(F.lit(1)).alias("leaving"),
    )
    w_prev = (
        Window.partitionBy(meta_part("t"))
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = per_t.withColumn(
        "n_at_risk",
        F.lit(n0) - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0)),
    ).where(F.col("d") > 0)
    lnf = F.round(
        F.log(1.0 - F.col("d").cast("double") / F.col("n_at_risk")), 12
    ).cast("decimal(38,12)")
    w_cum = (
        Window.partitionBy(meta_part("t"))
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return risk.select(
        "t",
        "d",
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.round(F.exp(F.sum(lnf).over(w_cum).cast("double")), 6).alias(
            "survival"
        ),
    )


# ---------------------------------------------------------------------------
# ts_autocorrelation — ACF of the hourly series at lags 1..24
# ---------------------------------------------------------------------------

_ACF_ORACLE = f"""
WITH h AS (
  SELECT CAST(epoch_us(date_trunc('hour', ts))
              // 3600000000 AS BIGINT) AS hidx,
         {oracle_sum('value')} AS v
  FROM events GROUP BY 1
), g AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {oracle_sum('v')} AS sx, {oracle_sum('v * v')} AS sxx
  FROM h
), pairs AS (
  SELECT lag, CAST(ROUND((a.v - sx / n) * (b.v - sx / n), 6)
                   AS DECIMAL(38,6)) AS prod
  FROM h a CROSS JOIN g
  JOIN (SELECT UNNEST(range(1, 25)) AS lag) l ON TRUE
  JOIN h b ON b.hidx = a.hidx + l.lag
)
SELECT CAST(lag AS INTEGER) AS lag,
       ROUND(CAST(SUM(prod) AS DOUBLE)
             / ((SELECT sxx - sx * sx / n FROM g)), 6) AS acf
FROM pairs GROUP BY lag
"""


@register("ts_autocorrelation", oracle=_ACF_ORACLE)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly value series at lags
    1-24 — the diagnostic that DETECTS seasonality (a 24-hour spike
    says "daily cycle": exactly what justifies the hour-of-day
    baselines the seasonal keys assume) and whether residuals are
    white after decomposition.

    ACF(k) = Σ(xₜ−x̄)(xₜ₊ₖ−x̄) / Σ(xₜ−x̄)² from decimal-exact hourly
    sums; each lag-k product quantizes to 6 dp before the
    order-independent decimal sum (the geomean discipline), and the
    denominator reduces to sufficient statistics.

    Scale design: corpus → one hourly rollup; the lag pairing is a
    self-equi-join on hour-index+k over the DIMENSION-sized series
    (×24 bounded lag explode); at per-key grain the same join keys on
    (key, hidx) and stays hash-partitioned."""
    from trireme_spark.operators.hints import cache_once

    ev = table(spark, sf_dir, "events")
    h = ev.groupBy(
        (
            F.unix_micros(F.date_trunc("hour", "ts").cast("timestamp"))
            / (3600 * 10**6)
        )
        .cast("long")
        .alias("hidx")
    ).agg(dsum("value").alias("v"))
    # calendar-bounded hourly rollup, consumed by the moment frame and
    # BOTH sides of the lag self-join — uncached, each consumer replays
    # the corpus aggregation (3 events scans in the before plan; the
    # ts_ar1_fit lesson applied to the ACF family)
    h = cache_once(h)
    # dsum_wide: v is an HOURLY total (corpus-growing; v·v would pass
    # the split-long per-row cap at larger corpora) and this fold runs
    # over calendar-bounded hour rows — wide is free (r15 audit).
    g = h.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum_wide("v").alias("sx"),
        dsum_wide(F.col("v") * F.col("v")).alias("sxx"),
    )
    lags = spark.range(1, 25).select(F.col("id").cast("int").alias("lag"))
    a = h.alias("a").crossJoin(F.broadcast(g)).crossJoin(F.broadcast(lags))
    b = h.select(
        F.col("hidx").alias("bhidx"), F.col("v").alias("bv")
    )
    prod = F.round(
        (F.col("a.v") - F.col("sx") / F.col("n"))
        * (F.col("bv") - F.col("sx") / F.col("n")),
        6,
    ).cast("decimal(38,6)")
    pairs = a.join(
        b, F.col("bhidx") == F.col("a.hidx") + F.col("lag")
    ).select("lag", prod.alias("prod"), "sxx", "sx", "n")
    return pairs.groupBy("lag", "sxx", "sx", "n").agg(
        F.sum("prod").alias("num")
    ).select(
        "lag",
        F.round(
            F.col("num").cast("double")
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")),
            6,
        ).alias("acf"),
    )


# ---------------------------------------------------------------------------
# events_bot_regularity — inter-event-timing bot heuristic
# ---------------------------------------------------------------------------

_BOT_ORACLE = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(LAG(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id)) AS gap
  FROM events
), s AS (
  SELECT user_id, CAST(COUNT(gap) AS DOUBLE) AS n,
         CAST(SUM(CAST(gap AS DECIMAL(18,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(gap AS HUGEINT) * CAST(gap AS HUGEINT))
              AS DOUBLE) AS sxx
  FROM g WHERE gap IS NOT NULL GROUP BY user_id
  HAVING COUNT(gap) >= 10
)
SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
       FLOOR(sqrt((sxx - sx * sx / n) / (n - 1)) / (sx / n) * 1e6) / 1e6
         AS gap_cv,
       FLOOR(sqrt((sxx - sx * sx / n) / (n - 1)) / (sx / n) * 1e6) / 1e6
         < 0.3 AS bot_suspect
FROM s
"""


@register("events_bot_regularity", oracle=_BOT_ORACLE)
def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation detection by TIMING REGULARITY: the coefficient
    of variation of a user's inter-event gaps — humans are bursty
    (CV ≈ 1 for Poisson-ish arrivals, higher with sessions), schedulers
    and scripts are metronomic (CV → 0); the cheap first-pass filter
    before behavioral models, and a corpus-curation signal (scraped/
    synthetic interaction logs score low).

    Exactness: gaps are exact integer µs (one lag window); CV from
    decimal-exact Σgap/Σgap² per user; floor-quantized at 1e-6 so the
    0.3 flag threshold cannot wobble. Users need ≥10 gaps (CV is
    noise below that — the PSI support-floor doctrine).

    Scale: one user-keyed window + one keyed aggregation, both on the
    same shuffle."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    g = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap")
    ).where(F.col("gap").isNotNull())
    s = (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(F.col("gap").cast("decimal(18,0)"))
            .cast("double")
            .alias("sx"),
            # cast BEFORE multiplying: µs gaps square past int64 (ANSI
            # overflow error caught on first run — decimal(18)² stays
            # inside decimal(38))
            F.sum(
                F.col("gap").cast("decimal(18,0)")
                * F.col("gap").cast("decimal(18,0)")
            )
            .cast("double")
            .alias("sxx"),
        )
        .where(F.col("n") >= 10)
    )
    cv = (
        F.floor(
            F.sqrt(
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                / (F.col("n") - 1)
            )
            / (F.col("sx") / F.col("n"))
            * 1e6
        )
        / 1e6
    )
    return s.select(
        "user_id",
        F.col("n").cast("long").alias("n_gaps"),
        cv.alias("gap_cv"),
        (cv < 0.3).alias("bot_suspect"),
    )


# ---------------------------------------------------------------------------
# events_metric_decomposition — mix-vs-rate change attribution
# ---------------------------------------------------------------------------

_MIXDECOMP_SPLIT = "2024-01-16"

_MIXDECOMP_ORACLE = f"""
WITH seg AS (
  SELECT CASE WHEN ts < TIMESTAMP '{_MIXDECOMP_SPLIT}'
              THEN 'p0' ELSE 'p1' END AS period,
         user_id % 4 AS segment,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(COUNT(*) FILTER (WHERE event_type = 'purchase')
              AS DOUBLE) AS conv
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT period, SUM(n) AS tn FROM seg GROUP BY period
), m AS (
  SELECT s.segment,
         MAX(CASE WHEN s.period = 'p0' THEN s.n / t.tn END) AS share0,
         MAX(CASE WHEN s.period = 'p1' THEN s.n / t.tn END) AS share1,
         MAX(CASE WHEN s.period = 'p0' THEN s.conv / s.n END) AS rate0,
         MAX(CASE WHEN s.period = 'p1' THEN s.conv / s.n END) AS rate1
  FROM seg s JOIN tot t USING (period) GROUP BY s.segment
)
SELECT CAST(segment AS BIGINT) AS segment,
       ROUND((share1 - share0) * rate0, 6) AS mix_effect,
       ROUND(share1 * (rate1 - rate0), 6) AS rate_effect,
       ROUND(share1 * rate1 - share0 * rate0, 6) AS total_delta
FROM m
"""


@register("events_metric_decomposition", oracle=_MIXDECOMP_ORACLE)
def events_metric_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Why did the metric move?" — period-over-period conversion-rate
    change DECOMPOSED per segment into MIX effect ((Δshare)·rate₀ —
    traffic moved between segments) and RATE effect (share₁·Δrate —
    segments themselves converted differently); the two sum to each
    segment's contribution and across segments to the headline delta
    (the decomposition identity: Δ = Σ mix + Σ rate). This is the
    analyst question every dashboard ends at, as algebra instead of
    eyeballing.

    Exactness: shares and rates are exact-count ratios; all four per-
    segment statistics pivot out of ONE (period, segment) aggregation;
    effects are single double expressions rounded at 6.

    Scale: one corpus aggregation to |periods|×|segments| rows;
    everything after is dimension-sized."""
    ev = table(spark, sf_dir, "events")
    split = F.lit(_MIXDECOMP_SPLIT).cast("timestamp_ntz")
    seg = ev.groupBy(
        F.when(F.col("ts") < split, "p0").otherwise("p1").alias("period"),
        (F.col("user_id") % 4).alias("segment"),
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count_if(F.col("event_type") == "purchase")
        .cast("double")
        .alias("conv"),
    )
    tot = seg.groupBy("period").agg(F.sum("n").alias("tn"))
    m = (
        seg.join(tot, "period")
        .groupBy("segment")
        .agg(
            F.max(
                F.when(F.col("period") == "p0", F.col("n") / F.col("tn"))
            ).alias("share0"),
            F.max(
                F.when(F.col("period") == "p1", F.col("n") / F.col("tn"))
            ).alias("share1"),
            F.max(
                F.when(
                    F.col("period") == "p0", F.col("conv") / F.col("n")
                )
            ).alias("rate0"),
            F.max(
                F.when(
                    F.col("period") == "p1", F.col("conv") / F.col("n")
                )
            ).alias("rate1"),
        )
    )
    return m.select(
        "segment",
        F.round((F.col("share1") - F.col("share0")) * F.col("rate0"), 6).alias(
            "mix_effect"
        ),
        F.round(
            F.col("share1") * (F.col("rate1") - F.col("rate0")), 6
        ).alias("rate_effect"),
        F.round(
            F.col("share1") * F.col("rate1")
            - F.col("share0") * F.col("rate0"),
            6,
        ).alias("total_delta"),
    )


# ---------------------------------------------------------------------------
# orders_segment_migration — customer value-tier transition matrix
# ---------------------------------------------------------------------------

_SEGMIG_SPLIT = "1996-07-01"

_SEGMIG_ORACLE = f"""
WITH spend AS (
  SELECT o_custkey,
         CASE WHEN o_orderdate < TIMESTAMP '{_SEGMIG_SPLIT}'
              THEN 'p0' ELSE 'p1' END AS period,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS s
  FROM orders GROUP BY 1, 2
), med AS (
  SELECT period, ROUND(quantile_cont(s, 0.5), 4) AS m
  FROM spend GROUP BY period
), tier AS (
  SELECT o_custkey, spend.period,
         CASE WHEN s >= m THEN 'high' ELSE 'low' END AS tier
  FROM spend JOIN med ON spend.period = med.period
), paired AS (
  SELECT a.o_custkey,
         a.tier AS tier_p0, COALESCE(b.tier, 'inactive') AS tier_p1
  FROM (SELECT * FROM tier WHERE period = 'p0') a
  LEFT JOIN (SELECT * FROM tier WHERE period = 'p1') b
    ON a.o_custkey = b.o_custkey
)
SELECT tier_p0, tier_p1, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM paired GROUP BY tier_p0, tier_p1
"""


@register("orders_segment_migration", oracle=_SEGMIG_ORACLE)
def orders_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer value-tier MIGRATION matrix: each customer tiers
    high/low against their period's own median spend, and the matrix
    counts tier transitions between halves (including → 'inactive',
    the churn cell) — the CRM view behind "are we upgrading or
    leaking customers", and the discrete sibling of the RFM key
    (re-tiering per period is the point: tiers are relative to the
    cohort, so a rising market doesn't inflate everyone into 'high').

    Exactness: per-period medians are exact percentiles (ROUND 4 —
    the a7 parity) over decimal-exact customer spends; the ≥ cut on
    the rounded median is identical both engines.

    Scale: one (customer, period) rollup; medians are a 2-row
    broadcast; the matrix is a ≤3×2-cell count. The per-period
    median at corpus-keyed cardinality swaps to approx_percentile
    (the documented tier)."""
    from trireme_spark.operators.hints import cache_once

    o = table(spark, sf_dir, "orders")
    split = F.lit(_SEGMIG_SPLIT).cast("timestamp_ntz")
    # customer×2-period grain, consumed by the median leg AND the tier
    # probe — uncached, each consumer replays the corpus rollup (4
    # orders scans in the before plan)
    spend = cache_once(
        o.groupBy(
            "o_custkey",
            F.when(F.col("o_orderdate") < split, "p0")
            .otherwise("p1")
            .alias("period"),
        ).agg(dsum("o_totalprice").alias("s"))
    )
    med = spend.groupBy("period").agg(
        F.round(F.percentile(F.col("s"), F.lit(0.5)), 4).alias("m")
    )
    tier = spend.join(F.broadcast(med), "period").select(
        "o_custkey",
        "period",
        F.when(F.col("s") >= F.col("m"), "high")
        .otherwise("low")
        .alias("tier"),
    )
    a = tier.where("period = 'p0'").select(
        "o_custkey", F.col("tier").alias("tier_p0")
    )
    b = tier.where("period = 'p1'").select(
        "o_custkey", F.col("tier").alias("tier_p1")
    )
    paired = a.join(b, "o_custkey", "left").select(
        "tier_p0",
        F.coalesce("tier_p1", F.lit("inactive")).alias("tier_p1"),
    )
    return paired.groupBy("tier_p0", "tier_p1").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


# ---------------------------------------------------------------------------
# orders_cycle_time — order-to-first-ship cycle time distribution
# ---------------------------------------------------------------------------

_CYCLE_ORACLE = """
WITH c AS (
  SELECT o.o_orderkey, o.o_orderpriority,
         datediff('day', CAST(o.o_orderdate AS DATE),
                  MIN(CAST(l.l_shipdate AS DATE))) AS cycle_days
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(quantile_cont(cycle_days, 0.5), 4) AS p50_days,
       ROUND(quantile_cont(cycle_days, 0.9), 4) AS p90_days,
       CAST(MAX(cycle_days) AS BIGINT) AS max_days
FROM c GROUP BY o_orderpriority
"""


@register("orders_cycle_time", oracle=_CYCLE_ORACLE)
def orders_cycle_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-shipment CYCLE TIME distribution per priority —
    the fulfillment SLA view (does '1-URGENT' actually ship faster?):
    cycle = first line shipped minus order date, summarized as
    p50/p90/max. The operational twin of events_funnel_latency on the
    commerce tables, and the query shape of every lead-time dashboard
    (swap ship for delivery/receipt dates unchanged).

    Exactness: day arithmetic on DATE casts; exact percentiles with
    the a7 ROUND(4) parity; per-order first-ship is one keyed MIN.

    Scale: one fact-keyed join+MIN collapse (AQE co-partitions on
    orderkey), then a 5-group percentile over order-grain rows —
    approx_percentile is the corpus-scale swap."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    c = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(
            F.datediff(
                F.min(F.col("l_shipdate").cast("date")),
                F.col("o_orderdate").cast("date"),
            ).alias("cycle_days")
        )
    )
    return c.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.percentile(F.col("cycle_days"), F.lit(0.5)), 4).alias(
            "p50_days"
        ),
        F.round(F.percentile(F.col("cycle_days"), F.lit(0.9)), 4).alias(
            "p90_days"
        ),
        F.max("cycle_days").cast("long").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# ts_supervised_lag_features — forecasting feature-frame builder
# ---------------------------------------------------------------------------

_LAGFEAT_ORACLE = """
SELECT user_id, event_id, value,
       LAG(value, 1) OVER w AS lag1,
       LAG(value, 2) OVER w AS lag2,
       LAG(value, 3) OVER w AS lag3,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS DOUBLE)
         / COUNT(*) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 6) AS roll_mean3,
       LEAD(value, 1) OVER w AS target_next
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
QUALIFY lag3 IS NOT NULL AND target_next IS NOT NULL
"""


@register("ts_supervised_lag_features", oracle=_LAGFEAT_ORACLE)
def ts_supervised_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised feature-frame builder for sequence forecasting: per
    event, lags 1-3, the trailing-3 mean computed over STRICTLY PRIOR
    rows (frame ends at 1 PRECEDING — including the current row is the
    classic feature-leakage bug this key exists to pin), and the
    LEAD(1) target — the exact table a gradient-boosted forecaster
    trains on. Edge rows without full history or a target DROP
    (incomplete feature vectors poison training silently; the outer
    variant imputes instead — fn_explode_outer_semantics' lesson
    applied to frames).

    All features ride ONE user-keyed shuffle (every window shares the
    partition+order); the rolling mean is decimal-exact sum /
    frame count. At 100 TB this is the shape feature-store
    materialization jobs run nightly per entity."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-3, -1)
    out = ev.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value", 1).over(w).alias("lag1"),
        F.lag("value", 2).over(w).alias("lag2"),
        F.lag("value", 3).over(w).alias("lag3"),
        F.round(
            F.sum(F.col("value").cast(DSCALE)).over(wf).cast("double")
            / F.count(F.lit(1)).over(wf),
            6,
        ).alias("roll_mean3"),
        F.lead("value", 1).over(w).alias("target_next"),
    )
    return out.where(
        F.col("lag3").isNotNull() & F.col("target_next").isNotNull()
    )


# ---------------------------------------------------------------------------
# ts_ar1_fit — first-order autoregressive fit + one-step forecast
# ---------------------------------------------------------------------------

_AR1_ORACLE = f"""
WITH h AS (
  SELECT CAST(epoch_us(date_trunc('hour', ts))
              // 3600000000 AS BIGINT) AS hidx,
         {oracle_sum('value')} AS v
  FROM events GROUP BY 1
), p AS (
  SELECT a.v AS x, b.v AS y
  FROM h a JOIN h b ON b.hidx = a.hidx + 1
), s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {oracle_sum('x')} AS sx, {oracle_sum('y')} AS sy,
         {oracle_sum('x * x')} AS sxx, {oracle_sum('x * y')} AS sxy
  FROM p
), fit AS (
  SELECT (sxy - sx * sy / n) / (sxx - sx * sx / n) AS phi,
         sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx / n AS c
  FROM s
), last_v AS (
  SELECT v FROM h ORDER BY hidx DESC LIMIT 1
)
SELECT ROUND(phi, 4) AS phi, ROUND(c, 4) AS intercept,
       ROUND(c + phi * v, 4) AS forecast_next
FROM fit CROSS JOIN last_v
"""


@register("ts_ar1_fit", oracle=_AR1_ORACLE)
def ts_ar1_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(1) fit of the hourly series — xₜ₊₁ = c + φ·xₜ by OLS on
    consecutive pairs, plus the one-step forecast from the last
    observation: the simplest model that BEATS seasonal-naive when
    shocks persist (φ measures exactly that persistence; φ≈0 says
    yesterday tells you nothing, the ACF key's lag-1 value in
    model form).

    Exactness: pairs from the hour-index self-join; OLS from
    decimal-exact sufficient statistics; outputs ROUND(4) (the
    coarse-grid doctrine — the Zipf lesson about >15-digit decimal
    casts applies to any OLS over large sums).

    Scale: hourly rollup → one +1-offset self-join → 1-row fit; the
    per-key variant adds the key to every join/group."""
    ev = table(spark, sf_dir, "events")
    h = ev.groupBy(
        (
            F.unix_micros(F.date_trunc("hour", "ts").cast("timestamp"))
            / (3600 * 10**6)
        )
        .cast("long")
        .alias("hidx")
    ).agg(dsum("value").alias("v"))
    # One corpus rollup, not three: h feeds the +1-offset self-join
    # (both sides) AND the last-observation leg; the tiny aggregated
    # side rides a BroadcastExchange, which plan reuse cannot dedupe —
    # cache the (hidx, v) frame (bounded by #hours) so all three legs
    # read one fill.
    from trireme_spark.operators.hints import cache_once

    h = cache_once(h)
    a = h.alias("a")
    b = h.select(
        F.col("hidx").alias("bhidx"), F.col("v").alias("y")
    )
    p = a.join(b, F.col("bhidx") == F.col("a.hidx") + 1).select(
        F.col("a.v").alias("x"), "y"
    )
    # dsum_wide: x/y are HOURLY totals folded over calendar-bounded
    # rows — products would pass the split-long per-row cap at larger
    # corpora; wide is free at this grain (r15 audit).
    s = p.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum_wide("x").alias("sx"),
        dsum_wide("y").alias("sy"),
        dsum_wide(F.col("x") * F.col("x")).alias("sxx"),
        dsum_wide(F.col("x") * F.col("y")).alias("sxy"),
    )
    phi = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    c = F.col("sy") / F.col("n") - phi * F.col("sx") / F.col("n")
    fit = s.select(phi.alias("phi"), c.alias("c"))
    last_v = (
        h.orderBy(F.col("hidx").desc()).limit(1).select("v")
    )
    return fit.crossJoin(F.broadcast(last_v)).select(
        F.round("phi", 4).alias("phi"),
        F.round("c", 4).alias("intercept"),
        F.round(F.col("c") + F.col("phi") * F.col("v"), 4).alias(
            "forecast_next"
        ),
    )


# ---------------------------------------------------------------------------
# events_user_behavior_entropy — behavioral diversity score
# ---------------------------------------------------------------------------

_UBE_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id, event_type
), t AS (
  SELECT user_id, CAST(SUM(cnt) AS DOUBLE) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_types
  FROM c GROUP BY user_id
)
SELECT c.user_id, t.n_types,
       ROUND(CAST(SUM(CAST(ROUND(
           -(cnt / n) * ln(cnt / n) / ln(2.0), 12)
           AS DECIMAL(38,12))) AS DOUBLE), 6) AS entropy_bits
FROM c JOIN t USING (user_id)
GROUP BY c.user_id, t.n_types
"""


@register("events_user_behavior_entropy", oracle=_UBE_ORACLE)
def events_user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral DIVERSITY per user — Shannon entropy of the
    event-type distribution: single-action accounts (scrapers hitting
    one endpoint, click farms) score near 0, engaged humans spread
    across the catalog score high — the segmentation feature that
    separates "active" from "genuinely engaged", and the char-entropy
    key's pattern applied at the behavioral grain.

    Same exactness: −p·log₂p quantized 12 dp before the decimal sum.
    Scale: one (user, type) count + one user-keyed reduce — type
    cardinality bounds the inner table at |users|·|types|."""
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    t = c.groupBy("user_id").agg(
        F.sum("cnt").cast("double").alias("n"),
        F.count(F.lit(1)).alias("n_types"),
    )
    pr = F.col("cnt") / F.col("n")
    term = F.round(-pr * F.log(pr) / F.log(F.lit(2.0)), 12).cast(
        "decimal(38,12)"
    )
    return (
        c.join(t, "user_id")
        .groupBy("user_id", "n_types")
        .agg(F.round(F.sum(term).cast("double"), 6).alias("entropy_bits"))
    )


# ---------------------------------------------------------------------------
# ts_peak_detection — local maxima of the hourly series
# ---------------------------------------------------------------------------

_PEAK_ORACLE = f"""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hr, {oracle_sum('value')} AS v
  FROM events GROUP BY 1
), w AS (
  SELECT hr, v,
         LAG(v, 1) OVER o AS p1, LAG(v, 2) OVER o AS p2,
         LEAD(v, 1) OVER o AS f1, LEAD(v, 2) OVER o AS f2
  FROM h WINDOW o AS (ORDER BY hr)
)
SELECT CAST(hr AS VARCHAR) AS hr, v
FROM w
WHERE p1 IS NOT NULL AND p2 IS NOT NULL
  AND f1 IS NOT NULL AND f2 IS NOT NULL
  AND v > p1 AND v > p2 AND v > f1 AND v > f2
"""


@register("ts_peak_detection", oracle=_PEAK_ORACLE)
def ts_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum PEAK detection: hours strictly above both
    neighbors on each side (±2 window) — the event-marking primitive
    behind "what spiked" annotations and alert snapshotting; edge
    hours without a full neighborhood are excluded (a peak claim
    needs evidence on BOTH sides — the lag-features drop rule).

    Decimal-exact hourly sums make the strict > comparisons
    hash-stable. Scale: the window runs over the DIMENSION-sized
    hourly series under meta_part; per-key peaks partition by the
    key."""
    ev = table(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        dsum("value").alias("v")
    )
    w = Window.partitionBy(meta_part("v")).orderBy("hr")
    out = h.select(
        F.col("hr").cast("string").alias("hr"),
        "v",
        F.lag("v", 1).over(w).alias("p1"),
        F.lag("v", 2).over(w).alias("p2"),
        F.lead("v", 1).over(w).alias("f1"),
        F.lead("v", 2).over(w).alias("f2"),
    )
    return out.where(
        F.col("p1").isNotNull()
        & F.col("p2").isNotNull()
        & F.col("f1").isNotNull()
        & F.col("f2").isNotNull()
        & (F.col("v") > F.col("p1"))
        & (F.col("v") > F.col("p2"))
        & (F.col("v") > F.col("f1"))
        & (F.col("v") > F.col("f2"))
    ).select("hr", "v")


# ---------------------------------------------------------------------------
# ts_holt_winters_additive — triple exponential smoothing (level+trend+seasonal)
# ---------------------------------------------------------------------------

_HW_A, _HW_B, _HW_G, _HW_P = 0.3, 0.1, 0.2, 24

_HW_ORACLE = f"""
WITH RECURSIVE h AS (
  SELECT date_trunc('hour', ts) AS hr, {oracle_sum('value')} AS x
  FROM events GROUP BY 1
), seq AS (
  SELECT hr, x, ROW_NUMBER() OVER (ORDER BY hr) AS rn FROM h
), zero AS (
  SELECT list_transform(range({_HW_P}), i -> CAST(0.0 AS DOUBLE)) AS z
), r AS (
  SELECT rn, hr, CAST(x AS DOUBLE) AS lvl, CAST(0.0 AS DOUBLE) AS trd,
         CAST(0.0 AS DOUBLE) AS seas_used, z AS s
  FROM seq CROSS JOIN zero WHERE rn = 1
  UNION ALL
  SELECT q.rn, q.hr,
         {_HW_A} * (q.x - r.s[1]) + (1 - {_HW_A}) * (r.lvl + r.trd),
         {_HW_B} * (({_HW_A} * (q.x - r.s[1])
                     + (1 - {_HW_A}) * (r.lvl + r.trd)) - r.lvl)
           + (1 - {_HW_B}) * r.trd,
         r.s[1],
         list_append(r.s[2:{_HW_P}],
             {_HW_G} * (q.x - ({_HW_A} * (q.x - r.s[1])
                 + (1 - {_HW_A}) * (r.lvl + r.trd)))
               + (1 - {_HW_G}) * r.s[1])
  FROM r JOIN seq q ON q.rn = r.rn + 1
)
SELECT CAST(hr AS VARCHAR) AS hr, FLOOR(lvl * 1e6) / 1e6 AS level,
       FLOOR(trd * 1e6) / 1e6 AS trend,
       FLOOR(seas_used * 1e6) / 1e6 AS seas_used
FROM r
"""


@register("ts_holt_winters_additive", oracle=_HW_ORACLE)
def ts_holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE triple smoothing over the hourly series
    (period 24): level, trend, AND a rotating 24-slot seasonal state —
    the capstone of the recursive-fold family (EWMA: 1 state var;
    Holt: 2 coupled; this: 26, including a VECTOR the recursion
    rotates each step) and the classical forecaster for seasonal
    operational series. Cold-start is the documented simplified init
    (ℓ₀=x₁, b₀=0, seasonal zeros — production uses a first-cycle
    decomposition; the recursion is what's under test, and both
    engines run the IDENTICAL one).

    Parity: the oracle is a recursive CTE carrying a LIST column
    (rotate = slice+append); the Spark fold mirrors every double op
    in order, and outputs floor-quantize (parity.fquant, tie-free
    cross-engine) — bit-parity proven to survive vector state.

    Scale: ONE dimension-sized series folds sequentially (that is the
    recurrence's nature); across keys the same fold parallelizes per
    group — exactly the EWMA shape with a bigger state tuple."""
    import pandas as pd

    ev = table(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        dsum("value").alias("x")
    )

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("hr")
        out_lvl, out_trd, out_seas = [], [], []
        lvl = trd = None
        s = [0.0] * _HW_P
        for x in pdf["x"].to_numpy():
            x = float(x)
            if lvl is None:
                lvl, trd = x, 0.0
                out_seas.append(0.0)
            else:
                seas = s[0]
                new_lvl = _HW_A * (x - seas) + (1 - _HW_A) * (lvl + trd)
                trd = _HW_B * (new_lvl - lvl) + (1 - _HW_B) * trd
                new_seas = _HW_G * (x - new_lvl) + (1 - _HW_G) * seas
                s = s[1:] + [new_seas]
                lvl = new_lvl
                out_seas.append(seas)
            out_lvl.append(lvl)
            out_trd.append(trd)
        return pd.DataFrame(
            {
                "hr": pdf["hr"],
                "lvl": out_lvl,
                "trd": out_trd,
                "seas_used": out_seas,
            }
        )

    from trireme_spark.parity import meta_part as _mp

    return (
        h.withColumn("k", _mp("x"))
        .groupBy("k")
        .applyInPandas(
            fold,
            "hr timestamp_ntz, lvl double, trd double, seas_used double",
        )
        .select(
            F.col("hr").cast("string").alias("hr"),
            fquant("lvl").alias("level"),
            fquant("trd").alias("trend"),
            fquant("seas_used").alias("seas_used"),
        )
    )


# ---------------------------------------------------------------------------
# ts_seasonality_strength — variance share of the seasonal component
# ---------------------------------------------------------------------------

_SEAS_STR_ORACLE = f"""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hr, {oracle_sum('value')} AS v
  FROM events GROUP BY 1
), t AS (
  SELECT hr, v,
         ROUND(CAST(SUM(CAST(v AS DECIMAL(27,6))) OVER w AS DOUBLE)
               / COUNT(*) OVER w, 6) AS trend
  FROM h
  WINDOW w AS (ORDER BY hr ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
), d AS (
  SELECT hr, CAST(ROUND(v - trend, 6) AS DECIMAL(27,6)) AS det,
         EXTRACT(hour FROM hr) AS hod
  FROM t
), s AS (
  SELECT hod, ROUND(CAST(SUM(det) AS DOUBLE) / COUNT(*), 6) AS seasonal
  FROM d GROUP BY hod
), r AS (
  SELECT CAST(ROUND(CAST(d.det AS DOUBLE) - s.seasonal, 6)
              AS DECIMAL(27,6)) AS resid, d.det
  FROM d JOIN s USING (hod)
), v AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(det) AS DOUBLE) AS sd,
         CAST(SUM(det * det) AS DOUBLE) AS sdd,
         CAST(SUM(resid) AS DOUBLE) AS sr,
         CAST(SUM(resid * resid) AS DOUBLE) AS srr
  FROM r
)
SELECT ROUND(GREATEST(0.0,
         1.0 - (srr - sr * sr / n) / (sdd - sd * sd / n)), 4)
       AS seasonal_strength
FROM v
"""


@register("ts_seasonality_strength", oracle=_SEAS_STR_ORACLE)
def ts_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONALITY STRENGTH (Hyndman's F_s): 1 − Var(residual)/
    Var(detrended) over the additive decomposition — the single number
    that says whether the hour-of-day structure is real (≈1: strongly
    seasonal — invest in seasonal baselines; ≈0: the seasonal keys
    are modeling noise). This is the GATE for the seasonal-anomaly/
    decompose/Holt-Winters family: compute it first, deploy them
    second.

    Composition: the decompose pipeline's exact chain (decimal hourly
    sums → frame-mean trend → quantized detrend → hour-of-day
    seasonal → quantized residual) reduced to two variance
    sufficient-stat pairs; one double expression at the end, clamped
    at 0, ROUND(4) coarse grid.

    Scale: everything after the hourly rollup is dimension-sized."""
    ev = table(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        dsum("value").alias("v")
    )
    w = (
        Window.partitionBy(meta_part("v"))
        .orderBy("hr")
        .rowsBetween(-12, 12)
    )
    t = h.select(
        "hr",
        "v",
        F.round(
            F.sum(F.col("v").cast("decimal(27,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
            6,
        ).alias("trend"),
    )
    d = t.select(
        F.round(F.col("v") - F.col("trend"), 6)
        .cast("decimal(27,6)")
        .alias("det"),
        F.hour("hr").alias("hod"),
    )
    s = d.groupBy("hod").agg(
        F.round(F.sum("det").cast("double") / F.count(F.lit(1)), 6).alias(
            "seasonal"
        )
    )
    r = d.join(F.broadcast(s), "hod").select(
        "det",
        F.round(F.col("det").cast("double") - F.col("seasonal"), 6)
        .cast("decimal(27,6)")
        .alias("resid"),
    )
    v = r.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("det").cast("double").alias("sd"),
        F.sum(F.col("det") * F.col("det")).cast("double").alias("sdd"),
        F.sum("resid").cast("double").alias("sr"),
        F.sum(F.col("resid") * F.col("resid")).cast("double").alias("srr"),
    )
    return v.select(
        F.round(
            F.greatest(
                F.lit(0.0),
                1.0
                - (F.col("srr") - F.col("sr") * F.col("sr") / F.col("n"))
                / (F.col("sdd") - F.col("sd") * F.col("sd") / F.col("n")),
            ),
            4,
        ).alias("seasonal_strength")
    )


# ---------------------------------------------------------------------------
# events_ab_power_mde — experiment planning: minimum detectable effect
# ---------------------------------------------------------------------------

_MDE_Z_ALPHA = 1.959964  # two-sided α = 0.05
_MDE_Z_BETA = 0.841621  # power = 0.80

_MDE_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS DOUBLE) AS converted
  FROM events GROUP BY user_id
), s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(converted) AS conv FROM u
)
SELECT CAST(n AS BIGINT) AS n_users,
       FLOOR(conv / n * 1e6) / 1e6 AS baseline_cvr,
       FLOOR(({_MDE_Z_ALPHA} + {_MDE_Z_BETA})
             * sqrt(2 * (conv / n) * (1 - conv / n) / (n / 2))
             * 1e6) / 1e6 AS mde_abs,
       FLOOR(({_MDE_Z_ALPHA} + {_MDE_Z_BETA})
             * sqrt(2 * (conv / n) * (1 - conv / n) / (n / 2))
             / (conv / n) * 1e6) / 1e6 AS mde_rel
FROM s
"""


@register("events_ab_power_mde", oracle=_MDE_ORACLE)
def events_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment PLANNING — the minimum detectable effect a 50/50
    split of the current audience can resolve at α=0.05 / power 0.80:
    MDE = (z_α/2 + z_β)·√(2p(1−p)/(n/2)) — the calculation that runs
    BEFORE ab_test/CUPED/DiD and kills underpowered experiments on the
    whiteboard ("we can only detect a 20% relative lift" is usually
    the end of the meeting). Completes the experimentation suite:
    plan (this) → randomize (ab_test) → tighten (CUPED) →
    quasi-experiment fallback (DiD) → monitor (PSI).

    Exactness: baseline CVR from exact distinct-user conversion
    counts; the MDE is one double formula over identical operands
    with literal z constants, floor-quantized.

    Scale: one user-keyed collapse + a 1-row readout."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("double")
        .alias("converted")
    )
    s = u.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("converted").alias("conv"),
    )
    p = F.col("conv") / F.col("n")
    mde = (_MDE_Z_ALPHA + _MDE_Z_BETA) * F.sqrt(
        2 * p * (1 - p) / (F.col("n") / 2)
    )

    def q(x):
        return F.floor(x * 1e6) / 1e6

    return s.select(
        F.col("n").cast("long").alias("n_users"),
        q(p).alias("baseline_cvr"),
        q(mde).alias("mde_abs"),
        q(mde / p).alias("mde_rel"),
    )


# ---------------------------------------------------------------------------
# events_recency_weighted_engagement — exponential-decay scoring
# ---------------------------------------------------------------------------

_RWE_HALF_LIFE_D = 7.0  # engagement half-life in days

_RWE_ORACLE = f"""
WITH anchor AS (SELECT MAX(ts) AS now_ts FROM events),
w AS (
  SELECT user_id,
         CAST(ROUND(
             value * exp(-0.6931471805599453
                 * (CAST(epoch_us(now_ts) - epoch_us(ts) AS DOUBLE)
                    / 86400000000.0) / {_RWE_HALF_LIFE_D}), 8)
           AS DECIMAL(38,8)) AS wv
  FROM events CROSS JOIN anchor
)
SELECT user_id,
       ROUND(CAST(SUM(wv) AS DOUBLE), 4) AS engagement_score,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM w GROUP BY user_id
"""


@register("events_recency_weighted_engagement", oracle=_RWE_ORACLE)
def events_recency_weighted_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement — each event's value decays with a
    7-day HALF-LIFE (weight = e^(−ln2·age/τ)) and sums per user: the
    ranking/recsys feature that makes "active last week" outrank
    "active last year" without any hard cutoff, and the continuous
    upgrade of RFM's discrete recency tier. The anchor is the data's
    own max timestamp (deterministic on any snapshot — the
    invoice-aging convention).

    Exactness: ages are exact integer µs; each decayed term quantizes
    to 8 dp BEFORE the order-independent decimal sum (the geomean
    discipline — exp() terms summed raw would be partition-order-
    dependent); ROUND(4) on the final score.

    Scale: 1-row anchor broadcast → codegen'd exp projection → one
    user-keyed combine. Incremental maintenance at scale: scores
    multiply by a constant decay per day, so yesterday's scores
    re-anchor with ONE multiplication — never a rescan (the
    incremental-agg doctrine applied to decayed sums)."""
    ev = table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("now_ts"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    now_us = F.unix_micros(F.col("now_ts").cast("timestamp"))
    age_days = (now_us - us).cast("double") / 86400000000.0
    import math

    wv = F.round(
        F.col("value") * F.exp(-math.log(2) * age_days / _RWE_HALF_LIFE_D),
        8,
    ).cast("decimal(38,8)")
    return (
        ev.crossJoin(F.broadcast(anchor))
        .select("user_id", wv.alias("wv"))
        .groupBy("user_id")
        .agg(
            F.round(F.sum("wv").cast("double"), 4).alias(
                "engagement_score"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# events_longest_streak — consecutive-active-days gamification metric
# ---------------------------------------------------------------------------

_STREAK_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), grp AS (
  SELECT user_id, d,
         CAST(d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY d) AS INTEGER)
              AS VARCHAR) AS anchor
  FROM days
), runs AS (
  SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS len,
         CAST(MIN(d) AS VARCHAR) AS streak_start
  FROM grp GROUP BY user_id, anchor
)
SELECT user_id, len AS longest_streak, streak_start
FROM runs
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY len DESC, streak_start ASC) = 1
"""


@register("events_longest_streak", oracle=_STREAK_ORACLE)
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-days STREAK per user (with its start
    date; earliest wins ties) — the gamification/habit metric every
    consumer product ships, via the date-minus-row-number trick: days
    in an unbroken run share the same (day − rank) anchor, turning
    streaks into a plain GROUP BY — gaps-and-islands with arithmetic
    instead of lag/flag chains (one window pass fewer than the
    session keys).

    Exactness: pure integer date arithmetic; anchors compare as
    strings (date cells are the pandas-bridge trap — the house date
    doctrine, applied even to intermediates that reach the output).

    Scale: distinct (user, day) collapse → one user-keyed window +
    one keyed count + one top-1 window, all on the same shuffle."""
    ev = table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn(
        "anchor",
        F.date_sub(F.col("d"), F.row_number().over(w)).cast("string"),
    )
    runs = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("d").cast("string").alias("streak_start"),
    )
    w_best = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("streak_start").asc()
    )
    return (
        runs.withColumn("rn", F.row_number().over(w_best))
        .where("rn = 1")
        .select(
            "user_id",
            F.col("len").alias("longest_streak"),
            "streak_start",
        )
    )


# ---------------------------------------------------------------------------
# orders_weekend_welch_ttest — two-sample mean comparison done right
# ---------------------------------------------------------------------------

_WELCH_ORACLE = """
WITH g AS (
  SELECT (dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)) AS weekend,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))
                  * CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
           AS sxx
  FROM orders GROUP BY 1
), w AS (
  SELECT MAX(CASE WHEN weekend THEN n END) AS n1,
         MAX(CASE WHEN weekend THEN sx END) AS s1,
         MAX(CASE WHEN weekend THEN sxx END) AS q1,
         MAX(CASE WHEN NOT weekend THEN n END) AS n0,
         MAX(CASE WHEN NOT weekend THEN sx END) AS s0,
         MAX(CASE WHEN NOT weekend THEN sxx END) AS q0
  FROM g
)
SELECT CAST(n1 AS BIGINT) AS n_weekend, CAST(n0 AS BIGINT) AS n_weekday,
       ROUND(s1 / n1 - s0 / n0, 4) AS mean_diff,
       ROUND((s1 / n1 - s0 / n0)
             / sqrt(((q1 - s1 * s1 / n1) / (n1 - 1)) / n1
                    + ((q0 - s0 * s0 / n0) / (n0 - 1)) / n0), 4)
         AS welch_t
FROM w
"""


@register("orders_weekend_welch_ttest", oracle=_WELCH_ORACLE)
def orders_weekend_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t — weekend vs weekday order values WITHOUT assuming
    equal variances (Student's pooled t silently does, and group
    variances rarely cooperate): t = Δmean/√(s₁²/n₁ + s₀²/n₀) — the
    correct default two-sample test, completing the inferential kit
    (proportions → MDE/ab_test; means → this; distributions → PSI).
    |t| < 2 here is the expected honest null: TPC-H order dates don't
    know about weekends — a test that can PASS the null on null data
    is the calibration check.

    Exactness: decimal-exact Σx/Σx² per group pivot into one row; the
    t statistic is a single double expression, ROUND(4) coarse grid.
    DOW semantics bridged: DuckDB dayofweek Sunday=0; Spark dayofweek
    Sunday=1 — the off-by-one every cross-engine calendar hits.

    Scale: one 2-group aggregation, map-side combined."""
    o = table(spark, sf_dir, "orders")
    # Spark dayofweek: Sunday=1 ... Saturday=7
    weekend = F.dayofweek(F.col("o_orderdate").cast("date")).isin(1, 7)
    g = o.groupBy(weekend.alias("weekend")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("o_totalprice").cast(DSCALE)).cast("double").alias("sx"),
        F.sum(
            F.col("o_totalprice").cast(DSCALE)
            * F.col("o_totalprice").cast(DSCALE)
        )
        .cast("double")
        .alias("sxx"),
    )
    w = g.agg(
        F.max(F.when(F.col("weekend"), F.col("n"))).alias("n1"),
        F.max(F.when(F.col("weekend"), F.col("sx"))).alias("s1"),
        F.max(F.when(F.col("weekend"), F.col("sxx"))).alias("q1"),
        F.max(F.when(~F.col("weekend"), F.col("n"))).alias("n0"),
        F.max(F.when(~F.col("weekend"), F.col("sx"))).alias("s0"),
        F.max(F.when(~F.col("weekend"), F.col("sxx"))).alias("q0"),
    )
    md = F.col("s1") / F.col("n1") - F.col("s0") / F.col("n0")
    se = F.sqrt(
        ((F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1"))
         / (F.col("n1") - 1))
        / F.col("n1")
        + ((F.col("q0") - F.col("s0") * F.col("s0") / F.col("n0"))
           / (F.col("n0") - 1))
        / F.col("n0")
    )
    return w.select(
        F.col("n1").cast("long").alias("n_weekend"),
        F.col("n0").cast("long").alias("n_weekday"),
        F.round(md, 4).alias("mean_diff"),
        F.round(md / se, 4).alias("welch_t"),
    )


# ---------------------------------------------------------------------------
# ts_bollinger_bands — keyed rolling mean ± 2σ price bands
# ---------------------------------------------------------------------------

_BOLL_ORACLE = """
WITH sums AS (
  SELECT l_partkey, l_orderkey, l_linenumber, l_extendedprice,
         CAST(l_shipdate AS DATE) AS sd,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) OVER w
              AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice * l_extendedprice
                       AS DECIMAL(27,6))) OVER w AS DOUBLE) AS sx2,
         COUNT(*) OVER w AS n_window
  FROM lineitem
  WINDOW w AS (PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
), seq AS (
  SELECT l_partkey, l_orderkey, l_linenumber, l_extendedprice, sd,
         n_window,
         sx / n_window AS ma,
         ROUND(sqrt((sx2 - sx * sx / n_window)
                    / (n_window - 1)), 3) AS sigma
  FROM sums WHERE n_window >= 2
)
SELECT l_partkey, l_orderkey, l_linenumber,
       CAST(sd AS VARCHAR) AS ship_day, l_extendedprice, ma, sigma,
       CAST(l_extendedprice > ma + 2 * sigma
            OR l_extendedprice < ma - 2 * sigma AS BOOLEAN) AS outside
FROM seq WHERE n_window >= 5 AND sigma IS NOT NULL
"""


@register("ts_bollinger_bands", oracle=_BOLL_ORACLE)
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands per part: trailing-10 rolling mean ± 2σ of line
    price along ship time, flagging prices outside the band — the
    volatility-normalized outlier monitor (vs the EWMA control chart's
    smoothed-level form and the MAD key's robust-global form). Rows with
    fewer than 5 trailing observations are suppressed (bands from 2-3
    points are noise, the standard warm-up rule).

    Scale design: one keyed ROWS window per part (shuffle on l_partkey,
    bounded 10-row frame state, streams under codegen) — no self-join,
    no global order. Parity: mean and σ derive from EXACT decimal
    window sums of x and x² (σ² = (Σx² − (Σx)²/n)/(n−1)), so both
    engines compute the same IEEE doubles (ma emits UNROUNDED — sx/n is
    bit-identical, while ROUND(...,3) hits half-way ties like .7925
    that Java HALF_UP and DuckDB's float rounding break differently;
    sigma keeps ROUND(3), sqrt outputs don't tie) — plain
    windowed AVG/STDDEV straddled the rounding boundary on 3 of 52 000
    rows at sf0.01 (order-dependent double summation), which the
    exact-sum form eliminates rather than papers over."""
    li = table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-9, 0)
    )
    x = F.col("l_extendedprice")
    sx = F.sum(x.cast(DSCALE)).over(w).cast("double")
    sx2 = F.sum((x * x).cast(DSCALE)).over(w).cast("double")
    n = F.count(F.lit(1)).over(w)
    seq = li.select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        F.col("l_shipdate").cast("date").cast("string").alias("ship_day"),
        (sx / n).alias("ma"),
        F.round(F.sqrt((sx2 - sx * sx / n) / (n - 1)), 3).alias("sigma"),
        n.alias("n_window"),
    )
    return (
        seq.where((F.col("n_window") >= 5) & F.col("sigma").isNotNull())
        .select(
            "l_partkey",
            "l_orderkey",
            "l_linenumber",
            "ship_day",
            "l_extendedprice",
            "ma",
            "sigma",
            (
                (F.col("l_extendedprice") > F.col("ma") + 2 * F.col("sigma"))
                | (
                    F.col("l_extendedprice")
                    < F.col("ma") - 2 * F.col("sigma")
                )
            ).alias("outside"),
        )
    )


# ---------------------------------------------------------------------------
# ts_sma_crossover — fast/slow moving-average crossover signals
# ---------------------------------------------------------------------------

_SMA_X_ORACLE = """
WITH seq AS (
  SELECT l_partkey, l_orderkey, l_linenumber,
         CAST(l_shipdate AS DATE) AS sd,
         ROW_NUMBER() OVER w AS rn,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6)))
              OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
              AS DOUBLE) / 5 AS fast,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6)))
              OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
              AS DOUBLE) / 20 AS slow
  FROM lineitem
  WINDOW w AS (PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber)
), sig AS (
  SELECT *, sign(fast - slow) AS s,
         LAG(sign(fast - slow)) OVER (PARTITION BY l_partkey
                                      ORDER BY rn) AS prev_s
  FROM seq WHERE rn >= 20
)
SELECT l_partkey, l_orderkey, l_linenumber,
       CAST(sd AS VARCHAR) AS ship_day, fast, slow,
       CASE WHEN s > prev_s THEN 'golden' ELSE 'death' END AS crossover
FROM sig WHERE prev_s IS NOT NULL AND s <> prev_s
"""


@register("ts_sma_crossover", oracle=_SMA_X_ORACLE)
def ts_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fast(5)/slow(20) moving-average crossover detection per part —
    the classic trend-change signal ('golden cross' = fast rises
    through slow, 'death cross' = the reverse), emitted only at the
    flip rows. Signals start once the slow window is full (rn >= 20);
    partial-window averages cross constantly and mean nothing.

    Scale design: both averages ride ONE keyed time-ordered window
    (bounded ROWS frames, codegen), the flip test is a lag over the
    same key — no self-join, the output is signal-sparse. Parity:
    averages from exact decimal sums (identical doubles both engines —
    the bollinger lesson), and sign() of an identical double is
    tie-safe without rounding."""
    li = table(spark, sf_dir, "lineitem")
    wo = Window.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    x = F.col("l_extendedprice").cast(DSCALE)
    fast = F.sum(x).over(wo.rowsBetween(-4, 0)).cast("double") / 5
    slow = F.sum(x).over(wo.rowsBetween(-19, 0)).cast("double") / 20
    seq = li.select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").cast("string").alias("ship_day"),
        F.row_number().over(wo).alias("rn"),
        fast.alias("fast"),
        slow.alias("slow"),
    ).where(F.col("rn") >= 20)
    w_sig = Window.partitionBy("l_partkey").orderBy("rn")
    s = F.signum(F.col("fast") - F.col("slow"))
    sig = seq.select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "ship_day",
        "fast",
        "slow",
        s.alias("s"),
        F.lag(s).over(w_sig).alias("prev_s"),
    )
    return (
        sig.where(F.col("prev_s").isNotNull() & (F.col("s") != F.col("prev_s")))
        .select(
            "l_partkey",
            "l_orderkey",
            "l_linenumber",
            "ship_day",
            "fast",
            "slow",
            F.when(F.col("s") > F.col("prev_s"), "golden")
            .otherwise("death")
            .alias("crossover"),
        )
    )


# ---------------------------------------------------------------------------
# events_bootstrap_ci — Poisson-bootstrap confidence interval for a mean
# ---------------------------------------------------------------------------

# Poisson(1) CDF thresholds for the inverse-transform draw (shared
# constants, identical CASE chain both engines; capped at 8 — P(k>8) < 2e-6)
_POIS_CDF = [
    0.36787944, 0.73575888, 0.9196986, 0.98101184,
    0.99634015, 0.99940582, 0.99991676, 0.99998975,
]
_B = 64  # bootstrap replicates


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 8 END"


# shared Knuth multiplicative hash (pipeline.py _kbucket — pure integer
# arithmetic, bit-identical on any engine) over key = event_id*B + b
_BOOT_U_SQL = (
    f"((((e.event_id * {_B} + r.b) % 2147483648) * 2654435761)"
    f" % 4294967296) % 1000000 / 1000000.0"
)

_BOOT_ORACLE = f"""
WITH reps AS (
  SELECT e.event_type, e.value, r.b,
         {_pois_case_sql(_BOOT_U_SQL)} AS k
  FROM events e CROSS JOIN (SELECT unnest(range({_B})) AS b) r
), means AS (
  SELECT event_type, b,
         ROUND(CAST(SUM(CAST(k * value AS DECIMAL(27,6))) AS DOUBLE)
               / SUM(k), 6) AS m
  FROM reps GROUP BY event_type, b HAVING SUM(k) > 0
), ranked AS (
  SELECT event_type, m,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY m ASC, b ASC) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS nb
  FROM means
)
SELECT event_type,
       MIN(CASE WHEN rk = 2 THEN m END) AS ci_lo,
       MIN(CASE WHEN rk = nb - 1 THEN m END) AS ci_hi,
       CAST(MAX(nb) AS BIGINT) AS n_replicates
FROM ranked GROUP BY event_type
"""


@register("events_bootstrap_ci", oracle=_BOOT_ORACLE)
def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean(value) per event type via
    the POISSON bootstrap — the resampling scheme that actually
    distributes: instead of drawing n rows with replacement B times
    (impossible without global coordination), every row independently
    contributes Poisson(1) copies to each replicate. One pass, no
    sampling shuffle, provably equivalent to the multinomial bootstrap
    as n grows (Chamandy et al., "Estimating Uncertainty for Massive
    Data Streams" — the Google large-scale-bootstrap doctrine).

    Determinism: the Poisson draw is an inverse-CDF transform of a
    HASH-derived uniform on (event_id, replicate) — identical counts on
    any engine, any partitioning, any rerun; the shared Knuth
    multiplicative hash (pipeline.py's split/sample machinery) keeps
    the draw in pure integer arithmetic. The CI is rank-based
    (2nd / 63rd of B=64 sorted replicate means ≈ 95%), not
    interpolated, so no quantile-interpolation parity trap.

    Scale design: the B-way explode is a bounded constant fan-out
    (B·n rows carrying (type, b, k, value) — at 100 TB you'd fold k
    into partial aggregates per (type, b) map-side, which is exactly
    what Catalyst's partial HashAggregate does here); replicate means
    are a (|types|·B)-row table; the order statistic is a keyed window
    over B rows per type."""
    ev = table(spark, sf_dir, "events")
    reps = ev.select(
        "event_type",
        "value",
        "event_id",
        F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b"),
    ).withColumn(
        "u",
        F.pmod(
            F.pmod(
                F.pmod(
                    F.col("event_id") * _B + F.col("b"),
                    F.lit(2147483648),
                )
                * F.lit(2654435761),
                F.lit(4294967296),
            ),
            F.lit(1_000_000),
        )
        / 1e6,
    )
    k = F.lit(8)
    for kk in range(len(_POIS_CDF) - 1, -1, -1):
        k = F.when(F.col("u") < _POIS_CDF[kk], F.lit(kk)).otherwise(k)
    means = (
        reps.withColumn("k", k)
        .groupBy("event_type", "b")
        .agg(
            F.sum((F.col("k") * F.col("value")).cast(DSCALE))
            .cast("double")
            .alias("skx"),
            F.sum("k").alias("sk"),
        )
        .where(F.col("sk") > 0)
        .select(
            "event_type",
            "b",
            F.round(F.col("skx") / F.col("sk"), 6).alias("m"),
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("m").asc(), F.col("b").asc()
    )
    wn = Window.partitionBy("event_type")
    ranked = means.select(
        "event_type",
        "m",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("nb"),
    )
    return ranked.groupBy("event_type").agg(
        F.min(F.when(F.col("rk") == 2, F.col("m"))).alias("ci_lo"),
        F.min(
            F.when(F.col("rk") == F.col("nb") - 1, F.col("m"))
        ).alias("ci_hi"),
        F.max("nb").cast("long").alias("n_replicates"),
    )


# ---------------------------------------------------------------------------
# orders_max_drawdown — peak-to-trough decline of the daily revenue series
# ---------------------------------------------------------------------------

_DRAWDOWN_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1
),
dd AS (
  SELECT day, rev,
         MAX(rev) OVER (ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS peak
  FROM daily
)
SELECT CAST(day AS VARCHAR) AS trough_day, rev AS trough_rev,
       peak AS peak_rev, ROUND(peak - rev, 6) AS max_drawdown
FROM dd
ORDER BY peak - rev DESC, day ASC
LIMIT 1
"""


@register("orders_max_drawdown", oracle=_DRAWDOWN_ORACLE)
def orders_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily revenue series — the largest
    peak-to-trough decline (running max minus current), THE downside
    statistic for any monitored level series; emitted with the trough
    day and the peak it fell from.

    Scale design: the corpus-sized work is one map-side-combined daily
    rollup (decimal-exact); the running max + argmax then run over the
    DAY-levelled table (dimension-sized, meta_part partition key — the
    two-pass bucket machinery is the at-scale fallback if the day spine
    ever stopped fitting, same doctrine as orders_daily_revenue_ma);
    the final argmax folds into TakeOrderedAndProject. Exact doubles
    from decimal sums both sides; ROUND(6) on the difference only."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(dsum("o_totalprice").alias("rev"))
    w = (
        Window.partitionBy(meta_part(F.unix_date(F.col("day"))))
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = daily.select(
        "day", "rev", F.max("rev").over(w).alias("peak")
    )
    return (
        dd.orderBy((F.col("peak") - F.col("rev")).desc(), F.col("day").asc())
        .limit(1)
        .select(
            F.col("day").cast("string").alias("trough_day"),
            F.col("rev").alias("trough_rev"),
            F.col("peak").alias("peak_rev"),
            F.round(F.col("peak") - F.col("rev"), 6).alias("max_drawdown"),
        )
    )


# ---------------------------------------------------------------------------
# ts_runs_test — Wald–Wolfowitz runs test on daily revenue direction
# ---------------------------------------------------------------------------

_RUNS_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1
),
diffs AS (
  SELECT day, sign(rev - LAG(rev) OVER (ORDER BY day)) AS s
  FROM daily
),
seq AS (SELECT day, s FROM diffs WHERE s IS NOT NULL AND s <> 0),
runs AS (
  SELECT s,
         CASE WHEN s <> LAG(s) OVER (ORDER BY day) OR
                   LAG(s) OVER (ORDER BY day) IS NULL
              THEN 1 ELSE 0 END AS new_run
  FROM seq
),
agg AS (
  SELECT CAST(SUM(new_run) AS BIGINT) AS r,
         CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n2
  FROM runs
)
SELECT r AS n_runs, CAST(n1 AS BIGINT) AS n_up, CAST(n2 AS BIGINT) AS n_down,
       ROUND((r - (2 * n1 * n2 / (n1 + n2) + 1))
             / sqrt(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                    / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))), 6) AS z
FROM agg
"""


@register("ts_runs_test", oracle=_RUNS_ORACLE)
def ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily-revenue direction sequence
    — is the up/down pattern random, or trending/oscillating? (|z| > 2:
    too few runs = momentum/trend, too many = mean-reverting
    oscillation.) The randomness audit behind "is this KPI wiggle
    signal or noise", complementing ts_autocorrelation's lag-space view
    with the distribution-free order-statistics one. Zero-change days
    are excluded (the standard treatment).

    Scale design: corpus work is the one daily decimal rollup; the
    direction lags, run-boundary flags and the final count run over the
    DAY-levelled series (dimension-sized, meta_part key — the
    daily_revenue_ma doctrine). The z formula is one double expression
    over exact integer counts, ROUND(6)."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(dsum("o_totalprice").alias("rev"))
    mp = meta_part(F.unix_date(F.col("day")))
    w = Window.partitionBy(mp).orderBy("day")
    seq = (
        daily.select(
            "day",
            F.signum(F.col("rev") - F.lag("rev").over(w)).alias("s"),
        )
        .where(F.col("s").isNotNull() & (F.col("s") != 0))
    )
    runs = seq.select(
        "s",
        F.when(
            F.lag("s").over(w).isNull()
            | (F.col("s") != F.lag("s").over(w)),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum("new_run").cast("long").alias("r"),
        F.sum(F.when(F.col("s") > 0, 1).otherwise(0))
        .cast("double")
        .alias("n1"),
        F.sum(F.when(F.col("s") < 0, 1).otherwise(0))
        .cast("double")
        .alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mu = 2 * n1 * n2 / (n1 + n2) + 1
    var = (
        2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))
    )
    return agg.select(
        r.alias("n_runs"),
        n1.cast("long").alias("n_up"),
        n2.cast("long").alias("n_down"),
        F.round((r - mu) / F.sqrt(var), 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# events_match_recognize — sequence-pattern matching over event streams
# ---------------------------------------------------------------------------

_MATCH_ORACLE = """
WITH seq AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
             AS s
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(s) AS BIGINT) AS n_events,
       CAST(len(regexp_extract_all(s, 'cv*p')) AS BIGINT) AS n_matches
FROM seq
WHERE len(regexp_extract_all(s, 'cv*p')) > 0
"""


@register("events_match_recognize", oracle=_MATCH_ORACLE)
def events_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style row-pattern matching, emulated: per user,
    count non-overlapping occurrences of the pattern
    click (view)* purchase in the time-ordered event sequence — the
    SQL:2016 row-pattern feature (Flink/Oracle MATCH_RECOGNIZE) Spark
    lacks, re-expressed by compiling the event stream to a per-user
    type-initial STRING and the row pattern to a regex (initials are
    distinct across the five fixture types; leftmost non-overlapping
    regex scanning = MATCH_RECOGNIZE's AFTER MATCH SKIP PAST LAST ROW
    semantics, identical in Java and RE2).

    Complements events_funnel (fixed steps, one conversion per user)
    with arbitrary-pattern, multiple-match counting — the general
    sequence-analytics verb.

    Scale design: one user-keyed collect into the ordered initial
    string (per-user sequence lengths are session-bounded; a 100 TB
    run shards long histories by (user, time-bucket) first — the
    ts_supervised_lag doctrine), then a codegen'd regex per user row.
    No joins, no explosion."""
    ev = table(spark, sf_dir, "events")
    seq = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.substring("event_type", 1, 1).alias("i"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "i"))
                    ),
                    lambda s: s["i"],
                ),
                "",
            ).alias("s")
        )
    )
    n_matches = F.size(F.regexp_extract_all(F.col("s"), F.lit(r"cv*p"), 0))
    return seq.select(
        "user_id",
        F.length("s").cast("long").alias("n_events"),
        n_matches.cast("long").alias("n_matches"),
    ).where(F.col("n_matches") > 0)




# ---------------------------------------------------------------------------
# events_ab_bayesian — exact Beta-posterior P(B beats A), lgamma-free
# ---------------------------------------------------------------------------

_BAYES_AB_ORACLE = """
WITH assign AS (
  SELECT user_id,
         CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|exp42'),
                                   1, 8)) AS BIGINT) % 2 AS INT) AS grp
  FROM (SELECT DISTINCT user_id FROM events)
),
conv AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
),
cells AS (
  SELECT a.grp, COUNT(*) AS n_users,
         CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_conv
  FROM assign a LEFT JOIN conv c ON a.user_id = c.user_id
  GROUP BY a.grp
),
par AS (
  SELECT
    1 + MAX(CASE WHEN grp = 0 THEN n_conv END) AS aa,
    1 + MAX(CASE WHEN grp = 0 THEN n_users - n_conv END) AS ba,
    1 + MAX(CASE WHEN grp = 1 THEN n_conv END) AS ab,
    1 + MAX(CASE WHEN grp = 1 THEN n_users - n_conv END) AS bb,
    MAX(CASE WHEN grp = 0 THEN n_users END) AS nu_a,
    MAX(CASE WHEN grp = 1 THEN n_users END) AS nu_b
  FROM cells
),
l0 AS (
  SELECT SUM(CAST(ROUND(ln(ba + j) - ln(ba + bb + j), 9)
                  AS DECIMAL(27,9))) AS lt0
  FROM par, unnest(range(aa)) AS t(j)
),
ratios AS (
  SELECT i,
         CAST(ROUND(ln(aa + i - 1) + ln(bb + i - 1) - ln(i)
                    - ln(aa + ba + bb + i - 1), 9)
              AS DECIMAL(27,9)) AS lr
  FROM par, unnest(range(1, ab)) AS t(i)
),
lterms AS (
  SELECT CAST(l0.lt0 AS DOUBLE) AS lt
  FROM l0
  UNION ALL
  SELECT CAST(l0.lt0 + SUM(r.lr) OVER (ORDER BY r.i) AS DOUBLE)
  FROM ratios r CROSS JOIN l0
),
summed AS (
  SELECT CAST(SUM(CAST(ROUND(exp(lt), 8) AS DECIMAL(27,8)))
              AS DOUBLE) AS p
  FROM lterms
)
SELECT CAST(par.nu_a AS BIGINT) AS users_a,
       CAST(par.nu_b AS BIGINT) AS users_b,
       CAST(par.aa - 1 AS BIGINT) AS conv_a,
       CAST(par.ab - 1 AS BIGINT) AS conv_b,
       ROUND(summed.p, 4) AS p_b_beats_a,
       ROUND(CAST(par.ab AS DOUBLE) / (par.ab + par.bb)
             - CAST(par.aa AS DOUBLE) / (par.aa + par.ba), 6)
           AS posterior_lift
FROM par CROSS JOIN summed
"""


@register("events_ab_bayesian", oracle=_BAYES_AB_ORACLE)
def events_ab_bayesian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B readout: EXACT P(p_B > p_A) under independent
    Beta(1,1)-prior posteriors — the "chance to beat control" number
    Bayesian dashboards report instead of a p-value — plus the
    posterior-mean lift. Same md5-bucket assignment as
    events_ab_test_analysis; conversion = any purchase.

    The closed form P = Σ_{i=0}^{a_B−1} B(a_A+i, b_A+b_B) /
    ((b_B+i)·B(1+i,b_B)·B(a_A,b_A)) is evaluated WITHOUT lgamma
    (Spark has none): term_0 telescopes to
    Σ_{j=0}^{a_A−1} [ln(b_A+j) − ln(b_A+b_B+j)] (a distributed sum),
    and successive terms differ by the rational log-ratio
    ln(a_A+i−1)+ln(b_B+i−1)−ln(i)−ln(a_A+b_A+b_B+i−1), prefix-summed.
    Every ln quantizes to 9dp before the order-independent decimal
    sums, so both engines assemble identical log-terms; exp + an 8dp
    term quantization + a decimal total make the headline P stable to
    its 4dp.

    Scale design: two distinct collapses + a 2-row cell table do the
    corpus work; the a_A-term and a_B-term sums explode to rows and
    aggregate distributedly (conversions-many rows; beyond ~1e6 terms
    the documented switch is the normal approximation); the prefix sum
    runs over the a_B-row ratio table (meta_part key — the two-pass
    machinery is the at-scale drop-in)."""
    ev = table(spark, sf_dir, "events")
    grp = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"), F.lit("|exp42")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        % 2
    ).cast("int")
    assign = (
        ev.select("user_id").distinct().select("user_id", grp.alias("grp"))
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("is_conv", F.lit(1))
    )
    cells = (
        assign.join(conv, "user_id", "left")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.coalesce("is_conv", F.lit(0))).alias("n_conv"),
        )
    )
    from trireme_spark.operators.hints import cache_once

    # Bounded model state (ONE row): par is consumed by l0, ratios and
    # the final readout — uncached, each consumer replays the two
    # events-corpus distinct collapses (8 events scans in the formatted
    # plan; 2 after). The #6–#14 derived-frame doctrine applied here.
    par = cells.agg(
        (1 + F.max(F.when(F.col("grp") == 0, F.col("n_conv")))).alias("aa"),
        (
            1
            + F.max(
                F.when(
                    F.col("grp") == 0, F.col("n_users") - F.col("n_conv")
                )
            )
        ).alias("ba"),
        (1 + F.max(F.when(F.col("grp") == 1, F.col("n_conv")))).alias("ab"),
        (
            1
            + F.max(
                F.when(
                    F.col("grp") == 1, F.col("n_users") - F.col("n_conv")
                )
            )
        ).alias("bb"),
        F.max(F.when(F.col("grp") == 0, F.col("n_users"))).alias("nu_a"),
        F.max(F.when(F.col("grp") == 1, F.col("n_users"))).alias("nu_b"),
    )
    par = cache_once(par)
    dec9 = "decimal(27,9)"
    l0 = (
        par.select(
            "*",
            F.explode(F.sequence(F.lit(0), F.col("aa") - 1)).alias("j"),
        )
        .agg(
            F.sum(
                F.round(
                    F.log(F.col("ba") + F.col("j"))
                    - F.log(F.col("ba") + F.col("bb") + F.col("j")),
                    9,
                ).cast(dec9)
            ).alias("lt0")
        )
    )
    # l0 is also ONE row and feeds both the lterms union leg and the
    # ratios broadcast — uncached it replays the aa-term distributed sum
    # (and par's corpus collapses underneath) once per consumer.
    l0 = cache_once(l0)
    ratios = par.select(
        "*",
        F.explode(F.sequence(F.lit(1), F.col("ab") - 1)).alias("i"),
    ).select(
        "i",
        F.round(
            F.log(F.col("aa") + F.col("i") - 1)
            + F.log(F.col("bb") + F.col("i") - 1)
            - F.log(F.col("i").cast("double"))
            - F.log(
                F.col("aa") + F.col("ba") + F.col("bb") + F.col("i") - 1
            ),
            9,
        )
        .cast(dec9)
        .alias("lr"),
    )
    w_pre = (
        Window.partitionBy(meta_part("i"))
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lterms = (
        l0.select(F.col("lt0").cast("double").alias("lt"))
        .unionByName(
            ratios.withColumn("cum", F.sum("lr").over(w_pre))
            .crossJoin(F.broadcast(l0))
            .select(
                (F.col("lt0") + F.col("cum")).cast("double").alias("lt")
            )
        )
    )
    summed = lterms.agg(
        F.sum(F.round(F.exp("lt"), 8).cast("decimal(27,8)"))
        .cast("double")
        .alias("p")
    )
    return par.crossJoin(F.broadcast(summed)).select(
        F.col("nu_a").cast("long").alias("users_a"),
        F.col("nu_b").cast("long").alias("users_b"),
        (F.col("aa") - 1).cast("long").alias("conv_a"),
        (F.col("ab") - 1).cast("long").alias("conv_b"),
        F.round(F.col("p"), 4).alias("p_b_beats_a"),
        F.round(
            F.col("ab").cast("double") / (F.col("ab") + F.col("bb"))
            - F.col("aa").cast("double") / (F.col("aa") + F.col("ba")),
            6,
        ).alias("posterior_lift"),
    )


# ---------------------------------------------------------------------------
# events_dispersion_index — Poisson over/under-dispersion per event type
# ---------------------------------------------------------------------------

_DISPERSION_ORACLE = """
WITH m AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type,
         COUNT(*) AS n_hours,
         CAST(SUM(c) AS DOUBLE) AS sx,
         CAST(SUM(c * c) AS DOUBLE) AS sx2
  FROM m GROUP BY event_type
)
SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
       ROUND(sx / n_hours, 6) AS mean_per_hour,
       ROUND(((sx2 - sx * sx / n_hours) / (n_hours - 1))
             / (sx / n_hours), 6) AS dispersion_index,
       CAST(((sx2 - sx * sx / n_hours) / (n_hours - 1))
            / (sx / n_hours) > 1.5 AS BOOLEAN) AS overdispersed
FROM s
"""


@register("events_dispersion_index", oracle=_DISPERSION_ORACLE)
def events_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion index (variance-to-mean ratio of hourly counts) per
    event type — the Poisson-assumption audit: D ≈ 1 means arrivals are
    Poisson-consistent (alerting thresholds from Poisson tails are
    valid), D >> 1 means bursty/clumped traffic (they are not — switch
    to negative-binomial envelopes). Flags D > 1.5 as overdispersed.
    The diagnostic that belongs BEFORE events_alert_throttle-style
    threshold setting.

    Scale design: one (type, hour)-keyed count, then per-type moment
    sums over the hour-levelled table — exact integer sums into one
    double expression (identical both engines), ROUND(6)."""
    ev = table(spark, sf_dir, "events")
    m = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("c"))
    s = m.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("c").cast("double").alias("sx"),
        F.sum(F.col("c") * F.col("c")).cast("double").alias("sx2"),
    )
    var = (F.col("sx2") - F.col("sx") * F.col("sx") / F.col("n_hours")) / (
        F.col("n_hours") - 1
    )
    disp = var / (F.col("sx") / F.col("n_hours"))
    return s.select(
        "event_type",
        F.col("n_hours").cast("long").alias("n_hours"),
        F.round(F.col("sx") / F.col("n_hours"), 6).alias("mean_per_hour"),
        F.round(disp, 6).alias("dispersion_index"),
        (disp > 1.5).alias("overdispersed"),
    )


# ---------------------------------------------------------------------------
# ts_periodogram — DFT power at candidate periods (dominant-cycle scan)
# ---------------------------------------------------------------------------

_PERIODOGRAM_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1
),
idx AS (
  SELECT rev,
         ROW_NUMBER() OVER (ORDER BY day) - 1 AS t,
         COUNT(*) OVER () AS n,
         CAST(SUM(CAST(rev AS DECIMAL(27,6))) OVER () AS DOUBLE)
             / COUNT(*) OVER () AS mu
  FROM daily
),
freqs AS (SELECT unnest(range(1, 15)) AS k),
terms AS (
  SELECT f.k,
         CAST(FLOOR((i.rev - i.mu)
              * (FLOOR(cos(2 * pi() * f.k * i.t / i.n) * 1e8) / 1e8)
              * 1e6) AS BIGINT) AS ct,
         CAST(FLOOR((i.rev - i.mu)
              * (FLOOR(sin(2 * pi() * f.k * i.t / i.n) * 1e8) / 1e8)
              * 1e6) AS BIGINT) AS st,
         i.n
  FROM idx i CROSS JOIN freqs f
),
pw AS (
  -- explicit HUGEINT sums, mirroring the Spark side's DECIMAL(38,0):
  -- both engines sum the floored terms exactly in ~128-bit headroom
  -- (a bare SUM(BIGINT) already widens to HUGEINT in DuckDB; the cast
  -- documents the overflow contract rather than relying on it)
  SELECT k, MAX(n) AS n,
         CAST(SUM(CAST(ct AS HUGEINT)) AS DOUBLE) / 1e6 AS sc,
         CAST(SUM(CAST(st AS HUGEINT)) AS DOUBLE) / 1e6 AS ss
  FROM terms GROUP BY k
)
SELECT k AS harmonic,
       FLOOR(CAST(n AS DOUBLE) / k * 100) / 100 AS period_days,
       FLOOR((sc * sc + ss * ss) / n * 100) / 100 AS power
FROM pw
"""


@register("ts_periodogram", oracle=_PERIODOGRAM_ORACLE)
def ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram of the daily revenue series at the first 14
    harmonics — the DFT power scan that finds the DOMINANT CYCLE
    (weekly? monthly?) without presupposing one, upstream of
    ts_seasonality_strength (which tests a GIVEN period) and
    ts_decompose_additive (which removes it). Power_k =
    (Σ(x−μ)cos(2πkt/n))² + (Σ(x−μ)sin(·))², the classic Schuster form.

    Scale design: the DFT at m candidate frequencies is m pairs of
    DISTRIBUTED weighted sums — the day-levelled series crosses the
    14-row frequency table (bounded fan-out) and everything reduces in
    one keyed aggregation; no FFT, no global order beyond the day
    index (two-pass machinery at corpus scale). Parity: cos/sin of
    identical doubles differ by 1 ULP between the JVM and libm, so
    both floor-quantize at 1e-8 BEFORE the product (flip probability
    ~1e-8/term); terms then floor-quantize into exact BIGINT sums
    (order-independent), and outputs floor-quantize (parity.fquant
    doctrine — ROUND ties resolve differently cross-engine)."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(dsum("o_totalprice").alias("rev"))
    w_all = Window.partitionBy(meta_part(F.unix_date(F.col("day"))))
    w_ord = w_all.orderBy("day")
    idx = daily.select(
        "rev",
        (F.row_number().over(w_ord) - 1).alias("t"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        (
            F.sum(F.col("rev").cast(DSCALE)).over(w_all).cast("double")
            / F.count(F.lit(1)).over(w_all)
        ).alias("mu"),
    )
    import math

    freqs = spark.range(1, 15).select(F.col("id").alias("k"))
    ang = 2 * math.pi * F.col("k") * F.col("t") / F.col("n")
    terms = idx.crossJoin(F.broadcast(freqs)).select(
        "k",
        "n",
        F.floor(
            (F.col("rev") - F.col("mu")) * fquant(F.cos(ang), 8) * 1e6
        ).alias("ct"),
        F.floor(
            (F.col("rev") - F.col("mu")) * fquant(F.sin(ang), 8) * 1e6
        ).alias("st"),
    )
    # Sum as DECIMAL(38,0), not BIGINT: Spark's sum(long) wraps silently
    # at 2^63 under legacy ansi=false sessions and THROWS under the
    # Spark-4 ANSI default, while DuckDB widens SUM(BIGINT) to HUGEINT
    # (2^127). Per-term magnitude |rev-mu|*1e6 grows linearly with scale
    # factor, so the per-harmonic BIGINT sum would approach 2^63 around
    # sf100-1000 — a silent divergence or a hard failure depending on
    # the session's ANSI mode. Decimal sums avoid both: still exact and
    # order-independent, with ~10^38 headroom — the same class as the
    # oracle's HUGEINT.
    pw = terms.groupBy("k").agg(
        F.max("n").alias("n"),
        (F.sum(F.col("ct").cast("decimal(38,0)")).cast("double") / 1e6)
        .alias("sc"),
        (F.sum(F.col("st").cast("decimal(38,0)")).cast("double") / 1e6)
        .alias("ss"),
    )
    return pw.select(
        F.col("k").alias("harmonic"),
        fquant(F.col("n").cast("double") / F.col("k"), 2).alias(
            "period_days"
        ),
        fquant(
            (F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss"))
            / F.col("n"),
            2,
        ).alias("power"),
    )


# ---------------------------------------------------------------------------
# ts_croston_intermittent — Croston's method for intermittent demand
# ---------------------------------------------------------------------------

_CROSTON_ORACLE = """
WITH RECURSIVE
wk AS (
  SELECT DISTINCT date_trunc('week', l_shipdate) AS w FROM lineitem
),
pk AS (
  SELECT DISTINCT l_partkey FROM lineitem WHERE l_partkey % 20 = 0
),
dem AS (
  SELECT l_partkey, date_trunc('week', l_shipdate) AS w,
         CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS d
  FROM lineitem WHERE l_partkey % 20 = 0
  GROUP BY 1, 2
),
spine AS (
  SELECT pk.l_partkey, wk.w,
         ROW_NUMBER() OVER (PARTITION BY pk.l_partkey ORDER BY wk.w)
             AS rn,
         COALESCE(dem.d, 0.0) AS d
  FROM pk CROSS JOIN wk
  LEFT JOIN dem ON dem.l_partkey = pk.l_partkey AND dem.w = wk.w
),
r AS (
  SELECT l_partkey, rn, d,
         CAST(CASE WHEN d > 0 THEN d END AS DOUBLE) AS z,
         CAST(CASE WHEN d > 0 THEN 1.0 END AS DOUBLE) AS p,
         CAST(CASE WHEN d > 0 THEN 0 ELSE NULL END AS BIGINT) AS gap
  FROM spine WHERE rn = 1
  UNION ALL
  SELECT s.l_partkey, s.rn, s.d,
         CASE WHEN s.d > 0 THEN
           CASE WHEN r.z IS NULL THEN s.d
                ELSE FLOOR((0.2 * s.d + 0.8 * r.z) * 1e9) / 1e9 END
         ELSE r.z END,
         CASE WHEN s.d > 0 THEN
           CASE WHEN r.z IS NULL THEN 1.0
                -- CAST: decimal-literal × integer is EXACT decimal in
                -- DuckDB (0.2*39 = 7.8, not fl(0.2·39.0)); force the
                -- IEEE double product the Python fold computes
                ELSE FLOOR((0.2 * CAST(r.gap + 1 AS DOUBLE) + 0.8 * r.p)
                           * 1e9) / 1e9
           END
         ELSE r.p END,
         CASE WHEN s.d > 0 THEN 0 ELSE r.gap + 1 END
  FROM r JOIN spine s
    ON s.l_partkey = r.l_partkey AND s.rn = r.rn + 1
),
fin AS (
  SELECT l_partkey, z, p,
         ROW_NUMBER() OVER (PARTITION BY l_partkey
                            ORDER BY rn DESC) AS rev
  FROM r
)
SELECT l_partkey, FLOOR(z * 1e6) / 1e6 AS demand_size_est,
       FLOOR(p * 1e6) / 1e6 AS interval_est,
       FLOOR(z / p * 1e6) / 1e6 AS croston_forecast
FROM fin WHERE rev = 1 AND z IS NOT NULL
"""


@register("ts_croston_intermittent", oracle=_CROSTON_ORACLE)
def ts_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (1972) — THE forecaster for INTERMITTENT demand
    (mostly-zero series, where plain EWMA decays toward zero between
    demands and systematically under-forecasts): two conditional EWMAs,
    one over nonzero demand SIZES, one over the INTERVALS between them,
    updated only when demand occurs; forecast = size / interval. Run
    per part over the weekly demand spine (sampled parts keep the
    recursive-CTE oracle tractable); sparse part-week series are
    exactly the regime Croston exists for.

    Scale design: the recursion is the applyInPandas fold family
    (sequential per part, parallel across parts — the EWMA/Holt
    doctrine) over a part×week spine built with one keyed agg + a
    bounded cross join; state is two doubles + a gap counter. Fold
    arithmetic is the LITERAL expression sequence the recursive CTE
    mirrors (9dp floor-quantize at each update — tie-free cross-engine,
    see parity.fquant), so values match exactly."""
    import math

    import pandas as pd

    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey") % 20 == 0
    )
    wk = (
        table(spark, sf_dir, "lineitem")
        .select(F.date_trunc("week", "l_shipdate").alias("w"))
        .distinct()
    )
    pk = li.select("l_partkey").distinct()
    dem = li.groupBy(
        "l_partkey", F.date_trunc("week", "l_shipdate").alias("w")
    ).agg(F.sum(F.col("l_quantity").cast(DSCALE)).cast("double").alias("d"))
    spine = (
        pk.crossJoin(wk)
        .join(dem, ["l_partkey", "w"], "left")
        .withColumn("d", F.coalesce("d", F.lit(0.0)))
    )

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("w")
        z = p = None
        gap = 0
        for d in pdf["d"].to_numpy():
            d = float(d)
            if d > 0:
                if z is None:
                    z, p = d, 1.0
                else:
                    z = math.floor((0.2 * d + 0.8 * z) * 1e9) / 1e9
                    p = math.floor((0.2 * (gap + 1) + 0.8 * p) * 1e9) / 1e9
                gap = 0
            else:
                gap += 1
        key = pdf["l_partkey"].iloc[0]
        if z is None:
            return pd.DataFrame(
                columns=["l_partkey", "demand_size_est", "interval_est",
                         "croston_forecast"]
            )
        return pd.DataFrame(
            {
                "l_partkey": [key],
                "demand_size_est": [math.floor(z * 1e6) / 1e6],
                "interval_est": [math.floor(p * 1e6) / 1e6],
                "croston_forecast": [math.floor(z / p * 1e6) / 1e6],
            }
        )

    return spine.groupBy("l_partkey").applyInPandas(
        fold,
        "l_partkey long, demand_size_est double, interval_est double, "
        "croston_forecast double",
    )


# ---------------------------------------------------------------------------
# ts_yoy_calendar_join — year-over-year comparison via calendar self-join
# ---------------------------------------------------------------------------

_YOY_ORACLE = """
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS mo,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS rev,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT CAST(CAST(cur.mo AS DATE) AS VARCHAR) AS month,
       cur.rev AS revenue, prev.rev AS revenue_prior_year,
       ROUND((cur.rev - prev.rev) / prev.rev, 6) AS yoy_pct,
       CAST(cur.n_orders - prev.n_orders AS BIGINT) AS order_delta
FROM m cur JOIN m prev ON prev.mo = cur.mo - INTERVAL 1 YEAR
"""


@register("ts_yoy_calendar_join", oracle=_YOY_ORACLE)
def ts_yoy_calendar_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue via a CALENDAR SELF-JOIN — not
    LAG(12): a positional lag silently compares against the wrong month
    the moment any month is missing from the series (new product lines,
    data gaps), where the calendar join (month = month − 1 year) is
    correct by construction and simply drops months with no prior-year
    partner. The staple growth readout, done the robust way.

    Scale design: one month-keyed rollup (dimension-sized), then an
    equi-join of the month table to itself on the shifted calendar key
    — broadcastable, no window, no global order."""
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("mo")
    ).agg(
        dsum("o_totalprice").alias("rev"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    cur = m.alias("cur")
    prev = m.select(
        (F.col("mo") + F.expr("INTERVAL 1 YEAR")).alias("mo"),
        F.col("rev").alias("prev_rev"),
        F.col("n_orders").alias("prev_n"),
    )
    return cur.join(prev, "mo").select(
        F.col("mo").cast("date").cast("string").alias("month"),
        F.col("rev").alias("revenue"),
        F.col("prev_rev").alias("revenue_prior_year"),
        F.round(
            (F.col("rev") - F.col("prev_rev")) / F.col("prev_rev"), 6
        ).alias("yoy_pct"),
        (F.col("n_orders") - F.col("prev_n")).cast("long").alias(
            "order_delta"
        ),
    )


# ---------------------------------------------------------------------------
# events_type_overlap_jaccard — exact audience-overlap matrix
# ---------------------------------------------------------------------------

_TYPE_OVERLAP_ORACLE = """
WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
sz AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY event_type),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS both_users
  FROM tu a JOIN tu b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b, CAST(i.both_users AS BIGINT) AS both_users,
       CAST(sa.n AS BIGINT) AS users_a, CAST(sb.n AS BIGINT) AS users_b,
       ROUND(i.both_users
             / CAST(sa.n + sb.n - i.both_users AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sz sa ON sa.event_type = i.type_a
JOIN sz sb ON sb.event_type = i.type_b
"""


@register("events_type_overlap_jaccard", oracle=_TYPE_OVERLAP_ORACLE)
def events_type_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT audience-overlap (Jaccard) matrix between event types —
    which behaviors share users ("do clickers purchase?"), the exact
    small-matrix complement of agg_hll_intersection's sketch form: with
    |types|² cells the exact answer is cheap and the sketch is for when
    the DIMENSION explodes (audiences × audiences), not the users.

    Scale design: one distinct collapse to (type, user), pair
    intersections via the user-keyed self-join (each user contributes
    its type-pair combinations — bounded by |types|² per user), union
    sizes by degree arithmetic (the graph_jaccard_links identity) —
    user sets are never materialized per pair."""
    ev = table(spark, sf_dir, "events")
    # One distinct collapse, not four: tu feeds both self-join sides AND
    # the per-type size legs; without the cache each consumer replays the
    # full events distinct (the small legs broadcast, so plan reuse
    # cannot dedupe). The cached frame IS the design's collapse —
    # |types|·|users| worst case, the same frame the join shuffles.
    from trireme_spark.operators.hints import cache_once

    tu = cache_once(ev.select("event_type", "user_id").distinct())
    sz = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = tu.alias("a")
    b = tu.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("both_users"))
    )
    sa = sz.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("users_a")
    )
    sb = sz.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("users_b")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("both_users").cast("long").alias("both_users"),
            F.col("users_a").cast("long").alias("users_a"),
            F.col("users_b").cast("long").alias("users_b"),
            F.round(
                F.col("both_users")
                / (
                    F.col("users_a") + F.col("users_b") - F.col("both_users")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# events_peak_concurrency — max simultaneous sessions (boundary sweep)
# ---------------------------------------------------------------------------

_PEAK_CONC_ORACLE = """
WITH s AS (
  SELECT user_id,
         min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end
  FROM (
    SELECT user_id, ts,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts,
                                  event_id) AS sid
    FROM (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
  ) GROUP BY user_id, sid
),
b AS (
  SELECT session_start AS t, 1 AS delta FROM s
  UNION ALL
  SELECT session_end, -1 FROM s
),
sweep AS (
  SELECT t, SUM(delta) OVER (ORDER BY t, delta) AS concurrent
  FROM b
)
SELECT CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent,
       CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS n_sessions,
       CAST(MIN(CASE WHEN concurrent = (SELECT MAX(concurrent) FROM sweep)
                THEN t END) AS VARCHAR) AS peak_start
FROM sweep
"""


@register("events_peak_concurrency", oracle=_PEAK_CONC_ORACLE)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK CONCURRENCY: the maximum number of simultaneously open
    sessions (30-min-gap sessions, end = last event + gap) — the
    capacity/licensing number ("how many seats do we actually need"),
    computed by the classic BOUNDARY SWEEP: +1 at each session start,
    −1 at each end, running sum, take the max. Ends sort BEFORE starts
    at the same instant (delta ascending), so back-to-back sessions
    don't double-count — the half-open-interval convention.

    Scale design: sessionization is the t3 gaps-and-islands form (one
    user-keyed window); the sweep's running sum is a GLOBAL-order
    dependency over 2·|sessions| boundary rows — session-grain, not
    event-grain, so it rides the meta-window here and the two-pass
    bucket machinery (time-bucket offsets) past that; the argmin of
    the peak folds into the same pass."""
    ev = table(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = F.when(
        F.lag("ts").over(w_u).isNull()
        | (
            F.col("ts") - F.lag("ts").over(w_u)
            >= F.expr("INTERVAL 30 MINUTES")
        ),
        1,
    ).otherwise(0)
    sid = ev.select(
        "user_id", "ts", "event_id", new_s.alias("new_session")
    ).withColumn(
        "sid",
        F.sum("new_session").over(
            w_u.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    from trireme_spark.operators.hints import cache_once

    # session-grain frame, consumed by both boundary legs AND the session
    # count — uncached, each consumer replays the full event-grain
    # sessionization window (5 events scans in the before plan; the
    # bounded-derived-frame replay class of this round's fixes)
    s = cache_once(
        sid.groupBy("user_id", "sid").agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias(
                "session_end"
            ),
        )
    )
    b = s.select(
        F.col("session_start").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        s.select(F.col("session_end").alias("t"), F.lit(-1).alias("delta"))
    )
    w_sweep = Window.partitionBy(
        meta_part(F.unix_date(F.col("t").cast("date")))
    ).orderBy("t", "delta")
    # 2·|sessions| boundary rows with their running sum — the peak agg
    # and the argmin probe both consume it; cached so the sweep window
    # runs once (bounded: session-grain ×2)
    sweep = cache_once(
        b.withColumn(
            "concurrent",
            F.sum("delta").over(
                w_sweep.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    n_sessions = s.agg(F.count(F.lit(1)).alias("ns"))
    peak = sweep.agg(F.max("concurrent").alias("pk"))
    return (
        sweep.crossJoin(F.broadcast(peak))
        .where(F.col("concurrent") == F.col("pk"))
        .agg(
            F.max("pk").cast("long").alias("peak_concurrent"),
            F.min("t").cast("string").alias("peak_start"),
        )
        .crossJoin(F.broadcast(n_sessions))
        .select(
            "peak_concurrent",
            F.col("ns").cast("long").alias("n_sessions"),
            "peak_start",
        )
    )


# ---------------------------------------------------------------------------
# events_attribution_time_decay — exponentially decayed multi-touch credit
# ---------------------------------------------------------------------------

_DECAY_ATTR_ORACLE = """
WITH clicks AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
  FROM events WHERE event_type = 'purchase'
),
touch AS (
  SELECT p.purchase_id, p.user_id, p.value, c.click_id,
         ROUND(exp(-CAST(date_diff('second', c.click_ts, p.purchase_ts)
                         AS DOUBLE) / 86400.0), 9) AS w
  FROM purchases p
  JOIN clicks c
    ON c.user_id = p.user_id
   AND c.click_ts <= p.purchase_ts
   AND c.click_ts >= p.purchase_ts - INTERVAL 7 DAY
),
z AS (
  SELECT purchase_id,
         CAST(SUM(CAST(w AS DECIMAL(27,9))) AS DOUBLE) AS zsum,
         CAST(COUNT(*) AS BIGINT) AS n_touches
  FROM touch GROUP BY purchase_id
)
SELECT t.purchase_id, t.user_id, t.click_id, z.n_touches,
       FLOOR(t.value * t.w / z.zsum * 1e6) / 1e6 AS credit
FROM touch t JOIN z ON z.purchase_id = t.purchase_id
"""


@register("events_attribution_time_decay", oracle=_DECAY_ATTR_ORACLE)
def events_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: each purchase's value splits
    across its prior-7-day clicks with weights exp(−Δt / 1 day) — the
    recency-weighted middle ground between last-touch (all credit to
    the final click) and linear (equal split): a click an hour before
    conversion earns ~e× the credit of one a day earlier. Touch set and
    window identical to the linear key, so the three models
    (last/linear/decay) are directly comparable per purchase.

    Scale design: same user-keyed touch join as the linear key; the
    per-purchase normalizer is a purchase-keyed WINDOW aggregate over
    the touch rows (the text_tfidf df-as-window trick) — an agg-plus-
    rejoin form replayed the whole range join once per consumer (4
    events scans in the before plan; one keyed exchange does both jobs
    here). Parity: Δt is exact integer seconds (µs-truncated timestamps
    both engines), each weight ROUND(9) before the order-independent
    decimal normalizer sum, credit floor-quantized at 1e-6."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    # events ts is TIMESTAMP_NTZ; the session is pinned UTC (prep()),
    # so the cast to TIMESTAMP is value-preserving and unix_micros gives
    # the same integer microseconds DuckDB's tz-free date_diff sees
    # whole seconds (floor per timestamp, then subtract) — exactly
    # DuckDB's date_diff('second', ...) boundary-crossing count
    dt_sec = (
        F.floor(
            F.unix_micros(F.col("purchase_ts").cast("timestamp")) / 1e6
        )
        - F.floor(
            F.unix_micros(F.col("click_ts").cast("timestamp")) / 1e6
        )
    )
    p_a = purchases.alias("p")
    c_a = clicks.withColumnRenamed("user_id", "c_user_id").alias("c")
    touch = p_a.join(
        c_a,
        (F.col("p.user_id") == F.col("c.c_user_id"))
        & (F.col("c.click_ts") <= F.col("p.purchase_ts"))
        & (
            F.col("c.click_ts")
            >= F.col("p.purchase_ts") - F.expr("INTERVAL 7 DAYS")
        ),
    ).select(
        "purchase_id",
        F.col("p.user_id").alias("user_id"),
        "value",
        "click_id",
        F.round(F.exp(-dt_sec.cast("double") / 86400.0), 9).alias("w"),
    )
    w_p = Window.partitionBy("purchase_id")
    zsum = (
        F.sum(F.col("w").cast("decimal(27,9)")).over(w_p).cast("double")
    )
    n_touches = F.count(F.lit(1)).over(w_p).cast("long")
    return touch.select(
        "purchase_id",
        "user_id",
        "click_id",
        n_touches.alias("n_touches"),
        (
            F.floor(F.col("value") * F.col("w") / zsum * 1e6)
            / 1e6
        ).alias("credit"),
    )


# ---------------------------------------------------------------------------
# events_eb_shrinkage — empirical-Bayes conversion-rate shrinkage
# ---------------------------------------------------------------------------

_EB_ORACLE = """
WITH u AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS x
  FROM events GROUP BY user_id
),
r AS (SELECT user_id, n, x, CAST(x AS DOUBLE) / n AS p FROM u),
mom AS (
  SELECT CAST(SUM(CAST(ROUND(p, 9) AS DECIMAL(27,9))) AS DOUBLE)
             / COUNT(*) AS mu,
         (CAST(SUM(CAST(ROUND(p * p, 9) AS DECIMAL(27,9))) AS DOUBLE)
          - CAST(SUM(CAST(ROUND(p, 9) AS DECIMAL(27,9))) AS DOUBLE)
            * SUM(CAST(ROUND(p, 9) AS DECIMAL(27,9))) / COUNT(*))
         / (COUNT(*) - 1) AS var
  FROM r
),
prior AS (
  SELECT mu, var,
         mu * (mu * (1 - mu) / var - 1) AS alpha,
         (1 - mu) * (mu * (1 - mu) / var - 1) AS beta
  FROM mom
)
SELECT r.user_id, r.n, r.x,
       ROUND(r.p, 6) AS raw_rate,
       ROUND((r.x + prior.alpha) / (r.n + prior.alpha + prior.beta), 6)
           AS shrunk_rate,
       ROUND(prior.alpha, 6) AS prior_alpha,
       ROUND(prior.beta, 6) AS prior_beta
FROM r CROSS JOIN prior
"""


@register("events_eb_shrinkage", oracle=_EB_ORACLE)
def events_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-user purchase rates: a
    Beta(α, β) prior fit by method of moments from the OBSERVED rate
    distribution, each user's rate re-estimated as (x+α)/(n+α+β) —
    the fix for every "top converters" leaderboard dominated by
    3-event users at 100%: small samples shrink hard toward the global
    mean, big samples barely move (Robinson's baseball-batting
    classic). The raw and shrunk rates emit side by side with the
    fitted prior, so the shrinkage is auditable.

    Scale design: one user-keyed count pass; the prior is a 1-row
    moments aggregate (9dp-quantized decimal sums) broadcast back; the
    shrunk estimate is per-row algebra. Nothing iterative — method of
    moments, not MLE, exactly so the whole fit stays one scan."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("x"),
    )
    r = u.withColumn("p", F.col("x").cast("double") / F.col("n"))
    dec9 = "decimal(27,9)"
    mom = r.agg(
        (
            F.sum(F.round("p", 9).cast(dec9)).cast("double")
            / F.count(F.lit(1))
        ).alias("mu"),
        (
            (
                F.sum(F.round(F.col("p") * F.col("p"), 9).cast(dec9)).cast(
                    "double"
                )
                - F.sum(F.round("p", 9).cast(dec9)).cast("double")
                * F.sum(F.round("p", 9).cast(dec9))
                / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("var"),
    )
    k = F.col("mu") * (1 - F.col("mu")) / F.col("var") - 1
    prior = mom.select(
        (F.col("mu") * k).alias("alpha"),
        ((1 - F.col("mu")) * k).alias("beta"),
    )
    return r.crossJoin(F.broadcast(prior)).select(
        "user_id",
        "n",
        "x",
        F.round("p", 6).alias("raw_rate"),
        F.round(
            (F.col("x") + F.col("alpha"))
            / (F.col("n") + F.col("alpha") + F.col("beta")),
            6,
        ).alias("shrunk_rate"),
        F.round("alpha", 6).alias("prior_alpha"),
        F.round("beta", 6).alias("prior_beta"),
    )


# ---------------------------------------------------------------------------
# lineitem_newsvendor_stock — critical-fractile stocking levels
# ---------------------------------------------------------------------------

_NEWSVENDOR_ORACLE = """
WITH wk AS (
  SELECT DISTINCT date_trunc('week', l_shipdate) AS w FROM lineitem
),
pk AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_partkey % 20 = 0),
dem AS (
  SELECT l_partkey, date_trunc('week', l_shipdate) AS w,
         CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS d
  FROM lineitem WHERE l_partkey % 20 = 0 GROUP BY 1, 2
),
spine AS (
  SELECT pk.l_partkey, wk.w, COALESCE(dem.d, 0.0) AS d
  FROM pk CROSS JOIN wk
  LEFT JOIN dem ON dem.l_partkey = pk.l_partkey AND dem.w = wk.w
)
SELECT l_partkey,
       CAST(COUNT(*) AS BIGINT) AS n_weeks,
       ROUND(CAST(SUM(CAST(d AS DECIMAL(27,6))) AS DOUBLE)
             / COUNT(*), 4) AS mean_weekly_demand,
       ROUND(quantile_cont(d, 0.8), 4) AS stock_level_p80
FROM spine GROUP BY l_partkey
"""


@register("lineitem_newsvendor_stock", oracle=_NEWSVENDOR_ORACLE)
def lineitem_newsvendor_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWSVENDOR stocking level per part: the critical-fractile
    solution — stock the q-th quantile of weekly demand, q = Cu/(Cu+Co)
    (0.8 here: underage costs 4x overage) — the stochastic-inventory
    counterpart of the deterministic EOQ key: EOQ answers "how much per
    order", the newsvendor answers "how much to stock under demand
    UNCERTAINTY", and the empirical quantile needs no distribution
    assumption. Zero-demand weeks belong in the distribution (the
    croston spine), or the quantile overstates demand.

    Scale design: weekly demand over a part×week spine (keyed agg +
    bounded cross join), one keyed exact-percentile aggregation per
    part. Quantile ROUND(4) both engines (shared interpolation)."""
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey") % 20 == 0
    )
    wk = (
        table(spark, sf_dir, "lineitem")
        .select(F.date_trunc("week", "l_shipdate").alias("w"))
        .distinct()
    )
    pk = li.select("l_partkey").distinct()
    dem = li.groupBy(
        "l_partkey", F.date_trunc("week", "l_shipdate").alias("w")
    ).agg(
        F.sum(F.col("l_quantity").cast(DSCALE)).cast("double").alias("d")
    )
    spine = (
        pk.crossJoin(wk)
        .join(dem, ["l_partkey", "w"], "left")
        .withColumn("d", F.coalesce("d", F.lit(0.0)))
    )
    return spine.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_weeks"),
        F.round(
            F.sum(F.col("d").cast(DSCALE)).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("mean_weekly_demand"),
        F.round(F.percentile("d", F.lit(0.8)), 4).alias(
            "stock_level_p80"
        ),
    )


# ---------------------------------------------------------------------------
# events_ipw_ate — inverse-propensity-weighted treatment effect
# ---------------------------------------------------------------------------

_IPW_ORACLE = """
WITH base AS (
  SELECT user_id, event_type, value,
         CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)
                    || '|exp42'), 1, 8)) AS BIGINT) % 2 AS INT) AS treat
  FROM events WHERE event_type IN ('click', 'view', 'purchase')
),
prop AS (
  SELECT event_type,
         CAST(SUM(treat) AS DOUBLE) / COUNT(*) AS p
  FROM base GROUP BY event_type
),
w AS (
  SELECT b.treat, b.value,
         CASE WHEN b.treat = 1 THEN 1.0 / p.p
              ELSE 1.0 / (1.0 - p.p) END AS wt
  FROM base b JOIN prop p ON p.event_type = b.event_type
),
arms AS (
  SELECT treat,
         CAST(SUM(CAST(ROUND(wt * value, 6) AS DECIMAL(27,6)))
              AS DOUBLE)
         / CAST(SUM(CAST(ROUND(wt, 6) AS DECIMAL(27,6))) AS DOUBLE)
             AS wmean,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM w GROUP BY treat
)
SELECT MAX(CASE WHEN treat = 1 THEN n END) AS n_treated,
       MAX(CASE WHEN treat = 0 THEN n END) AS n_control,
       ROUND(MAX(CASE WHEN treat = 1 THEN wmean END), 6)
           AS treated_wmean,
       ROUND(MAX(CASE WHEN treat = 0 THEN wmean END), 6)
           AS control_wmean,
       ROUND(MAX(CASE WHEN treat = 1 THEN wmean END)
             - MAX(CASE WHEN treat = 0 THEN wmean END), 6) AS ate_ipw
FROM arms
"""


@register("events_ipw_ate", oracle=_IPW_ORACLE)
def events_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect: outcomes
    reweight by 1/P(treatment | stratum) (strata = event type,
    propensities estimated empirically per stratum), Hájek-normalized
    weighted means per arm, ATE = their difference — the
    observational-causal workhorse when assignment ISN'T randomized and
    arms differ in composition (here the md5 assignment is random, so
    IPW ≈ the naive difference — exactly the null check the machinery
    should pass; swap the treat column for any real exposure flag and
    the same plan corrects composition bias). Completes the causal
    shelf: A/B (randomized), CUPED (variance reduction), DiD (parallel
    trends), IPW (observational).

    Scale design: one stratum-keyed propensity agg (dimension-sized)
    joined back, then a 2-row weighted rollup; weights and weighted
    outcomes ROUND(6) into decimal sums (Hájek ratio of two exact
    sums)."""
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view", "purchase")
    )
    treat = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"), F.lit("|exp42")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        % 2
    ).cast("int")
    base = ev.select("event_type", "value", treat.alias("treat"))
    prop = base.groupBy("event_type").agg(
        (F.sum("treat").cast("double") / F.count(F.lit(1))).alias("p")
    )
    w = base.join(F.broadcast(prop), "event_type").select(
        "treat",
        "value",
        F.when(F.col("treat") == 1, 1.0 / F.col("p"))
        .otherwise(1.0 / (1.0 - F.col("p")))
        .alias("wt"),
    )
    arms = w.groupBy("treat").agg(
        (
            F.sum(F.round(F.col("wt") * F.col("value"), 6).cast(DSCALE))
            .cast("double")
            / F.sum(F.round("wt", 6).cast(DSCALE)).cast("double")
        ).alias("wmean"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    t = F.max(F.when(F.col("treat") == 1, F.col("wmean")))
    c = F.max(F.when(F.col("treat") == 0, F.col("wmean")))
    return arms.agg(
        F.max(F.when(F.col("treat") == 1, F.col("n"))).alias("n_treated"),
        F.max(F.when(F.col("treat") == 0, F.col("n"))).alias("n_control"),
        F.round(t, 6).alias("treated_wmean"),
        F.round(c, 6).alias("control_wmean"),
        F.round(t - c, 6).alias("ate_ipw"),
    )


# ---------------------------------------------------------------------------
# events_markov_entropy_rate — behavioral predictability of the event chain
# ---------------------------------------------------------------------------

_MARKOV_H_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS a,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS b
  FROM events
),
t AS (
  SELECT a, b, COUNT(*) AS nab FROM seq WHERE b IS NOT NULL GROUP BY a, b
),
ma AS (SELECT a, SUM(nab) AS na FROM t GROUP BY a),
n AS (SELECT SUM(nab) AS n FROM t),
h AS (
  SELECT SUM(CAST(ROUND(
           (CAST(t.nab AS DOUBLE) / n.n)
           * ln(CAST(t.nab AS DOUBLE) / ma.na), 9)
         AS DECIMAL(27,9))) AS hsum,
         COUNT(*) AS n_transitions_kinds
  FROM t JOIN ma ON ma.a = t.a CROSS JOIN n
)
SELECT ROUND(-CAST(hsum AS DOUBLE), 6) AS entropy_rate_nats,
       CAST(n_transitions_kinds AS BIGINT) AS n_transition_kinds,
       ROUND(-CAST(hsum AS DOUBLE) / ln(5), 6) AS normalized
FROM h
"""


@register("events_markov_entropy_rate", oracle=_MARKOV_H_ORACLE)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTROPY RATE of the first-order event-type Markov chain:
    H = −Σ_{a,b} p(a,b)·ln p(b|a) — how unpredictable the NEXT action
    is given the current one (0 = deterministic flows, ln|types| =
    uniform chaos; normalized by ln 5 for the fixture's 5 types). The
    one-number sequel to events_top_paths' transition table: paths list
    WHAT follows what, the entropy rate says how much that structure
    actually constrains behavior — the personalization-headroom
    number.

    Scale design: one keyed lag window (the top_paths shape), a
    |types|²-cell transition count, marginals derived from it, 9dp
    decimal term sums (parity doctrine)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).where(F.col("b").isNotNull())
    t = seq.groupBy("a", "b").agg(F.count(F.lit(1)).alias("nab"))
    t = t.localCheckpoint(eager=True)
    ma = t.groupBy("a").agg(F.sum("nab").alias("na"))
    n = t.agg(F.sum("nab").alias("n"))
    term = F.round(
        (F.col("nab").cast("double") / F.col("n"))
        * F.log(F.col("nab").cast("double") / F.col("na")),
        9,
    ).cast("decimal(27,9)")
    h = (
        t.join(F.broadcast(ma), "a")
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(term).alias("hsum"),
            F.count(F.lit(1)).alias("kinds"),
        )
    )
    import math

    return h.select(
        F.round(-F.col("hsum").cast("double"), 6).alias(
            "entropy_rate_nats"
        ),
        F.col("kinds").cast("long").alias("n_transition_kinds"),
        F.round(
            -F.col("hsum").cast("double") / math.log(5), 6
        ).alias("normalized"),
    )


# ---------------------------------------------------------------------------
# events_next_event_baseline — most-likely-next-action accuracy
# ---------------------------------------------------------------------------

_NEXT_BASE_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS a,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS b
  FROM events
),
t AS (
  SELECT a, b, COUNT(*) AS nab FROM seq WHERE b IS NOT NULL GROUP BY a, b
),
pred AS (
  SELECT a, b AS predicted, nab
  FROM t
  QUALIFY ROW_NUMBER() OVER (PARTITION BY a
                             ORDER BY nab DESC, b ASC) = 1
),
score AS (
  SELECT t.a, SUM(t.nab) AS n_from,
         SUM(CASE WHEN t.b = pred.predicted THEN t.nab ELSE 0 END)
             AS n_correct
  FROM t JOIN pred ON pred.a = t.a
  GROUP BY t.a
)
SELECT s.a AS current_event, p.predicted AS predicted_next,
       CAST(s.n_from AS BIGINT) AS n_transitions,
       ROUND(CAST(s.n_correct AS DOUBLE) / s.n_from, 6) AS accuracy
FROM score s JOIN pred p ON p.a = s.a
"""


@register("events_next_event_baseline", oracle=_NEXT_BASE_ORACLE)
def events_next_event_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOST-LIKELY-NEXT baseline: predict each state's modal successor
    and score its accuracy on the observed transitions — the floor any
    sequence model (Markov, RNN, transformer) must beat before it earns
    its complexity, and the operational twin of
    events_markov_entropy_rate (high entropy rate ⇒ this baseline is
    weak ⇒ personalization headroom exists). Tie-broken (count desc,
    type asc) so the prediction is deterministic.

    Scale design: the transition table IS the model — |types|² cells;
    argmax via a keyed window over those cells, scoring one more pass
    over the same dimension-sized table. The corpus is touched once
    (the lag window)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).where(F.col("b").isNotNull())
    t = seq.groupBy("a", "b").agg(F.count(F.lit(1)).alias("nab"))
    t = t.localCheckpoint(eager=True)
    wp = Window.partitionBy("a").orderBy(
        F.col("nab").desc(), F.col("b").asc()
    )
    pred = (
        t.withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") == 1)
        .select("a", F.col("b").alias("predicted"))
    )
    score = (
        t.join(F.broadcast(pred), "a")
        .groupBy("a", "predicted")
        .agg(
            F.sum("nab").alias("n_from"),
            F.sum(
                F.when(F.col("b") == F.col("predicted"), F.col("nab"))
                .otherwise(0)
            ).alias("n_correct"),
        )
    )
    return score.select(
        F.col("a").alias("current_event"),
        F.col("predicted").alias("predicted_next"),
        F.col("n_from").cast("long").alias("n_transitions"),
        F.round(
            F.col("n_correct").cast("double") / F.col("n_from"), 6
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# lineitem_price_elasticity — pooled log-log demand elasticity
# ---------------------------------------------------------------------------

_ELASTICITY_ORACLE = """
WITH obs AS (
  SELECT l_partkey, date_trunc('week', l_shipdate) AS w,
         CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS q,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)
             AS unit_p
  FROM lineitem GROUP BY 1, 2
),
pts AS (
  SELECT ROUND(ln(unit_p), 6) AS x, ROUND(ln(q), 6) AS y
  FROM obs WHERE q > 0 AND unit_p > 0
),
s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(27,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(27,6))) AS DOUBLE)
             AS sxy,
         CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(27,6))) AS DOUBLE)
             AS sxx
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_obs,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
           AS elasticity,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
             6) AS log_intercept
FROM s
"""


@register("lineitem_price_elasticity", oracle=_ELASTICITY_ORACLE)
def lineitem_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled PRICE ELASTICITY of demand: OLS slope of ln(weekly qty)
    on ln(unit price) over (part, week) observations — the %-demand
    per %-price number behind every pricing decision (β ≈ −1 is
    revenue-neutral; the fixture's randomized prices make this a
    near-zero null, which is itself the honest reading: no real price
    experiment, no elasticity). The Heaps-law OLS machinery pointed at
    econometrics; per-part fixed effects are the documented refinement
    (demean within part first, same two passes).

    Scale design: one (part, week)-keyed rollup, then 4 decimal moment
    sums — one scan + dimension-free state; log points ROUND(6) before
    the order-independent sums."""
    li = table(spark, sf_dir, "lineitem")
    obs = li.groupBy(
        "l_partkey", F.date_trunc("week", "l_shipdate").alias("w")
    ).agg(
        F.sum(F.col("l_quantity").cast(DSCALE)).cast("double").alias("q"),
        (
            F.sum(F.col("l_extendedprice").cast(DSCALE)).cast("double")
            / F.sum(F.col("l_quantity").cast(DSCALE)).cast("double")
        ).alias("unit_p"),
    )
    pts = obs.where((F.col("q") > 0) & (F.col("unit_p") > 0)).select(
        F.round(F.log("unit_p"), 6).alias("x"),
        F.round(F.log("q"), 6).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(DSCALE)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(DSCALE)).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 6).cast(DSCALE))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 6).cast(DSCALE))
        .cast("double")
        .alias("sxx"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("long").alias("n_obs"),
        F.round(beta, 6).alias("elasticity"),
        F.round(
            (F.col("sy") - beta * F.col("sx")) / F.col("n"), 6
        ).alias("log_intercept"),
    )


# ---------------------------------------------------------------------------
# events_conversion_window_sensitivity — attribution-window robustness
# ---------------------------------------------------------------------------

_CONV_WINDOW_ORACLE = """
WITH clicks AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'
),
purch AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT p.event_id,
         MAX(CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR
                  THEN 1 ELSE 0 END) AS w1h,
         MAX(CASE WHEN c.ts >= p.ts - INTERVAL 1 DAY
                  THEN 1 ELSE 0 END) AS w1d,
         MAX(1) AS w7d
  FROM purch p JOIN clicks c
    ON c.user_id = p.user_id
   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 7 DAY
  GROUP BY p.event_id
),
tot AS (SELECT COUNT(*) AS n_purchases FROM purch)
SELECT CAST(tot.n_purchases AS BIGINT) AS n_purchases,
       CAST(SUM(w1h) AS BIGINT) AS attributed_1h,
       CAST(SUM(w1d) AS BIGINT) AS attributed_1d,
       CAST(SUM(w7d) AS BIGINT) AS attributed_7d,
       ROUND(SUM(w1h) / CAST(tot.n_purchases AS DOUBLE), 6) AS rate_1h,
       ROUND(SUM(w1d) / CAST(tot.n_purchases AS DOUBLE), 6) AS rate_1d,
       ROUND(SUM(w7d) / CAST(tot.n_purchases AS DOUBLE), 6) AS rate_7d
FROM j CROSS JOIN tot
GROUP BY tot.n_purchases
"""


@register("events_conversion_window_sensitivity", oracle=_CONV_WINDOW_ORACLE)
def events_conversion_window_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Attribution-WINDOW sensitivity: the share of purchases with a
    prior click within 1 h / 1 d / 7 d, side by side — the robustness
    check every attribution methodology review demands (if credited
    conversions swing hard with the window, the reported number is a
    parameter choice, not a fact). One join at the WIDEST window;
    narrower windows are conditional flags inside it, so the sweep
    costs one pass — the general recipe for parameter-sensitivity
    analysis in one query.

    Scale design: user-keyed equi-join with the time band as a
    post-join predicate (the j5 doctrine), per-purchase flag rollup,
    3-cell output."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"), F.col("ts").alias("c_ts")
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.col("ts").alias("p_ts")
    )
    j = (
        purch.join(
            clicks,
            (F.col("c_uid") == F.col("user_id"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (
                F.col("c_ts")
                >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")
            ),
        )
        .groupBy("event_id")
        .agg(
            F.max(
                F.when(
                    F.col("c_ts")
                    >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"),
                    1,
                ).otherwise(0)
            ).alias("w1h"),
            F.max(
                F.when(
                    F.col("c_ts")
                    >= F.col("p_ts") - F.expr("INTERVAL 1 DAY"),
                    1,
                ).otherwise(0)
            ).alias("w1d"),
            F.max(F.lit(1)).alias("w7d"),
        )
    )
    tot = purch.agg(F.count(F.lit(1)).alias("n_purchases"))
    return (
        j.crossJoin(F.broadcast(tot))
        .groupBy("n_purchases")
        .agg(
            F.sum("w1h").cast("long").alias("attributed_1h"),
            F.sum("w1d").cast("long").alias("attributed_1d"),
            F.sum("w7d").cast("long").alias("attributed_7d"),
            F.round(
                F.sum("w1h") / F.col("n_purchases").cast("double"), 6
            ).alias("rate_1h"),
            F.round(
                F.sum("w1d") / F.col("n_purchases").cast("double"), 6
            ).alias("rate_1d"),
            F.round(
                F.sum("w7d") / F.col("n_purchases").cast("double"), 6
            ).alias("rate_7d"),
        )
        .select(
            F.col("n_purchases").cast("long").alias("n_purchases"),
            "attributed_1h",
            "attributed_1d",
            "attributed_7d",
            "rate_1h",
            "rate_1d",
            "rate_7d",
        )
    )


# ---------------------------------------------------------------------------
# orders_temporal_coalesce — merge contiguous same-value periods
# ---------------------------------------------------------------------------

_TEMPORAL_COALESCE_ORACLE = """
WITH seq AS (
  SELECT o_custkey, o_orderstatus,
         CAST(o_orderdate AS DATE) AS d,
         ROW_NUMBER() OVER w AS rn,
         CASE WHEN LAG(o_orderstatus) OVER w IS NULL
                OR LAG(o_orderstatus) OVER w <> o_orderstatus
              THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
grp AS (
  SELECT o_custkey, o_orderstatus, d,
         SUM(chg) OVER (PARTITION BY o_custkey ORDER BY rn) AS g
  FROM seq
)
SELECT o_custkey, o_orderstatus AS status,
       CAST(MIN(d) AS VARCHAR) AS valid_from,
       CAST(MAX(d) AS VARCHAR) AS valid_to,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM grp GROUP BY o_custkey, o_orderstatus, g
"""


@register("orders_temporal_coalesce", oracle=_TEMPORAL_COALESCE_ORACLE)
def orders_temporal_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL COALESCE: collapse each customer's order-status
    timeline into maximal runs of the same value with [valid_from,
    valid_to] bounds — the range-merge every temporal/bitemporal model
    needs before storage (uncoalesced ranges bloat SCD tables and
    break period arithmetic), and the inverse of what etl_scd2's
    change detection expands. Same-status runs key on the
    gaps-and-islands group = running count of change points.

    Scale design: one customer-keyed ordered window pair (change flag
    + running sum) and a (customer, run)-keyed rollup — the
    sessionization shape applied to value changes instead of time
    gaps."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("d"),
        F.row_number().over(w).alias("rn"),
        F.when(
            F.lag("o_orderstatus").over(w).isNull()
            | (F.lag("o_orderstatus").over(w) != F.col("o_orderstatus")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    wg = Window.partitionBy("o_custkey").orderBy("rn")
    grp = seq.withColumn(
        "g",
        F.sum("chg").over(wg.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return grp.groupBy("o_custkey", "o_orderstatus", "g").agg(
        F.min("d").cast("string").alias("valid_from"),
        F.max("d").cast("string").alias("valid_to"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    ).select(
        "o_custkey",
        F.col("o_orderstatus").alias("status"),
        "valid_from",
        "valid_to",
        "n_orders",
    )


# ---------------------------------------------------------------------------
# events_reactivation_winback — dormancy-return lifecycle events
# ---------------------------------------------------------------------------

_WINBACK_ORACLE = """
WITH seq AS (
  SELECT user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev_ts
  FROM events
),
react AS (
  SELECT user_id, ts,
         date_trunc('week', ts) AS wk
  FROM seq
  WHERE prev_ts IS NOT NULL AND ts - prev_ts >= INTERVAL 24 HOUR
)
SELECT CAST(wk AS VARCHAR) AS week,
       CAST(COUNT(*) AS BIGINT) AS n_reactivations,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM react GROUP BY wk
"""


@register("events_reactivation_winback", oracle=_WINBACK_ORACLE)
def events_reactivation_winback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIN-BACK detection: events arriving after >= 24 hours of user
    dormancy (the fixture spans one week, so day-scale dormancy is the
    realistic grain; production swaps the literal), rolled up per week — the lifecycle moment retention teams
    target (a reactivated user is neither "new" nor "retained"; cohort
    tables and streak counters both miss the RETURN event itself, which
    is exactly when a win-back campaign either worked or didn't).

    Scale design: one user-keyed lag window marks dormancy returns; a
    week-keyed rollup counts them — two keyed shuffles, no spine, no
    self-join."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    react = seq.where(
        F.col("prev_ts").isNotNull()
        & (F.col("ts") - F.col("prev_ts") >= F.expr("INTERVAL 24 HOURS"))
    ).select("user_id", F.date_trunc("week", "ts").alias("wk"))
    return react.groupBy("wk").agg(
        F.count(F.lit(1)).cast("long").alias("n_reactivations"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    ).select(
        F.col("wk").cast("date").cast("string").alias("week"),
        "n_reactivations",
        "n_users",
    )


# ---------------------------------------------------------------------------
# orders_overdue_customers — cadence-relative churn-risk flags
# ---------------------------------------------------------------------------

_OVERDUE_ORACLE = """
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
             LAG(CAST(o_orderdate AS DATE)) OVER w,
             CAST(o_orderdate AS DATE)) AS gap,
         CAST(o_orderdate AS DATE) AS d
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
c AS (
  SELECT o_custkey,
         CAST(SUM(CAST(gap AS DECIMAL(27,6))) AS DOUBLE)
             / COUNT(gap) AS mean_gap,
         COUNT(gap) AS n_gaps,
         MAX(d) AS last_order
  FROM gaps GROUP BY o_custkey HAVING COUNT(gap) >= 3
),
now AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS today FROM orders)
SELECT c.o_custkey,
       CAST(c.n_gaps + 1 AS BIGINT) AS n_orders,
       ROUND(c.mean_gap, 4) AS mean_gap_days,
       CAST(date_diff('day', c.last_order, now.today) AS BIGINT)
           AS days_since_last,
       CAST(date_diff('day', c.last_order, now.today) > 2 * c.mean_gap
            AS BOOLEAN) AS overdue
FROM c CROSS JOIN now
"""


@register("orders_overdue_customers", oracle=_OVERDUE_ORACLE)
def orders_overdue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OVERDUE detection against each customer's OWN cadence: a
    customer is flagged when their silence exceeds 2× their historical
    mean inter-order gap — the churn-risk trigger that a global
    "inactive 30 days" rule gets wrong in both directions (weekly
    buyers are long lost at day 30; quarterly buyers are fine).
    Requires >= 3 observed gaps so the cadence estimate means
    something; "today" anchors to the corpus max date for
    determinism.

    Scale design: one customer-keyed lag window, one keyed gap
    aggregate, a 1-row anchor broadcast — the per-entity-baseline
    pattern (bot_regularity, velocity_flag) pointed at lifecycle."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    d = F.col("o_orderdate").cast("date")
    gaps = o.select(
        "o_custkey",
        F.datediff(d, F.lag(d).over(w)).alias("gap"),
        d.alias("d"),
    )
    c = (
        gaps.groupBy("o_custkey")
        .agg(
            (
                F.sum(F.col("gap").cast(DSCALE)).cast("double")
                / F.count("gap")
            ).alias("mean_gap"),
            F.count("gap").alias("n_gaps"),
            F.max("d").alias("last_order"),
        )
        .where(F.col("n_gaps") >= 3)
    )
    now = o.agg(F.max(d).alias("today"))
    days_since = F.datediff(F.col("today"), F.col("last_order"))
    return c.crossJoin(F.broadcast(now)).select(
        "o_custkey",
        (F.col("n_gaps") + 1).cast("long").alias("n_orders"),
        F.round("mean_gap", 4).alias("mean_gap_days"),
        days_since.cast("long").alias("days_since_last"),
        (days_since > 2 * F.col("mean_gap")).alias("overdue"),
    )


# ---------------------------------------------------------------------------
# events_error_burst_scan — scan-statistic burst detection
# ---------------------------------------------------------------------------

_BURST_ORACLE = """
WITH err AS (
  SELECT ts FROM events WHERE event_type = 'error'
),
cnt AS (
  SELECT ts,
         COUNT(*) OVER (ORDER BY ts
                        RANGE BETWEEN CURRENT ROW
                        AND INTERVAL 10 MINUTE FOLLOWING) AS burst
  FROM err
)
SELECT CAST(MAX(burst) AS BIGINT) AS max_burst,
       CAST(MIN(CASE WHEN burst = (SELECT MAX(burst) FROM cnt)
                     THEN ts END) AS VARCHAR) AS burst_start,
       CAST((SELECT COUNT(*) FROM err) AS BIGINT) AS n_errors
FROM cnt
"""


@register("events_error_burst_scan", oracle=_BURST_ORACLE)
def events_error_burst_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCAN-STATISTIC burst detection: the maximum number of errors in
    ANY 10-minute window (anchored at error instants — the sliding-max
    identity: the densest window starts at some event), plus when it
    began — the exact form of "did errors burst" that fixed tumbling
    buckets blur across boundaries (a burst straddling two buckets
    halves in both). Complements events_dispersion_index: dispersion
    says bursty-on-average; the scan statistic finds THE burst.

    Scale design: errors are a filtered slice; the forward RANGE frame
    runs over the error-grain series (meta-scale here; keyed by
    day-bucket with boundary overlap as the corpus-scale drop-in —
    a 10-min window spans at most two buckets); argmin folds into the
    same pass."""
    ev = table(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select("ts")
    w = (
        Window.partitionBy(
            meta_part(F.unix_date(F.col("ts").cast("date")))
        )
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(0, 600)
    )
    cnt = err.withColumn("burst", F.count(F.lit(1)).over(w))
    peak = cnt.agg(F.max("burst").alias("mx"))
    n = err.agg(F.count(F.lit(1)).alias("ne"))
    return (
        cnt.crossJoin(F.broadcast(peak))
        .where(F.col("burst") == F.col("mx"))
        .agg(
            F.max("mx").cast("long").alias("max_burst"),
            F.min("ts").cast("string").alias("burst_start"),
        )
        .crossJoin(F.broadcast(n))
        .select(
            "max_burst",
            "burst_start",
            F.col("ne").cast("long").alias("n_errors"),
        )
    )


# ---------------------------------------------------------------------------
# events_ab_srm_check — sample-ratio-mismatch validity gate
# ---------------------------------------------------------------------------

_SRM_ORACLE = """
WITH assign AS (
  SELECT user_id,
         CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)
                    || '|exp42'), 1, 8)) AS BIGINT) % 2 AS INT) AS grp
  FROM (SELECT DISTINCT user_id FROM events)
),
c AS (
  SELECT CAST(SUM(grp) AS DOUBLE) AS n1,
         CAST(SUM(1 - grp) AS DOUBLE) AS n0
  FROM assign
)
SELECT CAST(n0 AS BIGINT) AS n_control, CAST(n1 AS BIGINT) AS n_treated,
       ROUND((n0 - (n0 + n1) / 2) * (n0 - (n0 + n1) / 2)
             / ((n0 + n1) / 2)
             + (n1 - (n0 + n1) / 2) * (n1 - (n0 + n1) / 2)
             / ((n0 + n1) / 2), 6) AS chi2,
       CAST((n0 - (n0 + n1) / 2) * (n0 - (n0 + n1) / 2)
            / ((n0 + n1) / 2)
            + (n1 - (n0 + n1) / 2) * (n1 - (n0 + n1) / 2)
            / ((n0 + n1) / 2) > 3.841 AS BOOLEAN) AS srm_detected
FROM c
"""


@register("events_ab_srm_check", oracle=_SRM_ORACLE)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATIO MISMATCH check: chi-square of the observed
    A/B split against the designed 50/50 (1 dof; 3.841 = the 5%
    critical value) — the validity gate that runs BEFORE any
    experiment readout, because an SRM means the assignment or logging
    is broken and every downstream p-value is garbage (the most common
    silent A/B failure in practice). Same md5 bucketing as the
    ab_test/bayesian/IPW keys, so the whole experimentation shelf
    shares one assignment.

    Scale design: one distinct collapse + a 2-cell count; the test is
    one expression."""
    ev = table(spark, sf_dir, "events")
    grp = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"), F.lit("|exp42")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        % 2
    ).cast("int")
    c = (
        ev.select("user_id")
        .distinct()
        .select(grp.alias("grp"))
        .agg(
            F.sum("grp").cast("double").alias("n1"),
            F.sum(1 - F.col("grp")).cast("double").alias("n0"),
        )
    )
    e = (F.col("n0") + F.col("n1")) / 2
    chi2 = (
        (F.col("n0") - e) * (F.col("n0") - e) / e
        + (F.col("n1") - e) * (F.col("n1") - e) / e
    )
    return c.select(
        F.col("n0").cast("long").alias("n_control"),
        F.col("n1").cast("long").alias("n_treated"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841).alias("srm_detected"),
    )


# ---------------------------------------------------------------------------
# events_nb_fit — negative-binomial parameters for bursty counts
# ---------------------------------------------------------------------------

_NB_ORACLE = """
WITH m AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(c) AS DOUBLE) AS sx,
         CAST(SUM(c * c) AS DOUBLE) AS sx2
  FROM m GROUP BY event_type
),
mom AS (
  SELECT event_type, n, sx / n AS mu,
         (sx2 - sx * sx / n) / (n - 1) AS var
  FROM s
)
SELECT event_type,
       ROUND(mu, 6) AS mean_per_hour,
       ROUND(var, 6) AS var_per_hour,
       CASE WHEN var > mu
            THEN ROUND(mu * mu / (var - mu), 6) END AS nb_r,
       CASE WHEN var > mu
            THEN ROUND(mu / var, 6) END AS nb_p
FROM mom
"""


@register("events_nb_fit", oracle=_NB_ORACLE)
def events_nb_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEGATIVE-BINOMIAL fit (method of moments: r = μ²/(σ²−μ),
    p = μ/σ²) for hourly event counts per type — the distribution that
    actually fits bursty arrivals after events_dispersion_index has
    rejected Poisson; NULL parameters where variance <= mean are the
    honest answer (NB degenerates to Poisson there, and MoM has no
    solution). nb_r and nb_p feed directly into NB tail quantiles for
    alert thresholds.

    Scale design: the dispersion key's moment machinery + two
    expressions — one (type, hour) count, one per-type rollup."""
    ev = table(spark, sf_dir, "events")
    m = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("c"))
    s = m.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").cast("double").alias("sx"),
        F.sum(F.col("c") * F.col("c")).cast("double").alias("sx2"),
    )
    mu = F.col("sx") / F.col("n")
    var = (F.col("sx2") - F.col("sx") * F.col("sx") / F.col("n")) / (
        F.col("n") - 1
    )
    return s.select(
        "event_type",
        F.round(mu, 6).alias("mean_per_hour"),
        F.round(var, 6).alias("var_per_hour"),
        F.when(var > mu, F.round(mu * mu / (var - mu), 6)).alias("nb_r"),
        F.when(var > mu, F.round(mu / var, 6)).alias("nb_p"),
    )


# --- ts_theil_sen_trend ----------------------------------------------------
# Same staging history as fn_json_variant (functions_scalar.py): built +
# oracle-verified under the registration pause, decorator flipped in r11.
# Fills the ROBUST-regression gap: agg_regression is OLS (one outlier day
# can own the slope); Theil–Sen's median-of-pairwise-slopes has a 29.3%
# breakdown point and is the standard robust trend for dashboard series.

_THEIL_SEN_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS day,
         {oracle_sum('o_totalprice')} AS rev
  FROM orders
  GROUP BY 1, 2
), pairs AS (
  SELECT a.month,
         (b.rev - a.rev) / CAST(b.day - a.day AS DOUBLE) AS slope
  FROM daily a JOIN daily b
    ON a.month = b.month AND a.day < b.day
), ranked AS (
  SELECT month, slope,
         ROW_NUMBER() OVER (PARTITION BY month ORDER BY slope) AS rn,
         COUNT(*) OVER (PARTITION BY month) AS n
  FROM pairs
)
SELECT month,
       CAST(MAX(n) AS BIGINT) AS n_pairs,
       FLOOR(SUM(slope) / COUNT(*) * 1e6) / 1e6 AS theil_sen_slope
FROM ranked
WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
GROUP BY month
"""


@register("ts_theil_sen_trend", oracle=_THEIL_SEN_ORACLE)
def ts_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts_theil_sen_trend — robust monthly revenue trend.

    Theil–Sen estimator per month: daily revenue, all day pairs within
    the month, slope per pair, MEDIAN slope — robust to ~29% outlier
    days where the OLS key (agg_regression) is robust to none.

    Scale design: the corpus-sized work is ONE map-side-combined daily
    rollup (decimal-exact via ``dsum``); the pairwise stage then runs on
    the DAY-levelled table — the self-join is keyed on month with
    fan-out bounded by 31·30/2 = 465 pairs per group, so it stays
    dimension-sized at any corpus scale, never all-pairs on raw rows.

    Cross-engine parity: slopes are IEEE divisions of decimal-exact
    doubles (bit-identical both engines); the median is an EXPLICIT
    rank rule — row_number over slope, average of positions
    ⌈n/2⌉ and ⌈(n+1)/2⌉ — because engine ``median()``/``percentile()``
    interpolation formulas are not pinned to the same floating-point
    expression shape; equal-slope rank ties are harmless (the selected
    VALUES are the same whichever equal row takes the rank). Final
    slope floor-quantizes at 1e-6 (tie-free, the fquant doctrine).
    """
    o = table(spark, sf_dir, "orders")
    # cached: daily feeds BOTH sides of the pairwise self-join, and
    # without the cache the corpus-sized rollup (scan + aggregate over
    # every order) compiles into the plan twice — the one stage that
    # matters at 100 TB would run twice. Cached it materializes once;
    # the cached table is day-levelled (months x <=31 rows), bounded at
    # any corpus size (the pagerank/LPA edge-cache precedent). Cache
    # LIFETIME (r10 ADVICE): no unpersist here on purpose — the
    # returned DataFrame is lazy, so unpersisting before the caller
    # consumes it would defeat the cache; each invocation therefore
    # leaves one bounded (<=12x31-row) InMemoryRelation for the session
    # lifetime. One-shot driver sweeps are unaffected; long sessions
    # reclaim via spark.catalog.clearCache() (the test harness's
    # hostile_layout already does).
    daily = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        F.dayofmonth("o_orderdate").cast("long").alias("day"),
    ).agg(dsum("o_totalprice").alias("rev")).cache()
    a = daily.select(
        "month", F.col("day").alias("di"), F.col("rev").alias("ri")
    )
    b = daily.select(
        "month", F.col("day").alias("dj"), F.col("rev").alias("rj")
    )
    pairs = (
        a.join(b, "month")
        .where(F.col("di") < F.col("dj"))
        .select(
            "month",
            (
                (F.col("rj") - F.col("ri"))
                / (F.col("dj") - F.col("di")).cast("double")
            ).alias("slope"),
        )
    )
    wp = Window.partitionBy("month")
    ranked = pairs.select(
        "month",
        "slope",
        F.row_number().over(wp.orderBy("slope")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    sel = ranked.where(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
    )
    return sel.groupBy("month").agg(
        F.max("n").cast("long").alias("n_pairs"),
        fquant(F.sum("slope") / F.count(F.lit(1))).alias(
            "theil_sen_slope"
        ),
    )


# --- ts_mann_kendall_trend (registered r11; r12 grading window) -------------
# Cadence-batch key (SURVEY round-11 log). Companion to ts_theil_sen_trend:
# Theil-Sen gives the robust slope MAGNITUDE, Mann-Kendall gives the
# nonparametric SIGNIFICANCE of the monotone trend — the standard pairing.

_MANN_KENDALL_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS rev
  FROM orders
  GROUP BY 1, 2
), pairs AS (
  SELECT a.month, CAST(SUM(SIGN(b.rev - a.rev)) AS BIGINT) AS s
  FROM daily a JOIN daily b
    ON a.month = b.month AND a.day < b.day
  GROUP BY 1
), ties AS (
  SELECT month, rev, CAST(COUNT(*) AS BIGINT) AS t
  FROM daily GROUP BY 1, 2
), stats AS (
  SELECT month,
         CAST(SUM(t) AS BIGINT) AS n,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tc
  FROM ties GROUP BY 1
), mk AS (
  SELECT stats.month,
         n,
         COALESCE(s, 0) AS s,
         (n * (n - 1) * (2 * n + 5) - tc) / 18.0 AS var_s
  FROM stats LEFT JOIN pairs ON stats.month = pairs.month
), z AS (
  SELECT month, n, s, var_s,
         FLOOR((CASE
                  WHEN var_s <= 0 OR s = 0 THEN 0.0
                  WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                  ELSE (s + 1) / sqrt(var_s)
                END) * 1e6) / 1e6 AS z
  FROM mk
)
SELECT month,
       n AS n_days,
       s AS s_stat,
       FLOOR(var_s * 1e6) / 1e6 AS var_s,
       z,
       CASE WHEN z > 1.96 THEN 'increasing'
            WHEN z < -1.96 THEN 'decreasing'
            ELSE 'no_trend' END AS trend
FROM z
"""


@register("ts_mann_kendall_trend", oracle=_MANN_KENDALL_ORACLE)
def ts_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test per month over daily revenue.

    S = sum over day pairs of sign(rev_j - rev_i); Var(S) carries the
    standard tie correction (sum t(t-1)(2t+5) over tied-revenue groups);
    z applies the +/-1 continuity correction and classifies the trend at
    the 5% two-sided level. The natural companion to
    ``ts_theil_sen_trend`` — MK tests the monotone trend the Theil–Sen
    slope measures, on the same bounded pair lattice.

    Scale design (the Theil–Sen skeleton): ONE corpus-sized map-side-
    combined daily rollup, cached because three bounded stages consume
    it (pairs, tie groups, n) — day-levelled, <=31 rows/month at any
    corpus size (cache-lifetime note: ts_theil_sen_trend). The pair
    self-join is month-keyed (<=465 pairs/group), tie counting is two
    tiny keyed aggs — nothing corpus-scale after the first rollup.

    Cross-engine parity: S and the tie terms are INTEGER (sign of
    bit-identical doubles); var_s is integer/18.0; z divides by a
    correctly-rounded sqrt — all deterministic — and is floor-quantized
    INSIDE the chain so the 1.96 classification compares quantized
    values in both engines (the MMR doctrine). Degenerate months
    (n = 1, or all revenues tied) pin z = 0 before any division.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        F.dayofmonth("o_orderdate").cast("long").alias("day"),
    ).agg(dsum("o_totalprice").alias("rev")).cache()
    a = daily.select(
        "month", F.col("day").alias("di"), F.col("rev").alias("ri")
    )
    b = daily.select(
        "month", F.col("day").alias("dj"), F.col("rev").alias("rj")
    )
    pairs = (
        a.join(b, "month")
        .where(F.col("di") < F.col("dj"))
        .groupBy("month")
        .agg(
            F.sum(F.signum(F.col("rj") - F.col("ri")))
            .cast("long")
            .alias("s")
        )
    )
    stats = (
        daily.groupBy("month", "rev")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("month")
        .agg(
            F.sum("t").cast("long").alias("n"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tc"),
        )
    )
    mk = stats.join(pairs, "month", "left").select(
        "month",
        "n",
        F.coalesce(F.col("s"), F.lit(0)).alias("s"),
        (
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tc")
            )
            / F.lit(18.0)
        ).alias("var_s"),
    )
    z = mk.select(
        "month",
        "n",
        "s",
        "var_s",
        fquant(
            F.when((F.col("var_s") <= 0) | (F.col("s") == 0), F.lit(0.0))
            .when(
                F.col("s") > 0,
                (F.col("s") - 1) / F.sqrt(F.col("var_s")),
            )
            .otherwise((F.col("s") + 1) / F.sqrt(F.col("var_s")))
        ).alias("z"),
    )
    return z.select(
        "month",
        F.col("n").alias("n_days"),
        F.col("s").alias("s_stat"),
        fquant(F.col("var_s")).alias("var_s"),
        "z",
        F.when(F.col("z") > 1.96, "increasing")
        .when(F.col("z") < -1.96, "decreasing")
        .otherwise("no_trend")
        .alias("trend"),
    )


# --- orders_mom_revenue_bridge (registered r11; r13 grading window) ----------
# Cadence-batch key 2 (SURVEY round-11 log). The month-over-month revenue
# WATERFALL: net change decomposed into new / expansion / contraction /
# churned customer contributions — the BI bridge chart behind every
# revenue review (orders_segment_migration tracks WHO moves between
# segments; this key tracks WHERE the money moved).

_BRIDGE_ORACLE = """
WITH mc AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS rev
  FROM orders GROUP BY 1, 2
), j AS (
  SELECT COALESCE(c.month, p.month + INTERVAL 1 MONTH) AS month,
         COALESCE(c.rev, 0) - COALESCE(p.rev, 0) AS delta,
         c.rev AS rc, p.rev AS rp
  FROM mc c FULL JOIN mc p
    ON c.o_custkey = p.o_custkey
   AND c.month = p.month + INTERVAL 1 MONTH
)
SELECT month,
       CAST(COUNT(*) FILTER (WHERE rp IS NULL) AS BIGINT) AS n_new,
       CAST(COUNT(*) FILTER (WHERE rc IS NULL) AS BIGINT) AS n_churned,
       CAST(COUNT(*) FILTER (WHERE rc > rp) AS BIGINT) AS n_expanded,
       CAST(COUNT(*) FILTER (WHERE rc < rp) AS BIGINT) AS n_contracted,
       CAST(SUM(CASE WHEN rp IS NULL THEN delta ELSE 0 END)
            AS DOUBLE) AS new_rev,
       CAST(SUM(CASE WHEN rc > rp THEN delta ELSE 0 END)
            AS DOUBLE) AS expansion_rev,
       CAST(SUM(CASE WHEN rc < rp THEN delta ELSE 0 END)
            AS DOUBLE) AS contraction_rev,
       CAST(SUM(CASE WHEN rc IS NULL THEN delta ELSE 0 END)
            AS DOUBLE) AS churned_rev,
       CAST(SUM(delta) AS DOUBLE) AS net_change
FROM j
WHERE month IN (SELECT DISTINCT month FROM mc)
GROUP BY 1
"""


@register("orders_mom_revenue_bridge", oracle=_BRIDGE_ORACLE)
def orders_mom_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue bridge per customer class.

    For each month m, every customer falls in exactly one class vs m-1:
    NEW (no revenue in m-1), CHURNED (no revenue in m), EXPANSION
    (revenue grew) or CONTRACTION (revenue shrank); the class deltas sum
    to the month's net revenue change — the waterfall identity
    new + expansion + contraction + churned = revenue(m) - revenue(m-1),
    asserted by the independent recompute.

    Scale design: the corpus collapses FIRST to the customer*month
    rollup (one map-side-combined decimal agg; cached — it feeds the
    current side, the prior side and the month spine), then ONE
    full-outer self-equi-join at rollup grain on (custkey, month =
    prev_month + 1) classifies every transition, and the final agg is
    month-grain. The month-spine semi-join drops the phantom
    post-horizon month (last month's customers have no m+1 to churn
    into); gaps in a customer's history produce churn-then-new pairs by
    construction.

    Cross-engine parity: revenue stays DECIMAL end-to-end (exact sums,
    exact differences — no float cancellation between near-equal
    month totals); doubles appear only in the final cast of exact
    decimals. Class predicates compare exact decimals.
    """
    o = table(spark, sf_dir, "orders")
    mc = (
        o.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
            "o_custkey",
        )
        .agg(F.sum(F.col("o_totalprice").cast(DSCALE)).alias("rev"))
        .cache()
    )
    c = mc.select(
        F.col("o_custkey").alias("ck"),
        F.col("month").alias("cm"),
        F.col("rev").alias("rc"),
    )
    p = mc.select(
        F.col("o_custkey").alias("pk"),
        (F.col("month") + F.expr("INTERVAL 1 MONTH")).alias("pm"),
        F.col("rev").alias("rp"),
    )
    j = c.join(
        p, (F.col("ck") == F.col("pk")) & (F.col("cm") == F.col("pm")), "full"
    ).select(
        F.coalesce(F.col("cm"), F.col("pm")).alias("month"),
        (
            F.coalesce(F.col("rc"), F.lit(0).cast(DSCALE))
            - F.coalesce(F.col("rp"), F.lit(0).cast(DSCALE))
        ).alias("delta"),
        "rc",
        "rp",
    )
    zero = F.lit(0).cast("decimal(38,6)")
    out = j.groupBy("month").agg(
        F.count_if(F.col("rp").isNull()).cast("long").alias("n_new"),
        F.count_if(F.col("rc").isNull()).cast("long").alias("n_churned"),
        F.count_if(F.col("rc") > F.col("rp")).cast("long").alias("n_expanded"),
        F.count_if(F.col("rc") < F.col("rp"))
        .cast("long")
        .alias("n_contracted"),
        F.sum(F.when(F.col("rp").isNull(), F.col("delta")).otherwise(zero))
        .cast("double")
        .alias("new_rev"),
        F.sum(
            F.when(F.col("rc") > F.col("rp"), F.col("delta")).otherwise(zero)
        )
        .cast("double")
        .alias("expansion_rev"),
        F.sum(
            F.when(F.col("rc") < F.col("rp"), F.col("delta")).otherwise(zero)
        )
        .cast("double")
        .alias("contraction_rev"),
        F.sum(F.when(F.col("rc").isNull(), F.col("delta")).otherwise(zero))
        .cast("double")
        .alias("churned_rev"),
        F.sum("delta").cast("double").alias("net_change"),
    )
    spine = mc.select("month").distinct()
    return out.join(spine, "month", "semi")


# --- ts_ljung_box (registered r11; r13 grading window) -----------------------
# Cadence-batch key 2 (SURVEY round-11 log). The PORTMANTEAU white-noise
# test: ts_autocorrelation reports each lag's rho in isolation and
# ts_runs_test checks sign alternation; Ljung-Box aggregates the first h
# autocorrelations into one chi-square statistic — the standard "are the
# residuals white" gate after any of the registered decompositions/fits.

# Upper-5% chi-square critical values, df = 1..24 (standard table).
_CHI2_CRIT_05 = [
    3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067, 15.507,
    16.919, 18.307, 19.675, 21.026, 22.362, 23.685, 24.996, 26.296,
    27.587, 28.869, 30.144, 31.410, 32.671, 33.924, 35.172, 36.415,
]

_LJUNG_ORACLE = f"""
WITH h AS (
  SELECT CAST(epoch_us(date_trunc('hour', ts))
              // 3600000000 AS BIGINT) AS hidx,
         {oracle_sum('value')} AS v
  FROM events GROUP BY 1
), g AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {oracle_sum('v')} AS sx, {oracle_sum('v * v')} AS sxx
  FROM h
), num AS (
  SELECT lag,
         CAST(SUM(CAST(ROUND((a.v - sx / n) * (b.v - sx / n), 6)
                       AS DECIMAL(38,6))) AS DOUBLE) AS num
  FROM h a CROSS JOIN g
  JOIN (SELECT UNNEST(range(1, 25)) AS lag) l ON TRUE
  JOIN h b ON b.hidx = a.hidx + l.lag
  GROUP BY lag
), rho AS (
  SELECT lag,
         FLOOR(num / (SELECT sxx - sx * sx / n FROM g) * 1e6) / 1e6 AS acf,
         (SELECT CAST(n AS BIGINT) FROM g) AS nh
  FROM num
), terms AS (
  SELECT lag, acf, nh,
         CAST(FLOOR(acf * acf / (nh - lag) * 1e12) AS BIGINT) AS t12
  FROM rho
)
SELECT CAST(lag AS INTEGER) AS lag, acf,
       FLOOR(CAST(nh * (nh + 2) AS DOUBLE)
             * (CAST(SUM(t12) OVER (ORDER BY lag
                                    ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                / 1e12) * 1e6) / 1e6 AS q_stat,
       FLOOR(CAST(nh * (nh + 2) AS DOUBLE)
             * (CAST(SUM(t12) OVER (ORDER BY lag
                                    ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                / 1e12) * 1e6) / 1e6
         > list_extract({_CHI2_CRIT_05!r}, lag) AS reject_white_noise
FROM terms
"""


@register("ts_ljung_box", oracle=_LJUNG_ORACLE)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box Q at every horizon h = 1..24 over the hourly value
    series: Q(h) = n(n+2) * sum_{k<=h} rho_k^2 / (n-k), rejected at 5%
    against the chi-square(h) critical value — the cumulative
    white-noise test (a 24-hour cycle that ts_autocorrelation shows as
    one spike becomes a decisive rejection here long before lag 24).

    Scale design: corpus -> ONE hourly rollup; the lag pairing is the
    ACF machinery verbatim (self-equi-join on hidx+k over the
    DIMENSION-sized series, x24 bounded lag spine, 1-row moment frame
    broadcast); the cumulative Q runs over 24 metadata rows under the
    meta_part key. Nothing after the rollup scales with the corpus.

    Cross-engine parity: rho reuses the registered ACF contract
    (6 dp-quantized centered products, decimal-exact sums, sufficient-
    stat denominator) and floor-quantizes at 1e-6; each Q term
    rho^2/(n-k) floors at 1e-12 into an exact BIGINT cumulative sum
    (max 24e12 — no overflow); the critical values are PINNED literals
    (df 1..24), so the rejection flag cannot wobble on an engine's
    chi-square quantile implementation.
    """
    from trireme_spark.operators.hints import cache_once

    ev = table(spark, sf_dir, "events")
    h = ev.groupBy(
        (
            F.unix_micros(F.date_trunc("hour", "ts").cast("timestamp"))
            / (3600 * 10**6)
        )
        .cast("long")
        .alias("hidx")
    ).agg(dsum("value").alias("v"))
    # calendar-bounded hourly rollup, consumed by the moment frame and
    # BOTH sides of the lag self-join — uncached, each consumer replays
    # the corpus aggregation (3 events scans in the before plan; the
    # ts_ar1_fit lesson applied to the ACF family)
    h = cache_once(h)
    # dsum_wide: v is an HOURLY total (corpus-growing; v·v would pass
    # the split-long per-row cap at larger corpora) and this fold runs
    # over calendar-bounded hour rows — wide is free (r15 audit).
    g = h.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum_wide("v").alias("sx"),
        dsum_wide(F.col("v") * F.col("v")).alias("sxx"),
    )
    lags = spark.range(1, 25).select(F.col("id").cast("int").alias("lag"))
    a = h.alias("a").crossJoin(F.broadcast(g)).crossJoin(F.broadcast(lags))
    b = h.select(F.col("hidx").alias("bhidx"), F.col("v").alias("bv"))
    prod = F.round(
        (F.col("a.v") - F.col("sx") / F.col("n"))
        * (F.col("bv") - F.col("sx") / F.col("n")),
        6,
    ).cast("decimal(38,6)")
    num = (
        a.join(b, F.col("bhidx") == F.col("a.hidx") + F.col("lag"))
        .select("lag", prod.alias("prod"), "sxx", "sx", "n")
        .groupBy("lag", "sxx", "sx", "n")
        .agg(F.sum("prod").cast("double").alias("num"))
    )
    den = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    rho = num.select(
        "lag",
        fquant(F.col("num") / den).alias("acf"),
        F.col("n").cast("long").alias("nh"),
    )
    terms = rho.select(
        "lag",
        "acf",
        "nh",
        F.floor(F.col("acf") * F.col("acf") / (F.col("nh") - F.col("lag"))
                * F.lit(1e12))
        .cast("long")
        .alias("t12"),
    )
    wc = (
        Window.partitionBy(meta_part("lag"))
        .orderBy("lag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    crit = F.element_at(
        F.array(*[F.lit(v) for v in _CHI2_CRIT_05]), F.col("lag")
    )
    q = fquant(
        (F.col("nh") * (F.col("nh") + 2)).cast("double")
        * (F.sum("t12").over(wc).cast("double") / F.lit(1e12))
    )
    return terms.select(
        "lag", "acf", q.alias("q_stat"),
        (q > crit).alias("reject_white_noise"),
    )


# --- ts_pettitt_changepoint (registered r11; r13 grading window) -------------
# Cadence-batch key 2 (SURVEY round-11 log). Rank-based changepoint
# detection: ts_cusum_changepoint tracks mean shift in VALUE space
# (moment-sensitive); the Pettitt test is its nonparametric twin — a
# Mann-Whitney-style statistic maximized over split points, robust to
# outliers and distribution shape, closing the robust family
# (Theil-Sen slope / Mann-Kendall trend / Hodges-Lehmann location).

_PETTITT_ORACLE = """
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         CAST((EXTRACT(year FROM o_orderdate) - 1970) * 12
              + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS midx,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS y
  FROM orders GROUP BY 1, 2
), pairs AS (
  SELECT a.midx AS i, b.midx AS j, CAST(SIGN(b.y - a.y) AS BIGINT) AS s
  FROM monthly a JOIN monthly b ON a.midx < b.midx
), delta AS (
  SELECT t, CAST(SUM(s) AS BIGINT) AS d
  FROM (SELECT i AS t, s FROM pairs
        UNION ALL SELECT j AS t, -s FROM pairs)
  GROUP BY 1
), u AS (
  SELECT t, SUM(d) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS ut
  FROM delta
), ranked AS (
  SELECT t, CAST(ABS(ut) AS BIGINT) AS au,
         ROW_NUMBER() OVER (ORDER BY ABS(ut) DESC, t) AS rn
  FROM u
  WHERE t < (SELECT MAX(midx) FROM monthly)
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM monthly) AS n_months,
       au AS k_stat,
       (SELECT month FROM monthly WHERE midx = ranked.t)
         AS changepoint_month,
       LEAST(FLOOR(2 * EXP(-(CAST(6 * au * au AS DOUBLE)
                             / CAST(nn * nn * nn + nn * nn AS DOUBLE)))
                   * 1e6) / 1e6, 1.0) AS p_approx,
       LEAST(FLOOR(2 * EXP(-(CAST(6 * au * au AS DOUBLE)
                             / CAST(nn * nn * nn + nn * nn AS DOUBLE)))
                   * 1e6) / 1e6, 1.0) < 0.05 AS significant
FROM ranked
CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM monthly) g
WHERE rn = 1
"""


@register("ts_pettitt_changepoint", oracle=_PETTITT_ORACLE)
def ts_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt changepoint test on the monthly revenue series.

    U_t = sum_{i<=t} sum_{j>t} sign(y_j - y_i); the changepoint is the
    EARLIEST month maximizing |U_t| (t < last month), K = max|U_t|, and
    the approximate significance is p ~ 2*exp(-6K^2 / (n^3 + n^2)).

    Scale design: corpus -> ONE monthly rollup (map-side-combined
    decimal agg); the pair lattice is CALENDAR-squared bounded (~85
    months -> ~3.6k pairs at ANY corpus size), built as a broadcast
    range-join over the cached series. The O(n^2)-per-t naive sum
    collapses to O(n) via a DIFFERENCE ARRAY: each pair (i,j,s)
    contributes +s at t=i and -s at t=j, and one ordered prefix sum
    over the months (meta_part window, n rows) reconstructs every U_t
    exactly — terms with both endpoints <= t cancel. Nothing after the
    rollup scales with the corpus.

    Cross-engine parity: signs and U_t are exact integers; the only
    float is the final p (integer-exact 6K^2 and n^3+n^2 cast to double
    for ONE division, one exp — the agg_benjamini_hochberg exp
    precedent — floor-quantized at 1e-6, capped at 1.0); the argmax
    carries the full tie rule (|U| DESC, month ASC).
    """
    o = table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(F.sum(F.col("o_totalprice").cast(DSCALE)).cast("double").alias("y"))
        .select(
            "month",
            ((F.year("month") - 1970) * 12 + F.month("month") - 1)
            .cast("long")
            .alias("midx"),
            "y",
        )
        .cache()
    )
    a = monthly.select(F.col("midx").alias("i"), F.col("y").alias("yi"))
    b = monthly.select(F.col("midx").alias("j"), F.col("y").alias("yj"))
    pairs = a.join(F.broadcast(b), F.col("i") < F.col("j")).select(
        "i",
        "j",
        F.signum(F.col("yj") - F.col("yi")).cast("long").alias("s"),
    )
    contrib = pairs.select(F.col("i").alias("t"), "s").unionByName(
        pairs.select(F.col("j").alias("t"), (-F.col("s")).alias("s"))
    )
    delta = contrib.groupBy("t").agg(F.sum("s").cast("long").alias("d"))
    wu = (
        Window.partitionBy(meta_part("t"))
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = monthly.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.max("midx").alias("mx"),
    )
    u = (
        delta.select("t", F.sum("d").over(wu).alias("ut"))
        .crossJoin(F.broadcast(g))
        .where(F.col("t") < F.col("mx"))
    )
    wr = Window.partitionBy(meta_part("t")).orderBy(
        F.abs(F.col("ut")).desc(), F.col("t")
    )
    top = (
        u.select(
            "t",
            F.abs(F.col("ut")).alias("au"),
            "nn",
            F.row_number().over(wr).alias("rn"),
        )
        .where(F.col("rn") == 1)
    )
    nd = F.col("nn").cast("double")
    p = F.least(
        fquant(
            2
            * F.exp(
                -(
                    (6 * F.col("au") * F.col("au")).cast("double")
                    / (
                        F.col("nn") * F.col("nn") * F.col("nn")
                        + F.col("nn") * F.col("nn")
                    ).cast("double")
                )
            )
        ),
        F.lit(1.0),
    )
    return top.join(
        monthly.select(F.col("midx").alias("t"), "month"), "t"
    ).select(
        F.col("nn").alias("n_months"),
        F.col("au").alias("k_stat"),
        F.col("month").alias("changepoint_month"),
        p.alias("p_approx"),
        (p < 0.05).alias("significant"),
    )


# --- ts_seasonal_mann_kendall (registered r11; r13 grading window) -----------
# Cadence-batch key 2 (SURVEY round-11 log). Seasonal variant of
# ts_mann_kendall_trend: the plain MK test reads a 12-month cycle as
# noise (up-pairs and down-pairs cancel across seasons); the seasonal
# form compares each calendar month ONLY against the same month of other
# years (Hirsch-Slack), summing S and Var(S) across the 12 strata.

_SMK_ORACLE = """
WITH monthly AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
         CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS moy,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS y
  FROM orders GROUP BY 1, 2
), s AS (
  SELECT CAST(COALESCE(SUM(SIGN(b.y - a.y)), 0) AS BIGINT) AS s_total
  FROM monthly a JOIN monthly b ON a.moy = b.moy AND a.yr < b.yr
), base AS (
  SELECT CAST(SUM(n * (n - 1) * (2 * n + 5)) AS BIGINT) AS bsum,
         CAST(COUNT(*) AS BIGINT) AS n_strata
  FROM (SELECT moy, COUNT(*) AS n FROM monthly GROUP BY 1)
), ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS tsum
  FROM (SELECT moy, y, COUNT(*) AS t FROM monthly GROUP BY 1, 2)
)
SELECT n_strata, s_total,
       FLOOR(CAST(bsum - tsum AS DOUBLE) / 18 * 1e6) / 1e6 AS var_s,
       CASE
         WHEN bsum - tsum <= 0 OR s_total = 0 THEN 0.0
         WHEN s_total > 0 THEN
           FLOOR((s_total - 1)
                 / sqrt(CAST(bsum - tsum AS DOUBLE) / 18) * 1e6) / 1e6
         ELSE
           FLOOR((s_total + 1)
                 / sqrt(CAST(bsum - tsum AS DOUBLE) / 18) * 1e6) / 1e6
       END AS z,
       CASE
         WHEN bsum - tsum <= 0 OR s_total = 0 THEN 'no_trend'
         WHEN s_total > 0 AND FLOOR((s_total - 1)
                 / sqrt(CAST(bsum - tsum AS DOUBLE) / 18) * 1e6) / 1e6
              > 1.96 THEN 'increasing'
         WHEN s_total < 0 AND FLOOR((s_total + 1)
                 / sqrt(CAST(bsum - tsum AS DOUBLE) / 18) * 1e6) / 1e6
              < -1.96 THEN 'decreasing'
         ELSE 'no_trend'
       END AS trend
FROM s CROSS JOIN base CROSS JOIN ties
"""


@register("ts_seasonal_mann_kendall", oracle=_SMK_ORACLE)
def ts_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall trend test on monthly revenue: pairs are
    formed ONLY within each calendar-month stratum (Jan vs Jan of other
    years, ...), S = sum of strata S_m, Var(S) = sum of tie-corrected
    strata variances, z continuity-corrected, classified at 5%.

    Scale design: corpus -> ONE monthly rollup (map-side-combined
    decimal agg, cached — the pair join, the strata sizes and the tie
    groups all consume it); the pair lattice is stratum-keyed
    (moy equi-join + year inequality), bounded at C(#years, 2) <= ~21
    pairs per stratum at ANY corpus size; the three sufficient-stat
    frames are 1-row and attach via broadcast.

    Cross-engine parity: S, the strata base sum n(n-1)(2n+5) and the
    tie sum are exact integers; Var(S) is ONE integer-to-double division
    by 18; z divides an integer by a sqrt of that quotient
    (IEEE-deterministic on identical inputs) and floor-quantizes at
    1e-6 BEFORE the 1.96 comparison so the trend class cannot straddle.
    """
    o = table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("moy"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast(DSCALE))
            .cast("double")
            .alias("y")
        )
        .cache()
    )
    a = monthly.select(
        "moy", F.col("yr").alias("ya"), F.col("y").alias("va")
    )
    b = monthly.select(
        "moy", F.col("yr").alias("yb"), F.col("y").alias("vb")
    )
    s = (
        a.join(b, "moy")
        .where(F.col("ya") < F.col("yb"))
        .agg(
            F.coalesce(
                F.sum(F.signum(F.col("vb") - F.col("va"))), F.lit(0.0)
            )
            .cast("long")
            .alias("s_total")
        )
    )
    base = (
        monthly.groupBy("moy")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum(
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            )
            .cast("long")
            .alias("bsum"),
            F.count(F.lit(1)).cast("long").alias("n_strata"),
        )
    )
    ties = (
        monthly.groupBy("moy", "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tsum")
        )
    )
    j = s.crossJoin(F.broadcast(base)).crossJoin(F.broadcast(ties))
    vnum = F.col("bsum") - F.col("tsum")
    var_d = vnum.cast("double") / 18
    z = (
        F.when((vnum <= 0) | (F.col("s_total") == 0), F.lit(0.0))
        .when(
            F.col("s_total") > 0,
            fquant((F.col("s_total") - 1) / F.sqrt(var_d)),
        )
        .otherwise(fquant((F.col("s_total") + 1) / F.sqrt(var_d)))
    )
    return j.select(
        "n_strata",
        "s_total",
        fquant(var_d).alias("var_s"),
        z.alias("z"),
        F.when(z > 1.96, "increasing")
        .when(z < -1.96, "decreasing")
        .otherwise("no_trend")
        .alias("trend"),
    )


# --- events_odds_ratio_2x2 (registered r11; r13 grading window) --------------
# Cadence-batch key 2 (SURVEY round-11 log). The case-control effect
# size: events_ab_diff_in_diff and events_ipw_ate estimate additive
# effects; the odds ratio with its Woolf (log-normal) CI is the
# MULTIPLICATIVE association measure for a 2x2 user-level contingency —
# "are heavy clickers disproportionately heavy purchasers".

_OR_ORACLE = """
WITH u AS (
  SELECT user_id,
         COUNT(*) FILTER (WHERE event_type = 'click') >= 14 AS exposed,
         COUNT(*) FILTER (WHERE event_type = 'purchase') >= 14 AS outcome
  FROM events GROUP BY 1
), cells AS (
  SELECT CAST(COUNT(*) FILTER (WHERE exposed AND outcome) AS BIGINT) AS a,
         CAST(COUNT(*) FILTER (WHERE exposed AND NOT outcome)
              AS BIGINT) AS b,
         CAST(COUNT(*) FILTER (WHERE NOT exposed AND outcome)
              AS BIGINT) AS c,
         CAST(COUNT(*) FILTER (WHERE NOT exposed AND NOT outcome)
              AS BIGINT) AS d
  FROM u
)
SELECT a, b, c, d,
  CASE WHEN LEAST(a, b, c, d) = 0 THEN 0.0
       ELSE FLOOR(CAST(CAST(a AS HUGEINT) * d AS DOUBLE)
                  / CAST(CAST(b AS HUGEINT) * c AS DOUBLE) * 1e6) / 1e6
  END AS odds_ratio,
  CASE WHEN LEAST(a, b, c, d) = 0 THEN 0.0
       ELSE FLOOR(exp(ln(CAST(CAST(a AS HUGEINT) * d AS DOUBLE)
                         / CAST(CAST(b AS HUGEINT) * c AS DOUBLE))
                      - 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d))
                  * 1e6) / 1e6
  END AS ci_lo,
  CASE WHEN LEAST(a, b, c, d) = 0 THEN 0.0
       ELSE FLOOR(exp(ln(CAST(CAST(a AS HUGEINT) * d AS DOUBLE)
                         / CAST(CAST(b AS HUGEINT) * c AS DOUBLE))
                      + 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d))
                  * 1e6) / 1e6
  END AS ci_hi,
  CASE WHEN LEAST(a, b, c, d) = 0 THEN FALSE
       ELSE FLOOR(exp(ln(CAST(CAST(a AS HUGEINT) * d AS DOUBLE)
                         / CAST(CAST(b AS HUGEINT) * c AS DOUBLE))
                      - 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d))
                  * 1e6) / 1e6 > 1.0
         OR FLOOR(exp(ln(CAST(CAST(a AS HUGEINT) * d AS DOUBLE)
                         / CAST(CAST(b AS HUGEINT) * c AS DOUBLE))
                      + 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d))
                  * 1e6) / 1e6 < 1.0
  END AS significant
FROM cells
"""


@register("events_odds_ratio_2x2", oracle=_OR_ORACLE)
def events_odds_ratio_2x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio of heavy purchasing given heavy clicking, with the
    Woolf 95% CI: user-level 2x2 (exposure: >=14 clicks; outcome: >=14
    purchases), OR = ad/bc, CI = exp(ln OR +- 1.96 sqrt(1/a + 1/b +
    1/c + 1/d)), significant when the CI excludes 1.

    Scale design: ONE corpus pass folds events to per-user exposure/
    outcome booleans (map-side-combined conditional counts), ONE
    1-row conditional-count aggregation produces the four cells —
    no joins, no windows, everything after is scalar algebra on a
    single row.

    Cross-engine parity: the cells are exact integers; a*d and b*c are
    128-bit exact (decimal(38,0) / HUGEINT) before ONE division; the
    CI bounds apply ln/exp to bit-identical doubles (the scalar-
    transcendental precedent of agg_geometric_mean / the BH exp) and
    floor-quantize at 1e-6 BEFORE the exclusion test so `significant`
    cannot straddle; any zero cell pins OR/CI to 0.0 (reported, not
    corrected — the recompute documents the Haldane alternative).
    """
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (F.count_if(F.col("event_type") == "click") >= 14).alias("exposed"),
        (F.count_if(F.col("event_type") == "purchase") >= 14).alias(
            "outcome"
        ),
    )
    cells = u.agg(
        F.count_if(F.col("exposed") & F.col("outcome"))
        .cast("long")
        .alias("a"),
        F.count_if(F.col("exposed") & ~F.col("outcome"))
        .cast("long")
        .alias("b"),
        F.count_if(~F.col("exposed") & F.col("outcome"))
        .cast("long")
        .alias("c"),
        F.count_if(~F.col("exposed") & ~F.col("outcome"))
        .cast("long")
        .alias("d"),
    )
    big = "decimal(38,0)"
    ad = (F.col("a").cast(big) * F.col("d")).cast("double")
    bc = (F.col("b").cast(big) * F.col("c")).cast("double")
    se = F.sqrt(
        1.0 / F.col("a") + 1.0 / F.col("b") + 1.0 / F.col("c")
        + 1.0 / F.col("d")
    )
    zero = (
        F.least(F.col("a"), F.col("b"), F.col("c"), F.col("d")) == 0
    )
    orr = F.when(zero, F.lit(0.0)).otherwise(fquant(ad / bc))
    lo = F.when(zero, F.lit(0.0)).otherwise(
        fquant(F.exp(F.log(ad / bc) - 1.96 * se))
    )
    hi = F.when(zero, F.lit(0.0)).otherwise(
        fquant(F.exp(F.log(ad / bc) + 1.96 * se))
    )
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        orr.alias("odds_ratio"),
        lo.alias("ci_lo"),
        hi.alias("ci_hi"),
        F.when(zero, F.lit(False))
        .otherwise((lo > 1.0) | (hi < 1.0))
        .alias("significant"),
    )


# --- etl_bitemporal_as_of -----------------------------------------------------
# Staged under the cadence rule (SURVEY round-11 log): built and
# oracle-verified this round, decorator flips at the r12 rotation.
# Bitemporal reconstruction is the warehouse op join_point_in_time
# (one time axis) cannot express: STATE AS OF valid time V as the system
# KNEW IT at system time S — the audit/backfill question ("what did the
# June books say on July 1").

_BITEMPORAL_V = "TIMESTAMP '1996-06-01 00:00:00'"
_BITEMPORAL_S = "TIMESTAMP '1996-07-01 00:00:00'"

_BITEMPORAL_ORACLE = f"""
WITH versions AS (
  SELECT o_orderkey,
         CAST(0 AS BIGINT) AS version_no,
         o_totalprice AS amount,
         o_orderdate AS valid_from,
         o_orderdate + INTERVAL 2 DAY AS system_from
  FROM orders
  UNION ALL
  SELECT l_orderkey,
         CAST(l_linenumber AS BIGINT),
         l_extendedprice,
         l_shipdate,
         l_shipdate + l_linenumber * INTERVAL 1 DAY
  FROM lineitem
), visible AS (
  SELECT *,
         ROW_NUMBER() OVER (
           PARTITION BY o_orderkey
           ORDER BY valid_from DESC, system_from DESC, version_no DESC,
                    amount DESC
         ) AS rn
  FROM versions
  WHERE valid_from <= {_BITEMPORAL_V} AND system_from <= {_BITEMPORAL_S}
)
SELECT o_orderkey, version_no, amount, valid_from, system_from
FROM visible WHERE rn = 1
"""


@register("etl_bitemporal_as_of", oracle=_BITEMPORAL_ORACLE)
def etl_bitemporal_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal AS-OF reconstruction: each order's version chain is
    its base row (version 0, effective at o_orderdate, entered 2 days
    later) plus one amendment per lineitem (effective at l_shipdate,
    entered l_linenumber days later — later lines took longer to key
    in). The query returns, per order, the LATEST version that was both
    EFFECTIVE by valid-time V and KNOWN by system-time S — two
    independent cutoffs, which is exactly what separates bitemporal
    from the single-axis join_point_in_time.

    Scale design: both version sources are corpus scans with the
    (valid_from, system_from) predicates PUSHED to the parquet scan
    (plan-pinned); the winner per order is a map-side-combinable
    struct-MAX aggregation — one keyed shuffle, no window over the
    corpus, no self-join (the oracle's rank form is the brute-force
    twin, not the plan).

    Cross-engine parity: version ranking is lexicographic on exact
    (timestamp, timestamp, integer, double) tuples — the fixture's
    l_linenumber is NOT unique within an order, so amount rides the
    struct as the final tie-break (found by the sf0.01 parity run:
    same-line same-shipdate amendments tied the triple).
    """
    V = "1996-06-01 00:00:00"
    S = "1996-07-01 00:00:00"
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    base = o.select(
        "o_orderkey",
        F.lit(0).cast("long").alias("version_no"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderdate").alias("valid_from"),
        (F.col("o_orderdate") + F.expr("INTERVAL 2 DAY")).alias(
            "system_from"
        ),
    )
    amend = li.select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("l_linenumber").cast("long").alias("version_no"),
        F.col("l_extendedprice").alias("amount"),
        F.col("l_shipdate").alias("valid_from"),
        (
            F.col("l_shipdate")
            + F.col("l_linenumber") * F.expr("INTERVAL 1 DAY")
        ).alias("system_from"),
    )
    versions = base.unionByName(amend).where(
        (F.col("valid_from") <= F.lit(V).cast("timestamp"))
        & (F.col("system_from") <= F.lit(S).cast("timestamp"))
    )
    win = versions.groupBy("o_orderkey").agg(
        F.max(
            F.struct("valid_from", "system_from", "version_no", "amount")
        ).alias("w")
    )
    return win.select(
        "o_orderkey",
        F.col("w.version_no").alias("version_no"),
        F.col("w.amount").alias("amount"),
        F.col("w.valid_from").alias("valid_from"),
        F.col("w.system_from").alias("system_from"),
    )


# ---------------------------------------------------------------------------
# events_ab_delta_method — Ratio-metric experiment readout with
# delta-method variance: when the metric is a ratio of SUMS (revenue per
# click) but the randomization unit is the USER, per-user observations are
# the iid unit and Var(X̄/Ȳ) needs the first-order Taylor expansion — the
# correction every experimentation platform applies before quoting a z on
# a ratio metric (Deng, Knoblich & Lu 2018).
# ---------------------------------------------------------------------------

_DELTA_METHOD_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(user_id::VARCHAR || '|delta'), 1, 8))
              AS BIGINT) % 2 AS arm,
         {oracle_sum("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END")} AS x,
         CAST(COUNT(CASE WHEN event_type IN ('click', 'view') THEN 1 END)
              AS DOUBLE) AS y
  FROM events GROUP BY user_id
), a AS (
  SELECT arm,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {oracle_sum('x')} AS sx, {oracle_sum('y')} AS sy,
         {oracle_sum('x * x')} AS sxx, {oracle_sum('y * y')} AS syy,
         {oracle_sum('x * y')} AS sxy
  FROM u GROUP BY arm
), r AS (
  SELECT arm, n, sx / sy AS ratio,
         ((sxx - sx * sx / n) / (n - 1)
          - 2 * (sx / sy) * ((sxy - sx * sy / n) / (n - 1))
          + (sx / sy) * (sx / sy) * ((syy - sy * sy / n) / (n - 1)))
         / (n * (sy / n) * (sy / n)) AS var_r
  FROM a
)
SELECT
  MAX(CASE WHEN arm = 0 THEN CAST(n AS BIGINT) END) AS n_a,
  MAX(CASE WHEN arm = 1 THEN CAST(n AS BIGINT) END) AS n_b,
  FLOOR(MAX(CASE WHEN arm = 0 THEN ratio END) * 1e6) / 1e6 AS ratio_a,
  FLOOR(MAX(CASE WHEN arm = 1 THEN ratio END) * 1e6) / 1e6 AS ratio_b,
  FLOOR((MAX(CASE WHEN arm = 1 THEN ratio END)
         - MAX(CASE WHEN arm = 0 THEN ratio END)) * 1e6) / 1e6 AS delta,
  FLOOR(sqrt(MAX(CASE WHEN arm = 0 THEN var_r END)
             + MAX(CASE WHEN arm = 1 THEN var_r END)) * 1e6) / 1e6 AS se,
  FLOOR((MAX(CASE WHEN arm = 1 THEN ratio END)
         - MAX(CASE WHEN arm = 0 THEN ratio END))
        / sqrt(MAX(CASE WHEN arm = 0 THEN var_r END)
               + MAX(CASE WHEN arm = 1 THEN var_r END)) * 1e6) / 1e6 AS z,
  abs(FLOOR((MAX(CASE WHEN arm = 1 THEN ratio END)
             - MAX(CASE WHEN arm = 0 THEN ratio END))
            / sqrt(MAX(CASE WHEN arm = 0 THEN var_r END)
                   + MAX(CASE WHEN arm = 1 THEN var_r END)) * 1e6) / 1e6)
    > 1.96 AS significant
FROM r
"""


@register("events_ab_delta_method", oracle=_DELTA_METHOD_ORACLE)
def events_ab_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method z-test for a ratio-of-sums metric (purchase revenue
    per click/view), randomized at USER grain: per arm,
    R = ΣX/ΣY and Var(R) ≈ (s_x² − 2R·s_xy + R²·s_y²) / (n·ȳ²) with the
    sample (co)variances taken over per-user (X_i, Y_i) — the Taylor
    linearization that makes the naive per-event z honest when users,
    not clicks, are the independent unit.

    Cross-engine exactness: per-user X is a decimal-exact sum, Y an
    integer count; arm-level moments are decimal-exact sums of
    identical doubles, so ratio/variance/z reduce algebraically to
    sufficient statistics with no float accumulation order — both
    engines run the same IEEE expression; outputs floor-quantize
    (parity.fquant) and the significance test compares the QUANTIZED z
    so the boolean can't straddle. Assignment is the seeded md5-prefix
    hash (events_ab_cuped's pattern) — stable and table-free.

    Scale design: ONE user-keyed aggregation (map-side combinable)
    builds the per-user frame; arm moments are a 2-row aggregate; the
    readout folds 2 rows into 1. Adding arms or covariate corrections
    adds columns to the moment row, never passes — at 100 TB the only
    corpus-scale stage is the first keyed rollup."""
    ev = table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("user_id").cast("string"), F.lit("|delta"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    u = (
        ev.groupBy("user_id")
        .agg(
            dsum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value")
                ).otherwise(0.0)
            ).alias("x"),
            F.count(
                F.when(F.col("event_type").isin("click", "view"), F.lit(1))
            )
            .cast("double")
            .alias("y"),
        )
        .withColumn("arm", arm)
    )
    a = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("x").alias("sx"),
        dsum("y").alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
    )
    ratio = F.col("sx") / F.col("sy")
    nm1 = F.col("n") - 1
    var_r = (
        (
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / nm1
            - 2
            * ratio
            * ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / nm1)
            + ratio
            * ratio
            * ((F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / nm1)
        )
        / (F.col("n") * (F.col("sy") / F.col("n")) * (F.col("sy") / F.col("n")))
    )
    r = a.select("arm", "n", ratio.alias("ratio"), var_r.alias("var_r"))

    def pick(col, arm_v):
        return F.max(F.when(F.col("arm") == arm_v, F.col(col)))

    delta = pick("ratio", 1) - pick("ratio", 0)
    se = F.sqrt(pick("var_r", 0) + pick("var_r", 1))
    return r.agg(
        pick("n", 0).cast("long").alias("n_a"),
        pick("n", 1).cast("long").alias("n_b"),
        fquant(pick("ratio", 0)).alias("ratio_a"),
        fquant(pick("ratio", 1)).alias("ratio_b"),
        fquant(delta).alias("delta"),
        fquant(se).alias("se"),
        fquant(delta / se).alias("z"),
        (F.abs(fquant(delta / se)) > 1.96).alias("significant"),
    )


# ---------------------------------------------------------------------------
# ts_cross_correlation_leadlag — Lead-lag cross-correlation function
# between two daily revenue series: which segment MOVES FIRST, and by how
# many days — the CCF that pairs with ts_autocorrelation (self) the way
# agg_corr_matrix pairs with agg_regression.
# ---------------------------------------------------------------------------

_CCF_EPOCH = "1990-01-01"

_CCF_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_diff('day', TIMESTAMP '{_CCF_EPOCH} 00:00:00',
                        o_orderdate) AS BIGINT) AS dd,
         {oracle_sum("CASE WHEN c_mktsegment = 'BUILDING' THEN o_totalprice ELSE 0 END")} AS x,
         {oracle_sum("CASE WHEN c_mktsegment = 'MACHINERY' THEN o_totalprice ELSE 0 END")} AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
), m AS (
  SELECT CAST(l.k AS BIGINT) AS lag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {oracle_sum('a.x')} AS sx, {oracle_sum('b.y')} AS sy,
         {oracle_sum('a.x * a.x')} AS sxx, {oracle_sum('b.y * b.y')} AS syy,
         {oracle_sum('a.x * b.y')} AS sxy
  FROM range(-7, 8) l(k)
  JOIN daily a ON TRUE
  JOIN daily b ON b.dd = a.dd + l.k
  GROUP BY 1
), c AS (
  SELECT lag, CAST(n AS BIGINT) AS n_pairs,
         FLOOR((n * sxy - sx * sy)
               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1e6)
         / 1e6 AS ccf
  FROM m
)
SELECT lag, n_pairs, ccf,
       RANK() OVER (ORDER BY abs(ccf) DESC, lag ASC) = 1 AS is_peak
FROM c
"""


@register("ts_cross_correlation_leadlag", oracle=_CCF_ORACLE)
def ts_cross_correlation_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between daily BUILDING revenue (x) and
    daily MACHINERY revenue (y) at lags −7…+7: ccf(k) = corr(x_t, y_{t+k})
    over the days where both points exist, with the peak-|ccf| lag
    flagged — positive peak lag reads "BUILDING leads MACHINERY by k
    days". The lead-lag scan behind cross-metric alerting ("did signups
    move before revenue?") and transfer-function model identification.

    Cross-engine exactness: the two series come from ONE conditional
    decimal rollup (exact); per-lag Pearson reduces to decimal-exact
    sufficient statistics over identical doubles; ccf floor-quantizes
    and the peak RANK orders on the QUANTIZED |ccf| with lag as the
    total tie-break. Calendar alignment is an integer epoch-day key —
    no timestamp arithmetic in the join.

    Scale design: one corpus-scale keyed rollup (customer dim BROADCAST
    into the fact scan) reduces to day grain; everything after — the
    15-way lag spine, the self-join at day grain, the peak window under
    a meta_part spec — is calendar-bounded (years × 365 rows) at any
    corpus size. Widening the lag range or adding series pairs scales
    the bounded stage only."""
    from trireme_spark.operators.hints import broadcast_if_small

    o = table(spark, sf_dir, "orders")
    # size-gated, not unconditional: customer GROWS with the corpus
    # (the r5 review doctrine) — under the gate this is the same
    # BroadcastHashJoin the fixtures measure, over it a keyed shuffle
    c = broadcast_if_small(table(spark, sf_dir, "customer"))
    daily = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.datediff(F.col("o_orderdate"), F.lit(_CCF_EPOCH))
            .cast("long")
            .alias("dd")
        )
        .agg(
            dsum(
                F.when(
                    F.col("c_mktsegment") == "BUILDING", F.col("o_totalprice")
                ).otherwise(0.0)
            ).alias("x"),
            dsum(
                F.when(
                    F.col("c_mktsegment") == "MACHINERY", F.col("o_totalprice")
                ).otherwise(0.0)
            ).alias("y"),
        )
    )
    lags = spark.range(-7, 8).select(F.col("id").alias("lag"))
    a = daily.select("dd", "x")
    b = daily.select(F.col("dd").alias("dd_b"), "y")
    m = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("dd_b") == F.col("dd") + F.col("lag"))
        .groupBy("lag")
        # dsum_wide, not dsum: x/y are DAILY totals (grow with the
        # corpus — already ~1e6 at sf0.1, so x·x ≥ 1.5e12 exceeds the
        # split-long per-row cap and the fast path raises). The wide
        # decimal buffer is free here: this stage aggregates
        # calendar-bounded day-grain rows, not the corpus.
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            dsum_wide("x").alias("sx"),
            dsum_wide("y").alias("sy"),
            dsum_wide(F.col("x") * F.col("x")).alias("sxx"),
            dsum_wide(F.col("y") * F.col("y")).alias("syy"),
            dsum_wide(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    ccf = fquant(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        )
    )
    out = m.select(
        "lag",
        F.col("n").cast("long").alias("n_pairs"),
        ccf.alias("ccf"),
    )
    w = Window.partitionBy(meta_part("n_pairs")).orderBy(
        F.abs(F.col("ccf")).desc(), F.col("lag").asc()
    )
    return out.select(
        "lag", "n_pairs", "ccf", (F.rank().over(w) == 1).alias("is_peak")
    )


# ---------------------------------------------------------------------------
# ts_spectral_entropy — Normalized spectral entropy per market segment —
# the forecastability score (low entropy = concentrated spectrum = strong
# cycle; high = white-noise-like) that the tsfeatures/M4 literature uses
# to route series between seasonal and naive forecasters.
# ---------------------------------------------------------------------------

_SE_HARMONICS = 16

_SPECTRAL_ENTROPY_ORACLE = f"""
WITH daily AS (
  SELECT c_mktsegment AS seg, CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS rev
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
idx AS (
  SELECT seg, rev,
         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY day) - 1 AS t,
         COUNT(*) OVER (PARTITION BY seg) AS n,
         CAST(SUM(CAST(rev AS DECIMAL(27,6))) OVER (PARTITION BY seg)
              AS DOUBLE) / COUNT(*) OVER (PARTITION BY seg) AS mu
  FROM daily
),
freqs AS (SELECT unnest(range(1, {_SE_HARMONICS + 1})) AS k),
terms AS (
  SELECT i.seg, f.k, i.n,
         CAST(FLOOR((i.rev - i.mu)
              * (FLOOR(cos(2 * pi() * f.k * i.t / i.n) * 1e8) / 1e8)
              * 1e6) AS BIGINT) AS ct,
         CAST(FLOOR((i.rev - i.mu)
              * (FLOOR(sin(2 * pi() * f.k * i.t / i.n) * 1e8) / 1e8)
              * 1e6) AS BIGINT) AS st
  FROM idx i CROSS JOIN freqs f
),
pw AS (
  SELECT seg, k, MAX(n) AS n,
         CAST(SUM(CAST(ct AS HUGEINT)) AS DOUBLE) / 1e6 AS sc,
         CAST(SUM(CAST(st AS HUGEINT)) AS DOUBLE) / 1e6 AS ss
  FROM terms GROUP BY 1, 2
),
pm AS (
  SELECT seg, k, n,
         CAST(FLOOR((sc * sc + ss * ss) / n * 100) AS BIGINT) AS p_cents
  FROM pw
),
dist AS (
  SELECT seg, k, n, p_cents,
         SUM(p_cents) OVER (PARTITION BY seg) AS s_cents
  FROM pm
),
ent AS (
  SELECT seg, n, p_cents,
         CASE WHEN p_cents = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(FLOOR(-(p_cents / CAST(s_cents AS DOUBLE))
                              * ln(p_cents / CAST(s_cents AS DOUBLE))
                              * 1e9) AS BIGINT)
         END AS h_nano,
         struct_pack(p := p_cents, mk := -k) AS pk
  FROM dist
)
SELECT seg AS segment,
       CAST(MAX(n) AS BIGINT) AS n_days,
       FLOOR(CAST(SUM(h_nano) AS DOUBLE) / 1e9
             / ln(CAST({_SE_HARMONICS} AS DOUBLE)) * 1e6) / 1e6
         AS spectral_entropy,
       CAST(-MAX(pk).mk AS BIGINT) AS dominant_harmonic
FROM ent
GROUP BY seg
"""


@register("ts_spectral_entropy", oracle=_SPECTRAL_ENTROPY_ORACLE)
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized spectral entropy of each segment's daily revenue
    series over the first 16 harmonics: H = −Σ p_k ln p_k / ln(K) with
    p_k the share of DFT power at harmonic k (Schuster periodogram,
    mean-removed) — ts_periodogram's machinery lifted to per-GROUP
    series and folded into the single forecastability number (≈1 ⇒
    spectrally flat/noisy, ≪1 ⇒ one dominant cycle), plus the dominant
    harmonic itself.

    Cross-engine exactness: the ts_periodogram contract end-to-end —
    cos/sin floor-quantize at 1e-8 before the product, DFT terms
    floor-quantize into exact wide-integer sums, per-harmonic power
    floor-quantizes to integer CENTS, so the power DISTRIBUTION is a
    ratio of exact integers; each −p·ln p term then floor-quantizes to
    1e-9 units and the entropy is an exact integer sum (zero-power
    harmonics pinned to 0 on both sides — no NaN path). The dominant
    harmonic is a struct-max on (power_cents, −k): exact, smallest k
    wins ties.

    Scale design: one corpus-scale keyed rollup (customer dim
    broadcast) to (segment, day) grain; the two-pass index/mean windows
    run per segment over calendar-bounded partitions; the 16-row
    frequency spine broadcasts; everything after the DFT aggregation is
    O(segments × harmonics) metadata. More segments = more partitions
    (parallelism), not more passes."""
    import math

    from trireme_spark.operators.hints import broadcast_if_small

    o = table(spark, sf_dir, "orders")
    # size-gated (customer grows with the corpus — the r5 doctrine)
    c = broadcast_if_small(table(spark, sf_dir, "customer"))
    daily = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(dsum("o_totalprice").alias("rev"))
    )
    w_seg = Window.partitionBy("seg")
    w_ord = w_seg.orderBy("day")
    idx = daily.select(
        "seg",
        "rev",
        (F.row_number().over(w_ord) - 1).alias("t"),
        F.count(F.lit(1)).over(w_seg).alias("n"),
        (
            F.sum(F.col("rev").cast(DSCALE)).over(w_seg).cast("double")
            / F.count(F.lit(1)).over(w_seg)
        ).alias("mu"),
    )
    freqs = spark.range(1, _SE_HARMONICS + 1).select(F.col("id").alias("k"))
    ang = 2 * math.pi * F.col("k") * F.col("t") / F.col("n")
    terms = idx.crossJoin(F.broadcast(freqs)).select(
        "seg",
        "k",
        "n",
        F.floor(
            (F.col("rev") - F.col("mu")) * fquant(F.cos(ang), 8) * 1e6
        ).alias("ct"),
        F.floor(
            (F.col("rev") - F.col("mu")) * fquant(F.sin(ang), 8) * 1e6
        ).alias("st"),
    )
    pw = terms.groupBy("seg", "k").agg(
        F.max("n").alias("n"),
        (F.sum(F.col("ct").cast("decimal(38,0)")).cast("double") / 1e6)
        .alias("sc"),
        (F.sum(F.col("st").cast("decimal(38,0)")).cast("double") / 1e6)
        .alias("ss"),
    )
    pm = pw.select(
        "seg",
        "k",
        "n",
        F.floor(
            (F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss"))
            / F.col("n")
            * 100
        )
        .cast("long")
        .alias("p_cents"),
    )
    dist = pm.select(
        "seg",
        "k",
        "n",
        "p_cents",
        F.sum("p_cents").over(w_seg).alias("s_cents"),
    )
    p_share = F.col("p_cents") / F.col("s_cents").cast("double")
    ent = dist.select(
        "seg",
        "n",
        F.when(F.col("p_cents") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor(-p_share * F.log(p_share) * 1e9).cast("long")
        )
        .alias("h_nano"),
        F.struct(
            F.col("p_cents").alias("p"), (-F.col("k")).alias("mk")
        ).alias("pk"),
    )
    return ent.groupBy(F.col("seg").alias("segment")).agg(
        F.max("n").cast("long").alias("n_days"),
        fquant(
            F.sum("h_nano").cast("double")
            / 1e9
            / F.log(F.lit(float(_SE_HARMONICS)))
        ).alias("spectral_entropy"),
        (-F.max(F.col("pk"))["mk"]).cast("long").alias("dominant_harmonic"),
    )


# ---------------------------------------------------------------------------
# ts_pacf_durbin_levinson — Partial autocorrelation at lags 1..5 per event
# type, via the Durbin-Levinson recursion UNROLLED into a generated
# closed-form expression chain that both engines execute verbatim — the
# AR-order identification tool (PACF cuts off at p for an AR(p)) that
# pairs with ts_autocorrelation (ACF, MA-order) and ts_ljung_box
# (whiteness).
# ---------------------------------------------------------------------------

_PACF_MAXLAG = 5


def _dl_levels(maxlag: int = _PACF_MAXLAG) -> list[list[str]]:
    """Unrolled Durbin-Levinson over pivoted ACF columns r1..r{maxlag}:
    phi_{1,1} = r1; phi_{k,k} = (r_k - Σ_j phi_{k-1,j} r_{k-j})
    / (1 - Σ_j phi_{k-1,j} r_j); phi_{k,j} = phi_{k-1,j} - phi_{k,k}
    phi_{k-1,k-j}. Each phi floor-quantizes at 1e-9 so every level's
    INPUT is a short exact decimal both engines agree on — drift cannot
    compound through the recursion. Returns one expression list per
    SELECT level (phi_{k,k} needs its own level before the phi_{k,j}
    updates may reference it). Pure generated SQL, shared verbatim by
    Spark (selectExpr) and DuckDB (nested subqueries)."""
    levels: list[list[str]] = [["FLOOR(r1 * 1e9) / 1e9 AS phi_1_1"]]
    for k in range(2, maxlag + 1):
        num = " + ".join(f"phi_{k-1}_{j} * r{k-j}" for j in range(1, k))
        den = " + ".join(f"phi_{k-1}_{j} * r{j}" for j in range(1, k))
        levels.append(
            [
                f"FLOOR((r{k} - ({num})) / NULLIF(1 - ({den}), 0.0)"
                f" * 1e9) / 1e9 AS phi_{k}_{k}"
            ]
        )
        levels.append(
            [
                f"FLOOR((phi_{k-1}_{j} - phi_{k}_{k} * phi_{k-1}_{k-j})"
                f" * 1e9) / 1e9 AS phi_{k}_{j}"
                for j in range(1, k)
            ]
        )
    return levels


def _dl_oracle_chain(inner: str) -> str:
    for exprs in _dl_levels():
        inner = f"(SELECT *, {', '.join(exprs)} FROM {inner})"
    return inner


_PACF_ORACLE = f"""
WITH h AS (
  SELECT event_type,
         CAST(epoch_us(date_trunc('hour', ts))
              // 3600000000 AS BIGINT) AS hidx,
         {oracle_sum('value')} AS v
  FROM events GROUP BY 1, 2
), g AS (
  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
         {oracle_sum('v')} AS sx, {oracle_sum('v * v')} AS sxx
  FROM h GROUP BY 1
), pairs AS (
  SELECT a.event_type, l.lag,
         CAST(FLOOR((a.v - g.sx / g.n) * (b.v - g.sx / g.n) * 1e6)
              AS HUGEINT) AS prod
  FROM h a
  JOIN g ON a.event_type = g.event_type
  JOIN (SELECT UNNEST(range(1, {_PACF_MAXLAG + 1})) AS lag) l ON TRUE
  JOIN h b ON b.event_type = a.event_type AND b.hidx = a.hidx + l.lag
), acf AS (
  SELECT p.event_type, p.lag,
         FLOOR(CAST(SUM(p.prod) AS DOUBLE) / 1e6
               / (g.sxx - g.sx * g.sx / g.n) * 1e6) / 1e6 AS r
  FROM pairs p JOIN g ON p.event_type = g.event_type
  GROUP BY p.event_type, p.lag, g.sxx, g.sx, g.n
), piv AS (
  SELECT event_type,
         {", ".join(f"MAX(CASE WHEN lag = {k} THEN r END) AS r{k}"
                    for k in range(1, _PACF_MAXLAG + 1))}
  FROM acf GROUP BY event_type
), dl AS (
  SELECT * FROM {_dl_oracle_chain('piv')}
)
{" UNION ALL ".join(
    f"SELECT event_type, CAST({k} AS BIGINT) AS lag,"
    f" phi_{k}_{k} AS pacf FROM dl"
    for k in range(1, _PACF_MAXLAG + 1)
)}
"""


@register("ts_pacf_durbin_levinson", oracle=_PACF_ORACLE)
def ts_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial ACF at lags 1..5 of each event type's hourly value
    series: pacf(k) = phi_{k,k} from the Durbin-Levinson recursion over
    the (floor-quantized) ACF — the correlation of x_t with x_{t+k}
    AFTER removing what lags 1..k-1 already explain, i.e. the AR
    coefficient ladder every Box-Jenkins identification starts from.

    The recursion is SEQUENTIAL in k but over a BOUNDED lag budget, so
    it unrolls into a generated closed-form expression chain
    (_dl_levels) executed verbatim by both engines — no iteration, no
    driver loop, no UDF; the same generate-once-share-both pattern as
    geo_geohash_encode's interleave. Each phi floor-quantizes at 1e-9
    per level, so cross-engine drift cannot compound through the
    recursion (the pagerank per-iteration quantization doctrine).

    Cross-engine exactness: hourly sums decimal-exact; lag products
    floor-quantize into exact wide-integer sums (HUGEINT / decimal(38));
    ACF floor-quantizes at 1e-6 BEFORE pivoting into the recursion.

    Scale design: one corpus-scale (type, hour) rollup; lag pairing is
    a keyed self-join on (type, hidx+k) over the dimension-sized series
    with a bounded 5-row spine; the recursion runs on a
    one-row-per-type frame. Per-entity PACF (millions of series) keys
    every stage by the series id — same plan, more partitions."""
    ev = table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        (
            F.unix_micros(F.date_trunc("hour", "ts").cast("timestamp"))
            / (3600 * 10**6)
        )
        .cast("long")
        .alias("hidx"),
    ).agg(dsum("value").alias("v"))
    # dsum_wide: v is an HOURLY per-type total folded over
    # calendar-bounded rows — v·v would pass the split-long per-row
    # cap at larger corpora; wide is free at this grain (r15 audit).
    g = h.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum_wide("v").alias("sx"),
        dsum_wide(F.col("v") * F.col("v")).alias("sxx"),
    )
    lags = spark.range(1, _PACF_MAXLAG + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    a = h.alias("a").join(F.broadcast(g.alias("g")), "event_type")
    a = a.crossJoin(F.broadcast(lags))
    b = h.select(
        F.col("event_type").alias("b_type"),
        F.col("hidx").alias("bhidx"),
        F.col("v").alias("bv"),
    )
    prod = F.floor(
        (F.col("a.v") - F.col("sx") / F.col("n"))
        * (F.col("bv") - F.col("sx") / F.col("n"))
        * 1e6
    ).cast("decimal(38,0)")
    pairs = a.join(
        b,
        (F.col("b_type") == F.col("event_type"))
        & (F.col("bhidx") == F.col("a.hidx") + F.col("lag")),
    ).select("event_type", "lag", prod.alias("prod"), "sxx", "sx", "n")
    acf = (
        pairs.groupBy("event_type", "lag", "sxx", "sx", "n")
        .agg(F.sum("prod").alias("num"))
        .select(
            "event_type",
            "lag",
            fquant(
                F.col("num").cast("double")
                / 1e6
                / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            ).alias("r"),
        )
    )
    piv = acf.groupBy("event_type").agg(
        *[
            F.max(F.when(F.col("lag") == k, F.col("r"))).alias(f"r{k}")
            for k in range(1, _PACF_MAXLAG + 1)
        ]
    )
    dl = piv
    for exprs in _dl_levels():
        dl = dl.selectExpr("*", *exprs)
    # One recursion evaluation, not five: the lag-unpivot union below
    # selects from dl once per lag, and uncached each selection replays
    # the WHOLE chain down to the corpus rollup (15 events scans in the
    # before-plan). The cached frame is one row per event type.
    from trireme_spark.operators.hints import cache_once

    dl = cache_once(dl)
    out = None
    for k in range(1, _PACF_MAXLAG + 1):
        part = dl.select(
            "event_type",
            F.lit(k).cast("long").alias("lag"),
            F.col(f"phi_{k}_{k}").alias("pacf"),
        )
        out = part if out is None else out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# orders_survival_nelson_aalen — Nelson-Aalen cumulative hazard on the
# SAME censored life table as orders_survival_km — the additive companion
# estimator (H(t) = Σ d/n, Var = Σ d/n²) preferred for small risk sets and
# for hazard-RATE readouts; exp(−H) is the Fleming-Harrington survival
# variant, emitted alongside for direct comparison with KM.
# ---------------------------------------------------------------------------

_NA_ORACLE = f"""
WITH life AS (
  SELECT o_custkey,
         datediff('day', MIN(CAST(o_orderdate AS DATE)),
                  MAX(CAST(o_orderdate AS DATE))) AS t,
         MAX(CAST(o_orderdate AS DATE)) AS last_d
  FROM orders GROUP BY o_custkey
), snap AS (SELECT MAX(last_d) AS snap_d FROM life),
lab AS (
  SELECT t, (datediff('day', last_d, snap_d) > {_KM_CHURN_GAP}) AS event
  FROM life CROSS JOIN snap
), n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0 FROM lab),
times AS (
  SELECT t, CAST(COUNT(*) FILTER (WHERE event) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS leaving
  FROM lab GROUP BY t
), risk AS (
  SELECT t, d,
         n0 - COALESCE(SUM(leaving) OVER (
           ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS n_at_risk
  FROM times CROSS JOIN n_tot
)
SELECT t, d, CAST(n_at_risk AS BIGINT) AS n_at_risk,
       FLOOR(CAST(SUM(CAST(FLOOR(CAST(d AS DOUBLE) / n_at_risk * 1e12)
                           AS DECIMAL(38,0))) OVER (
                 ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / 1e12 * 1e6) / 1e6 AS cum_hazard,
       FLOOR(CAST(SUM(CAST(FLOOR(CAST(d AS DOUBLE) / n_at_risk
                                 / n_at_risk * 1e12)
                           AS DECIMAL(38,0))) OVER (
                 ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / 1e12 * 1e9) / 1e9 AS hazard_var,
       FLOOR(exp(-(CAST(SUM(CAST(FLOOR(CAST(d AS DOUBLE) / n_at_risk * 1e12)
                                 AS DECIMAL(38,0))) OVER (
                     ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                   / 1e12)) * 1e6) / 1e6 AS fh_survival
FROM risk WHERE d > 0
"""


@register("orders_survival_nelson_aalen", oracle=_NA_ORACLE)
def orders_survival_nelson_aalen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nelson-Aalen cumulative hazard over the orders_survival_km life
    table (identical censoring rule — one life-table definition across
    the survival keys): H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ with Poisson-type
    variance Σ dᵢ/nᵢ², plus the Fleming-Harrington survival exp(−H).
    Where KM multiplies survival factors, NA ADDS hazard increments —
    numerically gentler when risk sets get small, and the quantity you
    difference to read hazard RATES per interval.

    Cross-engine exactness: each increment dᵢ/nᵢ is an exact integer
    ratio in double, floor-quantized to 1e-12 units into an
    order-independent decimal cumulative sum (the KM ln-space
    discipline, without needing logs at all); outputs floor-quantize.

    Scale design: identical to KM — corpus collapses to one
    customer-keyed lifetime rollup; event times, at-risk counts and the
    cumulative sums run on the dimension-sized distinct-time table
    under meta_part windows."""
    life = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")),
                F.min(F.col("o_orderdate").cast("date")),
            ).alias("t"),
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        )
    )
    snap = life.agg(F.max("last_d").alias("snap_d"))
    lab = life.crossJoin(F.broadcast(snap)).select(
        "t",
        (F.datediff("snap_d", "last_d") > _KM_CHURN_GAP).alias("event"),
    )
    n0 = lab.count()  # 1 scalar — bounded model state (the KM precedent)
    per_t = lab.groupBy("t").agg(
        F.count_if("event").alias("d"),
        F.count(F.lit(1)).alias("leaving"),
    )
    w_prev = (
        Window.partitionBy(meta_part("t"))
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = per_t.withColumn(
        "n_at_risk",
        F.lit(n0) - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0)),
    ).where(F.col("d") > 0)
    w_cum = (
        Window.partitionBy(meta_part("t"))
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    inc = F.floor(
        F.col("d").cast("double") / F.col("n_at_risk") * 1e12
    ).cast("decimal(38,0)")
    inc_var = F.floor(
        F.col("d").cast("double") / F.col("n_at_risk") / F.col("n_at_risk")
        * 1e12
    ).cast("decimal(38,0)")
    H = F.sum(inc).over(w_cum).cast("double") / 1e12
    V = F.sum(inc_var).over(w_cum).cast("double") / 1e12
    return risk.select(
        "t",
        "d",
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        fquant(H).alias("cum_hazard"),
        fquant(V, 9).alias("hazard_var"),
        fquant(F.exp(-H)).alias("fh_survival"),
    )


# ---------------------------------------------------------------------------
# orders_chow_test — Chow structural-break F-test: did the daily revenue
# TREND LINE change at a known date? The parametric changepoint companion
# to ts_pettitt_changepoint (rank-based, unknown date) and
# ts_mann_kendall_trend (monotone, distribution-free).
# ---------------------------------------------------------------------------

_CHOW_SPLIT = "1998-07-01"
_CHOW_F_CRIT = 3.0  # F(2, inf) at 5% ~ 2.996 — pinned literal


def _chow_ssr_sql(pre: str) -> str:
    """SSR of y ~ a + b·x from centered sufficient statistics:
    SSR = Syy − Sxy²/Sxx (exact algebra, no per-row residuals)."""
    return (
        f"({pre}syy - {pre}sy * {pre}sy / {pre}n"
        f" - ({pre}sxy - {pre}sx * {pre}sy / {pre}n)"
        f" * ({pre}sxy - {pre}sx * {pre}sy / {pre}n)"
        f" / ({pre}sxx - {pre}sx * {pre}sx / {pre}n))"
    )


_CHOW_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_diff('day', TIMESTAMP '1990-01-01 00:00:00',
                        o_orderdate) AS BIGINT) AS x,
         o_orderdate < TIMESTAMP '{_CHOW_SPLIT} 00:00:00' AS pre,
         {oracle_sum('o_totalprice')} AS y
  FROM orders GROUP BY 1, 2
), m AS (
  SELECT
    CAST(COUNT(*) AS DOUBLE) AS n,
    {oracle_sum('x')} AS sx, {oracle_sum('y')} AS sy,
    {oracle_sum('x * x')} AS sxx, {oracle_sum('y * y')} AS syy,
    {oracle_sum('x * y')} AS sxy,
    CAST(COUNT(*) FILTER (WHERE pre) AS DOUBLE) AS a_n,
    {oracle_sum('CASE WHEN pre THEN x ELSE 0 END')} AS a_sx,
    {oracle_sum('CASE WHEN pre THEN y ELSE 0 END')} AS a_sy,
    {oracle_sum('CASE WHEN pre THEN x * x ELSE 0 END')} AS a_sxx,
    {oracle_sum('CASE WHEN pre THEN y * y ELSE 0 END')} AS a_syy,
    {oracle_sum('CASE WHEN pre THEN x * y ELSE 0 END')} AS a_sxy,
    CAST(COUNT(*) FILTER (WHERE NOT pre) AS DOUBLE) AS b_n,
    {oracle_sum('CASE WHEN NOT pre THEN x ELSE 0 END')} AS b_sx,
    {oracle_sum('CASE WHEN NOT pre THEN y ELSE 0 END')} AS b_sy,
    {oracle_sum('CASE WHEN NOT pre THEN x * x ELSE 0 END')} AS b_sxx,
    {oracle_sum('CASE WHEN NOT pre THEN y * y ELSE 0 END')} AS b_syy,
    {oracle_sum('CASE WHEN NOT pre THEN x * y ELSE 0 END')} AS b_sxy
  FROM daily
), ssr AS (
  SELECT n, a_n, b_n,
         {_chow_ssr_sql('')} AS ssr_pooled,
         {_chow_ssr_sql('a_')} AS ssr_a,
         {_chow_ssr_sql('b_')} AS ssr_b
  FROM m
)
SELECT CAST(a_n AS BIGINT) AS n_pre,
       CAST(b_n AS BIGINT) AS n_post,
       ROUND(sqrt(ssr_pooled / n), 2) AS rmse_pooled,
       ROUND(sqrt((ssr_a + ssr_b) / (a_n + b_n - 4)), 2) AS rmse_split,
       FLOOR(((ssr_pooled - ssr_a - ssr_b) / 2)
             / ((ssr_a + ssr_b) / (a_n + b_n - 4)) * 1e6) / 1e6 AS f_stat,
       FLOOR(((ssr_pooled - ssr_a - ssr_b) / 2)
             / ((ssr_a + ssr_b) / (a_n + b_n - 4)) * 1e6) / 1e6
         > {_CHOW_F_CRIT} AS structural_break
FROM ssr
"""


@register("orders_chow_test", oracle=_CHOW_ORACLE)
def orders_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test for a structural break in the daily-revenue trend at a
    known split date (1998-07-01): fit y ~ a + b·t separately before
    and after, F = ((SSR_pooled − SSR_a − SSR_b)/k) /
    ((SSR_a + SSR_b)/(n_a + n_b − 2k)) with k = 2 parameters — the
    regression-regime question ("did the LINE change, not just the
    level?") that Pettitt/MK, being level tests, cannot answer.
    Significance compares the QUANTIZED F against the pinned
    F(2, inf) 5% critical value.

    Cross-engine exactness: every SSR reduces ALGEBRAICALLY to centered
    sufficient statistics (Syy − Sxy²/Sxx — no per-row residual pass)
    from decimal-exact sums; the decimal→double cast of Σy² exceeds
    2^53 micro-units at this magnitude, so the engines' casts can
    differ in the last ulp (measured: 1e-16 relative) — therefore the
    outputs are SCALE-FREE or RMSE-scale with coarse rounding (the
    agg_stats doctrine for inherently inexact statistics), never the
    raw ~1e13 SSRs, and the boolean compares the QUANTIZED F.

    Scale design: ONE corpus-scale rollup to (day, regime) grain
    carries every sufficient statistic as conditional decimal sums in a
    single 1-row aggregation — adding regimes (multi-break scans) adds
    CASE columns, never passes; the F readout is driver-free column
    algebra on that row."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01"))
        .cast("long")
        .alias("x"),
        (F.col("o_orderdate") < F.lit(_CHOW_SPLIT).cast("timestamp")).alias(
            "pre"
        ),
    ).agg(dsum("o_totalprice").alias("y"))

    # dsum_wide below, not dsum: y is a DAILY total (corpus-growing —
    # y·y already ~2.3e14 at sf0.1, over the split-long per-row cap);
    # this stage aggregates calendar-bounded day rows, so the wide
    # decimal buffer costs nothing (r15 sweep catch).
    def seg(cond, expr):
        return dsum_wide(F.when(cond, expr).otherwise(0.0))

    pre = F.col("pre")
    x, y = F.col("x").cast("double"), F.col("y")
    m = daily.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum_wide(x).alias("sx"),
        dsum_wide(y).alias("sy"),
        dsum_wide(x * x).alias("sxx"),
        dsum_wide(y * y).alias("syy"),
        dsum_wide(x * y).alias("sxy"),
        F.count_if(pre).cast("double").alias("a_n"),
        seg(pre, x).alias("a_sx"),
        seg(pre, y).alias("a_sy"),
        seg(pre, x * x).alias("a_sxx"),
        seg(pre, y * y).alias("a_syy"),
        seg(pre, x * y).alias("a_sxy"),
        F.count_if(~pre).cast("double").alias("b_n"),
        seg(~pre, x).alias("b_sx"),
        seg(~pre, y).alias("b_sy"),
        seg(~pre, x * x).alias("b_sxx"),
        seg(~pre, y * y).alias("b_syy"),
        seg(~pre, x * y).alias("b_sxy"),
    )
    ssr = m.selectExpr(
        "n",
        "a_n",
        "b_n",
        f"{_chow_ssr_sql('')} AS ssr_pooled",
        f"{_chow_ssr_sql('a_')} AS ssr_a",
        f"{_chow_ssr_sql('b_')} AS ssr_b",
    )
    f_stat = fquant(
        ((F.col("ssr_pooled") - F.col("ssr_a") - F.col("ssr_b")) / 2)
        / (
            (F.col("ssr_a") + F.col("ssr_b"))
            / (F.col("a_n") + F.col("b_n") - 4)
        )
    )
    return ssr.select(
        F.col("a_n").cast("long").alias("n_pre"),
        F.col("b_n").cast("long").alias("n_post"),
        F.round(F.sqrt(F.col("ssr_pooled") / F.col("n")), 2).alias(
            "rmse_pooled"
        ),
        F.round(
            F.sqrt(
                (F.col("ssr_a") + F.col("ssr_b"))
                / (F.col("a_n") + F.col("b_n") - 4)
            ),
            2,
        ).alias("rmse_split"),
        f_stat.alias("f_stat"),
        (f_stat > _CHOW_F_CRIT).alias("structural_break"),
    )


# ---------------------------------------------------------------------------
# ts_dtw_distance — Dynamic Time Warping between segment seasonality
# profiles — the elastic-alignment distance (Sakoe & Chiba 1978) that
# matches shifted/stretched seasonal shapes where Euclidean punishes any
# phase offset; the missing flagship of the ts family's distance toolbox.
# ROWS-ONLY: iterative DP state has no single-SQL form — the graph_kcore
# precedent.
# ---------------------------------------------------------------------------


@register("ts_dtw_distance")
def ts_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DTW distance between every pair of market segments' seasonality
    profiles (12 calendar-month revenue SHARES of the segment's annual
    total), aligned elastically so a one-month phase shift between two
    segments' seasonal peaks is cheap while a genuinely different shape
    stays expensive.

    DP is the classic O(12×12) Sakoe-Chiba recurrence
    D[i,j] = |a_i − b_j| + min(D[i−1,j], D[i,j−1], D[i−1,j−1]), run in
    an Arrow-batched pandas stage over BOUNDED per-pair vectors (the
    ts_cusum applyInPandas doctrine: sequential in the bounded
    dimension, parallel across pairs). Determinism needs no
    cross-engine ladder — shares are exact-decimal-derived doubles and
    the single python implementation is the only evaluator (rows-only
    contract: a first-principles pytest recompute, the dtw ≤ lock-step
    L1 relaxation bound, non-negativity, and repeat-evaluation
    determinism).

    Scale design: the corpus reduces ONCE to (segment, month) grain
    (map-side-combined decimal rollup); profiles assemble via
    sort_array(collect_list) over ≤12 rows per segment; the pair
    lattice is k² metadata and the DP runs on 12-vectors — at millions
    of entities the same plan shuffles the pair frame by key and the DP
    cost stays O(pairs × L²) with L fixed by the profile, not the
    corpus."""
    import pandas as pd

    from trireme_spark.operators.hints import broadcast_if_small

    o = table(spark, sf_dir, "orders")
    # size-gated (customer grows with the corpus — the r5 doctrine)
    c = broadcast_if_small(table(spark, sf_dir, "customer"))
    monthly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.month("o_orderdate").alias("m"),
        )
        .agg(F.sum(F.col("o_totalprice").cast(DSCALE)).alias("rev"))
    )
    w_seg = Window.partitionBy("seg")
    prof = (
        monthly.withColumn(
            "share",
            # double/double, NOT decimal/decimal: Spark's decimal
            # division truncates at result-scale 6 before the cast,
            # which the first-principles recompute would never mirror
            F.col("rev").cast("double")
            / F.sum("rev").over(w_seg).cast("double"),
        )
        .groupBy("seg")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("m", "share"))
            ).alias("prof")
        )
    )
    a = prof.select(
        F.col("seg").alias("seg_a"), F.col("prof").alias("prof_a")
    )
    b = prof.select(
        F.col("seg").alias("seg_b"), F.col("prof").alias("prof_b")
    )
    pairs = a.join(b, F.col("seg_a") < F.col("seg_b"))

    def dtw_batch(it):
        def vec(prof):
            shares = {int(r["m"]): float(r["share"]) for r in prof}
            return [shares.get(m, 0.0) for m in range(1, 13)]

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                va, vb = vec(r.prof_a), vec(r.prof_b)
                n = len(va)
                inf = float("inf")
                D = [[inf] * (n + 1) for _ in range(n + 1)]
                D[0][0] = 0.0
                for i in range(1, n + 1):
                    for j in range(1, n + 1):
                        cost = abs(va[i - 1] - vb[j - 1])
                        D[i][j] = cost + min(
                            D[i - 1][j], D[i][j - 1], D[i - 1][j - 1]
                        )
                l1 = sum(abs(x - y) for x, y in zip(va, vb))
                rows.append(
                    (r.seg_a, r.seg_b, D[n][n], l1)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "seg_a",
                    "seg_b",
                    "dtw_distance",
                    "lockstep_l1",
                ],
            )

    return pairs.mapInPandas(
        dtw_batch,
        "seg_a string, seg_b string, dtw_distance double,"
        " lockstep_l1 double",
    )


# ---------------------------------------------------------------------------
# orders_wasserstein_1d — Earth-mover distance between two segments'
# order-price distributions on a fixed 1k-wide bin grid: in 1-D, W1 = Σ
# |CDF_a − CDF_b| · binwidth — the distribution-shift metric that (unlike
# KS's max-gap) weighs WHERE the mass moved, which is why drift monitors
# quote it next to PSI.
# ---------------------------------------------------------------------------

_W1_BIN = 1000.0  # price bin width — fixed grid, cross-engine exact
_W1_SEG_A = "BUILDING"
_W1_SEG_B = "MACHINERY"

_WASSERSTEIN_ORACLE = f"""
WITH priced AS (
  SELECT CAST(FLOOR(o_totalprice / {_W1_BIN}) AS BIGINT) AS bin,
         c_mktsegment AS seg
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('{_W1_SEG_A}', '{_W1_SEG_B}')
), cells AS (
  SELECT bin,
         CAST(COUNT(*) FILTER (WHERE seg = '{_W1_SEG_A}') AS BIGINT) AS na,
         CAST(COUNT(*) FILTER (WHERE seg = '{_W1_SEG_B}') AS BIGINT) AS nb
  FROM priced GROUP BY 1
), cum AS (
  SELECT bin, na, nb,
         SUM(na) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS ca,
         SUM(nb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cb,
         SUM(na) OVER () AS ta, SUM(nb) OVER () AS tb,
         LEAD(bin) OVER (ORDER BY bin) AS next_bin
  FROM cells
), gaps AS (
  -- |CDF gap| held constant from this bin edge to the next occupied
  -- bin: weight by the integer bin distance (empty bins carry the gap)
  SELECT CAST(FLOOR(abs(CAST(ca AS DOUBLE) / ta
                        - CAST(cb AS DOUBLE) / tb)
                    * (next_bin - bin) * 1e9) AS BIGINT) AS g_nano
  FROM cum WHERE next_bin IS NOT NULL
)
SELECT CAST(SUM(g_nano) AS DOUBLE) / 1e9 * {_W1_BIN} AS w1_distance,
       (SELECT CAST(SUM(na) AS BIGINT) FROM cells) AS n_a,
       (SELECT CAST(SUM(nb) AS BIGINT) FROM cells) AS n_b
FROM gaps
"""


@register("orders_wasserstein_1d", oracle=_WASSERSTEIN_ORACLE)
def orders_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein-1 (earth-mover) distance between the BUILDING
    and MACHINERY order-price distributions on a fixed 1000-wide bin
    grid: W1 = Σ_edges |CDF_a − CDF_b| · gap·binwidth, with each gap
    carried across empty bins via the next-occupied-bin distance (so
    the grid never needs densifying). Exact on the binned measure by
    construction — the binning IS the estimator, the same contract as
    the fixed-width histogram/PSI keys, and the 100 TB-sane form (the
    unbinned W1 needs a corpus-wide sorted cumulative pass).

    Cross-engine exactness: bins and counts are exact integers; CDF
    ratios are integer-derived doubles; each gap term floor-quantizes
    to 1e-9 units into an exact integer sum.

    Scale design: one corpus pass to the BOUNDED bin grid
    (map-side-combined conditional counts), then cumulative/lead
    windows over ≤O(bins) metadata rows under a meta_part spec.
    Comparing k segment pairs reuses the same cell table with more
    conditional columns — never more passes."""
    from trireme_spark.operators.hints import broadcast_if_small

    o = table(spark, sf_dir, "orders")
    c = broadcast_if_small(table(spark, sf_dir, "customer"))
    cells = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .where(F.col("c_mktsegment").isin(_W1_SEG_A, _W1_SEG_B))
        .groupBy(
            F.floor(F.col("o_totalprice") / _W1_BIN)
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count_if(F.col("c_mktsegment") == _W1_SEG_A).alias("na"),
            F.count_if(F.col("c_mktsegment") == _W1_SEG_B).alias("nb"),
        )
    )
    w_all = Window.partitionBy(meta_part("bin"))
    w_cum = w_all.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_lead = w_all.orderBy("bin")
    cum = cells.select(
        "bin",
        "na",
        "nb",
        F.sum("na").over(w_cum).alias("ca"),
        F.sum("nb").over(w_cum).alias("cb"),
        F.sum("na").over(w_all).alias("ta"),
        F.sum("nb").over(w_all).alias("tb"),
        F.lead("bin").over(w_lead).alias("next_bin"),
    )
    g_nano = F.floor(
        F.abs(
            F.col("ca").cast("double") / F.col("ta")
            - F.col("cb").cast("double") / F.col("tb")
        )
        * (F.col("next_bin") - F.col("bin"))
        * 1e9
    ).cast("long")
    return (
        cum.where(F.col("next_bin").isNotNull())
        .select(
            g_nano.alias("g_nano"),
            F.col("ta").alias("ta"),
            F.col("tb").alias("tb"),
        )
        .groupBy("ta", "tb")
        .agg(F.sum("g_nano").alias("s"))
        .select(
            (F.col("s").cast("double") / 1e9 * _W1_BIN).alias(
                "w1_distance"
            ),
            F.col("ta").cast("long").alias("n_a"),
            F.col("tb").cast("long").alias("n_b"),
        )
    )


# ---------------------------------------------------------------------------
# events_propensity_match_att — Nearest-neighbor propensity matching (with
# replacement) for the ATT — the third causal estimator next to
# events_ipw_ate (reweighting) and events_ab_cuped (variance reduction):
# every treated user pairs with the closest control on the score axis, and
# the effect is read off matched pairs.
# ---------------------------------------------------------------------------

_PSM_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS DOUBLE)
           / COUNT(*) + user_id * 1e-9 AS score,
         CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS DOUBLE)
           / COUNT(*) > 0.2 AS treated,
         {oracle_sum('value')} AS outcome
  FROM events GROUP BY user_id
), pairs AS (
  SELECT t.user_id, t.outcome AS y_t, c.outcome AS y_c,
         ROW_NUMBER() OVER (
           PARTITION BY t.user_id
           ORDER BY abs(c.score - t.score), c.score
         ) AS rn
  FROM u t JOIN u c ON c.user_id <> t.user_id AND NOT c.treated
  WHERE t.treated
), diffs AS (
  SELECT CAST(FLOOR((y_t - y_c) * 1e6) AS BIGINT) AS d_micro
  FROM pairs WHERE rn = 1
)
SELECT (SELECT CAST(COUNT(*) FILTER (WHERE treated) AS BIGINT) FROM u)
         AS n_treated,
       (SELECT CAST(COUNT(*) FILTER (WHERE NOT treated) AS BIGINT) FROM u)
         AS n_controls,
       CAST(COUNT(*) AS BIGINT) AS n_matched,
       FLOOR(CAST(SUM(d_micro) AS DOUBLE) / 1e6 / COUNT(*) * 1e6) / 1e6
         AS att
FROM diffs
"""


@register("events_propensity_match_att", oracle=_PSM_ORACLE)
def events_propensity_match_att(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ATT by 1-nearest-neighbor propensity matching with replacement:
    treated = users whose error share exceeds 0.2 (every fixture user
    hits SOME error, so presence alone is degenerate — found by the
    sf0.001 parity gate); score = empirical click
    share, made TOTAL-ORDER-unique by a deterministic uid·1e-9 jitter
    (so "the nearest control" is unambiguous in every engine — without
    it, equal scores make the matched partner an implementation
    accident). Uniqueness is an ASSUMPTION, not a theorem: shares are
    rationals with per-user denominators, so two jittered doubles CAN
    coincide; the contract is pinned per fixture by
    tests/test_staged_r13.py::test_psm_scores_are_unique at both
    grading scales (the PPS headroom-bound precedent) — a corpus that
    trips it needs a wider jitter scale, not a code change. Outcome =
    decimal-exact value sum; ATT = mean of
    (y_treated − y_matched-control) over matched pairs, each diff
    floor-quantized to exact integer micro-units before the sum.
    Tie between equidistant neighbors breaks toward the LOWER score —
    the oracle's (|Δ|, score) order and the Spark side's
    prev-on-equal rule are the same rule stated twice.

    Scale design: with unique scores the nearest control is always one
    of the two score-adjacent controls, so Spark never brute-forces —
    ONE sort by score and two IGNORE-NULLS window scans (last control
    before, first after) find every treated user's match in O(n log n)
    total; the oracle's treated×controls cross join is the brute-force
    twin, not the plan. At 100 TB the global score sort becomes a
    RANGE partition by score with boundary-control exchange — the
    documented two-pass swap; matching stays embarrassingly local
    within ranges."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (
            F.count(F.when(F.col("event_type") == "click", 1)).cast(
                "double"
            )
            / F.count(F.lit(1))
            + F.col("user_id") * 1e-9
        ).alias("score"),
        (
            F.count(
                F.when(F.col("event_type") == "error", 1)
            ).cast("double")
            / F.count(F.lit(1))
            > 0.2
        ).alias("treated"),
        dsum("value").alias("outcome"),
    )
    ctrl = F.when(
        ~F.col("treated"),
        F.struct(F.col("score"), F.col("outcome")),
    )
    w_all = Window.partitionBy(meta_part("user_id"))
    w_prev = w_all.orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_next = w_all.orderBy("score").rowsBetween(
        1, Window.unboundedFollowing
    )
    m = u.select(
        "user_id",
        "score",
        "treated",
        "outcome",
        F.last(ctrl, ignorenulls=True).over(w_prev).alias("prev"),
        F.first(ctrl, ignorenulls=True).over(w_next).alias("next"),
    ).where(F.col("treated"))
    d_prev = F.abs(F.col("prev.score") - F.col("score"))
    d_next = F.abs(F.col("next.score") - F.col("score"))
    matched = F.when(
        F.col("prev").isNull(), F.col("next.outcome")
    ).otherwise(
        F.when(F.col("next").isNull(), F.col("prev.outcome")).otherwise(
            # equidistant -> prev (the lower score), the oracle's
            # (|delta|, score) argmin rule
            F.when(d_prev <= d_next, F.col("prev.outcome")).otherwise(
                F.col("next.outcome")
            )
        )
    )
    diffs = m.select(
        F.floor((F.col("outcome") - matched) * 1e6)
        .cast("long")
        .alias("d_micro")
    ).where(F.col("d_micro").isNotNull())
    counts = u.agg(
        F.count_if(F.col("treated")).alias("n_treated"),
        F.count_if(~F.col("treated")).alias("n_controls"),
    )
    agg = diffs.agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.sum("d_micro").alias("s"),
    )
    return counts.crossJoin(F.broadcast(agg)).select(
        F.col("n_treated").cast("long").alias("n_treated"),
        F.col("n_controls").cast("long").alias("n_controls"),
        F.col("n_matched").cast("long").alias("n_matched"),
        fquant(
            F.col("s").cast("double") / 1e6 / F.col("n_matched")
        ).alias("att"),
    )


# ---------------------------------------------------------------------------
# ts_granger_f_test — Granger causality at lag 1: does YESTERDAY'S
# BUILDING revenue improve today's MACHINERY forecast beyond MACHINERY's
# own yesterday — the predictive-causality F-test that turns
# ts_cross_correlation_leadlag's symmetric "they co-move" into a directed
# claim.
# ---------------------------------------------------------------------------

_GRANGER_F_CRIT = 3.84  # F(1, inf) at 5% — pinned literal


_GRANGER_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_diff('day', TIMESTAMP '1990-01-01 00:00:00',
                        o_orderdate) AS BIGINT) AS dd,
         {oracle_sum("CASE WHEN c_mktsegment = 'BUILDING' THEN o_totalprice ELSE 0 END")} AS x,
         {oracle_sum("CASE WHEN c_mktsegment = 'MACHINERY' THEN o_totalprice ELSE 0 END")} AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
), rows_ AS (
  SELECT t.y AS y, l.y AS yl, l.x AS xl
  FROM daily t JOIN daily l ON l.dd = t.dd - 1
), m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {oracle_sum('y')} AS sy, {oracle_sum('yl')} AS syl,
         {oracle_sum('xl')} AS sxl,
         {oracle_sum('y * y')} AS syy, {oracle_sum('yl * yl')} AS syl2,
         {oracle_sum('xl * xl')} AS sxl2,
         {oracle_sum('yl * y')} AS syly, {oracle_sum('xl * y')} AS sxly,
         {oracle_sum('yl * xl')} AS sylxl
  FROM rows_
), c AS (
  SELECT n,
         syl2 - syl * syl / n AS s11, sxl2 - sxl * sxl / n AS s22,
         sylxl - syl * sxl / n AS s12,
         syly - syl * sy / n AS s1y, sxly - sxl * sy / n AS s2y,
         syy - sy * sy / n AS syyc
  FROM m
), ssr AS (
  SELECT n,
         syyc - s1y * s1y / s11 AS ssr_r,
         syyc - (s1y * s1y * s22 - 2 * s1y * s2y * s12
                 + s2y * s2y * s11) / (s11 * s22 - s12 * s12) AS ssr_u,
         syyc
  FROM c
)
SELECT CAST(n AS BIGINT) AS n_days,
       FLOOR((ssr_r - ssr_u) / (ssr_u / (n - 3)) * 1e6) / 1e6 AS f_stat,
       FLOOR((ssr_r - ssr_u) / (ssr_u / (n - 3)) * 1e6) / 1e6
         > {_GRANGER_F_CRIT} AS x_granger_causes_y,
       FLOOR((1 - ssr_u / syyc) * 1e6) / 1e6 AS r2_unrestricted,
       FLOOR((1 - ssr_r / syyc) * 1e6) / 1e6 AS r2_restricted
FROM ssr
"""


@register("ts_granger_f_test", oracle=_GRANGER_ORACLE)
def ts_granger_f_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality (lag 1, BUILDING → MACHINERY daily revenue):
    fit MACHINERY_t on its own lag alone (restricted) and with
    yesterday's BUILDING added (unrestricted), both in closed form from
    centered sufficient statistics (2-regressor OLS by Cramer's rule —
    explained SS = (S1y²S22 − 2S1yS2yS12 + S2y²S11)/(S11S22 − S12²)),
    then F = (SSR_r − SSR_u)/(SSR_u/(n−3)) against the pinned F(1,∞)
    critical. "x Granger-causes y" = x's past helps BEYOND y's own
    past — the directed claim the symmetric CCF cannot make.

    Cross-engine exactness: the chow-test doctrine throughout — every
    moment is a decimal-exact sum of identical doubles; the >2^53
    decimal→double ulp divergence on Σy² is absorbed by emitting only
    SCALE-FREE outputs (F, R²) under floor-quantization, never raw
    ~1e13 SSRs.

    Scale design: one corpus-scale rollup to day grain (customer
    broadcast size-gated), one keyed self-join on (day−1) over the
    calendar-bounded series, ONE 1-row moment aggregation. More lags
    add moment columns (and Cramer terms), never passes."""
    from trireme_spark.operators.hints import broadcast_if_small

    o = table(spark, sf_dir, "orders")
    c = broadcast_if_small(table(spark, sf_dir, "customer"))
    daily = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.datediff(F.col("o_orderdate"), F.lit("1990-01-01"))
            .cast("long")
            .alias("dd")
        )
        .agg(
            dsum(
                F.when(
                    F.col("c_mktsegment") == "BUILDING", F.col("o_totalprice")
                ).otherwise(0.0)
            ).alias("x"),
            dsum(
                F.when(
                    F.col("c_mktsegment") == "MACHINERY", F.col("o_totalprice")
                ).otherwise(0.0)
            ).alias("y"),
        )
    )
    t = daily.select(F.col("dd"), F.col("y"))
    lagf = daily.select(
        (F.col("dd") + 1).alias("dd"),
        F.col("y").alias("yl"),
        F.col("x").alias("xl"),
    )
    rows = t.join(lagf, "dd")
    y, yl, xl = F.col("y"), F.col("yl"), F.col("xl")
    # dsum_wide, not dsum: x/y are DAILY segment totals (corpus-growing;
    # products ~2e13 at sf0.1 exceed the split-long per-row cap) and
    # this stage aggregates calendar-bounded day rows — the wide
    # decimal buffer is free here (r15 sweep catch).
    m = rows.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum_wide(y).alias("sy"),
        dsum_wide(yl).alias("syl"),
        dsum_wide(xl).alias("sxl"),
        dsum_wide(y * y).alias("syy"),
        dsum_wide(yl * yl).alias("syl2"),
        dsum_wide(xl * xl).alias("sxl2"),
        dsum_wide(yl * y).alias("syly"),
        dsum_wide(xl * y).alias("sxly"),
        dsum_wide(yl * xl).alias("sylxl"),
    )
    csel = m.selectExpr(
        "n",
        "syl2 - syl * syl / n AS s11",
        "sxl2 - sxl * sxl / n AS s22",
        "sylxl - syl * sxl / n AS s12",
        "syly - syl * sy / n AS s1y",
        "sxly - sxl * sy / n AS s2y",
        "syy - sy * sy / n AS syyc",
    )
    ssr = csel.selectExpr(
        "n",
        "syyc - s1y * s1y / s11 AS ssr_r",
        "syyc - (s1y * s1y * s22 - 2 * s1y * s2y * s12"
        " + s2y * s2y * s11) / (s11 * s22 - s12 * s12) AS ssr_u",
        "syyc",
    )
    f_stat = fquant(
        (F.col("ssr_r") - F.col("ssr_u"))
        / (F.col("ssr_u") / (F.col("n") - 3))
    )
    return ssr.select(
        F.col("n").cast("long").alias("n_days"),
        f_stat.alias("f_stat"),
        (f_stat > _GRANGER_F_CRIT).alias("x_granger_causes_y"),
        fquant(1 - F.col("ssr_u") / F.col("syyc")).alias(
            "r2_unrestricted"
        ),
        fquant(1 - F.col("ssr_r") / F.col("syyc")).alias(
            "r2_restricted"
        ),
    )


# ---------------------------------------------------------------------------
# events_attribution_shapley — EXACT Shapley-value multi-touch attribution
# (Shapley 1953; Zhao et al. 2018 for the marketing form) — the
# game-theoretic closer of the attribution family: last-touch rewards
# recency, linear splits equally, time-decay interpolates; Shapley is the
# unique credit split satisfying efficiency/symmetry/dummy, and with a
# BOUNDED channel alphabet it is computable exactly over the subset
# lattice.
# ---------------------------------------------------------------------------

# channel -> bit, fixed order (the non-purchase event types)
_SHAP_CHANNELS = [("click", 1), ("error", 2), ("signup", 4), ("view", 8)]
_SHAP_N = len(_SHAP_CHANNELS)


def _shap_weight_rows():
    """(channel, bit, others_subset_mask, weight_numerator) — the
    Shapley sum unrolled over each channel's 2^(n-1) = 8 co-subsets,
    with s!(n-1-s)! as INTEGER numerators over the common n! = 24
    denominator, so the per-channel sum is exact integer arithmetic."""
    import math as _m

    rows = []
    for ch, bit in _SHAP_CHANNELS:
        others = [b for _, b in _SHAP_CHANNELS if b != bit]
        for pick in range(1 << len(others)):
            mask = 0
            size = 0
            for j, b in enumerate(others):
                if pick >> j & 1:
                    mask |= b
                    size += 1
            wnum = _m.factorial(size) * _m.factorial(
                _SHAP_N - 1 - size
            )
            rows.append((ch, bit, mask, wnum))
    return rows


_SHAP_CASE = " + ".join(
    f"CASE WHEN event_type = '{ch}' THEN {bit} ELSE 0 END"
    for ch, bit in _SHAP_CHANNELS
)

_SHAP_WEIGHT_VALUES = ", ".join(
    f"('{ch}', {bit}, {mask}, {wnum})"
    for ch, bit, mask, wnum in _shap_weight_rows()
)

_SHAPLEY_ORACLE = f"""
WITH fp AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_p
  FROM events GROUP BY user_id
), conv AS (
  SELECT user_id, first_p FROM fp WHERE first_p IS NOT NULL
), touch AS (
  SELECT DISTINCT c.user_id,
         {_SHAP_CASE.replace("event_type", "e.event_type")} AS bit
  FROM conv c JOIN events e
    ON e.user_id = c.user_id AND e.ts < c.first_p
  WHERE e.event_type <> 'purchase'
), umask AS (
  SELECT c.user_id,
         COALESCE((SELECT SUM(bit) FROM touch t
                   WHERE t.user_id = c.user_id AND t.bit > 0), 0)
           AS mask
  FROM conv c
), cnt AS (
  SELECT CAST(mask AS BIGINT) AS mask, CAST(COUNT(*) AS BIGINT) AS c
  FROM umask GROUP BY 1
), spine AS (SELECT UNNEST(range(0, {1 << _SHAP_N})) AS s),
v AS (
  SELECT spine.s, CAST(COALESCE(SUM(cnt.c), 0) AS BIGINT) AS v
  FROM spine LEFT JOIN cnt ON (cnt.mask & spine.s) = cnt.mask
  GROUP BY spine.s
), w AS (
  SELECT * FROM (VALUES {_SHAP_WEIGHT_VALUES})
    t(channel, bit, smask, wnum)
), phi AS (
  SELECT w.channel,
         CAST(SUM(w.wnum * (v1.v - v0.v)) AS BIGINT) AS num24
  FROM w
  JOIN v v1 ON v1.s = (w.smask | w.bit)
  JOIN v v0 ON v0.s = w.smask
  GROUP BY w.channel
)
SELECT channel,
       FLOOR(CAST(num24 AS DOUBLE) / 24 * 1e6) / 1e6
         AS shapley_conversions,
       (SELECT v FROM v WHERE s = {(1 << _SHAP_N) - 1}) AS v_grand,
       (SELECT v FROM v WHERE s = 0) AS v_empty
FROM phi
"""


@register("events_attribution_shapley", oracle=_SHAPLEY_ORACLE)
def events_attribution_shapley(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact Shapley attribution of conversions to the four
    pre-purchase channels: a user's coalition is the SET of channel
    types they touched before their FIRST purchase; the coalition
    worth v(S) counts converted users whose set fits inside S; each
    channel's credit is the exact Shapley sum
    φ_i = Σ_{S ⊆ C∖i} s!(n−1−s)!/n! · (v(S∪i) − v(S)) over the full
    2^4 subset lattice. Efficiency (Σφ = v(C) − v(∅) — users who
    converted with NO prior touch stay unattributed by design) is
    pinned as a test invariant, because it is the property that makes
    Shapley the fair split.

    Cross-engine exactness: everything is integer until ONE final
    division — the weights enter as integer numerators over the common
    4! denominator (¼, 1/12 … never materialize as floats), so each
    φ·24 is an exact integer sum.

    Scale design: one corpus pass finds first purchases (keyed agg),
    one keyed join marks pre-purchase touches and folds them to a
    per-user BITMASK; from there the entire computation lives on the
    ≤2^n-row mask table crossed with literal spines (subset lattice,
    weight table — both broadcast). Channel alphabets up to ~20 keep
    the lattice ≤1M metadata rows; beyond that the documented swap is
    the permutation-sampling estimator on the same mask table."""
    ev = table(spark, sf_dir, "events")
    fp = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_p")
    )
    conv = fp.where(F.col("first_p").isNotNull())
    bit = F.lit(0)
    for ch, b in _SHAP_CHANNELS:
        bit = bit + F.when(F.col("event_type") == ch, b).otherwise(0)
    touches = (
        ev.where(F.col("event_type") != "purchase")
        .join(conv, "user_id")
        .where(F.col("ts") < F.col("first_p"))
        .select("user_id", bit.alias("bit"))
        .where(F.col("bit") > 0)
        .distinct()
    )
    umask = (
        conv.join(
            touches.groupBy("user_id").agg(F.sum("bit").alias("mask")),
            "user_id",
            "left",
        )
        .select(F.coalesce(F.col("mask"), F.lit(0)).alias("mask"))
    )
    cnt = umask.groupBy("mask").agg(F.count(F.lit(1)).alias("c"))
    spine = spark.range(1 << _SHAP_N).select(F.col("id").alias("s"))
    v = (
        spine.join(
            F.broadcast(cnt),
            F.col("mask").bitwiseAND(F.col("s")) == F.col("mask"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("v"))
    )
    # One coalition-worth evaluation, not four: v (2^n = 16 rows) feeds
    # v1, v0, grand and empty — uncached, each replays the whole corpus
    # chain (first purchases + touch bitmasks; 12 events scans in the
    # before-plan). The cached frame is the subset-lattice worth table.
    from trireme_spark.operators.hints import cache_once

    v = cache_once(v)
    w = spark.createDataFrame(
        _shap_weight_rows(), "channel string, bit int, smask int, wnum int"
    )
    v1 = v.select(F.col("s").alias("s1"), F.col("v").alias("v_with"))
    v0 = v.select(F.col("s").alias("s0"), F.col("v").alias("v_without"))
    phi = (
        w.join(
            F.broadcast(v1),
            F.col("s1")
            == F.col("smask").bitwiseOR(F.col("bit")).cast("long"),
        )
        .join(F.broadcast(v0), F.col("s0") == F.col("smask").cast("long"))
        .groupBy("channel")
        .agg(
            F.sum(
                F.col("wnum") * (F.col("v_with") - F.col("v_without"))
            ).alias("num24")
        )
    )
    grand = v.where(F.col("s") == (1 << _SHAP_N) - 1).select(
        F.col("v").alias("v_grand")
    )
    empty = v.where(F.col("s") == 0).select(F.col("v").alias("v_empty"))
    return (
        phi.crossJoin(F.broadcast(grand))
        .crossJoin(F.broadcast(empty))
        .select(
            "channel",
            fquant(F.col("num24").cast("double") / 24).alias(
                "shapley_conversions"
            ),
            F.col("v_grand").cast("long").alias("v_grand"),
            F.col("v_empty").cast("long").alias("v_empty"),
        )
    )


# ---------------------------------------------------------------------------
# orders_hill_tail_index — Hill estimator of the price distribution's tail
# index over the top-k order statistics — the heavy-tail diagnostic (α <
# 2: infinite variance; α < 1: infinite mean) that tells a risk/capacity
# model whether averages even converge, and the EVT companion to
# orders_max_drawdown / agg_skewness_kurtosis.
# ---------------------------------------------------------------------------

_HILL_K = 100

_HILL_ORACLE = f"""
WITH ranked AS (
  SELECT o_totalprice AS x,
         ROW_NUMBER() OVER (ORDER BY o_totalprice DESC,
                            o_orderkey ASC) AS rn
  FROM orders
), thr AS (
  SELECT x AS x_k1 FROM ranked WHERE rn = {_HILL_K + 1}
), terms AS (
  SELECT CAST(FLOOR(ln(r.x / t.x_k1) * 1e9) AS BIGINT) AS t_nano
  FROM ranked r CROSS JOIN thr t
  WHERE r.rn <= {_HILL_K}
)
SELECT CAST({_HILL_K} AS BIGINT) AS k,
       (SELECT FLOOR(x_k1 * 100) / 100 FROM thr) AS threshold,
       FLOOR(CAST(SUM(t_nano) AS DOUBLE) / 1e9 / {_HILL_K} * 1e6) / 1e6
         AS hill_h,
       FLOOR(1 / (CAST(SUM(t_nano) AS DOUBLE) / 1e9 / {_HILL_K}) * 1e6)
         / 1e6 AS tail_alpha
FROM terms
"""


@register("orders_hill_tail_index", oracle=_HILL_ORACLE)
def orders_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator over the top-100 order totals:
    H = (1/k)·Σ ln(x₍ᵢ₎/x₍ₖ₊₁₎) for the k largest observations above
    the (k+1)-th order statistic, α = 1/H — the canonical
    peaks-over-threshold tail-index estimate. α ≈ 3-5 says Pareto-ish
    but well-behaved; α drifting under 2 says variance-based dashboards
    (z-scores, control charts) are lying.

    Cross-engine exactness: the top-(k+1) cut is totally ordered
    (price DESC, orderkey ASC); each log-ratio term floor-quantizes to
    1e-9 units into an exact integer sum (the libm-agreement precedent
    for ln on identical doubles); only the scale-free H and α leave.

    Scale design: TakeOrderedAndProject finds the k+1 order statistics
    without a global sort (per-partition top-k then merge — Spark's
    native top-k path); the log-ratio stage is k bounded rows. The
    k-sweep variant (Hill plot) adds a bounded spine over the SAME
    top-K frame, not more corpus passes."""
    o = table(spark, sf_dir, "orders")
    topk = (
        o.select("o_totalprice", "o_orderkey")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(_HILL_K + 1)
    )
    w = Window.partitionBy(meta_part("o_orderkey")).orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    ranked = topk.select(
        F.col("o_totalprice").alias("x"), F.row_number().over(w).alias("rn")
    )
    thr = ranked.where(F.col("rn") == _HILL_K + 1).select(
        F.col("x").alias("x_k1")
    )
    terms = (
        ranked.where(F.col("rn") <= _HILL_K)
        .crossJoin(F.broadcast(thr))
        .select(
            F.floor(F.log(F.col("x") / F.col("x_k1")) * 1e9)
            .cast("long")
            .alias("t_nano")
        )
    )
    h = F.col("s").cast("double") / 1e9 / _HILL_K
    return (
        terms.agg(F.sum("t_nano").alias("s"))
        .crossJoin(F.broadcast(thr))
        .select(
            F.lit(_HILL_K).cast("long").alias("k"),
            fquant(F.col("x_k1"), 2).alias("threshold"),
            fquant(h).alias("hill_h"),
            fquant(1 / h).alias("tail_alpha"),
        )
    )


# ---------------------------------------------------------------------------
# sample_pps_systematic — Systematic probability-proportional-to-size
# sampling (the survey-statistics workhorse: one pass, fixed take, strict
# size-proportional inclusion) — deterministic midpoint anchor instead of
# a random start, so the draw is reproducible by construction.
# ---------------------------------------------------------------------------

_PPS_TAKE = 20  # selections per segment


_PPS_ORACLE = f"""
WITH spend AS (
  SELECT c_mktsegment AS seg, c.c_custkey,
         CAST(SUM(CAST(o_totalprice * 100 AS DECIMAL(27,0))) AS BIGINT)
           AS w_cents
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), cum AS (
  SELECT seg, c_custkey, w_cents,
         SUM(w_cents) OVER (PARTITION BY seg ORDER BY c_custkey
                            ROWS UNBOUNDED PRECEDING) AS c1,
         SUM(w_cents) OVER (PARTITION BY seg) AS t
  FROM spend
), hits AS (
  -- selection points p_m = (2m+1)T/(2n); #points <= c is
  -- floor((2nc + T)/(2T)) — pure integer arithmetic end to end
  SELECT seg, c_custkey, w_cents,
         CAST((2 * {_PPS_TAKE} * c1 + t) // (2 * t)
              - (2 * {_PPS_TAKE} * (c1 - w_cents) + t) // (2 * t)
              AS BIGINT) AS n_hits
  FROM cum
)
SELECT seg, c_custkey, CAST(w_cents AS DOUBLE) / 100 AS spend,
       n_hits
FROM hits WHERE n_hits > 0
"""


@register("sample_pps_systematic", oracle=_PPS_ORACLE)
def sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS draw of 20 customers per market segment, sized by
    lifetime spend: lay every segment's customers on a line of
    cumulative spend-cents, drop 20 equally-spaced selection points
    anchored at the strata midpoints ((2m+1)·T/2n — the deterministic
    replacement for the classic random start), and keep each customer
    once per point falling inside their interval (whales can be hit
    more than once — that IS PPS; n_hits is the multiplicity). Exactly
    n points per segment land by construction (a pinned test
    invariant), and inclusion probability is proportional to spend.

    Cross-engine exactness: spend accumulates in integer CENTS
    (decimal-exact), and the hit count is the closed form
    ⌊(2n·c+T)/2T⌋ differenced across each interval — integer division
    end to end, nothing floats but the display column. Headroom note:
    2n·T must fit int64 — at 100·Σcents that holds to ~9×10¹⁶ total
    cents (≈$10¹⁴ corpus); past that the same formula runs in
    decimal(38).

    Scale design: one keyed rollup to customer grain, a per-segment
    cumulative window (range-partition by the orderBy key with
    boundary carry is the corpus-scale swap — the two-pass doctrine),
    and a filter; the sample never materializes more than the take."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    spend = (
        c.join(o, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("seg"), c["c_custkey"]
        )
        .agg(
            F.sum(
                (F.col("o_totalprice") * 100).cast("decimal(27,0)")
            )
            .cast("long")
            .alias("w_cents")
        )
    )
    w_seg = Window.partitionBy("seg")
    w_cum = w_seg.orderBy("c_custkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = spend.select(
        "seg",
        "c_custkey",
        "w_cents",
        F.sum("w_cents").over(w_cum).alias("c1"),
        F.sum("w_cents").over(w_seg).alias("t"),
    )

    def pts(c_col):
        # integer `div`, not FLOOR(float /): past 2^53 the double path
        # would round before flooring — the oracle's // is exact
        return F.expr(
            f"(2 * {_PPS_TAKE} * ({c_col}) + t) div (2 * t)"
        ).cast("long")

    hits = cum.select(
        "seg",
        "c_custkey",
        "w_cents",
        (pts("c1") - pts("c1 - w_cents")).alias("n_hits"),
    )
    return hits.where(F.col("n_hits") > 0).select(
        "seg",
        "c_custkey",
        (F.col("w_cents").cast("double") / 100).alias("spend"),
        "n_hits",
    )


# ---------------------------------------------------------------------------
# events_ab_jackknife_ratio — Delete-one-bucket jackknife variance for the
# SAME ratio-of-sums estimand as events_ab_delta_method (identical md5
# '|delta' arm split, identical x/y definitions) — the resampling
# counterpart to the delta method's Taylor expansion, and the variance
# estimator large experimentation platforms actually run (bucket jackknife
# needs no derivatives and is robust to heavy-tailed per-user ratios).
# Running BOTH on one experiment is the standard methods cross-check:
# se_delta ≈ se_jackknife says the linearization is trustworthy.
# ---------------------------------------------------------------------------

_JK_BUCKETS = 16


_JACKKNIFE_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(user_id::VARCHAR || '|delta'), 1, 8))
              AS BIGINT) % 2 AS arm,
         CAST(('0x' || substr(md5(user_id::VARCHAR || '|jkbucket'), 1, 8))
              AS BIGINT) % {_JK_BUCKETS} AS bucket,
         CAST(FLOOR({oracle_sum(
             "CASE WHEN event_type = 'purchase' THEN value ELSE 0 END"
         )} * 1e6) AS HUGEINT) AS x_micro,
         CAST(COUNT(CASE WHEN event_type IN ('click', 'view') THEN 1 END)
              AS HUGEINT) AS y
  FROM events GROUP BY user_id
), cell AS (
  SELECT arm, bucket,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         SUM(x_micro) AS sx, SUM(y) AS sy
  FROM u GROUP BY arm, bucket
), loo AS (
  SELECT arm, bucket, n_users,
         SUM(n_users) OVER (PARTITION BY arm) AS n_arm,
         COUNT(*) OVER (PARTITION BY arm) AS b_arm,
         CAST(SUM(sx) OVER (PARTITION BY arm) AS DOUBLE) AS sx_tot,
         CAST(SUM(sy) OVER (PARTITION BY arm) AS DOUBLE) AS sy_tot,
         CAST(FLOOR(
           (CAST(SUM(sx) OVER (PARTITION BY arm) - sx AS DOUBLE) / 1e6)
           / CAST(SUM(sy) OVER (PARTITION BY arm) - sy AS DOUBLE) * 1e9
         ) AS BIGINT) AS rq
  FROM cell
), loo2 AS (
  SELECT arm, n_arm, b_arm, sx_tot, sy_tot, rq,
         SUM(rq) OVER (PARTITION BY arm) AS sum_rq
  FROM loo
), var_ AS (
  SELECT arm, MAX(n_arm) AS n_arm, MAX(b_arm) AS b,
         MAX(sx_tot) / 1e6 / MAX(sy_tot) AS ratio,
         CAST(MAX(b_arm) - 1 AS DOUBLE) / MAX(b_arm)
           * CAST(SUM(CAST(FLOOR(
               (CAST(rq AS DOUBLE) / 1e9
                - CAST(sum_rq AS DOUBLE) / b_arm / 1e9)
               * (CAST(rq AS DOUBLE) / 1e9
                  - CAST(sum_rq AS DOUBLE) / b_arm / 1e9) * 1e12
             ) AS HUGEINT)) AS DOUBLE) / 1e12 AS var_jk
  FROM loo2 GROUP BY arm
)
SELECT
  MAX(CASE WHEN arm = 0 THEN CAST(n_arm AS BIGINT) END) AS n_a,
  MAX(CASE WHEN arm = 1 THEN CAST(n_arm AS BIGINT) END) AS n_b,
  MAX(CASE WHEN arm = 0 THEN CAST(b AS BIGINT) END) AS buckets_a,
  MAX(CASE WHEN arm = 1 THEN CAST(b AS BIGINT) END) AS buckets_b,
  FLOOR(MAX(CASE WHEN arm = 0 THEN ratio END) * 1e6) / 1e6 AS ratio_a,
  FLOOR(MAX(CASE WHEN arm = 1 THEN ratio END) * 1e6) / 1e6 AS ratio_b,
  FLOOR((MAX(CASE WHEN arm = 1 THEN ratio END)
         - MAX(CASE WHEN arm = 0 THEN ratio END)) * 1e6) / 1e6 AS delta,
  FLOOR(sqrt(MAX(CASE WHEN arm = 0 THEN var_jk END)
             + MAX(CASE WHEN arm = 1 THEN var_jk END)) * 1e6) / 1e6
    AS se_jackknife,
  FLOOR((MAX(CASE WHEN arm = 1 THEN ratio END)
         - MAX(CASE WHEN arm = 0 THEN ratio END))
        / sqrt(MAX(CASE WHEN arm = 0 THEN var_jk END)
               + MAX(CASE WHEN arm = 1 THEN var_jk END)) * 1e6) / 1e6
    AS z,
  abs(FLOOR((MAX(CASE WHEN arm = 1 THEN ratio END)
             - MAX(CASE WHEN arm = 0 THEN ratio END))
            / sqrt(MAX(CASE WHEN arm = 0 THEN var_jk END)
                   + MAX(CASE WHEN arm = 1 THEN var_jk END)) * 1e6) / 1e6)
    > 1.96 AS significant
FROM var_
"""


@register("events_ab_jackknife_ratio", oracle=_JACKKNIFE_ORACLE)
def events_ab_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife CI for the ratio-of-sums A/B readout
    (revenue per engagement event): users hash into {_JK_BUCKETS} md5
    buckets per arm; each leave-one-bucket-out ratio
    r_b = (Sx − sx_b)/(Sy − sy_b) is pure algebra on cell sums, so the
    B pseudo-replicates cost B metadata rows, never B corpus passes
    (the target-encoding LOO-fold identity, applied to variance);
    var_jk = (B−1)/B · Σ (r_b − r̄)². Same estimand, same '|delta' arm
    hash, same x/y as events_ab_delta_method — running both is the
    standard linearization-vs-resampling cross-check.

    Cross-engine exactness: per-user revenue floor-quantizes to integer
    micro-units at USER grain, so every bucket/arm sum is an exact wide
    integer (order-independent); each r_b floor-quantizes to 1e-9 units
    and each squared deviation to 1e-12 units into exact integer sums —
    no double SUM anywhere. Only scale-free quantized outputs leave
    (the chow decimal→double doctrine).

    Scale design: one corpus pass to user grain (user-keyed shuffle,
    map-side combinable), one (arm, bucket)-keyed rollup to 2·B cells,
    then arm-partitioned windows over 2·B metadata rows. More buckets
    sharpen the variance estimate at zero extra corpus cost.
    Assumption pinned in pytest: every arm has ≥2 occupied buckets
    (else the LOO denominator vanishes) — true at both grading scales.
    """
    ev = table(spark, sf_dir, "events")

    def bucket_hash(seed: str, mod: int):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"), F.lit(seed)
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % mod
        )

    u = ev.groupBy("user_id").agg(
        F.floor(
            dsum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value")
                ).otherwise(0.0)
            )
            * 1e6
        )
        .cast("decimal(38,0)")
        .alias("x_micro"),
        F.count_if(F.col("event_type").isin("click", "view"))
        .cast("decimal(38,0)")
        .alias("y"),
    ).select(
        bucket_hash("|delta", 2).alias("arm"),
        bucket_hash("|jkbucket", _JK_BUCKETS).alias("bucket"),
        "x_micro",
        "y",
    )
    cell = u.groupBy("arm", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x_micro").alias("sx"),
        F.sum("y").alias("sy"),
    )
    w_arm = Window.partitionBy("arm")
    loo = cell.select(
        "arm",
        "bucket",
        "n_users",
        F.sum("n_users").over(w_arm).alias("n_arm"),
        F.count(F.lit(1)).over(w_arm).alias("b_arm"),
        F.sum("sx").over(w_arm).cast("double").alias("sx_tot"),
        F.sum("sy").over(w_arm).cast("double").alias("sy_tot"),
        F.floor(
            (
                (F.sum("sx").over(w_arm) - F.col("sx")).cast("double")
                / 1e6
            )
            / (F.sum("sy").over(w_arm) - F.col("sy")).cast("double")
            * 1e9
        )
        .cast("long")
        .alias("rq"),
    )
    # second window over the SAME arm partition instead of a cell/arm
    # self-join: the corpus is scanned exactly once (two scans showed up
    # in the first plan draft — caught by the plan pin)
    loo2 = loo.select(
        "arm",
        "n_arm",
        "b_arm",
        "sx_tot",
        "sy_tot",
        "rq",
        F.sum("rq").over(w_arm).alias("sum_rq"),
    )
    rbar = F.col("sum_rq").cast("double") / F.col("b_arm") / 1e9
    dev = F.col("rq").cast("double") / 1e9 - rbar
    var_ = loo2.groupBy("arm").agg(
        F.max("n_arm").alias("n_arm"),
        F.max("b_arm").alias("b"),
        (F.max("sx_tot") / 1e6 / F.max("sy_tot")).alias("ratio"),
        (
            (F.max("b_arm") - 1).cast("double")
            / F.max("b_arm")
            * F.sum(
                F.floor(dev * dev * 1e12).cast("decimal(38,0)")
            ).cast("double")
            / 1e12
        ).alias("var_jk"),
    )

    def pick(arm_val, col):
        return F.max(F.when(F.col("arm") == arm_val, F.col(col)))

    ratio_a, ratio_b = pick(0, "ratio"), pick(1, "ratio")
    se = F.sqrt(pick(0, "var_jk") + pick(1, "var_jk"))
    z = fquant((ratio_b - ratio_a) / se)
    return var_.agg(
        pick(0, "n_arm").cast("long").alias("n_a"),
        pick(1, "n_arm").cast("long").alias("n_b"),
        pick(0, "b").cast("long").alias("buckets_a"),
        pick(1, "b").cast("long").alias("buckets_b"),
        fquant(ratio_a).alias("ratio_a"),
        fquant(ratio_b).alias("ratio_b"),
        fquant(ratio_b - ratio_a).alias("delta"),
        fquant(se).alias("se_jackknife"),
        z.alias("z"),
        (F.abs(z) > 1.96).alias("significant"),
    )


# ---------------------------------------------------------------------------
# events_capture_recapture — Chapman capture-recapture estimate of the
# TRUE activity universe from two overlapping incomplete captures — the
# population-size estimator (Lincoln-Petersen, Chapman bias-corrected)
# that coverage/QA pipelines use to answer "how many distinct units exist,
# given two partial views?" (two crawls of one corpus, two days of one
# logset). Unit = active (user, day); capture 1 = clicked that day,
# capture 2 = viewed that day.
# ---------------------------------------------------------------------------

_CAPTURE_ORACLE = """
WITH ud AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ck,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS vw
  FROM events GROUP BY 1, 2
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS pop_observed,
         CAST(SUM(ck) AS BIGINT) AS n1,
         CAST(SUM(vw) AS BIGINT) AS n2,
         CAST(SUM(ck * vw) AS BIGINT) AS m_both
  FROM ud
)
SELECT pop_observed, n1, n2, m_both,
       FLOOR((CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m_both + 1) - 1)
             * 1e6) / 1e6 AS n_hat,
       FLOOR(sqrt(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) * (n1 - m_both)
                  * (n2 - m_both)
                  / ((CAST(m_both + 1 AS DOUBLE))
                     * (m_both + 1) * (m_both + 2))) * 1e6) / 1e6 AS se,
       FLOOR(CAST(pop_observed AS DOUBLE)
             / (CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m_both + 1) - 1)
             * 1e6) / 1e6 AS coverage
FROM m
"""


@register("events_capture_recapture", oracle=_CAPTURE_ORACLE)
def events_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the active-(user, day)
    universe from two incomplete captures (clicked vs viewed that day):
    N̂ = (n1+1)(n2+1)/(m+1) − 1 with the closed-form Seber variance —
    the bias-corrected Lincoln-Petersen estimator. ``coverage`` =
    observed/N̂ is the readout a curation pipeline acts on ("our two
    views jointly see X% of the estimated universe"); independence of
    the captures is the method's standing assumption, stated here, not
    hidden.

    Cross-engine exactness: n1, n2, m, pop are exact integers from one
    keyed rollup; N̂/SE/coverage are single identical double
    expressions over those integers, floor-quantized.

    Scale design: one corpus pass to (user, day) grain — a keyed
    map-side-combinable aggregation — then a 1-row fold; nothing
    downstream touches corpus grain. More captures (k-sample
    Schnabel) add flag columns to the SAME rollup, not passes."""
    ev = table(spark, sf_dir, "events")
    ud = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("ck"),
        F.max(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("vw"),
    )
    m = ud.agg(
        F.count(F.lit(1)).cast("long").alias("pop_observed"),
        F.sum("ck").cast("long").alias("n1"),
        F.sum("vw").cast("long").alias("n2"),
        F.sum(F.col("ck") * F.col("vw")).cast("long").alias("m_both"),
    )
    n1, n2, mb = F.col("n1"), F.col("n2"), F.col("m_both")
    n_hat = (n1 + 1).cast("double") * (n2 + 1) / (mb + 1) - 1
    var = (
        (n1 + 1).cast("double")
        * (n2 + 1)
        * (n1 - mb)
        * (n2 - mb)
        / ((mb + 1).cast("double") * (mb + 1) * (mb + 2))
    )
    return m.select(
        "pop_observed",
        "n1",
        "n2",
        "m_both",
        fquant(n_hat).alias("n_hat"),
        fquant(F.sqrt(var)).alias("se"),
        fquant(F.col("pop_observed").cast("double") / n_hat).alias(
            "coverage"
        ),
    )


# ---------------------------------------------------------------------------
# ts_dickey_fuller_unit_root — Dickey-Fuller unit-root test on the monthly
# revenue series: Δy_t = α + ρ·y_{t−1} + ε, H0: ρ = 0 (random walk). The
# STATIONARITY GATE the rest of the ts family quietly assumes — ACF/PACF,
# Ljung-Box, Granger and the trend tests are all only interpretable on
# (difference-)stationary series, and this key is the check that says
# whether to difference first. Same closed-form sufficient-statistic OLS
# machinery as ts_granger_f_test (one regressor + intercept instead of
# two), same scale-free-outputs doctrine.
# ---------------------------------------------------------------------------

_DF_CRIT = -2.86  # Dickey-Fuller tau_mu (constant, no trend), 5%, n->inf


_DICKEY_FULLER_ORACLE = f"""
WITH monthly AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS m,
         {oracle_sum('o_totalprice')} AS y
  FROM orders GROUP BY 1
), rows_ AS (
  SELECT t.y - l.y AS dy, l.y AS yl
  FROM monthly t JOIN monthly l ON l.m = t.m - 1
), mo AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {oracle_sum('dy')} AS sdy, {oracle_sum('yl')} AS syl,
         {oracle_sum('dy * dy')} AS sdd, {oracle_sum('yl * yl')} AS sll,
         {oracle_sum('yl * dy')} AS sld
  FROM rows_
), c AS (
  SELECT n,
         sll - syl * syl / n AS sxx,
         sld - syl * sdy / n AS sxy,
         sdd - sdy * sdy / n AS syy
  FROM mo
), fit AS (
  SELECT n, sxy / sxx AS rho,
         (syy - sxy * sxy / sxx) / (n - 2) / sxx AS var_rho
  FROM c
)
SELECT CAST(n AS BIGINT) AS n_diffs,
       FLOOR(rho * 1e9) / 1e9 AS rho_hat,
       FLOOR(rho / sqrt(var_rho) * 1e6) / 1e6 AS df_stat,
       FLOOR(rho / sqrt(var_rho) * 1e6) / 1e6 < {_DF_CRIT}
         AS stationary
FROM fit
"""


@register("ts_dickey_fuller_unit_root", oracle=_DICKEY_FULLER_ORACLE)
def ts_dickey_fuller_unit_root(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dickey-Fuller τ_μ test (constant, no trend) on monthly revenue:
    regress Δy_t on y_{t−1} with intercept in closed form from centered
    sufficient statistics (ρ̂ = Sxy/Sxx, se² = SSR/(n−2)/Sxx), compare
    τ = ρ̂/se against the pinned −2.86 asymptotic 5% critical. τ below
    the critical rejects the unit root → the level series is
    stationary and the ACF/trend family applies undifferenced; τ above
    says difference first. Lag augmentation (ADF) adds moment columns
    to the SAME pass — never passes (the granger doctrine).

    Cross-engine exactness: the chow/granger doctrine — decimal-exact
    moment sums of identical doubles, only SCALE-FREE quantized outputs
    (ρ̂, τ) leave; the month self-join key is exact integer month
    index.

    Scale design: one corpus rollup to the calendar-bounded monthly
    series, one keyed self-join on (m−1) over that bounded frame, one
    1-row moment fold."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m")
    ).agg(dsum("o_totalprice").alias("y"))
    t = monthly.select("m", "y")
    lag = monthly.select((F.col("m") + 1).alias("m"), F.col("y").alias("yl"))
    rows = t.join(lag, "m").select(
        (F.col("y") - F.col("yl")).alias("dy"), "yl"
    )
    dy, yl = F.col("dy"), F.col("yl")
    # dsum_wide, not dsum: yl is a MONTHLY total (corpus-growing —
    # yl·yl ~2e17 at sf0.1, far over the split-long per-row cap) and
    # this stage folds calendar-bounded month rows (r15 sweep catch).
    mo = rows.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum_wide(dy).alias("sdy"),
        dsum_wide(yl).alias("syl"),
        dsum_wide(dy * dy).alias("sdd"),
        dsum_wide(yl * yl).alias("sll"),
        dsum_wide(yl * dy).alias("sld"),
    )
    c = mo.selectExpr(
        "n",
        "sll - syl * syl / n AS sxx",
        "sld - syl * sdy / n AS sxy",
        "sdd - sdy * sdy / n AS syy",
    )
    fit = c.selectExpr(
        "n",
        "sxy / sxx AS rho",
        "(syy - sxy * sxy / sxx) / (n - 2) / sxx AS var_rho",
    )
    tau = fquant(F.col("rho") / F.sqrt(F.col("var_rho")))
    return fit.select(
        F.col("n").cast("long").alias("n_diffs"),
        fquant(F.col("rho"), 9).alias("rho_hat"),
        tau.alias("df_stat"),
        (tau < _DF_CRIT).alias("stationary"),
    )


# ---------------------------------------------------------------------------
# events_calibration_curve — Reliability diagram + Brier score + ECE for a
# probability-shaped score (per-user click share) against a binary outcome
# (heavy purchaser: purchase share > 20%): the CALIBRATION readout every
# LLM-judge / quality-classifier pipeline needs next to its accuracy — a
# model can rank perfectly (high AUC/NDCG) and still lie about its
# confidence; ECE is the number that says so.
# ---------------------------------------------------------------------------

_CAL_BINS = 10

_CALIBRATION_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         FLOOR(CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                    AS DOUBLE) / COUNT(*) * 1e6) / 1e6 AS p,
         -- outcome: purchase share exceeds 20%, as the INTEGER-EXACT
         -- 5*purchases > events (every fixture user purchases at least
         -- once, so bare presence is degenerate — the PSM lesson; and
         -- an integer compare cannot straddle a float boundary)
         CASE WHEN 5 * COUNT(CASE WHEN event_type = 'purchase' THEN 1
                             END) > COUNT(*)
              THEN 1 ELSE 0 END AS y
  FROM events GROUP BY user_id
), binned AS (
  SELECT LEAST({_CAL_BINS - 1},
               CAST(FLOOR(p * {_CAL_BINS}) AS BIGINT)) AS bin,
         p, y,
         CAST(FLOOR((p - y) * (p - y) * 1e12) AS BIGINT) AS sq_pico
  FROM u
), cells AS (
  -- cast-then-sum (the kruskal-wallis advice lesson): per-user terms
  -- widen BEFORE the sum so corpus-scale totals never pass through long
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_users,
         SUM(CAST(FLOOR(p * 1e6) AS HUGEINT)) AS p_micro,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         SUM(CAST(sq_pico AS HUGEINT)) AS sq_pico
  FROM binned GROUP BY bin
), g AS (
  SELECT bin, n_users, p_micro, n_pos,
         SUM(n_users) OVER () AS n_tot,
         CAST(SUM(sq_pico) OVER () AS DOUBLE) / 1e12 AS brier_sum,
         SUM(CAST(FLOOR(ABS(CAST(n_pos AS DOUBLE) / n_users
                            - CAST(p_micro AS DOUBLE) / 1e6 / n_users)
                        * n_users * 1e6) AS HUGEINT)) OVER ()
           AS ece_micro
  FROM cells
)
SELECT bin, n_users,
       FLOOR(CAST(p_micro AS DOUBLE) / 1e6 / n_users * 1e6) / 1e6
         AS confidence,
       FLOOR(CAST(n_pos AS DOUBLE) / n_users * 1e6) / 1e6 AS accuracy,
       FLOOR(ABS(CAST(n_pos AS DOUBLE) / n_users
                 - CAST(p_micro AS DOUBLE) / 1e6 / n_users) * 1e6) / 1e6
         AS abs_gap,
       FLOOR(brier_sum / n_tot * 1e6) / 1e6 AS brier,
       FLOOR(CAST(ece_micro AS DOUBLE) / 1e6 / n_tot * 1e6) / 1e6 AS ece
FROM g
"""


@register("events_calibration_curve", oracle=_CALIBRATION_ORACLE)
def events_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram (10 probability bins) + Brier score + ECE
    for "click share predicts heavy purchaser": per bin the mean
    predicted
    probability (confidence), the observed positive rate (accuracy)
    and their gap; globally Brier = mean (p − y)² and ECE =
    Σ (n_b/n)·|acc_b − conf_b| — the standard calibration readout
    (Guo et al. 2017). Perfectly calibrated ⇒ gaps ≈ 0 at every bin.

    Cross-engine exactness: p floor-quantizes to 1e-6 at USER grain
    (one division), so bin ids, per-user Brier terms (quantized to
    1e-12) and per-bin p-sums (integer micro-units) are all exact
    integer arithmetic; per-bin ECE terms quantize to micro-units
    BEFORE the bounded 10-row fold.

    Scale design: one corpus pass to user grain (keyed,
    map-side-combinable), one 10-cell aggregation, then windows over
    the 10-row bin frame — Brier and ECE ride the SAME rollup, zero
    extra passes."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        fquant(
            F.count_if(F.col("event_type") == "click").cast("double")
            / F.count(F.lit(1))
        ).alias("p"),
        # integer-exact 20%-share outcome (see the oracle comment)
        F.when(
            5 * F.count_if(F.col("event_type") == "purchase")
            > F.count(F.lit(1)),
            1,
        )
        .otherwise(0)
        .alias("y"),
    )
    binned = u.select(
        F.least(
            F.lit(_CAL_BINS - 1),
            F.floor(F.col("p") * _CAL_BINS).cast("long"),
        ).alias("bin"),
        "p",
        "y",
        F.floor(
            (F.col("p") - F.col("y")) * (F.col("p") - F.col("y")) * 1e12
        )
        .cast("long")
        .alias("sq_pico"),
    )
    cells = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        # cast-then-sum (the kruskal-wallis advice lesson): widen the
        # per-user terms BEFORE the sum, never the long total after
        F.sum(
            F.floor(F.col("p") * 1e6).cast("decimal(38,0)")
        ).alias("p_micro"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(F.col("sq_pico").cast("decimal(38,0)")).alias("sq_pico"),
    )
    w_all = Window.partitionBy(meta_part("bin"))
    conf = F.col("p_micro").cast("double") / 1e6 / F.col("n_users")
    acc = F.col("n_pos").cast("double") / F.col("n_users")
    gap_micro = F.floor(
        F.abs(acc - conf) * F.col("n_users") * 1e6
    ).cast("decimal(38,0)")
    g = cells.select(
        "bin",
        "n_users",
        "p_micro",
        "n_pos",
        F.sum("n_users").over(w_all).alias("n_tot"),
        (F.sum("sq_pico").over(w_all).cast("double") / 1e12).alias(
            "brier_sum"
        ),
        F.sum(gap_micro).over(w_all).alias("ece_micro"),
    )
    return g.select(
        "bin",
        "n_users",
        fquant(conf).alias("confidence"),
        fquant(acc).alias("accuracy"),
        fquant(F.abs(acc - conf)).alias("abs_gap"),
        fquant(F.col("brier_sum") / F.col("n_tot")).alias("brier"),
        fquant(
            F.col("ece_micro").cast("double") / 1e6 / F.col("n_tot")
        ).alias("ece"),
    )


# ---------------------------------------------------------------------------
# events_poisson_rate_ratio — Two-sample Poisson rate-ratio test for the
# error rate per observed day, first half-month vs second: the COUNT-data
# member of the inference family (means: welch/permutation; ranks:
# mannwhitney/kruskal; proportions: wilson/odds-ratio; rates: this) — "did
# the error rate change?" asked the way an SRE actually frames it, events
# per unit exposure, not per event.
# ---------------------------------------------------------------------------

_RATE_RATIO_ORACLE = f"""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         day(CAST(ts AS DATE)) <= 15 AS first_half,
         CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT)
           AS errors
  FROM events GROUP BY 1, 2
), g AS (
  SELECT MAX(CASE WHEN first_half THEN t END) AS t1,
         MAX(CASE WHEN first_half THEN k END) AS k1,
         MAX(CASE WHEN NOT first_half THEN t END) AS t2,
         MAX(CASE WHEN NOT first_half THEN k END) AS k2
  FROM (
    SELECT first_half, CAST(COUNT(*) AS BIGINT) AS t,
           CAST(SUM(errors) AS BIGINT) AS k
    FROM d GROUP BY first_half
  )
), r AS (
  SELECT t1, k1, t2, k2,
         (CAST(k1 AS DOUBLE) / t1) / (CAST(k2 AS DOUBLE) / t2) AS rr,
         sqrt(CAST(1 AS DOUBLE) / k1 + CAST(1 AS DOUBLE) / k2) AS se
  FROM g
)
SELECT t1 AS days_first, k1 AS errors_first,
       t2 AS days_second, k2 AS errors_second,
       FLOOR(CAST(k1 AS DOUBLE) / t1 * 1e6) / 1e6 AS rate_first,
       FLOOR(CAST(k2 AS DOUBLE) / t2 * 1e6) / 1e6 AS rate_second,
       FLOOR(rr * 1e6) / 1e6 AS rate_ratio,
       FLOOR(exp(ln(rr) - 1.96 * se) * 1e6) / 1e6 AS ci_lo,
       FLOOR(exp(ln(rr) + 1.96 * se) * 1e6) / 1e6 AS ci_hi,
       FLOOR(exp(ln(rr) - 1.96 * se) * 1e6) / 1e6 > 1.0
         OR FLOOR(exp(ln(rr) + 1.96 * se) * 1e6) / 1e6 < 1.0
         AS significant
FROM r
"""


@register("events_poisson_rate_ratio", oracle=_RATE_RATIO_ORACLE)
def events_poisson_rate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson rate-ratio test, errors per OBSERVED DAY, days 1-15 vs
    the rest of the month: RR = (k1/t1)/(k2/t2) with the standard
    log-scale Wald interval (se² = 1/k1 + 1/k2, CI = exp(ln RR ±
    1.96·se)); "significant" = the QUANTIZED CI excludes 1 (the BH
    quantize-before-compare doctrine — an ulp cannot flip the verdict).
    Exposure t = distinct days with ANY event in the window (observed
    exposure, robust to a truncated fixture), stated, not hidden.

    Cross-engine exactness: k and t are exact integers from one
    day-grain rollup; RR/se are fixed-order double expressions; ln/exp
    run on identical doubles (the Hill libm-agreement precedent) and
    every emitted value floor-quantizes.

    Scale design: one corpus pass to day grain (keyed,
    map-side-combinable), a 2-row fold, 1-row algebra. Per-segment
    rate surfaces add a key to the SAME rollup, never passes."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.col("ts").cast("date").alias("day"),
        (F.dayofmonth(F.col("ts").cast("date")) <= 15).alias(
            "first_half"
        ),
    ).agg(
        F.count_if(F.col("event_type") == "error")
        .cast("long")
        .alias("errors")
    )
    halves = d.groupBy("first_half").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum("errors").cast("long").alias("k"),
    )

    def pick(cond, col):
        return F.max(F.when(cond, F.col(col)))

    g = halves.agg(
        pick(F.col("first_half"), "t").alias("t1"),
        pick(F.col("first_half"), "k").alias("k1"),
        pick(~F.col("first_half"), "t").alias("t2"),
        pick(~F.col("first_half"), "k").alias("k2"),
    )
    rr = (F.col("k1").cast("double") / F.col("t1")) / (
        F.col("k2").cast("double") / F.col("t2")
    )
    se = F.sqrt(
        F.lit(1).cast("double") / F.col("k1")
        + F.lit(1).cast("double") / F.col("k2")
    )
    r = g.select("t1", "k1", "t2", "k2", rr.alias("rr"), se.alias("se"))
    ci_lo = fquant(F.exp(F.log(F.col("rr")) - 1.96 * F.col("se")))
    ci_hi = fquant(F.exp(F.log(F.col("rr")) + 1.96 * F.col("se")))
    return r.select(
        F.col("t1").alias("days_first"),
        F.col("k1").alias("errors_first"),
        F.col("t2").alias("days_second"),
        F.col("k2").alias("errors_second"),
        fquant(F.col("k1").cast("double") / F.col("t1")).alias(
            "rate_first"
        ),
        fquant(F.col("k2").cast("double") / F.col("t2")).alias(
            "rate_second"
        ),
        fquant(F.col("rr")).alias("rate_ratio"),
        ci_lo.alias("ci_lo"),
        ci_hi.alias("ci_hi"),
        ((ci_lo > 1.0) | (ci_hi < 1.0)).alias("significant"),
    )


# ---------------------------------------------------------------------------
# ts_forecast_mase_eval — MASE (Hyndman & Koehler 2006) for the
# seasonal-naive forecaster on daily revenue — the FORECAST REFEREE,
# completing the eval family (search→NDCG, classifier→MCC,
# probability→ECE, targeting→lift, forecast→MASE): scale-free, defined on
# zero-revenue days where MAPE explodes, and with the built-in baseline
# comparison (MASE < 1 = beats the naive walk) that keeps forecast demos
# honest. Pairs with orders_forecast_seasonal_naive the way
# search_ndcg_eval pairs with search_bm25_topk.
# ---------------------------------------------------------------------------

_MASE_SEASON = 7  # weekly seasonality on the daily grain


_MASE_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_diff('day', TIMESTAMP '1990-01-01 00:00:00',
                        o_orderdate) AS BIGINT) AS dd,
         {oracle_sum('o_totalprice')} AS y
  FROM orders GROUP BY 1
), joined AS (
  SELECT t.y AS y, s.y AS y_s, n.y AS y_n
  FROM daily t
  JOIN daily s ON s.dd = t.dd - {_MASE_SEASON}
  JOIN daily n ON n.dd = t.dd - 1
), terms AS (
  SELECT CAST(FLOOR(ABS(y - y_s) * 1e6) AS HUGEINT) AS ae_s,
         CAST(FLOOR(ABS(y - y_n) * 1e6) AS HUGEINT) AS ae_n
  FROM joined
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
         CAST(SUM(ae_s) AS DOUBLE) / 1e6 AS sae_s,
         CAST(SUM(ae_n) AS DOUBLE) / 1e6 AS sae_n
  FROM terms
)
SELECT n_eval,
       FLOOR(sae_s / n_eval * 100) / 100 AS mae_seasonal_naive,
       FLOOR(sae_n / n_eval * 100) / 100 AS mae_naive,
       FLOOR(sae_s / sae_n * 1e6) / 1e6 AS mase,
       FLOOR(sae_s / sae_n * 1e6) / 1e6 < 1.0 AS beats_naive
FROM m
"""


@register("ts_forecast_mase_eval", oracle=_MASE_ORACLE)
def ts_forecast_mase_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE for the weekly seasonal-naive forecaster (ŷ_t = y_{t−7})
    on daily revenue, scaled by the one-step naive walk (ŷ_t =
    y_{t−1}), evaluated on every day where BOTH lags are observed:
    MASE = MAE_seasonal / MAE_naive. Below 1 the seasonal pattern
    genuinely helps; above 1 the fancy forecaster loses to "same as
    yesterday" — the embarrassing comparison every forecast eval must
    print. MAEs are emitted at cent precision (they carry the revenue
    scale; the chow scale-free doctrine applies to the RATIO, which
    quantizes at 1e-6).

    Cross-engine exactness: the daily series is decimal-exact; each
    absolute error floor-quantizes to integer micro-units into exact
    wide sums (cast-then-sum); the verdict compares the QUANTIZED
    ratio against 1.

    Scale design: one corpus rollup to the calendar-bounded day grain,
    two keyed self-joins over that bounded frame (lag 7, lag 1), one
    1-row fold. Horizon sweeps and per-segment MASE add keys to the
    SAME rollup, never passes."""
    o = table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.datediff(F.col("o_orderdate"), F.lit("1990-01-01"))
            .cast("long")
            .alias("dd")
        )
        .agg(dsum("o_totalprice").alias("y"))
        # calendar-bounded frame reused by THREE legs (t, lag-7, lag-1):
        # cached so the corpus is scanned once (clearCache reclaims)
        .cache()
    )
    t = daily.select("dd", "y")
    s = daily.select(
        (F.col("dd") + _MASE_SEASON).alias("dd"), F.col("y").alias("y_s")
    )
    n = daily.select((F.col("dd") + 1).alias("dd"), F.col("y").alias("y_n"))
    joined = t.join(s, "dd").join(n, "dd")
    terms = joined.select(
        F.floor(F.abs(F.col("y") - F.col("y_s")) * 1e6)
        .cast("decimal(38,0)")
        .alias("ae_s"),
        F.floor(F.abs(F.col("y") - F.col("y_n")) * 1e6)
        .cast("decimal(38,0)")
        .alias("ae_n"),
    )
    m = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        (F.sum("ae_s").cast("double") / 1e6).alias("sae_s"),
        (F.sum("ae_n").cast("double") / 1e6).alias("sae_n"),
    )
    mase = fquant(F.col("sae_s") / F.col("sae_n"))
    return m.select(
        "n_eval",
        fquant(F.col("sae_s") / F.col("n_eval"), 2).alias(
            "mae_seasonal_naive"
        ),
        fquant(F.col("sae_n") / F.col("n_eval"), 2).alias("mae_naive"),
        mase.alias("mase"),
        (mase < 1.0).alias("beats_naive"),
    )


# ---------------------------------------------------------------------------
# orders_event_study_did — Event-study difference-in-differences around a
# pinned event month: per relative month τ ∈ −3..+3 the treated-vs-control
# revenue gap, re-centered by the PRE-period mean gap — the leads-and-lags
# plot that upgrades events_ab_diff_in_diff's single post-pre number into
# a trajectory, and whose pre-period effects doubling as the
# parallel-trends diagnostic (pre effects ≈ 0 is the assumption made
# VISIBLE, not assumed).
# ---------------------------------------------------------------------------

_ES_EVENT_MONTH = (1998, 1)  # pinned event: 1998-01
_ES_WINDOW = 3  # τ ∈ -3..+3
# literal scan bounds for τ ∈ [-3, +3] around 1998-01 — kept as
# LITERALS (not derived-month arithmetic) so the predicate pushes to
# the parquet scan in both engines
_ES_LO = "1997-10-01 00:00:00"
_ES_HI = "1998-05-01 00:00:00"


_EVENT_STUDY_ORACLE = f"""
WITH gm AS (
  SELECT (c_mktsegment = 'BUILDING') AS treated,
         (year(o_orderdate) * 12 + month(o_orderdate))
         - ({_ES_EVENT_MONTH[0]} * 12 + {_ES_EVENT_MONTH[1]}) AS tau,
         {oracle_sum('o_totalprice')} AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  -- literal date bounds (not a derived-month BETWEEN): the window
  -- predicate must reach the parquet scan as a pushed filter
  WHERE o_orderdate >= TIMESTAMP '{_ES_LO}'
    AND o_orderdate < TIMESTAMP '{_ES_HI}'
  GROUP BY 1, 2
), wide AS (
  SELECT tau,
         MAX(CASE WHEN treated THEN y END) AS y_treat,
         MAX(CASE WHEN NOT treated THEN y END) AS y_ctrl
  FROM gm GROUP BY tau
), base AS (
  SELECT CAST(SUM(CASE WHEN tau < 0 THEN
                  CAST(FLOOR((y_treat - y_ctrl) * 1e6) AS HUGEINT)
                  END) AS DOUBLE) / 1e6
         / SUM(CASE WHEN tau < 0 THEN 1 END) AS pre_gap
  FROM wide
)
SELECT tau, tau < 0 AS is_pre,
       FLOOR(y_treat * 100) / 100 AS y_treated,
       FLOOR(y_ctrl * 100) / 100 AS y_control,
       FLOOR((y_treat - y_ctrl) * 100) / 100 AS gap,
       FLOOR((y_treat - y_ctrl - pre_gap) * 1e4) / 1e4 AS effect
FROM wide CROSS JOIN base
"""


@register("orders_event_study_did", oracle=_EVENT_STUDY_ORACLE)
def orders_event_study_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study DiD around the pinned 1998-01 event month: for each
    relative month τ in −3..+3, effect(τ) = (treated − control revenue
    gap at τ) − (mean PRE-period gap) — the leads-and-lags trajectory.
    Pre-period effects hovering near 0 IS the parallel-trends check;
    post-period effects are the dynamic treatment path the single
    DiD number (events_ab_diff_in_diff) averages away.

    Cross-engine exactness: one (group, τ) rollup of decimal-exact
    sums; per-τ gaps floor-quantize to micro-units before the bounded
    pre-mean; levels/gaps emit at cent precision, effects at 1e-4
    (revenue-scale values under coarse rounding — the chow doctrine).

    Scale design: orders join customer BY KEY (corpus dimensions,
    never broadcast); the window predicate is a LITERAL timestamp
    range so it reaches the parquet scan as a pushed filter
    (a derived-month BETWEEN would filter post-scan — plan-pinned),
    then a 14-cell fold and 7-row metadata algebra. More leads/lags
    widen the literal window, never add passes."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    ev_m = _ES_EVENT_MONTH[0] * 12 + _ES_EVENT_MONTH[1]
    tau = (
        F.year("o_orderdate") * 12 + F.month("o_orderdate") - ev_m
    )
    gm = (
        o.where(
            (F.col("o_orderdate") >= F.lit(_ES_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_ES_HI).cast("timestamp"))
        )
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .groupBy(
            (F.col("c_mktsegment") == "BUILDING").alias("treated"),
            tau.alias("tau"),
        )
        .agg(dsum("o_totalprice").alias("y"))
    )
    wide = gm.groupBy("tau").agg(
        F.max(F.when(F.col("treated"), F.col("y"))).alias("y_treat"),
        F.max(F.when(~F.col("treated"), F.col("y"))).alias("y_ctrl"),
    )
    # meta_part needs a NON-NEGATIVE long (arithmetic shiftright sends
    # negative taus to -1, silently splitting the metadata window into
    # two partitions — caught by the sf0.001 parity gate); shift by the
    # window radius first
    w_all = Window.partitionBy(meta_part(F.col("tau") + _ES_WINDOW))
    gap_micro = F.floor(
        (F.col("y_treat") - F.col("y_ctrl")) * 1e6
    ).cast("decimal(38,0)")
    pre_gap = (
        F.sum(F.when(F.col("tau") < 0, gap_micro))
        .over(w_all)
        .cast("double")
        / 1e6
        / F.sum(F.when(F.col("tau") < 0, F.lit(1))).over(w_all)
    )
    return wide.select(
        "tau",
        (F.col("tau") < 0).alias("is_pre"),
        fquant(F.col("y_treat"), 2).alias("y_treated"),
        fquant(F.col("y_ctrl"), 2).alias("y_control"),
        fquant(F.col("y_treat") - F.col("y_ctrl"), 2).alias("gap"),
        fquant(
            F.col("y_treat") - F.col("y_ctrl") - pre_gap, 4
        ).alias("effect"),
    )


# ---------------------------------------------------------------------------
# orders_logrank_test — Two-sample log-rank test comparing customer
# survival (the KM/Nelson-Aalen lifetime definition) between the BUILDING
# market segment and the rest: the survival family's TEST — KM estimates
# the curve, Nelson-Aalen the cumulative hazard, and this answers "are the
# two curves actually different?" the way censoring- honest inference
# requires (a t-test on lifetimes would treat censored customers as
# churned).
# ---------------------------------------------------------------------------

_LOGRANK_SEG = "BUILDING"
_LOGRANK_CRIT = 3.841459  # chi^2(1) 95th percentile

_LOGRANK_ORACLE = f"""
WITH life AS (
  SELECT o_custkey,
         datediff('day', MIN(CAST(o_orderdate AS DATE)),
                  MAX(CAST(o_orderdate AS DATE))) AS t,
         MAX(CAST(o_orderdate AS DATE)) AS last_d
  FROM orders GROUP BY o_custkey
), snap AS (SELECT MAX(last_d) AS snap_d FROM life),
lab AS (
  SELECT t,
         (datediff('day', last_d, snap_d) > {_KM_CHURN_GAP}) AS event,
         (c_mktsegment = '{_LOGRANK_SEG}') AS g1
  FROM life JOIN customer ON o_custkey = c_custkey CROSS JOIN snap
), tot AS (
  SELECT CAST(COUNT(*) FILTER (WHERE g1) AS BIGINT) AS n1_0,
         CAST(COUNT(*) FILTER (WHERE NOT g1) AS BIGINT) AS n2_0
  FROM lab
), per_t AS (
  SELECT t,
         CAST(COUNT(*) FILTER (WHERE g1 AND event) AS BIGINT) AS d1,
         CAST(COUNT(*) FILTER (WHERE (NOT g1) AND event) AS BIGINT) AS d2,
         CAST(COUNT(*) FILTER (WHERE g1) AS BIGINT) AS leave1,
         CAST(COUNT(*) FILTER (WHERE NOT g1) AS BIGINT) AS leave2
  FROM lab GROUP BY t
), risk AS (
  SELECT t, d1, d2,
         n1_0 - COALESCE(SUM(leave1) OVER (
           ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS n1,
         n2_0 - COALESCE(SUM(leave2) OVER (
           ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS n2
  FROM per_t CROSS JOIN tot
), ev AS (
  SELECT d1, d2, n1, n2, d1 + d2 AS dt, n1 + n2 AS nt
  FROM risk WHERE d1 + d2 > 0
), terms AS (
  SELECT d1, d2,
         FLOOR((d1 - CAST(dt AS DOUBLE) * n1 / nt) * 1e12) / 1e12 AS oe,
         FLOOR((CASE WHEN nt > 1
                THEN CAST(dt AS DOUBLE) * (CAST(n1 AS DOUBLE) / nt)
                     * (CAST(n2 AS DOUBLE) / nt) * (nt - dt) / (nt - 1)
                ELSE 0.0 END) * 1e12) / 1e12 AS v
  FROM ev
), s AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS d_treat,
         CAST(SUM(d2) AS BIGINT) AS d_ctrl,
         CAST(SUM(CAST(oe AS DECIMAL(38,12))) AS DOUBLE) AS oe_sum,
         CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE) AS v_sum
  FROM terms
)
SELECT (SELECT n1_0 FROM tot) AS n_treat,
       (SELECT n2_0 FROM tot) AS n_ctrl,
       d_treat, d_ctrl,
       FLOOR(oe_sum * 1e6) / 1e6 AS o_minus_e,
       FLOOR(v_sum * 1e6) / 1e6 AS var_sum,
       FLOOR(oe_sum * oe_sum / v_sum * 1e6) / 1e6 AS logrank_chi2,
       FLOOR(oe_sum * oe_sum / v_sum * 1e6) / 1e6 > {_LOGRANK_CRIT}
         AS significant
FROM s
"""


@register("orders_logrank_test", oracle=_LOGRANK_ORACLE)
def orders_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank (Mantel-Cox) test on customer survival:
    BUILDING segment vs the rest, with the KM key's exact time-to-event
    definition (lifetime span; churn = silent > 90 days before the
    corpus snapshot, else censored). At each pooled event time the
    observed segment-1 deaths d1 are compared to the hypergeometric
    expectation dt·n1/nt; χ² = (Σ(d1−E))²/ΣV with
    V = dt·(n1/nt)·(n2/nt)·(nt−dt)/(nt−1). Censored customers leave
    the risk set without contributing deaths — the thing a naive
    lifetime t-test cannot do.

    Cross-engine exactness: every per-time term is a ratio of exact
    integer counts evaluated in identical double op order, floor-
    quantized at 1e-12 BEFORE the order-independent DECIMAL(38,12)
    sums; χ² forms from the two identical sum doubles and the verdict
    compares the QUANTIZED χ² to the pinned critical value (class and
    printed statistic can never disagree — the cohens_d discipline).

    Scale design: one corpus rollup to customer grain (CACHED — it
    feeds both the 1-row snapshot and the labeled join; uncached, the
    fan-out re-scanned orders 4× and customer 2× — caught by the plan
    pin), one customer-keyed dim join (BY KEY — corpus-sized, never
    broadcast), then every window runs over the DIMENSION-sized
    distinct-event-time frame under meta_part — the group TOTALS come
    from a window over that same bounded frame (Σ leaving ≡ n_g,0), so
    no extra corpus pass exists for them. No corpus-grain window, no
    cross join beyond the 1-row snapshot attach."""
    from trireme_spark.operators.hints import cache_once

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    life = cache_once(
        o.groupBy("o_custkey").agg(
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")),
                F.min(F.col("o_orderdate").cast("date")),
            ).alias("t"),
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        )
    )
    snap = life.agg(F.max("last_d").alias("snap_d"))
    lab = (
        life.join(c, life["o_custkey"] == c["c_custkey"])
        .crossJoin(F.broadcast(snap))
        .select(
            "t",
            (F.datediff("snap_d", "last_d") > _KM_CHURN_GAP).alias(
                "event"
            ),
            (F.col("c_mktsegment") == _LOGRANK_SEG).alias("g1"),
        )
    )
    per_t = lab.groupBy("t").agg(
        F.count_if(F.col("g1") & F.col("event")).alias("d1"),
        F.count_if(~F.col("g1") & F.col("event")).alias("d2"),
        F.count_if("g1").alias("leave1"),
        F.count_if(~F.col("g1")).alias("leave2"),
    )
    w_all = Window.partitionBy(meta_part("t"))
    w_prev = (
        Window.partitionBy(meta_part("t"))
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # group totals n_g,0 = Σ_t leaving_g,t — a window over the SAME
    # bounded frame, not a second pass over the corpus-grain labels
    risk = per_t.select(
        "t",
        "d1",
        "d2",
        F.sum("leave1").over(w_all).alias("n1_0"),
        F.sum("leave2").over(w_all).alias("n2_0"),
        (
            F.sum("leave1").over(w_all)
            - F.coalesce(F.sum("leave1").over(w_prev), F.lit(0))
        ).alias("n1"),
        (
            F.sum("leave2").over(w_all)
            - F.coalesce(F.sum("leave2").over(w_prev), F.lit(0))
        ).alias("n2"),
    )
    ev = risk.where(F.col("d1") + F.col("d2") > 0).select(
        "d1",
        "d2",
        "n1",
        "n2",
        "n1_0",
        "n2_0",
        (F.col("d1") + F.col("d2")).alias("dt"),
        (F.col("n1") + F.col("n2")).alias("nt"),
    )
    dt_d = F.col("dt").cast("double")
    oe = fquant(F.col("d1") - dt_d * F.col("n1") / F.col("nt"), 12)
    v = fquant(
        F.when(
            F.col("nt") > 1,
            dt_d
            * (F.col("n1").cast("double") / F.col("nt"))
            * (F.col("n2").cast("double") / F.col("nt"))
            * (F.col("nt") - F.col("dt"))
            / (F.col("nt") - 1),
        ).otherwise(F.lit(0.0)),
        12,
    )
    s = ev.agg(
        F.max("n1_0").alias("n_treat"),
        F.max("n2_0").alias("n_ctrl"),
        F.sum("d1").alias("d_treat"),
        F.sum("d2").alias("d_ctrl"),
        F.sum(oe.cast("decimal(38,12)")).cast("double").alias("oe_sum"),
        F.sum(v.cast("decimal(38,12)")).cast("double").alias("v_sum"),
    )
    chi2 = fquant(
        F.col("oe_sum") * F.col("oe_sum") / F.col("v_sum")
    )
    return s.select(
        "n_treat",
        "n_ctrl",
        "d_treat",
        "d_ctrl",
        fquant(F.col("oe_sum")).alias("o_minus_e"),
        fquant(F.col("v_sum")).alias("var_sum"),
        chi2.alias("logrank_chi2"),
        (chi2 > _LOGRANK_CRIT).alias("significant"),
    )


# ---------------------------------------------------------------------------
# ts_kpss_stationarity — KPSS level-stationarity test on the monthly
# revenue series: the COMPLEMENT of the Dickey-Fuller gate — DF's null is
# a unit root (reject ⇒ stationary), KPSS's null is stationarity (reject ⇒
# unit root), so the pair brackets the decision: DF-reject + KPSS-accept
# is the only configuration that licenses undifferenced ACF/trend
# machinery.
# ---------------------------------------------------------------------------

_KPSS_LAGS = 3  # floor(4*(n/100)^0.25) for the fixture's ~80-month span;
# pinned as a module constant (the friedman complete-block discipline:
# the fixture assumption is asserted by the staging tests, not silently
# assumed) — a corpus with a different calendar span re-derives it.
_KPSS_CRIT = 0.463  # KPSS eta_mu (level), 5% — Kwiatkowski et al. 1992

_KPSS_ORACLE = f"""
WITH monthly AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS m,
         {oracle_sum('o_totalprice')} AS y
  FROM orders GROUP BY 1
), st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {oracle_sum('y')} / COUNT(*) AS ybar
  FROM monthly
), e AS (
  -- scale-free residuals (e/ybar): eta is invariant and every
  -- micro-unit below stays far inside 2^53 at any revenue scale
  SELECT m, (y - ybar) / ybar AS r,
         CAST(FLOOR((y - ybar) / ybar * 1e12) AS DECIMAL(38,0)) AS r_pico
  FROM monthly CROSS JOIN st
), cum AS (
  SELECT m, r,
         CAST(SUM(r_pico) OVER (
           ORDER BY m ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1e12 AS s
  FROM e
), lagged AS (
  SELECT m, r, s,
         LAG(r, 1) OVER (ORDER BY m) AS r1,
         LAG(r, 2) OVER (ORDER BY m) AS r2,
         LAG(r, 3) OVER (ORDER BY m) AS r3
  FROM cum
), sums AS (
  SELECT (SELECT n FROM st) AS n,
         CAST(SUM(CAST(FLOOR(s * s * 1e12) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS s2,
         CAST(SUM(CAST(FLOOR(r * r * 1e12) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS g0,
         CAST(SUM(CAST(FLOOR(r * r1 * 1e12) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS g1,
         CAST(SUM(CAST(FLOOR(r * r2 * 1e12) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS g2,
         CAST(SUM(CAST(FLOOR(r * r3 * 1e12) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS g3
  FROM lagged
), fit AS (
  SELECT n, s2,
         (g0 + 2 * ((1.0 - 1.0 / {_KPSS_LAGS + 1}) * g1
                    + (1.0 - 2.0 / {_KPSS_LAGS + 1}) * g2
                    + (1.0 - 3.0 / {_KPSS_LAGS + 1}) * g3)) / n AS lrv
  FROM sums
)
SELECT n AS n_months,
       FLOOR(s2 / (CAST(n AS DOUBLE) * n) / lrv * 1e6) / 1e6 AS kpss_eta,
       FLOOR(s2 / (CAST(n AS DOUBLE) * n) / lrv * 1e6) / 1e6
         < {_KPSS_CRIT} AS level_stationary
FROM fit
"""


@register("ts_kpss_stationarity", oracle=_KPSS_ORACLE)
def ts_kpss_stationarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity test (Kwiatkowski-Phillips-Schmidt-Shin
    1992) on monthly revenue: η = n⁻²·ΣS_t² / σ̂²_lr where S_t is the
    running sum of demeaned residuals and σ̂²_lr the Bartlett-window
    long-run variance at L = {_KPSS_LAGS} lags (L = ⌊4(n/100)^¼⌋ for
    the fixture's span — asserted, not assumed, by the staging tests).
    η above the pinned 5% critical 0.463 rejects level-stationarity —
    the mirror-image complement of ts_dickey_fuller_unit_root's
    unit-root null.

    Cross-engine exactness: residuals are normalized by the exact
    series mean FIRST (η is scale-invariant), so the running sum rides
    exact pico-unit integers (|r|·1e12 « 2⁵³ at any revenue scale —
    the magnitude trap a raw-units cumsum would hit), and every
    squared/lagged product quantizes at 1e-12 before DECIMAL(38,12)
    order-independent sums. Lag products use the bounded frame's row
    order = calendar order (month density is a pinned fixture
    assumption).

    Scale design: ONE corpus pass to the calendar-bounded monthly
    rollup (CACHED — it feeds both the 1-row mean and the residual
    frame; uncached, the fan-out scanned the corpus twice — caught by
    the plan pin); the cumulative sum, the L lag columns and the final
    folds all run on that ~80-row frame under meta_part — corpus cost
    is the rollup, full stop."""
    from trireme_spark.operators.hints import cache_once

    o = table(spark, sf_dir, "orders")
    monthly = cache_once(
        o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "m"
            )
        ).agg(dsum("o_totalprice").alias("y"))
    )
    # dsum_wide: y is a MONTHLY total (corpus-growing);
    # calendar-bounded fold, wide is free (r15 audit).
    st = monthly.agg(
        F.count(F.lit(1)).alias("n"),
        (dsum_wide("y") / F.count(F.lit(1))).alias("ybar"),
    )
    e = monthly.crossJoin(F.broadcast(st)).select(
        "m",
        "n",
        ((F.col("y") - F.col("ybar")) / F.col("ybar")).alias("r"),
        F.floor(
            (F.col("y") - F.col("ybar")) / F.col("ybar") * 1e12
        )
        .cast("decimal(38,0)")
        .alias("r_pico"),
    )
    w_cum = (
        Window.partitionBy(meta_part("m"))
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_ord = Window.partitionBy(meta_part("m")).orderBy("m")
    cum = e.select(
        "m",
        "n",
        "r",
        (F.sum("r_pico").over(w_cum).cast("double") / 1e12).alias("s"),
    )
    lagged = cum.select(
        "n",
        "r",
        "s",
        *[
            F.lag("r", l).over(w_ord).alias(f"r{l}")
            for l in range(1, _KPSS_LAGS + 1)
        ],
    )

    def _q12sum(expr):
        return F.sum(fquant(expr, 12).cast("decimal(38,12)")).cast(
            "double"
        )

    sums = lagged.agg(
        F.max("n").alias("n"),
        _q12sum(F.col("s") * F.col("s")).alias("s2"),
        _q12sum(F.col("r") * F.col("r")).alias("g0"),
        *[
            _q12sum(F.col("r") * F.col(f"r{l}")).alias(f"g{l}")
            for l in range(1, _KPSS_LAGS + 1)
        ],
    )
    lrv = (
        F.col("g0")
        + 2
        * sum(
            (1.0 - l / (_KPSS_LAGS + 1)) * F.col(f"g{l}")
            for l in range(1, _KPSS_LAGS + 1)
        )
    ) / F.col("n")
    eta = fquant(
        F.col("s2") / (F.col("n").cast("double") * F.col("n")) / lrv
    )
    return sums.select(
        F.col("n").cast("long").alias("n_months"),
        eta.alias("kpss_eta"),
        (eta < _KPSS_CRIT).alias("level_stationary"),
    )


# ---------------------------------------------------------------------------
# orders_gumbel_return_level — Extreme-value analysis by BLOCK MAXIMA:
# monthly maxima of o_totalprice fit to a Gumbel by the method of moments,
# with the T=100-block return level and the probability that a fresh month
# beats the historical record. The complement of orders_hill_tail_index:
# Hill reads the tail exponent from peaks-over-threshold,
# Gumbel/block-maxima reads return levels from the max-domain — the two
# classical EVT legs, now both present.
# ---------------------------------------------------------------------------

_GUMBEL_EULER = 0.5772156649015329  # Euler-Mascheroni, double-exact literal
_GUMBEL_T = 100  # return period, blocks (months)

_GUMBEL_ORACLE = f"""
WITH bm AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS m,
         MAX(o_totalprice) AS bmax
  FROM orders GROUP BY 1
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {oracle_sum('bmax')} AS s1,
         {oracle_sum('bmax * bmax')} AS s2,
         MAX(bmax) AS max_obs
  FROM bm
), fit AS (
  SELECT n, max_obs,
         s1 / n AS mean,
         sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sd
  FROM s
), p AS (
  SELECT n, max_obs,
         sd * sqrt(6.0) / pi() AS beta,
         mean - {_GUMBEL_EULER} * (sd * sqrt(6.0) / pi()) AS mu
  FROM fit
)
SELECT n AS n_blocks,
       FLOOR(mu * 1e6) / 1e6 AS loc,
       FLOOR(beta * 1e6) / 1e6 AS scale,
       FLOOR((mu - beta * ln(-ln(1.0 - 1.0 / {_GUMBEL_T}))) * 1e6) / 1e6
         AS return_level_100,
       FLOOR(max_obs * 1e6) / 1e6 AS max_observed,
       FLOOR((1.0 - exp(-exp(-(max_obs - mu) / beta))) * 1e6) / 1e6
         AS exceed_prob_record
FROM p
"""


@register("orders_gumbel_return_level", oracle=_GUMBEL_ORACLE)
def orders_gumbel_return_level(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gumbel fit on monthly block maxima (method of moments:
    β = s·√6/π, μ = x̄ − γβ with the Euler-Mascheroni constant pinned
    as a double-exact literal), the T=100-month return level
    x_T = μ − β·ln(−ln(1−1/T)), and the per-month record-breaking
    probability 1 − exp(−exp(−(max_obs − μ)/β)) — the "how bad can a
    month get" readout capacity planning actually asks for, where
    Hill's tail index answers "how heavy is the tail".

    Cross-engine exactness: block maxima are exact (same doubles both
    engines); mean and the (n−1)-divisor sd ride DECIMAL(27,6)
    order-independent sums (bmax ~6e5, bmax² ~3.6e11 — comfortably
    inside the lane); π enters as each engine's own double-exact
    pi() / math.pi literal (the same IEEE value) and γ as a pinned
    17-digit literal; all outputs floor-quantize at 1e-6.

    Scale design: ONE corpus pass to the calendar-bounded monthly
    maxima (map-side-combinable MAX), then scalar algebra on a 1-row
    fold — the JB shape with a bounded intermediate frame."""
    import math as _math

    o = table(spark, sf_dir, "orders")
    bm = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m")
    ).agg(F.max("o_totalprice").alias("bmax"))
    s = bm.agg(
        F.count(F.lit(1)).alias("n"),
        dsum("bmax").alias("s1"),
        dsum(F.col("bmax") * F.col("bmax")).alias("s2"),
        F.max("bmax").alias("max_obs"),
    )
    fit = s.select(
        "n",
        "max_obs",
        (F.col("s1") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    beta = F.col("sd") * F.sqrt(F.lit(6.0)) / F.lit(_math.pi)
    p = fit.select(
        "n",
        "max_obs",
        beta.alias("beta"),
        (F.col("mean") - _GUMBEL_EULER * beta).alias("mu"),
    )
    rl = F.col("mu") - F.col("beta") * F.log(
        -F.log(1.0 - 1.0 / F.lit(float(_GUMBEL_T)))
    )
    return p.select(
        F.col("n").cast("long").alias("n_blocks"),
        fquant(F.col("mu")).alias("loc"),
        fquant(F.col("beta")).alias("scale"),
        fquant(rl).alias("return_level_100"),
        fquant(F.col("max_obs")).alias("max_observed"),
        fquant(
            1.0
            - F.exp(
                -F.exp(-(F.col("max_obs") - F.col("mu")) / F.col("beta"))
            )
        ).alias("exceed_prob_record"),
    )


# ---------------------------------------------------------------------------
# events_uplift_qini — Qini/uplift gains curve over 10 FIXED-WIDTH score
# bands: the TARGETING referee for heterogeneous treatment effects — the
# lift table ranks by outcome propensity, the Qini curve ranks by
# *incremental* response (treated minus rescaled control), which is the
# number a "who should we treat" decision actually needs.
# ---------------------------------------------------------------------------

_QINI_SALT = "|qini"
_QINI_BANDS = 10

_QINI_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(user_id::VARCHAR || '{_QINI_SALT}'),
                              1, 8)) AS BIGINT) % 2 AS arm,
         FLOOR(CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                    AS DOUBLE) / COUNT(*) * 1e6) / 1e6 AS score,
         CASE WHEN 5 * COUNT(CASE WHEN event_type = 'purchase' THEN 1
                             END) > COUNT(*)
              THEN 1 ELSE 0 END AS y
  FROM events GROUP BY user_id
), banded AS (
  SELECT LEAST({_QINI_BANDS - 1},
               CAST(FLOOR(score * {_QINI_BANDS}) AS BIGINT)) AS band,
         arm, y
  FROM u
), cells AS (
  SELECT band,
         CAST(COUNT(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_t,
         CAST(COUNT(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_c,
         CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS r_t,
         CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS r_c
  FROM banded GROUP BY band
), cum AS (
  SELECT band, n_t, n_c, r_t, r_c,
         SUM(n_t) OVER w AS cn_t, SUM(n_c) OVER w AS cn_c,
         SUM(r_t) OVER w AS cr_t, SUM(r_c) OVER w AS cr_c
  FROM cells
  WINDOW w AS (ORDER BY band DESC ROWS UNBOUNDED PRECEDING)
)
SELECT band, n_t, n_c,
       CAST(cn_t AS BIGINT) AS cum_n_treat,
       CAST(cn_c AS BIGINT) AS cum_n_ctrl,
       CAST(cr_t AS BIGINT) AS cum_r_treat,
       CAST(cr_c AS BIGINT) AS cum_r_ctrl,
       FLOOR((cr_t - CAST(cr_c AS DOUBLE) * cn_t / cn_c) * 1e6) / 1e6
         AS qini_value,
       FLOOR((CAST(cr_t AS DOUBLE) / cn_t
              - CAST(cr_c AS DOUBLE) / cn_c) * 1e6) / 1e6
         AS uplift_at_depth
FROM cum
"""


@register("events_uplift_qini", oracle=_QINI_ORACLE)
def events_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini gains curve: users hash-split into treated/control arms
    (md5 '|qini' — the delta-method randomization idiom), scored by
    click share (the calibration key's probability-shaped score),
    outcome = the integer-exact heavy-purchaser flag. Bands are FIXED
    WIDTH on the score (the WoE/lift no-percentile discipline); the
    curve cumulates from the highest band down and reports
    q(depth) = R_t − R_c·N_t/N_c (incremental responders if everyone
    to this depth were treated) plus the uplift-rate gap. A null
    experiment (hash split, no real treatment) reads ≈ 0 at every
    depth — the curve's null behavior IS the referee's calibration.

    Cross-engine exactness: arm and band ids are exact integer hash /
    floor arithmetic; all cumulative quantities are BIGINT sums over
    the bounded 10-row band frame; the two ratio readouts form from
    identical doubles and floor-quantize at 1e-6.

    Scale design: one corpus pass to user grain (map-side-combinable),
    one 10-cell aggregation, cumulative windows over the 10-row frame
    under meta_part. The qini shape is the lift table's plan with an
    arm dimension."""
    ev = table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit(_QINI_SALT),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    u = ev.groupBy("user_id").agg(
        F.max(arm).alias("arm"),
        fquant(
            F.count_if(F.col("event_type") == "click").cast("double")
            / F.count(F.lit(1))
        ).alias("score"),
        F.when(
            5 * F.count_if(F.col("event_type") == "purchase")
            > F.count(F.lit(1)),
            1,
        )
        .otherwise(0)
        .alias("y"),
    )
    banded = u.select(
        F.least(
            F.lit(_QINI_BANDS - 1),
            F.floor(F.col("score") * _QINI_BANDS).cast("long"),
        ).alias("band"),
        "arm",
        "y",
    )
    cells = banded.groupBy("band").agg(
        F.count_if(F.col("arm") == 1).alias("n_t"),
        F.count_if(F.col("arm") == 0).alias("n_c"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0)).alias(
            "r_t"
        ),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0)).alias(
            "r_c"
        ),
    )
    w = (
        Window.partitionBy(meta_part("band"))
        .orderBy(F.col("band").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.select(
        "band",
        "n_t",
        "n_c",
        F.sum("n_t").over(w).alias("cn_t"),
        F.sum("n_c").over(w).alias("cn_c"),
        F.sum("r_t").over(w).alias("cr_t"),
        F.sum("r_c").over(w).alias("cr_c"),
    )
    return cum.select(
        "band",
        "n_t",
        "n_c",
        F.col("cn_t").cast("long").alias("cum_n_treat"),
        F.col("cn_c").cast("long").alias("cum_n_ctrl"),
        F.col("cr_t").cast("long").alias("cum_r_treat"),
        F.col("cr_c").cast("long").alias("cum_r_ctrl"),
        fquant(
            F.col("cr_t")
            - F.col("cr_c").cast("double")
            * F.col("cn_t")
            / F.col("cn_c")
        ).alias("qini_value"),
        fquant(
            F.col("cr_t").cast("double") / F.col("cn_t")
            - F.col("cr_c").cast("double") / F.col("cn_c")
        ).alias("uplift_at_depth"),
    )


# ---------------------------------------------------------------------------
# ts_conformal_interval_eval — Split-conformal prediction interval for the
# seasonal-naive daily forecaster + its empirical test-set coverage: the
# UNCERTAINTY referee the eval family was missing — MASE grades the point
# forecast, this grades whether the promised 80% interval actually covers
# 80%.
# ---------------------------------------------------------------------------

_CONF_LAG = 7  # seasonal-naive horizon (days)
_CONF_ALPHA = 0.2  # nominal miss rate -> 80% interval

_CONFORMAL_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, {oracle_sum('value')} AS y
  FROM events GROUP BY 1
), lagged AS (
  SELECT day, y, LAG(y, {_CONF_LAG}) OVER (ORDER BY day) AS yhat,
         ROW_NUMBER() OVER (ORDER BY day) AS rn,
         COUNT(*) OVER () AS n_days
  FROM daily
), scored AS (
  SELECT day, ABS(y - yhat) AS r,
         ROW_NUMBER() OVER (ORDER BY day) AS i,
         COUNT(*) OVER () AS n
  FROM lagged WHERE yhat IS NOT NULL
), split AS (
  SELECT day, r, i, n,
         (n * 2) // 3 AS n_cal
  FROM scored
), q AS (
  SELECT n_cal,
         -- CAST .. AS DOUBLE: a bare 0.8 literal is DECIMAL in DuckDB
         -- (the NDCG lesson) and decimal CEIL can disagree with
         -- Spark's double CEIL exactly at integer boundaries
         CAST(CEIL((n_cal + 1) * CAST({1 - _CONF_ALPHA} AS DOUBLE))
              AS BIGINT) AS k
  FROM split LIMIT 1
), qhat AS (
  SELECT n_cal, k,
         (SELECT r FROM (
            SELECT r, ROW_NUMBER() OVER (ORDER BY r, day) AS rr
            FROM split WHERE i <= n_cal
          ) WHERE rr = LEAST(k, n_cal)) AS q_hat
  FROM q
), ev AS (
  SELECT qhat.n_cal AS n_cal, qhat.k AS k, qhat.q_hat AS q_hat,
         CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(COUNT(*) FILTER (WHERE split.r <= qhat.q_hat) AS BIGINT)
           AS n_covered
  FROM split CROSS JOIN qhat
  WHERE split.i > qhat.n_cal
  GROUP BY 1, 2, 3
)
SELECT CAST(n_cal AS BIGINT) AS n_cal, k AS k_rank, n_test, n_covered,
       FLOOR(q_hat * 1e6) / 1e6 AS q_hat,
       FLOOR(CAST(n_covered AS DOUBLE) / n_test * 1e6) / 1e6
         AS coverage,
       FLOOR((CAST(n_covered AS DOUBLE) / n_test
              - {1 - _CONF_ALPHA}) * 1e6) / 1e6 AS coverage_gap
FROM ev
"""


@register("ts_conformal_interval_eval", oracle=_CONFORMAL_ORACLE)
def ts_conformal_interval_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-conformal interval for ŷ_d = y_{{d-7}} on the dense daily
    event-value series: the first 2/3 of forecastable days calibrate
    q̂ = the ⌈(n_cal+1)(1−α)⌉-th smallest |residual| (EXACT rank on the
    sorted calibration residuals with day tie-break — the PPS
    integer-rank doctrine, never a percentile call), the rest test
    empirical coverage of [ŷ−q̂, ŷ+q̂] at α = 0.2. Distribution-free:
    the guarantee needs only exchangeability of residuals, which is
    what makes it the honest uncertainty wrapper for ANY forecaster.

    Cross-engine exactness: daily sums ride the decimal bridge, so
    residuals are identical doubles; the calibration/test split and
    the quantile are pure integer ranks over the bounded day frame;
    coverage counts compare identical doubles with ≤ (no tolerance
    gap — both engines see bit-equal r and q̂).

    Scale design: one corpus pass to the 30-row calendar-bounded daily
    frame; lag, ranks, the k-th order statistic and the coverage fold
    all run on that frame under meta_part windows. The time-ordered
    2/3 split (never random) respects the forecasting arrow of time."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        dsum("value").alias("y")
    )
    w_ord = Window.partitionBy(meta_part(F.unix_date(F.col("day")))).orderBy("day")
    lagged = daily.select(
        "day", "y", F.lag("y", _CONF_LAG).over(w_ord).alias("yhat")
    )
    scored = lagged.where(F.col("yhat").isNotNull()).select(
        "day", F.abs(F.col("y") - F.col("yhat")).alias("r")
    )
    w_i = Window.partitionBy(meta_part(F.unix_date(F.col("day")))).orderBy("day")
    w_all = Window.partitionBy(meta_part(F.unix_date(F.col("day"))))
    # cached: the bounded (~23-row) scored frame feeds BOTH the
    # calibration rank leg and the test coverage fold — uncached, the
    # fan-out re-scanned the corpus twice (caught by the plan pin)
    from trireme_spark.operators.hints import cache_once

    split = cache_once(
        scored.select(
            "day",
            "r",
            F.row_number().over(w_i).alias("i"),
            (F.count(F.lit(1)).over(w_all) * 2 / 3)
            .cast("long")
            .alias("n_cal"),
        )
    )
    k = F.ceil((F.col("n_cal") + 1) * F.lit(1 - _CONF_ALPHA)).cast(
        "long"
    )
    w_r = (
        Window.partitionBy(meta_part("n_cal"))
        .orderBy("r", "day")
    )
    cal_ranked = (
        split.where(F.col("i") <= F.col("n_cal"))
        .select("r", "day", "n_cal", k.alias("k"))
        .withColumn("rr", F.row_number().over(w_r))
    )
    qhat = cal_ranked.where(
        F.col("rr") == F.least(F.col("k"), F.col("n_cal"))
    ).select("n_cal", "k", F.col("r").alias("q_hat"))
    test = split.where(F.col("i") > F.col("n_cal")).select("r")
    evf = test.crossJoin(F.broadcast(qhat)).agg(
        F.max("n_cal").alias("n_cal"),
        F.max("k").alias("k_rank"),
        F.max("q_hat").alias("q_hat"),
        F.count(F.lit(1)).alias("n_test"),
        F.count_if(F.col("r") <= F.col("q_hat")).alias("n_covered"),
    )
    cov = F.col("n_covered").cast("double") / F.col("n_test")
    return evf.select(
        "n_cal",
        "k_rank",
        "n_test",
        "n_covered",
        fquant(F.col("q_hat")).alias("q_hat"),
        fquant(cov).alias("coverage"),
        fquant(cov - F.lit(1 - _CONF_ALPHA)).alias("coverage_gap"),
    )


# ---------------------------------------------------------------------------
# ts_sample_entropy — Sample entropy (Richman & Moorman 2000) of the
# monthly revenue series at m=2, r=0.2σ: the REGULARITY measure the ts
# family was missing — spectral entropy reads frequency-domain flatness,
# SampEn reads time-domain predictability (do similar 2-month patterns
# stay similar one month later?), robust to series length and free of the
# self-match bias ApEn carries.
# ---------------------------------------------------------------------------

_SAMPEN_R_FACTOR = 0.2  # r = 0.2 * population sd (the classical default)

_SAMPEN_ORACLE = f"""
WITH monthly AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS m,
         {oracle_sum('o_totalprice')} AS y
  FROM orders GROUP BY 1
), st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {oracle_sum('y')} AS s1,
         {oracle_sum('y * y')} AS s2
  FROM monthly
), norm AS (
  -- mean-normalized series (SampEn is scale-invariant when r rides
  -- the sd): r_thresh and the template gaps all live near O(1)
  SELECT m, y / (s1 / n) AS v,
         CAST({_SAMPEN_R_FACTOR} AS DOUBLE)
           * sqrt((s2 - s1 * s1 / n) / n) / (s1 / n) AS r_thresh
  FROM monthly CROSS JOIN st
), tpl AS (
  SELECT ROW_NUMBER() OVER (ORDER BY m) AS i,
         v AS x0,
         LEAD(v, 1) OVER (ORDER BY m) AS x1,
         LEAD(v, 2) OVER (ORDER BY m) AS x2,
         r_thresh
  FROM norm QUALIFY x2 IS NOT NULL
), pairs AS (
  SELECT CAST(COUNT(*) FILTER (
           WHERE GREATEST(ABS(a.x0 - b.x0), ABS(a.x1 - b.x1))
                 <= a.r_thresh) AS BIGINT) AS b_count,
         CAST(COUNT(*) FILTER (
           WHERE GREATEST(ABS(a.x0 - b.x0), ABS(a.x1 - b.x1),
                          ABS(a.x2 - b.x2)) <= a.r_thresh) AS BIGINT)
           AS a_count,
         CAST(MAX(a.r_thresh) AS DOUBLE) AS r_used,
         (SELECT MAX(i) FROM tpl) AS n_templates
  FROM tpl a JOIN tpl b ON a.i < b.i
)
SELECT (SELECT n FROM st) AS n_months,
       CAST(n_templates AS BIGINT) AS n_templates,
       b_count, a_count,
       FLOOR(r_used * 1e6) / 1e6 AS r_thresh,
       FLOOR(-ln(CAST(a_count AS DOUBLE) / b_count) * 1e6) / 1e6
         AS sampen
FROM pairs
"""


@register("ts_sample_entropy", oracle=_SAMPEN_ORACLE)
def ts_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SampEn(m=2, r=0.2σ) = −ln(A/B): B counts template pairs (i<j)
    whose length-2 windows stay within Chebyshev distance r, A the
    same for length-3 — the conditional probability that similarity
    persists one step, negated in log. White noise reads high, a
    strongly seasonal series low; unlike ApEn there is no self-match
    term, so the estimate is length-unbiased.

    Cross-engine exactness: the series mean-normalizes first (SampEn
    is scale-invariant when r rides the sd — the KPSS magnitude
    doctrine) and r comes off the exact decimal moment sums, so every
    |Δ| ≤ r compare runs on bit-identical doubles in both engines;
    A and B are exact integers; only the final log quantizes (1e-6).
    The 0.2 factor is CAST to DOUBLE in the oracle (DuckDB's bare
    decimal literal would change the r arithmetic — the NDCG lesson).

    Scale design: ONE corpus pass to the cached calendar-bounded
    monthly frame; templates ride leads over that ~80-row frame and
    the O(n²) pair check is a ~3000-row broadcast theta-join on
    METADATA, never the corpus (blocks scale with the calendar)."""
    from trireme_spark.operators.hints import cache_once

    o = table(spark, sf_dir, "orders")
    monthly = cache_once(
        o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "m"
            )
        ).agg(dsum("o_totalprice").alias("y"))
    )
    # dsum_wide, not dsum: y is a MONTHLY total (y·y ~2e17 at sf0.1,
    # over the split-long per-row cap); calendar-bounded fold (r15
    # sweep catch).
    st = monthly.agg(
        F.count(F.lit(1)).alias("n"),
        dsum_wide("y").alias("s1"),
        dsum_wide(F.col("y") * F.col("y")).alias("s2"),
    )
    ybar = F.col("s1") / F.col("n")
    norm = monthly.crossJoin(F.broadcast(st)).select(
        "m",
        "n",
        (F.col("y") / ybar).alias("v"),
        (
            F.lit(_SAMPEN_R_FACTOR)
            * F.sqrt(
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                / F.col("n")
            )
            / ybar
        ).alias("r_thresh"),
    )
    w_ord = Window.partitionBy(meta_part("m")).orderBy("m")
    tpl = (
        norm.select(
            "n",
            "r_thresh",
            F.row_number().over(w_ord).alias("i"),
            F.col("v").alias("x0"),
            F.lead("v", 1).over(w_ord).alias("x1"),
            F.lead("v", 2).over(w_ord).alias("x2"),
        )
        .where(F.col("x2").isNotNull())
    )
    a = tpl.select("n", "r_thresh", "i", "x0", "x1", "x2")
    b = tpl.select(
        F.col("i").alias("j"),
        F.col("x0").alias("y0"),
        F.col("x1").alias("y1"),
        F.col("x2").alias("y2"),
    )
    d2 = F.greatest(
        F.abs(F.col("x0") - F.col("y0")), F.abs(F.col("x1") - F.col("y1"))
    )
    d3 = F.greatest(d2, F.abs(F.col("x2") - F.col("y2")))
    pairs = a.join(F.broadcast(b), F.col("i") < F.col("j")).agg(
        F.max("n").alias("n_months"),
        # max RIGHT index = the template count (the left index tops out
        # one short under the strict i<j join)
        F.max("j").alias("n_templates"),
        F.count_if(d2 <= F.col("r_thresh")).alias("b_count"),
        F.count_if(d3 <= F.col("r_thresh")).alias("a_count"),
        F.max("r_thresh").alias("r_used"),
    )
    return pairs.select(
        F.col("n_months").cast("long").alias("n_months"),
        F.col("n_templates").cast("long").alias("n_templates"),
        "b_count",
        "a_count",
        fquant(F.col("r_used")).alias("r_thresh"),
        fquant(
            -F.log(F.col("a_count").cast("double") / F.col("b_count"))
        ).alias("sampen"),
    )


# ---------------------------------------------------------------------------
# events_sequential_sprt — Wald sequential probability ratio test on the
# daily purchase rate: the SEQUENTIAL member of the inference family —
# fixed-horizon tests (welch, permutation, rate ratio) answer after the
# window closes; the SPRT walks the cumulative log-likelihood ratio day by
# day and STOPS at the first boundary crossing, the shape every always-on
# experimentation monitor uses.
# ---------------------------------------------------------------------------

import math as _sprt_math

_SPRT_P0 = 0.15  # H0 purchase rate
_SPRT_P1 = 0.20  # H1 purchase rate (the fixture runs ~0.20)
_SPRT_ALPHA = 0.05
_SPRT_BETA = 0.05
# per-observation log-likelihood factors and the Wald boundaries, as
# python-evaluated double literals injected into BOTH engines (repr
# round-trips the exact IEEE value — no cross-engine ln() of a
# decimal-typed literal anywhere)
_SPRT_L1 = _sprt_math.log(_SPRT_P1 / _SPRT_P0)
_SPRT_L0 = _sprt_math.log((1 - _SPRT_P1) / (1 - _SPRT_P0))
_SPRT_A = _sprt_math.log((1 - _SPRT_BETA) / _SPRT_ALPHA)
_SPRT_B = _sprt_math.log(_SPRT_BETA / (1 - _SPRT_ALPHA))

_SPRT_ORACLE = f"""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS n_purch
  FROM events GROUP BY 1
), walk AS (
  SELECT day, n_events, n_purch,
         CAST(SUM(CAST(FLOOR((n_purch * {_SPRT_L1!r}
                              + (n_events - n_purch) * {_SPRT_L0!r})
                             * 1e12) AS DECIMAL(38,0))) OVER (
           ORDER BY day ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1e12
           AS llr
  FROM d
), state AS (
  SELECT day, n_events, n_purch,
         FLOOR(llr * 1e6) / 1e6 AS llr_cum,
         CASE WHEN FLOOR(llr * 1e6) / 1e6 >= {_SPRT_A!r} THEN 'accept_h1'
              WHEN FLOOR(llr * 1e6) / 1e6 <= {_SPRT_B!r} THEN 'accept_h0'
              ELSE 'continue' END AS boundary
  FROM walk
)
, decided AS (
  SELECT day, n_events, n_purch, llr_cum, boundary,
         MIN(CASE WHEN boundary <> 'continue' THEN day END) OVER ()
           AS decision_day
  FROM state
)
SELECT CAST(day AS VARCHAR) AS day, n_events, n_purch, llr_cum,
       boundary, CAST(decision_day AS VARCHAR) AS decision_day,
       COALESCE(MAX(CASE WHEN day = decision_day THEN boundary END)
                  OVER (), 'continue') AS final_decision
FROM decided
"""


@register("events_sequential_sprt", oracle=_SPRT_ORACLE)
def events_sequential_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT for H0: p = 0.15 vs H1: p = 0.20 on the daily
    purchase-per-event rate, α = β = 0.05: per day the walk adds
    x·ln(p1/p0) + (n−x)·ln((1−p1)/(1−p0)); the first day the
    cumulative LLR leaves (B, A) = (ln(β/(1−α)), ln((1−β)/α)) decides.
    Every row of the bounded day frame carries the walk value, its
    boundary state, the global first-crossing day and the final
    decision — the full monitor readout, not just the verdict.

    Cross-engine exactness: the four log factors are PYTHON-evaluated
    double literals injected into both engines via repr (an in-engine
    ln(0.20/0.15) would hit DuckDB's decimal-literal division — the
    conformal CEIL lesson); daily terms are integer-count × literal
    products quantized at 1e-12 into an exact pico-unit decimal
    cumsum; boundary compares run on the 1e-6-quantized walk.

    Scale design: one corpus pass to the calendar-bounded day frame
    (keyed, map-side-combinable), then the cumulative walk, the
    crossing scan and the decision broadcast are windows over those
    ~30 metadata rows under meta_part."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_if(F.col("event_type") == "purchase").alias("n_purch"),
    )
    term = fquant(
        F.col("n_purch") * F.lit(_SPRT_L1)
        + (F.col("n_events") - F.col("n_purch")) * F.lit(_SPRT_L0),
        12,
    )
    mp = meta_part(F.unix_date(F.col("day")))
    w_cum = (
        Window.partitionBy(mp)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walk = d.select(
        "day",
        "n_events",
        "n_purch",
        (
            F.sum((term * 1e12).cast("decimal(38,0)"))
            .over(w_cum)
            .cast("double")
            / 1e12
        ).alias("llr"),
    )
    llr_q = fquant(F.col("llr"))
    state = walk.select(
        "day",
        "n_events",
        "n_purch",
        llr_q.alias("llr_cum"),
        F.when(llr_q >= _SPRT_A, "accept_h1")
        .when(llr_q <= _SPRT_B, "accept_h0")
        .otherwise("continue")
        .alias("boundary"),
    )
    w_all = Window.partitionBy(meta_part(F.unix_date(F.col("day"))))
    dec_day = F.min(
        F.when(F.col("boundary") != "continue", F.col("day"))
    ).over(w_all)
    return state.select(
        # VARCHAR day columns (the max_drawdown idiom): date-typed cells
        # canonicalize differently from DuckDB's timestamp-backed DATE
        F.col("day").cast("string").alias("day"),
        "n_events",
        "n_purch",
        "llr_cum",
        "boundary",
        dec_day.cast("string").alias("decision_day"),
        F.coalesce(
            F.max(
                F.when(F.col("day") == dec_day, F.col("boundary"))
            ).over(w_all),
            F.lit("continue"),
        ).alias("final_decision"),
    )


# ---------------------------------------------------------------------------
# ts_variance_ratio_test — STAGED for the r15 cadence (parked
# unregistered; SURVEY round-13 log). Lo-MacKinlay variance-ratio test
# on monthly log-revenue returns: completes the stationarity triple —
# Dickey-Fuller (unit-root null), KPSS (stationary null), and now the
# RANDOM-WALK diagnostic (VR(q) = 1 under iid increments; VR < 1 reads
# mean reversion, VR > 1 momentum).
# ---------------------------------------------------------------------------

_VR_Q = 3
_VR_CRIT = 1.959964  # two-sided 5% normal

_VR_ORACLE = f"""
WITH monthly AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS m,
         {oracle_sum('o_totalprice')} AS y
  FROM orders GROUP BY 1
), r AS (
  SELECT m, ln(y) - LAG(ln(y), 1) OVER (ORDER BY m) AS r
  FROM monthly QUALIFY r IS NOT NULL
), st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nr,
         CAST(SUM(CAST(FLOOR(r * 1e12) / 1e12 AS DECIMAL(38,12)))
              AS DOUBLE) / COUNT(*) AS mu
  FROM r
), s AS (
  SELECT r.m, r.r, mu, nr,
         SUM(r.r) OVER (ORDER BY r.m
           ROWS BETWEEN {_VR_Q - 1} PRECEDING AND CURRENT ROW) AS sq,
         ROW_NUMBER() OVER (ORDER BY r.m) AS i
  FROM r CROSS JOIN st
), sums AS (
  SELECT MAX(nr) AS nr, MAX(mu) AS mu,
         CAST(SUM(CAST(FLOOR((r - mu) * (r - mu) * 1e12) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS ss1,
         CAST(SUM(CASE WHEN i >= {_VR_Q}
                  THEN CAST(FLOOR((sq - {_VR_Q} * mu)
                                  * (sq - {_VR_Q} * mu) * 1e12) / 1e12
                            AS DECIMAL(38,12)) END) AS DOUBLE) AS ssq,
         CAST(COUNT(CASE WHEN i >= {_VR_Q} THEN 1 END) AS BIGINT) AS nq
  FROM s
), fit AS (
  SELECT nr,
         (ssq / (nq * {_VR_Q})) / (ss1 / nr) AS vr
  FROM sums
)
SELECT nr AS n_returns,
       FLOOR(vr * 1e6) / 1e6 AS variance_ratio,
       FLOOR((vr - 1.0) * sqrt(3.0 * {_VR_Q} * nr
             / (2.0 * (2 * {_VR_Q} - 1) * ({_VR_Q} - 1))) * 1e6) / 1e6
         AS z_stat,
       ABS(FLOOR((vr - 1.0) * sqrt(3.0 * {_VR_Q} * nr
             / (2.0 * (2 * {_VR_Q} - 1) * ({_VR_Q} - 1))) * 1e6) / 1e6)
         > {_VR_CRIT} AS rejects_random_walk
FROM fit
"""


def ts_variance_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VR(q=3) on monthly log-revenue returns: σ²_q/(q·σ²_1) with
    overlapping q-sums, homoskedastic asymptotic
    z = (VR−1)·√(3qn/(2(2q−1)(q−1))) against the two-sided 5% normal —
    the pinned estimator form IS the contract (population variances,
    overlapping sums, no small-sample bias correction; stated rather
    than silently approximated). Under iid increments VR ≈ 1; the
    fixture's seasonal series reads VR < 1 (mean reversion), the
    number DF/KPSS cannot articulate.

    Cross-engine exactness: log returns are ln() of identical decimal-
    bridge doubles; every squared deviation quantizes at 1e-12 before
    DECIMAL(38,12) order-independent sums; the q-sum window is an
    exact ROWS frame over the bounded monthly series; z and the flag
    form from the two identical sum doubles, flag on the QUANTIZED z.

    Scale design: ONE corpus pass to the cached calendar-bounded
    monthly rollup; returns, q-sums, and both variance folds are
    windows over that ~80-row frame under meta_part."""
    from trireme_spark.operators.hints import cache_once

    o = table(spark, sf_dir, "orders")
    monthly = cache_once(
        o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "m"
            )
        ).agg(dsum("o_totalprice").alias("y"))
    )
    w_ord = Window.partitionBy(meta_part("m")).orderBy("m")
    r = (
        monthly.select(
            "m",
            (F.log("y") - F.lag(F.log("y"), 1).over(w_ord)).alias("r"),
        )
        .where(F.col("r").isNotNull())
    )
    st = r.agg(
        F.count(F.lit(1)).alias("nr"),
        (
            F.sum(fquant(F.col("r"), 12).cast("decimal(38,12)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("mu"),
    )
    w_q = (
        Window.partitionBy(meta_part("m"))
        .orderBy("m")
        .rowsBetween(-(_VR_Q - 1), 0)
    )
    w_i = Window.partitionBy(meta_part("m")).orderBy("m")
    s = r.crossJoin(F.broadcast(st)).select(
        "r",
        "mu",
        "nr",
        F.sum("r").over(w_q).alias("sq"),
        F.row_number().over(w_i).alias("i"),
    )

    def _q12sum(expr):
        return F.sum(fquant(expr, 12).cast("decimal(38,12)")).cast(
            "double"
        )

    dev1 = F.col("r") - F.col("mu")
    devq = F.col("sq") - _VR_Q * F.col("mu")
    sums = s.agg(
        F.max("nr").alias("nr"),
        _q12sum(dev1 * dev1).alias("ss1"),
        F.sum(
            F.when(
                F.col("i") >= _VR_Q,
                fquant(devq * devq, 12).cast("decimal(38,12)"),
            )
        )
        .cast("double")
        .alias("ssq"),
        F.count_if(F.col("i") >= _VR_Q).alias("nq"),
    )
    vr = (F.col("ssq") / (F.col("nq") * _VR_Q)) / (
        F.col("ss1") / F.col("nr")
    )
    zf = F.sqrt(
        3.0
        * _VR_Q
        * F.col("nr")
        / (2.0 * (2 * _VR_Q - 1) * (_VR_Q - 1))
    )
    z_q = fquant((vr - 1.0) * zf)
    return sums.select(
        F.col("nr").cast("long").alias("n_returns"),
        fquant(vr).alias("variance_ratio"),
        z_q.alias("z_stat"),
        (F.abs(z_q) > _VR_CRIT).alias("rejects_random_walk"),
    )


# ---------------------------------------------------------------------------
# ts_turning_points_test — STAGED for the r15 cadence (parked
# unregistered; SURVEY round-13 log). Turning-point randomness test on
# the monthly series: the cheap nonparametric complement of the runs
# test — T local extrema among n points has E[T] = 2(n−2)/3 and
# Var[T] = (16n−29)/90 under iid, so too FEW turning points reads
# trend/seasonality and too MANY reads negative autocorrelation.
# ---------------------------------------------------------------------------

_TP_CRIT = 1.959964

_TP_ORACLE = f"""
WITH monthly AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS m,
         {oracle_sum('o_totalprice')} AS y
  FROM orders GROUP BY 1
), lagged AS (
  SELECT y,
         LAG(y, 1) OVER (ORDER BY m) AS yp,
         LEAD(y, 1) OVER (ORDER BY m) AS yn,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM monthly
), flags AS (
  SELECT n,
         CASE WHEN (y > yp AND y > yn) OR (y < yp AND y < yn)
              THEN 1 ELSE 0 END AS tp
  FROM lagged WHERE yp IS NOT NULL AND yn IS NOT NULL
), s AS (
  SELECT MAX(n) AS n, CAST(SUM(tp) AS BIGINT) AS t FROM flags
)
SELECT n AS n_months, t AS n_turning_points,
       FLOOR(2.0 * (n - 2) / 3.0 * 1e6) / 1e6 AS expected,
       FLOOR((t - 2.0 * (n - 2) / 3.0)
             / sqrt((16.0 * n - 29.0) / 90.0) * 1e6) / 1e6 AS z_stat,
       ABS(FLOOR((t - 2.0 * (n - 2) / 3.0)
             / sqrt((16.0 * n - 29.0) / 90.0) * 1e6) / 1e6)
         > {_TP_CRIT} AS rejects_randomness
FROM s
"""


def ts_turning_points_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count strict local extrema of the monthly revenue series and
    z-score the count against the iid null (E = 2(n−2)/3,
    Var = (16n−29)/90). Strict inequalities: a tie with a neighbor is
    not a turning point (stated; ties on a decimal-bridge continuous
    metric are measure-zero but would classify IDENTICALLY in both
    engines regardless).

    Cross-engine exactness: the flag per month is two comparisons of
    identical doubles, T is an exact integer sum, and the z closed
    form runs on (T, n) integers only — quantization exists solely on
    the printed z/expected readouts.

    Scale design: one corpus pass to the bounded monthly rollup, one
    lag/lead window over it, one integer fold."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m")
    ).agg(dsum("o_totalprice").alias("y"))
    w_ord = Window.partitionBy(meta_part("m")).orderBy("m")
    w_all = Window.partitionBy(meta_part("m"))
    lagged = monthly.select(
        "y",
        F.lag("y", 1).over(w_ord).alias("yp"),
        F.lead("y", 1).over(w_ord).alias("yn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    flags = lagged.where(
        F.col("yp").isNotNull() & F.col("yn").isNotNull()
    ).select(
        "n",
        F.when(
            ((F.col("y") > F.col("yp")) & (F.col("y") > F.col("yn")))
            | ((F.col("y") < F.col("yp")) & (F.col("y") < F.col("yn"))),
            1,
        )
        .otherwise(0)
        .alias("tp"),
    )
    s = flags.agg(
        F.max("n").alias("n"), F.sum("tp").cast("long").alias("t")
    )
    n_d = F.col("n").cast("double")
    exp = 2.0 * (n_d - 2) / 3.0
    z = fquant(
        (F.col("t") - exp) / F.sqrt((16.0 * n_d - 29.0) / 90.0)
    )
    return s.select(
        F.col("n").cast("long").alias("n_months"),
        F.col("t").alias("n_turning_points"),
        fquant(exp).alias("expected"),
        z.alias("z_stat"),
        (F.abs(z) > _TP_CRIT).alias("rejects_randomness"),
    )


# ---------------------------------------------------------------------------
# orders_page_hinkley — STAGED for the r15 cadence (parked unregistered;
# SURVEY round-13 log). Page-Hinkley drift monitor on observed-day
# revenue: the SEQUENTIAL changepoint detector — pettitt and cusum
# locate a shift retrospectively, PH walks the cumulative deviation
# from the running mean and ALARMS the first day the excursion from
# its running minimum exceeds λ, the shape a production data-drift
# monitor actually runs.
# ---------------------------------------------------------------------------

_PH_DELTA = 0.005  # insensitivity margin (mean-normalized units)
_PH_LAMBDA = 5.0  # alarm threshold (mean-normalized units)

_PH_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         {oracle_sum('o_totalprice')} AS x
  FROM orders GROUP BY 1
), g AS (
  SELECT day, x,
         CAST(SUM(CAST(x AS DECIMAL(27,6))) OVER () AS DOUBLE)
           / COUNT(*) OVER () AS gmean,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_days
  FROM daily
), v AS (
  SELECT day, n_days, x / gmean AS v,
         ROW_NUMBER() OVER (ORDER BY day) AS i,
         CAST(SUM(CAST(FLOOR(x / gmean * 1e12) AS DECIMAL(38,0)))
              OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / 1e12 AS cumv
  FROM g
), term AS (
  SELECT day, n_days,
         FLOOR((v - cumv / i - {_PH_DELTA!r}) * 1e12) / 1e12 AS t
  FROM v
), walk AS (
  SELECT day, n_days,
         CAST(SUM(CAST(t AS DECIMAL(38,12))) OVER (
           ORDER BY day ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS ph
  FROM term
), exc AS (
  SELECT day, n_days,
         FLOOR((ph - MIN(ph) OVER (
           ORDER BY day ROWS UNBOUNDED PRECEDING)) * 1e6) / 1e6 AS e
  FROM walk
)
SELECT MAX(n_days) AS n_days,
       FLOOR(MAX(e) * 1e6) / 1e6 AS max_excursion,
       CAST(MIN(CASE WHEN e > {_PH_LAMBDA!r} THEN day END) AS VARCHAR)
         AS alarm_day,
       MIN(CASE WHEN e > {_PH_LAMBDA!r} THEN day END) IS NOT NULL
         AS drift_detected
FROM exc
"""


def orders_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley: v_t = x_t/x̄ (mean-normalized revenue),
    PH_t = Σ_{{s≤t}} (v_s − v̄_s − δ) with v̄_s the RUNNING mean, alarm
    at the first day PH_t − min_{{s≤t}} PH_s > λ (δ = 0.005, λ = 5
    mean-normalized units — pinned operating point). An upward level
    shift drives the walk away from its historical minimum; the
    excursion readout is the monitor's live gauge.

    Cross-engine exactness: the global mean rides a windowed decimal
    sum (a bare windowed AVG of doubles is summation-order-dependent);
    normalized values accumulate as exact pico-unit integers, so the
    running mean v̄_s = cumv/i is identical; per-day terms quantize at
    1e-12 into a DECIMAL(38,12) walk; the excursion quantizes at 1e-6
    before the λ compare and the alarm day is a MIN over exact
    comparisons. Day grain is OBSERVED days (stated — gaps advance the
    walk only when data exists).

    Scale design: one corpus pass to the calendar-bounded day frame;
    the running mean, walk, running minimum and alarm scan are windows
    over those ≤2405 metadata rows under meta_part."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(dsum("o_totalprice").alias("x"))
    mp = meta_part(F.unix_date(F.col("day")))
    w_all = Window.partitionBy(mp)
    w_cum = (
        Window.partitionBy(mp)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_i = Window.partitionBy(mp).orderBy("day")
    g = daily.select(
        "day",
        "x",
        (
            F.sum(F.col("x").cast(DSCALE)).over(w_all).cast("double")
            / F.count(F.lit(1)).over(w_all)
        ).alias("gmean"),
        F.count(F.lit(1)).over(w_all).alias("n_days"),
    )
    v = g.select(
        "day",
        "n_days",
        (F.col("x") / F.col("gmean")).alias("v"),
        F.row_number().over(w_i).alias("i"),
        (
            F.sum(
                F.floor(F.col("x") / F.col("gmean") * 1e12).cast(
                    "decimal(38,0)"
                )
            )
            .over(w_cum)
            .cast("double")
            / 1e12
        ).alias("cumv"),
    )
    term = v.select(
        "day",
        "n_days",
        fquant(
            F.col("v") - F.col("cumv") / F.col("i") - _PH_DELTA, 12
        ).alias("t"),
    )
    walk = term.select(
        "day",
        "n_days",
        F.sum(F.col("t").cast("decimal(38,12)"))
        .over(w_cum)
        .cast("double")
        .alias("ph"),
    )
    exc = walk.select(
        "day",
        "n_days",
        fquant(F.col("ph") - F.min("ph").over(w_cum)).alias("e"),
    )
    return exc.agg(
        F.max("n_days").cast("long").alias("n_days"),
        fquant(F.max("e")).alias("max_excursion"),
        F.min(F.when(F.col("e") > _PH_LAMBDA, F.col("day")))
        .cast("string")
        .alias("alarm_day"),
        F.min(F.when(F.col("e") > _PH_LAMBDA, F.col("day")))
        .isNotNull()
        .alias("drift_detected"),
    )


# ---------------------------------------------------------------------------
# ts_hurst_exponent — STAGED for the r15 cadence (parked unregistered;
# SURVEY round-13 log). Rescaled-range (R/S) Hurst exponent of the
# monthly revenue series: the LONG-MEMORY diagnostic beside the
# stationarity triple — H ≈ 0.5 is a memoryless walk, H > 0.5
# persistent trends, H < 0.5 mean reversion; the variance-ratio test
# reads one q, Hurst reads the scaling law across block sizes.
# ---------------------------------------------------------------------------

_HURST_SIZES = (10, 20, 40)  # block sizes; fixture has ~80 months

_HURST_ORACLE = f"""
WITH monthly AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS m,
         {oracle_sum('o_totalprice')} AS y
  FROM orders GROUP BY 1
), st AS (
  SELECT {oracle_sum('y')} / COUNT(*) AS gmean FROM monthly
), idx AS (
  SELECT ROW_NUMBER() OVER (ORDER BY m) - 1 AS i, y / gmean AS v
  FROM monthly CROSS JOIN st
), sized AS (
  SELECT s.sz, CAST(i // s.sz AS BIGINT) AS blk, i, v
  FROM idx CROSS JOIN (VALUES {", ".join(f"({s})" for s in _HURST_SIZES)})
       AS s(sz)
  WHERE i < s.sz * ((SELECT COUNT(*) FROM idx) // s.sz)
), bstat AS (
  SELECT sz, blk,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(v * 1e12) AS DECIMAL(38,0))) AS DOUBLE)
           / 1e12 / COUNT(*) AS bmean,
         CAST(SUM(CAST(FLOOR(v * v * 1e12) / 1e12 AS DECIMAL(38,12)))
              AS DOUBLE) / COUNT(*) AS bms
  FROM sized GROUP BY sz, blk
), dev AS (
  SELECT s.sz, s.blk, s.i, s.v - b.bmean AS d,
         sqrt(b.bms - b.bmean * b.bmean) AS sd
  FROM sized s JOIN bstat b ON s.sz = b.sz AND s.blk = b.blk
), cum AS (
  SELECT sz, blk, sd,
         CAST(SUM(CAST(FLOOR(d * 1e12) AS DECIMAL(38,0))) OVER (
           PARTITION BY sz, blk ORDER BY i
           ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1e12 AS c
  FROM dev
), rs AS (
  SELECT sz, blk,
         FLOOR((MAX(c) - MIN(c)) / MAX(sd) * 1e12) / 1e12 AS rs
  FROM cum GROUP BY sz, blk
), per_size AS (
  SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(CAST(rs AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)
           AS avg_rs
  FROM rs GROUP BY sz
), pts AS (
  SELECT sz, n_blocks, avg_rs,
         ln(CAST(sz AS DOUBLE)) AS lx, ln(avg_rs) AS ly
  FROM per_size
), fit AS (
  SELECT sz, n_blocks, avg_rs,
         (SUM(lx * ly) OVER () - SUM(lx) OVER () * SUM(ly) OVER ()
            / COUNT(*) OVER ())
         / (SUM(lx * lx) OVER () - SUM(lx) OVER () * SUM(lx) OVER ()
            / COUNT(*) OVER ()) AS h
  FROM pts
)
SELECT sz AS block_size, n_blocks,
       FLOOR(avg_rs * 1e6) / 1e6 AS avg_rescaled_range,
       FLOOR(h * 1e6) / 1e6 AS hurst_h
FROM fit
"""


def ts_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R/S Hurst: split the mean-normalized monthly series into full
    blocks of {_HURST_SIZES} months; per block, R = range of the
    demeaned cumulative sum and S = population sd; H is the OLS slope
    of ln(avg R/S) against ln(block size) over the three points
    (emitted on every per-size row — the readout carries its own
    evidence curve, the lift-table shape).

    Cross-engine exactness: the series mean-normalizes first (R/S is
    scale-invariant — the KPSS magnitude doctrine); per-block cumsums
    ride exact pico-unit integers inside ordered windows; per-block
    R/S quantizes at 1e-12 before the DECIMAL(38,12) per-size average;
    the 3-point OLS runs in identical op order on identical doubles.
    The tiny 3-point slope window sums doubles over a FIXED 3-row
    frame — order-independent because ln(avg_rs) values are identical
    in both engines and the sum is re-associated identically over the
    same unordered 3-element set in practice; the quantized readout at
    1e-6 absorbs the (measure-zero) re-association residue.

    Scale design: one corpus pass to the cached bounded monthly frame;
    the size spine is a 3-row literal crossed with ≤ n·|sizes|
    metadata rows; every window is (size, block)-keyed."""
    from trireme_spark.operators.hints import cache_once

    o = table(spark, sf_dir, "orders")
    monthly = cache_once(
        o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "m"
            )
        ).agg(dsum("o_totalprice").alias("y"))
    )
    # dsum_wide: y is a MONTHLY total (corpus-growing);
    # calendar-bounded fold, wide is free (r15 audit).
    st = monthly.agg(
        (dsum_wide("y") / F.count(F.lit(1))).alias("gmean"),
        F.count(F.lit(1)).alias("n_tot"),
    )
    w_i = Window.partitionBy(meta_part("m")).orderBy("m")
    idx = monthly.crossJoin(F.broadcast(st)).select(
        (F.row_number().over(w_i) - 1).alias("i"),
        (F.col("y") / F.col("gmean")).alias("v"),
        "n_tot",
    )
    sizes = F.explode(
        F.array(*[F.lit(s) for s in _HURST_SIZES])
    ).alias("sz")
    sized = (
        idx.select("i", "v", "n_tot", sizes)
        .where(
            F.col("i")
            < F.col("sz") * F.floor(F.col("n_tot") / F.col("sz"))
        )
        .select(
            "sz",
            F.floor(F.col("i") / F.col("sz")).cast("long").alias("blk"),
            "i",
            "v",
        )
    )
    bstat = sized.groupBy("sz", "blk").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.floor(F.col("v") * 1e12).cast("decimal(38,0)"))
            .cast("double")
            / 1e12
            / F.count(F.lit(1))
        ).alias("bmean"),
        (
            F.sum(
                fquant(F.col("v") * F.col("v"), 12).cast(
                    "decimal(38,12)"
                )
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("bms"),
    )
    dev = sized.join(bstat, ["sz", "blk"]).select(
        "sz",
        "blk",
        "i",
        (F.col("v") - F.col("bmean")).alias("d"),
        F.sqrt(F.col("bms") - F.col("bmean") * F.col("bmean")).alias(
            "sd"
        ),
    )
    w_blk = (
        Window.partitionBy("sz", "blk")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dev.select(
        "sz",
        "blk",
        "sd",
        (
            F.sum(F.floor(F.col("d") * 1e12).cast("decimal(38,0)"))
            .over(w_blk)
            .cast("double")
            / 1e12
        ).alias("c"),
    )
    rs = cum.groupBy("sz", "blk").agg(
        fquant(
            (F.max("c") - F.min("c")) / F.max("sd"), 12
        ).alias("rs")
    )
    per_size = rs.groupBy("sz").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        (
            F.sum(F.col("rs").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_rs"),
    )
    pts = per_size.select(
        "sz",
        "n_blocks",
        "avg_rs",
        F.log(F.col("sz").cast("double")).alias("lx"),
        F.log("avg_rs").alias("ly"),
    )
    w_all = Window.partitionBy(meta_part("sz"))
    npts = F.count(F.lit(1)).over(w_all)
    sx = F.sum("lx").over(w_all)
    sy = F.sum("ly").over(w_all)
    sxy = F.sum(F.col("lx") * F.col("ly")).over(w_all)
    sxx = F.sum(F.col("lx") * F.col("lx")).over(w_all)
    h = (sxy - sx * sy / npts) / (sxx - sx * sx / npts)
    return pts.select(
        F.col("sz").cast("long").alias("block_size"),
        F.col("n_blocks").cast("long").alias("n_blocks"),
        fquant(F.col("avg_rs")).alias("avg_rescaled_range"),
        fquant(h).alias("hurst_h"),
    )


# ---------------------------------------------------------------------------
# events_littles_law_check — STAGED for the r15 cadence (parked
# unregistered; SURVEY round-13 log). Little's law consistency check on
# 30-min-gap sessions: L = λ·W ties arrivals, time-in-system and
# average occupancy together; the key measures BOTH sides — L from the
# identity (Σ durations / span) and L from an independent per-minute
# occupancy sample (the boundary sweep) — and prints the discretization
# gap between them. The operational-analytics referee: if a dashboard's
# "concurrent users" and "session length" disagree with its "arrival
# rate", one of the three is mismeasured.
# ---------------------------------------------------------------------------

_LITTLE_GAP_MIN = 30  # sessionization gap (the t3/peak-concurrency gap)

_LITTLE_ORACLE = f"""
WITH s AS (
  SELECT user_id,
         epoch_us(min(ts)) AS s_us,
         epoch_us(max(ts)) AS e_us
  FROM (
    SELECT user_id, ts,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts,
                                  event_id) AS sid
    FROM (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       >= INTERVAL {_LITTLE_GAP_MIN} MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
  ) GROUP BY user_id, sid
), m AS (
  SELECT s_us // 60000000 AS m0, e_us // 60000000 AS m1,
         e_us - s_us AS dur_us
  FROM s
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
         CAST(SUM(dur_us) AS BIGINT) AS sum_dur_us,
         MIN(m0) AS grid_lo, MAX(m1) + 1 AS grid_hi
  FROM m
), b AS (
  SELECT m0 AS minute, 1 AS delta FROM m
  UNION ALL
  SELECT m1 + 1, -1 FROM m
), bm AS (
  SELECT minute, CAST(SUM(delta) AS BIGINT) AS d
  FROM b GROUP BY minute
), sweep AS (
  SELECT minute,
         SUM(d) OVER (ORDER BY minute ROWS UNBOUNDED PRECEDING)
           AS conc,
         LEAD(minute) OVER (ORDER BY minute) AS nxt
  FROM bm
), occ AS (
  SELECT CAST(SUM(conc * (COALESCE(nxt, minute) - minute)) AS BIGINT)
    AS conc_minutes
  FROM sweep
)
SELECT n_sessions,
       CAST(grid_hi - grid_lo AS BIGINT) AS span_minutes,
       FLOOR(CAST(sum_dur_us AS DOUBLE) / n_sessions / 6e7 * 1e6) / 1e6
         AS w_mean_minutes,
       FLOOR(CAST(n_sessions AS DOUBLE) / (grid_hi - grid_lo) * 1e6)
         / 1e6 AS lambda_per_minute,
       FLOOR(CAST(sum_dur_us AS DOUBLE) / 6e7 / (grid_hi - grid_lo)
             * 1e6) / 1e6 AS l_littles,
       FLOOR(CAST(conc_minutes AS DOUBLE) / (grid_hi - grid_lo) * 1e6)
         / 1e6 AS l_sampled,
       FLOOR((CAST(conc_minutes AS DOUBLE) / (grid_hi - grid_lo)
              - CAST(sum_dur_us AS DOUBLE) / 6e7 / (grid_hi - grid_lo))
             * 1e6) / 1e6 AS sampling_bias
FROM occ CROSS JOIN tot
"""


def events_littles_law_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Both sides of L = λ·W on 30-min-gap sessions (duration = raw
    activity span, zero-duration single-event sessions included —
    stated): the identity side L = Σdur/span, and an INDEPENDENT
    minute-granular occupancy sample (a session occupies every minute
    it touches; +1/−1 boundary sweep, occupancy-minutes weighted by
    the gap to the next boundary). The printed sampling_bias is the
    discretization overcount — the number that explains why a
    per-minute "active users" dashboard always reads above λ·W.

    Cross-engine exactness: everything is exact integer arithmetic on
    epoch-microsecond ids (durations, minute ids, deltas, occupancy-
    minutes) until the four final ratios, which form in identical op
    order and floor-quantize at 1e-6.

    Scale design: sessionization is the t3 user-keyed gaps-and-islands
    window; the sweep runs over session-grain boundary rows (the
    peak-concurrency shape — the two-pass time-bucket machinery is the
    documented swap when sessions outgrow the meta-window); the folds
    are 1-row."""
    ev = table(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = F.when(
        F.lag("ts").over(w_u).isNull()
        | (
            F.col("ts") - F.lag("ts").over(w_u)
            >= F.expr(f"INTERVAL {_LITTLE_GAP_MIN} MINUTES")
        ),
        1,
    ).otherwise(0)
    sid = ev.select(
        "user_id", "ts", "event_id", new_s.alias("new_session")
    ).withColumn(
        "sid",
        F.sum("new_session").over(
            w_u.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # the ltz cast is value-preserving under prep()'s UTC session and
    # matches DuckDB's epoch_us (the join_point_in_time bridge)
    s_us = F.unix_micros(F.min("ts").cast("timestamp"))
    e_us = F.unix_micros(F.max("ts").cast("timestamp"))
    m = sid.groupBy("user_id", "sid").agg(
        (s_us / 60000000).cast("long").alias("m0"),
        (e_us / 60000000).cast("long").alias("m1"),
        (e_us - s_us).alias("dur_us"),
    )
    from trireme_spark.operators.hints import cache_once

    m = cache_once(m)
    tot = m.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("dur_us").cast("long").alias("sum_dur_us"),
        F.min("m0").alias("grid_lo"),
        (F.max("m1") + 1).alias("grid_hi"),
    )
    b = m.select(F.col("m0").alias("minute"), F.lit(1).alias("delta")).unionByName(
        m.select((F.col("m1") + 1).alias("minute"), F.lit(-1).alias("delta"))
    )
    bm = b.groupBy("minute").agg(F.sum("delta").cast("long").alias("d"))
    w_sweep = (
        Window.partitionBy(meta_part("minute"))
        .orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_lead = Window.partitionBy(meta_part("minute")).orderBy("minute")
    sweep = bm.select(
        "minute",
        F.sum("d").over(w_sweep).alias("conc"),
        F.lead("minute").over(w_lead).alias("nxt"),
    )
    occ = sweep.agg(
        F.sum(
            F.col("conc")
            * (F.coalesce(F.col("nxt"), F.col("minute")) - F.col("minute"))
        )
        .cast("long")
        .alias("conc_minutes")
    )
    f = occ.crossJoin(F.broadcast(tot))
    span = (F.col("grid_hi") - F.col("grid_lo")).cast("double")
    dur_min = F.col("sum_dur_us").cast("double") / 6e7
    l_littles = dur_min / span
    l_sampled = F.col("conc_minutes").cast("double") / span
    return f.select(
        F.col("n_sessions").cast("long").alias("n_sessions"),
        (F.col("grid_hi") - F.col("grid_lo"))
        .cast("long")
        .alias("span_minutes"),
        fquant(dur_min / F.col("n_sessions")).alias("w_mean_minutes"),
        fquant(F.col("n_sessions").cast("double") / span).alias(
            "lambda_per_minute"
        ),
        fquant(l_littles).alias("l_littles"),
        fquant(l_sampled).alias("l_sampled"),
        fquant(l_sampled - l_littles).alias("sampling_bias"),
    )


# ---------------------------------------------------------------------------
# sample_bottomk_hash — STAGED for the r15 cadence (parked
# unregistered; SURVEY round-13 log). Consistent bottom-k hash sample
# of customers: the DISTRIBUTED deterministic sampler — membership
# depends only on each key's own hash rank, so the sample is
# reproducible across runs, engines and cluster layouts, and is
# CONSISTENT under corpus growth (an element evicted from the sample
# can never re-enter; subsets agree with supersets wherever they
# overlap — the property that makes cross-snapshot A/A comparisons
# honest). The streaming/at-scale sibling of sample_reservoir_per_group.
# ---------------------------------------------------------------------------

_BOTTOMK_K = 100
_BOTTOMK_SALT = "|bottomk"

_BOTTOMK_ORACLE = f"""
WITH h AS (
  SELECT c_custkey,
         CAST(('0x' || substr(md5(c_custkey::VARCHAR
                                  || '{_BOTTOMK_SALT}'), 1, 8))
              AS BIGINT) AS hash_key
  FROM customer
)
SELECT ROW_NUMBER() OVER (ORDER BY hash_key, c_custkey) AS rank,
       c_custkey, hash_key
FROM h
ORDER BY hash_key, c_custkey
LIMIT {_BOTTOMK_K}
"""


def sample_bottomk_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {_BOTTOMK_K} customers with the smallest
    md5-derived hash (the delta-method randomization idiom, '|bottomk'
    salt), ranked. Deterministic by construction — no RNG, no
    partition-order dependence — and the plan is the global-top-k
    shape (TakeOrderedAndProject: per-partition heaps, k rows move).

    Cross-engine exactness: the hash is exact integer arithmetic on
    md5 hex (the established bridge); the (hash, key) order is a
    tie-free total order; ranks are its row numbers.

    Scale design: one scan, one codegen'd hash projection, one
    top-k — the cheapest possible corpus sample at any scale, and the
    same k keys come back no matter how the corpus is partitioned."""
    c = table(spark, sf_dir, "customer")
    h = c.select(
        "c_custkey",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("c_custkey").cast("string"),
                        F.lit(_BOTTOMK_SALT),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("hash_key"),
    )
    topk = h.orderBy("hash_key", "c_custkey").limit(_BOTTOMK_K)
    w = Window.partitionBy(meta_part("hash_key")).orderBy(
        "hash_key", "c_custkey"
    )
    return topk.select(
        F.row_number().over(w).alias("rank"), "c_custkey", "hash_key"
    )


# ---------------------------------------------------------------------------
# orders_expected_shortfall — STAGED for the r15 cadence (parked
# unregistered; SURVEY round-13 log). 95% VaR and expected shortfall
# (CVaR) of daily revenue: the coherent tail-risk pair beside
# orders_max_drawdown's path-risk readout — VaR is the threshold the
# worst 5% of days breach, ES the MEAN of those days (the number Basel
# moved to because VaR ignores how bad the tail actually is).
# ---------------------------------------------------------------------------

_ES_Q_PCT = 5  # tail share, percent

_ES_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         {oracle_sum('o_totalprice')} AS x
  FROM orders GROUP BY 1
), r AS (
  SELECT day, x,
         ROW_NUMBER() OVER (ORDER BY x, day) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM daily
), k AS (
  SELECT GREATEST(1, n * {_ES_Q_PCT} // 100) AS k, n FROM r LIMIT 1
), tail AS (
  SELECT r.n, k.k,
         CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE) AS tail_sum,
         MAX(x) AS var_thr
  FROM r CROSS JOIN k
  WHERE rn <= k.k
  GROUP BY r.n, k.k
)
SELECT n AS n_days, k AS k_tail,
       FLOOR(var_thr * 1e6) / 1e6 AS var_95,
       FLOOR(tail_sum / k * 1e6) / 1e6 AS es_95
FROM tail
"""


def orders_expected_shortfall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k = max(1, ⌊n·5/100⌋) worst revenue days by the exact
    (revenue, day) rank (the PPS integer-rank doctrine — never a
    percentile call); VaR₉₅ = the k-th worst value, ES₉₅ = the exact
    decimal mean of the k tail days. ES ≤ VaR by construction (the
    tail mean can't exceed its own maximum) — pinned in tests.

    Cross-engine exactness: daily sums ride the decimal bridge; the
    tail membership is an integer rank cut on a tie-free total order;
    the tail mean is an exact DECIMAL(27,6) sum over k rows.

    Scale design: one corpus pass to the calendar-bounded day frame,
    one rank window over it, one k-row fold."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(dsum("o_totalprice").alias("x"))
    mp = meta_part(F.unix_date(F.col("day")))
    w_rank = Window.partitionBy(mp).orderBy("x", "day")
    w_all = Window.partitionBy(mp)
    r = daily.select(
        "x",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    tail = r.where(
        F.col("rn")
        <= F.greatest(
            F.lit(1), (F.col("n") * _ES_Q_PCT / 100).cast("long")
        )
    ).agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("x").cast(DSCALE)).cast("double").alias("tail_sum"),
        F.max("x").alias("var_thr"),
    )
    return tail.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("k").cast("long").alias("k_tail"),
        fquant(F.col("var_thr")).alias("var_95"),
        fquant(F.col("tail_sum") / F.col("k")).alias("es_95"),
    )


# ---------------------------------------------------------------------------
# events_spc_p_chart — STAGED for the r15 cadence (parked unregistered;
# SURVEY round-13 log). Shewhart p-chart with VARIABLE-n control
# limits on the daily error share: the attribute-SPC member beside
# ts_ewma_control_chart's continuous one — per day the limits widen or
# tighten with that day's own sample size, which is exactly what a
# fixed-limit chart gets wrong on uneven traffic.
# ---------------------------------------------------------------------------

_PCHART_SIGMA = 3.0

_PCHART_ORACLE = f"""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT)
           AS x
  FROM events GROUP BY 1
), g AS (
  SELECT day, n, x,
         CAST(SUM(x) OVER () AS DOUBLE) / SUM(n) OVER () AS pbar
  FROM d
), lim AS (
  SELECT CAST(day AS VARCHAR) AS day, n, x,
         FLOOR(CAST(x AS DOUBLE) / n * 1e6) / 1e6 AS p_day,
         FLOOR(pbar * 1e6) / 1e6 AS center,
         FLOOR(LEAST(1.0, pbar + {_PCHART_SIGMA!r}
               * sqrt(pbar * (1 - pbar) / n)) * 1e6) / 1e6 AS ucl,
         FLOOR(GREATEST(0.0, pbar - {_PCHART_SIGMA!r}
               * sqrt(pbar * (1 - pbar) / n)) * 1e6) / 1e6 AS lcl
  FROM g
)
SELECT day, n, x, p_day, center, ucl, lcl,
       (p_day > ucl OR p_day < lcl) AS out_of_control,
       CAST(SUM(CASE WHEN p_day > ucl OR p_day < lcl THEN 1 ELSE 0 END)
              OVER () AS BIGINT) AS n_violations
FROM lim
"""


def events_spc_p_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p̄ = Σx/Σn pooled center line; per-day limits
    p̄ ± 3·√(p̄(1−p̄)/n_d) clamped to [0, 1]; the violation flag
    compares the QUANTIZED per-day share to the QUANTIZED limits
    (flag and printed numbers can never disagree) and the global
    violation count rides the same bounded-frame window.

    Cross-engine exactness: counts are exact integers; p̄ is one
    integer division (identical double); per-day limits are fixed-
    order double expressions quantized at 1e-6 before every compare.

    Scale design: one corpus pass to the calendar-bounded day frame;
    the center line and violation count are windows over those ~30
    metadata rows under meta_part."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("event_type") == "error").alias("x"),
    )
    mp = meta_part(F.unix_date(F.col("day")))
    w_all = Window.partitionBy(mp)
    g = d.select(
        "day",
        "n",
        "x",
        (
            F.sum("x").over(w_all).cast("double")
            / F.sum("n").over(w_all)
        ).alias("pbar"),
    )
    sig = F.sqrt(
        F.col("pbar") * (1 - F.col("pbar")) / F.col("n")
    )
    p_day = fquant(F.col("x").cast("double") / F.col("n"))
    ucl = fquant(
        F.least(F.lit(1.0), F.col("pbar") + _PCHART_SIGMA * sig)
    )
    lcl = fquant(
        F.greatest(F.lit(0.0), F.col("pbar") - _PCHART_SIGMA * sig)
    )
    lim = g.select(
        F.col("day").cast("string").alias("day"),
        "n",
        "x",
        p_day.alias("p_day"),
        fquant(F.col("pbar")).alias("center"),
        ucl.alias("ucl"),
        lcl.alias("lcl"),
    )
    ooc = (F.col("p_day") > F.col("ucl")) | (
        F.col("p_day") < F.col("lcl")
    )
    w_cnt = Window.partitionBy(meta_part("n"))
    return lim.select(
        "day",
        "n",
        "x",
        "p_day",
        "center",
        "ucl",
        "lcl",
        ooc.alias("out_of_control"),
        F.sum(F.when(ooc, 1).otherwise(0))
        .over(w_cnt)
        .cast("long")
        .alias("n_violations"),
    )


# ---------------------------------------------------------------------------
# ts_arch_lm_test — STAGED for the r15 cadence (parked unregistered;
# SURVEY round-13 log). Engle's ARCH LM test (2 lags) on monthly
# log-revenue returns: the VOLATILITY-CLUSTERING gate the ts family
# was missing — DF/KPSS/VR interrogate the MEAN process; ARCH asks
# whether the VARIANCE is predictable (squared shocks regress on their
# own lags), which is what invalidates homoskedastic bands like
# Bollinger's when present.
# ---------------------------------------------------------------------------

_ARCH_LAGS = 2
_ARCH_CRIT = 5.991465  # chi^2(2) 95th percentile

_ARCH_ORACLE = f"""
WITH monthly AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS m,
         {oracle_sum('o_totalprice')} AS y
  FROM orders GROUP BY 1
), r AS (
  SELECT m, ln(y) - LAG(ln(y), 1) OVER (ORDER BY m) AS r
  FROM monthly QUALIFY r IS NOT NULL
), st AS (
  SELECT CAST(SUM(CAST(FLOOR(r * 1e12) / 1e12 AS DECIMAL(38,12)))
              AS DOUBLE) / COUNT(*) AS rbar
  FROM r
), u AS (
  SELECT m, (r - rbar) * (r - rbar) AS u
  FROM r CROSS JOIN st
), ust AS (
  SELECT CAST(SUM(CAST(FLOOR(u * 1e15) / 1e15 AS DECIMAL(38,15)))
              AS DOUBLE) / COUNT(*) AS ubar
  FROM u
), v AS (
  -- mean-normalized squared shocks (R^2 is scale-invariant): every
  -- quantized product below keeps ~6 significant digits at 1e-12
  SELECT m, u / ubar AS v FROM u CROSS JOIN ust
), lagged AS (
  SELECT v,
         LAG(v, 1) OVER (ORDER BY m) AS v1,
         LAG(v, 2) OVER (ORDER BY m) AS v2
  FROM v QUALIFY v2 IS NOT NULL
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS mm,
         CAST(SUM(CAST(FLOOR(v  * 1e12) / 1e12 AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(FLOOR(v1 * 1e12) / 1e12 AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(FLOOR(v2 * 1e12) / 1e12 AS DECIMAL(38,12))) AS DOUBLE) AS s2,
         CAST(SUM(CAST(FLOOR(v * v   * 1e12) / 1e12 AS DECIMAL(38,12))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(FLOOR(v1 * v1 * 1e12) / 1e12 AS DECIMAL(38,12))) AS DOUBLE) AS s11,
         CAST(SUM(CAST(FLOOR(v2 * v2 * 1e12) / 1e12 AS DECIMAL(38,12))) AS DOUBLE) AS s22,
         CAST(SUM(CAST(FLOOR(v1 * v2 * 1e12) / 1e12 AS DECIMAL(38,12))) AS DOUBLE) AS s12,
         CAST(SUM(CAST(FLOOR(v * v1  * 1e12) / 1e12 AS DECIMAL(38,12))) AS DOUBLE) AS s1y,
         CAST(SUM(CAST(FLOOR(v * v2  * 1e12) / 1e12 AS DECIMAL(38,12))) AS DOUBLE) AS s2y
  FROM lagged
), c AS (
  SELECT mm,
         s11 - s1 * s1 / mm AS c11, s22 - s2 * s2 / mm AS c22,
         s12 - s1 * s2 / mm AS c12,
         s1y - s1 * sy / mm AS c1y, s2y - s2 * sy / mm AS c2y,
         syy - sy * sy / mm AS cyy
  FROM s
), fit AS (
  SELECT mm,
         ((c1y * c22 - c2y * c12) * c1y
          + (c2y * c11 - c1y * c12) * c2y)
         / (c11 * c22 - c12 * c12) / cyy AS r2
  FROM c
)
SELECT mm AS n_obs,
       FLOOR(r2 * 1e6) / 1e6 AS r_squared,
       FLOOR(mm * r2 * 1e4) / 1e4 AS lm_stat,
       FLOOR(mm * r2 * 1e4) / 1e4 > {_ARCH_CRIT} AS arch_effects
FROM fit
"""


def ts_arch_lm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM = m·R² from the auxiliary regression
    v_t = α + β₁v_{{t−1}} + β₂v_{{t−2}} of mean-normalized squared
    return shocks on their own lags, against the pinned χ²(2) 5%
    critical. The 2-regressor OLS solves in CLOSED FORM from centered
    moment sums (the granger/chow determinant algebra — 2×2 normal
    equations, no iteration, no linear-algebra library).

    Cross-engine exactness: squared shocks normalize by their exact
    mean FIRST (R² is scale-invariant — the KPSS doctrine; raw u ~
    1e-4² would lose all significant digits at the 1e-12
    quantization), then every moment product quantizes at 1e-12 into
    DECIMAL(38,12) order-independent sums; R², LM and the flag form
    from identical doubles, flag on the QUANTIZED LM.

    Scale design: one corpus pass to the cached calendar-bounded
    monthly frame; returns, shocks, lags and the nine moment sums are
    windows/folds over that ~80-row frame under meta_part."""
    from trireme_spark.operators.hints import cache_once

    o = table(spark, sf_dir, "orders")
    monthly = cache_once(
        o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "m"
            )
        ).agg(dsum("o_totalprice").alias("y"))
    )
    w_ord = Window.partitionBy(meta_part("m")).orderBy("m")
    r = (
        monthly.select(
            "m",
            (F.log("y") - F.lag(F.log("y"), 1).over(w_ord)).alias("r"),
        )
        .where(F.col("r").isNotNull())
    )
    rst = r.agg(
        (
            F.sum(fquant(F.col("r"), 12).cast("decimal(38,12)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("rbar")
    )
    u = r.crossJoin(F.broadcast(rst)).select(
        "m",
        ((F.col("r") - F.col("rbar")) * (F.col("r") - F.col("rbar"))).alias(
            "u"
        ),
    )
    ust = u.agg(
        (
            F.sum(fquant(F.col("u"), 15).cast("decimal(38,15)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("ubar")
    )
    v = u.crossJoin(F.broadcast(ust)).select(
        "m", (F.col("u") / F.col("ubar")).alias("v")
    )
    lagged = (
        v.select(
            "v",
            F.lag("v", 1).over(w_ord).alias("v1"),
            F.lag("v", 2).over(w_ord).alias("v2"),
        )
        .where(F.col("v2").isNotNull())
    )

    def _q(expr):
        return F.sum(fquant(expr, 12).cast("decimal(38,12)")).cast(
            "double"
        )

    vv, v1, v2 = F.col("v"), F.col("v1"), F.col("v2")
    s = lagged.agg(
        F.count(F.lit(1)).alias("mm"),
        _q(vv).alias("sy"),
        _q(v1).alias("s1"),
        _q(v2).alias("s2"),
        _q(vv * vv).alias("syy"),
        _q(v1 * v1).alias("s11"),
        _q(v2 * v2).alias("s22"),
        _q(v1 * v2).alias("s12"),
        _q(vv * v1).alias("s1y"),
        _q(vv * v2).alias("s2y"),
    )
    mm = F.col("mm")
    c = s.select(
        "mm",
        (F.col("s11") - F.col("s1") * F.col("s1") / mm).alias("c11"),
        (F.col("s22") - F.col("s2") * F.col("s2") / mm).alias("c22"),
        (F.col("s12") - F.col("s1") * F.col("s2") / mm).alias("c12"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / mm).alias("c1y"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / mm).alias("c2y"),
        (F.col("syy") - F.col("sy") * F.col("sy") / mm).alias("cyy"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    ess = (
        (F.col("c1y") * F.col("c22") - F.col("c2y") * F.col("c12"))
        * F.col("c1y")
        + (F.col("c2y") * F.col("c11") - F.col("c1y") * F.col("c12"))
        * F.col("c2y")
    )
    r2 = ess / det / F.col("cyy")
    lm = fquant(F.col("mm").cast("double") * r2, 4)
    return c.select(
        F.col("mm").cast("long").alias("n_obs"),
        fquant(r2).alias("r_squared"),
        lm.alias("lm_stat"),
        (lm > _ARCH_CRIT).alias("arch_effects"),
    )


# ---------------------------------------------------------------------------
# events_slo_burn_rate — STAGED for the r15 cadence (parked
# unregistered; SURVEY round-13 log). Multi-window SLO burn rate on
# the daily error share: events_error_budget_slo tracks the budget
# LEVEL, this is the ALERTING policy — the (fast, slow) window pair
# per severity that pages on a sharp burn and tickets on a slow one,
# the shape the SRE workbook standardized.
# ---------------------------------------------------------------------------

_BURN_BUDGET = 0.21  # error-share budget (the fixture runs ~0.20)
_BURN_PAGE = 1.2  # fast-burn threshold (1d AND 3d)
_BURN_TICKET = 1.0  # slow-burn threshold (3d AND 7d)

_BURN_ORACLE = f"""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT)
           AS x
  FROM events GROUP BY 1
), w AS (
  SELECT day, n, x,
         FLOOR(CAST(SUM(x) OVER w1 AS DOUBLE) / SUM(n) OVER w1
               / {_BURN_BUDGET!r} * 1e6) / 1e6 AS burn_1d,
         FLOOR(CAST(SUM(x) OVER w3 AS DOUBLE) / SUM(n) OVER w3
               / {_BURN_BUDGET!r} * 1e6) / 1e6 AS burn_3d,
         FLOOR(CAST(SUM(x) OVER w7 AS DOUBLE) / SUM(n) OVER w7
               / {_BURN_BUDGET!r} * 1e6) / 1e6 AS burn_7d
  FROM d
  WINDOW w1 AS (ORDER BY day ROWS BETWEEN 0 PRECEDING AND CURRENT ROW),
         w3 AS (ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT CAST(day AS VARCHAR) AS day, n, x, burn_1d, burn_3d, burn_7d,
       CASE WHEN burn_1d > {_BURN_PAGE!r} AND burn_3d > {_BURN_PAGE!r}
            THEN 'page'
            WHEN burn_3d > {_BURN_TICKET!r} AND burn_7d > {_BURN_TICKET!r}
            THEN 'ticket'
            ELSE 'ok' END AS severity
FROM w
"""


def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """burn_w(d) = (trailing-w-day error share)/budget for w ∈
    {{1, 3, 7}}; 'page' when the FAST pair (1d AND 3d) both exceed
    1.2×, 'ticket' when the SLOW pair (3d AND 7d) both exceed 1.0× —
    the two-window AND is what kills both false pages on blips and
    missed slow burns (the multiwindow multi-burn-rate alert policy).
    Early days use however much trailing history exists (ROWS frames —
    stated; a production monitor warming up does the same).

    Cross-engine exactness: window numerators/denominators are exact
    integer sums over the dense day frame (density pinned by the
    conformal key's fixture test); each burn ratio quantizes at 1e-6
    before the threshold compares, so severity and the printed burns
    can never disagree.

    Scale design: one corpus pass to the calendar-bounded day frame;
    three ROWS-frame windows over those ~30 metadata rows."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("event_type") == "error").alias("x"),
    )
    mp = meta_part(F.unix_date(F.col("day")))

    def burn(days: int):
        w = (
            Window.partitionBy(mp)
            .orderBy("day")
            .rowsBetween(-(days - 1), 0)
        )
        return fquant(
            F.sum("x").over(w).cast("double")
            / F.sum("n").over(w)
            / _BURN_BUDGET
        )

    w = d.select(
        F.col("day").cast("string").alias("day"),
        "n",
        "x",
        burn(1).alias("burn_1d"),
        burn(3).alias("burn_3d"),
        burn(7).alias("burn_7d"),
    )
    return w.select(
        "day",
        "n",
        "x",
        "burn_1d",
        "burn_3d",
        "burn_7d",
        F.when(
            (F.col("burn_1d") > _BURN_PAGE)
            & (F.col("burn_3d") > _BURN_PAGE),
            "page",
        )
        .when(
            (F.col("burn_3d") > _BURN_TICKET)
            & (F.col("burn_7d") > _BURN_TICKET),
            "ticket",
        )
        .otherwise("ok")
        .alias("severity"),
    )


# ---------------------------------------------------------------------------
# events_cmh_test — STAGED for the r16 cadence (parked unregistered;
# SURVEY round-14 log). Cochran–Mantel–Haenszel test of the SAME
# heavy-clicker→heavy-purchaser 2×2 as events_odds_ratio_2x2, but
# STRATIFIED by activity band — the confounding-aware member of the
# association family: busier users have more of both, so the marginal
# OR overstates the link; CMH pools the within-stratum evidence
# (and the MH common OR quantifies it) with activity held fixed.
# Pairs with orders_simpsons_check, which DETECTS the reversal; CMH is
# the test you run once it's detected.
# ---------------------------------------------------------------------------

_CMH_CHI2_CRIT = 3.841458820694124  # chi2(1) at 5% — pinned literal
# activity-band edges on per-user TOTAL events (fixture terciles,
# stable at both scales: 62/70 cover 49..88)
_CMH_BAND_LO = 62
_CMH_BAND_HI = 70

_CMH_ORACLE = f"""
WITH u AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ev,
         COUNT(*) FILTER (WHERE event_type = 'click') >= 14 AS e,
         COUNT(*) FILTER (WHERE event_type = 'purchase') >= 14 AS o
  FROM events GROUP BY 1
), s AS (
  SELECT CASE WHEN n_ev <= {_CMH_BAND_LO} THEN 0
              WHEN n_ev <= {_CMH_BAND_HI} THEN 1 ELSE 2 END AS stratum,
         CAST(COUNT(*) FILTER (WHERE e AND o) AS BIGINT) AS a,
         CAST(COUNT(*) FILTER (WHERE e AND NOT o) AS BIGINT) AS b,
         CAST(COUNT(*) FILTER (WHERE NOT e AND o) AS BIGINT) AS c,
         CAST(COUNT(*) FILTER (WHERE NOT e AND NOT o) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM u GROUP BY 1
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
         CAST(SUM(n) AS BIGINT) AS n_users,
         {oracle_pico_sum(
             'a - CAST(a + b AS DOUBLE) * (a + c) / n'
         )} AS s_num,
         {oracle_pico_sum(
             'CAST(a + b AS DOUBLE) * (c + d) * ((a + c) * (b + d))'
             ' / (CAST(n AS DOUBLE) * n * (n - 1))'
         )} AS s_var,
         {oracle_pico_sum('CAST(a AS DOUBLE) * d / n')} AS s_ad,
         {oracle_pico_sum('CAST(b AS DOUBLE) * c / n')} AS s_bc
  FROM s
)
SELECT n_strata, n_users,
       FLOOR(s_num * s_num / s_var * 1e6) / 1e6 AS cmh_chi2,
       CASE WHEN s_bc = 0 THEN 0.0
            ELSE FLOOR(s_ad / s_bc * 1e6) / 1e6 END AS or_mh,
       FLOOR(s_num * s_num / s_var * 1e6) / 1e6
         > {_CMH_CHI2_CRIT!r} AS significant
FROM t
"""


def events_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMH χ² = (Σ_i (a_i − E_i))² / Σ_i Var_i over activity-band
    strata (E_i and Var_i the conditional hypergeometric moments of
    each 2×2) plus the Mantel–Haenszel common odds ratio
    Σ(a_i d_i/n_i) / Σ(b_i c_i/n_i), against the pinned χ²(1) 5%
    value. Same exposure/outcome as events_odds_ratio_2x2 — read the
    pair together: marginal OR vs activity-adjusted OR IS the
    confounding readout.

    Cross-engine exactness: cells are exact integers from one user
    rollup; each stratum's E/Var/OR terms are fixed-order double
    expressions over those integers, pico-quantized into exact 3-row
    folds; χ² and OR_MH leave floor-quantized; a zero Σb·c/n pins
    OR_MH to 0.0 (reported, not corrected).

    Scale design: one corpus pass to the user grain (map-side-
    combinable conditional counts), one keyed rollup to the 3-row
    stratum frame, one 1-row fold — no joins, no windows, no
    broadcasts, no Python."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_ev"),
        (F.count_if(F.col("event_type") == "click") >= 14).alias("e"),
        (F.count_if(F.col("event_type") == "purchase") >= 14).alias("o"),
    )
    s = u.groupBy(
        F.when(F.col("n_ev") <= _CMH_BAND_LO, 0)
        .when(F.col("n_ev") <= _CMH_BAND_HI, 1)
        .otherwise(2)
        .alias("stratum")
    ).agg(
        F.count_if(F.col("e") & F.col("o")).cast("long").alias("a"),
        F.count_if(F.col("e") & ~F.col("o")).cast("long").alias("b"),
        F.count_if(~F.col("e") & F.col("o")).cast("long").alias("c"),
        F.count_if(~F.col("e") & ~F.col("o")).cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    a, b, c, d, n = (
        F.col("a"),
        F.col("b"),
        F.col("c"),
        F.col("d"),
        F.col("n"),
    )
    t = s.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("n").cast("long").alias("n_users"),
        pico_sum(a - (a + b).cast("double") * (a + c) / n).alias("s_num"),
        pico_sum(
            (a + b).cast("double") * (c + d) * ((a + c) * (b + d))
            / (n.cast("double") * n * (n - 1))
        ).alias("s_var"),
        pico_sum(a.cast("double") * d / n).alias("s_ad"),
        pico_sum(b.cast("double") * c / n).alias("s_bc"),
    )
    chi2 = fquant(F.col("s_num") * F.col("s_num") / F.col("s_var"))
    return t.select(
        "n_strata",
        "n_users",
        chi2.alias("cmh_chi2"),
        F.when(F.col("s_bc") == 0, F.lit(0.0))
        .otherwise(fquant(F.col("s_ad") / F.col("s_bc")))
        .alias("or_mh"),
        (chi2 > _CMH_CHI2_CRIT).alias("significant"),
    )


# ---------------------------------------------------------------------------
# events_cochran_armitage_trend — STAGED for the r16 cadence (parked
# unregistered; SURVEY round-14 log). Cochran–Armitage trend test:
# does the heavy-purchaser share RISE MONOTONically with the click
# band? The ORDERED-alternative member of the contingency family —
# the plain χ² (cramers_v) asks "any difference between bands";
# Armitage spends all its power on the dose-response direction, the
# question engagement funnels actually pose.
# ---------------------------------------------------------------------------

_CA_Z_CRIT = 1.959964  # two-sided 5% normal — pinned literal

_CA_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         LEAST(3, CAST(FLOOR(
           COUNT(*) FILTER (WHERE event_type = 'click') / 5
         ) AS BIGINT)) AS s,
         CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') >= 14
              AS INT) AS o
  FROM events GROUP BY 1
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(o) AS BIGINT) AS r,
         CAST(SUM(s) AS BIGINT) AS ss,
         CAST(SUM(s * s) AS BIGINT) AS ss2,
         CAST(SUM(o * s) AS BIGINT) AS sos,
         CAST(COUNT(DISTINCT s) AS BIGINT) AS n_bands
  FROM u
)
SELECT n AS n_users, r AS n_success, n_bands,
       FLOOR((sos - CAST(r AS DOUBLE) * ss / n)
             / sqrt(CAST(r AS DOUBLE) / n * (1 - CAST(r AS DOUBLE) / n)
                    * (ss2 - CAST(ss AS DOUBLE) * ss / n))
             * 1e6) / 1e6 AS z_trend,
       ABS(FLOOR((sos - CAST(r AS DOUBLE) * ss / n)
             / sqrt(CAST(r AS DOUBLE) / n * (1 - CAST(r AS DOUBLE) / n)
                    * (ss2 - CAST(ss AS DOUBLE) * ss / n))
             * 1e6) / 1e6) > {_CA_Z_CRIT!r} AS significant
FROM t
"""


def events_cochran_armitage_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran–Armitage z = T / √Var with T = Σo_i s_i − R·Σs_i/N and
    Var = (R/N)(1−R/N)·(Σs² − (Σs)²/N), scores s = min(3, ⌊clicks/5⌋)
    per user, success = the heavy-purchaser flag, against the pinned
    two-sided 5% normal value. A significant positive z reads "more
    clicking → more buying, monotonically"; the banded score keeps the
    test robust to the raw count's tail.

    Cross-engine exactness: every sufficient statistic (N, R, Σs, Σs²,
    Σos) is an EXACT INTEGER from one user rollup — no quantization
    anywhere before the single fixed-order double expression for z,
    which leaves floor-quantized.

    Scale design: one corpus pass to the user grain, one 1-row
    integer fold — no joins, no windows, no broadcasts, no Python;
    the cheapest possible dose-response readout at 100 TB."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.least(
            F.lit(3),
            F.floor(
                F.count_if(F.col("event_type") == "click") / 5
            ).cast("long"),
        ).alias("s"),
        (F.count_if(F.col("event_type") == "purchase") >= 14)
        .cast("int")
        .alias("o"),
    )
    t = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("o").cast("long").alias("r"),
        F.sum("s").cast("long").alias("ss"),
        F.sum(F.col("s") * F.col("s")).cast("long").alias("ss2"),
        F.sum(F.col("o") * F.col("s")).cast("long").alias("sos"),
        F.count_distinct(F.col("s")).cast("long").alias("n_bands"),
    )
    n, r, ss = F.col("n"), F.col("r"), F.col("ss")
    z = fquant(
        (F.col("sos") - r.cast("double") * ss / n)
        / F.sqrt(
            r.cast("double") / n * (1 - r.cast("double") / n)
            * (F.col("ss2") - ss.cast("double") * ss / n)
        )
    )
    return t.select(
        n.alias("n_users"),
        r.alias("n_success"),
        F.col("n_bands"),
        z.alias("z_trend"),
        (F.abs(z) > _CA_Z_CRIT).alias("significant"),
    )


# ---------------------------------------------------------------------------
# events_burstiness_goh — STAGED for the r16 cadence (parked
# unregistered; SURVEY round-14 log). Goh–Barabási burstiness
# B = (σ−μ)/(σ+μ) of per-stream inter-event times, one row per event
# type: B → −1 for a metronome, 0 for a Poisson process, → 1 for
# extreme bursts. The TIME-DOMAIN partner of events_dispersion_index
# (which reads count overdispersion per window); B reads the gap
# distribution itself — the standard fingerprint for bot-vs-human
# timing and queue sizing.
# ---------------------------------------------------------------------------

_BURSTINESS_ORACLE = """
WITH e AS (
  SELECT event_type, user_id, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type
           ORDER BY epoch_us(ts), event_id) AS prev
  FROM events
), g AS (
  SELECT event_type, us - prev AS gap FROM e WHERE prev IS NOT NULL
), m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS sg,
         CAST(SUM(CAST(gap AS DECIMAL(38,0)) * gap) AS DOUBLE) AS sgg
  FROM g GROUP BY 1
), v AS (
  SELECT event_type, n, sg,
         sqrt((sgg - sg * sg / n) / (n - 1)) AS sd
  FROM m
)
SELECT event_type, n AS n_gaps,
       FLOOR(sg / n / 1e6 * 1e6) / 1e6 AS mean_gap_s,
       FLOOR(sd / (sg / n) * 1e6) / 1e6 AS cv,
       FLOOR((sd - sg / n) / (sd + sg / n) * 1e6) / 1e6 AS burstiness
FROM v
"""


def events_burstiness_goh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Goh–Barabási burstiness over PER-USER event streams:
    gaps are within (user, type) series — the grain at which timing
    regularity is meaningful AND the partition key that scales — and
    the per-type readout pools every stream's gaps. Emits n_gaps, the
    mean gap in seconds, the coefficient of variation σ/μ and
    B = (σ−μ)/(σ+μ) (B ≈ 0 is Poisson; the fixture's planted clockwork
    streams read negative).

    Cross-engine exactness: gaps are EXACT INTEGER epoch microseconds
    (the NTZ value-preserving cast, the join_point_in_time bridge);
    the lag orders by (epoch, event_id) so equal timestamps cannot
    reorder across engines; Σg and Σg² are exact DECIMAL(38,0) sums
    (g² ~ 1e25 per row sits far inside the 1e38 lane); σ, μ, CV and B
    are fixed-order double expressions, floor-quantized.

    Scale design: ONE corpus pass; the lag window partitions by
    (user, type) — millions of small series, no global sort, no skew
    (the 5-way type-only partition would be the 100 TB straggler; the
    per-user grain is the designed key) — then one keyed
    map-side-combinable rollup to 5 rows."""
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id", "event_type").orderBy(
        us, F.col("event_id")
    )
    e = ev.select(
        "event_type",
        "user_id",
        us.alias("us"),
        F.lag(us).over(w).alias("prev"),
    )
    g = e.where(F.col("prev").isNotNull()).select(
        "event_type", (F.col("us") - F.col("prev")).alias("gap")
    )
    m = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("gap").cast("decimal(38,0)"))
        .cast("double")
        .alias("sg"),
        F.sum(F.col("gap").cast("decimal(38,0)") * F.col("gap"))
        .cast("double")
        .alias("sgg"),
    )
    n, sg = F.col("n"), F.col("sg")
    sd = F.sqrt(
        (F.col("sgg") - sg * sg / n) / (n - 1)
    )
    v = m.select("event_type", "n", "sg", sd.alias("sd"))
    mu = F.col("sg") / F.col("n")
    return v.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        fquant(mu / 1e6).alias("mean_gap_s"),
        fquant(F.col("sd") / mu).alias("cv"),
        fquant((F.col("sd") - mu) / (F.col("sd") + mu)).alias(
            "burstiness"
        ),
    )


# ---------------------------------------------------------------------------
# sample_horvitz_thompson — STAGED for the r16 cadence (parked
# unregistered; SURVEY round-14 log). Horvitz–Thompson estimation
# under deterministic PPS Poisson sampling: include customer i with
# π_i ∝ spend, estimate the TOTAL spend from the sample as Σ y_i/π_i,
# and report the HT variance estimate and whether the truth landed in
# the 95% interval. The ESTIMATION half the sampling family lacked:
# pps_systematic/neyman/weighted DRAW samples; HT is how a pipeline
# reads population totals back OUT of a weighted sample without bias.
# ---------------------------------------------------------------------------

_HT_ORACLE = f"""
WITH y AS (
  SELECT o_custkey AS ck, {oracle_sum('o_totalprice')} AS y
  FROM orders GROUP BY 1
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pop, {oracle_sum('y')} AS tt
  FROM y
), p AS (
  SELECT ck, y, n_pop, tt,
         LEAST(1, y * n_pop / (10 * tt)) AS pi,
         CAST(('0x' || substr(md5(ck::VARCHAR || '|ht'), 1, 8))
              AS BIGINT) / 4294967296 AS u
  FROM y CROSS JOIN t
), s AS (
  SELECT n_pop, tt,
         CAST(COUNT(*) FILTER (WHERE u < pi) AS BIGINT) AS n_samp,
         CAST(SUM(CASE WHEN u < pi
                       THEN CAST(y / pi AS DECIMAL(38,6)) END)
              AS DOUBLE) AS ht,
         CAST(SUM(CASE WHEN u < pi
                       THEN CAST((1 - pi) * ((y / pi) * (y / pi))
                                 AS DECIMAL(38,6)) END)
              AS DOUBLE) AS vht
  FROM p GROUP BY n_pop, tt
)
SELECT n_pop, n_samp AS n_sampled, tt AS true_total,
       FLOOR(ht * 1e6) / 1e6 AS ht_total,
       FLOOR(ABS(ht - tt) / tt * 1e6) / 1e6 AS rel_err,
       FLOOR(sqrt(vht) * 1e6) / 1e6 AS ht_se,
       ABS(FLOOR(ht * 1e6) / 1e6 - tt)
         <= 1.96 * (FLOOR(sqrt(vht) * 1e6) / 1e6) AS ci_covers
FROM s
"""


def sample_horvitz_thompson(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HT total = Σ_{i∈S} y_i/π_i under Poisson PPS with
    π_i = min(1, y_i·N/(10·T)) (expected ~10% of customers, spend-
    proportional) and the seeded md5-prefix uniform as the inclusion
    coin (the ab_test_analysis idiom — deterministic, reproducible,
    engine-free). Emits the estimate, its relative error against the
    exact total, the HT variance estimate for Poisson sampling
    Σ(1−π)(y/π)², and whether the 95% interval covered the truth —
    the full unbiasedness readout, not just a number.

    Cross-engine exactness: y and T are decimal-exact; π and u are
    fixed-order doubles from exact inputs (u = a 32-bit md5 prefix
    over 2³²); the inclusion compare runs on identical doubles; the
    HT folds round each term through DECIMAL(38,6) (y/π ≈ 10·T/N is
    too large for the pico-integer lane — the documented fallback)
    and sum exactly; outputs floor-quantize, and the coverage flag
    compares QUANTIZED estimate/se so it cannot straddle.

    Scale design: one keyed pass to the customer grain, the 1-row
    (N, T) broadcast attach, one 1-row fold — the customer frame is
    corpus-dimension but never collected, cached for its two
    consumers; no windows, no Python."""
    o = table(spark, sf_dir, "orders")
    y = (
        o.groupBy(F.col("o_custkey").alias("ck"))
        .agg(dsum(F.col("o_totalprice")).alias("y"))
        .cache()
    )
    t = y.agg(
        F.count(F.lit(1)).cast("long").alias("n_pop"),
        dsum(F.col("y")).alias("tt"),
    )
    pi = F.least(
        F.lit(1).cast("double"),
        F.col("y") * F.col("n_pop") / (10 * F.col("tt")),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("ck").cast("string"), F.lit("|ht"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296)
    )
    p = y.crossJoin(F.broadcast(t)).select(
        "ck", "y", "n_pop", "tt", pi.alias("pi"), u.alias("u")
    )
    inc = F.col("u") < F.col("pi")
    dec386 = "decimal(38,6)"
    s = p.groupBy("n_pop", "tt").agg(
        F.count_if(inc).cast("long").alias("n_samp"),
        F.sum(F.when(inc, (F.col("y") / F.col("pi")).cast(dec386)))
        .cast("double")
        .alias("ht"),
        F.sum(
            F.when(
                inc,
                (
                    (1 - F.col("pi"))
                    * (
                        (F.col("y") / F.col("pi"))
                        * (F.col("y") / F.col("pi"))
                    )
                ).cast(dec386),
            )
        )
        .cast("double")
        .alias("vht"),
    )
    ht_q = fquant(F.col("ht"))
    se_q = fquant(F.sqrt(F.col("vht")))
    return s.select(
        F.col("n_pop"),
        F.col("n_samp").alias("n_sampled"),
        F.col("tt").alias("true_total"),
        ht_q.alias("ht_total"),
        fquant(F.abs(F.col("ht") - F.col("tt")) / F.col("tt")).alias(
            "rel_err"
        ),
        se_q.alias("ht_se"),
        (F.abs(ht_q - F.col("tt")) <= 1.96 * se_q).alias("ci_covers"),
    )


# ---------------------------------------------------------------------------
# orders_theil_u2_forecast — STAGED for the r16 cadence (parked
# unregistered; SURVEY round-14 log). Theil's U2 forecast-accuracy
# ratio for the lag-7 seasonal-naive forecaster on daily revenue:
# RMSE(model)/RMSE(naive-1). The RELATIVE referee beside
# ts_forecast_mase_eval's scaled absolute error — U2 < 1 is the
# universal "beats naive" bar (U2 quadratically punishes the big
# misses MASE averages away), and reporting both is forecasting
# hygiene (Hyndman's accuracy-measure doctrine).
# ---------------------------------------------------------------------------

_U2_ORACLE = f"""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         {oracle_sum('o_totalprice')} AS y
  FROM orders GROUP BY 1
), mu AS (
  SELECT {oracle_sum('y')} / COUNT(*) AS mu FROM d
), x AS (
  SELECT day, y / mu AS x FROM d CROSS JOIN mu
), lagged AS (
  SELECT x,
         lag(x, 1) OVER (ORDER BY day) AS x1,
         lag(x, 7) OVER (ORDER BY day) AS x7
  FROM x
), scored AS (
  SELECT x, x1, x7 FROM lagged WHERE x1 IS NOT NULL AND x7 IS NOT NULL
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {oracle_pico_sum('(x - x7) * (x - x7)')} AS s77,
         {oracle_pico_sum('(x - x1) * (x - x1)')} AS s11
  FROM scored
)
SELECT n AS n_days_scored,
       FLOOR(sqrt(s77 / n) * (SELECT mu FROM mu) * 1e6) / 1e6
         AS rmse_model,
       FLOOR(sqrt(s11 / n) * (SELECT mu FROM mu) * 1e6) / 1e6
         AS rmse_naive,
       FLOOR(sqrt(s77 / s11) * 1e6) / 1e6 AS theil_u2,
       FLOOR(sqrt(s77 / s11) * 1e6) / 1e6 < 1 AS model_beats_naive
FROM s
"""


def orders_theil_u2_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """U2 = √(Σ(x_t − x_{t−7})² / Σ(x_t − x_{t−1})²) over the daily
    revenue series (row-lags over the ordered day frame — the MASE
    key's forecaster; days are dense at the grading scale so row ≈
    calendar), plus both RMSEs in raw revenue units. U2 < 1 reads "the
    weekly-seasonal model beats persistence".

    Cross-engine exactness: the day frame is decimal-exact; values
    normalize by the exact mean day (U2 is scale-invariant; raw-unit
    RMSEs multiply the mean back in one fixed-order step); both
    squared-error folds pico-quantize per-day terms into exact decimal
    sums; the verdict compares the QUANTIZED ratio to 1.

    Scale design: one corpus rollup to the calendar-bounded day frame,
    one 1-row mean attach, two row-lags in ONE window pass under
    meta_part, one 1-row fold."""
    o = table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        dsum("o_totalprice").alias("y")
    )
    # dsum_wide: y is a DAILY total (corpus-growing);
    # calendar-bounded fold, wide is free (r15 audit).
    mu_df = d.agg(
        (dsum_wide(F.col("y")) / F.count(F.lit(1))).alias("mu")
    )
    x = d.crossJoin(F.broadcast(mu_df)).select(
        "day", (F.col("y") / F.col("mu")).alias("x"), "mu"
    )
    w = Window.partitionBy(meta_part(F.unix_date(F.col("day")))).orderBy(
        "day"
    )
    lagged = x.select(
        "x",
        "mu",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 7).over(w).alias("x7"),
    )
    scored = lagged.where(
        F.col("x1").isNotNull() & F.col("x7").isNotNull()
    )
    s = scored.groupBy("mu").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        pico_sum(
            (F.col("x") - F.col("x7")) * (F.col("x") - F.col("x7"))
        ).alias("s77"),
        pico_sum(
            (F.col("x") - F.col("x1")) * (F.col("x") - F.col("x1"))
        ).alias("s11"),
    )
    n = F.col("n")
    u2 = fquant(F.sqrt(F.col("s77") / F.col("s11")))
    return s.select(
        n.alias("n_days_scored"),
        fquant(F.sqrt(F.col("s77") / n) * F.col("mu")).alias(
            "rmse_model"
        ),
        fquant(F.sqrt(F.col("s11") / n) * F.col("mu")).alias(
            "rmse_naive"
        ),
        u2.alias("theil_u2"),
        (u2 < 1).alias("model_beats_naive"),
    )


# ---------------------------------------------------------------------------
# ts_cointegration_engle_granger — STAGED for the r16 cadence (parked
# unregistered; SURVEY round-14 log). Engle–Granger two-step
# cointegration test between daily revenue and daily order count: OLS
# one on the other, then the Dickey–Fuller walk on the RESIDUAL. The
# PAIRWISE member of the stationarity family — DF/KPSS/VR ask about
# one series; EG asks whether two non-stationary series share a
# common stochastic trend (the spread is what's tradable/monitorable:
# a cointegrated pair's residual is the mean-reverting alert signal).
# ---------------------------------------------------------------------------

# EG 5% asymptotic critical value, two variables with constant
# (Engle & Granger 1987 / MacKinnon 1991) — pinned literal
_EG_CRIT = -3.37

_EG_ORACLE = f"""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         {oracle_sum('o_totalprice')} AS rev,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1
), mm AS (
  SELECT {oracle_sum('rev')} / COUNT(*) AS my,
         CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS mx
  FROM d
), z AS (
  SELECT day, rev / my AS a, cnt / mx AS b FROM d CROSS JOIN mm
), s1 AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(FLOOR((a) * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS sa, CAST(SUM(CAST(FLOOR((b) * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS sb,
         CAST(SUM(CAST(FLOOR((b * b) * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS sbb, CAST(SUM(CAST(FLOOR((a * b) * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS sab
  FROM z
), fit AS (
  SELECT n,
         (n * sab - sb * sa) / (n * sbb - sb * sb) AS beta,
         (sa - (n * sab - sb * sa) / (n * sbb - sb * sb) * sb) / n
           AS alpha
  FROM s1
), e AS (
  SELECT day, a - alpha - beta * b AS e FROM z CROSS JOIN fit
), lagged AS (
  SELECT e, lag(e) OVER (ORDER BY day) AS el FROM e
), r AS (
  SELECT e - el AS de, el FROM lagged WHERE el IS NOT NULL
), s2 AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n2,
         CAST(SUM(CAST(FLOOR((el * el) * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS see,
         CAST(SUM(CAST(FLOOR((el * de) * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS sed,
         CAST(SUM(CAST(FLOOR((de * de) * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS sdd
  FROM r
)
SELECT CAST((SELECT n FROM s1) AS BIGINT) AS n_days,
       FLOOR((SELECT beta FROM fit) * 1e6) / 1e6 AS beta_rel,
       FLOOR(sed / see
             / sqrt(((sdd - sed * sed / see) / (n2 - 1)) / see)
             * 1e6) / 1e6 AS eg_tau,
       FLOOR(sed / see
             / sqrt(((sdd - sed * sed / see) / (n2 - 1)) / see)
             * 1e6) / 1e6 < {_EG_CRIT!r} AS cointegrated
FROM s2
"""


def ts_cointegration_engle_granger(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Step 1: OLS revenue-per-day on orders-per-day (closed form from
    centered sums — the granger/chow doctrine); step 2: through-origin
    Dickey–Fuller on the residual, τ = ρ̂/se(ρ̂) against the pinned
    Engle–Granger −3.37 asymptotic 5% value (EG residual critical
    values are HARSHER than DF's −2.86 because β was estimated — using
    the DF table here is the classic mistake). τ below the bar reads
    "revenue and volume share one stochastic trend; their spread is
    stationary and monitorable".

    Cross-engine exactness: both series normalize by their exact means
    (each series' residual scales uniformly, so τ and the relative β
    are invariant); every fold over the calendar-bounded day frame
    pico-quantizes fixed-order double terms into exact decimal sums;
    the residual is a fixed expression of (a, b, α, β) identical both
    engines; only scale-free quantized outputs leave.

    Scale design: one corpus rollup to the day frame (cached for the
    fit and residual passes), two 1-row broadcast attaches (means,
    fit), one lag window under meta_part, two 1-row folds."""
    o = table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        dsum("o_totalprice").alias("rev"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    mm = d.agg(
        # dsum_wide: rev is a DAILY total (corpus-growing past the
        # split-long per-row cap at cluster scale); calendar-bounded
        # fold, wide is free (r15 audit).
        (dsum_wide(F.col("rev")) / F.count(F.lit(1))).alias("my"),
        (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("mx"),
    )
    z = d.crossJoin(F.broadcast(mm)).select(
        "day",
        (F.col("rev") / F.col("my")).alias("a"),
        (F.col("cnt") / F.col("mx")).alias("b"),
    )
    z = z.localCheckpoint(eager=True)  # bounded day frame, two consumers
    a, b = F.col("a"), F.col("b")
    s1 = z.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        pico_sum(a).alias("sa"),
        pico_sum(b).alias("sb"),
        pico_sum(b * b).alias("sbb"),
        pico_sum(a * b).alias("sab"),
    )
    n = F.col("n")
    beta = (n * F.col("sab") - F.col("sb") * F.col("sa")) / (
        n * F.col("sbb") - F.col("sb") * F.col("sb")
    )
    fit = s1.select(
        "n",
        beta.alias("beta"),
        ((F.col("sa") - beta * F.col("sb")) / n).alias("alpha"),
    )
    e = z.crossJoin(F.broadcast(fit)).select(
        "day",
        "n",
        "beta",
        (a - F.col("alpha") - F.col("beta") * b).alias("e"),
    )
    w = Window.partitionBy(meta_part(F.unix_date(F.col("day")))).orderBy(
        "day"
    )
    lagged = e.select(
        "n", "beta", "e", F.lag("e").over(w).alias("el")
    )
    r = lagged.where(F.col("el").isNotNull()).select(
        "n",
        "beta",
        (F.col("e") - F.col("el")).alias("de"),
        "el",
    )
    el, de = F.col("el"), F.col("de")
    s2 = r.groupBy("n", "beta").agg(
        F.count(F.lit(1)).cast("double").alias("n2"),
        pico_sum(el * el).alias("see"),
        pico_sum(el * de).alias("sed"),
        pico_sum(de * de).alias("sdd"),
    )
    tau = fquant(
        F.col("sed")
        / F.col("see")
        / F.sqrt(
            (
                (F.col("sdd") - F.col("sed") * F.col("sed") / F.col("see"))
                / (F.col("n2") - 1)
            )
            / F.col("see")
        )
    )
    return s2.select(
        F.col("n").cast("long").alias("n_days"),
        fquant(F.col("beta")).alias("beta_rel"),
        tau.alias("eg_tau"),
        (tau < _EG_CRIT).alias("cointegrated"),
    )


# ---------------------------------------------------------------------------
# ts_forecast_theta_method — STAGED for the r16 cadence (parked
# unregistered; SURVEY round-14 log). The theta method (Assimakopoulos
# & Nikolopoulos 2000; the M3 competition winner): average the θ=0
# line (pure linear trend extrapolated one step) with SES(α=0.5) of
# the θ=2 line (2y − trend, the curvature-doubled series). The family
# already has the pieces separately — holt (trend), ewma (SES),
# seasonal naive — theta is the named COMBINATION practitioners
# actually deploy, and its one-step forecast is the benchmark other
# forecasters get judged against.
# ---------------------------------------------------------------------------

_THETA_ALPHA = 0.5  # SES smoothing — exact powers of two by design

_THETA_ORACLE = f"""
WITH monthly AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS m,
         {oracle_sum('o_totalprice')} AS y
  FROM orders GROUP BY 1
), mu AS (
  SELECT {oracle_sum('y')} / COUNT(*) AS mu FROM monthly
), xt AS (
  SELECT row_number() OVER (ORDER BY m) AS t, y / mu AS x
  FROM monthly CROSS JOIN mu
), s1 AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(t) AS BIGINT) AS st,
         CAST(SUM(CAST(t AS BIGINT) * t) AS BIGINT) AS stt,
         {oracle_pico_sum('x')} AS sx,
         {oracle_pico_sum('t * x')} AS stx
  FROM xt
), fit AS (
  SELECT n,
         (n * stx - st * sx) / (n * stt - CAST(st AS DOUBLE) * st)
           AS b,
         (sx - (n * stx - st * sx)
               / (n * stt - CAST(st AS DOUBLE) * st) * st) / n AS a
  FROM s1
), ses AS (
  SELECT n, a, b,
         CAST(SUM(CAST(FLOOR(
           (2 * x - (a + b * t))
           * CASE WHEN t = 1 THEN power({_THETA_ALPHA!r}, n - 1)
                  ELSE {_THETA_ALPHA!r} * power({_THETA_ALPHA!r}, n - t)
             END * 1e12) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS l_t
  FROM xt CROSS JOIN fit GROUP BY n, a, b
)
SELECT CAST(n AS BIGINT) AS n_months,
       FLOOR(b * 1e6) / 1e6 AS trend_slope_rel,
       FLOOR(l_t * (SELECT mu FROM mu) * 1e6) / 1e6 AS ses_level,
       FLOOR((a + b * (n + 1) + l_t) / 2 * (SELECT mu FROM mu)
             * 1e6) / 1e6 AS theta_forecast
FROM ses
"""


def ts_forecast_theta_method(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """θ-method one-step forecast on monthly revenue: OLS trend
    (a + b·t, closed form from exact sums), θ=2 line z_t = 2x_t −
    (a + b·t), SES level L_T = Σ w_t z_t with the exact geometric
    weights of α = 0.5 (w_t = α(1−α)^{T−t}, w_1 = (1−α)^{T−1} — the
    L_1 = z_1 convention unrolled), forecast = (trend_{T+1} + L_T)/2.
    Emitted in raw revenue units alongside the relative slope.

    Cross-engine exactness: months normalize by the exact mean
    (z ~ O(1)); α = 0.5 makes every SES weight an EXACT power of two
    (no pow() divergence possible); the weighted fold pico-quantizes
    each term into an exact decimal sum — terms older than ~40 months
    quantize to zero IDENTICALLY in both engines (SES memory, not
    error); t and the trend sums are exact integers.

    Scale design: one corpus rollup to the 80-row month frame (cached
    for the fit and SES passes), a row_number under meta_part, two
    1-row broadcast attaches, two bounded folds."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m")
    ).agg(dsum("o_totalprice").alias("y"))
    # dsum_wide: y is a MONTHLY total (corpus-growing);
    # calendar-bounded fold, wide is free (r15 audit).
    mu_df = monthly.agg(
        (dsum_wide(F.col("y")) / F.count(F.lit(1))).alias("mu")
    )
    w = Window.partitionBy(meta_part("m")).orderBy("m")
    xt = monthly.crossJoin(F.broadcast(mu_df)).select(
        F.row_number().over(w).alias("t"),
        (F.col("y") / F.col("mu")).alias("x"),
        "mu",
    )
    xt = xt.localCheckpoint(eager=True)  # 80-row frame, two consumers
    t, x = F.col("t"), F.col("x")
    s1 = xt.groupBy("mu").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum(t.cast("long") * t).cast("long").alias("stt"),
        pico_sum(x).alias("sx"),
        pico_sum(t * x).alias("stx"),
    )
    n, st = F.col("n"), F.col("st")
    b = (n * F.col("stx") - st * F.col("sx")) / (
        n * F.col("stt") - st.cast("double") * st
    )
    fit = s1.select(
        "mu",
        "n",
        b.alias("b"),
        ((F.col("sx") - b * st) / n).alias("a"),
    )
    weight = F.when(
        t == 1, F.pow(F.lit(_THETA_ALPHA), F.col("n") - 1)
    ).otherwise(
        _THETA_ALPHA * F.pow(F.lit(_THETA_ALPHA), F.col("n") - t)
    )
    z = 2 * x - (F.col("a") + F.col("b") * t)
    ses = (
        xt.drop("mu")
        .crossJoin(F.broadcast(fit))
        .groupBy("mu", "n", "a", "b")
        .agg(
            (
                F.sum(
                    F.floor(z * weight * 1e12).cast("decimal(38,0)")
                ).cast("double")
                / 1e12
            ).alias("l_t")
        )
    )
    return ses.select(
        F.col("n").cast("long").alias("n_months"),
        fquant(F.col("b")).alias("trend_slope_rel"),
        fquant(F.col("l_t") * F.col("mu")).alias("ses_level"),
        fquant(
            (F.col("a") + F.col("b") * (F.col("n") + 1) + F.col("l_t"))
            / 2
            * F.col("mu")
        ).alias("theta_forecast"),
    )


# ---------------------------------------------------------------------------
# events_brier_decomposition — STAGED for the r16 cadence (parked
# unregistered; SURVEY round-14 log). Murphy's decomposition of the
# Brier score (REL − RES + UNC) for the SAME click-share→heavy-
# purchaser forecast events_calibration_curve diagrams: the curve
# SHOWS miscalibration; Murphy's algebra says how much of the score is
# fixable calibration error (reliability), how much is earned
# discrimination (resolution), and how much is irreducible base-rate
# noise (uncertainty) — the triage every probability-model review
# needs.
# ---------------------------------------------------------------------------

_BRIER_BINS = 10

_BRIER_DECOMP_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         FLOOR(CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                    AS DOUBLE) / COUNT(*) * 1e6) / 1e6 AS p,
         CASE WHEN 5 * COUNT(CASE WHEN event_type = 'purchase' THEN 1
                             END) > COUNT(*)
              THEN 1 ELSE 0 END AS y
  FROM events GROUP BY user_id
), binned AS (
  SELECT LEAST({_BRIER_BINS - 1},
               CAST(FLOOR(p * {_BRIER_BINS}) AS BIGINT)) AS bin, p, y
  FROM u
), cells AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_b,
         SUM(CAST(FLOOR(p * 1e6) AS HUGEINT)) AS p_micro,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         SUM(CAST(FLOOR((p - y) * (p - y) * 1e12) AS HUGEINT))
           AS sq_pico
  FROM binned GROUP BY bin
), tot AS (
  SELECT CAST(SUM(n_b) AS BIGINT) AS n,
         CAST(SUM(n_pos) AS BIGINT) AS pos,
         CAST(COUNT(*) AS BIGINT) AS n_bins_used,
         CAST(SUM(sq_pico) AS DOUBLE) / 1e12 AS brier_sum
  FROM cells
), comp AS (
  SELECT n, pos, n_bins_used, brier_sum,
         {oracle_pico_sum(
             'n_b * (CAST(p_micro AS DOUBLE) / 1e6 / n_b'
             ' - CAST(n_pos AS DOUBLE) / n_b)'
             ' * (CAST(p_micro AS DOUBLE) / 1e6 / n_b'
             ' - CAST(n_pos AS DOUBLE) / n_b)'
         )} AS rel_sum,
         {oracle_pico_sum(
             'n_b * (CAST(n_pos AS DOUBLE) / n_b'
             ' - CAST(pos AS DOUBLE) / n)'
             ' * (CAST(n_pos AS DOUBLE) / n_b'
             ' - CAST(pos AS DOUBLE) / n)'
         )} AS res_sum
  FROM cells CROSS JOIN tot
  GROUP BY n, pos, n_bins_used, brier_sum
)
SELECT n AS n_users, n_bins_used,
       FLOOR(brier_sum / n * 1e6) / 1e6 AS brier,
       FLOOR(rel_sum / n * 1e6) / 1e6 AS reliability,
       FLOOR(res_sum / n * 1e6) / 1e6 AS resolution,
       FLOOR(CAST(pos AS DOUBLE) / n * (1 - CAST(pos AS DOUBLE) / n)
             * 1e6) / 1e6 AS uncertainty,
       FLOOR((1 - (brier_sum / n)
                  / (CAST(pos AS DOUBLE) / n
                     * (1 - CAST(pos AS DOUBLE) / n)))
             * 1e6) / 1e6 AS brier_skill_score
FROM comp
"""


def events_brier_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brier = mean(p−y)² plus Murphy's three-way read over the same
    10 fixed-width bins as events_calibration_curve: reliability
    Σn_b(p̄_b−ȳ_b)²/N (calibration error — fixable by remapping),
    resolution Σn_b(ȳ_b−ȳ)²/N (earned separation), uncertainty
    ȳ(1−ȳ) (the base rate's floor), and the skill score
    1 − Brier/UNC (positive beats climatology). REL − RES + UNC equals
    the BINNED-forecast Brier; the raw Brier differs by within-bin
    variance minus twice the within-bin p,y covariance (the
    generalized decomposition) — the recompute pins both identities.

    Cross-engine exactness: the calibration key's doctrine — p
    floor-quantizes at user grain, per-user Brier terms quantize to
    pico integers, per-bin p-sums are exact micro integers; the REL
    and RES folds over the 10-bin frame pico-quantize fixed-order
    double terms with the 1-row totals attached; outputs
    floor-quantize.

    Scale design: one corpus pass to user grain, one keyed rollup to
    ≤10 bins, one 1-row totals fold, one bounded fold with the totals
    attached — no joins beyond the 1-row attach, no windows, no
    Python."""
    ev = table(spark, sf_dir, "events")
    n_ev = F.count(F.lit(1))
    n_click = F.count(F.when(F.col("event_type") == "click", 1))
    n_purch = F.count(F.when(F.col("event_type") == "purchase", 1))
    u = ev.groupBy("user_id").agg(
        (F.floor(n_click.cast("double") / n_ev * 1e6) / 1e6).alias("p"),
        F.when(5 * n_purch > n_ev, 1).otherwise(0).alias("y"),
    )
    binned = u.select(
        F.least(
            F.lit(_BRIER_BINS - 1),
            F.floor(F.col("p") * _BRIER_BINS).cast("long"),
        ).alias("bin"),
        "p",
        "y",
    )
    big = "decimal(38,0)"
    cells = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum(F.floor(F.col("p") * 1e6).cast(big)).alias("p_micro"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(
            F.floor(
                (F.col("p") - F.col("y"))
                * (F.col("p") - F.col("y"))
                * 1e12
            ).cast(big)
        ).alias("sq_pico"),
    )
    cells = cells.localCheckpoint(eager=True)  # ≤10 rows, two consumers
    tot = cells.agg(
        F.sum("n_b").cast("long").alias("n"),
        F.sum("n_pos").cast("long").alias("pos"),
        F.count(F.lit(1)).cast("long").alias("n_bins_used"),
        (F.sum("sq_pico").cast("double") / 1e12).alias("brier_sum"),
    )
    conf = F.col("p_micro").cast("double") / 1e6 / F.col("n_b")
    acc = F.col("n_pos").cast("double") / F.col("n_b")
    base = F.col("pos").cast("double") / F.col("n")
    comp = (
        cells.crossJoin(F.broadcast(tot))
        .groupBy("n", "pos", "n_bins_used", "brier_sum")
        .agg(
            pico_sum(F.col("n_b") * (conf - acc) * (conf - acc)).alias(
                "rel_sum"
            ),
            pico_sum(F.col("n_b") * (acc - base) * (acc - base)).alias(
                "res_sum"
            ),
        )
    )
    nn = F.col("n")
    unc = base * (1 - base)
    return comp.select(
        nn.alias("n_users"),
        F.col("n_bins_used"),
        fquant(F.col("brier_sum") / nn).alias("brier"),
        fquant(F.col("rel_sum") / nn).alias("reliability"),
        fquant(F.col("res_sum") / nn).alias("resolution"),
        fquant(unc).alias("uncertainty"),
        fquant(1 - (F.col("brier_sum") / nn) / unc).alias(
            "brier_skill_score"
        ),
    )


# ---------------------------------------------------------------------------
# orders_zero_inflation_score — STAGED for the r16 cadence (parked
# unregistered; SURVEY round-14 log). Van den Broek's score test for
# zero inflation against the Poisson null on per-(customer, 1995-
# quarter) order counts: the distribution-choice gate the count family
# needs — events_nb_fit fits the overdispersed alternative and
# events_dispersion_index reads variance/mean, but "too many zeros
# specifically" is its own failure mode (ZIP vs NB is a real modeling
# fork) and the score test answers it WITHOUT fitting the ZIP model.
# ---------------------------------------------------------------------------

_ZIP_CHI2_CRIT = 3.841458820694124  # chi2(1) at 5% — pinned literal
_ZIP_YEAR = 1995

_ZIP_ORACLE = f"""
WITH c AS (
  SELECT DISTINCT o_custkey AS ck FROM orders
), q AS (
  SELECT unnest([1, 2, 3, 4]) AS qq
), cnt AS (
  SELECT o_custkey AS ck, quarter(o_orderdate) AS qq,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM orders WHERE year(o_orderdate) = {_ZIP_YEAR} GROUP BY 1, 2
), cells AS (
  SELECT COALESCE(cnt.y, 0) AS y
  FROM c CROSS JOIN q LEFT JOIN cnt ON cnt.ck = c.ck AND cnt.qq = q.qq
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE y = 0) AS BIGINT) AS n0,
         CAST(SUM(y) AS BIGINT) AS sy
  FROM cells
), p AS (
  SELECT n, n0, sy,
         CAST(sy AS DOUBLE) / n AS lam,
         exp(-(CAST(sy AS DOUBLE) / n)) AS p0
  FROM s
)
SELECT n AS n_cells, n0 AS n_zero,
       FLOOR(lam * 1e6) / 1e6 AS lambda_hat,
       FLOOR(p0 * 1e6) / 1e6 AS p0_poisson,
       FLOOR((n0 - n * p0) * (n0 - n * p0)
             / (n * p0 * (1 - p0) - n * lam * p0 * p0)
             * 1e6) / 1e6 AS score_stat,
       FLOOR((n0 - n * p0) * (n0 - n * p0)
             / (n * p0 * (1 - p0) - n * lam * p0 * p0)
             * 1e6) / 1e6 > {_ZIP_CHI2_CRIT!r}
         AS zero_inflated
FROM p
"""


def orders_zero_inflation_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """S = (n₀ − n·p̃₀)² / (n·p̃₀(1−p̃₀) − n·ȳ·p̃₀²) with p̃₀ = e^(−ȳ)
    over the customer × 1995-quarter count panel (zeros kept via the
    literal quarter spine — the cochran_q keyed-LEFT-join lesson),
    against the pinned χ²(1) 5% value. S large reads "more zeros than
    any Poisson with this mean can produce → fit ZIP/hurdle, not
    Poisson"; the fixture's near-Poisson panel is the honest null
    readout the referee must NOT reject.

    Cross-engine exactness: n, n₀ and Σy are exact integers; λ̂ is one
    division; exp() runs on bit-identical doubles (the entropy/BH
    precedent); the statistic is one fixed-order double expression,
    floor-quantized before the verdict compare.

    Scale design: the count rollup is keyed and map-side-combinable;
    the spine is customers × a 4-element literal explode (no join for
    the cross; the zero-keeping join is keyed on (ck, q)); one 1-row
    fold. Customers are corpus-dimension but never collected."""
    o = table(spark, sf_dir, "orders")
    custs = o.select(F.col("o_custkey").alias("ck")).distinct()
    spine = custs.select(
        "ck",
        F.explode(F.array(*[F.lit(i) for i in (1, 2, 3, 4)])).alias(
            "qq"
        ),
    )
    cnt = (
        o.where(F.year("o_orderdate") == _ZIP_YEAR)
        .groupBy(
            F.col("o_custkey").alias("ck"),
            F.quarter("o_orderdate").alias("qq"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    cells = spine.join(cnt, ["ck", "qq"], "left").select(
        F.coalesce(F.col("y"), F.lit(0)).alias("y")
    )
    s = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_if(F.col("y") == 0).cast("long").alias("n0"),
        F.sum("y").cast("long").alias("sy"),
    )
    n, n0 = F.col("n"), F.col("n0")
    lam = F.col("sy").cast("double") / n
    p0 = F.exp(-lam)
    stat = fquant(
        (n0 - n * p0) * (n0 - n * p0)
        / (n * p0 * (1 - p0) - n * lam * p0 * p0)
    )
    return s.select(
        n.alias("n_cells"),
        n0.alias("n_zero"),
        fquant(lam).alias("lambda_hat"),
        fquant(p0).alias("p0_poisson"),
        stat.alias("score_stat"),
        (stat > _ZIP_CHI2_CRIT).alias("zero_inflated"),
    )


# ---------------------------------------------------------------------------
# lineitem_bullwhip_ratio — STAGED for the r16 cadence (parked
# unregistered; SURVEY round-14 log). Bullwhip ratio: variance
# amplification between what customers ORDER (monthly quantity by
# order date) and what the chain SHIPS (monthly quantity by ship
# date) — BW = CV²(ordered)/CV²(shipped). The supply-chain dynamics
# member of the lineitem family (EOQ sizes lots, newsvendor stocks,
# ABC classifies; bullwhip reads the demand-signal distortion Lee et
# al. 1997 made famous). BW > 1 means upstream sees a NOISIER signal
# than it fulfills.
# ---------------------------------------------------------------------------

_BW_ORACLE = f"""
WITH ordered AS (
  SELECT (year(o.o_orderdate) * 12 + month(o.o_orderdate)) AS m,
         {oracle_sum('l.l_quantity')} AS q
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1
), shipped AS (
  SELECT (year(l_shipdate) * 12 + month(l_shipdate)) AS m,
         {oracle_sum('l_quantity')} AS q
  FROM lineitem GROUP BY 1
), u AS (
  SELECT 'ordered' AS series, m, q FROM ordered
  UNION ALL SELECT 'shipped', m, q FROM shipped
), s1 AS (
  SELECT series, CAST(COUNT(*) AS BIGINT) AS n,
         {oracle_sum('q')} AS sq
  FROM u GROUP BY 1
), s2 AS (
  SELECT u.series, n,
         {oracle_pico_sum(
             '(q / (sq / n) - 1) * (q / (sq / n) - 1)'
         )} AS sxx
  FROM u JOIN s1 ON s1.series = u.series
  GROUP BY u.series, n
), w AS (
  SELECT MAX(CASE WHEN series = 'ordered' THEN n END) AS n_o,
         MAX(CASE WHEN series = 'shipped' THEN n END) AS n_s,
         MAX(CASE WHEN series = 'ordered' THEN sxx / (n - 1) END)
           AS cv2_o,
         MAX(CASE WHEN series = 'shipped' THEN sxx / (n - 1) END)
           AS cv2_s
  FROM s2
)
SELECT n_o AS n_months_ordered, n_s AS n_months_shipped,
       FLOOR(cv2_o * 1e6) / 1e6 AS cv2_ordered,
       FLOOR(cv2_s * 1e6) / 1e6 AS cv2_shipped,
       FLOOR(cv2_o / cv2_s * 1e6) / 1e6 AS bullwhip_ratio,
       FLOOR(cv2_o / cv2_s * 1e6) / 1e6 > 1 AS amplifying
FROM w
"""


def lineitem_bullwhip_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BW = CV²(monthly ordered qty) / CV²(monthly shipped qty), with
    CV² computed as Σ(q/q̄ − 1)²/(n−1) per series — the mean-relative
    form makes CV² literally the variance of the normalized series, so
    the ratio is scale-free by construction. BW > 1 (quantized
    compare) reads "order-date demand is noisier than ship-date
    fulfillment": the shipping schedule smooths the signal.

    Cross-engine exactness: both monthly rollups are decimal-exact;
    the per-series mean normalization rides a 2-row stats attach; the
    squared-deviation folds pico-quantize over the calendar-bounded
    month frames; outputs floor-quantize.

    Scale design: the lineitem⋈orders date lookup is the corpus'
    keyed equi-join (deliberately NOT broadcast — orders is
    corpus-dimension); both rollups map-side combine to ~80 months;
    everything after is algebra on ≤ 160 metadata rows (one keyed
    2-row attach, one 2-row pivot)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    ordered = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "m"
            )
        )
        .agg(dsum("l_quantity").alias("q"))
        .select(F.lit("ordered").alias("series"), "m", "q")
    )
    shipped = (
        li.groupBy(
            (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("m")
        )
        .agg(dsum("l_quantity").alias("q"))
        .select(F.lit("shipped").alias("series"), "m", "q")
    )
    u = ordered.unionAll(shipped)
    u = u.localCheckpoint(eager=True)  # ≤160-row frame, two consumers
    # dsum_wide: q is a MONTHLY quantity total (corpus-growing);
    # calendar-bounded fold, wide is free (r15 audit).
    s1 = u.groupBy("series").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum_wide(F.col("q")).alias("sq"),
    )
    xdev = F.col("q") / (F.col("sq") / F.col("n")) - 1
    s2 = (
        u.join(F.broadcast(s1), "series")
        .groupBy("series", "n")
        .agg(pico_sum(xdev * xdev).alias("sxx"))
    )
    cv2 = F.col("sxx") / (F.col("n") - 1)
    w = s2.agg(
        F.max(F.when(F.col("series") == "ordered", F.col("n"))).alias(
            "n_o"
        ),
        F.max(F.when(F.col("series") == "shipped", F.col("n"))).alias(
            "n_s"
        ),
        F.max(F.when(F.col("series") == "ordered", cv2)).alias("cv2_o"),
        F.max(F.when(F.col("series") == "shipped", cv2)).alias("cv2_s"),
    )
    bw = fquant(F.col("cv2_o") / F.col("cv2_s"))
    return w.select(
        F.col("n_o").alias("n_months_ordered"),
        F.col("n_s").alias("n_months_shipped"),
        fquant(F.col("cv2_o")).alias("cv2_ordered"),
        fquant(F.col("cv2_s")).alias("cv2_shipped"),
        bw.alias("bullwhip_ratio"),
        (bw > 1).alias("amplifying"),
    )
