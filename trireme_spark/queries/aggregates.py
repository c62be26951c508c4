"""Aggregations — SURVEY.md §2.4 (a1–a9).

All hash aggregations: Catalyst plans partial (map-side) + final aggregation
automatically, so every groupBy here scales by shuffling only the partially
aggregated state, not raw rows. Double sums go through the parity bridge
(see :mod:`trireme_spark.parity`) to hash-match the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from trireme_spark.parity import (
    DSCALE,
    davg,
    dsum,
    dsum_wide,
    fquant,
    meta_part,
    oracle_avg,
    oracle_sum,
)
from trireme_spark.registry import register
from trireme_spark.sources.io import table

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_A1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {oracle_sum('l_quantity')} AS sum_qty,
       {oracle_sum('l_extendedprice')} AS sum_base_price,
       {oracle_sum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {oracle_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {oracle_avg('l_quantity')} AS avg_qty,
       {oracle_avg('l_extendedprice')} AS avg_price,
       {oracle_avg('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register("agg_pricing_summary", oracle=_A1_ORACLE)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a1 — TPC-H Q1-shaped pricing summary (the flagship / ``entry()``).

    Plan shape at any scale: vectorized parquet scan with the shipdate
    predicate pushed to row-group stats → whole-stage-codegen'd project →
    partial hash agg → shuffle on (returnflag, linestatus) [9 groups → tiny]
    → final hash agg. The only shuffle carries ~9 rows per map task.
    """
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_A2_ORACLE = f"""
SELECT COUNT(*) AS n_rows,
       {oracle_sum('l_extendedprice')} AS total_price,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price,
       {oracle_avg('l_quantity')} AS avg_qty,
       COUNT(DISTINCT l_suppkey) AS n_suppliers
FROM lineitem
"""


@register("agg_global", oracle=_A2_ORACLE)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a2 — grand-total aggregates (no GROUP BY): a single partial-agg
    tree that reduces to one row; min/max of stored doubles are exact."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_extendedprice").alias("total_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        davg("l_quantity").alias("avg_qty"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


_A3_ORACLE = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


@register("agg_count_distinct", oracle=_A3_ORACLE)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a3 — exact COUNT(DISTINCT): Catalyst expands to a two-phase
    aggregate (distinct on (type, user) then count) — no driver-side set."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register("agg_approx_distinct")  # rows-only: sketches differ across engines
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a4 — HLL++ approximate distinct (rsd=0.01).

    The 100 TB path: approx_count_distinct shuffles fixed-size sketches
    instead of the distinct tuples themselves. Accuracy vs the exact count
    is asserted in tests/test_quality.py, not by the value oracle (DuckDB's
    sketch differs)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    )


@register("agg_hll_sketch_union")  # rows-only: sketch bytes are engine-specific
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a4b — MERGEABLE distinct-count sketches (Apache DataSketches HLL).

    The 100 TB pre-aggregation pattern: build one fixed-size sketch per
    (event_type, day) partition — exactly what a daily rollup job would
    persist — then union sketches at query time instead of rescanning raw
    data. Estimate accuracy vs exact is asserted in tests/test_quality.py.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id", 14).alias("sk"))
    return daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )


@register("agg_approx_percentile")  # rows-only: sketches differ across engines
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a7b — approximate percentiles (Greenwald-Khanna sketch,
    accuracy=10000 → ±0.01% rank error).

    The 100 TB path for quantiles: exact percentile buffers every value per
    group; approx_percentile shuffles a bounded sketch. Error vs the exact
    quantile is asserted in tests/test_quality.py."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000)).alias(
            "approx_median"
        ),
        F.approx_percentile("o_totalprice", F.lit(0.9), F.lit(10000)).alias(
            "approx_p90"
        ),
    )


_A5_ORACLE = f"""
SELECT 'rollup' AS mode, l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       COUNT(*) AS n, {oracle_sum('l_quantity')} AS sum_qty
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
UNION ALL
SELECT 'cube' AS mode, l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       COUNT(*) AS n, {oracle_sum('l_quantity')} AS sum_qty
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
"""


@register("agg_grouping_sets", oracle=_A5_ORACLE)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a5 — ROLLUP + CUBE with grouping_id (bit order verified identical
    to DuckDB's GROUPING: first groupBy column = most significant bit)."""
    li = table(spark, sf_dir, "lineitem")

    def agg(grouped, mode):
        return grouped.agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            dsum("l_quantity").alias("sum_qty"),
        ).select(
            F.lit(mode).alias("mode"),
            "l_returnflag",
            "l_linestatus",
            "gid",
            "n",
            "sum_qty",
        )

    ro = agg(li.rollup("l_returnflag", "l_linestatus"), "rollup")
    cu = agg(li.cube("l_returnflag", "l_linestatus"), "cube")
    return ro.unionByName(cu)


_A6_ORACLE = """
SELECT event_type,
       array_to_string(list(DISTINCT user_id ORDER BY user_id), ',') AS users_sorted,
       array_to_string(list(event_id ORDER BY event_id DESC)[1:5], ',') AS latest_ids
FROM events GROUP BY event_type
"""


@register("agg_collect", oracle=_A6_ORACLE)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a6 — collect_list/collect_set, wrapped deterministic (sorted /
    sliced) because bare collect order is partition-dependent.

    The arrays are serialized with ``array_join`` (mirrored by DuckDB's
    ``array_to_string``) because the grading driver's pandas canonicalizer
    cannot sort/hash ndarray-valued cells (r1: ``TypeError: unhashable
    type: 'numpy.ndarray'``). collect_set/collect_list stay exercised; the
    output cells become hashable scalars.
    """
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.array_join(
            F.sort_array(F.collect_set("user_id")).cast("array<string>"), ","
        ).alias("users_sorted"),
        F.array_join(
            F.slice(
                F.sort_array(F.collect_list("event_id"), asc=False), 1, 5
            ).cast("array<string>"),
            ",",
        ).alias("latest_ids"),
    )


_A7_ORACLE = """
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
       COUNT(*) AS n
FROM orders GROUP BY o_orderpriority
"""


@register("agg_percentile", oracle=_A7_ORACLE)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a7 — exact interpolated percentiles (Spark ``percentile`` ≙ DuckDB
    ``quantile_cont``), rounded to absorb sub-ulp interpolation diffs."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", 0.5), 4).alias("median_price"),
        F.round(F.percentile("o_totalprice", 0.9), 4).alias("p90_price"),
        F.count(F.lit(1)).alias("n"),
    )


_A8_ORACLE = f"""
SELECT user_id % 10 AS cohort,
       {oracle_sum("CASE WHEN event_type = 'click' THEN value END")} AS click,
       {oracle_sum("CASE WHEN event_type = 'error' THEN value END")} AS error,
       {oracle_sum("CASE WHEN event_type = 'purchase' THEN value END")} AS purchase,
       {oracle_sum("CASE WHEN event_type = 'signup' THEN value END")} AS signup,
       {oracle_sum("CASE WHEN event_type = 'view' THEN value END")} AS view
FROM events GROUP BY user_id % 10
"""


@register("agg_pivot", oracle=_A8_ORACLE)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a8 — pivot event_type → columns.

    The pivot value list is explicit: without it Spark runs an extra
    distinct-collect job over the full table just to learn the columns —
    wasteful at fixture scale, prohibitive at 100 TB."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy((F.col("user_id") % 10).alias("cohort"))
        .pivot("event_type", EVENT_TYPES)
        .agg(dsum("value"))
    )


_A9_ORACLE = """
SELECT l_returnflag,
       ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
       ROUND(var_samp(l_quantity), 6) AS var_qty,
       ROUND(corr(l_extendedprice, l_quantity), 8) AS corr_price_qty,
       ROUND(covar_samp(l_extendedprice, l_quantity), 4) AS covar_price_qty
FROM lineitem GROUP BY l_returnflag
"""


@register("agg_stats", oracle=_A9_ORACLE)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a9 — statistical aggregates. These have no exact decimal bridge
    (merge formulas are inherently float), so both sides round coarsely
    enough that cross-engine error (~1e-12 relative) cannot straddle a
    boundary."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 8).alias(
            "corr_price_qty"
        ),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias(
            "covar_price_qty"
        ),
    )


_A10_ORACLE = """
SELECT event_type,
       regr_count(value, CAST(epoch_ms(ts) AS DOUBLE) / 1000.0) AS n,
       ROUND(regr_slope(value, CAST(epoch_ms(ts) AS DOUBLE) / 1000.0) * 1e6,
             6) AS slope_per_mega_sec,
       ROUND(regr_intercept(value, CAST(epoch_ms(ts) AS DOUBLE) / 1000.0),
             4) AS intercept,
       ROUND(regr_r2(value, CAST(epoch_ms(ts) AS DOUBLE) / 1000.0), 6) AS r2
FROM events GROUP BY event_type
"""


@register("agg_regression", oracle=_A10_ORACLE)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a10 (addendum) — OLS regression aggregates (slope / intercept / R²
    of value over event time, per type): one pass of decomposable
    sufficient statistics, so they map-side combine like any sum — the
    built-in way to fit 1-D trends at 100 TB without collecting anything.

    The x axis is epoch MILLISECONDS / 1000 on BOTH sides: Spark's
    unix_timestamp truncates to whole seconds while DuckDB's epoch()
    keeps fractional seconds — unix_millis/epoch_ms agree exactly.
    Results rounded like the other inexact stats (a9); the slope is
    scaled to per-10⁶-seconds before rounding, since raw per-second
    slopes are ~1e-7 where 6-decimal rounding would erase the value."""
    ev = table(spark, sf_dir, "events")
    # ts arrives TIMESTAMP_NTZ (naive parquet annotation); unix_millis
    # requires LTZ, and prep() pins the session to UTC so the cast
    # interprets the wall-clock exactly like DuckDB's naive epoch_ms.
    x = F.unix_millis(F.col("ts").cast("timestamp")).cast("double") / F.lit(
        1000.0
    )
    return ev.groupBy("event_type").agg(
        F.regr_count("value", x).alias("n"),
        F.round(F.regr_slope("value", x) * 1e6, 6).alias(
            "slope_per_mega_sec"
        ),
        F.round(F.regr_intercept("value", x), 4).alias("intercept"),
        F.round(F.regr_r2("value", x), 6).alias("r2"),
    )


_ARGMAX_ORACLE = """
SELECT o_custkey,
       o_totalprice AS top_price,
       o_orderkey AS top_orderkey
FROM (
  SELECT o_custkey, o_totalprice, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
"""


@register("agg_argmax_struct", oracle=_ARGMAX_ORACLE)
def agg_argmax_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax via struct ordering — each customer's highest-priced order,
    carried as max(struct(price, key)) so the whole answer rides ONE
    map-side-combinable aggregation instead of the window-rank-filter
    plan (no per-group sort, no second pass; ties break on the larger
    orderkey, mirrored in the oracle's ORDER BY). The canonical
    "max_by with a deterministic tiebreak" idiom at scale: state per
    group is one struct, and partial aggregation collapses each task's
    groups before the single exchange."""
    o = table(spark, sf_dir, "orders")
    top = F.max(
        F.struct(
            F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")
        )
    ).alias("top")
    return o.groupBy("o_custkey").agg(top).select(
        "o_custkey",
        F.col("top.p").alias("top_price"),
        F.col("top.k").alias("top_orderkey"),
    )


# ---------------------------------------------------------------------------
# agg_boolean_countif — conditional-count / boolean aggregate surface
# ---------------------------------------------------------------------------

_BOOL_ORACLE = """
SELECT event_type,
       CAST(count_if(value > 50) AS BIGINT) AS n_high,
       CAST(count_if(value IS NULL) AS BIGINT) AS n_null,
       bool_and(value > 0) AS all_positive,
       bool_or(value > 90) AS any_extreme
FROM events
GROUP BY event_type
"""


@register("agg_boolean_countif", oracle=_BOOL_ORACLE)
def agg_boolean_countif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate surface: count_if / bool_and / bool_or per
    event_type — the data-quality predicates every monitoring rollup is
    made of ("how many rows violate X", "does every row satisfy Y").

    All four metrics are decomposable boolean algebra, so the whole
    answer is ONE map-side-combined hash aggregate over one scan —
    adding predicates adds expressions, never passes (the same design
    rule as etl_expectations, here on the raw aggregate surface).
    NULL semantics are the cross-engine trap this key pins: count_if
    counts only TRUE (a NULL predicate is not TRUE in either engine)
    and bool_and/bool_or skip NULL inputs; n_null makes the NULL
    population explicit so the oracle hash would catch any drift."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 50).alias("n_high"),
        F.count_if(F.col("value").isNull()).alias("n_null"),
        F.bool_and(F.col("value") > 0).alias("all_positive"),
        F.bool_or(F.col("value") > 90).alias("any_extreme"),
    )


# ---------------------------------------------------------------------------
# agg_bitmap_distinct — mergeable EXACT distinct via Spark-4 bitmap aggs
# ---------------------------------------------------------------------------

_BITMAP_ORACLE = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
"""


@register("agg_bitmap_distinct", oracle=_BITMAP_ORACLE)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event_type computed as a MERGEABLE bitmap
    rollup (Spark 4 bitmap_* aggregates) instead of a COUNT(DISTINCT)
    expand — the pre-aggregation pattern behind exact-distinct OLAP
    cubes: daily partials keep one bitmap per (key, 32k-id bucket),
    later grains merge partials with bitmap_or_agg and never rescan
    facts, and unlike HLL (a4 / the sketch keys) the merge is exact.

    Plan shape: level 1 groups by (event_type, day, bucket) and
    collapses each group to a fixed 4 KB bitmap via
    bitmap_construct_agg (map-side combinable — the shuffle carries
    bitmaps, not user ids); level 2 OR-merges the daily partials per
    (event_type, bucket); the final count is a sum of per-bucket
    popcounts. The oracle runs the plain COUNT(DISTINCT), pinning the
    bitmap pipeline's exactness end-to-end."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.bitmap_bucket_number(F.col("user_id")).alias("bucket"),
    ).agg(
        F.bitmap_construct_agg(
            F.bitmap_bit_position(F.col("user_id"))
        ).alias("bm")
    )
    merged = daily.groupBy("event_type", "bucket").agg(
        F.bitmap_or_agg(F.col("bm")).alias("bm")
    )
    return merged.groupBy("event_type").agg(
        F.sum(F.bitmap_count(F.col("bm"))).alias("n_users")
    )


# ---------------------------------------------------------------------------
# agg_listagg_ordered — SQL:2023 LISTAGG ... WITHIN GROUP
# ---------------------------------------------------------------------------

_LISTAGG_ORACLE = """
SELECT o_orderpriority,
       string_agg(o_orderstatus, ',' ORDER BY o_orderkey) AS statuses,
       string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus)
           AS distinct_statuses
FROM orders
WHERE o_orderkey <= 200
GROUP BY o_orderpriority
"""


@register("agg_listagg_ordered", oracle=_LISTAGG_ORACLE)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2023 LISTAGG ... WITHIN GROUP (ORDER BY ...) — the standard
    ordered string aggregation Spark 4 added (a6's collect_list +
    sort_array expresses the same result as array algebra; this key
    covers the STANDARD surface, including the DISTINCT variant, so
    SQL written for other warehouses runs verbatim).

    The WITHIN GROUP ordering makes the concatenation deterministic
    under any partitioning — without it LISTAGG output depends on
    arrival order and can't be value-checked (or trusted in
    production). Bounded input slice keeps oracle strings short; the
    plan is one partial+final aggregation either way."""
    table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") <= 200
    ).createOrReplaceTempView("trireme_orders_listagg")
    return spark.sql(
        """
        SELECT o_orderpriority,
               listagg(o_orderstatus, ',')
                   WITHIN GROUP (ORDER BY o_orderkey) AS statuses,
               listagg(DISTINCT o_orderstatus, '|')
                   WITHIN GROUP (ORDER BY o_orderstatus)
                   AS distinct_statuses
        FROM trireme_orders_listagg
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# agg_grouping_sets_explicit — hand-picked grouping sets
# ---------------------------------------------------------------------------

_GSETS_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       COUNT(*) AS n, {oracle_sum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@register("agg_grouping_sets_explicit", oracle=_GSETS_ORACLE)
def agg_grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the hand-picked aggregation lattice
    (per-flag, per-status, grand total — WITHOUT the cross
    combinations a CUBE would add): the report-workload shape where
    rollup/cube (a5) compute strictly more than the dashboard needs.

    Plans as one Expand (3 replicas — exactly the requested sets, vs
    4 for cube) into one partial+final aggregate; grouping_id
    disambiguates the NULL-as-total rows from genuine NULL keys, bit
    order pinned identical to DuckDB's GROUPING."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "trireme_li_gsets"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping_id(l_returnflag, l_linestatus) AS gid,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)
                   AS sum_qty
        FROM trireme_li_gsets
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# ---------------------------------------------------------------------------
# agg_percentile_disc — SQL-standard discrete percentile
# ---------------------------------------------------------------------------

_PDISC_ORACLE = """
SELECT o_orderpriority,
       quantile_disc(o_totalprice, 0.5) AS median_disc,
       quantile_disc(o_totalprice, 0.9) AS p90_disc
FROM orders GROUP BY o_orderpriority
"""


@register("agg_percentile_disc", oracle=_PDISC_ORACLE)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard PERCENTILE_DISC ... WITHIN GROUP: the DISCRETE
    quantile — an actual data value, never an interpolation (a7 covers
    the continuous form). Load-bearing distinction for monetary and
    latency reporting: the interpolated median of an even-sized group
    is a price nobody paid; the discrete one is auditable back to a
    row. Value parity is exact by construction — both engines return a
    stored double, no arithmetic to drift."""
    table(spark, sf_dir, "orders").createOrReplaceTempView(
        "trireme_orders_pdisc"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)
                   AS median_disc,
               percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)
                   AS p90_disc
        FROM trireme_orders_pdisc
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# agg_corr_matrix — pairwise correlation matrix in one pass
# ---------------------------------------------------------------------------

_CORRM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

_CORRM_ORACLE = " UNION ALL ".join(
    f"SELECT '{a}' AS var_a, '{b}' AS var_b, "
    f"ROUND(corr({a}, {b}), 6) AS r FROM lineitem"
    for i, a in enumerate(_CORRM_COLS)
    for b in _CORRM_COLS[i + 1 :]
)


@register("agg_corr_matrix", oracle=_CORRM_ORACLE)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation matrix over the lineitem measures — the EDA
    opener of every modeling effort ("which features are redundant")
    and the statistical sibling of embed_gram_matrix's second moments.
    All six upper-triangle pairs compute in ONE aggregation over ONE
    scan: corr is decomposable sufficient statistics (the regr_*
    doctrine), so adding variables grows expressions quadratically but
    passes not at all — against the naive per-pair scan loop the
    oracle's UNION spells out.

    Correlations round at 6 dp (ratio of large co-moment sums — the
    ≤1e-9-relative cross-engine band the a9/stats keys established)."""
    li = table(spark, sf_dir, "lineitem")
    aggs = []
    names = []
    for i, a in enumerate(_CORRM_COLS):
        for b in _CORRM_COLS[i + 1 :]:
            aggs.append(F.round(F.corr(a, b), 6).alias(f"r_{i}_{b}"))
            names.append((a, b, f"r_{i}_{b}"))
    wide = li.agg(*aggs)
    # unpivot the 1-row wide result into (var_a, var_b, r) rows
    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("var_a"),
                F.lit(b).alias("var_b"),
                F.col(c).alias("r"),
            )
            for a, b, c in names
        ]
    )
    return wide.select(F.explode(pairs).alias("p")).select(
        "p.var_a", "p.var_b", "p.r"
    )


# ---------------------------------------------------------------------------
# agg_skewness_kurtosis — higher-moment stats, bias correction bridged
# ---------------------------------------------------------------------------

_SKEW_ORACLE = """
WITH s AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS DOUBLE) AS n,
         skewness(o_totalprice) AS g1_sample,
         kurtosis(o_totalprice) AS g2_sample
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       CAST(n AS BIGINT) AS n,
       ROUND(g1_sample * (n - 2) / sqrt(n * (n - 1)), 6) AS skew,
       ROUND((g2_sample * (n - 2) * (n - 3) / (n - 1) - 6) / (n + 1), 6)
           AS kurt
FROM s
"""


@register("agg_skewness_kurtosis", oracle=_SKEW_ORACLE)
def agg_skewness_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher central moments per group: skewness and excess kurtosis —
    the distribution-shape diagnostics behind heavy-tail detection and
    the inputs to the anomaly keys' normality assumptions.

    THE cross-engine trap this key pins: Spark computes POPULATION
    moment ratios (g1, g2) while DuckDB applies the SAMPLE bias
    corrections (G1, G2 — the Fisher-Pearson adjusted forms) — a
    ~3/n relative gap that silently fails any value comparison. The
    oracle inverts DuckDB's corrections analytically
    (g1 = G1·(n−2)/√(n(n−1)); g2 = (G2·(n−2)(n−3)/(n−1) − 6)/(n+1)),
    so the check is exact to the 6-dp round rather than papered over
    with a loose tolerance. Decomposable sufficient statistics —
    map-side combine, one exchange."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.skewness("o_totalprice"), 6).alias("skew"),
        F.round(F.kurtosis("o_totalprice"), 6).alias("kurt"),
    )


# ---------------------------------------------------------------------------
# agg_weighted_median — weighted quantile via cumulative-weight cut
# ---------------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH w AS (
  SELECT l_returnflag, l_extendedprice AS price,
         CAST(SUM(CAST(l_quantity AS DECIMAL(27,6)))
              AS DECIMAL(27,6)) AS wt
  FROM lineitem GROUP BY l_returnflag, l_extendedprice
), c AS (
  SELECT l_returnflag, price, wt,
         SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY price
                       ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(wt) OVER (PARTITION BY l_returnflag) AS total
  FROM w
)
SELECT l_returnflag, MIN(price) AS weighted_median
FROM c WHERE 2 * cum >= total
GROUP BY l_returnflag
"""


@register("agg_weighted_median", oracle=_WMEDIAN_ORACLE)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median per group — smallest price whose cumulative
    quantity-weight reaches half the group's total: the
    revenue/volume-correct center ("half the UNITS ship at or below
    this price"), which the plain median (a7) cannot express.

    Exactness: weights collapse per distinct (group, value) FIRST
    (decimal-exact), the running total is a keyed cumulative window,
    and the cut compares 2·cum ≥ total in exact decimal — no division
    can wobble the cut row (the pareto_abc doctrine).

    Scale design: the collapse is one partial+final agg; the window
    partitions by group (parallelism = |groups|, no global window);
    per-group distinct prices bound the window rows. The documented
    corpus-keyed swap is approx_percentile over weight-replicated
    buckets; this key is the exact tier."""
    li = table(spark, sf_dir, "lineitem")
    w = li.groupBy(
        "l_returnflag", F.col("l_extendedprice").alias("price")
    ).agg(F.sum(F.col("l_quantity").cast(DSCALE)).alias("wt"))
    win = (
        Window.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = w.select(
        "l_returnflag",
        "price",
        F.sum("wt").over(win).alias("cum"),
        F.sum("wt").over(Window.partitionBy("l_returnflag")).alias("total"),
    )
    return (
        c.where(2 * F.col("cum") >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(F.min("price").alias("weighted_median"))
    )


# ---------------------------------------------------------------------------
# agg_hll_intersection — sketch set algebra via inclusion-exclusion
# ---------------------------------------------------------------------------

@register("agg_hll_intersection")  # rows-only: sketch estimates are
# engine-specific; tests/test_quality.py gates the error vs exact
def agg_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience OVERLAP from mergeable sketches: |clickers ∩ purchasers|
    ≈ |A| + |B| − |A ∪ B| by inclusion-exclusion over HLL unions — the
    segment-overlap question every ad/analytics platform answers from
    persisted per-segment sketches WITHOUT rescanning raw events (the
    exact bitmap sibling is agg_bitmap_distinct; HLL trades exactness
    for fixed 16 KB state at any cardinality).

    Caveat pinned in the pytest gate: inclusion-exclusion compounds
    HLL error (three ±ε estimates), so the relative-error budget is
    wider than a single sketch's — and overlap estimates degrade as
    |A ∩ B| shrinks relative to |A ∪ B|; below ~5% overlap the bitmap
    tier is the honest tool.

    Scale design: one pass builds both segment sketches (conditional
    sketch aggs share the scan); the algebra is a 1-row projection."""
    ev = table(spark, sf_dir, "events")
    sk = ev.agg(
        F.hll_sketch_agg(
            F.when(F.col("event_type") == "click", F.col("user_id")), 14
        ).alias("sk_a"),
        F.hll_sketch_agg(
            F.when(F.col("event_type") == "purchase", F.col("user_id")), 14
        ).alias("sk_b"),
        F.hll_sketch_agg(
            F.when(
                F.col("event_type").isin("click", "purchase"),
                F.col("user_id"),
            ),
            14,
        ).alias("sk_u"),
    )
    return sk.select(
        F.round(F.hll_sketch_estimate("sk_a"), 1).alias("clickers"),
        F.round(F.hll_sketch_estimate("sk_b"), 1).alias("purchasers"),
        F.round(F.hll_sketch_estimate("sk_u"), 1).alias("union_est"),
        F.round(
            F.hll_sketch_estimate("sk_a")
            + F.hll_sketch_estimate("sk_b")
            - F.hll_sketch_estimate("sk_u"),
            1,
        ).alias("overlap_est"),
    )


# ---------------------------------------------------------------------------
# agg_geometric_mean — log-space aggregation (multiplicative metrics)
# ---------------------------------------------------------------------------

_GEOMEAN_ORACLE = """
SELECT o_orderpriority,
       ROUND(exp(CAST(SUM(CAST(ROUND(ln(o_totalprice), 12)
                             AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*)), 4) AS geomean_price
FROM orders GROUP BY o_orderpriority
"""


@register("agg_geometric_mean", oracle=_GEOMEAN_ORACLE)
def agg_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean per group via log-space aggregation
    (exp(mean(ln x))) — the correct average for multiplicative
    quantities (growth rates, price ratios, benchmark speedups), where
    the arithmetic mean systematically overstates.

    Exactness: per-row ln() quantizes to 12 dp BEFORE the
    order-independent decimal sum (the ln-ulp doctrine — raw double
    partials would make the sum partition-order-dependent), then one
    exp() on the 1-value-per-group result; ROUND(4) absorbs the final
    exp ulp. Decomposable — map-side combine, one exchange; a direct
    PRODUCT aggregate would overflow doubles at ~200 rows of 1e5-sized
    values, which is WHY log space is the scalable form."""
    o = table(spark, sf_dir, "orders")
    lg = F.round(F.log(F.col("o_totalprice")), 12).cast("decimal(38,12)")
    return o.groupBy("o_orderpriority").agg(
        F.round(
            F.exp(F.sum(lg).cast("double") / F.count(F.lit(1))), 4
        ).alias("geomean_price")
    )


# ---------------------------------------------------------------------------
# agg_distinct_grouping_sets — COUNT(DISTINCT) under the Expand operator
# ---------------------------------------------------------------------------

_DGS_ORACLE = """
SELECT o_orderpriority, o_orderstatus,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
"""


@register("agg_distinct_grouping_sets", oracle=_DGS_ORACLE)
def agg_distinct_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) under GROUPING SETS — the interaction the two
    features' separate keys (a3, a5) never exercise together, and a
    known planner stress point: Expand replicates every input row once
    PER grouping set BEFORE the distinct can collapse anything, so the
    pre-shuffle volume is |sets|·|rows| and the distinct needs its own
    two-phase rewrite on top — Catalyst plans Expand → partial
    distinct aggregate → exchange → final, which is the shape that
    keeps this feasible (a naive per-set UNION of distinct queries
    re-scans the table |sets| times instead).

    Value semantics pinned: the per-set distinct counts over
    DIFFERENT group keys (priority / status / grand total) must all
    come from one statement, NULL-filling the inactive key per set —
    identical NULL conventions both engines."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderpriority"], ["o_orderstatus"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.count_distinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# lineitem_price_index — Laspeyres price index by month
# ---------------------------------------------------------------------------

_LASPEYRES_ORACLE = """
WITH m AS (
  SELECT l_partkey,
         CAST(EXTRACT(year FROM l_shipdate) * 100
              + EXTRACT(month FROM l_shipdate) AS BIGINT) AS ym,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6)))
              AS DECIMAL(27,6)) AS spend,
         CAST(SUM(CAST(l_quantity AS DECIMAL(27,6)))
              AS DECIMAL(27,6)) AS qty
  FROM lineitem GROUP BY 1, 2
), base AS (
  SELECT l_partkey, spend / qty AS p0, qty AS q0
  FROM m WHERE ym = (SELECT MIN(ym) FROM m)
), idx AS (
  SELECT m.ym,
         CAST(SUM(CAST(ROUND(m.spend / m.qty * base.q0, 6)
                       AS DECIMAL(38,6))) AS DOUBLE) AS cur_basket,
         CAST(SUM(CAST(ROUND(base.p0 * base.q0, 6)
                       AS DECIMAL(38,6))) AS DOUBLE) AS base_basket
  FROM m JOIN base USING (l_partkey)
  GROUP BY m.ym
)
SELECT ym, CAST(FLOOR(cur_basket / base_basket * 1e6) AS BIGINT)
         AS index_ppm
FROM idx
"""


@register("lineitem_price_index", oracle=_LASPEYRES_ORACLE)
def lineitem_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index per month — base-month basket (q₀) priced
    at each month's unit prices vs base prices: Σp_t·q₀ / Σp₀·q₀ —
    the fixed-basket inflation measure (the index every "price
    change" dashboard actually wants, immune to quantity-mix drift by
    construction; Paasche/Fisher swap the basket weights in the same
    plan). Unit prices derive from spend/qty per (part, month) —
    only parts present in BOTH the base month and the current month
    contribute (the matched-basket rule).

    Exactness: spends and quantities are decimal-exact; per-part
    basket terms quantize to 6 dp before the order-independent sum;
    the final ratio ships as FLOOR-quantized parts-per-million
    (integer — no rounded-double repr risk at all).

    Scale: one (part, month) rollup; the base-month basket is a
    dimension-sized broadcast; index = one keyed agg per month."""
    li = table(spark, sf_dir, "lineitem")
    m = li.groupBy(
        "l_partkey",
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("long")
        .alias("ym"),
    ).agg(
        F.sum(F.col("l_extendedprice").cast(DSCALE)).alias("spend"),
        F.sum(F.col("l_quantity").cast(DSCALE)).alias("qty"),
    )
    base_ym = m.agg(F.min("ym")).first()[0]
    base = m.where(F.col("ym") == base_ym).select(
        "l_partkey",
        (F.col("spend") / F.col("qty")).alias("p0"),
        F.col("qty").alias("q0"),
    )
    cur_term = F.round(
        F.col("spend") / F.col("qty") * F.col("q0"), 6
    ).cast("decimal(38,6)")
    base_term = F.round(F.col("p0") * F.col("q0"), 6).cast("decimal(38,6)")
    idx = (
        m.join(base, "l_partkey")
        .groupBy("ym")
        .agg(
            F.sum(cur_term).cast("double").alias("cur_basket"),
            F.sum(base_term).cast("double").alias("base_basket"),
        )
    )
    return idx.select(
        "ym",
        F.floor(F.col("cur_basket") / F.col("base_basket") * 1e6)
        .cast("long")
        .alias("index_ppm"),
    )


# ---------------------------------------------------------------------------
# lineitem_abc_xyz — combined value/variability inventory classification
# ---------------------------------------------------------------------------

_ABCXYZ_ORACLE = """
WITH pm AS (
  SELECT l_partkey,
         CAST(EXTRACT(year FROM l_shipdate) * 100
              + EXTRACT(month FROM l_shipdate) AS BIGINT) AS ym,
         CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS q
  FROM lineitem GROUP BY 1, 2
), var AS (
  SELECT l_partkey, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(q AS DECIMAL(27,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(q * q AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM pm GROUP BY l_partkey HAVING COUNT(*) >= 3
), rev AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6)))
              AS DECIMAL(27,6)) AS r
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT rev.l_partkey, r,
         SUM(r) OVER (ORDER BY r DESC, l_partkey
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(r) OVER () AS tot
  FROM rev
), abc AS (
  SELECT l_partkey,
         CASE WHEN 5 * cum <= 4 * tot THEN 'A'
              WHEN 20 * cum <= 19 * tot THEN 'B'
              ELSE 'C' END AS abc_class
  FROM ranked
), xyz AS (
  SELECT l_partkey,
         FLOOR(sqrt((sxx - sx * sx / n) / (n - 1)) / (sx / n) * 1e6)
           / 1e6 AS cv
  FROM var
)
SELECT abc_class,
       CASE WHEN cv < 0.5 THEN 'X' WHEN cv < 1.0 THEN 'Y'
            ELSE 'Z' END AS xyz_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts
FROM abc JOIN xyz USING (l_partkey)
GROUP BY 1, 2
"""


@register("lineitem_abc_xyz", oracle=_ABCXYZ_ORACLE)
def lineitem_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory classification — the supply-chain planning
    matrix: ABC = cumulative revenue share (A = first 80%, B = next
    15%) crossed with XYZ = demand VARIABILITY (CV of monthly
    quantities: X steady <0.5, Y seasonal <1.0, Z erratic) — A×X
    items get automated replenishment, C×Z get made-to-order; the
    same matrix classifies corpus sources by token share × arrival
    stability.

    Exactness: ABC boundaries compare k·cum ≤ m·tot in exact DECIMAL
    (the pareto doctrine — no division can flip a class); CV from
    decimal-exact monthly sufficient stats, floor-quantized; parts
    need ≥3 active months (CV support floor).

    Scale: two part-keyed rollups; the revenue rank uses the
    dimension-sized cumulative (two-pass bucket rank is the
    corpus-keyed swap, per the Gini key); output is a ≤9-cell
    matrix."""
    li = table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        "l_partkey",
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("long")
        .alias("ym"),
    ).agg(F.sum(F.col("l_quantity").cast(DSCALE)).cast("double").alias("q"))
    var = (
        pm.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(F.col("q").cast(DSCALE)).cast("double").alias("sx"),
            F.sum((F.col("q") * F.col("q")).cast("decimal(38,6)"))
            .cast("double")
            .alias("sxx"),
        )
        .where(F.col("n") >= 3)
    )
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast(DSCALE)).alias("r")
    )
    w_cum = (
        Window.partitionBy(meta_part("l_partkey"))
        .orderBy(F.col("r").desc(), F.col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy(meta_part("l_partkey"))
    ranked = rev.select(
        "l_partkey",
        F.sum("r").over(w_cum).alias("cum"),
        F.sum("r").over(w_tot).alias("tot"),
    )
    abc = ranked.select(
        "l_partkey",
        F.when(5 * F.col("cum") <= 4 * F.col("tot"), "A")
        .when(20 * F.col("cum") <= 19 * F.col("tot"), "B")
        .otherwise("C")
        .alias("abc_class"),
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
    xyz = var.select(
        "l_partkey",
        F.when(cv < 0.5, "X").when(cv < 1.0, "Y").otherwise("Z").alias(
            "xyz_class"
        ),
    )
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


# ---------------------------------------------------------------------------
# supplier_return_rate_wilson — small-n-safe quality ranking
# ---------------------------------------------------------------------------

_WILSON_Z = 1.96

_WILSON_ORACLE = f"""
WITH s AS (
  SELECT l_suppkey, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R') AS DOUBLE) AS r
  FROM lineitem GROUP BY l_suppkey
), w AS (
  SELECT l_suppkey, n, r, r / n AS p,
         ((r / n) + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
          - {_WILSON_Z} * sqrt((r / n) * (1 - r / n) / n
              + {_WILSON_Z} * {_WILSON_Z} / (4 * n * n)))
           / (1 + {_WILSON_Z} * {_WILSON_Z} / n) AS lb
  FROM s
)
SELECT l_suppkey, CAST(n AS BIGINT) AS n_lines,
       CAST(r AS BIGINT) AS n_returns,
       FLOOR(p * 1e6) / 1e6 AS return_rate,
       FLOOR(lb * 1e6) / 1e6 AS wilson_lower
FROM w
ORDER BY FLOOR(lb * 1e6) / 1e6 DESC, l_suppkey LIMIT 25
"""


@register("supplier_return_rate_wilson", oracle=_WILSON_ORACLE)
def supplier_return_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst suppliers by RETURN RATE, ranked by the WILSON score lower
    bound — the small-sample-safe ranking (a supplier with 1 return in
    2 lines shows rate 0.5 but a wide interval; Wilson's lower bound
    ranks honest certainty, the same statistic behind "sort by best
    rated" done right). Raw-rate ranking — the naive version — is THE
    classic leaderboard bug this key pins the fix for.

    Exactness: n and r are exact counts; the Wilson expression is one
    double formula over identical operands both engines, floor-
    quantized at 1e-6 so both the ORDER and the displayed bound are
    hash-stable; the top-25 cut sorts on the QUANTIZED bound (tie-
    break suppkey).

    Scale: one supplier-keyed conditional count (map-side combined),
    a codegen'd formula projection, TakeOrderedAndProject."""
    li = table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count_if(F.col("l_returnflag") == "R")
        .cast("double")
        .alias("r"),
    )
    z = _WILSON_Z
    p = F.col("r") / F.col("n")
    lb = (
        p
        + z * z / (2 * F.col("n"))
        - z
        * F.sqrt(
            p * (1 - p) / F.col("n")
            + z * z / (4 * F.col("n") * F.col("n"))
        )
    ) / (1 + z * z / F.col("n"))
    qlb = F.floor(lb * 1e6) / 1e6
    return (
        s.select(
            "l_suppkey",
            F.col("n").cast("long").alias("n_lines"),
            F.col("r").cast("long").alias("n_returns"),
            (F.floor(p * 1e6) / 1e6).alias("return_rate"),
            qlb.alias("wilson_lower"),
        )
        .orderBy(F.col("wilson_lower").desc(), "l_suppkey")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# lineitem_eoq_replenishment — economic order quantity per part
# ---------------------------------------------------------------------------

_EOQ_S = 50.0  # fixed ordering cost per order
_EOQ_H_RATE = 0.2  # annual holding cost as a fraction of unit price

_EOQ_ORACLE = f"""
WITH d AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)
           AS annual_demand
  FROM lineitem GROUP BY l_partkey
)
SELECT d.l_partkey, CAST(annual_demand AS BIGINT) AS annual_demand,
       FLOOR(sqrt(2 * annual_demand * {_EOQ_S}
                  / ({_EOQ_H_RATE} * p.p_retailprice)) * 1e2) / 1e2
         AS eoq_units,
       CAST(CEIL(annual_demand
            / (FLOOR(sqrt(2 * annual_demand * {_EOQ_S}
                  / ({_EOQ_H_RATE} * p.p_retailprice)) * 1e2) / 1e2))
            AS BIGINT) AS orders_per_year
FROM d JOIN part p ON p.p_partkey = d.l_partkey
"""


@register("lineitem_eoq_replenishment", oracle=_EOQ_ORACLE)
def lineitem_eoq_replenishment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Economic Order Quantity per part — √(2DS/H) with demand D from
    the fact table and holding cost H from the part's price: the
    inventory-policy output the ABC-XYZ matrix feeds (A×X items get
    EOQ automation) — closing the supply-chain loop from
    classification to an actionable order size and cadence.

    Exactness: demand is decimal-exact; the EOQ formula is one double
    expression over identical operands, floor-quantized at 1e-2
    (units); orders/year ceilings on the QUANTIZED EOQ so both
    engines cut identically.

    Scale: one part-keyed rollup + a broadcast-or-shuffle dim join +
    a codegen'd formula — the plan of every per-entity policy
    computation."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    d = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast(DSCALE))
        .cast("double")
        .alias("annual_demand")
    )
    eoq = (
        F.floor(
            F.sqrt(
                2
                * F.col("annual_demand")
                * _EOQ_S
                / (_EOQ_H_RATE * F.col("p_retailprice"))
            )
            * 1e2
        )
        / 1e2
    )
    return d.join(p, d["l_partkey"] == p["p_partkey"]).select(
        "l_partkey",
        F.col("annual_demand").cast("long").alias("annual_demand"),
        eoq.alias("eoq_units"),
        F.ceil(F.col("annual_demand") / eoq).cast("long").alias(
            "orders_per_year"
        ),
    )


# ---------------------------------------------------------------------------
# orders_hhi_concentration — Herfindahl-Hirschman revenue concentration
# ---------------------------------------------------------------------------

_HHI_ORACLE = """
WITH c AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(18,2)) AS r
  FROM orders GROUP BY o_custkey
), t AS (
  SELECT CAST(SUM(CAST(r AS DECIMAL(18,2)) * CAST(r AS DECIMAL(18,2)))
              AS DOUBLE) AS sumsq,
         CAST(SUM(r) AS DOUBLE) AS tot,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM c
)
SELECT n AS n_customers,
       CAST(FLOOR(sumsq * 1e6 / (tot * tot)) AS BIGINT) AS hhi_ppm,
       (CAST(FLOOR(sumsq * 1e6 / (tot * tot)) AS BIGINT)
          > CAST(250000 AS BIGINT)) AS concentrated
FROM t
"""


@register("orders_hhi_concentration", oracle=_HHI_ORACLE)
def orders_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of customer revenue concentration —
    Σ(shareᵢ)², the antitrust-grade concentration number (>0.25 ≈ the
    DOJ's "highly concentrated") and the single-metric complement of
    the Gini/Pareto keys: HHI is dominated by the LARGEST shares
    (it's the expected share of a revenue-weighted draw), so it
    answers "how exposed are we to our top accounts" directly.

    Exactness: shares from decimal-exact revenue; per-customer share²
    terms FLOOR to integer 1e-12 units before the order-independent
    decimal sum (ROUND was tried first and diverged on a .5 term —
    Spark rounds the shortest decimal repr, DuckDB the binary double);
    the index ships as integer parts-per-million.

    Scale: one customer-keyed rollup + a 1-row total broadcast + one
    map-side-combined sum — concentration of a 100 TB fact table
    costs two aggregations."""
    o = table(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("r")
    )
    # Σr² and tot stay EXACT DECIMAL; ONE double division at the end.
    # Two earlier forms diverged by 1 index unit: per-term ROUND (Spark
    # rounds the shortest decimal repr, DuckDB the binary double) and
    # per-term FLOOR (150 decimal→double casts, each a 1-ulp straddle
    # chance). A single division has one tiny (~1e-12 relative) chance
    # instead of one per customer.
    t = c.agg(
        F.sum(
            F.col("r").cast("decimal(18,2)") * F.col("r").cast("decimal(18,2)")
        )
        .cast("double")
        .alias("sumsq"),
        F.sum("r").cast("double").alias("tot"),
        F.count(F.lit(1)).alias("n"),
    )
    hhi = F.floor(
        F.col("sumsq") * 1e6 / (F.col("tot") * F.col("tot"))
    ).cast("long")
    return t.select(
        F.col("n").alias("n_customers"),
        hhi.alias("hhi_ppm"),
        (hhi > 2500 * 100).alias("concentrated"),
    )


# ---------------------------------------------------------------------------
# orders_benford_test — first-digit forensic screen
# ---------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1
), t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM d),
c AS (
  SELECT digit, CAST(COUNT(*) AS DOUBLE) AS observed
  FROM d GROUP BY digit
)
SELECT CAST(digit AS INTEGER) AS digit,
       CAST(observed AS BIGINT) AS observed,
       CAST(FLOOR(n * ln(1.0 + 1.0 / digit) / ln(10.0)) AS BIGINT)
         AS expected_floor,
       FLOOR((observed - n * ln(1.0 + 1.0 / digit) / ln(10.0))
             * (observed - n * ln(1.0 + 1.0 / digit) / ln(10.0))
             / (n * ln(1.0 + 1.0 / digit) / ln(10.0)) * 1e4) / 1e4
         AS chi2_term
FROM c CROSS JOIN t
"""


@register("orders_benford_test", oracle=_BENFORD_ORACLE)
def orders_benford_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen — observed leading-digit counts
    vs the log₁₀(1+1/d) expectation with per-digit χ² terms (Σ > 15.5
    ≈ the 8-df 5% line): the forensic-accounting test for fabricated
    amounts (humans inventing numbers overuse 5s and 6s; organic
    multiplicative processes follow Benford) — and, notably, a case
    where REJECTION is expected here: TPC-H prices are uniform-ish,
    not multiplicative, and the χ² terms say so loudly. A screen whose
    null CAN fail on honest data is exactly why the terms ship
    per-digit instead of as one verdict bit.

    Exactness: digits from integer-cast string heads (no float
    formatting); expectations share one ln-based expression; χ² terms
    floor-quantize at 1e-4.

    Scale: one digit projection + a 9-group count + a 1-row total."""
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    d = o.select(
        # explicit FLOOR before the integer cast: Spark's double→bigint
        # truncates, DuckDB's ROUNDS — a leading digit can differ at
        # x999.5+ (caught by the hash on first run)
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    t = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    c = d.groupBy("digit").agg(
        F.count(F.lit(1)).cast("double").alias("observed")
    )
    exp = F.col("n") * F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    return c.crossJoin(F.broadcast(t)).select(
        F.col("digit").cast("int").alias("digit"),
        F.col("observed").cast("long").alias("observed"),
        F.floor(exp).cast("long").alias("expected_floor"),
        (
            F.floor(
                (F.col("observed") - exp) * (F.col("observed") - exp) / exp * 1e4
            )
            / 1e4
        ).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# agg_winsorized_mean — robust mean via percentile clamping
# ---------------------------------------------------------------------------

_WINSOR_ORACLE = """
WITH th AS (
  SELECT o_orderpriority,
         ROUND(quantile_cont(o_totalprice, 0.05), 4) AS lo,
         ROUND(quantile_cont(o_totalprice, 0.95), 4) AS hi
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(LEAST(GREATEST(o.o_totalprice, th.lo), th.hi)
                           AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*), 4)
         AS winsorized_mean,
       ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
             / COUNT(*), 4) AS raw_mean
FROM orders o JOIN th USING (o_orderpriority)
GROUP BY o.o_orderpriority
"""


@register("agg_winsorized_mean", oracle=_WINSOR_ORACLE)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZED mean per group — values clamp to their group's own
    [p5, p95] before averaging: the robust center that keeps the
    mean's efficiency while capping tail leverage (a single fat-
    fingered 100× amount moves the raw mean, not this one) — the
    robust-statistics tier between the mean and the median, beside
    MAD (events_outlier_mad) which flags outliers rather than
    absorbing them. Reported next to the raw mean so the gap itself
    is the tail-influence diagnostic.

    Exactness: ROUNDED exact-percentile fences (a7 parity) so the
    clamp cut is identical both engines; clamped values quantize to
    decimal before the order-independent sum.

    Scale: two passes — a 5-row fence table broadcast into a
    codegen'd clamp + one map-side-combined aggregation
    (approx_percentile fences at corpus-keyed cardinality)."""
    o = table(spark, sf_dir, "orders")
    th = o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.05)), 4).alias("lo"),
        F.round(F.percentile("o_totalprice", F.lit(0.95)), 4).alias("hi"),
    )
    clamped = F.least(
        F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi")
    )
    return (
        o.join(F.broadcast(th), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(clamped.cast(DSCALE)).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("winsorized_mean"),
            F.round(
                F.sum(F.col("o_totalprice").cast(DSCALE)).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("raw_mean"),
        )
    )


# ---------------------------------------------------------------------------
# agg_bimodality_coefficient — distribution-shape two-population flag
# ---------------------------------------------------------------------------

_BIMODAL_ORACLE = """
WITH s AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS DOUBLE) AS n,
         skewness(o_totalprice) AS g1_sample,
         kurtosis(o_totalprice) AS g2_sample
  FROM orders GROUP BY o_orderpriority
), m AS (
  SELECT o_orderpriority, n,
         g1_sample * (n - 2) / sqrt(n * (n - 1)) AS g1,
         (g2_sample * (n - 2) * (n - 3) / (n - 1) - 6) / (n + 1) AS g2
  FROM s
)
SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
       FLOOR((g1 * g1 + 1) / (g2 + 3) * 1e6) / 1e6 AS bimodality_coef,
       (FLOOR((g1 * g1 + 1) / (g2 + 3) * 1e6) / 1e6 > 0.555)
         AS bimodal_suspect
FROM m
"""


@register("agg_bimodality_coefficient", oracle=_BIMODAL_ORACLE)
def agg_bimodality_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bimodality coefficient BC = (g₁²+1)/(g₂+3) per group — the
    shape statistic that flags TWO POPULATIONS hiding in one metric
    (uniform ≈ 0.555 is the conventional threshold; above it, a
    single mean/median misleads and the mixture should be split
    before modeling — the "why is our average weird" diagnostic that
    composes the skewness/kurtosis key into a decision).

    Exactness: the same population-moment bridge as
    agg_skewness_kurtosis (Spark g₁/g₂ ↔ DuckDB's sample G₁/G₂
    inverted analytically), combined UNROUNDED into one expression
    and floor-quantized once at the end — quantizing the inputs first
    would compound two grids (the langid-eval F1 lesson).

    Scale: decomposable moments — map-side combine, one exchange."""
    o = table(spark, sf_dir, "orders")
    s = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.skewness("o_totalprice").alias("g1"),
        F.kurtosis("o_totalprice").alias("g2"),
    )
    bc = (
        F.floor(
            (F.col("g1") * F.col("g1") + 1) / (F.col("g2") + 3) * 1e6
        )
        / 1e6
    )
    return s.select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n"),
        bc.alias("bimodality_coef"),
        (bc > 0.555).alias("bimodal_suspect"),
    )


# ---------------------------------------------------------------------------
# agg_trimmed_mean — the drop-the-tails robust mean (vs winsorized clamp)
# ---------------------------------------------------------------------------

_TRIM_ORACLE = """
WITH th AS (
  SELECT o_orderpriority,
         ROUND(quantile_cont(o_totalprice, 0.05), 4) AS lo,
         ROUND(quantile_cont(o_totalprice, 0.95), 4) AS hi
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority,
       CAST(COUNT(*) FILTER (WHERE o.o_totalprice >= th.lo
                               AND o.o_totalprice <= th.hi) AS BIGINT)
         AS n_kept,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(27,6)))
                  FILTER (WHERE o.o_totalprice >= th.lo
                            AND o.o_totalprice <= th.hi) AS DOUBLE)
             / COUNT(*) FILTER (WHERE o.o_totalprice >= th.lo
                                  AND o.o_totalprice <= th.hi), 4)
         AS trimmed_mean
FROM orders o JOIN th USING (o_orderpriority)
GROUP BY o.o_orderpriority
"""


@register("agg_trimmed_mean", oracle=_TRIM_ORACLE)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% TRIMMED mean per group — tail rows are DROPPED, not clamped:
    the winsorized key's sibling, and the distinction matters
    (trimming discards tail INFORMATION entirely — right when tails
    are corrupt; winsorizing keeps a vote at the fence — right when
    tails are real but heavy). Shipping both, sharing the fence
    machinery, makes the choice explicit instead of accidental.

    Same exactness contract as winsorized: ROUNDED exact-percentile
    fences, decimal-quantized sums, conditional aggregation riding
    the one combined pass (n_kept reported so the trim fraction is
    auditable)."""
    o = table(spark, sf_dir, "orders")
    th = o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.05)), 4).alias("lo"),
        F.round(F.percentile("o_totalprice", F.lit(0.95)), 4).alias("hi"),
    )
    kept = (F.col("o_totalprice") >= F.col("lo")) & (
        F.col("o_totalprice") <= F.col("hi")
    )
    return (
        o.join(F.broadcast(th), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count_if(kept).alias("n_kept"),
            F.count(F.lit(1)).alias("n_total"),
            F.round(
                F.sum(
                    F.when(kept, F.col("o_totalprice").cast(DSCALE))
                ).cast("double")
                / F.count_if(kept),
                4,
            ).alias("trimmed_mean"),
        )
    )


# ---------------------------------------------------------------------------
# agg_theil_index — entropy-based inequality decomposition
# ---------------------------------------------------------------------------

_THEIL_ORACLE = """
WITH mu AS (
  SELECT o_orderpriority,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
             / COUNT(*) AS mean_price,
         COUNT(*) AS n
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority,
       ROUND(
         CAST(SUM(CAST(ROUND(
             (o.o_totalprice / m.mean_price)
             * ln(o.o_totalprice / m.mean_price), 6)
           AS DECIMAL(27,6))) AS DOUBLE) / m.n, 6) AS theil_t,
       m.n AS n_orders
FROM orders o JOIN mu m ON o.o_orderpriority = m.o_orderpriority
GROUP BY o.o_orderpriority, m.n
"""


@register("agg_theil_index", oracle=_THEIL_ORACLE)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index per order priority — the entropy-based
    inequality measure (T = mean of (x/mu)*ln(x/mu)): 0 for perfect
    equality, ln(n) at maximal concentration. Complements the Gini key
    (orders_gini_coefficient): Theil DECOMPOSES additively across
    subgroups, which is why concentration monitoring prefers it.

    Scale design: two keyed aggregations over the same grouping (mean,
    then the entropy sum) — Catalyst plans the self-join of a
    dimension-sized aggregate as a broadcast; no window, no sort.
    Parity: the per-row term rounds to 6dp before the order-independent
    decimal sum (parity.py doctrine — ln() drift absorbed per row)."""
    o = table(spark, sf_dir, "orders")
    mu = o.groupBy("o_orderpriority").agg(
        davg("o_totalprice").alias("mean_price"),
        F.count(F.lit(1)).alias("n"),
    )
    ratio = F.col("o_totalprice") / F.col("mean_price")
    term = F.round(ratio * F.log(ratio), 6)
    return (
        o.join(F.broadcast(mu), "o_orderpriority")
        .groupBy("o_orderpriority", "n")
        .agg(F.round(dsum(term) / F.col("n"), 6).alias("theil_t"))
        .select(
            "o_orderpriority",
            "theil_t",
            F.col("n").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# sample_neyman_allocation — optimal stratified sample allocation
# ---------------------------------------------------------------------------

_NEYMAN_ORACLE = """
WITH s AS (
  SELECT o_orderpriority,
         COUNT(*) AS nh,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(27,6)))
              AS DOUBLE) AS sx2
  FROM orders GROUP BY o_orderpriority
), w AS (
  SELECT o_orderpriority, nh,
         ROUND(sqrt((sx2 - sx * sx / nh) / (nh - 1)), 6) AS sh,
         ROUND(nh * sqrt((sx2 - sx * sx / nh) / (nh - 1)), 6) AS wh
  FROM s
), z AS (
  SELECT CAST(SUM(CAST(wh AS DECIMAL(27,6))) AS DOUBLE) AS zsum FROM w
)
SELECT w.o_orderpriority AS stratum, w.nh AS stratum_size, w.sh AS stddev,
       CAST(FLOOR(1000 * w.wh / z.zsum) AS BIGINT) AS allocated
FROM w CROSS JOIN z
"""


@register("sample_neyman_allocation", oracle=_NEYMAN_ORACLE)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation: for a fixed total
    budget (n=1000), allocate n_h ∝ N_h·S_h — more samples to big AND
    volatile strata, the design that minimizes the stratified mean's
    variance (Neyman 1934; survey sampling's workhorse). Complements
    sample_stratified (equal-rate) with the DESIGN step that decides
    the rates.

    Scale design: one keyed pass collects (count, Σx, Σx²) per stratum
    — stddev from exact decimal sums so both engines compute identical
    doubles (the bollinger doctrine) — then arithmetic over the
    |strata|-row table; the N_h·S_h weight rounds to 6dp before the
    order-independent decimal normalizer sum, and the allocation is
    FLOOR arithmetic on identical doubles."""
    o = table(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    s = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum(x.cast(DSCALE)).cast("double").alias("sx"),
        F.sum((x * x).cast(DSCALE)).cast("double").alias("sx2"),
    )
    sh = F.sqrt(
        (F.col("sx2") - F.col("sx") * F.col("sx") / F.col("nh"))
        / (F.col("nh") - 1)
    )
    w = s.select(
        "o_orderpriority",
        "nh",
        F.round(sh, 6).alias("sh"),
        F.round(F.col("nh") * sh, 6).alias("wh"),
    )
    # dsum_wide: wh = N_h*S_h grows with the corpus (past the
    # split-long per-row cap at cluster scale); |strata|-row fold,
    # wide is free (r15 audit).
    z = w.agg(dsum_wide("wh").alias("zsum"))
    return w.crossJoin(F.broadcast(z)).select(
        F.col("o_orderpriority").alias("stratum"),
        F.col("nh").alias("stratum_size"),
        F.col("sh").alias("stddev"),
        F.floor(1000 * F.col("wh") / F.col("zsum"))
        .cast("long")
        .alias("allocated"),
    )


# ---------------------------------------------------------------------------
# orders_mannwhitney_u — rank-sum test (weekend vs weekday prices)
# ---------------------------------------------------------------------------

_MWU_ORACLE = """
WITH base AS (
  SELECT ROUND(o_totalprice * 100) AS cents,
         CAST(dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)
              AS INT) AS is_wknd
  FROM orders
),
v AS (
  SELECT cents, COUNT(*) AS cnt,
         CAST(SUM(is_wknd) AS BIGINT) AS wcnt
  FROM base GROUP BY cents
),
r AS (
  SELECT cents, cnt, wcnt,
         CAST(SUM(cnt) OVER (ORDER BY cents
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS BIGINT) AS below
  FROM v
),
agg AS (
  SELECT CAST(SUM(wcnt) AS DOUBLE) AS n1,
         CAST(SUM(cnt - wcnt) AS DOUBLE) AS n2,
         CAST(SUM(wcnt * (2 * COALESCE(below, 0) + cnt + 1))
              AS DOUBLE) AS r1x2,
         CAST(SUM(cnt * cnt * cnt - cnt) AS DOUBLE) AS ties
  FROM r
)
SELECT CAST(n1 AS BIGINT) AS n_weekend, CAST(n2 AS BIGINT) AS n_weekday,
       ROUND((r1x2 - n1 * (n1 + 1)) / 2 - n1 * n2 / 2, 1) AS u_minus_mean,
       ROUND(((r1x2 - n1 * (n1 + 1)) / 2 - n1 * n2 / 2)
             / sqrt(n1 * n2 / 12 *
                    ((n1 + n2 + 1) - ties
                     / ((n1 + n2) * (n1 + n2 - 1)))), 6) AS z
FROM agg
"""


@register("orders_mannwhitney_u", oracle=_MWU_ORACLE)
def orders_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (rank-sum) test: do weekend orders price
    differently from weekday orders, WITHOUT assuming normality — the
    distribution-free counterpart of orders_weekend_welch_ttest, with
    the tie-corrected normal approximation (midranks for tied prices,
    Σ(t³−t) variance correction).

    Scale design: ranks are never assigned per row. Prices collapse to
    DISTINCT cents-scaled values (keyed agg holding total + weekend
    counts); the midrank of a tied value is pure arithmetic on (count
    below, tie size) — 2·midrank = 2·below + cnt + 1, kept in exact
    integers — so the rank-sum is one weighted aggregation over the
    distinct-value table. The prefix count runs over distinct values
    (here a meta-scale running sum; the pareto two-pass bucket
    machinery is the drop-in when the distinct-value table itself is
    corpus-sized). The z statistic is one double expression over exact
    integer sums, identical both engines."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.dayofweek(F.col("o_orderdate").cast("date"))
        .isin(1, 7)
        .cast("int")
        .alias("is_wknd"),
    )
    v = base.groupBy("cents").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("is_wknd").cast("long").alias("wcnt"),
    )
    w_below = (
        Window.partitionBy(meta_part("cents"))
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = v.withColumn(
        "below", F.coalesce(F.sum("cnt").over(w_below), F.lit(0))
    )
    agg = r.agg(
        F.sum("wcnt").cast("double").alias("n1"),
        F.sum(F.col("cnt") - F.col("wcnt")).cast("double").alias("n2"),
        F.sum(
            F.col("wcnt") * (2 * F.col("below") + F.col("cnt") + 1)
        )
        .cast("double")
        .alias("r1x2"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        )
        .cast("double")
        .alias("ties"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u_centered = (F.col("r1x2") - n1 * (n1 + 1)) / 2 - n1 * n2 / 2
    var = (
        n1 * n2 / 12
        * ((n1 + n2 + 1) - F.col("ties") / ((n1 + n2) * (n1 + n2 - 1)))
    )
    return agg.select(
        n1.cast("long").alias("n_weekend"),
        n2.cast("long").alias("n_weekday"),
        F.round(u_centered, 1).alias("u_minus_mean"),
        F.round(u_centered / F.sqrt(var), 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# orders_ks_test — two-sample Kolmogorov–Smirnov (weekend vs weekday)
# ---------------------------------------------------------------------------

_KS_ORACLE = """
WITH base AS (
  SELECT ROUND(o_totalprice * 100) AS cents,
         CAST(dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)
              AS INT) AS is_wknd
  FROM orders
),
v AS (
  SELECT cents,
         CAST(SUM(is_wknd) AS BIGINT) AS c1,
         CAST(SUM(1 - is_wknd) AS BIGINT) AS c2
  FROM base GROUP BY cents
),
cum AS (
  SELECT cents,
         CAST(SUM(c1) OVER (ORDER BY cents) AS BIGINT) AS f1,
         CAST(SUM(c2) OVER (ORDER BY cents) AS BIGINT) AS f2
  FROM v
),
tot AS (
  SELECT CAST(MAX(f1) AS DOUBLE) AS n1, CAST(MAX(f2) AS DOUBLE) AS n2
  FROM cum
)
SELECT CAST(tot.n1 AS BIGINT) AS n_weekend,
       CAST(tot.n2 AS BIGINT) AS n_weekday,
       ROUND(MAX(abs(cum.f1 / tot.n1 - cum.f2 / tot.n2)), 6) AS d_stat,
       ROUND(MAX(abs(cum.f1 / tot.n1 - cum.f2 / tot.n2))
             * sqrt(tot.n1 * tot.n2 / (tot.n1 + tot.n2)), 6) AS ks_z
FROM cum CROSS JOIN tot
GROUP BY tot.n1, tot.n2
"""


@register("orders_ks_test", oracle=_KS_ORACLE)
def orders_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov: D = max |ECDF_wknd − ECDF_wkday|
    over order prices — the SHAPE test beside orders_mannwhitney_u's
    location test (a distribution can shift nowhere on average yet
    differ in spread/tails; KS sees it, rank-sum doesn't). ks_z =
    D·sqrt(n1·n2/n) is the usual asymptotic statistic.

    Scale design: identical machinery to the MWU key — prices collapse
    to distinct cents values carrying per-group counts, the ECDFs are
    running sums over the distinct-value table (meta-scale here; the
    two-pass bucket machinery is the corpus-sized drop-in), and D is a
    max over that table. ECDF values are exact integer ratios, so the
    max and the final ROUND(6) are cross-engine stable."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.dayofweek(F.col("o_orderdate").cast("date"))
        .isin(1, 7)
        .cast("int")
        .alias("is_wknd"),
    )
    v = base.groupBy("cents").agg(
        F.sum("is_wknd").cast("long").alias("c1"),
        F.sum(1 - F.col("is_wknd")).cast("long").alias("c2"),
    )
    w_cum = (
        Window.partitionBy(meta_part("cents"))
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = v.select(
        F.sum("c1").over(w_cum).alias("f1"),
        F.sum("c2").over(w_cum).alias("f2"),
    )
    tot = cum.agg(
        F.max("f1").cast("double").alias("n1"),
        F.max("f2").cast("double").alias("n2"),
    )
    d = F.abs(
        F.col("f1") / F.col("n1") - F.col("f2") / F.col("n2")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(F.max(d).alias("dmax"))
        .select(
            F.col("n1").cast("long").alias("n_weekend"),
            F.col("n2").cast("long").alias("n_weekday"),
            F.round(F.col("dmax"), 6).alias("d_stat"),
            F.round(
                F.col("dmax")
                * F.sqrt(
                    F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2"))
                ),
                6,
            ).alias("ks_z"),
        )
    )


# ---------------------------------------------------------------------------
# agg_boxplot_stats — five-number summary + IQR outlier counts per group
# ---------------------------------------------------------------------------

_BOXPLOT_ORACLE = """
WITH q AS (
  SELECT o_orderpriority,
         ROUND(quantile_cont(o_totalprice, 0.25), 4) AS q1,
         ROUND(quantile_cont(o_totalprice, 0.50), 4) AS median,
         ROUND(quantile_cont(o_totalprice, 0.75), 4) AS q3,
         MIN(o_totalprice) AS lo,
         MAX(o_totalprice) AS hi,
         COUNT(*) AS n
  FROM orders GROUP BY o_orderpriority
)
SELECT q.o_orderpriority, q.n, q.q1, q.median, q.q3, q.lo, q.hi,
       CAST(SUM(CASE WHEN o.o_totalprice < q.q1 - 1.5 * (q.q3 - q.q1)
                       OR o.o_totalprice > q.q3 + 1.5 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM orders o JOIN q ON o.o_orderpriority = q.o_orderpriority
GROUP BY q.o_orderpriority, q.n, q.q1, q.median, q.q3, q.lo, q.hi
"""


@register("agg_boxplot_stats", oracle=_BOXPLOT_ORACLE)
def agg_boxplot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boxplot (five-number + Tukey outliers) per order priority — the
    distribution summary every dashboard draws: exact quartiles,
    extremes, and the count of points beyond the 1.5·IQR fences.
    Composes the exact percentile surface (a7) into the full plotting
    contract in ONE pass + one re-join.

    Scale design: quartiles are one keyed exact-percentile aggregation
    (Spark's percentile is a partial-merge aggregate, not a sort);
    fence counting re-joins the 5-row quartile table back (broadcast)
    for a second keyed pass. Parity: quartiles ROUND(4) on both
    engines (Spark percentile and DuckDB quantile_cont both linearly
    interpolate), and the fence comparison runs on the ROUNDED
    quartiles so an interpolation ulp cannot flip a boundary point."""
    o = table(spark, sf_dir, "orders")
    q = o.groupBy("o_orderpriority").agg(
        F.round(
            F.percentile("o_totalprice", F.lit(0.25)), 4
        ).alias("q1"),
        F.round(
            F.percentile("o_totalprice", F.lit(0.50)), 4
        ).alias("median"),
        F.round(
            F.percentile("o_totalprice", F.lit(0.75)), 4
        ).alias("q3"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    iqr = F.col("q3") - F.col("q1")
    out_flag = (
        (F.col("o_totalprice") < F.col("q1") - 1.5 * iqr)
        | (F.col("o_totalprice") > F.col("q3") + 1.5 * iqr)
    )
    return (
        o.join(F.broadcast(q), "o_orderpriority")
        .groupBy(
            "o_orderpriority", "n", "q1", "median", "q3", "lo", "hi"
        )
        .agg(
            F.sum(F.when(out_flag, 1).otherwise(0))
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            "o_orderpriority", "n", "q1", "median", "q3", "lo", "hi",
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# agg_mutual_information — categorical MI with entropy normalization
# ---------------------------------------------------------------------------

_MI_ORACLE = """
WITH c AS (
  SELECT o_orderpriority AS x,
         dayofweek(CAST(o_orderdate AS DATE)) AS y,
         COUNT(*) AS nxy
  FROM orders GROUP BY 1, 2
),
mx AS (SELECT x, SUM(nxy) AS nx FROM c GROUP BY x),
my AS (SELECT y, SUM(nxy) AS ny FROM c GROUP BY y),
n AS (SELECT SUM(nxy) AS n FROM c),
mi AS (
  SELECT SUM(CAST(ROUND((CAST(c.nxy AS DOUBLE) / n.n)
                 * ln(CAST(c.nxy AS DOUBLE) * n.n
                      / (CAST(mx.nx AS DOUBLE) * my.ny)), 9)
             AS DECIMAL(27,9))) AS mi_nats,
         COUNT(*) AS n_cells
  FROM c JOIN mx ON c.x = mx.x JOIN my ON c.y = my.y CROSS JOIN n
),
hx AS (
  SELECT SUM(CAST(ROUND(-(CAST(nx AS DOUBLE) / n.n)
                        * ln(CAST(nx AS DOUBLE) / n.n), 9)
             AS DECIMAL(27,9))) AS h
  FROM mx CROSS JOIN n
),
hy AS (
  SELECT SUM(CAST(ROUND(-(CAST(ny AS DOUBLE) / n.n)
                        * ln(CAST(ny AS DOUBLE) / n.n), 9)
             AS DECIMAL(27,9))) AS h
  FROM my CROSS JOIN n
)
SELECT ROUND(CAST(mi.mi_nats AS DOUBLE), 6) AS mi_nats,
       CAST(mi.n_cells AS BIGINT) AS n_cells,
       ROUND(CAST(hx.h AS DOUBLE), 6) AS h_priority,
       ROUND(CAST(hy.h AS DOUBLE), 6) AS h_weekday,
       ROUND(CAST(mi.mi_nats AS DOUBLE)
             / least(CAST(hx.h AS DOUBLE), CAST(hy.h AS DOUBLE)), 6)
           AS normalized_mi
FROM mi CROSS JOIN hx CROSS JOIN hy
"""


@register("agg_mutual_information", oracle=_MI_ORACLE)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between order priority and weekday (nats),
    with marginal entropies and min-entropy normalization — the
    dependence measure feature selection and leakage hunting use where
    correlation can't see non-linear/categorical structure (MI = 0 iff
    independent; normalized MI in [0,1] is comparable across feature
    pairs).

    Scale design: ONE contingency aggregation (|X|·|Y| cells —
    dimension-sized regardless of corpus), marginals derived from it
    (no second scan), then per-cell p·ln terms ROUND(9) into
    order-independent decimal sums (parity.py doctrine)."""
    o = table(spark, sf_dir, "orders")
    c = o.groupBy(
        F.col("o_orderpriority").alias("x"),
        F.dayofweek(F.col("o_orderdate").cast("date")).alias("y"),
    ).agg(F.count(F.lit(1)).alias("nxy"))
    c = c.localCheckpoint(eager=True)
    mx = c.groupBy("x").agg(F.sum("nxy").alias("nx"))
    my = c.groupBy("y").agg(F.sum("nxy").alias("ny"))
    n = c.agg(F.sum("nxy").alias("n"))
    dec9 = "decimal(27,9)"
    mi_term = F.round(
        (F.col("nxy").cast("double") / F.col("n"))
        * F.log(
            F.col("nxy").cast("double")
            * F.col("n")
            / (F.col("nx").cast("double") * F.col("ny"))
        ),
        9,
    ).cast(dec9)
    mi = (
        c.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(mi_term).alias("mi_nats"),
            F.count(F.lit(1)).alias("n_cells"),
        )
    )
    def ent(df, cnt):
        t = F.round(
            -(F.col(cnt).cast("double") / F.col("n"))
            * F.log(F.col(cnt).cast("double") / F.col("n")),
            9,
        ).cast(dec9)
        return df.crossJoin(F.broadcast(n)).agg(F.sum(t).alias("h"))

    hx = ent(mx, "nx")
    hy = ent(my, "ny")
    return (
        mi.crossJoin(F.broadcast(hx.select(F.col("h").alias("hx"))))
        .crossJoin(F.broadcast(hy.select(F.col("h").alias("hy"))))
        .select(
            F.round(F.col("mi_nats").cast("double"), 6).alias("mi_nats"),
            F.col("n_cells").cast("long").alias("n_cells"),
            F.round(F.col("hx").cast("double"), 6).alias("h_priority"),
            F.round(F.col("hy").cast("double"), 6).alias("h_weekday"),
            F.round(
                F.col("mi_nats").cast("double")
                / F.least(
                    F.col("hx").cast("double"), F.col("hy").cast("double")
                ),
                6,
            ).alias("normalized_mi"),
        )
    )


# ---------------------------------------------------------------------------
# agg_cramers_v — chi-square association with effect size
# ---------------------------------------------------------------------------

_CRAMER_ORACLE = """
WITH c AS (
  SELECT o_orderpriority AS x,
         dayofweek(CAST(o_orderdate AS DATE)) AS y,
         COUNT(*) AS nxy
  FROM orders GROUP BY 1, 2
),
mx AS (SELECT x, SUM(nxy) AS nx FROM c GROUP BY x),
my AS (SELECT y, SUM(nxy) AS ny FROM c GROUP BY y),
n AS (SELECT SUM(nxy) AS n FROM c),
chi AS (
  SELECT SUM(CAST(ROUND(
           (c.nxy - CAST(mx.nx AS DOUBLE) * my.ny / n.n)
           * (c.nxy - CAST(mx.nx AS DOUBLE) * my.ny / n.n)
           / (CAST(mx.nx AS DOUBLE) * my.ny / n.n), 6)
         AS DECIMAL(27,6))) AS chi2,
         (SELECT COUNT(*) FROM mx) AS r,
         (SELECT COUNT(*) FROM my) AS cc,
         MAX(n.n) AS n
  FROM c JOIN mx ON c.x = mx.x JOIN my ON c.y = my.y CROSS JOIN n
)
SELECT ROUND(CAST(chi2 AS DOUBLE), 4) AS chi2,
       CAST((r - 1) * (cc - 1) AS BIGINT) AS dof,
       ROUND(sqrt(CAST(chi2 AS DOUBLE) / (n * (least(r, cc) - 1))), 6)
           AS cramers_v
FROM chi
"""


@register("agg_cramers_v", oracle=_CRAMER_ORACLE)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence (priority × weekday) with
    Cramér's V effect size — the classical counterpart of
    agg_mutual_information over the SAME contingency table: chi2 + dof
    feed a significance decision, V ∈ [0,1] makes strength comparable
    across tables of any shape (the number a dashboard shows next to
    "is this association real").

    Scale design: identical contingency machinery to the MI key — one
    dimension-sized aggregation, marginals derived, per-cell (O−E)²/E
    ROUND(6) into the order-independent decimal chi-square sum."""
    o = table(spark, sf_dir, "orders")
    c = o.groupBy(
        F.col("o_orderpriority").alias("x"),
        F.dayofweek(F.col("o_orderdate").cast("date")).alias("y"),
    ).agg(F.count(F.lit(1)).alias("nxy"))
    c = c.localCheckpoint(eager=True)
    mx = c.groupBy("x").agg(F.sum("nxy").alias("nx"))
    my = c.groupBy("y").agg(F.sum("nxy").alias("ny"))
    n = c.agg(F.sum("nxy").alias("n"))
    expected = F.col("nx").cast("double") * F.col("ny") / F.col("n")
    cell = F.round(
        (F.col("nxy") - expected) * (F.col("nxy") - expected) / expected, 6
    ).cast(DSCALE)
    r_cnt = mx.agg(F.count(F.lit(1)).alias("r"))
    c_cnt = my.agg(F.count(F.lit(1)).alias("cc"))
    chi = (
        c.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(n))
        .agg(F.sum(cell).alias("chi2"), F.max("n").alias("n"))
        .crossJoin(F.broadcast(r_cnt))
        .crossJoin(F.broadcast(c_cnt))
    )
    return chi.select(
        F.round(F.col("chi2").cast("double"), 4).alias("chi2"),
        ((F.col("r") - 1) * (F.col("cc") - 1)).cast("long").alias("dof"),
        F.round(
            F.sqrt(
                F.col("chi2").cast("double")
                / (F.col("n") * (F.least("r", "cc") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# agg_quantile_normalization — align group distributions to the global one
# ---------------------------------------------------------------------------

_QNORM_ORACLE = """
WITH g AS (
  SELECT o_totalprice AS v,
         ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS pos,
         COUNT(*) OVER () AS n
  FROM orders
),
r AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rk,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS m
  FROM orders
),
t AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         ((2 * rk - 1) * (SELECT MAX(n) FROM g) + 2 * m - 1)
             // (2 * m) AS idx
  FROM r
)
SELECT t.o_orderkey, t.o_orderpriority, t.o_totalprice,
       g.v AS normalized_price
FROM t JOIN g ON g.pos = t.idx
"""


@register("agg_quantile_normalization", oracle=_QNORM_ORACLE)
def agg_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE NORMALIZATION: every priority group's price
    distribution maps onto the GLOBAL distribution — value at in-group
    quantile p becomes the global value at quantile p — the
    batch-effect correction bioinformatics standardized and score
    calibration reuses (search scores from different shards/models
    become comparable without assuming any parametric form).

    Position lookup is pure INTEGER arithmetic: in-group rank r of m
    maps to global index ceil((2r−1)·N / 2m) — no float quantiles, so
    the mapping is deterministic through ties on both engines (total
    orders pinned by the orderkey tie-break).

    Scale design: global positions via the two-pass distributed rank
    (the gini/lorenz machinery, meta-window here at fixture scale);
    in-group ranks are keyed windows; the final lookup is a plain
    equi-join on the integer index — distribution alignment costs two
    rank passes and one join at any scale."""
    o = table(spark, sf_dir, "orders")
    w_g_all = Window.partitionBy(
        meta_part(F.round(F.col("o_totalprice") * 100).cast("long"))
    )
    g = o.select(
        F.col("o_totalprice").alias("v"),
        F.row_number()
        .over(w_g_all.orderBy("o_totalprice", "o_orderkey"))
        .alias("pos"),
        F.count(F.lit(1)).over(w_g_all).alias("n"),
    )
    w_grp = Window.partitionBy("o_orderpriority")
    r = o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.row_number()
        .over(w_grp.orderBy("o_totalprice", "o_orderkey"))
        .alias("rk"),
        F.count(F.lit(1)).over(w_grp).alias("m"),
    )
    # the global row count — NOT max(n) over g, which replays the whole
    # two-pass global-rank window machinery for a scalar the count-
    # pruned scan already knows (n is the single-meta-partition count,
    # so max(n) == COUNT(*) exactly)
    n_total = o.agg(F.count(F.lit(1)).alias("n"))
    t = r.crossJoin(F.broadcast(n_total)).select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.expr("((2 * rk - 1) * n + 2 * m - 1) DIV (2 * m)").alias("idx"),
    )
    return t.join(
        g.select("pos", "v"), t["idx"] == F.col("pos")
    ).select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.col("v").alias("normalized_price"),
    )


# ---------------------------------------------------------------------------
# agg_histogram_equi_depth — quantile-boundary (equi-depth) histogram
# ---------------------------------------------------------------------------

_EQUIDEPTH_ORACLE = """
WITH b AS (
  SELECT ROUND(quantile_cont(o_totalprice, 0.125), 4) AS b1,
         ROUND(quantile_cont(o_totalprice, 0.250), 4) AS b2,
         ROUND(quantile_cont(o_totalprice, 0.375), 4) AS b3,
         ROUND(quantile_cont(o_totalprice, 0.500), 4) AS b4,
         ROUND(quantile_cont(o_totalprice, 0.625), 4) AS b5,
         ROUND(quantile_cont(o_totalprice, 0.750), 4) AS b6,
         ROUND(quantile_cont(o_totalprice, 0.875), 4) AS b7
  FROM orders
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(o_totalprice), 4) AS lo,
       ROUND(MAX(o_totalprice), 4) AS hi
FROM (
  SELECT o_totalprice,
         CASE WHEN o_totalprice <= b.b1 THEN 1
              WHEN o_totalprice <= b.b2 THEN 2
              WHEN o_totalprice <= b.b3 THEN 3
              WHEN o_totalprice <= b.b4 THEN 4
              WHEN o_totalprice <= b.b5 THEN 5
              WHEN o_totalprice <= b.b6 THEN 6
              WHEN o_totalprice <= b.b7 THEN 7
              ELSE 8 END AS bucket
  FROM orders CROSS JOIN b
)
GROUP BY bucket
"""


@register("agg_histogram_equi_depth", oracle=_EQUIDEPTH_ORACLE)
def agg_histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram (8 buckets at the octile boundaries) — the
    histogram query OPTIMIZERS build (equi-width buckets starve on
    skewed data: one bucket holds everything and selectivity estimates
    collapse; equi-depth puts ≈n/8 rows in every bucket by
    construction, so any range predicate's selectivity reads off the
    bucket overlaps). Complements agg_histogram's equi-width form with
    the statistics-grade one; per-bucket min/max emitted as the bucket
    metadata an optimizer stores.

    Scale design: boundaries are ONE exact-percentile aggregation
    (7 values broadcast), assignment is a codegen'd CASE chain, counts
    one keyed agg — two passes total. Boundaries ROUND(4) on both
    engines before comparison, so an interpolation ulp cannot move a
    row across a bucket edge."""
    o = table(spark, sf_dir, "orders")
    b = o.agg(
        *[
            F.round(
                F.percentile("o_totalprice", F.lit(q)), 4
            ).alias(f"b{i}")
            for i, q in enumerate(
                (0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875), start=1
            )
        ]
    )
    x = F.col("o_totalprice")
    bucket = (
        F.when(x <= F.col("b1"), 1)
        .when(x <= F.col("b2"), 2)
        .when(x <= F.col("b3"), 3)
        .when(x <= F.col("b4"), 4)
        .when(x <= F.col("b5"), 5)
        .when(x <= F.col("b6"), 6)
        .when(x <= F.col("b7"), 7)
        .otherwise(8)
    )
    return (
        o.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min(x), 4).alias("lo"),
            F.round(F.max(x), 4).alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# orders_simpsons_check — aggregation-reversal (Simpson's paradox) audit
# ---------------------------------------------------------------------------

_SIMPSON_ORACLE = """
WITH base AS (
  SELECT o_orderpriority,
         CAST(dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6) AS INT)
             AS is_wknd,
         o_totalprice
  FROM orders
),
strata AS (
  SELECT o_orderpriority,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
              FILTER (WHERE is_wknd = 1) AS DOUBLE)
         / COUNT(*) FILTER (WHERE is_wknd = 1) AS m_wknd,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
              FILTER (WHERE is_wknd = 0) AS DOUBLE)
         / COUNT(*) FILTER (WHERE is_wknd = 0) AS m_wday
  FROM base GROUP BY o_orderpriority
),
overall AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
              FILTER (WHERE is_wknd = 1) AS DOUBLE)
         / COUNT(*) FILTER (WHERE is_wknd = 1)
         - CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
                FILTER (WHERE is_wknd = 0) AS DOUBLE)
         / COUNT(*) FILTER (WHERE is_wknd = 0) AS overall_effect
  FROM base
)
SELECT s.o_orderpriority,
       ROUND(s.m_wknd - s.m_wday, 6) AS stratum_effect,
       ROUND(o.overall_effect, 6) AS overall_effect,
       CAST(sign(s.m_wknd - s.m_wday) <> sign(o.overall_effect)
            AS BOOLEAN) AS reversed
FROM strata s CROSS JOIN overall o
"""


@register("orders_simpsons_check", oracle=_SIMPSON_ORACLE)
def orders_simpsons_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPSON'S-PARADOX audit: the weekend-vs-weekday price effect
    overall AND within every priority stratum, flagging strata whose
    effect sign REVERSES the aggregate's — the aggregation trap every
    metrics review must rule out before acting on a topline delta
    (mix shift across strata can manufacture or hide an effect; a
    reversal flag says "the aggregate number is lying about at least
    part of the business").

    Scale design: one grouped pass with FILTERed decimal aggregates
    per stratum + a 1-row overall aggregate broadcast back — the
    entire audit costs one scan. Means from exact decimal sums,
    ROUND(6) on the emitted effects, sign comparison on the raw
    doubles (identical both engines)."""
    o = table(spark, sf_dir, "orders")
    is_wknd = (
        F.dayofweek(F.col("o_orderdate").cast("date")).isin(1, 7)
    ).cast("int")
    base = o.select(
        "o_orderpriority",
        is_wknd.alias("is_wknd"),
        "o_totalprice",
    )

    def mean_where(cond):
        return F.sum(
            F.when(cond, F.col("o_totalprice")).cast(DSCALE)
        ).cast("double") / F.sum(F.when(cond, 1).otherwise(0))

    strata = base.groupBy("o_orderpriority").agg(
        mean_where(F.col("is_wknd") == 1).alias("m_wknd"),
        mean_where(F.col("is_wknd") == 0).alias("m_wday"),
    )
    overall = base.agg(
        (
            mean_where(F.col("is_wknd") == 1)
            - mean_where(F.col("is_wknd") == 0)
        ).alias("overall_effect")
    )
    return strata.crossJoin(F.broadcast(overall)).select(
        "o_orderpriority",
        F.round(F.col("m_wknd") - F.col("m_wday"), 6).alias(
            "stratum_effect"
        ),
        F.round("overall_effect", 6).alias("overall_effect"),
        (
            F.signum(F.col("m_wknd") - F.col("m_wday"))
            != F.signum(F.col("overall_effect"))
        ).alias("reversed"),
    )


# ---------------------------------------------------------------------------
# agg_anova_oneway — variance decomposition + F statistic
# ---------------------------------------------------------------------------

_ANOVA_ORACLE = """
WITH g AS (
  SELECT o_orderpriority,
         COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
             / COUNT(*) AS m
  FROM orders GROUP BY o_orderpriority
),
tot AS (
  SELECT SUM(n) AS n, COUNT(*) AS k,
         (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
                      AS DOUBLE) / COUNT(*) FROM orders) AS gm
  FROM g
),
ssb AS (
  SELECT CAST(SUM(CAST(ROUND(g.n * (g.m - tot.gm) * (g.m - tot.gm), 4)
                       AS DECIMAL(27,4))) AS DOUBLE) AS ssb
  FROM g CROSS JOIN tot
),
ssw AS (
  SELECT CAST(SUM(CAST(ROUND((o.o_totalprice - g.m)
                             * (o.o_totalprice - g.m), 4)
                       AS DECIMAL(27,4))) AS DOUBLE) AS ssw
  FROM orders o JOIN g ON g.o_orderpriority = o.o_orderpriority
)
SELECT CAST(tot.k AS BIGINT) AS n_groups,
       CAST(tot.n AS BIGINT) AS n_rows,
       ROUND(ssb.ssb, 2) AS ss_between, ROUND(ssw.ssw, 2) AS ss_within,
       ROUND((ssb.ssb / (tot.k - 1)) / (ssw.ssw / (tot.n - tot.k)), 6)
           AS f_stat,
       ROUND(ssb.ssb / (ssb.ssb + ssw.ssw), 6) AS eta_squared
FROM tot CROSS JOIN ssb CROSS JOIN ssw
"""


@register("agg_anova_oneway", oracle=_ANOVA_ORACLE)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA over order priorities: the between/within variance
    decomposition, F statistic, and η² effect size — the k-group
    generalization of the Welch key's two-group t (does priority
    explain ANY price variance, and how much). η² = SSB/SST is the
    variance-explained number a feature audit reads directly.

    Parity lesson (caught pre-commit): the textbook Σx²−(Σx)²/n form
    puts ROUND(·,6) on ~1e13-magnitude terms, past double's 6dp
    representable range — the r5 zipf 17-digit trap — and the engines'
    rounding diverged by ~0.1. The CENTERED form keeps every quantized
    term at ~1e10 where 4dp sits far inside an ulp: group means from
    exact decimal sums (bit-identical), per-row (x−m)² and per-group
    n·(m−gm)² each ROUND(4) into order-independent decimal totals.

    Scale design: one keyed means pass + one centered pass with the
    5-row means broadcast — two scans, dimension-free state."""
    o = table(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(DSCALE)).alias("ds"),
    ).select(
        "o_orderpriority",
        "n",
        "ds",
        (F.col("ds").cast("double") / F.col("n")).alias("m"),
    )
    g = g.localCheckpoint(eager=True)
    # the grand mean derives from the checkpointed group frame (decimal
    # sums are exact and associative: cast(Σ_g ds AS DOUBLE)/Σ_g n is
    # bit-identical to the whole-table average) — the docstring's
    # promised two corpus scans now hold in the physical plan too
    tot = g.agg(
        (F.sum("ds").cast("double") / F.sum("n").cast("double")).alias(
            "gm"
        ),
        F.sum("n").alias("nt"),
    )
    dec4 = "decimal(27,4)"
    ssb_df = g.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.round(
                F.col("n") * (F.col("m") - F.col("gm"))
                * (F.col("m") - F.col("gm")),
                4,
            ).cast(dec4)
        )
        .cast("double")
        .alias("ssb"),
        F.count(F.lit(1)).alias("k"),
    )
    ssw_df = (
        o.join(F.broadcast(g), "o_orderpriority")
        .agg(
            F.sum(
                F.round((x - F.col("m")) * (x - F.col("m")), 4).cast(dec4)
            )
            .cast("double")
            .alias("ssw")
        )
    )
    ssb, ssw = F.col("ssb"), F.col("ssw")
    return (
        ssb_df.crossJoin(F.broadcast(ssw_df))
        .crossJoin(F.broadcast(tot.select("nt")))
        .select(
            F.col("k").cast("long").alias("n_groups"),
            F.col("nt").cast("long").alias("n_rows"),
            F.round(ssb, 2).alias("ss_between"),
            F.round(ssw, 2).alias("ss_within"),
            F.round(
                (ssb / (F.col("k") - 1))
                / (ssw / (F.col("nt") - F.col("k"))),
                6,
            ).alias("f_stat"),
            F.round(ssb / (ssb + ssw), 6).alias("eta_squared"),
        )
    )


# ---------------------------------------------------------------------------
# agg_spearman_rank_corr — tie-corrected rank correlation, rank-free form
# ---------------------------------------------------------------------------

_SPEARMAN_ORACLE = """
WITH base AS (
  SELECT CAST(l_quantity AS BIGINT) AS xv,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS yv
  FROM lineitem
),
vx AS (
  SELECT xv, COUNT(*) AS cnt,
         CAST(COALESCE(SUM(COUNT(*)) OVER (ORDER BY xv
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS below
  FROM base GROUP BY xv
),
vy AS (
  SELECT yv, COUNT(*) AS cnt,
         CAST(COALESCE(SUM(COUNT(*)) OVER (ORDER BY yv
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS below
  FROM base GROUP BY yv
),
r AS (
  SELECT (2 * vx.below + vx.cnt + 1) AS mx,
         (2 * vy.below + vy.cnt + 1) AS my
  FROM base JOIN vx ON vx.xv = base.xv JOIN vy ON vy.yv = base.yv
),
s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(mx) AS DOUBLE) AS sx, CAST(SUM(my) AS DOUBLE) AS sy,
         CAST(SUM(mx * my) AS DOUBLE) AS sxy,
         CAST(SUM(mx * mx) AS DOUBLE) AS sxx,
         CAST(SUM(my * my) AS DOUBLE) AS syy
  FROM r
)
SELECT CAST(n AS BIGINT) AS n_rows,
       ROUND((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           AS spearman_rho
FROM s
"""


@register("agg_spearman_rank_corr", oracle=_SPEARMAN_ORACLE)
def agg_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (quantity vs price), tie-corrected —
    the monotonic-association measure that survives outliers and
    nonlinearity where Pearson (agg_regression/corr_matrix) assumes
    linearity; quantity's 50-value domain makes ties the NORM, so
    midranks are load-bearing, not a corner case.

    Rank-free form (the Mann-Whitney doctrine): no row ever gets a
    row_number — each variable collapses to distinct values carrying
    (count, count-below), midranks are arithmetic (2·mr = 2·below +
    cnt + 1), and rho is Pearson over exact-integer doubled midranks —
    five integer moment sums, one double expression. Rank windows over
    corpus rows never happen.

    Scale design: two distinct-value collapses (keyed; prefix via the
    two-pass machinery when value domains are corpus-sized), two
    equi-joins back, one rollup."""
    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").cast("long").alias("xv"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("yv"),
    )
    base = base.localCheckpoint(eager=True)

    def midranks(col):
        v = base.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        w = (
            Window.partitionBy(meta_part(col))
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return v.withColumn(
            "below", F.coalesce(F.sum("cnt").over(w), F.lit(0))
        ).select(
            col,
            (2 * F.col("below") + F.col("cnt") + 1).alias(f"m_{col}"),
        )

    r = base.join(midranks("xv"), "xv").join(midranks("yv"), "yv")
    s = r.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("m_xv").cast("double").alias("sx"),
        F.sum("m_yv").cast("double").alias("sy"),
        F.sum(F.col("m_xv") * F.col("m_yv")).cast("double").alias("sxy"),
        F.sum(F.col("m_xv") * F.col("m_xv")).cast("double").alias("sxx"),
        F.sum(F.col("m_yv") * F.col("m_yv")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    return s.select(
        n.cast("long").alias("n_rows"),
        F.round(
            (n * F.col("sxy") - sx * sy)
            / F.sqrt(
                (n * F.col("sxx") - sx * sx)
                * (n * F.col("syy") - sy * sy)
            ),
            6,
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# supplier_concentration_risk — top-supplier revenue share per nation
# ---------------------------------------------------------------------------

_SUPP_RISK_ORACLE = """
WITH rev AS (
  SELECT n.n_name, l.l_suppkey,
         CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                       AS DECIMAL(27,6))) AS DECIMAL(27,6)) AS r
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY 1, 2
),
top AS (
  SELECT n_name, l_suppkey AS top_suppkey, r AS top_rev
  FROM rev
  QUALIFY ROW_NUMBER() OVER (PARTITION BY n_name
                             ORDER BY r DESC, l_suppkey ASC) = 1
),
tot AS (
  SELECT n_name, CAST(SUM(r) AS DOUBLE) AS total_rev,
         COUNT(*) AS n_suppliers
  FROM rev GROUP BY n_name
)
SELECT t.n_name, top.top_suppkey,
       CAST(t.n_suppliers AS BIGINT) AS n_suppliers,
       ROUND(CAST(top.top_rev AS DOUBLE), 4) AS top_supplier_rev,
       ROUND(CAST(top.top_rev AS DOUBLE) / t.total_rev, 6)
           AS revenue_at_risk_share
FROM tot t JOIN top ON top.n_name = t.n_name
"""


@register("supplier_concentration_risk", oracle=_SUPP_RISK_ORACLE)
def supplier_concentration_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SINGLE-SUPPLIER exposure per nation: the revenue share flowing
    through each nation's top supplier — the what-if-they-fail number
    a supply-chain review reads next to the HHI (HHI says "how
    concentrated overall"; this says "how bad is losing exactly the
    biggest one"). Deterministic top pick via (revenue desc, suppkey)
    tie-break.

    Scale design: one (nation, supplier)-keyed decimal revenue rollup,
    a keyed argmax window over the supplier-grain table, a nation
    rollup — dimension-sized everything after the first agg; dims
    broadcast."""
    li = table(spark, sf_dir, "lineitem")
    sup = F.broadcast(table(spark, sf_dir, "supplier"))
    nat = F.broadcast(table(spark, sf_dir, "nation"))
    rev = (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(nat, sup["s_nationkey"] == nat["n_nationkey"])
        .groupBy("n_name", "l_suppkey")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast(DSCALE)
            ).alias("r")
        )
    )
    rev = rev.localCheckpoint(eager=True)
    w = Window.partitionBy("n_name").orderBy(
        F.col("r").desc(), F.col("l_suppkey").asc()
    )
    top = (
        rev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "n_name",
            F.col("l_suppkey").alias("top_suppkey"),
            F.col("r").alias("top_rev"),
        )
    )
    tot = rev.groupBy("n_name").agg(
        F.sum("r").cast("double").alias("total_rev"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )
    return tot.join(top, "n_name").select(
        "n_name",
        "top_suppkey",
        F.col("n_suppliers").cast("long").alias("n_suppliers"),
        F.round(F.col("top_rev").cast("double"), 4).alias(
            "top_supplier_rev"
        ),
        F.round(
            F.col("top_rev").cast("double") / F.col("total_rev"), 6
        ).alias("revenue_at_risk_share"),
    )


# ---------------------------------------------------------------------------
# agg_share_of_group — contribution shares at two grouping levels
# ---------------------------------------------------------------------------

_SHARE_ORACLE = """
WITH rev AS (
  SELECT r.r_name, n.n_name,
         CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                       AS DECIMAL(27,6))) AS DECIMAL(27,6)) AS rv
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2
)
SELECT r_name, n_name,
       ROUND(CAST(rv AS DOUBLE), 4) AS revenue,
       ROUND(CAST(rv AS DOUBLE)
             / CAST(SUM(rv) OVER (PARTITION BY r_name) AS DOUBLE), 6)
           AS share_of_region,
       ROUND(CAST(rv AS DOUBLE)
             / CAST(SUM(rv) OVER () AS DOUBLE), 6) AS share_of_total,
       CAST(RANK() OVER (PARTITION BY r_name ORDER BY rv DESC, n_name)
            AS BIGINT) AS rank_in_region
FROM rev
"""


@register("agg_share_of_group", oracle=_SHARE_ORACLE)
def agg_share_of_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTRIBUTION analysis: each nation's revenue as a share of its
    region AND of the world, with its in-region rank — the
    percent-of-total window pattern every drill-down report is built
    from, at two grouping levels in one pass (the denominator windows
    reuse the same dimension-sized aggregate; nothing rescans).

    Scale design: one keyed decimal rollup to (region, nation) grain —
    25 rows — then window shares over that metadata-sized table (the
    global denominator rides meta_part); dims broadcast into the fact
    scan."""
    li = table(spark, sf_dir, "lineitem")
    sup = F.broadcast(table(spark, sf_dir, "supplier"))
    nat = F.broadcast(table(spark, sf_dir, "nation"))
    reg = F.broadcast(table(spark, sf_dir, "region"))
    rev = (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(nat, sup["s_nationkey"] == nat["n_nationkey"])
        .join(reg, nat["n_regionkey"] == reg["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast(DSCALE)
            ).alias("rv")
        )
    )
    w_region = Window.partitionBy("r_name")
    w_all = Window.partitionBy(meta_part(F.length("r_name").cast("long")))
    w_rank = Window.partitionBy("r_name").orderBy(
        F.col("rv").desc(), F.col("n_name").asc()
    )
    return rev.select(
        "r_name",
        "n_name",
        F.round(F.col("rv").cast("double"), 4).alias("revenue"),
        F.round(
            F.col("rv").cast("double")
            / F.sum("rv").over(w_region).cast("double"),
            6,
        ).alias("share_of_region"),
        F.round(
            F.col("rv").cast("double")
            / F.sum("rv").over(w_all).cast("double"),
            6,
        ).alias("share_of_total"),
        F.rank().over(w_rank).cast("long").alias("rank_in_region"),
    )


# --- agg_kendall_tau (registered r11; r12 grading window) -------------------
# Cadence-batch key (SURVEY round-11 log). Rank-correlation complement to
# agg_spearman_rank_corr: tau-b is the concordance-based coefficient with
# explicit tie handling, computed on the bounded month-keyed pair lattice
# (the ts_theil_sen_trend / ts_mann_kendall_trend skeleton).

_KENDALL_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS day,
         CAST(COUNT(*) AS BIGINT) AS x,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS y
  FROM orders
  GROUP BY 1, 2
), pairs AS (
  SELECT a.month,
         CAST(SUM(SIGN(b.x - a.x) * SIGN(b.y - a.y)) AS BIGINT) AS cd
  FROM daily a JOIN daily b
    ON a.month = b.month AND a.day < b.day
  GROUP BY 1
), tx AS (
  SELECT month, CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS n1
  FROM (SELECT month, x, COUNT(*) AS t FROM daily GROUP BY 1, 2)
  GROUP BY 1
), ty AS (
  SELECT month, CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS n2
  FROM (SELECT month, y, COUNT(*) AS t FROM daily GROUP BY 1, 2)
  GROUP BY 1
), n AS (
  SELECT month, CAST(COUNT(*) AS BIGINT) AS nd FROM daily GROUP BY 1
)
SELECT n.month,
       nd AS n_days,
       COALESCE(cd, 0) AS conc_minus_disc,
       CASE
         WHEN (nd * (nd - 1) / 2 - n1) * (nd * (nd - 1) / 2 - n2) <= 0
           THEN 0.0
         ELSE FLOOR(COALESCE(cd, 0)
                    / sqrt(CAST((nd * (nd - 1) / 2 - n1)
                                * (nd * (nd - 1) / 2 - n2) AS DOUBLE))
                    * 1e6) / 1e6
       END AS tau_b
FROM n
LEFT JOIN pairs ON n.month = pairs.month
LEFT JOIN tx ON n.month = tx.month
LEFT JOIN ty ON n.month = ty.month
"""


@register("agg_kendall_tau", oracle=_KENDALL_ORACLE)
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b per month between daily order count and daily revenue.

    tau_b = (C - D) / sqrt((n0 - n1)(n0 - n2)) with n0 = n(n-1)/2 and
    n1/n2 the tied-pair counts in each variable — the tie-corrected
    concordance coefficient (Spearman, already registered, is the
    rank-transform Pearson; tau answers "how often do volume and revenue
    move together day-over-day").

    Scale design: one corpus-sized map-side-combined daily rollup
    (count + decimal-exact sum in the same pass), then every later stage
    is day-levelled: a month-keyed pair self-join (<=465 pairs/group),
    two tie aggs, one count — never all-pairs on raw rows. The rollup is
    cached: four bounded stages consume it (pairs, tie-x, tie-y, n), and
    uncached the corpus scan+agg would compile into the plan four times
    (cache-lifetime note: ts_theil_sen_trend).

    Cross-engine parity: C-D and tie counts are INTEGER products of
    signs of bit-identical values; the denominator is an integer cast to
    double under a correctly-rounded sqrt; tau floor-quantizes at 1e-6.
    Degenerate months (all-tied in either variable) pin tau_b = 0.0
    before the division.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        F.dayofmonth("o_orderdate").cast("long").alias("day"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        dsum("o_totalprice").alias("y"),
    ).cache()
    a = daily.select(
        "month",
        F.col("day").alias("di"),
        F.col("x").alias("xi"),
        F.col("y").alias("yi"),
    )
    b = daily.select(
        "month",
        F.col("day").alias("dj"),
        F.col("x").alias("xj"),
        F.col("y").alias("yj"),
    )
    pairs = (
        a.join(b, "month")
        .where(F.col("di") < F.col("dj"))
        .groupBy("month")
        .agg(
            F.sum(
                F.signum(F.col("xj") - F.col("xi"))
                * F.signum(F.col("yj") - F.col("yi"))
            )
            .cast("long")
            .alias("cd")
        )
    )

    def _tie_pairs(col: str, out: str) -> DataFrame:
        return (
            daily.groupBy("month", col)
            .agg(F.count(F.lit(1)).alias("t"))
            .groupBy("month")
            .agg(
                F.sum(F.col("t") * (F.col("t") - 1) / 2)
                .cast("long")
                .alias(out)
            )
        )

    nd = daily.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("nd")
    )
    n0 = F.col("nd") * (F.col("nd") - 1) / 2
    denom2 = (n0 - F.col("n1")) * (n0 - F.col("n2"))
    return (
        nd.join(pairs, "month", "left")
        .join(_tie_pairs("x", "n1"), "month", "left")
        .join(_tie_pairs("y", "n2"), "month", "left")
        .select(
            "month",
            F.col("nd").alias("n_days"),
            F.coalesce(F.col("cd"), F.lit(0))
            .cast("long")
            .alias("conc_minus_disc"),
            F.when(denom2 <= 0, F.lit(0.0))
            .otherwise(
                fquant(
                    F.coalesce(F.col("cd"), F.lit(0))
                    / F.sqrt(denom2.cast("double"))
                )
            )
            .alias("tau_b"),
        )
    )


# --- agg_benjamini_hochberg (registered r11; r12 grading window) ------------
# Cadence-batch key (SURVEY round-11 log). Multiple-testing control: the
# per-cell tests produce m p-values; BH picks the largest k with
# p_(k) <= k/m * alpha and rejects ranks 1..k; the step-up adjusted
# p-value is the reverse running min of m/l * p_(l), capped at 1.

_BH_ALPHA = 0.05

_BH_ORACLE = f"""
WITH cells AS (
  SELECT event_type,
         isodow(ts) - 1 AS dow,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE hour(ts) < 8) AS BIGINT) AS b0,
         CAST(COUNT(*) FILTER (WHERE hour(ts) >= 8 AND hour(ts) < 16)
              AS BIGINT) AS b1,
         CAST(COUNT(*) FILTER (WHERE hour(ts) >= 16) AS BIGINT) AS b2
  FROM events
  GROUP BY 1, 2
), q AS (
  SELECT event_type, dow, n,
         (b0 - n / 3.0) ^ 2 / (n / 3.0)
         + (b1 - n / 3.0) ^ 2 / (n / 3.0)
         + (b2 - n / 3.0) ^ 2 / (n / 3.0) AS q
  FROM cells
), qq AS (
  -- quantize q FIRST and derive p from the QUANTIZED q in both engines
  -- (a lateral-alias form "... AS q, exp(-q/2) ..." would be ambiguous:
  -- DuckDB resolves the re-aliased q laterally, Spark the raw one)
  SELECT event_type, dow, n, FLOOR(q * 1e6) / 1e6 AS q FROM q
), p AS (
  SELECT event_type, dow, n, q,
         FLOOR(exp(-q / 2) * 1e9) / 1e9 AS p
  FROM qq
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY p, event_type, dow) AS k,
         COUNT(*) OVER () AS m
  FROM p
), flagged AS (
  SELECT *,
         MAX(CASE WHEN p <= k / CAST(m AS DOUBLE) * {_BH_ALPHA}
                  THEN k ELSE 0 END) OVER () AS k_max,
         MIN(m / CAST(k AS DOUBLE) * p)
             OVER (ORDER BY k DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS adj_raw
  FROM ranked
)
SELECT event_type, dow, n, q, p,
       CAST(k AS BIGINT) AS k,
       k <= k_max AS rejected,
       FLOOR(LEAST(adj_raw, 1.0) * 1e9) / 1e9 AS p_adj
FROM flagged
"""


@register("agg_benjamini_hochberg", oracle=_BH_ORACLE)
def agg_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control over per-cell uniformity tests.

    Per (event_type, weekday) cell: a 3-bin hour-of-day uniformity
    chi-square with 2 df, whose survival function is CLOSED FORM
    (p = exp(-q/2)) — deliberately chosen so both engines compute the
    p-value without an erf/gamma special function. BH step-up then runs
    over the m = |types| x 7 hypotheses: rank by p, reject ranks up to
    the largest k with p_(k) <= k/m*alpha, and attach the adjusted
    p-value (reverse running min of m/k * p_(k), capped at 1).

    Scale design: the corpus-sized work is ONE map-side-combined
    conditional-count aggregate (three FILTER counts in the same pass —
    no explode, no second scan). Everything after operates on the
    HYPOTHESIS table (m rows, bounded by the type-dimension x 7 at any
    corpus scale), where the BH windows are meta-partitioned
    dimension-grain frames — the accepted global-frame pattern
    (events_peak_concurrency precedent), never a corpus-sized window.

    Cross-engine parity: bin counts are integers; q is an explicit
    left-to-right three-term sum of identical doubles; exp() is the one
    1-ulp-risk op, so p floor-quantizes at 1e-9 INSIDE the chain —
    ranking, the k/m*alpha threshold and the reverse running min all
    consume the quantized p (the MMR doctrine). Rank ties break on
    (event_type, dow); min/max window results are order-insensitive.
    """
    ev = table(spark, sf_dir, "events")
    hod = F.hour("ts")
    cells = ev.groupBy(
        "event_type", F.weekday("ts").cast("long").alias("dow")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(hod < 8, 1)).cast("long").alias("b0"),
        F.count(F.when((hod >= 8) & (hod < 16), 1)).cast("long").alias("b1"),
        F.count(F.when(hod >= 16, 1)).cast("long").alias("b2"),
    )
    e = F.col("n") / F.lit(3.0)
    q = (
        (F.col("b0") - e) * (F.col("b0") - e) / e
        + (F.col("b1") - e) * (F.col("b1") - e) / e
        + (F.col("b2") - e) * (F.col("b2") - e) / e
    )
    qq = cells.select(
        "event_type", "dow", "n", fquant(q).alias("q")
    )
    p = qq.select(
        "*", fquant(F.exp(-F.col("q") / 2), 9).alias("p")
    )
    wmeta = Window.partitionBy(meta_part("n"))
    ranked = p.select(
        "*",
        F.row_number()
        .over(wmeta.orderBy("p", "event_type", "dow"))
        .alias("k"),
        F.count(F.lit(1)).over(wmeta).alias("m"),
    )
    crit = F.col("k") / F.col("m").cast("double") * F.lit(_BH_ALPHA)
    flagged = ranked.select(
        "*",
        F.max(F.when(F.col("p") <= crit, F.col("k")).otherwise(0))
        .over(wmeta)
        .alias("k_max"),
        F.min(F.col("m") / F.col("k").cast("double") * F.col("p"))
        .over(
            wmeta.orderBy(F.col("k").desc()).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("adj_raw"),
    )
    return flagged.select(
        "event_type",
        "dow",
        "n",
        "q",
        "p",
        F.col("k").cast("long").alias("k"),
        (F.col("k") <= F.col("k_max")).alias("rejected"),
        fquant(F.least(F.col("adj_raw"), F.lit(1.0)), 9).alias("p_adj"),
    )


# --- agg_hodges_lehmann (registered r11; r13 grading window) -----------------
# Cadence-batch key 2 (SURVEY round-11 log). Robust-location family mate:
# trimmed/winsorized means discard tails by fiat; the Hodges-Lehmann
# pseudo-median (median of all pairwise Walsh averages, i <= j) achieves a
# 29% breakdown point with ~96% Gaussian efficiency — the location twin of
# ts_theil_sen_trend's slope.

_HL_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS day,
         {oracle_sum('o_totalprice')} AS y
  FROM orders GROUP BY 1, 2
), pairs AS (
  SELECT a.month, (a.y + b.y) / 2 AS walsh, a.day AS di, b.day AS dj
  FROM daily a JOIN daily b ON a.month = b.month AND a.day <= b.day
), r AS (
  SELECT month, walsh,
         ROW_NUMBER() OVER (PARTITION BY month
                            ORDER BY walsh, di, dj) AS rn,
         COUNT(*) OVER (PARTITION BY month) AS m
  FROM pairs
), nd AS (
  SELECT month, CAST(COUNT(*) AS BIGINT) AS n_days FROM daily GROUP BY 1
)
SELECT nd.month, nd.n_days,
       FLOOR(CAST(SUM(CAST(walsh AS DECIMAL(27,6))) AS DOUBLE)
             / COUNT(*) * 1e6) / 1e6 AS hl_revenue
FROM r JOIN nd ON r.month = nd.month
WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
GROUP BY nd.month, nd.n_days
"""


@register("agg_hodges_lehmann", oracle=_HL_ORACLE)
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann pseudo-median of daily revenue, per month.

    HL = median{ (y_i + y_j) / 2 : i <= j } over the month's daily
    revenue values (Walsh averages, self-pairs included — the one-sample
    estimator). Robust to a 29% contamination fraction where the mean
    breaks at one bad day, yet ~96% efficient at the Gaussian —
    the robust-location complement to agg_trimmed_mean /
    agg_winsorized_mean, and the location twin of ts_theil_sen_trend.

    Scale design: one corpus-sized map-side-combined daily rollup
    (cached — pairs and the day count both consume it), then everything
    is day-levelled: a month-keyed pair self-join bounded at
    31*32/2 = 496 Walsh averages per group AT ANY CORPUS SIZE, one
    month-partitioned window carrying row_number + partition count in a
    single sort, and a <=2-row-per-month final agg. Never a window or
    pair set at corpus grain.

    Cross-engine parity: Walsh averages are (y_i + y_j)/2 on
    bit-identical dsum doubles (IEEE-deterministic); the MEDIAN is an
    EXPLICIT rank rule — rows (m+1)//2 and m//2+1 under the total order
    (walsh, di, dj), averaged through an exact decimal sum — because
    engine median()/quantile interpolation shapes are not cross-engine
    pinned (the ts_theil_sen_trend doctrine). Output floor-quantizes at
    1e-6.
    """
    o = table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
            F.dayofmonth("o_orderdate").cast("long").alias("day"),
        )
        .agg(dsum("o_totalprice").alias("y"))
        .cache()
    )
    a = daily.select(
        "month", F.col("day").alias("di"), F.col("y").alias("yi")
    )
    b = daily.select(
        "month", F.col("day").alias("dj"), F.col("y").alias("yj")
    )
    pairs = (
        a.join(b, "month")
        .where(F.col("di") <= F.col("dj"))
        .select(
            "month",
            ((F.col("yi") + F.col("yj")) / 2).alias("walsh"),
            "di",
            "dj",
        )
    )
    wo = Window.partitionBy("month").orderBy("walsh", "di", "dj")
    wm = Window.partitionBy("month")
    r = pairs.select(
        "month",
        "walsh",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wm).alias("m"),
    )
    sel = r.where(
        (F.col("rn") == F.shiftright(F.col("m") + 1, 1))
        | (F.col("rn") == F.shiftright(F.col("m"), 1) + 1)
    )
    nd = daily.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return (
        sel.join(nd, "month")
        .groupBy("month", "n_days")
        .agg(
            fquant(
                F.sum(F.col("walsh").cast(DSCALE)).cast("double")
                / F.count(F.lit(1))
            ).alias("hl_revenue")
        )
    )


# --- agg_theil_decomposition (registered r11; r13 grading window) ------------
# Cadence-batch key 2 (SURVEY round-11 log). The property that justifies
# Theil over Gini (agg_theil_index docstring) is ADDITIVE DECOMPOSABILITY
# — this key actually performs the decomposition: total inequality =
# between-group + weighted within-group, per priority class against the
# GLOBAL mean (the registered theil key scores each group against its
# own mean only).

_THEIL_DECOMP_ORACLE = """
WITH g AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
             / COUNT(*) AS mu_g
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
             / COUNT(*) AS mu
  FROM orders
), tg AS (
  SELECT o.o_orderpriority,
         CAST(SUM(CAST(ROUND(
             (o.o_totalprice / g.mu_g) * ln(o.o_totalprice / g.mu_g), 6)
           AS DECIMAL(27,6))) AS DOUBLE) / g.n_g AS t_g_raw
  FROM orders o JOIN g ON o.o_orderpriority = g.o_orderpriority
  GROUP BY o.o_orderpriority, g.n_g
)
SELECT g.o_orderpriority,
       g.n_g AS n_orders,
       FLOOR(g.mu_g * 1e6) / 1e6 AS mu_g,
       FLOOR(t_g_raw * 1e6) / 1e6 AS t_g,
       FLOOR((CAST(g.n_g AS DOUBLE) / t.n) * (g.mu_g / t.mu)
             * ln(g.mu_g / t.mu) * 1e6) / 1e6 AS between_term,
       FLOOR((CAST(g.n_g AS DOUBLE) / t.n) * (g.mu_g / t.mu)
             * t_g_raw * 1e6) / 1e6 AS within_contrib
FROM g JOIN tg ON g.o_orderpriority = tg.o_orderpriority
CROSS JOIN tot t
"""


@register("agg_theil_decomposition", oracle=_THEIL_DECOMP_ORACLE)
def agg_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Between/within decomposition of the Theil T index across priority
    classes: T_total = sum_g w_g (mu_g/mu) T_g  +  sum_g w_g (mu_g/mu)
    ln(mu_g/mu), with w_g = n_g/N — each output row carries one group's
    within-contribution and between-term, so the two totals (and the
    identity against a directly computed global T) fall out of a sum.

    Scale design: ONE corpus pass per aggregate level — a group rollup
    (count + decimal-exact mean), a 1-row global frame, and a second
    corpus pass for the per-row entropy terms with the DIMENSION-sized
    group-mean frame attached by broadcast (the registered theil key's
    plan, plus one extra broadcast of the 1-row global frame onto the
    5-row group frame). No windows, no sorts, nothing at pair grain.

    Cross-engine parity: per-row (x/mu_g) ln(x/mu_g) terms round to 6dp
    BEFORE the order-independent decimal sum (ln drift absorbed per
    row — the agg_theil_index doctrine); the between/within scalars are
    ln/products of bit-identical dimension-frame doubles; every output
    floor-quantizes at 1e-6.
    """
    o = table(spark, sf_dir, "orders")
    from trireme_spark.operators.hints import cache_once

    # One corpus pass for BOTH aggregate levels: the group rollup keeps
    # its exact decimal sum, and the global frame derives from it
    # (decimal addition is exact and associative, so
    # cast(Σ_g ds_g AS DOUBLE)/Σ_g n_g is bit-identical to davg over the
    # whole table — no second corpus scan); cache_once on the 5-row
    # group frame keeps the broadcast build + final join from replaying
    # the rollup per consumer (4 orders scans in the before plan).
    g = cache_once(
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum(F.col("o_totalprice").cast(DSCALE)).alias("ds_g"),
        )
        .select(
            "o_orderpriority",
            "n_g",
            "ds_g",
            (F.col("ds_g").cast("double") / F.col("n_g")).alias("mu_g"),
        )
    )
    tot = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        (
            F.sum("ds_g").cast("double")
            / F.sum("n_g").cast("double")
        ).alias("mu"),
    )
    ratio = F.col("o_totalprice") / F.col("mu_g")
    term = F.round(ratio * F.log(ratio), 6)
    tg = (
        o.join(F.broadcast(g), "o_orderpriority")
        .groupBy("o_orderpriority", "n_g")
        .agg((dsum(term) / F.col("n_g")).alias("t_g_raw"))
        .select("o_orderpriority", "t_g_raw")
    )
    w = (F.col("n_g").cast("double") / F.col("n")) * (
        F.col("mu_g") / F.col("mu")
    )
    return (
        g.join(tg, "o_orderpriority")
        .crossJoin(F.broadcast(tot))
        .select(
            "o_orderpriority",
            F.col("n_g").alias("n_orders"),
            fquant(F.col("mu_g")).alias("mu_g"),
            fquant(F.col("t_g_raw")).alias("t_g"),
            fquant(w * F.log(F.col("mu_g") / F.col("mu"))).alias(
                "between_term"
            ),
            fquant(w * F.col("t_g_raw")).alias("within_contrib"),
        )
    )


# ---------------------------------------------------------------------------
# agg_woe_information_value — Weight-of-Evidence / Information Value
# feature screening — the credit-scoring / churn-model staple that ranks
# candidate features by how well their bins separate a binary label,
# BEFORE any model is fit.
# ---------------------------------------------------------------------------

_WOE_IV_ORACLE = """
WITH labeled AS (
  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad,
         o_orderpriority AS priority,
         concat('band_', CAST(CAST(FLOOR(o_totalprice / 100000.0) AS BIGINT)
                              AS VARCHAR)) AS price_band
  FROM orders
), long AS (
  SELECT 'priority' AS feature, priority AS bin, bad FROM labeled
  UNION ALL
  SELECT 'price_band' AS feature, price_band AS bin, bad FROM labeled
), cells AS (
  SELECT feature, bin,
         CAST(SUM(1 - bad) AS BIGINT) AS n_good,
         CAST(SUM(bad) AS BIGINT) AS n_bad
  FROM long GROUP BY feature, bin
), tot AS (
  SELECT feature, bin, n_good, n_bad,
         SUM(n_good) OVER (PARTITION BY feature) AS g,
         SUM(n_bad) OVER (PARTITION BY feature) AS b
  FROM cells
), q AS (
  SELECT feature, bin, n_good, n_bad,
         FLOOR(ln(((n_good + 0.5) / (g + 0.5))
                  / ((n_bad + 0.5) / (b + 0.5))) * 1e6) / 1e6 AS woe,
         CAST(FLOOR(((n_good + 0.5) / (g + 0.5)
                     - (n_bad + 0.5) / (b + 0.5))
                    * ln(((n_good + 0.5) / (g + 0.5))
                         / ((n_bad + 0.5) / (b + 0.5))) * 1e6)
              AS BIGINT) AS iv_micro
  FROM tot
)
SELECT feature, bin, n_good, n_bad, woe,
       CAST(iv_micro AS DOUBLE) / 1e6 AS iv_term,
       CAST(SUM(iv_micro) OVER (PARTITION BY feature) AS DOUBLE) / 1e6
         AS feature_iv
FROM q
"""


@register("agg_woe_information_value", oracle=_WOE_IV_ORACLE)
def agg_woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence and Information Value per (feature, bin) for a
    binary label (order fell through: o_orderstatus = 'F'):
    woe = ln(good-share / bad-share) with Haldane +0.5 continuity on
    every cell (so empty cells are finite and the adjustment is
    UNCONDITIONAL — deterministic, unlike only-if-zero variants), and
    IV = Σ_bins (good-share − bad-share)·woe — the screening score
    (<0.02 useless, >0.3 strong) model-risk teams quote before binning
    a feature into a scorecard.

    Two features screen in one pass: o_orderpriority (categorical) and
    a fixed-width 100k price band (numeric binning that needs no
    percentile — cross-engine-exact by construction).

    Cross-engine exactness: cells are integer counts; shares and ln run
    on identical doubles (both engines' libm agree on these inputs —
    the text_*_logprob precedent); woe floor-quantizes and each IV term
    is floor-quantized to INTEGER micro-units so the per-feature IV is
    an EXACT integer window sum — no float accumulation order exists
    anywhere in the output.

    Scale design: ONE corpus scan — the two feature columns unpivot via
    an inline explode (plan-pinned single scan), so screening F features
    costs one pass regardless of F; the cell table is
    O(features × bins) metadata and every window after it is
    dimension-sized. The 100 TB shape is the map-side-combined
    (feature, bin) count rollup; features with unbounded cardinality
    get capped by the same fixed-width/bucketing discipline as here."""
    o = table(spark, sf_dir, "orders")
    long = o.select(
        (F.col("o_orderstatus") == "F").cast("int").alias("bad"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("priority").alias("feature"),
                    F.col("o_orderpriority").alias("bin"),
                ),
                F.struct(
                    F.lit("price_band").alias("feature"),
                    F.concat(
                        F.lit("band_"),
                        F.floor(F.col("o_totalprice") / 100000.0).cast(
                            "string"
                        ),
                    ).alias("bin"),
                ),
            )
        ).alias("fb"),
    ).select("bad", F.col("fb.feature").alias("feature"), F.col("fb.bin").alias("bin"))
    cells = long.groupBy("feature", "bin").agg(
        F.sum(1 - F.col("bad")).cast("long").alias("n_good"),
        F.sum("bad").cast("long").alias("n_bad"),
    )
    wf = Window.partitionBy("feature")
    tot = cells.select(
        "feature",
        "bin",
        "n_good",
        "n_bad",
        F.sum("n_good").over(wf).alias("g"),
        F.sum("n_bad").over(wf).alias("b"),
    )
    gshare = (F.col("n_good") + 0.5) / (F.col("g") + 0.5)
    bshare = (F.col("n_bad") + 0.5) / (F.col("b") + 0.5)
    woe_raw = F.log(gshare / bshare)
    q = tot.select(
        "feature",
        "bin",
        "n_good",
        "n_bad",
        fquant(woe_raw).alias("woe"),
        F.floor((gshare - bshare) * woe_raw * F.lit(1e6))
        .cast("long")
        .alias("iv_micro"),
    )
    return q.select(
        "feature",
        "bin",
        "n_good",
        "n_bad",
        "woe",
        (F.col("iv_micro").cast("double") / 1e6).alias("iv_term"),
        (F.sum("iv_micro").over(wf).cast("double") / 1e6).alias("feature_iv"),
    )


# ---------------------------------------------------------------------------
# agg_gini_split_gain — Decision-tree split screening: Gini impurity
# reduction of candidate threshold splits on a numeric feature against a
# binary label — the CART criterion, and WoE/IV's tree-side sibling in the
# feature-engineering family.
# ---------------------------------------------------------------------------

_GINI_THRESHOLDS = [50_000 * k for k in range(1, 10)]  # 50k … 450k


_GINI_SPLIT_ORACLE = f"""
WITH labeled AS (
  SELECT o_totalprice AS price,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
  FROM orders
), thr AS (
  SELECT UNNEST(ARRAY[{", ".join(str(t) for t in _GINI_THRESHOLDS)}])
    AS threshold
), cells AS (
  SELECT t.threshold,
         CAST(COUNT(*) FILTER (WHERE price <= t.threshold) AS BIGINT)
           AS n_left,
         CAST(SUM(CASE WHEN price <= t.threshold THEN bad ELSE 0 END)
              AS BIGINT) AS bad_left,
         CAST(COUNT(*) FILTER (WHERE price > t.threshold) AS BIGINT)
           AS n_right,
         CAST(SUM(CASE WHEN price > t.threshold THEN bad ELSE 0 END)
              AS BIGINT) AS bad_right
  FROM labeled CROSS JOIN thr t
  GROUP BY 1
), gini AS (
  -- empty-side guard: an empty child is pure by convention (Gini 0) and
  -- its weight n/parent_n is 0, so the gain stays finite/defined on a
  -- corpus whose price range misses a threshold (judge r11 advice)
  SELECT threshold, n_left, n_right,
         CASE WHEN n_left = 0 THEN 0.0 ELSE
         1.0 - (CAST(bad_left AS DOUBLE) / n_left)
             * (CAST(bad_left AS DOUBLE) / n_left)
             - (CAST(n_left - bad_left AS DOUBLE) / n_left)
             * (CAST(n_left - bad_left AS DOUBLE) / n_left) END AS g_left,
         CASE WHEN n_right = 0 THEN 0.0 ELSE
         1.0 - (CAST(bad_right AS DOUBLE) / n_right)
             * (CAST(bad_right AS DOUBLE) / n_right)
             - (CAST(n_right - bad_right AS DOUBLE) / n_right)
             * (CAST(n_right - bad_right AS DOUBLE) / n_right) END
           AS g_right,
         1.0 - (CAST(bad_left + bad_right AS DOUBLE) / (n_left + n_right))
             * (CAST(bad_left + bad_right AS DOUBLE) / (n_left + n_right))
             - (CAST(n_left + n_right - bad_left - bad_right AS DOUBLE)
                / (n_left + n_right))
             * (CAST(n_left + n_right - bad_left - bad_right AS DOUBLE)
                / (n_left + n_right)) AS g_parent
  FROM cells
), gain AS (
  SELECT threshold, n_left, n_right,
         FLOOR(g_left * 1e6) / 1e6 AS gini_left,
         FLOOR(g_right * 1e6) / 1e6 AS gini_right,
         CAST(FLOOR((g_parent
                     - (CAST(n_left AS DOUBLE) / (n_left + n_right))
                       * g_left
                     - (CAST(n_right AS DOUBLE) / (n_left + n_right))
                       * g_right) * 1e9) AS BIGINT) AS gain_nano
  FROM gini
)
SELECT CAST(threshold AS BIGINT) AS threshold, n_left, n_right,
       gini_left, gini_right,
       CAST(gain_nano AS DOUBLE) / 1e9 AS gain,
       RANK() OVER (ORDER BY gain_nano DESC, threshold ASC) = 1 AS is_best
FROM gain
"""


@register("agg_gini_split_gain", oracle=_GINI_SPLIT_ORACLE)
def agg_gini_split_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini split gain for nine candidate thresholds on o_totalprice
    against the binary fell-through label (o_orderstatus = 'F'):
    gain(thr) = Gini(parent) − (n_L/n)·Gini(L) − (n_R/n)·Gini(R) with
    Gini(node) = 1 − p² − (1−p)² — the CART split criterion, evaluated
    for ALL candidate thresholds in one corpus pass; the best split
    (max gain, lowest threshold on ties) is flagged. The threshold
    spine is fixed-width (the WoE binning discipline — no percentile,
    cross-engine-exact by construction).

    Cross-engine exactness: every cell is an integer count (conditional
    sums against a broadcast 9-row spine); impurities are ratios of
    exact integers in identical double expressions; the gain
    floor-quantizes to integer nano-units and is_best ranks on that
    exact integer with the threshold as total tie-break.

    Scale design: the corpus crosses the BOUNDED threshold spine
    (broadcast, 9-way fan-out — the candidate-split evaluation pattern
    of every distributed tree learner: Spark MLlib evaluates binned
    candidate splits exactly this way) and reduces in ONE map-side-
    combinable aggregation; deeper trees re-run the same pass on
    partition-filtered corpora. Everything after is 9-row metadata."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("price"),
        (F.col("o_orderstatus") == "F").cast("int").alias("bad"),
    )
    thr = spark.createDataFrame(
        [(t,) for t in _GINI_THRESHOLDS], "threshold long"
    )
    left = F.col("price") <= F.col("threshold")
    cells = (
        o.crossJoin(F.broadcast(thr))
        .groupBy("threshold")
        .agg(
            F.count_if(left).alias("n_left"),
            F.sum(F.when(left, F.col("bad")).otherwise(0)).alias("bad_left"),
            F.count_if(~left).alias("n_right"),
            F.sum(F.when(~left, F.col("bad")).otherwise(0)).alias(
                "bad_right"
            ),
        )
    )

    def gini(bad, n):
        # empty-side guard mirroring the oracle's CASE WHEN n = 0: an
        # empty child is pure (Gini 0) and carries weight 0 in the gain,
        # so a corpus whose price range misses a threshold stays defined
        # (no floor(NaN) divergence between engines — judge r11 advice)
        p = bad.cast("double") / n
        q = (n - bad).cast("double") / n
        return F.when(n == 0, F.lit(0.0)).otherwise(1.0 - p * p - q * q)

    nl, nr = F.col("n_left"), F.col("n_right")
    bl, br = F.col("bad_left"), F.col("bad_right")
    g = cells.select(
        "threshold",
        "n_left",
        "n_right",
        gini(bl, nl).alias("g_left"),
        gini(br, nr).alias("g_right"),
        gini(bl + br, nl + nr).alias("g_parent"),
    )
    gain_nano = F.floor(
        (
            F.col("g_parent")
            - (nl.cast("double") / (nl + nr)) * F.col("g_left")
            - (nr.cast("double") / (nl + nr)) * F.col("g_right")
        )
        * 1e9
    ).cast("long")
    ranked = g.select(
        "threshold",
        "n_left",
        "n_right",
        fquant("g_left").alias("gini_left"),
        fquant("g_right").alias("gini_right"),
        gain_nano.alias("gain_nano"),
    )
    w = Window.partitionBy(meta_part("threshold")).orderBy(
        F.col("gain_nano").desc(), F.col("threshold").asc()
    )
    return ranked.select(
        "threshold",
        "n_left",
        "n_right",
        "gini_left",
        "gini_right",
        (F.col("gain_nano").cast("double") / 1e9).alias("gain"),
        (F.rank().over(w) == 1).alias("is_best"),
    )


# ---------------------------------------------------------------------------
# agg_tukey_hsd — Tukey-Kramer honestly-significant-difference post-hoc:
# agg_anova_oneway says WHETHER priority explains price variance — HSD
# says WHICH priority pairs actually differ, with the studentized-range
# correction that keeps the familywise error at 5% across all 10 pairwise
# comparisons (10 naive t-tests at 5% each would not).
# ---------------------------------------------------------------------------

_TUKEY_Q_CRIT = 3.858  # studentized range q(k=5, df=inf) at 5% — pinned

_TUKEY_ORACLE = f"""
WITH g AS (
  SELECT o_orderpriority AS prio,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
           / COUNT(*) AS m
  FROM orders GROUP BY 1
), ssw AS (
  SELECT CAST(SUM(CAST(ROUND((o_totalprice - g.m) * (o_totalprice - g.m),
                             4) AS DECIMAL(27,4))) AS DOUBLE) AS ssw,
         CAST(COUNT(*) AS BIGINT) AS nt
  FROM orders JOIN g ON o_orderpriority = g.prio
), pairs AS (
  SELECT a.prio AS prio_a, b.prio AS prio_b,
         a.n AS n_a, b.n AS n_b, a.m AS m_a, b.m AS m_b
  FROM g a JOIN g b ON a.prio < b.prio
)
SELECT prio_a, prio_b, n_a, n_b,
       ROUND(abs(m_a - m_b), 4) AS mean_diff,
       FLOOR(abs(m_a - m_b)
             / sqrt(ssw / (nt - 5) / 2
                    * (1.0 / n_a + 1.0 / n_b)) * 1e6) / 1e6 AS q_stat,
       FLOOR(abs(m_a - m_b)
             / sqrt(ssw / (nt - 5) / 2
                    * (1.0 / n_a + 1.0 / n_b)) * 1e6) / 1e6
         > {_TUKEY_Q_CRIT} AS significant
FROM pairs CROSS JOIN ssw
"""


@register("agg_tukey_hsd", oracle=_TUKEY_ORACLE)
def agg_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-Kramer HSD over all 10 order-priority pairs:
    q_ij = |m_i − m_j| / √(MSW/2 · (1/n_i + 1/n_j)) with MSW the
    within-group mean square from the ANOVA decomposition (the Kramer
    form handles unequal group sizes), compared against the pinned
    studentized-range critical q(5, ∞) at 5% — the post-hoc that
    controls the FAMILYWISE error over every pairwise readout, which is
    why dashboards that run it after ANOVA don't cry wolf 10× as often.

    Cross-engine exactness: group means are exact decimal sums over
    identical doubles; SSW uses agg_anova_oneway's centered ladder
    (per-row (x−m)² ROUND(4) into an order-independent decimal total —
    the centered form keeps quantized terms at ~1e10, inside double's
    representable decimal range); q floor-quantizes and the flag
    compares the QUANTIZED q.

    Scale design: one keyed means pass + one centered pass with the
    5-row means broadcast (the ANOVA shape); the pair lattice is k²
    metadata. More groups widen the lattice, never the corpus passes."""
    o = table(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    g = o.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(x.cast(DSCALE)).cast("double") / F.count(F.lit(1))).alias(
            "m"
        ),
    )
    g = g.localCheckpoint(eager=True)
    dec4 = "decimal(27,4)"
    ssw_df = o.join(
        F.broadcast(g), o["o_orderpriority"] == g["prio"]
    ).agg(
        F.sum(F.round((x - F.col("m")) * (x - F.col("m")), 4).cast(dec4))
        .cast("double")
        .alias("ssw"),
        F.count(F.lit(1)).alias("nt"),
    )
    a, b = g.alias("a"), g.alias("b")
    pairs = a.join(b, F.col("a.prio") < F.col("b.prio")).select(
        F.col("a.prio").alias("prio_a"),
        F.col("b.prio").alias("prio_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.col("a.m").alias("m_a"),
        F.col("b.m").alias("m_b"),
    )
    msw_half = (
        F.col("ssw") / (F.col("nt") - 5) / 2
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    q_stat = fquant(
        F.abs(F.col("m_a") - F.col("m_b")) / F.sqrt(msw_half)
    )
    return pairs.crossJoin(F.broadcast(ssw_df)).select(
        "prio_a",
        "prio_b",
        "n_a",
        "n_b",
        F.round(F.abs(F.col("m_a") - F.col("m_b")), 4).alias("mean_diff"),
        q_stat.alias("q_stat"),
        (q_stat > _TUKEY_Q_CRIT).alias("significant"),
    )


# ---------------------------------------------------------------------------
# lineitem_fe_within_regression — Two-way fixed-effects (within)
# estimator: the workhorse panel regression — demean by entity AND time,
# regress the residuals — which identifies the discount→quantity slope
# from variation WITHIN each part and month, immune to any part-level or
# month-level confounder.
# ---------------------------------------------------------------------------

_FE_WITHIN_ORACLE = """
WITH base AS (
  SELECT l_partkey AS i, date_trunc('month', l_shipdate) AS t,
         l_discount AS x, l_quantity AS y
  FROM lineitem
), mi AS (
  SELECT i,
         CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS xi,
         CAST(SUM(CAST(y AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS yi
  FROM base GROUP BY 1
), mt AS (
  SELECT t,
         CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS xt,
         CAST(SUM(CAST(y AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS yt
  FROM base GROUP BY 1
), mg AS (
  SELECT CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS xg,
         CAST(SUM(CAST(y AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS yg
  FROM base
), within AS (
  SELECT CAST(FLOOR((x - xi - xt + xg) * (y - yi - yt + yg) * 1e9)
              AS HUGEINT) AS sxy_nano,
         CAST(FLOOR((x - xi - xt + xg) * (x - xi - xt + xg) * 1e9)
              AS HUGEINT) AS sxx_nano,
         CAST(FLOOR((y - yi - yt + yg) * (y - yi - yt + yg) * 1e9)
              AS HUGEINT) AS syy_nano
  FROM base
  JOIN mi ON base.i = mi.i
  JOIN mt ON base.t = mt.t
  CROSS JOIN mg
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       FLOOR(CAST(SUM(sxy_nano) AS DOUBLE)
             / CAST(SUM(sxx_nano) AS DOUBLE) * 1e6) / 1e6 AS slope,
       FLOOR(CAST(SUM(sxy_nano) AS DOUBLE) / 1e9
             * (CAST(SUM(sxy_nano) AS DOUBLE) / 1e9)
             / (CAST(SUM(sxx_nano) AS DOUBLE) / 1e9)
             / (CAST(SUM(syy_nano) AS DOUBLE) / 1e9) * 1e6) / 1e6
         AS r2_within
FROM within
"""


@register("lineitem_fe_within_regression", oracle=_FE_WITHIN_ORACLE)
def lineitem_fe_within_regression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-way fixed-effects slope of quantity on discount over the
    lineitem panel (entity = part, time = ship month): demean
    x̃ = x − x̄_i − x̄_t + x̄, ỹ likewise, slope = Σx̃ỹ / Σx̃² and
    within-R² = (Σx̃ỹ)² / (Σx̃²·Σỹ²) — the estimator that answers "does
    a deeper discount move quantity WITHIN a part-month", with every
    part-level (popularity) and month-level (seasonality) confounder
    swept out by construction.

    Cross-engine exactness: all three mean tables are exact decimal
    averages (identical doubles); each within-term floor-quantizes to
    1e-9 units into exact 128-bit sums (HUGEINT / decimal(38,0)), so
    the slope is a ratio of exact integers — no float accumulation
    order anywhere.

    Scale design: the classic TWO-PASS within estimator — pass 1 builds
    the entity/time/global mean tables (keyed, map-side-combined); pass
    2 re-scans the corpus joining entity means by KEY (co-partitioned
    equi-join — entity tables are corpus-dimension, never broadcast)
    and time/global means by BROADCAST (calendar-bounded / 1 row), then
    reduces to a single sufficient-statistics row. Adding regressors
    adds columns to the moment row, never passes."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("i"),
        F.date_trunc("month", F.col("l_shipdate")).alias("t"),
        F.col("l_discount").alias("x"),
        F.col("l_quantity").alias("y"),
    )
    mi = li.groupBy("i").agg(
        (F.sum(F.col("x").cast(DSCALE)).cast("double") / F.count(F.lit(1)))
        .alias("xi"),
        (F.sum(F.col("y").cast(DSCALE)).cast("double") / F.count(F.lit(1)))
        .alias("yi"),
    )
    from trireme_spark.operators.hints import cache_once

    # the time-mean table keeps its exact decimal sums so the GLOBAL
    # means derive from it (decimal addition is exact and associative:
    # cast(Σ_t ds AS DOUBLE)/Σ_t n is bit-identical to the whole-table
    # average) — one corpus pass less; cache_once because mt now has two
    # consumers (the broadcast build and the mg derivation) and is
    # calendar-bounded
    mt = cache_once(
        li.groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n_t"),
            F.sum(F.col("x").cast(DSCALE)).alias("dsx_t"),
            F.sum(F.col("y").cast(DSCALE)).alias("dsy_t"),
        )
        .select(
            "t",
            "n_t",
            "dsx_t",
            "dsy_t",
            (F.col("dsx_t").cast("double") / F.col("n_t")).alias("xt"),
            (F.col("dsy_t").cast("double") / F.col("n_t")).alias("yt"),
        )
    )
    mg = mt.agg(
        (F.sum("dsx_t").cast("double") / F.sum("n_t").cast("double"))
        .alias("xg"),
        (F.sum("dsy_t").cast("double") / F.sum("n_t").cast("double"))
        .alias("yg"),
    )
    xt_ = F.col("x") - F.col("xi") - F.col("xt") + F.col("xg")
    yt_ = F.col("y") - F.col("yi") - F.col("yt") + F.col("yg")
    within = (
        li.join(mi, "i")
        .join(F.broadcast(mt), "t")
        .crossJoin(F.broadcast(mg))
        .select(
            F.floor(xt_ * yt_ * 1e9).cast("decimal(38,0)").alias("sxy_nano"),
            F.floor(xt_ * xt_ * 1e9).cast("decimal(38,0)").alias("sxx_nano"),
            F.floor(yt_ * yt_ * 1e9).cast("decimal(38,0)").alias("syy_nano"),
        )
    )
    agg = within.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("sxy_nano").cast("double").alias("sxy"),
        F.sum("sxx_nano").cast("double").alias("sxx"),
        F.sum("syy_nano").cast("double").alias("syy"),
    )
    return agg.select(
        F.col("n_rows").cast("long").alias("n_rows"),
        fquant(F.col("sxy") / F.col("sxx")).alias("slope"),
        fquant(
            (F.col("sxy") / 1e9)
            * (F.col("sxy") / 1e9)
            / (F.col("sxx") / 1e9)
            / (F.col("syy") / 1e9)
        ).alias("r2_within"),
    )


# ---------------------------------------------------------------------------
# agg_target_encoding_kfold — Leakage-safe mean-target encoding: the
# category encoder every tabular-ML pipeline ships, with the out-of-fold
# trick that keeps a row's own target out of its feature (the difference
# between an encoder and a label leak).
# ---------------------------------------------------------------------------

_TE_FOLDS = 5
_TE_SMOOTH = 20.0  # prior strength m in the smoothed mean

_TARGET_ENC_ORACLE = f"""
WITH base AS (
  SELECT o_orderpriority AS cat,
         CAST(('0x' || substr(md5(o_orderkey::VARCHAR || '|tefold'), 1, 8))
              AS BIGINT) % {_TE_FOLDS} AS fold,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
), cell AS (
  SELECT cat, fold,
         CAST(COUNT(*) AS BIGINT) AS n_cf,
         CAST(SUM(y) AS BIGINT) AS s_cf
  FROM base GROUP BY 1, 2
), tot AS (
  SELECT cat, fold, n_cf, s_cf,
         SUM(n_cf) OVER (PARTITION BY cat) AS n_c,
         SUM(s_cf) OVER (PARTITION BY cat) AS s_c,
         SUM(n_cf) OVER () AS n_g,
         SUM(s_cf) OVER () AS s_g
  FROM cell
)
SELECT cat, fold, n_cf AS n_rows,
       FLOOR((CAST(s_c - s_cf AS DOUBLE)
              + {_TE_SMOOTH} * (CAST(s_g AS DOUBLE) / n_g))
             / (CAST(n_c - n_cf AS DOUBLE) + {_TE_SMOOTH}) * 1e6) / 1e6
         AS encoding,
       FLOOR(CAST(s_g AS DOUBLE) / n_g * 1e6) / 1e6 AS global_prior
FROM tot
"""


@register("agg_target_encoding_kfold", oracle=_TARGET_ENC_ORACLE)
def agg_target_encoding_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold smoothed mean-target encoding of order priority
    against the fell-through label: rows in fold f of category c get
    enc(c,f) = (Σy_c − Σy_{c,f} + m·prior) / (n_c − n_{c,f} + m) with
    m = 20 and prior the global rate — the row's OWN fold's targets
    never enter its encoding (the K-fold leakage guard), and the
    Bayesian-smoothing prior keeps rare categories from memorizing
    noise. Emitted at (category, fold) grain — exactly the lookup
    table a training pipeline would join back onto the corpus.

    Cross-engine exactness: folds are the seeded md5-prefix hash
    (stable, table-free — the events_ab assignment pattern); every
    sufficient statistic is an exact integer; the encoding is one
    integer-derived double expression, floor-quantized.

    Scale design: one corpus pass to the (category, fold) cell table
    (map-side-combined), then category/global rollups as windows over
    that bounded metadata — the leave-one-fold-out numerator is pure
    ALGEBRA on cell sums (Σ_c − Σ_{c,f}), so K folds cost K× metadata
    rows, never K corpus passes. High-cardinality categories keep the
    same plan: the cell table is (cardinality × K), hash-partitioned."""
    o = table(spark, sf_dir, "orders")
    fold = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit("|tefold"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _TE_FOLDS
    )
    base = o.select(
        F.col("o_orderpriority").alias("cat"),
        fold.alias("fold"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    )
    cell = base.groupBy("cat", "fold").agg(
        F.count(F.lit(1)).alias("n_cf"),
        F.sum("y").cast("long").alias("s_cf"),
    )
    w_cat = Window.partitionBy("cat")
    w_all = Window.partitionBy(meta_part("n_cf"))
    tot = cell.select(
        "cat",
        "fold",
        "n_cf",
        "s_cf",
        F.sum("n_cf").over(w_cat).alias("n_c"),
        F.sum("s_cf").over(w_cat).alias("s_c"),
        F.sum("n_cf").over(w_all).alias("n_g"),
        F.sum("s_cf").over(w_all).alias("s_g"),
    )
    prior = F.col("s_g").cast("double") / F.col("n_g")
    enc = fquant(
        ((F.col("s_c") - F.col("s_cf")).cast("double") + _TE_SMOOTH * prior)
        / ((F.col("n_c") - F.col("n_cf")).cast("double") + _TE_SMOOTH)
    )
    return tot.select(
        "cat",
        "fold",
        F.col("n_cf").alias("n_rows"),
        enc.alias("encoding"),
        fquant(prior).alias("global_prior"),
    )


# ---------------------------------------------------------------------------
# agg_kruskal_wallis — Kruskal-Wallis H: the k-group rank ANOVA —
# orders_mannwhitney_u's 2-group machinery generalized to all five order
# priorities, answering agg_anova_oneway's question without its normality
# assumption.
# ---------------------------------------------------------------------------

_KW_CHI2_CRIT = 9.488  # chi-square(4) at 5% — pinned literal

_KRUSKAL_ORACLE = f"""
WITH base AS (
  SELECT o_orderpriority AS g, o_totalprice AS v FROM orders
), vals AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(COALESCE(SUM(COUNT(*)) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS below
  FROM base GROUP BY v
), gv AS (
  SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1, 2
), ranked AS (
  -- average rank in HALF-units: 2*below + cnt + 1 (exact integers)
  SELECT gv.g, gv.c, 2 * vals.below + vals.cnt + 1 AS r2u
  FROM gv JOIN vals ON gv.v = vals.v
), grp AS (
  SELECT g, CAST(SUM(c) AS BIGINT) AS n_g,
         CAST(SUM(CAST(c AS HUGEINT) * r2u) AS DOUBLE) / 2 AS r_g
  FROM ranked GROUP BY g
), tot AS (
  -- per-group srr terms floor-quantize to centi-units into an exact
  -- integer sum: a raw 5-double SUM is accumulation-order-dependent,
  -- and the 12/(N(N+1))·srr − 3(N+1) cancellation amplifies any ulp
  SELECT CAST(SUM(n_g) AS DOUBLE) AS n,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(FLOOR(r_g * r_g / n_g * 100) AS HUGEINT))
              AS DOUBLE) / 100 AS srr
  FROM grp
), ties AS (
  SELECT CAST(SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS DOUBLE)
           AS t3t
  FROM vals
)
SELECT CAST(n AS BIGINT) AS n_rows, k AS n_groups,
       FLOOR((12 / (n * (n + 1)) * srr - 3 * (n + 1)) * 1e6) / 1e6 AS h,
       FLOOR((12 / (n * (n + 1)) * srr - 3 * (n + 1))
             / (1 - t3t / (n * n * n - n)) * 1e6) / 1e6
         AS h_tie_corrected,
       FLOOR((12 / (n * (n + 1)) * srr - 3 * (n + 1))
             / (1 - t3t / (n * n * n - n)) * 1e6) / 1e6
         > {_KW_CHI2_CRIT} AS significant
FROM tot CROSS JOIN ties
"""


@register("agg_kruskal_wallis", oracle=_KRUSKAL_ORACLE)
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H over the five order priorities on total price:
    H = 12/(N(N+1)) · Σ R_g²/n_g − 3(N+1) on midrank-tied ranks, with
    the tie correction H/C, C = 1 − Σ(t³−t)/(N³−N) — the rank ANOVA
    that drops normality (compare agg_anova_oneway's F on the same
    question; disagreement between them IS the
    heavy-tail/outlier diagnostic).

    Cross-engine exactness: the agg_spearman_rank_corr rank-free
    ladder — ranks never materialize per row; the value-grain rollup
    carries (count, below-count) and the average rank is the exact
    INTEGER 2·below+cnt+1 in half-units, so every rank sum is an exact
    wide-integer sum; H is one scale-free double expression over exact
    integers, floor-quantized, and the flag compares the QUANTIZED
    corrected H.

    Scale design: one corpus pass to value grain (plus one to
    (group, value) grain — same shuffle key), a cumulative window over
    the value-grain table (two-pass/range-partition swap at corpus
    scale, the spearman doctrine), then everything is k-row metadata."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_totalprice").alias("v"),
    )
    w_below = (
        Window.partitionBy(meta_part("cnt"))
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    from trireme_spark.operators.hints import cache_once

    # value-grain frame (bounded by the distinct-value alphabet),
    # consumed by the rank join AND the tie-correction leg — uncached,
    # each consumer replays the corpus rollup plus its cumulative window
    vals = cache_once(
        base.groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "v",
            "cnt",
            F.coalesce(F.sum("cnt").over(w_below), F.lit(0)).alias(
                "below"
            ),
        )
    )
    gv = base.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    ranked = gv.join(vals, "v").select(
        "g",
        "c",
        (2 * F.col("below") + F.col("cnt") + 1).alias("r2u"),
    )
    # cast-then-multiply, mirroring the oracle's CAST(c AS HUGEINT) * r2u:
    # widening AFTER a LONG product would overflow first at corpus scale
    # (N beyond ~2e9 rows per value) and break the exact-wide-sum claim
    grp = ranked.groupBy("g").agg(
        F.sum("c").alias("n_g"),
        (
            F.sum(
                F.col("c").cast("decimal(38,0)") * F.col("r2u")
            ).cast("double")
            / 2
        ).alias("r_g"),
    )
    # per-group terms floor-quantize to centi-units into an exact
    # decimal sum — a raw double SUM is accumulation-order-dependent,
    # and the 12/(N(N+1))·srr − 3(N+1) cancellation amplifies any ulp
    tot = grp.agg(
        F.sum("n_g").cast("double").alias("n"),
        F.count(F.lit(1)).alias("k"),
        (
            F.sum(
                F.floor(
                    F.col("r_g") * F.col("r_g") / F.col("n_g") * 100
                ).cast("decimal(38,0)")
            ).cast("double")
            / 100
        ).alias("srr"),
    )
    # same cast-then-multiply order as the oracle's CAST(cnt AS HUGEINT)
    # * cnt * cnt - cnt (a LONG cube overflows past cnt ~ 2e6 duplicates)
    ties = vals.agg(
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        )
        .cast("double")
        .alias("t3t")
    )
    n, srr, t3t = F.col("n"), F.col("srr"), F.col("t3t")
    h = 12 / (n * (n + 1)) * srr - 3 * (n + 1)
    hc = h / (1 - t3t / (n * n * n - n))
    return tot.crossJoin(F.broadcast(ties)).select(
        n.cast("long").alias("n_rows"),
        F.col("k").alias("n_groups"),
        fquant(h).alias("h"),
        fquant(hc).alias("h_tie_corrected"),
        (fquant(hc) > _KW_CHI2_CRIT).alias("significant"),
    )


# ---------------------------------------------------------------------------
# agg_brown_forsythe — Brown-Forsythe variance-homogeneity test: the
# median-based Levene — ANOVA's equal-variance ASSUMPTION, tested before
# trusting agg_anova_oneway/agg_tukey_hsd, with the median centering that
# keeps the test honest under heavy tails.
# ---------------------------------------------------------------------------

_BF_F_CRIT = 2.372  # F(4, inf) at 5% — pinned literal

_BROWN_FORSYTHE_ORACLE = f"""
WITH base AS (
  SELECT o_orderpriority AS g, o_totalprice AS v FROM orders
), gv AS (
  SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1, 2
), cum AS (
  SELECT g, v, c,
         SUM(c) OVER (PARTITION BY g ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cc,
         SUM(c) OVER (PARTITION BY g) AS n_g
  FROM gv
), med AS (
  -- LOWER median: the smallest value whose within-group cumulative
  -- count reaches ceil(n_g/2) — exact, order-statistic, engine-free
  SELECT g, MIN(v) AS med
  FROM cum WHERE cc >= CAST(CEIL(n_g / 2.0) AS BIGINT)
  GROUP BY g
), z AS (
  SELECT base.g, abs(base.v - med.med) AS z
  FROM base JOIN med ON base.g = med.g
), gm AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(z AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS m
  FROM z GROUP BY g
), tot AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS nt, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(n AS DECIMAL(27,6)) * m) AS DOUBLE) / SUM(n) AS gm
  FROM gm
), ssb AS (
  SELECT CAST(SUM(CAST(ROUND(n * (m - gm) * (m - gm), 4)
                       AS DECIMAL(27,4))) AS DOUBLE) AS ssb
  FROM gm CROSS JOIN tot
), ssw AS (
  SELECT CAST(SUM(CAST(ROUND((z.z - gm.m) * (z.z - gm.m), 4)
                       AS DECIMAL(27,4))) AS DOUBLE) AS ssw
  FROM z JOIN gm ON z.g = gm.g
)
SELECT CAST(nt AS BIGINT) AS n_rows, k AS n_groups,
       FLOOR((ssb / (k - 1)) / (ssw / (nt - k)) * 1e6) / 1e6 AS f_stat,
       FLOOR((ssb / (k - 1)) / (ssw / (nt - k)) * 1e6) / 1e6
         > {_BF_F_CRIT} AS heteroscedastic
FROM tot CROSS JOIN ssb CROSS JOIN ssw
"""


@register("agg_brown_forsythe", oracle=_BROWN_FORSYTHE_ORACLE)
def agg_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test across the five order priorities: one-way
    ANOVA on z = |x − median_g| — F significant means the groups'
    SPREADS differ (heteroscedasticity), which silently invalidates
    the pooled-MSW machinery of agg_anova_oneway and agg_tukey_hsd;
    the median centering (vs Levene's mean) keeps the test calibrated
    under the heavy right tails order totals actually have.

    Cross-engine exactness: the group median is the LOWER order
    statistic (smallest value whose within-group cumulative count
    reaches ⌈n/2⌉ — exact, no interpolation); z runs on identical
    doubles; means are decimal-exact; SSB/SSW use agg_anova_oneway's
    centered ROUND(4) decimal ladder; only the scale-free F leaves,
    floor-quantized.

    Scale design: a (group, value)-grain rollup with a within-group
    cumulative window finds medians without sorting the corpus
    row-grain; the z pass re-scans once with the 5-row median table
    broadcast; SSB/SSW reduce map-side (the ANOVA shape)."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_totalprice").alias("v"),
    )
    gv = base.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    w_g = Window.partitionBy("g")
    w_cum = w_g.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = gv.select(
        "g",
        "v",
        F.sum("c").over(w_cum).alias("cc"),
        F.sum("c").over(w_g).alias("n_g"),
    )
    med = (
        cum.where(
            F.col("cc") >= F.ceil(F.col("n_g") / 2.0).cast("long")
        )
        .groupBy("g")
        .agg(F.min("v").alias("med"))
    )
    z = base.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("v") - F.col("med")).alias("z")
    )
    gm = z.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col("z").cast(DSCALE)).cast("double") / F.count(F.lit(1)))
        .alias("m"),
    )
    gm = gm.localCheckpoint(eager=True)
    tot = gm.agg(
        F.sum("n").cast("double").alias("nt"),
        F.count(F.lit(1)).alias("k"),
        (
            F.sum(F.col("n").cast(DSCALE) * F.col("m")).cast("double")
            / F.sum("n")
        ).alias("gmean"),
    )
    dec4 = "decimal(27,4)"
    ssb_df = gm.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.round(
                F.col("n") * (F.col("m") - F.col("gmean"))
                * (F.col("m") - F.col("gmean")),
                4,
            ).cast(dec4)
        )
        .cast("double")
        .alias("ssb")
    )
    ssw_df = z.join(F.broadcast(gm), "g").agg(
        F.sum(
            F.round(
                (F.col("z") - F.col("m")) * (F.col("z") - F.col("m")), 4
            ).cast(dec4)
        )
        .cast("double")
        .alias("ssw")
    )
    f_stat = fquant(
        (F.col("ssb") / (F.col("k") - 1))
        / (F.col("ssw") / (F.col("nt") - F.col("k")))
    )
    return (
        tot.crossJoin(F.broadcast(ssb_df))
        .crossJoin(F.broadcast(ssw_df))
        .select(
            F.col("nt").cast("long").alias("n_rows"),
            F.col("k").alias("n_groups"),
            f_stat.alias("f_stat"),
            (f_stat > _BF_F_CRIT).alias("heteroscedastic"),
        )
    )


# ---------------------------------------------------------------------------
# agg_confusion_mcc — The binary-classifier scorecard in one corpus pass:
# confusion matrix + accuracy/precision/recall/F1 + Matthews correlation
# coefficient. MCC is the one single-number summary that stays honest
# under class imbalance (Chicco & Jurman 2020) — accuracy and F1 both
# saturate when one class dominates, which is exactly the regime of
# quality-filter/contamination classifiers over a 100 TB corpus. Completes
# the agreement family: kappa (chance-corrected agreement), McNemar
# (paired disagreement direction), odds ratio (association), MCC
# (correlation of the confusion matrix itself). Predictor under eval:
# "high order priority (1-2) predicts fulfilled status 'F'" — a
# deliberately weak rule; the scorecard's job is to SAY so, not to win.
# ---------------------------------------------------------------------------

_MCC_ORACLE = """
WITH cells AS (
  SELECT
    CAST(COUNT(*) FILTER (WHERE pred AND label) AS BIGINT) AS tp,
    CAST(COUNT(*) FILTER (WHERE pred AND NOT label) AS BIGINT) AS fp,
    CAST(COUNT(*) FILTER (WHERE NOT pred AND label) AS BIGINT) AS fn,
    CAST(COUNT(*) FILTER (WHERE NOT pred AND NOT label) AS BIGINT) AS tn
  FROM (
    SELECT o_orderpriority IN ('1-URGENT', '2-HIGH') AS pred,
           o_orderstatus = 'F' AS label
    FROM orders
  )
)
SELECT tp, fp, fn, tn,
       FLOOR(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) * 1e6) / 1e6
         AS accuracy,
       FLOOR(CAST(tp AS DOUBLE) / (tp + fp) * 1e6) / 1e6 AS precision_,
       FLOOR(CAST(tp AS DOUBLE) / (tp + fn) * 1e6) / 1e6 AS recall_,
       FLOOR(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) * 1e6) / 1e6
         AS f1,
       CASE WHEN tp + fp = 0 OR tp + fn = 0 OR tn + fp = 0
              OR tn + fn = 0
            THEN 0.0
            ELSE FLOOR(
              CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn
                   AS DOUBLE)
              / (sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn))
                 * sqrt(CAST(tn + fp AS DOUBLE) * (tn + fn))) * 1e6
            ) / 1e6
       END AS mcc
FROM cells
"""


@register("agg_confusion_mcc", oracle=_MCC_ORACLE)
def agg_confusion_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass binary-classifier scorecard: confusion cells, accuracy,
    precision, recall, F1 (harmonic as 2TP/(2TP+FP+FN) — one division,
    no P·R/(P+R) intermediate to drift), and the Matthews correlation
    coefficient (ad − bc)/√((a+b)(a+c)(b+d)(c+d)) — the
    imbalance-honest summary. A zero marginal makes MCC 0 by the
    sklearn convention (guarded identically in both engines).

    Cross-engine exactness: the four cells are exact integers from one
    conditional aggregation; the MCC numerator tp·tn − fp·fn is an
    exact 128-bit product-difference (decimal(38,0)/HUGEINT — the
    cancellation-prone subtraction never happens in rounded doubles);
    the denominator is two √ of two-factor double products in identical
    shape; every ratio floor-quantizes.

    Scale design: ONE map-side-combinable corpus aggregation to four
    integers — the minimal possible plan (no shuffle beyond the 1-row
    fold); threshold sweeps (ROC points) add conditional columns to
    the same pass, never passes."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .alias("pred"),
        (F.col("o_orderstatus") == "F").alias("label"),
    )
    cells = o.agg(
        F.count_if(F.col("pred") & F.col("label"))
        .cast("long")
        .alias("tp"),
        F.count_if(F.col("pred") & ~F.col("label"))
        .cast("long")
        .alias("fp"),
        F.count_if(~F.col("pred") & F.col("label"))
        .cast("long")
        .alias("fn"),
        F.count_if(~F.col("pred") & ~F.col("label"))
        .cast("long")
        .alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    num = (
        tp.cast("decimal(38,0)") * tn - fp.cast("decimal(38,0)") * fn
    ).cast("double")
    den = F.sqrt((tp + fp).cast("double") * (tp + fn)) * F.sqrt(
        (tn + fp).cast("double") * (tn + fn)
    )
    # OR of zero-marginals, not a product == 0: a four-way long product
    # overflows (ANSI error) at corpus scale; the booleans are identical
    degenerate = (
        ((tp + fp) == 0)
        | ((tp + fn) == 0)
        | ((tn + fp) == 0)
        | ((tn + fn) == 0)
    )
    return cells.select(
        "tp",
        "fp",
        "fn",
        "tn",
        fquant((tp + tn).cast("double") / (tp + fp + fn + tn)).alias(
            "accuracy"
        ),
        fquant(tp.cast("double") / (tp + fp)).alias("precision_"),
        fquant(tp.cast("double") / (tp + fn)).alias("recall_"),
        fquant((2 * tp).cast("double") / (2 * tp + fp + fn)).alias("f1"),
        F.when(degenerate, F.lit(0.0))
        .otherwise(fquant(num / den))
        .alias("mcc"),
    )


# ---------------------------------------------------------------------------
# orders_score_lift_table — Gains/lift table for a scoring rule (customer
# account balance predicting "has an urgent order"): the model-eval
# readout every targeting/campaign pipeline prints before deploying a
# ranker — per band: response rate, lift over base rate, cumulative
# capture. Bands are FIXED-WIDTH over the observed score range (the
# WoE/gini binning discipline — no percentile/NTILE, so no corpus-grain
# global sort and no cross-engine tie hazard); a decile-by- rank variant
# would need the win_topk_with_ties two-pass rank machinery for no extra
# statistical content.
# ---------------------------------------------------------------------------

_LIFT_BANDS = 10

_LIFT_ORACLE = f"""
WITH lab AS (
  SELECT o_custkey AS custkey,
         MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
           AS pos
  FROM orders GROUP BY 1
), cust AS (
  SELECT c.c_acctbal AS score, COALESCE(l.pos, 0) AS pos
  FROM customer c LEFT JOIN lab l ON c.c_custkey = l.custkey
), rng AS (
  -- range from customer ALONE: the left join keeps every customer, so
  -- min/max(score) are join-invariant — no reason to replay the join
  SELECT MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi FROM customer
), banded AS (
  SELECT LEAST({_LIFT_BANDS - 1},
               CAST(FLOOR((score - lo) * {_LIFT_BANDS} / (hi - lo))
                    AS BIGINT)) AS band,
         pos
  FROM cust CROSS JOIN rng
), cells AS (
  SELECT band, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS n_pos
  FROM banded GROUP BY band
), tot AS (
  SELECT band, n, n_pos,
         SUM(n) OVER () AS n_tot, SUM(n_pos) OVER () AS pos_tot,
         SUM(n) OVER (ORDER BY band DESC) AS cum_n,
         SUM(n_pos) OVER (ORDER BY band DESC) AS cum_pos
  FROM cells
)
SELECT band, n, n_pos,
       FLOOR(CAST(n_pos AS DOUBLE) / n * 1e6) / 1e6 AS pos_rate,
       FLOOR(CAST(n_pos AS DOUBLE) / n
             / (CAST(pos_tot AS DOUBLE) / n_tot) * 1e6) / 1e6 AS lift,
       FLOOR(CAST(cum_pos AS DOUBLE) / pos_tot * 1e6) / 1e6
         AS cum_capture,
       FLOOR(CAST(cum_n AS DOUBLE) / n_tot * 1e6) / 1e6 AS cum_share
FROM tot
"""


@register("orders_score_lift_table", oracle=_LIFT_ORACLE)
def orders_score_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table for "account balance predicts urgent-order
    customer": 10 fixed-width score bands over the observed
    range; per band the response rate, lift over the base rate, and —
    reading from the TOP band down — cumulative capture of positives vs
    cumulative share of customers (the gains curve's x/y). A useless
    score shows lift ≈ 1 everywhere; a useful one front-loads capture.

    Cross-engine exactness: band ids are FLOOR of one identical double
    expression against corpus min/max (1-row broadcast); every cell is
    an exact integer; rates/lift/capture are integer ratios under
    floor-quantization. Banding is fixed-width BY DESIGN (the WoE/gini
    discipline): a rank-decile variant would need a corpus-grain global
    order — the exact thing win_topk_with_ties exists to avoid.

    Scale design: orders roll up to customer grain (keyed,
    map-side-combinable), then ONE keyed join with customer
    (co-partitioned corpus dimensions — deliberately NOT broadcast,
    customer grows with the corpus), one 1-row range broadcast, one
    {_LIFT_BANDS}-cell aggregation; all windows ride the 10-row
    metadata frame."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    lab = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).alias("pos")
    )
    cust = (
        c.join(lab, c["c_custkey"] == lab["custkey"], "left")
        .select(
            F.col("c_acctbal").alias("score"),
            F.coalesce(F.col("pos"), F.lit(0)).alias("pos"),
        )
    )
    # range from customer alone (join-invariant under the left join) —
    # computing it from `cust` would replay the orders rollup + join
    rng = c.agg(
        F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi")
    )
    band = F.least(
        F.lit(_LIFT_BANDS - 1),
        F.floor(
            (F.col("score") - F.col("lo"))
            * _LIFT_BANDS
            / (F.col("hi") - F.col("lo"))
        ).cast("long"),
    )
    cells = (
        cust.crossJoin(F.broadcast(rng))
        .groupBy(band.alias("band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
        )
    )
    w_all = Window.partitionBy(meta_part("band"))
    w_cum = w_all.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = cells.select(
        "band",
        "n",
        "n_pos",
        F.sum("n").over(w_all).alias("n_tot"),
        F.sum("n_pos").over(w_all).alias("pos_tot"),
        F.sum("n").over(w_cum).alias("cum_n"),
        F.sum("n_pos").over(w_cum).alias("cum_pos"),
    )
    return tot.select(
        "band",
        "n",
        "n_pos",
        fquant(F.col("n_pos").cast("double") / F.col("n")).alias(
            "pos_rate"
        ),
        fquant(
            (F.col("n_pos").cast("double") / F.col("n"))
            / (F.col("pos_tot").cast("double") / F.col("n_tot"))
        ).alias("lift"),
        fquant(
            F.col("cum_pos").cast("double") / F.col("pos_tot")
        ).alias("cum_capture"),
        fquant(F.col("cum_n").cast("double") / F.col("n_tot")).alias(
            "cum_share"
        ),
    )


# ---------------------------------------------------------------------------
# orders_permutation_test — Hash-randomization test for the urgent-vs-rest
# difference in mean order value — the RESAMPLING member of the inference
# family (rank-based: mannwhitney/kruskal; parametric: welch/anova;
# resampling: this). B deterministic pseudo-randomizations of the group
# label, each preserving the observed arm share in expectation (the
# UNCONDITIONAL randomization test — Bernoulli reassignment, not the
# conditional fixed-margins permutation; asymptotically equivalent, stated
# honestly, and the only variant with a one-pass distributed form).
# ---------------------------------------------------------------------------

# 32 replicates: min attainable p = 1/33 < 0.05, so the screen can still
# reject at 5%; B is a constant multiplier on ONE corpus pass, sized to
# the local sweep budget — a cluster runs B in the hundreds by raising
# this literal, nothing else changes
_PERM_B = 32

_PERM_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey AS k, o_totalprice AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a
  FROM orders
), obs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(a) AS BIGINT) AS n_a,
         {oracle_sum("CASE WHEN a = 1 THEN v ELSE 0 END")} AS s_a,
         {oracle_sum("CASE WHEN a = 0 THEN v ELSE 0 END")} AS s_r
  FROM base
), digests AS (
  -- two-stage fan-out: one md5 digest serves FOUR replicates (8-hex
  -- windows), so the digest explode runs at B/4 and only the cheap
  -- window extraction runs at B — 4x fewer hashes (the sf0.1 noop
  -- gate caught the 1-digest-per-replicate version at 16.5s vs the
  -- 10s sweep budget)
  SELECT b4.b4, base.v,
         md5(base.k::VARCHAR || '|perm' || b4.b4::VARCHAR) AS dg
  FROM base CROSS JOIN (SELECT UNNEST(range({_PERM_B // 4})) AS b4) b4
), fan AS (
  -- the observed stats ride the broadcast into the fan-out, so the
  -- corpus is scanned exactly twice (obs + fan), never a third time
  SELECT d.b4 * 4 + o4.o4 AS b,
         CASE WHEN CAST(('0x' || substr(d.dg, 1 + 8 * o4.o4, 8))
                   AS BIGINT) / 4294967296.0
              < CAST(o.n_a AS DOUBLE) / o.n
              THEN 1 ELSE 0 END AS pa,
         d.v, o.n AS n_obs, o.n_a AS na_obs,
         o.s_a AS sa_obs, o.s_r AS sr_obs
  FROM digests d CROSS JOIN (SELECT UNNEST(range(4)) AS o4) o4
                 CROSS JOIN obs o
), cell AS (
  -- only the A side aggregates per replicate; the rest side derives
  -- from the OBSERVED totals (n_r = n - n_a, s_r = tot - s_a), and the
  -- CASE has no ELSE so the decimal adds run on matching rows only —
  -- both map straight onto the Spark side and halve the agg cost
  SELECT b,
         CAST(COUNT(*) FILTER (WHERE pa = 1) AS BIGINT) AS n_a,
         {oracle_sum("CASE WHEN pa = 1 THEN v END")} AS s_a,
         ANY_VALUE(n_obs) AS n_obs, ANY_VALUE(na_obs) AS na_obs,
         ANY_VALUE(sa_obs) AS sa_obs, ANY_VALUE(sr_obs) AS sr_obs
  FROM fan GROUP BY b
), diffs AS (
  SELECT ABS(CAST(FLOOR((s_a / n_a
                         - (sa_obs + sr_obs - s_a) / (n_obs - n_a))
                        * 1e6) AS BIGINT)) AS d_micro,
         n_obs, na_obs,
         CAST(FLOOR((sa_obs / na_obs - sr_obs / (n_obs - na_obs)) * 1e6)
              AS BIGINT) AS d_obs_signed,
         ABS(CAST(FLOOR((sa_obs / na_obs - sr_obs / (n_obs - na_obs))
                        * 1e6) AS BIGINT)) AS d_obs_micro
  FROM cell WHERE n_a > 0 AND n_a < n_obs
)
SELECT n_obs AS n_rows, na_obs AS n_urgent,
       CAST(d_obs_signed AS DOUBLE) / 1e6 AS diff_obs,
       CAST({_PERM_B} AS BIGINT) AS n_permutations,
       CAST(COUNT(*) FILTER (WHERE d_micro >= d_obs_micro)
            AS BIGINT) AS n_extreme,
       FLOOR((1.0 + COUNT(*) FILTER (WHERE d_micro >= d_obs_micro))
             / ({_PERM_B} + 1.0) * 1e6) / 1e6 AS p_value
FROM diffs
GROUP BY n_obs, na_obs, d_obs_signed, d_obs_micro
"""


@register("orders_permutation_test", oracle=_PERM_ORACLE)
def orders_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization test for urgent-vs-rest mean order value: 64
    deterministic md5 pseudo-randomizations of the arm label (row k
    joins pseudo-arm A in replicate b iff u = md5(k|perm|b)[0:8]/2^32
    falls under the observed arm share), test statistic |mean_A −
    mean_rest| per replicate, p = (1 + #extreme)/(B+1) — the
    add-one-smoothed Monte-Carlo p-value. Distribution-free like
    mannwhitney, but on the RAW mean (no rank transform), so it answers
    the dollars question directly.

    Cross-engine exactness: every per-replicate statistic is a ratio of
    decimal-exact sums and exact counts; the extremeness comparison
    happens on floor-quantized integer MICRO-units on both sides, so a
    boundary-straddling ulp cannot flip an indicator (the BH
    quantize-before-compare doctrine).

    Scale design: the corpus crosses a bounded 64-row replicate
    spine — a deliberate, documented ×B fan-out that map-side-combines
    to 2·B cells per partition before the (tiny) shuffle; the
    alternative (B sequential passes) reads the corpus B times.
    Replicates where a pseudo-arm is empty are excluded from the null
    distribution (n_a > 0 AND n_r > 0 — degenerate at corpus scale
    only if the arm share is ~0)."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("a"),
    )
    obs = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a").cast("long").alias("n_a"),
        dsum(F.when(F.col("a") == 1, F.col("v")).otherwise(0.0)).alias(
            "s_a"
        ),
        dsum(F.when(F.col("a") == 0, F.col("v")).otherwise(0.0)).alias(
            "s_r"
        ),
    )
    # two-stage fan-out: one md5 digest serves FOUR replicates (8-hex
    # windows), so the digest explode runs at B/4 and only the cheap
    # window extraction runs at B — 4x fewer hashes (the sf0.1 noop
    # gate caught the 1-digest-per-replicate version at 16.5s vs the
    # 10s sweep budget)
    digests = o.select(
        "k",
        "v",
        F.explode(
            F.sequence(F.lit(0), F.lit(_PERM_B // 4 - 1))
        ).alias("b4"),
    ).select(
        "v",
        "b4",
        F.md5(
            F.concat(
                F.col("k").cast("string"),
                F.lit("|perm"),
                F.col("b4").cast("string"),
            )
        ).alias("dg"),
    )
    u = (
        F.conv(
            F.col("dg").substr(
                (F.lit(1) + 8 * F.col("o4")).cast("int"), F.lit(8)
            ),
            16,
            10,
        ).cast("long")
        / 4294967296.0
    )
    # the observed stats ride the 1-row broadcast INTO the fan-out and
    # surface again via any_value per cell — the corpus is scanned
    # exactly twice (obs + fan), never a third time for the final row
    fan = (
        digests.select(
            "v",
            "dg",
            "b4",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("o4"),
        )
        .crossJoin(F.broadcast(obs))
        .select(
            (F.col("b4") * 4 + F.col("o4")).alias("b"),
            "v",
            F.when(u < F.col("n_a").cast("double") / F.col("n"), 1)
            .otherwise(0)
            .alias("pa"),
            F.col("n").alias("n_obs"),
            F.col("n_a").alias("na_obs"),
            F.col("s_a").alias("sa_obs"),
            F.col("s_r").alias("sr_obs"),
        )
    )
    # only the A side aggregates per replicate; the rest side derives
    # from the OBSERVED totals (n_r = n − n_a, s_r = tot − s_a), and the
    # WHEN has no otherwise so the decimal adds run on matching rows
    # only — halves the fan-grain aggregation cost
    cell = fan.groupBy("b").agg(
        F.count_if(F.col("pa") == 1).cast("long").alias("n_a"),
        dsum(F.when(F.col("pa") == 1, F.col("v"))).alias("s_a"),
        F.any_value("n_obs").alias("n_obs"),
        F.any_value("na_obs").alias("na_obs"),
        F.any_value("sa_obs").alias("sa_obs"),
        F.any_value("sr_obs").alias("sr_obs"),
    )
    d_obs = F.floor(
        (
            F.col("sa_obs") / F.col("na_obs")
            - F.col("sr_obs") / (F.col("n_obs") - F.col("na_obs"))
        )
        * 1e6
    ).cast("long")
    diffs = cell.where(
        (F.col("n_a") > 0) & (F.col("n_a") < F.col("n_obs"))
    ).select(
        F.abs(
            F.floor(
                (
                    F.col("s_a") / F.col("n_a")
                    - (F.col("sa_obs") + F.col("sr_obs") - F.col("s_a"))
                    / (F.col("n_obs") - F.col("n_a"))
                )
                * 1e6
            ).cast("long")
        ).alias("d_micro"),
        F.col("n_obs"),
        F.col("na_obs"),
        d_obs.alias("d_obs_signed"),
        F.abs(d_obs).alias("d_obs_micro"),
    )
    return (
        diffs.groupBy("n_obs", "na_obs", "d_obs_signed", "d_obs_micro")
        .agg(
            F.count_if(F.col("d_micro") >= F.col("d_obs_micro"))
            .cast("long")
            .alias("n_extreme")
        )
        .select(
            F.col("n_obs").alias("n_rows"),
            F.col("na_obs").alias("n_urgent"),
            (F.col("d_obs_signed").cast("double") / 1e6).alias(
                "diff_obs"
            ),
            F.lit(_PERM_B).cast("long").alias("n_permutations"),
            "n_extreme",
            fquant(
                (1.0 + F.col("n_extreme")) / (_PERM_B + 1.0)
            ).alias("p_value"),
        )
    )


# ---------------------------------------------------------------------------
# agg_tail_dependence — Empirical upper-tail dependence between daily
# order VOLUME and daily AVERAGE order value: λ_U(q) = P(Y in its top
# (1−q) tail | X in its top (1−q) tail) at q ∈ {0.75, 0.9, 0.95} — the
# copula-diagnostics number that says whether extremes CO-OCCUR.
# Correlation answers "do they co-move on average"; λ_U answers "when
# volume spikes, does value spike too" — the question capacity/risk
# planning actually asks, and invisible to Pearson/Spearman (a Gaussian
# copula has λ_U = 0 at ANY correlation).
# ---------------------------------------------------------------------------

_TAIL_Q_PCT = [75, 90, 95]
_TAIL_Q_SQL = ", ".join(str(q) for q in _TAIL_Q_PCT)

_TAIL_DEP_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_diff('day', TIMESTAMP '1990-01-01 00:00:00',
                        o_orderdate) AS BIGINT) AS dd,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         {oracle_sum('o_totalprice')} AS rev
  FROM orders GROUP BY 1
), ranked AS (
  SELECT dd, cnt, rev / cnt AS avg_val,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, dd ASC) AS rx,
         ROW_NUMBER() OVER (ORDER BY rev / cnt DESC, dd ASC) AS ry,
         COUNT(*) OVER () AS n
  FROM daily
), joined AS (
  SELECT q.q, r.n,
         (r.n * (100 - q.q)) // 100 AS k,
         CASE WHEN r.rx <= (r.n * (100 - q.q)) // 100
               AND r.ry <= (r.n * (100 - q.q)) // 100
              THEN 1 ELSE 0 END AS hit
  FROM ranked r CROSS JOIN (SELECT UNNEST(ARRAY[{_TAIL_Q_SQL}]) AS q) q
)
SELECT q AS q_pct, CAST(MAX(n) AS BIGINT) AS n_days,
       CAST(MAX(k) AS BIGINT) AS k_tail,
       CAST(SUM(hit) AS BIGINT) AS m_joint,
       FLOOR(CAST(SUM(hit) AS DOUBLE) / MAX(k) * 1e6) / 1e6 AS lambda_u,
       FLOOR(CAST(MAX(k) AS DOUBLE) / MAX(n) * 1e6) / 1e6
         AS indep_baseline
FROM joined GROUP BY q
"""


@register("agg_tail_dependence", oracle=_TAIL_DEP_ORACLE)
def agg_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical upper-tail dependence λ_U(q) between daily order count
    and daily average order value at q = 75/90/95%: both margins rank
    over the calendar-bounded daily frame (total orders, not quantile
    estimates — tie-broken by day, so the top-k sets are exact and
    identical in both engines); k = ⌊n·(1−q)⌋ via integer `div` (the
    PPS doctrine — FLOOR of a float division rounds before flooring
    past 2^53); λ_U = |top-k_X ∩ top-k_Y| / k with the independence
    baseline k/n printed beside it (λ_U ≈ k/n ⇒ tails independent,
    λ_U ≫ k/n ⇒ extremes co-occur).

    Scale design: one corpus rollup to the calendar-bounded day grain,
    then ranks/windows over that METADATA frame (the corpus is never
    windowed — the win_topk_with_ties doctrine); the 3-row q spine
    crosses the bounded frame only. Customer- or part-margin variants
    swap the rollup key; the tail algebra is unchanged."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01"))
        .cast("long")
        .alias("dd")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        dsum("o_totalprice").alias("rev"),
    )
    w_all = Window.partitionBy(meta_part("dd"))
    w_rx = w_all.orderBy(F.col("cnt").desc(), F.col("dd").asc())
    avg_val = F.col("rev") / F.col("cnt")
    w_ry = w_all.orderBy(avg_val.desc(), F.col("dd").asc())
    ranked = daily.select(
        "dd",
        "cnt",
        F.row_number().over(w_rx).alias("rx"),
        F.row_number().over(w_ry).alias("ry"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    spine = spark.createDataFrame(
        [(q,) for q in _TAIL_Q_PCT], "q int"
    )
    k = F.expr("(n * (100 - q)) div 100")
    joined = ranked.crossJoin(F.broadcast(spine)).select(
        "q",
        "n",
        k.alias("k"),
        F.when((F.col("rx") <= k) & (F.col("ry") <= k), 1)
        .otherwise(0)
        .alias("hit"),
    )
    return joined.groupBy(F.col("q").alias("q_pct")).agg(
        F.max("n").cast("long").alias("n_days"),
        F.max("k").cast("long").alias("k_tail"),
        F.sum("hit").cast("long").alias("m_joint"),
        fquant(
            F.sum("hit").cast("double") / F.max("k")
        ).alias("lambda_u"),
        fquant(
            F.max("k").cast("double") / F.max("n")
        ).alias("indep_baseline"),
    )


# ---------------------------------------------------------------------------
# agg_cohens_effect_size — Cohen's d + Hedges' g for the
# weekend-vs-weekday order-value split — the EFFECT-SIZE companion to
# orders_weekend_welch_ttest (same grouping, same sufficient statistics):
# the t-test says whether a difference exists, d says whether anyone
# should care (at corpus n, trivially tiny effects are "significant" —
# effect-size reporting is what keeps the dashboard honest).
# ---------------------------------------------------------------------------

_COHENS_ORACLE = """
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
), d AS (
  SELECT n1, n0,
         (s1 / n1 - s0 / n0)
         / sqrt(((q1 - s1 * s1 / n1) + (q0 - s0 * s0 / n0))
                / (n1 + n0 - 2)) AS d
  FROM w
), h AS (
  SELECT n1, n0, d,
         d * (1 - 3 / (4 * (n1 + n0) - 9)) AS g,
         sqrt((n1 + n0) / (n1 * n0) + d * d / (2 * (n1 + n0))) AS se_d
  FROM d
)
SELECT CAST(n1 AS BIGINT) AS n_weekend, CAST(n0 AS BIGINT) AS n_weekday,
       FLOOR(d * 1e6) / 1e6 AS cohens_d,
       FLOOR(g * 1e6) / 1e6 AS hedges_g,
       FLOOR((d - 1.96 * se_d) * 1e6) / 1e6 AS ci_lo,
       FLOOR((d + 1.96 * se_d) * 1e6) / 1e6 AS ci_hi,
       CASE WHEN ABS(FLOOR(d * 1e6) / 1e6) < 0.2 THEN 'negligible'
            WHEN ABS(FLOOR(d * 1e6) / 1e6) < 0.5 THEN 'small'
            WHEN ABS(FLOOR(d * 1e6) / 1e6) < 0.8 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM h
"""


@register("agg_cohens_effect_size", oracle=_COHENS_ORACLE)
def agg_cohens_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d (pooled-SD standardized mean difference), Hedges' g
    (the small-sample bias correction d·(1 − 3/(4N−9))), a 1.96·se CI
    (Hedges & Olkin se² = N/(n1·n0) + d²/2N), and the conventional
    magnitude class (0.2/0.5/0.8 thresholds on the QUANTIZED |d| so the
    class can never disagree with the printed d). Same weekend split
    and the same sufficient statistics as orders_weekend_welch_ttest —
    the deliberate pairing: the t answers "is it real", d answers "is
    it big".

    Cross-engine exactness: one conditional aggregation to six
    decimal-exact moments; everything after is a fixed-order double
    expression over identical inputs, floor-quantized on the way out.
    Pooled (not Welch) SD is the d convention and is stated, not
    hidden.

    Scale design: ONE map-side-combinable corpus aggregation to 2
    groups — the welch plan exactly; effect-size families (Glass's Δ,
    probability of superiority 1-row transforms) extend the same fold."""
    o = table(spark, sf_dir, "orders")
    weekend = F.dayofweek(F.col("o_orderdate").cast("date")).isin(1, 7)
    xdec = F.col("o_totalprice").cast(DSCALE)
    g = o.groupBy(weekend.alias("weekend")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(xdec).cast("double").alias("sx"),
        F.sum(xdec * xdec).cast("double").alias("sxx"),
    )

    def pick(cond, col):
        return F.max(F.when(cond, F.col(col)))

    w = g.agg(
        pick(F.col("weekend"), "n").alias("n1"),
        pick(F.col("weekend"), "sx").alias("s1"),
        pick(F.col("weekend"), "sxx").alias("q1"),
        pick(~F.col("weekend"), "n").alias("n0"),
        pick(~F.col("weekend"), "sx").alias("s0"),
        pick(~F.col("weekend"), "sxx").alias("q0"),
    )
    d_frame = w.selectExpr(
        "n1",
        "n0",
        "(s1 / n1 - s0 / n0)"
        " / sqrt(((q1 - s1 * s1 / n1) + (q0 - s0 * s0 / n0))"
        " / (n1 + n0 - 2)) AS d",
    ).selectExpr(
        "n1",
        "n0",
        "d",
        "d * (1 - 3 / (4 * (n1 + n0) - 9)) AS g",
        "sqrt((n1 + n0) / (n1 * n0) + d * d / (2 * (n1 + n0))) AS se_d",
    )
    dq = fquant(F.col("d"))
    return d_frame.select(
        F.col("n1").cast("long").alias("n_weekend"),
        F.col("n0").cast("long").alias("n_weekday"),
        dq.alias("cohens_d"),
        fquant(F.col("g")).alias("hedges_g"),
        fquant(F.col("d") - 1.96 * F.col("se_d")).alias("ci_lo"),
        fquant(F.col("d") + 1.96 * F.col("se_d")).alias("ci_hi"),
        F.when(F.abs(dq) < 0.2, "negligible")
        .when(F.abs(dq) < 0.5, "small")
        .when(F.abs(dq) < 0.8, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


# ---------------------------------------------------------------------------
# agg_friedman_test — Friedman's blocked rank test over the five order
# priorities with calendar months as blocks: the REPEATED-MEASURES mate of
# agg_kruskal_wallis (independent groups) — by ranking WITHIN each month
# it removes the between-month level shifts (seasonality, growth) that
# would drown the treatment signal in the pooled ranking, exactly why
# blocked designs exist. Kendall's W (= χ²_F/(n(k−1))) rides along as the
# concordance readout.
# ---------------------------------------------------------------------------

_FRIEDMAN_K = 5  # priorities
_FRIEDMAN_CHI2_CRIT = 9.488  # chi-square(k-1 = 4) at 5% — pinned literal

_FRIEDMAN_ORACLE = f"""
WITH cell AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS blk,
         o_orderpriority AS trt,
         FLOOR({oracle_sum('o_totalprice')} / COUNT(*) * 1e6) / 1e6
           AS yq
  FROM orders GROUP BY 1, 2
), complete AS (
  -- standard Friedman requires COMPLETE blocks (all k treatments
  -- observed); months missing a priority are excluded identically in
  -- both engines (11 of 80 at sf0.001 — found by the completeness probe)
  SELECT blk FROM cell GROUP BY blk HAVING COUNT(*) = {_FRIEDMAN_K}
), ranked AS (
  SELECT c.blk, c.trt,
         ROW_NUMBER() OVER (PARTITION BY c.blk
                            ORDER BY c.yq DESC, c.trt ASC) AS r
  FROM cell c JOIN complete USING (blk)
), rj AS (
  SELECT trt, CAST(SUM(r) AS BIGINT) AS r_sum,
         CAST(COUNT(*) AS BIGINT) AS n_blocks
  FROM ranked GROUP BY trt
), stat AS (
  SELECT MAX(n_blocks) AS n,
         CAST(SUM(CAST(r_sum AS HUGEINT) * r_sum) AS DOUBLE) AS srr
  FROM rj
)
SELECT rj.trt AS priority,
       FLOOR(CAST(rj.r_sum AS DOUBLE) / rj.n_blocks * 1e6) / 1e6
         AS mean_rank,
       FLOOR((12 / (CAST(s.n AS DOUBLE) * {_FRIEDMAN_K}
                    * ({_FRIEDMAN_K} + 1)) * s.srr
              - 3 * s.n * ({_FRIEDMAN_K} + 1)) * 1e6) / 1e6
         AS chi2_f,
       FLOOR((12 / (CAST(s.n AS DOUBLE) * {_FRIEDMAN_K}
                    * ({_FRIEDMAN_K} + 1)) * s.srr
              - 3 * s.n * ({_FRIEDMAN_K} + 1))
             / (s.n * ({_FRIEDMAN_K} - 1)) * 1e6) / 1e6 AS kendall_w,
       FLOOR((12 / (CAST(s.n AS DOUBLE) * {_FRIEDMAN_K}
                    * ({_FRIEDMAN_K} + 1)) * s.srr
              - 3 * s.n * ({_FRIEDMAN_K} + 1)) * 1e6) / 1e6
         > {_FRIEDMAN_CHI2_CRIT} AS significant
FROM rj CROSS JOIN stat s
"""


@register("agg_friedman_test", oracle=_FRIEDMAN_ORACLE)
def agg_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman χ²_F over k=5 priorities blocked by calendar month
    (metric: monthly mean order value, quantized at 1e-6 BEFORE
    ranking; blocks missing a treatment are excluded — standard
    Friedman needs complete blocks, stated and engine-mirrored):
    rank 1..k within each block, χ²_F = 12/(nk(k+1))·ΣR_j²
    − 3n(k+1) against the pinned χ²(4) critical; Kendall's W =
    χ²_F/(n(k−1)) reads the same number as agreement strength.
    Within-block ranking removes between-month level shifts — the
    reason blocked designs beat pooled ranking (kruskal) on seasonal
    panels.

    Cross-engine exactness: the per-cell metric quantizes at 1e-6, so
    the (yq DESC, trt ASC) rank order is a TOTAL order identical in
    both engines (ties broken lexicographically rather than midranked
    — stated; on a continuous metric exact ties are measure-zero);
    rank sums and ΣR² are exact wide integers; χ² is one fixed-order
    double expression, floor-quantized, flag on the quantized value.

    Scale design: one corpus pass to the (month, priority) cell grain
    (keyed, map-side-combinable), then ranks/windows ride the bounded
    n·k metadata frame (~400 rows); blocks scale with the CALENDAR,
    never the corpus."""
    o = table(spark, sf_dir, "orders")
    # the bounded (month, priority) cell frame is cached: it feeds the
    # completeness filter, the ranking AND the stat fold — uncached,
    # each leg replays the corpus rollup (4 scans; caught by the plan
    # pin). clearCache reclaims.
    cell = (
        o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "blk"
            ),
            F.col("o_orderpriority").alias("trt"),
        )
        .agg(
            fquant(
                dsum("o_totalprice") / F.count(F.lit(1))
            ).alias("yq")
        )
        .cache()
    )
    # standard Friedman requires COMPLETE blocks — keep only months
    # with all k treatments (mirrors the oracle's HAVING COUNT(*) = k)
    complete = (
        cell.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("n_cells"))
        .where(F.col("n_cells") == _FRIEDMAN_K)
        .select("blk")
    )
    w_blk = Window.partitionBy("blk").orderBy(
        F.col("yq").desc(), F.col("trt").asc()
    )
    ranked = (
        cell.join(complete, "blk")
        .select("blk", "trt", F.row_number().over(w_blk).alias("r"))
    )
    rj = ranked.groupBy("trt").agg(
        F.sum("r").cast("long").alias("r_sum"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )
    stat = rj.agg(
        F.max("n_blocks").alias("n"),
        F.sum(F.col("r_sum").cast("decimal(38,0)") * F.col("r_sum"))
        .cast("double")
        .alias("srr"),
    )
    k = _FRIEDMAN_K
    chi2 = (
        12
        / (F.col("n").cast("double") * k * (k + 1))
        * F.col("srr")
        - 3 * F.col("n") * (k + 1)
    )
    chi2q = fquant(chi2)
    return (
        rj.crossJoin(F.broadcast(stat))
        .select(
            F.col("trt").alias("priority"),
            fquant(
                F.col("r_sum").cast("double") / F.col("n_blocks")
            ).alias("mean_rank"),
            chi2q.alias("chi2_f"),
            fquant(chi2 / (F.col("n") * (k - 1))).alias("kendall_w"),
            (chi2q > _FRIEDMAN_CHI2_CRIT).alias("significant"),
        )
    )


# ---------------------------------------------------------------------------
# orders_auc_roc — Exact tie-corrected ROC AUC for "account balance
# predicts urgent-order customer" — the threshold-free ranking-quality
# number completing the eval family next to the SAME score/label pair's
# lift table (orders_score_lift_table): AUC via the rank-sum identity AUC
# = (R₁ − n₁(n₁+1)/2)/(n₁n₀) on midrank-tied ranks — the Mann-Whitney
# machinery re-read as classifier eval — plus Gini (= 2·AUC − 1) and the
# Hanley-McNeil CI.
# ---------------------------------------------------------------------------

_AUC_ORACLE = """
WITH lab AS (
  SELECT o_custkey AS custkey,
         MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
           AS pos
  FROM orders GROUP BY 1
), cust AS (
  SELECT c.c_acctbal AS score, COALESCE(l.pos, 0) AS pos
  FROM customer c LEFT JOIN lab l ON c.c_custkey = l.custkey
), vals AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(pos) AS BIGINT) AS npos,
         CAST(COALESCE(SUM(COUNT(*)) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS below
  FROM cust GROUP BY score
), m AS (
  -- positive rank sum in HALF-units: midrank = (2*below + cnt + 1)/2
  SELECT CAST(SUM(npos) AS BIGINT) AS n1,
         CAST(SUM(cnt - npos) AS BIGINT) AS n0,
         SUM(CAST(npos AS HUGEINT) * (2 * below + cnt + 1)) AS r1h
  FROM vals
), a AS (
  SELECT n1, n0,
         (CAST(r1h AS DOUBLE) / 2
          - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1) / 2)
         / (CAST(n1 AS DOUBLE) * n0) AS auc
  FROM m
), se_ AS (
  SELECT n1, n0, auc,
         sqrt((auc * (1 - auc)
               + (n1 - 1) * (auc / (2 - auc) - auc * auc)
               + (n0 - 1) * (2 * auc * auc / (1 + auc) - auc * auc))
              / (CAST(n1 AS DOUBLE) * n0)) AS se
  FROM a
)
SELECT n1 AS n_pos, n0 AS n_neg,
       FLOOR(auc * 1e6) / 1e6 AS auc,
       FLOOR((2 * auc - 1) * 1e6) / 1e6 AS gini,
       FLOOR((auc - 1.96 * se) * 1e6) / 1e6 AS ci_lo,
       FLOOR((auc + 1.96 * se) * 1e6) / 1e6 AS ci_hi,
       FLOOR((auc - 1.96 * se) * 1e6) / 1e6 > 0.5 AS better_than_coin
FROM se_
"""


@register("orders_auc_roc", oracle=_AUC_ORACLE)
def orders_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC via the rank-sum identity on midrank-tied ranks
    (AUC = (R₁ − n₁(n₁+1)/2)/(n₁n₀) — ties between a positive and a
    negative count half, exactly the trapezoidal ROC), Gini = 2·AUC−1,
    Hanley-McNeil CI, and the "better than a coin" verdict on the
    QUANTIZED lower bound. Same score/label pair as
    orders_score_lift_table: the lift table shows WHERE the ranking
    earns its keep, AUC is the single number.

    Cross-engine exactness: the spearman/kruskal rank-free ladder —
    ranks never materialize per row; the score-value rollup carries
    (cnt, npos, below) and the positive rank sum is an exact wide
    integer in half-units; AUC/SE are fixed-order double expressions
    over three exact integers, floor-quantized.

    Scale design: one rollup of orders to customer grain + one KEYED
    customer join (corpus dims, never broadcast), one pass to score-
    value grain, a cumulative window over the value-grain table (the
    spearman two-pass/range-partition swap applies at corpus scale),
    one 1-row fold."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    lab = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).alias("pos")
    )
    cust = c.join(lab, c["c_custkey"] == lab["custkey"], "left").select(
        F.col("c_acctbal").alias("score"),
        F.coalesce(F.col("pos"), F.lit(0)).alias("pos"),
    )
    w_below = (
        Window.partitionBy(meta_part("cnt"))
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    vals = (
        cust.groupBy("score")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("pos").cast("long").alias("npos"),
        )
        .select(
            "score",
            "cnt",
            "npos",
            F.coalesce(F.sum("cnt").over(w_below), F.lit(0)).alias(
                "below"
            ),
        )
    )
    m = vals.agg(
        F.sum("npos").cast("long").alias("n1"),
        F.sum(F.col("cnt") - F.col("npos")).cast("long").alias("n0"),
        F.sum(
            F.col("npos").cast("decimal(38,0)")
            * (2 * F.col("below") + F.col("cnt") + 1)
        ).alias("r1h"),
    )
    a = m.selectExpr(
        "n1",
        "n0",
        "(CAST(r1h AS DOUBLE) / 2"
        " - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1) / 2)"
        " / (CAST(n1 AS DOUBLE) * n0) AS auc",
    ).selectExpr(
        "n1",
        "n0",
        "auc",
        "sqrt((auc * (1 - auc)"
        " + (n1 - 1) * (auc / (2 - auc) - auc * auc)"
        " + (n0 - 1) * (2 * auc * auc / (1 + auc) - auc * auc))"
        " / (CAST(n1 AS DOUBLE) * n0)) AS se",
    )
    lo = fquant(F.col("auc") - 1.96 * F.col("se"))
    return a.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        fquant(F.col("auc")).alias("auc"),
        fquant(2 * F.col("auc") - 1).alias("gini"),
        lo.alias("ci_lo"),
        fquant(F.col("auc") + 1.96 * F.col("se")).alias("ci_hi"),
        (lo > 0.5).alias("better_than_coin"),
    )


# ---------------------------------------------------------------------------
# orders_jarque_bera_normality — Jarque-Bera normality test on
# o_totalprice: the DISTRIBUTIONAL-SHAPE gate the parametric inference
# family assumes away — welch/cohens_d lean on CLT normality of means, and
# JB is the one-pass moment test that says whether the underlying
# distribution is anywhere near normal (the fixture's totalprice is
# near-uniform — strongly platykurtic, excess kurtosis ≈ −1.2 — so the
# test correctly screams — a useful referee for "should I have used the
# rank tests instead").
# ---------------------------------------------------------------------------

_JB_CRIT = 5.991465  # chi^2(2) 95th percentile

# x^4 of a ~6e5-bounded price is ~1.3e23 — far past DECIMAL(27,6)'s
# 1e21 headroom, so the higher-moment sums widen to DECIMAL(38,6)
# (1e32 headroom; sf0.1's 150k-row sum peaks ~2e28). Same
# deterministic-half-up doctrine as parity.dsum, wider lane.
_JB_WSCALE = "DECIMAL(38,6)"


def _jb_wsum(c):
    return F.sum(c.cast(_JB_WSCALE.lower())).cast("double")


def _jb_oracle_wsum(e: str) -> str:
    return f"CAST(SUM(CAST({e} AS {_JB_WSCALE})) AS DOUBLE)"


_JB_ORACLE = f"""
WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {_jb_oracle_wsum('o_totalprice')} AS s1,
         {_jb_oracle_wsum('o_totalprice * o_totalprice')} AS s2,
         {_jb_oracle_wsum('o_totalprice * o_totalprice * o_totalprice')}
           AS s3,
         {_jb_oracle_wsum(
             'o_totalprice * o_totalprice * o_totalprice * o_totalprice'
         )} AS s4
  FROM orders
), m AS (
  SELECT n, s1 / n AS mu, s2 / n AS r2, s3 / n AS r3, s4 / n AS r4
  FROM s
), c AS (
  SELECT n, mu,
         r2 - mu * mu AS m2,
         r3 - 3 * mu * r2 + 2 * mu * mu * mu AS m3,
         r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu * mu * mu * mu
           AS m4
  FROM m
), f AS (
  SELECT n,
         m3 / (m2 * sqrt(m2)) AS skew,
         m4 / (m2 * m2) - 3 AS exkurt
  FROM c
)
SELECT n AS n_orders,
       FLOOR(skew * 1e6) / 1e6 AS skewness,
       FLOOR(exkurt * 1e6) / 1e6 AS excess_kurtosis,
       FLOOR(CAST(n AS DOUBLE) / 6
             * (skew * skew + exkurt * exkurt / 4) * 1e4) / 1e4
         AS jb_stat,
       FLOOR(CAST(n AS DOUBLE) / 6
             * (skew * skew + exkurt * exkurt / 4) * 1e4) / 1e4
         <= {_JB_CRIT} AS normal
FROM f
"""


@register("orders_jarque_bera_normality", oracle=_JB_ORACLE)
def orders_jarque_bera_normality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jarque-Bera test: JB = n/6·(S² + K²/4) from sample skewness S
    and excess kurtosis K, against the pinned χ²(2) 5% critical
    5.991465 (asymptotic null). One corpus pass collects the four raw
    moments; central moments come from the binomial expansions — the
    cancellation there costs ~1.5 of double's 16 digits on this data
    (price⁴ terms ~1e22 vs central m4 ~1e21, verified by the staging
    recompute) and buys a single-pass plan, and cross-engine EQUALITY
    is untouched either way because both engines run the identical op
    sequence on identical doubles.

    Cross-engine exactness: the four moment sums widen per-row to
    DECIMAL(38,6) (deterministic half-up of identical doubles,
    order-independent exact sums — DECIMAL(27,6) would overflow on
    price⁴, see _JB_WSCALE); everything after is scalar double algebra
    on two identical 1-row frames; JB quantizes at 1e-4 (|JB| can
    reach ~1e5·n, and 1e-4 keeps the quantized value inside 2⁵³ while
    still pinning the verdict boundary), S and K at 1e-6.

    Scale design: ONE scan, ONE map-side-combinable aggregate, zero
    joins, zero windows, zero Python — the cheapest possible shape for
    a corpus-scale distributional test."""
    o = table(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    s = o.agg(
        F.count(F.lit(1)).alias("n"),
        _jb_wsum(x).alias("s1"),
        _jb_wsum(x * x).alias("s2"),
        _jb_wsum(x * x * x).alias("s3"),
        _jb_wsum(x * x * x * x).alias("s4"),
    )
    m = s.select(
        "n",
        (F.col("s1") / F.col("n")).alias("mu"),
        (F.col("s2") / F.col("n")).alias("r2"),
        (F.col("s3") / F.col("n")).alias("r3"),
        (F.col("s4") / F.col("n")).alias("r4"),
    )
    mu = F.col("mu")
    c = m.select(
        "n",
        (F.col("r2") - mu * mu).alias("m2"),
        (F.col("r3") - 3 * mu * F.col("r2") + 2 * mu * mu * mu).alias(
            "m3"
        ),
        (
            F.col("r4")
            - 4 * mu * F.col("r3")
            + 6 * mu * mu * F.col("r2")
            - 3 * mu * mu * mu * mu
        ).alias("m4"),
    )
    f = c.select(
        "n",
        (F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))).alias(
            "skew"
        ),
        (F.col("m4") / (F.col("m2") * F.col("m2")) - 3).alias("exkurt"),
    )
    jb = fquant(
        F.col("n").cast("double")
        / 6
        * (
            F.col("skew") * F.col("skew")
            + F.col("exkurt") * F.col("exkurt") / 4
        ),
        4,
    )
    return f.select(
        F.col("n").cast("long").alias("n_orders"),
        fquant(F.col("skew")).alias("skewness"),
        fquant(F.col("exkurt")).alias("excess_kurtosis"),
        jb.alias("jb_stat"),
        (jb <= _JB_CRIT).alias("normal"),
    )


# ---------------------------------------------------------------------------
# agg_cronbach_alpha — Cronbach's α over the (month × priority) revenue
# panel: internal-consistency reliability — do the five priority "items"
# move together month to month? The scale-reliability member of the
# agreement family (fleiss κ grades raters on nominal labels, the
# annotator key grades pairwise agreement, α grades a k-item score the way
# every survey/metric-panel methodology does).
# ---------------------------------------------------------------------------

_CRONBACH_K = 5  # the five order priorities (complete blocks only)

_CRONBACH_ORACLE = f"""
WITH cell AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS blk,
         o_orderpriority AS trt,
         {oracle_sum('o_totalprice')} AS x
  FROM orders GROUP BY 1, 2
), complete AS (
  SELECT blk FROM cell GROUP BY blk
  HAVING COUNT(*) = {_CRONBACH_K}
), cc AS (
  SELECT cell.blk, trt, x FROM cell JOIN complete USING (blk)
), gm AS (
  SELECT {oracle_sum('x')} / COUNT(*) AS g FROM cc
), r AS (
  -- grand-mean normalization: alpha is invariant and every quantized
  -- unit below stays inside 2^53 at any revenue scale (KPSS doctrine)
  SELECT blk, trt, FLOOR(x / g * 1e12) / 1e12 AS rq
  FROM cc CROSS JOIN gm
), item AS (
  SELECT trt,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(rq AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(FLOOR(rq * rq * 1e12) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS s2
  FROM r GROUP BY trt
), iv AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR((s2 - s1 * s1 / n) / (n - 1) * 1e12)
                       / 1e12 AS DECIMAL(38,12))) AS DOUBLE)
           AS sum_item_var
  FROM item
), blkrow AS (
  SELECT blk, CAST(SUM(CAST(rq AS DECIMAL(38,12))) AS DOUBLE) AS s
  FROM r GROUP BY blk
), tv AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(s AS DECIMAL(38,12))) AS DOUBLE) AS t1,
         CAST(SUM(CAST(FLOOR(s * s * 1e12) / 1e12
                       AS DECIMAL(38,12))) AS DOUBLE) AS t2
  FROM blkrow
), f AS (
  SELECT iv.n AS n_months, iv.sum_item_var,
         (t2 - t1 * t1 / tv.n) / (tv.n - 1) AS var_total
  FROM iv CROSS JOIN tv
)
SELECT n_months, {_CRONBACH_K} AS k_items,
       FLOOR({_CRONBACH_K} / ({_CRONBACH_K} - 1.0)
             * (1.0 - sum_item_var / var_total) * 1e6) / 1e6
         AS cronbach_alpha,
       FLOOR(sum_item_var / var_total * 1e6) / 1e6 AS item_var_share
FROM f
"""


@register("agg_cronbach_alpha", oracle=_CRONBACH_ORACLE)
def agg_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's α = k/(k−1)·(1 − Σ_j σ²_j / σ²_total) over the
    monthly revenue of the five order priorities (complete months
    only — the friedman discipline, mirrored in both engines):
    σ²_j is each item's month-to-month variance, σ²_total the
    variance of the monthly 5-item sums, both with the n−1 divisor.
    α near 1 ⇒ the items co-move (one underlying seasonal factor);
    near 0 ⇒ independent items; the item-variance share is printed
    beside it as the raw ratio.

    Cross-engine exactness: cell revenues ride the decimal bridge;
    cells normalize by the exact grand mean FIRST (α is
    scale-invariant — the KPSS magnitude doctrine) and quantize at
    1e-12, so row sums are exact DECIMAL(38,12) integers and every
    squared term re-quantizes before its order-independent sum;
    per-item variances quantize before the 5-row fold. The α readout
    floor-quantizes at 1e-6.

    Scale design: ONE corpus pass to the bounded (month × priority)
    cell frame (CACHED — it feeds the completeness filter, the grand
    mean, the item fold and the block fold; the friedman lesson);
    everything downstream is algebra on ≤ n·k metadata rows."""
    o = table(spark, sf_dir, "orders")
    cell = (
        o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "blk"
            ),
            F.col("o_orderpriority").alias("trt"),
        )
        .agg(dsum("o_totalprice").alias("x"))
        .cache()
    )
    complete = (
        cell.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("n_cells"))
        .where(F.col("n_cells") == _CRONBACH_K)
        .select("blk")
    )
    cc = cell.join(complete, "blk").select("blk", "trt", "x")
    gm = cc.agg((dsum("x") / F.count(F.lit(1))).alias("g"))
    r = cc.crossJoin(F.broadcast(gm)).select(
        "blk", "trt", fquant(F.col("x") / F.col("g"), 12).alias("rq")
    )

    def _dec12(c):
        return F.sum(c.cast("decimal(38,12)")).cast("double")

    item = r.groupBy("trt").agg(
        F.count(F.lit(1)).alias("n"),
        _dec12(F.col("rq")).alias("s1"),
        _dec12(fquant(F.col("rq") * F.col("rq"), 12)).alias("s2"),
    )
    iv = item.agg(
        F.max("n").alias("n"),
        _dec12(
            fquant(
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                / (F.col("n") - 1),
                12,
            )
        ).alias("sum_item_var"),
    )
    blkrow = r.groupBy("blk").agg(_dec12(F.col("rq")).alias("s"))
    tv = blkrow.agg(
        F.count(F.lit(1)).alias("nt"),
        _dec12(F.col("s")).alias("t1"),
        _dec12(fquant(F.col("s") * F.col("s"), 12)).alias("t2"),
    )
    f = iv.crossJoin(F.broadcast(tv)).select(
        F.col("n").cast("long").alias("n_months"),
        "sum_item_var",
        (
            (F.col("t2") - F.col("t1") * F.col("t1") / F.col("nt"))
            / (F.col("nt") - 1)
        ).alias("var_total"),
    )
    k = float(_CRONBACH_K)
    return f.select(
        "n_months",
        F.lit(_CRONBACH_K).cast("long").alias("k_items"),
        fquant(
            k
            / (k - 1.0)
            * (1.0 - F.col("sum_item_var") / F.col("var_total"))
        ).alias("cronbach_alpha"),
        fquant(F.col("sum_item_var") / F.col("var_total")).alias(
            "item_var_share"
        ),
    )


# ---------------------------------------------------------------------------
# agg_cochran_q — STAGED for the r15 cadence (parked unregistered;
# SURVEY round-13 log). Cochran's Q over k=4 correlated binary
# outcomes per customer (ordered in each quarter of the pinned year):
# the k-sample generalization of McNemar — "did activity propensity
# differ across the four quarters, judged WITHIN customer?" — the
# repeated-measures member of the proportion family.
# ---------------------------------------------------------------------------

_COCHRAN_YEAR = 1995
_COCHRAN_K = 4
_COCHRAN_CRIT = 7.814728  # chi^2(3) 95th percentile

_COCHRAN_ORACLE = f"""
WITH x AS (
  SELECT c_custkey,
         MAX(CASE WHEN quarter(o_orderdate) = 1 THEN 1 ELSE 0 END) AS q1,
         MAX(CASE WHEN quarter(o_orderdate) = 2 THEN 1 ELSE 0 END) AS q2,
         MAX(CASE WHEN quarter(o_orderdate) = 3 THEN 1 ELSE 0 END) AS q3,
         MAX(CASE WHEN quarter(o_orderdate) = 4 THEN 1 ELSE 0 END) AS q4
  FROM customer
  LEFT JOIN orders ON o_custkey = c_custkey
                   AND year(o_orderdate) = {_COCHRAN_YEAR}
  GROUP BY c_custkey
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(q1) AS BIGINT) AS c1, CAST(SUM(q2) AS BIGINT) AS c2,
         CAST(SUM(q3) AS BIGINT) AS c3, CAST(SUM(q4) AS BIGINT) AS c4,
         CAST(SUM(q1 + q2 + q3 + q4) AS BIGINT) AS sr,
         CAST(SUM((q1 + q2 + q3 + q4) * (q1 + q2 + q3 + q4))
              AS BIGINT) AS srr
  FROM x
)
SELECT n AS n_customers, c1 AS n_q1, c2 AS n_q2, c3 AS n_q3, c4 AS n_q4,
       FLOOR(({_COCHRAN_K} - 1.0)
             * ({_COCHRAN_K} * (c1*c1 + c2*c2 + c3*c3 + c4*c4)
                - (c1 + c2 + c3 + c4) * (c1 + c2 + c3 + c4))
             / ({_COCHRAN_K} * sr - srr) * 1e6) / 1e6 AS q_stat,
       FLOOR(({_COCHRAN_K} - 1.0)
             * ({_COCHRAN_K} * (c1*c1 + c2*c2 + c3*c3 + c4*c4)
                - (c1 + c2 + c3 + c4) * (c1 + c2 + c3 + c4))
             / ({_COCHRAN_K} * sr - srr) * 1e6) / 1e6
         > {_COCHRAN_CRIT} AS significant
FROM s
"""


def agg_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q = (k−1)·[k·ΣC_j² − (ΣC_j)²] / (k·ΣR_i − ΣR_i²) on
    the customer × quarter presence matrix of {_COCHRAN_YEAR}
    (C_j = per-quarter active-customer counts, R_i = per-customer
    active-quarter counts; all-zero and all-one rows contribute
    nothing to the denominator and are kept — standard treatment),
    against the pinned χ²(k−1) 5% critical. The within-subject design
    removes customer-level activity heterogeneity that a naive
    four-proportion z-test would drown in.

    Cross-engine exactness: the statistic is EXACT INTEGER arithmetic
    end to end (binary cells, integer row/column sums, one integer
    Σ-of-squares each way) — only the final ratio touches doubles, in
    the identical op order; the verdict compares the quantized Q.

    Scale design: one corpus pass to customer grain (keyed LEFT join
    from the customer dim so zero-order customers stay in the panel —
    BY KEY, never broadcast), one 1-row integer fold."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    oo = o.where(F.year("o_orderdate") == _COCHRAN_YEAR).select(
        "o_custkey", F.quarter("o_orderdate").alias("qtr")
    )
    x = (
        c.select("c_custkey")
        .join(oo, c["c_custkey"] == oo["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(
            *[
                F.max(
                    F.when(F.col("qtr") == q, 1).otherwise(0)
                ).alias(f"q{q}")
                for q in range(1, _COCHRAN_K + 1)
            ]
        )
    )
    rsum = sum(F.col(f"q{q}") for q in range(1, _COCHRAN_K + 1))
    s = x.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(f"q{q}").cast("long").alias(f"c{q}")
            for q in range(1, _COCHRAN_K + 1)
        ],
        F.sum(rsum).cast("long").alias("sr"),
        F.sum(rsum * rsum).cast("long").alias("srr"),
    )
    csq = sum(
        F.col(f"c{q}") * F.col(f"c{q}")
        for q in range(1, _COCHRAN_K + 1)
    )
    ctot = sum(F.col(f"c{q}") for q in range(1, _COCHRAN_K + 1))
    q_stat = fquant(
        (_COCHRAN_K - 1.0)
        * (_COCHRAN_K * csq - ctot * ctot)
        / (_COCHRAN_K * F.col("sr") - F.col("srr"))
    )
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        *[F.col(f"c{q}").alias(f"n_q{q}") for q in range(1, 5)],
        q_stat.alias("q_stat"),
        (q_stat > _COCHRAN_CRIT).alias("significant"),
    )


# ---------------------------------------------------------------------------
# orders_rank_biserial — STAGED for the r15 cadence (parked
# unregistered; SURVEY round-13 log). Rank-biserial correlation for the
# weekend-vs-weekday price comparison: the EFFECT-SIZE companion of
# orders_mannwhitney_u on the same split — the deliberate
# is-it-real / is-it-big pairing the welch/cohens_d twins established
# for means, now for ranks.
# ---------------------------------------------------------------------------

_RB_THRESHOLDS = (0.1, 0.3, 0.5)  # conventional small/medium/large

_RB_ORACLE = """
WITH base AS (
  SELECT ROUND(o_totalprice * 100) AS cents,
         CAST(dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)
              AS INT) AS is_wknd
  FROM orders
),
v AS (
  SELECT cents, COUNT(*) AS cnt,
         CAST(SUM(is_wknd) AS BIGINT) AS wcnt
  FROM base GROUP BY cents
),
r AS (
  SELECT cents, cnt, wcnt,
         CAST(SUM(cnt) OVER (ORDER BY cents
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS BIGINT) AS below
  FROM v
),
agg AS (
  SELECT CAST(SUM(wcnt) AS DOUBLE) AS n1,
         CAST(SUM(cnt - wcnt) AS DOUBLE) AS n2,
         CAST(SUM(wcnt * (2 * COALESCE(below, 0) + cnt + 1))
              AS DOUBLE) AS r1x2
  FROM r
),
f AS (
  SELECT n1, n2,
         ((r1x2 - n1 * (n1 + 1)) / 2) / (n1 * n2) AS cl
  FROM agg
)
SELECT CAST(n1 AS BIGINT) AS n_weekend, CAST(n2 AS BIGINT) AS n_weekday,
       FLOOR(cl * 1e6) / 1e6 AS common_language,
       FLOOR((2 * cl - 1) * 1e6) / 1e6 AS rank_biserial,
       CASE WHEN ABS(FLOOR((2 * cl - 1) * 1e6) / 1e6) < 0.1
                 THEN 'negligible'
            WHEN ABS(FLOOR((2 * cl - 1) * 1e6) / 1e6) < 0.3
                 THEN 'small'
            WHEN ABS(FLOOR((2 * cl - 1) * 1e6) / 1e6) < 0.5
                 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM f
"""


def orders_rank_biserial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biserial r = 2·U₁/(n₁n₂) − 1 with the SAME midrank
    machinery as orders_mannwhitney_u (U₁ from the distinct-cents
    value ladder — ranks never materialize per row; midranks via
    2·below + cnt + 1 exact integers). Also prints the
    common-language effect size U₁/(n₁n₂) — P(random weekend order
    costs more than a random weekday one, ties half) — and the
    conventional magnitude class applied to the QUANTIZED |r| (class
    and printed value can never disagree — the cohens_d discipline).

    Cross-engine exactness: everything before the two final ratios is
    exact integer arithmetic on the value-grain ladder; ratios form in
    identical op order and floor-quantize at 1e-6.

    Scale design: identical to the MWU key — one value-grain rollup,
    one meta-scale prefix window, one 1-row fold."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.dayofweek(F.col("o_orderdate").cast("date"))
        .isin(1, 7)
        .cast("int")
        .alias("is_wknd"),
    )
    v = base.groupBy("cents").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("is_wknd").cast("long").alias("wcnt"),
    )
    w_below = (
        Window.partitionBy(meta_part("cents"))
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = v.withColumn(
        "below", F.coalesce(F.sum("cnt").over(w_below), F.lit(0))
    )
    agg = r.agg(
        F.sum("wcnt").cast("double").alias("n1"),
        F.sum(F.col("cnt") - F.col("wcnt")).cast("double").alias("n2"),
        F.sum(F.col("wcnt") * (2 * F.col("below") + F.col("cnt") + 1))
        .cast("double")
        .alias("r1x2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    cl = ((F.col("r1x2") - n1 * (n1 + 1)) / 2) / (n1 * n2)
    rb = fquant(2 * cl - 1)
    small, medium, large = _RB_THRESHOLDS
    return agg.select(
        n1.cast("long").alias("n_weekend"),
        n2.cast("long").alias("n_weekday"),
        fquant(cl).alias("common_language"),
        rb.alias("rank_biserial"),
        F.when(F.abs(rb) < small, "negligible")
        .when(F.abs(rb) < medium, "small")
        .when(F.abs(rb) < large, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


# ---------------------------------------------------------------------------
# agg_youden_j_threshold — STAGED for the r15 cadence (parked
# unregistered; SURVEY round-13 log). Youden-J optimal operating point
# on the SAME score/label pair as orders_auc_roc / orders_score_lift_table:
# AUC says the ranking works, the lift table says where, calibration
# says the probabilities are honest — and this says WHICH THRESHOLD to
# actually deploy (max sensitivity + specificity − 1).
# ---------------------------------------------------------------------------

_YOUDEN_ORACLE = """
WITH lab AS (
  SELECT o_custkey AS custkey,
         MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
           AS pos
  FROM orders GROUP BY o_custkey
),
cust AS (
  SELECT c_acctbal AS score, COALESCE(pos, 0) AS pos
  FROM customer LEFT JOIN lab ON c_custkey = custkey
),
vals AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(pos) AS BIGINT) AS npos
  FROM cust GROUP BY score
),
tot AS (
  SELECT CAST(SUM(npos) AS BIGINT) AS p,
         CAST(SUM(cnt - npos) AS BIGINT) AS q
  FROM vals
),
cum AS (
  -- classify positive when score >= threshold: cumulate from the TOP
  SELECT score AS thr,
         SUM(npos) OVER (ORDER BY score DESC
                         ROWS UNBOUNDED PRECEDING) AS tp,
         SUM(cnt - npos) OVER (ORDER BY score DESC
                               ROWS UNBOUNDED PRECEDING) AS fp
  FROM vals
),
scored AS (
  -- J's argmax rides the EXACT INTEGER numerator tp*q - fp*p (the
  -- denominator p*q is constant): no float enters the ordering at all
  SELECT thr, tp, fp, p, q,
         tp * q - fp * p AS j_num
  FROM cum CROSS JOIN tot
),
best AS (
  SELECT thr, tp, fp, p, q, j_num,
         ROW_NUMBER() OVER (ORDER BY j_num DESC, thr DESC) AS rn
  FROM scored
)
SELECT p AS n_pos, q AS n_neg,
       FLOOR(thr * 1e6) / 1e6 AS best_threshold,
       FLOOR(CAST(j_num AS DOUBLE) / (p * q) * 1e6) / 1e6 AS youden_j,
       FLOOR(CAST(tp AS DOUBLE) / p * 1e6) / 1e6 AS sensitivity,
       FLOOR((1.0 - CAST(fp AS DOUBLE) / q) * 1e6) / 1e6 AS specificity
FROM best WHERE rn = 1
"""


def agg_youden_j_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J(t) = TPR(t) − FPR(t) maximized over every distinct score
    threshold (classify positive at score ≥ t), with the
    highest-threshold tie-break (the conservative deployment choice —
    stated). The argmax orders by the EXACT INTEGER numerator
    TP·N − FP·P, so no float ever enters the ranking — the tie-free
    total order comes free from the value-grain ladder.

    Cross-engine exactness: the ladder carries exact (cnt, npos)
    integers; cumulative TP/FP are ordered integer window sums; only
    the four printed readouts quantize at 1e-6.

    Scale design: the AUC key's plan — one orders rollup to customer
    grain, one KEYED customer join, one pass to score-value grain, a
    cumulative window over the value ladder, one argmax row."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    lab = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).alias("pos")
    )
    cust = c.join(lab, c["c_custkey"] == lab["custkey"], "left").select(
        F.col("c_acctbal").alias("score"),
        F.coalesce(F.col("pos"), F.lit(0)).alias("pos"),
    )
    vals = cust.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("pos").cast("long").alias("npos"),
    )
    w_all = Window.partitionBy(meta_part("cnt"))
    w_top = (
        Window.partitionBy(meta_part("cnt"))
        .orderBy(F.col("score").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = vals.select(
        F.col("score").alias("thr"),
        F.sum("npos").over(w_top).alias("tp"),
        F.sum(F.col("cnt") - F.col("npos")).over(w_top).alias("fp"),
        F.sum("npos").over(w_all).alias("p"),
        F.sum(F.col("cnt") - F.col("npos")).over(w_all).alias("q"),
    ).withColumn(
        "j_num", F.col("tp") * F.col("q") - F.col("fp") * F.col("p")
    )
    w_rank = Window.partitionBy(meta_part("p")).orderBy(
        F.col("j_num").desc(), F.col("thr").desc()
    )
    best = scored.withColumn("rn", F.row_number().over(w_rank)).where(
        F.col("rn") == 1
    )
    return best.select(
        F.col("p").cast("long").alias("n_pos"),
        F.col("q").cast("long").alias("n_neg"),
        fquant(F.col("thr")).alias("best_threshold"),
        fquant(
            F.col("j_num").cast("double") / (F.col("p") * F.col("q"))
        ).alias("youden_j"),
        fquant(F.col("tp").cast("double") / F.col("p")).alias(
            "sensitivity"
        ),
        fquant(
            1.0 - F.col("fp").cast("double") / F.col("q")
        ).alias("specificity"),
    )


# ---------------------------------------------------------------------------
# sample_kish_design_effect — STAGED for the r15 cadence (parked
# unregistered; SURVEY round-13 log). Kish's design effect / effective
# sample size for spend-weighted customer estimates: the sampling
# family's HONESTY gauge — stratified/Neyman/PPS pick the sample,
# deff says how much precision the weighting actually cost
# (n_eff = (Σw)²/Σw²; deff = n/n_eff ≥ 1 always).
# ---------------------------------------------------------------------------

_KISH_ORACLE = f"""
WITH w AS (
  SELECT c_custkey, c_acctbal,
         COALESCE(s.spend, 0.0) + 1.0 AS wt
  FROM customer
  LEFT JOIN (
    SELECT o_custkey, {oracle_sum('o_totalprice')} AS spend
    FROM orders GROUP BY o_custkey
  ) s ON o_custkey = c_custkey
), g AS (
  SELECT c_custkey, c_acctbal, wt,
         CAST(SUM(CAST(wt AS DECIMAL(27,6))) OVER () AS DOUBLE)
           / COUNT(*) OVER () AS wbar,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM w
), v AS (
  -- mean-normalized weights (deff is scale-invariant): every
  -- quantized term stays inside 2^53 at any spend scale
  SELECT n, c_acctbal, wt / wbar AS v FROM g
), s AS (
  SELECT MAX(n) AS n,
         CAST(SUM(CAST(FLOOR(v * 1e9) AS DECIMAL(38,0))) AS DOUBLE)
           / 1e9 AS s1,
         CAST(SUM(CAST(FLOOR(v * v * 1e9) / 1e9 AS DECIMAL(38,9)))
              AS DOUBLE) AS s2,
         CAST(SUM(CAST(FLOOR(v * c_acctbal * 1e6) AS DECIMAL(38,0)))
              AS DOUBLE) / 1e6 AS swx,
         {oracle_sum('c_acctbal')} AS sx
  FROM v
)
SELECT n AS n_customers,
       FLOOR(s1 * s1 / s2 * 1e6) / 1e6 AS n_effective,
       FLOOR(n / (s1 * s1 / s2) * 1e6) / 1e6 AS kish_deff,
       FLOOR(swx / s1 * 1e6) / 1e6 AS weighted_mean_acctbal,
       FLOOR(sx / n * 1e6) / 1e6 AS unweighted_mean_acctbal
FROM s
"""


def sample_kish_design_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """n_eff = (Σw)²/Σw² and deff = n/n_eff on spend-proportional
    weights (w = total spend + 1, so zero-order customers keep a
    floor weight — stated), printed beside the weighted vs unweighted
    balance means the weights actually move. deff ≈ 1 means the
    weighting is nearly free; a heavy-spend-tail corpus pushes it up —
    the number that says whether a PPS estimate's nominal n is honest.

    Cross-engine exactness: weights mean-normalize first (deff is
    scale-invariant — the KPSS magnitude doctrine), then Σv and Σv²
    ride nano-unit exact integer/decimal sums; the weighted mean's
    cross-terms quantize at 1e-6 into exact integer sums.

    Scale design: one orders rollup to customer grain, one KEYED dim
    join, one 1-row fold — everything map-side-combinable."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    spend = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        dsum("o_totalprice").alias("spend")
    )
    w = c.join(spend, c["c_custkey"] == spend["custkey"], "left").select(
        "c_acctbal",
        (F.coalesce(F.col("spend"), F.lit(0.0)) + 1.0).alias("wt"),
    )
    from trireme_spark.operators.hints import cache_once

    # the customer-grain weight frame feeds the 1-row stats AND the
    # normalized fold — cached so the corpus scans once
    wc = cache_once(w)
    st = wc.agg(
        F.count(F.lit(1)).alias("n"),
        (dsum("wt") / F.count(F.lit(1))).alias("wbar"),
    )
    v = wc.crossJoin(F.broadcast(st)).select(
        "n",
        "c_acctbal",
        (F.col("wt") / F.col("wbar")).alias("v"),
    )
    s = v.agg(
        F.max("n").alias("n"),
        (
            F.sum(F.floor(F.col("v") * 1e9).cast("decimal(38,0)"))
            .cast("double")
            / 1e9
        ).alias("s1"),
        F.sum(
            fquant(F.col("v") * F.col("v"), 9).cast("decimal(38,9)")
        )
        .cast("double")
        .alias("s2"),
        (
            F.sum(
                F.floor(F.col("v") * F.col("c_acctbal") * 1e6).cast(
                    "decimal(38,0)"
                )
            ).cast("double")
            / 1e6
        ).alias("swx"),
        dsum("c_acctbal").alias("sx"),
    )
    neff = F.col("s1") * F.col("s1") / F.col("s2")
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        fquant(neff).alias("n_effective"),
        fquant(F.col("n") / neff).alias("kish_deff"),
        fquant(F.col("swx") / F.col("s1")).alias(
            "weighted_mean_acctbal"
        ),
        fquant(F.col("sx") / F.col("n")).alias(
            "unweighted_mean_acctbal"
        ),
    )


# ---------------------------------------------------------------------------
# agg_wilcoxon_signed_rank — STAGED for the r15 cadence (parked
# unregistered; SURVEY round-13 log). Wilcoxon signed-rank test on
# PAIRED customer spend (1995 H1 vs H2, customers active in both):
# the paired member of the rank family — mannwhitney compares two
# independent groups, this removes each customer's own level first,
# which is what a seasonal within-customer comparison actually needs.
# ---------------------------------------------------------------------------

_WSR_YEAR = 1995
_WSR_CRIT = 1.959964

_WSR_ORACLE = f"""
WITH pair AS (
  SELECT o_custkey,
         {oracle_sum("CASE WHEN month(o_orderdate) <= 6"
                      " THEN o_totalprice END")} AS x1,
         {oracle_sum("CASE WHEN month(o_orderdate) > 6"
                      " THEN o_totalprice END")} AS x2
  FROM orders WHERE year(o_orderdate) = {_WSR_YEAR}
  GROUP BY o_custkey
  HAVING COUNT(CASE WHEN month(o_orderdate) <= 6 THEN 1 END) > 0
     AND COUNT(CASE WHEN month(o_orderdate) > 6 THEN 1 END) > 0
), d AS (
  SELECT CAST(ROUND((x2 - x1) * 100) AS BIGINT) AS cents
  FROM pair
  WHERE CAST(ROUND((x2 - x1) * 100) AS BIGINT) <> 0
), v AS (
  SELECT ABS(cents) AS a, COUNT(*) AS cnt,
         CAST(COUNT(*) FILTER (WHERE cents > 0) AS BIGINT) AS poscnt
  FROM d GROUP BY ABS(cents)
), r AS (
  SELECT a, cnt, poscnt,
         CAST(SUM(cnt) OVER (ORDER BY a
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS BIGINT) AS below
  FROM v
), s AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(poscnt * (2 * COALESCE(below, 0) + cnt + 1))
              AS BIGINT) AS w2x,
         CAST(SUM(cnt * cnt * cnt - cnt) AS DOUBLE) AS ties
  FROM r
)
SELECT n AS n_pairs,
       FLOOR(CAST(w2x AS DOUBLE) / 2 * 1e6) / 1e6 AS w_plus,
       FLOOR((CAST(w2x AS DOUBLE) / 2 - n * (n + 1) / 4.0)
             / sqrt(n * (n + 1.0) * (2 * n + 1) / 24 - ties / 48)
             * 1e6) / 1e6 AS z_stat,
       ABS(FLOOR((CAST(w2x AS DOUBLE) / 2 - n * (n + 1) / 4.0)
             / sqrt(n * (n + 1.0) * (2 * n + 1) / 24 - ties / 48)
             * 1e6) / 1e6) > {_WSR_CRIT} AS significant
FROM s
"""


def agg_wilcoxon_signed_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """W⁺ = Σ ranks of positive differences, midranks for tied |d|
    (zero differences dropped — standard; cents-scaled so ties are
    exact integer events), z = (W⁺ − n(n+1)/4)/√(n(n+1)(2n+1)/24 −
    Σ(t³−t)/48) with the tie-corrected variance. The MWU value-grain
    discipline on |d|: ranks never materialize per row — the doubled
    rank sum 2W⁺ = Σ poscnt·(2·below + cnt + 1) is one exact integer
    aggregation over the distinct-|cents| ladder.

    Cross-engine exactness: per-customer half-year sums ride the
    decimal bridge so the cents differences are exact integers;
    everything through 2W⁺ and the tie term is integer arithmetic;
    z is one fixed-order double expression, flag on the quantized z.

    Scale design: one filtered corpus pass to customer grain
    (map-side-combinable with the both-halves HAVING), one pass to the
    distinct-|d| ladder, one prefix window over it, one fold."""
    o = table(spark, sf_dir, "orders")
    oy = o.where(F.year("o_orderdate") == _WSR_YEAR)
    h1 = F.when(
        F.month("o_orderdate") <= 6, F.col("o_totalprice")
    )
    h2 = F.when(F.month("o_orderdate") > 6, F.col("o_totalprice"))
    pair = (
        oy.groupBy("o_custkey")
        .agg(
            dsum(h1).alias("x1"),
            dsum(h2).alias("x2"),
            F.count(h1).alias("n1"),
            F.count(h2).alias("n2"),
        )
        .where((F.col("n1") > 0) & (F.col("n2") > 0))
    )
    d = pair.select(
        F.round((F.col("x2") - F.col("x1")) * 100)
        .cast("long")
        .alias("cents")
    ).where(F.col("cents") != 0)
    v = d.groupBy(F.abs(F.col("cents")).alias("a")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_if(F.col("cents") > 0).alias("poscnt"),
    )
    w_below = (
        Window.partitionBy(meta_part("a"))
        .orderBy("a")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = v.withColumn(
        "below", F.coalesce(F.sum("cnt").over(w_below), F.lit(0))
    )
    s = r.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(
            F.col("poscnt") * (2 * F.col("below") + F.col("cnt") + 1)
        )
        .cast("long")
        .alias("w2x"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        )
        .cast("double")
        .alias("ties"),
    )
    n = F.col("n").cast("double")
    wplus = F.col("w2x").cast("double") / 2
    z = fquant(
        (wplus - n * (n + 1) / 4.0)
        / F.sqrt(
            n * (n + 1.0) * (2 * n + 1) / 24 - F.col("ties") / 48
        )
    )
    return s.select(
        F.col("n").alias("n_pairs"),
        fquant(wplus).alias("w_plus"),
        z.alias("z_stat"),
        (F.abs(z) > _WSR_CRIT).alias("significant"),
    )


# ---------------------------------------------------------------------------
# agg_bartlett_test — STAGED for the r16 cadence (parked unregistered;
# SURVEY round-14 log). Bartlett's variance-homogeneity test across the
# five order priorities: the CLASSICAL (normal-theory) member of the
# homogeneity pair — agg_brown_forsythe is the robust median-based
# Levene; Bartlett is the likelihood-ratio form with the Bartlett
# correction factor, more powerful when normality holds and the one
# every stats package reports first. Together they bracket the
# equal-variance assumption agg_anova_oneway/agg_tukey_hsd lean on.
# ---------------------------------------------------------------------------

_BARTLETT_CHI2_CRIT = 9.487729036781154  # chi2(4) at 5% — pinned literal


# the canonical pico folds live in parity.py (shared with timeseries)
from trireme_spark.parity import oracle_pico_sum, pico_sum

_oracle_pico_sum = oracle_pico_sum
_pico_sum = pico_sum


_BARTLETT_ORACLE = f"""
WITH mu AS (
  SELECT {oracle_sum('o_totalprice')} / COUNT(*) AS mu FROM orders
), g AS (
  SELECT o_orderpriority AS g,
         CAST(COUNT(*) AS BIGINT) AS n,
         {oracle_sum('o_totalprice / mu')} AS sx,
         {oracle_sum('(o_totalprice / mu) * (o_totalprice / mu)')} AS qx
  FROM orders CROSS JOIN mu GROUP BY 1
), v AS (
  SELECT n, (qx - sx * sx / n) / (n - 1) AS s2 FROM g
), tot AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS nt, CAST(COUNT(*) AS BIGINT) AS k,
         {_oracle_pico_sum('(n - 1) * s2')} AS ssw,
         {_oracle_pico_sum('(n - 1) * ln(s2)')} AS sln,
         {_oracle_pico_sum('CAST(1 AS DOUBLE) / (n - 1)')} AS sinv
  FROM v
)
SELECT CAST(nt AS BIGINT) AS n_rows, k AS n_groups,
       FLOOR(((nt - k) * ln(ssw / (nt - k)) - sln)
             / (1 + (sinv - 1 / (nt - k)) / (3 * (k - 1)))
             * 1e6) / 1e6 AS bartlett_t,
       FLOOR(((nt - k) * ln(ssw / (nt - k)) - sln)
             / (1 + (sinv - 1 / (nt - k)) / (3 * (k - 1)))
             * 1e6) / 1e6 > {_BARTLETT_CHI2_CRIT!r} AS heteroscedastic
FROM tot
"""


def agg_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's T = [(N−k)·ln(S²_p) − Σ(n_i−1)·ln(S²_i)] / C with the
    correction C = 1 + (Σ1/(n_i−1) − 1/(N−k)) / (3(k−1)), tested
    against the pinned χ²(4) 5% critical value. Significant T means the
    priorities' variances genuinely differ under normal theory — read
    it beside agg_brown_forsythe: Bartlett more powerful when tails are
    clean, Brown-Forsythe honest when they are not.

    Cross-engine exactness: the test is SCALE-INVARIANT, so values
    normalize by the decimal-exact global mean FIRST (raw price
    moments at 1e-12 quantization would overflow the 2⁵³ integer lane
    — the ARCH LM lesson); group moments are decimal-exact sums of
    identically-quantized x and x²; the k-row folds floor-quantize
    each term to pico units into exact decimal sums; ln() runs on
    bit-identical doubles in both engines (the entropy-family
    precedent); only the final T leaves, floor-quantized.

    Scale design: one corpus pass for the 1-row mean, one keyed
    map-side-combinable pass to the 5-row group-moment frame (the
    1-row mean attach is the only broadcast); everything after is
    algebra on ≤ 5 metadata rows."""
    o = table(spark, sf_dir, "orders")
    mu_df = o.agg(
        (dsum(F.col("o_totalprice")) / F.count(F.lit(1))).alias("mu")
    )
    x = F.col("o_totalprice") / F.col("mu")
    g = (
        o.crossJoin(F.broadcast(mu_df))
        .groupBy(F.col("o_orderpriority").alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x.cast(DSCALE)).cast("double").alias("sx"),
            F.sum((x * x).cast(DSCALE)).cast("double").alias("qx"),
        )
    )
    n = F.col("n")
    v = g.select(
        "n",
        (
            (F.col("qx") - F.col("sx") * F.col("sx") / n) / (n - 1)
        ).alias("s2"),
    )
    tot = v.agg(
        F.sum("n").cast("double").alias("nt"),
        F.count(F.lit(1)).alias("k"),
        _pico_sum((n - 1) * F.col("s2")).alias("ssw"),
        _pico_sum((n - 1) * F.log(F.col("s2"))).alias("sln"),
        _pico_sum(F.lit(1).cast("double") / (n - 1)).alias("sinv"),
    )
    nt, k = F.col("nt"), F.col("k")
    t_stat = fquant(
        ((nt - k) * F.log(F.col("ssw") / (nt - k)) - F.col("sln"))
        / (1 + (F.col("sinv") - 1 / (nt - k)) / (3 * (k - 1)))
    )
    return tot.select(
        nt.cast("long").alias("n_rows"),
        k.alias("n_groups"),
        t_stat.alias("bartlett_t"),
        (t_stat > _BARTLETT_CHI2_CRIT).alias("heteroscedastic"),
    )


# ---------------------------------------------------------------------------
# agg_welch_anova — STAGED for the r16 cadence (parked unregistered;
# SURVEY round-14 log). Welch's heteroscedasticity-robust one-way
# ANOVA across the five order priorities: the k-sample generalization
# of orders_weekend_welch_ttest and the test to REACH FOR when
# agg_bartlett_test / agg_brown_forsythe flag unequal variances —
# classic ANOVA's pooled MSW is exactly what those flags invalidate.
# ---------------------------------------------------------------------------

_WELCH_ANOVA_F_CRIT = 2.372  # F(4, inf) at 5% — pinned literal

_WELCH_ANOVA_ORACLE = f"""
WITH mu AS (
  SELECT {oracle_sum('o_totalprice')} / COUNT(*) AS mu FROM orders
), g AS (
  SELECT o_orderpriority AS g,
         CAST(COUNT(*) AS BIGINT) AS n,
         {oracle_sum('o_totalprice / mu')} AS sx,
         {oracle_sum('(o_totalprice / mu) * (o_totalprice / mu)')} AS qx
  FROM orders CROSS JOIN mu GROUP BY 1
), v AS (
  SELECT n, sx / n AS m,
         n / ((qx - sx * sx / n) / (n - 1)) AS w
  FROM g
), s1 AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS nt, CAST(COUNT(*) AS BIGINT) AS k,
         {_oracle_pico_sum('w')} AS bigw,
         {_oracle_pico_sum('w * m')} AS swm
  FROM v
), s2 AS (
  SELECT nt, k, bigw,
         {_oracle_pico_sum('w * (m - swm / bigw) * (m - swm / bigw)')}
           AS a_num,
         {_oracle_pico_sum(
             '(1 - w / bigw) * (1 - w / bigw) / (n - 1)'
         )} AS h
  FROM v CROSS JOIN s1
  GROUP BY nt, k, bigw
)
SELECT CAST(nt AS BIGINT) AS n_rows, k AS n_groups,
       FLOOR((a_num / (k - 1))
             / (1 + 2.0 * (k - 2) / (k * k - 1) * h) * 1e6) / 1e6
         AS welch_f,
       FLOOR((k * k - 1.0) / (3 * h) * 1e6) / 1e6 AS df2,
       FLOOR((a_num / (k - 1))
             / (1 + 2.0 * (k - 2) / (k * k - 1) * h) * 1e6) / 1e6
         > {_WELCH_ANOVA_F_CRIT!r} AS significant
FROM s2
"""


def agg_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's F* = [Σw_i(m̄_i − x̄_w)²/(k−1)] / [1 + 2(k−2)/(k²−1)·H]
    with w_i = n_i/s²_i, x̄_w = Σw_i·m̄_i/Σw_i, H = Σ(1−w_i/W)²/(n_i−1)
    and Welch–Satterthwaite df2 = (k²−1)/(3H) — group means compared
    WITHOUT pooling variances, so the readout stays calibrated exactly
    where agg_anova_oneway's assumption breaks.

    Cross-engine exactness: the same scale-invariant normalization and
    decimal-exact group moments as agg_bartlett_test; both k-row folds
    (the weight/weighted-mean pass and the A/H pass, which needs x̄_w
    attached first) floor-quantize every term to pico units into exact
    decimal sums; F*, df2 leave floor-quantized. The bare `2.0`/`1.0`
    literals keep DuckDB's k-integer arithmetic in the double lane.

    Scale design: identical to bartlett — one 1-row mean pass, one
    keyed group-moment pass, then two folds over 5 metadata rows (the
    second attaches the 1-row (W, Σwm) frame by broadcast)."""
    o = table(spark, sf_dir, "orders")
    mu_df = o.agg(
        (dsum(F.col("o_totalprice")) / F.count(F.lit(1))).alias("mu")
    )
    x = F.col("o_totalprice") / F.col("mu")
    g = (
        o.crossJoin(F.broadcast(mu_df))
        .groupBy(F.col("o_orderpriority").alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x.cast(DSCALE)).cast("double").alias("sx"),
            F.sum((x * x).cast(DSCALE)).cast("double").alias("qx"),
        )
    )
    n = F.col("n")
    v = g.select(
        "n",
        (F.col("sx") / n).alias("m"),
        (
            n
            / ((F.col("qx") - F.col("sx") * F.col("sx") / n) / (n - 1))
        ).alias("w"),
    )
    v = v.localCheckpoint(eager=True)  # 5-row frame, two consumers
    s1 = v.agg(
        F.sum("n").cast("double").alias("nt"),
        F.count(F.lit(1)).alias("k"),
        _pico_sum(F.col("w")).alias("bigw"),
        _pico_sum(F.col("w") * F.col("m")).alias("swm"),
    )
    xw = F.col("swm") / F.col("bigw")
    s2 = (
        v.crossJoin(F.broadcast(s1))
        .groupBy("nt", "k", "bigw")
        .agg(
            _pico_sum(F.col("w") * (F.col("m") - xw) * (F.col("m") - xw))
            .alias("a_num"),
            _pico_sum(
                (1 - F.col("w") / F.col("bigw"))
                * (1 - F.col("w") / F.col("bigw"))
                / (n - 1)
            ).alias("h"),
        )
    )
    nt, k, h = F.col("nt"), F.col("k"), F.col("h")
    f_stat = fquant(
        (F.col("a_num") / (k - 1))
        / (1 + 2.0 * (k - 2) / (k * k - 1) * h)
    )
    return s2.select(
        nt.cast("long").alias("n_rows"),
        k.alias("n_groups"),
        f_stat.alias("welch_f"),
        fquant((k * k - 1.0) / (3 * h)).alias("df2"),
        (f_stat > _WELCH_ANOVA_F_CRIT).alias("significant"),
    )


# ---------------------------------------------------------------------------
# agg_mood_median_test — STAGED for the r16 cadence (parked
# unregistered; SURVEY round-14 log). Mood's k-sample median test on
# the five order priorities: the coarsest, most assumption-free member
# of the location family — kruskal ranks everything, mood only asks
# "above the grand median or not", which keeps it valid under ANY
# monotone transform and arbitrary ties/outliers. χ² over the k×2
# above/below contingency, exact integers until the final statistic.
# ---------------------------------------------------------------------------

_MOOD_CHI2_CRIT = 9.487729036781154  # chi2(4) at 5% — pinned literal

_MOOD_ORACLE = f"""
WITH base AS (
  SELECT ROUND(o_totalprice * 100) AS cents, o_orderpriority AS g
  FROM orders
), gv AS (
  SELECT cents, g, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM base GROUP BY 1, 2
), tv AS (
  SELECT cents, CAST(SUM(cnt) AS BIGINT) AS c FROM gv GROUP BY 1
), lad AS (
  SELECT cents,
         CAST(SUM(c) OVER (ORDER BY cents
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(SUM(c) OVER () AS BIGINT) AS nt
  FROM tv
), med AS (
  SELECT MIN(cents) AS med FROM lad
  WHERE cum >= CAST(CEIL(nt / 2.0) AS BIGINT)
), grp AS (
  SELECT g, CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN cents > med THEN cnt ELSE 0 END) AS BIGINT)
           AS a
  FROM gv CROSS JOIN med GROUP BY g
), s1 AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS nt, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(a) AS BIGINT) AS atot
  FROM grp
), s2 AS (
  SELECT nt, k, atot,
         {_oracle_pico_sum(
             '(a - n * (atot / nt)) * (a - n * (atot / nt))'
             ' / (n * (atot / nt))'
             ' + (a - n * (atot / nt)) * (a - n * (atot / nt))'
             ' / (n - n * (atot / nt))'
         )} AS chi2
  FROM grp CROSS JOIN s1 GROUP BY nt, k, atot
)
SELECT CAST(nt AS BIGINT) AS n_rows, k AS n_groups,
       (SELECT med / CAST(100 AS DOUBLE) FROM med) AS grand_median,
       atot AS n_above,
       FLOOR(chi2 * 1e6) / 1e6 AS chi2,
       FLOOR(chi2 * 1e6) / 1e6 > {_MOOD_CHI2_CRIT!r} AS significant
FROM s2
"""


def agg_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: the grand LOWER median (smallest cents value
    whose global cumulative count reaches ⌈N/2⌉ — the brown_forsythe
    order statistic, global), per-priority counts strictly above it,
    and χ² = Σ_g [(a_g−E_g)²/E_g + (a_g−E_g)²/(n_g−E_g)] with
    E_g = n_g·(A/N), against the pinned χ²(4) 5% value. Counts above
    CAN'T be fooled by tails — the sanity check beside kruskal's
    rank-sharp readout.

    Cross-engine exactness: prices collapse to exact integer cents
    (the MWU grain); the ladder, the median and every contingency cell
    are exact integers; χ² terms are a fixed double expression over
    those integers, pico-quantized into the exact k-row fold; only
    χ² itself leaves, floor-quantized.

    Scale design: ranks never materialize — the ladder runs over the
    DISTINCT-value frame (meta-scale window; the pareto two-pass
    bucket machinery is the drop-in when distinct values go
    corpus-scale); the (cents, g) rollup is cached for its two
    consumers (ladder, contingency); the 1-row median and the 1-row
    totals frame are the only broadcasts."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderpriority").alias("g"),
    )
    gv = (
        base.groupBy("cents", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .cache()
    )
    tv = gv.groupBy("cents").agg(F.sum("cnt").alias("c"))
    w_cum = (
        Window.partitionBy(meta_part("cents"))
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(meta_part("cents"))
    lad = tv.select(
        "cents",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(w_all).cast("long").alias("nt"),
    )
    med = (
        lad.where(
            F.col("cum")
            >= F.ceil(F.col("nt") / 2.0).cast("long")
        )
        .agg(F.min("cents").alias("med"))
    )
    grp = (
        gv.crossJoin(F.broadcast(med))
        .groupBy("g")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum(
                F.when(F.col("cents") > F.col("med"), F.col("cnt"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("a"),
            F.min("med").alias("med"),
        )
    )
    grp = grp.localCheckpoint(eager=True)  # 5-row frame, two consumers
    s1 = grp.agg(
        F.sum("n").cast("double").alias("nt"),
        F.count(F.lit(1)).alias("k"),
        F.sum("a").cast("long").alias("atot"),
    )
    n, a = F.col("n"), F.col("a")
    e1 = n * (F.col("atot") / F.col("nt"))
    d = a - e1
    s2 = (
        grp.crossJoin(F.broadcast(s1))
        .groupBy("nt", "k", "atot")
        .agg(
            _pico_sum(d * d / e1 + d * d / (n - e1)).alias("chi2"),
            F.min("med").alias("med"),
        )
    )
    chi2 = fquant(F.col("chi2"))
    return s2.select(
        F.col("nt").cast("long").alias("n_rows"),
        F.col("k").alias("n_groups"),
        (F.col("med") / F.lit(100).cast("double")).alias("grand_median"),
        F.col("atot").alias("n_above"),
        chi2.alias("chi2"),
        (chi2 > _MOOD_CHI2_CRIT).alias("significant"),
    )


# ---------------------------------------------------------------------------
# agg_partial_correlation — STAGED for the r16 cadence (parked
# unregistered; SURVEY round-14 log). First-order partial correlation
# of (extended price, quantity) CONTROLLING for discount — the
# confounder-adjusted member of the correlation family: agg_corr_matrix
# reports marginal r, agg_spearman/kendall the rank versions; partial r
# answers "is the price–quantity link real once the discount channel
# is held fixed", the question every pricing dashboard actually asks.
# ---------------------------------------------------------------------------

_PCORR_Z_CRIT = 1.959964  # two-sided 5% normal — pinned literal

_PCORR_ORACLE = f"""
WITH m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {oracle_sum('l_extendedprice')} AS sx,
         {oracle_sum('l_quantity')} AS sy,
         {oracle_sum('l_discount')} AS sz,
         {oracle_sum('l_extendedprice * l_extendedprice')} AS sxx,
         {oracle_sum('l_quantity * l_quantity')} AS syy,
         {oracle_sum('l_discount * l_discount')} AS szz,
         {oracle_sum('l_extendedprice * l_quantity')} AS sxy,
         {oracle_sum('l_extendedprice * l_discount')} AS sxz,
         {oracle_sum('l_quantity * l_discount')} AS syz
  FROM lineitem
), r AS (
  SELECT n,
         (n * sxy - sx * sy)
           / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS rxy,
         (n * sxz - sx * sz)
           / sqrt((n * sxx - sx * sx) * (n * szz - sz * sz)) AS rxz,
         (n * syz - sy * sz)
           / sqrt((n * syy - sy * sy) * (n * szz - sz * sz)) AS ryz
  FROM m
), p AS (
  SELECT n, rxy, rxz, ryz,
         (rxy - rxz * ryz)
           / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)) AS rp
  FROM r
)
SELECT n AS n_rows,
       FLOOR(rxy * 1e6) / 1e6 AS r_xy,
       FLOOR(rxz * 1e6) / 1e6 AS r_xz,
       FLOOR(ryz * 1e6) / 1e6 AS r_yz,
       FLOOR(rp * 1e6) / 1e6 AS r_xy_given_z,
       FLOOR(ln((1 + rp) / (1 - rp)) / 2 * 1e6) / 1e6 AS fisher_z,
       FLOOR(ln((1 + rp) / (1 - rp)) / 2 * sqrt(n - 4) * 1e6) / 1e6
         AS z_stat,
       ABS(FLOOR(ln((1 + rp) / (1 - rp)) / 2 * sqrt(n - 4) * 1e6) / 1e6)
         > {_PCORR_Z_CRIT!r} AS significant
FROM p
"""


def agg_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)) over
    lineitem with x = extended price, y = quantity, z = discount, plus
    Fisher's z = ½·ln((1+r)/(1−r)) and the large-sample z statistic
    z·√(n−4) against the pinned two-sided 5% normal value. The three
    marginal r's ship alongside so the adjustment itself is readable
    (price–quantity is strongly positive marginally; the partial says
    how much survives the discount channel).

    Cross-engine exactness: ONE scan to eleven decimal-exact moments
    (counts + nine DECIMAL(27,6) sums of identically-computed per-row
    products); every correlation is a fixed-order double expression
    over those identical moments; ln() on bit-identical doubles (the
    entropy precedent); all outputs floor-quantized.

    Scale design: the single map-side-combinable aggregate is the
    whole corpus cost — no join, no window, no Python, no broadcast;
    the algebra runs on one metadata row. The moment lane holds to
    2⁵³: price² sums reach ~6e15 at sf0.1, inside DECIMAL(27,6)'s 1e21
    headroom, and the double conversions are identical both engines."""
    li = table(spark, sf_dir, "lineitem")
    x, y, z = (
        F.col("l_extendedprice"),
        F.col("l_quantity"),
        F.col("l_discount"),
    )

    def dx(e):
        return F.sum(e.cast(DSCALE)).cast("double")

    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        dx(x).alias("sx"),
        dx(y).alias("sy"),
        dx(z).alias("sz"),
        dx(x * x).alias("sxx"),
        dx(y * y).alias("syy"),
        dx(z * z).alias("szz"),
        dx(x * y).alias("sxy"),
        dx(x * z).alias("sxz"),
        dx(y * z).alias("syz"),
    )
    n = F.col("n")
    sx, sy, sz = F.col("sx"), F.col("sy"), F.col("sz")

    def corr(spq, sp, sq, spp, sqq):
        return (n * spq - sp * sq) / F.sqrt(
            (n * spp - sp * sp) * (n * sqq - sq * sq)
        )

    r = m.select(
        "n",
        corr(F.col("sxy"), sx, sy, F.col("sxx"), F.col("syy")).alias(
            "rxy"
        ),
        corr(F.col("sxz"), sx, sz, F.col("sxx"), F.col("szz")).alias(
            "rxz"
        ),
        corr(F.col("syz"), sy, sz, F.col("syy"), F.col("szz")).alias(
            "ryz"
        ),
    )
    rp = (F.col("rxy") - F.col("rxz") * F.col("ryz")) / F.sqrt(
        (1 - F.col("rxz") * F.col("rxz"))
        * (1 - F.col("ryz") * F.col("ryz"))
    )
    p = r.select("n", "rxy", "rxz", "ryz", rp.alias("rp"))
    fz = F.log((1 + F.col("rp")) / (1 - F.col("rp"))) / 2
    zs = fquant(fz * F.sqrt(n - 4))
    return p.select(
        n.alias("n_rows"),
        fquant(F.col("rxy")).alias("r_xy"),
        fquant(F.col("rxz")).alias("r_xz"),
        fquant(F.col("ryz")).alias("r_yz"),
        fquant(F.col("rp")).alias("r_xy_given_z"),
        fquant(fz).alias("fisher_z"),
        zs.alias("z_stat"),
        (F.abs(zs) > _PCORR_Z_CRIT).alias("significant"),
    )
