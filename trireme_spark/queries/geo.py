"""Geospatial keys — grid-bucketed distance join over planted
coordinates. The fixture carries no lat/lon, so coordinates are planted
deterministically from the keys (the PII/HTML planting pattern: same
integer-hash construction in the oracle), keeping the check exact while
the OPERATOR — a radius join that never goes all-pairs — is real.

Scale shape: each side maps to a 1°×1° grid cell (pure expression);
the probe side expands to its 3×3 cell neighborhood (bounded ×9
fan-out), the join is a plain equi-join on the cell id, and the exact
haversine filter runs only on co-cell candidates. All-pairs distance
work never happens — the same bucket-then-verify doctrine as the
MinHash/IVF keys. The oracle brute-forces the small fixture cross join,
so the bucketed plan's COMPLETENESS (no pair missed at the cell
boundary) is value-checked, not assumed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trireme_spark.parity import oracle_sum
from trireme_spark.registry import register
from trireme_spark.sources.io import table

_KNUTH = 2654435761
_M31 = 2147483648
_M32 = 4294967296

_RADIUS_KM = 50.0
_EARTH_R2 = 2 * 6371.0088


def _plant(key, salt: int):
    """Uniform [0,1) from an integer key — Knuth hash, oracle-mirrored."""
    h = F.pmod(
        F.pmod(F.col(key) + F.lit(salt), F.lit(_M31)) * F.lit(_KNUTH),
        F.lit(_M32),
    )
    return h.cast("double") / F.lit(float(_M32))


def _plant_sql(key: str, salt: int) -> str:
    return f"(((({key} + {salt}) % {_M31}) * {_KNUTH}) % {_M32}) / {_M32}.0"


def _hav_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return (
        f"{_EARTH_R2} * asin(sqrt("
        f"sin(radians(({lat2}) - ({lat1})) / 2) ^ 2"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * sin(radians(({lon2}) - ({lon1})) / 2) ^ 2))"
    )


_GEO_ORACLE = f"""
WITH c AS (
  SELECT c_custkey,
         {_plant_sql('c_custkey', 1)} * 120 - 60 AS lat,
         {_plant_sql('c_custkey', 2)} * 240 - 120 AS lon
  FROM customer
), s AS (
  SELECT s_suppkey,
         {_plant_sql('s_suppkey', 3)} * 120 - 60 AS lat,
         {_plant_sql('s_suppkey', 4)} * 240 - 120 AS lon
  FROM supplier
)
SELECT c_custkey, s_suppkey,
       FLOOR({_hav_sql('c.lat', 'c.lon', 's.lat', 's.lon')} * 1e6) / 1e6
           AS dist_km
FROM c CROSS JOIN s
WHERE FLOOR({_hav_sql('c.lat', 'c.lon', 's.lat', 's.lon')} * 1e6) / 1e6
      <= {_RADIUS_KM}
"""


def _haversine(lat1, lon1, lat2, lon2):
    a = (
        F.pow(F.sin(F.radians(lat2 - lat1) / 2), 2)
        + F.cos(F.radians(lat1))
        * F.cos(F.radians(lat2))
        * F.pow(F.sin(F.radians(lon2 - lon1) / 2), 2)
    )
    return F.lit(_EARTH_R2) * F.asin(F.sqrt(a))


@register("geo_distance_join", oracle=_GEO_ORACLE)
def geo_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius join: every (customer, supplier) pair within 50 km of each
    other over planted coordinates — the spatial join primitive
    (store-coverage, rider-matching, geo dedup).

    Scale design: 1°×1° grid cells (≈111 km of latitude — always ≥ the
    50 km radius, and ≥ a longitude degree's span down to ±60° where the
    planted band ends, so a ±1-cell probe is COMPLETE); customers keep
    their single cell, suppliers explode to the 3×3 neighborhood
    (bounded ×9), the join is a hash equi-join on the cell id, and the
    exact haversine evaluates only for co-cell candidates — all-pairs
    never happens (the bucket-then-verify doctrine). Distances
    floor-quantize to 1e-6 km before the threshold compare and the
    output, so a libm ulp cannot flip a boundary pair cross-engine.
    The brute-force oracle value-checks the bucketed plan's
    completeness at every cell boundary in the fixture."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        (_plant("c_custkey", 1) * 120 - 60).alias("lat"),
        (_plant("c_custkey", 2) * 240 - 120).alias("lon"),
    )
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (_plant("s_suppkey", 3) * 120 - 60).alias("s_lat"),
        (_plant("s_suppkey", 4) * 240 - 120).alias("s_lon"),
    )
    cell = (
        F.floor(F.col("lat")).cast("long") * 1000
        + F.floor(F.col("lon")).cast("long")
    )
    c = cust.withColumn("cell", cell)
    # supplier probes its 3×3 neighborhood — bounded fan-out, pure expr
    offsets = F.array(
        *[
            F.lit(dy * 1000 + dx)
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    s = supp.withColumn(
        "cell",
        F.explode(
            F.transform(
                offsets,
                lambda o: (
                    F.floor(F.col("s_lat")).cast("long") * 1000
                    + F.floor(F.col("s_lon")).cast("long")
                    + o
                ),
            )
        ),
    )
    dist = _haversine(
        F.col("lat"), F.col("lon"), F.col("s_lat"), F.col("s_lon")
    )
    qdist = F.floor(dist * F.lit(1e6)) / F.lit(1e6)
    return (
        c.join(s, "cell")
        .select(
            "c_custkey",
            "s_suppkey",
            qdist.alias("dist_km"),
        )
        .where(F.col("dist_km") <= _RADIUS_KM)
    )


# ---------------------------------------------------------------------------
# geo_hotspot_gi — Getis-Ord-style grid hot-spot z-scores
# ---------------------------------------------------------------------------

_HOTSPOT_ORACLE = f"""
WITH c AS (
  SELECT c_custkey,
         {_plant_sql('c_custkey', 1)} * 120 - 60 AS lat,
         {_plant_sql('c_custkey', 2)} * 240 - 120 AS lon
  FROM customer
),
cells AS (
  SELECT CAST(FLOOR(lat) AS BIGINT) * 1000 + CAST(FLOOR(lon) AS BIGINT)
             AS cell,
         COUNT(*) AS n
  FROM c GROUP BY 1
),
stats AS (
  SELECT COUNT(*) AS nc,
         CAST(SUM(n) AS DOUBLE) / COUNT(*) AS xbar,
         sqrt((CAST(SUM(n * n) AS DOUBLE)
               - CAST(SUM(n) AS DOUBLE) * SUM(n) / COUNT(*))
              / (COUNT(*) - 1)) AS sd
  FROM cells
),
nbr AS (
  SELECT a.cell,
         CAST(SUM(b.n) AS DOUBLE) AS s,
         COUNT(*) AS m
  FROM cells a JOIN cells b
    ON b.cell IN (a.cell - 1001, a.cell - 1000, a.cell - 999,
                  a.cell - 1,    a.cell,        a.cell + 1,
                  a.cell + 999,  a.cell + 1000, a.cell + 1001)
  GROUP BY a.cell
)
SELECT nbr.cell, CAST(nbr.s AS BIGINT) AS nbhd_count,
       CAST(nbr.m AS BIGINT) AS n_nbr_cells,
       ROUND((nbr.s - stats.xbar * nbr.m)
             / (stats.sd * sqrt((stats.nc * nbr.m - nbr.m * nbr.m)
                                / (stats.nc - 1.0))), 6) AS gi_z
FROM nbr CROSS JOIN stats
ORDER BY gi_z DESC, cell ASC
LIMIT 20
"""


@register("geo_hotspot_gi", oracle=_HOTSPOT_ORACLE)
def geo_hotspot_gi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid hot-spot detection, Getis-Ord Gi* form: z-score of each
    cell's 3×3-neighborhood customer count against the global cell
    distribution — the spatial-statistics answer to "where is demand
    CLUSTERED, not just high" (a lone busy cell scores lower than a
    busy cell among busy neighbors). Top-20 hotspots emitted. Analysis
    runs over POPULATED cells (binary weights over present neighbors,
    m tracked per cell — the boundary-correct small-sample form).

    Scale design: cell counts are one keyed agg over a pure grid
    expression; neighborhood sums reuse the distance-join doctrine —
    each cell probes its 9-cell neighborhood via a bounded explode +
    equi-join on cell id (never a spatial all-pairs); global moments
    are a 1-row broadcast. Exact integer counts into one double z
    expression, ROUND(6); top-20 via TakeOrderedAndProject."""
    cust = table(spark, sf_dir, "customer").select(
        (_plant("c_custkey", 1) * 120 - 60).alias("lat"),
        (_plant("c_custkey", 2) * 240 - 120).alias("lon"),
    )
    cells = cust.select(
        (
            F.floor(F.col("lat")).cast("long") * 1000
            + F.floor(F.col("lon")).cast("long")
        ).alias("cell")
    ).groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    stats = cells.agg(
        F.count(F.lit(1)).alias("nc"),
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("xbar"),
        F.sqrt(
            (
                F.sum(F.col("n") * F.col("n")).cast("double")
                - F.sum("n").cast("double")
                * F.sum("n")
                / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("sd"),
    )
    offsets = [dy * 1000 + dx for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    probe = cells.select(
        F.col("cell").alias("bcell"), F.col("n").alias("bn")
    ).withColumn(
        "cell",
        F.explode(F.array(*[F.col("bcell") + F.lit(o) for o in offsets])),
    )
    nbr = (
        cells.select("cell")
        .join(probe, "cell")
        .groupBy("cell")
        .agg(
            F.sum("bn").cast("double").alias("s"),
            F.count(F.lit(1)).alias("m"),
        )
    )
    return (
        nbr.crossJoin(F.broadcast(stats))
        .select(
            "cell",
            F.col("s").cast("long").alias("nbhd_count"),
            F.col("m").cast("long").alias("n_nbr_cells"),
            F.round(
                (F.col("s") - F.col("xbar") * F.col("m"))
                / (
                    F.col("sd")
                    * F.sqrt(
                        (
                            F.col("nc") * F.col("m")
                            - F.col("m") * F.col("m")
                        )
                        / (F.col("nc") - 1.0)
                    )
                ),
                6,
            ).alias("gi_z"),
        )
        .orderBy(F.col("gi_z").desc(), F.col("cell").asc())
        .limit(20)
    )


# --- geo_nearest_facility (registered r11; r12 grading window) --------------
# Cadence-batch key (SURVEY round-11 log). Third geo primitive: the
# nearest-neighbor ASSIGNMENT (every customer -> closest supplier),
# complementing the radius join (geo_distance_join) and the hotspot scan
# (geo_hotspot_gi).

_NEAREST_ORACLE = f"""
WITH c AS (
  SELECT c_custkey,
         {_plant_sql('c_custkey', 1)} * 120 - 60 AS lat,
         {_plant_sql('c_custkey', 2)} * 240 - 120 AS lon
  FROM customer
), s AS (
  SELECT s_suppkey,
         {_plant_sql('s_suppkey', 3)} * 120 - 60 AS lat,
         {_plant_sql('s_suppkey', 4)} * 240 - 120 AS lon
  FROM supplier
), pairs AS (
  SELECT c_custkey, s_suppkey,
         FLOOR({_hav_sql('c.lat', 'c.lon', 's.lat', 's.lon')} * 1e6) / 1e6
             AS dist_km
  FROM c CROSS JOIN s
)
SELECT c_custkey, s_suppkey AS nearest_suppkey, dist_km
FROM (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY c_custkey
                            ORDER BY dist_km, s_suppkey) AS rn
  FROM pairs
)
WHERE rn = 1
"""


@register("geo_nearest_facility", oracle=_NEAREST_ORACLE)
def geo_nearest_facility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-facility assignment: each customer mapped to its closest
    supplier (haversine argmin) with the distance attached — the
    store-assignment / catchment primitive.

    Scale design: facilities are DIMENSION-sized, so the right 100 TB
    plan is facility broadcast + per-row argmin — the probe side
    streams, evaluates per-facility distances executor-side, and
    reduces via a map-side-combined min aggregate; no shuffle of the
    probe side at all beyond the final per-customer combine, and no
    window over corpus-scale pair sets (the oracle's rank form is the
    brute-force twin, not the plan). Were facilities corpus-sized, the
    grid path (geo_distance_join's cells, expanding-ring probes) takes
    over; the docstring records that switchover deliberately.

    Prune-then-verify (r14 follow-up — the per-pair transcendentals
    were this key's entire sweep cost): squared 3-D chord length
    ‖u(c) − u(s)‖² on unit vectors is an EXACT monotone transform of
    haversine distance (chord² = 4·sin²(θ/2), θ = d/R strictly
    increasing), so pass 1 finds each customer's min chord² with THREE
    multiplies per pair and zero per-pair trig (the unit vectors are
    per-ROW trig, hoisted before the join). Pass 2 exact-evaluates the
    oracle's haversine only on the candidate band chord² ≤ m + 5e-10.
    Soundness of the band: the final order is on FLOOR-quantized
    (1e-6 km) distance, and floor(d) ≤ floor(d_min) forces
    d < d_min + 1e-6 km; |d chord²/d d| = (2/R)·|sin(d/R)| ≤ 2/R ≈
    3.139e-4 /km, so every such candidate sits within
    3.139e-10 of the min chord² — the 5e-10 band covers it with
    ~1.9e-10 margin, dwarfing double rounding (~1e-15 absolute here).
    The pinned band test verifies the 3.139e-10 step bound numerically
    across the full distance range (it caught a dropped factor of 2 in
    the first derivation of this constant). The true argmin (chord² = m)
    is trivially inside. The surviving ~1 pair/customer then runs the
    bit-exact oracle arithmetic, so results are identical to the
    brute-force form while the 15M-pair passes are transcendental-free
    (measured 10.1 s → ~4 s at sf0.1).

    Determinism: distance floor-quantizes at 1e-6 km INSIDE the chain,
    and the argmin is a lexicographic struct-min on (dist, suppkey) —
    equidistant facilities resolve to the smallest key in both engines.
    """
    from trireme_spark.parity import fquant

    def unit_xyz(lat, lon, px, py, pz):
        rl, rn = F.radians(lat), F.radians(lon)
        return [
            (F.cos(rl) * F.cos(rn)).alias(px),
            (F.cos(rl) * F.sin(rn)).alias(py),
            F.sin(rl).alias(pz),
        ]

    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        (_plant("c_custkey", 1) * 120 - 60).alias("lat"),
        (_plant("c_custkey", 2) * 240 - 120).alias("lon"),
    )
    cust = cust.select(
        "c_custkey", "lat", "lon",
        *unit_xyz(F.col("lat"), F.col("lon"), "cx", "cy", "cz"),
    )
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (_plant("s_suppkey", 3) * 120 - 60).alias("s_lat"),
        (_plant("s_suppkey", 4) * 240 - 120).alias("s_lon"),
    )
    supp = supp.select(
        "s_suppkey", "s_lat", "s_lon",
        *unit_xyz(F.col("s_lat"), F.col("s_lon"), "sx", "sy", "sz"),
    )
    # ONE broadcast site reused by both passes (same dimension frame).
    supp_b = F.broadcast(supp)

    dx = F.col("cx") - F.col("sx")
    dy = F.col("cy") - F.col("sy")
    dz = F.col("cz") - F.col("sz")
    chord2 = dx * dx + dy * dy + dz * dz

    # Pass 1: transcendental-free min chord² per customer (3 mults/pair).
    thr = (
        cust.crossJoin(supp_b)
        .groupBy("c_custkey")
        .agg((F.min(chord2) + F.lit(5e-10)).alias("thr"))
    )

    # Pass 2: re-stream the pairs, keep the provably-sufficient band,
    # and run the ORACLE-identical haversine + floor + struct-min on the
    # survivors (~1 per customer). thr joins the probe side BEFORE the
    # cross join — a probe⋈probe equi-join, never a pair-table shuffle.
    cand = (
        cust.join(thr, "c_custkey")
        .crossJoin(supp_b)
        .where(chord2 <= F.col("thr"))
    )
    pairs = cand.select(
        "c_custkey",
        fquant(
            _haversine(
                F.col("lat"), F.col("lon"), F.col("s_lat"), F.col("s_lon")
            )
        ).alias("dist_km"),
        "s_suppkey",
    )
    best = pairs.groupBy("c_custkey").agg(
        F.min(F.struct("dist_km", "s_suppkey")).alias("b")
    )
    return best.select(
        "c_custkey",
        F.col("b.s_suppkey").alias("nearest_suppkey"),
        F.col("b.dist_km").alias("dist_km"),
    )


# ---------------------------------------------------------------------------
# geo_geohash_encode — Geohash cell encoding (Niemeyer's bit-interleaved
# base32 grid) — the spatial BUCKETING primitive: once points carry a cell
# id, proximity joins become equi-joins on (cell, neighbors) instead of
# all-pairs haversine, which is exactly the grid path
# geo_nearest_facility's docstring names for corpus-sized facility tables.
# ---------------------------------------------------------------------------

_GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _gh_interleave_sql(lon_q: str = "lon_q", lat_q: str = "lat_q") -> str:
    """20-bit lon/lat interleave (lon takes even bits from the MSB — the
    geohash convention) as PORTABLE integer arithmetic: bit k extracts as
    FLOOR(x / 2^k) % 2, so the same generated string runs in Spark SQL and
    DuckDB with identical semantics (doubles are exact far below 2^53)."""
    terms = []
    for k in range(10):
        terms.append(
            f"CAST(FLOOR({lon_q} / {2 ** (9 - k)}.0) AS BIGINT) % 2"
            f" * {2 ** (19 - 2 * k)}"
        )
        terms.append(
            f"CAST(FLOOR({lat_q} / {2 ** (9 - k)}.0) AS BIGINT) % 2"
            f" * {2 ** (18 - 2 * k)}"
        )
    return "(" + " + ".join(terms) + ")"


def _gh_str_sql(cell: str = "cell") -> str:
    """cell (20 bits) -> 4 base32 chars, 5 bits each, MSB first."""
    chars = [
        f"substring('{_GH_ALPHABET}', "
        f"CAST(CAST(FLOOR({cell} / {32 ** (3 - i)}.0) AS BIGINT) % 32 + 1"
        f" AS INT), 1)"
        for i in range(4)
    ]
    return "concat(" + ", ".join(chars) + ")"


_GEOHASH_ORACLE = f"""
WITH c AS (
  SELECT c_custkey,
         {_plant_sql('c_custkey', 1)} * 120 - 60 AS lat,
         {_plant_sql('c_custkey', 2)} * 240 - 120 AS lon
  FROM customer
), q AS (
  SELECT lat, lon,
         CAST(FLOOR((lat + 90.0) / 180.0 * 1024.0) AS BIGINT) AS lat_q,
         CAST(FLOOR((lon + 180.0) / 360.0 * 1024.0) AS BIGINT) AS lon_q
  FROM c
), g AS (
  SELECT {_gh_str_sql(_gh_interleave_sql())} AS geohash4, lat, lon
  FROM q
)
SELECT geohash4,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       FLOOR({oracle_sum('lat')} / COUNT(*) * 1e6) / 1e6 AS mean_lat,
       FLOOR({oracle_sum('lon')} / COUNT(*) * 1e6) / 1e6 AS mean_lon
FROM g
GROUP BY 1
ORDER BY n_customers DESC, geohash4 ASC
LIMIT 25
"""


@register("geo_geohash_encode", oracle=_GEOHASH_ORACLE)
def geo_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-4 geohash per customer (planted lat/lon — the
    geo_distance_join planting, salts 1/2) via the REAL algorithm:
    quantize lon/lat to 10 bits each over [-180,180]/[-90,90],
    interleave MSB-first with lon on even bits, emit 4 base32 chars
    (alphabet 0-9 b-z minus a,i,l,o) — verified in tests against an
    independent textbook geohash encoder, not just the oracle. Returns
    the top-25 cells by population with decimal-exact mean coordinates.

    Cross-engine exactness: the quantization, interleave and char
    extraction are one generated INTEGER-arithmetic expression shared
    verbatim by both engines (FLOOR-div/mod bit extraction — doubles
    exact far below 2^53); means are decimal-exact sums floor-quantized;
    the top-25 order (n DESC, geohash ASC) is total.

    Scale design: pure per-row column algebra (no UDF, no shuffle)
    followed by ONE map-side-combinable cell rollup and a
    TakeOrderedAndProject — the cell id then serves as the equi-join /
    partition key that replaces all-pairs spatial work at 100 TB;
    deeper precisions append 5-bit groups to the same expression."""
    c = table(spark, sf_dir, "customer")
    q = c.select(
        (_plant("c_custkey", 1) * 120 - 60).alias("lat"),
        (_plant("c_custkey", 2) * 240 - 120).alias("lon"),
    ).selectExpr(
        "lat",
        "lon",
        "CAST(FLOOR((lat + 90.0) / 180.0 * 1024.0) AS BIGINT) AS lat_q",
        "CAST(FLOOR((lon + 180.0) / 360.0 * 1024.0) AS BIGINT) AS lon_q",
    )
    g = q.selectExpr(
        f"{_gh_str_sql(_gh_interleave_sql())} AS geohash4", "lat", "lon"
    )
    from trireme_spark.parity import dsum

    return (
        g.groupBy("geohash4")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("lat").alias("slat"),
            dsum("lon").alias("slon"),
        )
        .select(
            "geohash4",
            "n_customers",
            (
                F.floor(F.col("slat") / F.col("n_customers") * F.lit(1e6))
                / 1e6
            ).alias("mean_lat"),
            (
                F.floor(F.col("slon") / F.col("n_customers") * F.lit(1e6))
                / 1e6
            ).alias("mean_lon"),
        )
        .orderBy(F.col("n_customers").desc(), F.col("geohash4").asc())
        .limit(25)
    )


# ---------------------------------------------------------------------------
# geo_point_in_polygon — Ray-casting point-in-polygon over the planted
# customer coordinates against a FIXED literal polygon: the geofencing
# primitive (service areas, sanctioned regions, delivery zones) the geo
# family was missing — the radius join answers "near a point", this
# answers "inside a shape".
# ---------------------------------------------------------------------------

# (lat, lon) vertices, counter-clockwise, closed implicitly. A literal
# pentagon spanning the planted coordinate space — plan metadata, like
# the centroid lists.
_PIP_POLY = [
    (0.0, -100.0),
    (50.0, -40.0),
    (30.0, 60.0),
    (-30.0, 80.0),
    (-50.0, -20.0),
]


def _pip_crossing_sql(lat: str, lon: str) -> str:
    """Ray-casting parity (odd crossings = inside) as a SQL expression:
    for each edge, the horizontal ray from the point crosses iff the
    edge straddles the point's latitude and the crossing longitude
    lies east of the point. Identical IEEE expression both engines."""
    terms = []
    n = len(_PIP_POLY)
    for i in range(n):
        (y1, x1), (y2, x2) = _PIP_POLY[i], _PIP_POLY[(i + 1) % n]
        terms.append(
            f"(CASE WHEN (({y1!r} > {lat}) != ({y2!r} > {lat}))"
            f" AND ({lon} < ({x2!r} - {x1!r}) * ({lat} - {y1!r})"
            f" / ({y2!r} - {y1!r}) + {x1!r}) THEN 1 ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ") % 2 = 1"


def _pip_crossing_col(lat, lon):
    """The same ray-casting parity as a Column expression."""
    n = len(_PIP_POLY)
    total = F.lit(0)
    for i in range(n):
        (y1, x1), (y2, x2) = _PIP_POLY[i], _PIP_POLY[(i + 1) % n]
        crosses = (
            (F.lit(y1) > lat) != (F.lit(y2) > lat)
        ) & (
            lon
            < (F.lit(x2) - F.lit(x1))
            * (lat - F.lit(y1))
            / (F.lit(y2) - F.lit(y1))
            + F.lit(x1)
        )
        total = total + F.when(crosses, 1).otherwise(0)
    return total % 2 == 1


_PIP_ORACLE = f"""
WITH c AS (
  SELECT c_custkey, c_acctbal,
         {_plant_sql('c_custkey', 1)} * 120 - 60 AS lat,
         {_plant_sql('c_custkey', 2)} * 240 - 120 AS lon
  FROM customer
), flagged AS (
  SELECT c_custkey, c_acctbal,
         {_pip_crossing_sql('lat', 'lon')} AS inside
  FROM c
)
SELECT inside,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {oracle_sum('c_acctbal')} / COUNT(*) AS avg_acctbal,
       FLOOR(CAST(COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM flagged) * 1e6) / 1e6 AS share
FROM flagged GROUP BY inside
"""


@register("geo_point_in_polygon", oracle=_PIP_ORACLE)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify every planted customer coordinate against the literal
    pentagon by ray casting (odd edge crossings ⇒ inside) and profile
    the two populations (count, average balance, share). The polygon is
    plan metadata — five edges unrolled into one codegen'd boolean, no
    join, no UDF; at 100 TB this is a pure map-side projection over the
    scan, the cheapest possible geofence.

    Cross-engine exactness: planted coordinates are exact integer-hash
    arithmetic (the geo family's oracle-mirrored planting); each edge
    test is the identical IEEE compare/multiply/divide sequence in both
    engines, so the inside flag is bit-deterministic (an exactly-on-
    edge point would classify identically in both engines for the same
    reason); counts are integers and the balance mean rides the
    decimal bridge.

    Scale design: ONE scan, ONE 2-group aggregate; the share ratio
    reuses the group counts via a window over the 2-row frame."""
    from trireme_spark.parity import davg, fquant, meta_part
    from pyspark.sql.window import Window

    c = table(spark, sf_dir, "customer")
    lat = _plant("c_custkey", 1) * 120 - 60
    lon = _plant("c_custkey", 2) * 240 - 120
    flagged = c.select(
        "c_acctbal", _pip_crossing_col(lat, lon).alias("inside")
    )
    g = flagged.groupBy("inside").agg(
        F.count(F.lit(1)).alias("n_customers"),
        davg("c_acctbal").alias("avg_acctbal"),
    )
    w_all = Window.partitionBy(meta_part("n_customers"))
    return g.select(
        "inside",
        "n_customers",
        "avg_acctbal",
        fquant(
            F.col("n_customers").cast("double")
            / F.sum("n_customers").over(w_all)
        ).alias("share"),
    )
