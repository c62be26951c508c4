"""Spark-side helpers that make results bit-identical to the DuckDB oracle.

The driver compares Spark vs DuckDB with an order-insensitive VALUE HASH
(SURVEY.md §5.2), so "approximately equal" floats are a mismatch. These
helpers eliminate nondeterminism at the source instead of hoping the hash
tolerates it (SURVEY.md §5.3 parity traps):

* **Double SUM/AVG** — parallel summation order differs between engines and
  between runs (partial aggregation). Fix: evaluate the per-row expression in
  IEEE double (bit-identical across engines for identical inputs and operator
  order), round each row half-up to a whole number of micro-units
  ``u = round_half_up(x·10⁶)``, SUM the integers exactly (order-independent),
  cast the total back to double. AVG = exact-sum / count.
  Oracle mirror: ``CAST(SUM(CAST(expr AS DECIMAL(27,6))) AS DOUBLE)``.
  Spark's decimal cast rounds the double's shortest decimal string
  (``BigDecimal.valueOf``): a ``Double.toString`` and a BigDecimal per row.
  :func:`dsum` computes ``u = floor(y + 0.5)`` with ``y = x·10⁶`` in double
  arithmetic instead wherever that provably equals the cast: ``|x| < 1e9``
  and ``y`` lies more than ``|y|·1e-15 + 1e-9`` from the half-integer above
  ``floor(y)``. Ties, larger values, null, NaN and ±inf take the cast.
* **Inexact stats (stddev/corr/percentile)** — no exact path; round both
  sides coarsely enough that the cross-engine error (≤1e-9 relative) cannot
  straddle a rounding boundary in practice.
* **events.ts** — nanosecond parquet; Spark truncates to µs, DuckDB keeps ns.
  Any query exposing or comparing raw ``ts`` goes through :func:`ts_ms`.
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column
from pyspark.sql import functions as F

DSCALE = "decimal(27,6)"

# split-long dsum constants (opt r15): the per-row rounded value's
# unscaled long u = round_half_up(x·1e6) splits at 2^20 into
# hi = u >> 20 and lo = u - hi·2^20 ∈ [0, 2^20); Σu = 2^20·Σhi + Σlo
# reconstructs EXACTLY from two compact long sums. Bounds (loud-guarded
# per group, never silent): per-row |x| < 1e12 (decimal(18,6) cast
# range), rows per group < 2^43 ≈ 8.8e12 (Σlo long range), and
# n·(|u|max/2^20 + 1) < 9e18 (Σhi long range — conservative n·max
# bound; Σ|x| ≲ 9.2e18, ~500× beyond a 100 TB revenue sum).
_SPLIT = 1 << 20
_ROW_CAP = 9.99e11  # strict: rounding at 1e12 - 0.5e-6 would overflow (18,6)
_N_CAP = float(1 << 43)
_HI_CAP = 9.0e18


# session -> (ExpressionUtils, UnscaledValue) py4j class handles, held
# weakly so an entry dies with its session object.
_JVM_HANDLES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _jvm_handles(spark) -> tuple:
    handles = _JVM_HANDLES.get(spark)
    if handles is None:
        jvm = spark._jvm
        handles = (
            jvm.org.apache.spark.sql.classic.ExpressionUtils,
            jvm.org.apache.spark.sql.catalyst.expressions.UnscaledValue,
        )
        _JVM_HANDLES[spark] = handles
    return handles


def _unscaled(spark, c: Column) -> Column:
    """UnscaledValue(c) — the decimal's unscaled long, zero-copy for
    compact decimals (precision ≤ 18). Catalyst-internal expression,
    stable across Spark 3.x/4.x, reached through the classic-mode
    ExpressionUtils bridge; callers catch and fall back to the plain
    decimal path if the bridge is unavailable (e.g. Spark Connect).
    The reflective py4j class lookups cost ~ms each, so the handles are
    cached per live SparkSession (plan-build time is part of every
    registered query's bench cost)."""
    from pyspark.sql.classic.column import Column as _CCol

    eu, uv = _jvm_handles(spark)
    return _CCol(eu.column(uv(eu.expression(c._jc))))


def dsum_wide(expr: Column | str) -> Column:
    """Order-independent, cross-engine-exact SUM of a double expression —
    the plain DECIMAL(27,6) path. Bit-identical to :func:`dsum`; use it
    where per-row |x| can reach 1e12 (coarse pre-aggregated inputs), at
    ~2× the per-row cost: the (37,6) sum buffer exceeds compact-long
    precision, so every update pays BigDecimal serde in the agg buffer."""
    c = F.col(expr) if isinstance(expr, str) else expr
    return F.sum(c.cast(DSCALE)).cast("double")


# session -> {input repr: built dsum Column} and {constant: Column}, held
# weakly so a session's built Columns die with it.
_DSUM_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_CONST_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _session_memo(memo: weakref.WeakKeyDictionary, spark) -> dict:
    if spark is None:
        return {}  # no active session: build without memoizing
    entries = memo.get(spark)
    if entries is None:
        entries = memo[spark] = {}
    return entries


def _const(spark, val: str, dtype: str) -> Column:
    consts = _session_memo(_CONST_MEMO, spark)
    key = f"{val}:{dtype}"
    c = consts.get(key)
    if c is None:
        c = consts[key] = F.lit(int(val)).cast(dtype)
    return c


# Fast-path bounds for the per-row rounding (see _micro_units): below
# _FAST_CAP, |x·1e6| < 2^50; a row whose y = x·1e6 lies within
# _TIE_REL·|y| + _TIE_ABS of the half-integer above floor(y) is treated
# as a possible tie.
_FAST_CAP = 1e9
_TIE_REL = 1e-15
_TIE_ABS = 1e-9


def _micro_units(spark, c: Column) -> tuple[Column, Column]:
    """``(fast, u)``: the per-row unscaled micro-units
    ``u = round_half_up(x·10⁶)`` of CAST(x AS DECIMAL(18,6)), and the
    predicate that selects its double-arithmetic branch.

    The cast rounds a decimal string ``s`` of ``x`` with
    ``|s − x| ≤ ulp(x)/2``, and ``y = x·10⁶`` is within ``ulp(y)/2`` of the
    exact product, so ``|y − s·10⁶| ≤ ~1.5·2⁻⁵²·|y| ≈ 3.3e-16·|y|``. When
    ``y`` lies farther than ``|y|·1e-15 + 1e-9`` (3× that bound, plus room
    for the rounding of the test itself) from the half-integer above
    ``floor(y)``, both round to the same integer, and HALF_UP differs from
    round-to-nearest only at ties, so ``floor(y + 0.5)`` equals the cast.
    ``|x| < 1e9`` keeps ``|y| < 2⁵⁰``, where ``floor(y)`` is an exact
    double and ``y − floor(y) − 0.5`` and ``y + 0.5`` are exact or off by
    at most ~2⁻⁵³, which the ``1e-9`` term absorbs; it comes first in the
    short-circuit ``&`` so ``floor`` never sees a huge value. Every other
    row — near a tie, ``|x| ≥ 1e9``, null, NaN, ±inf — takes the cast."""
    y = c * 1e6
    fast = (F.abs(c) < _FAST_CAP) & (
        F.abs(y - F.floor(y) - 0.5) > F.abs(y) * _TIE_REL + _TIE_ABS
    )
    u = F.when(fast, F.floor(y + 0.5)).otherwise(
        _unscaled(spark, c.cast("decimal(18,6)"))
    )
    return fast, u


def dsum(expr: Column | str) -> Column:
    """Order-independent, cross-engine-exact SUM of a double expression.

    Each row rounds half-up to ``u = round_half_up(x·10⁶)`` micro-units,
    the unscaled value of CAST(x AS DECIMAL(18,6)) — identical to the
    (27,6) oracle mirror for every |x| < 1e12. :func:`_micro_units` takes
    ``u = floor(x·10⁶ + 0.5)`` in double arithmetic when ``|x| < 1e9`` and
    ``x·10⁶`` is more than ``|x·10⁶|·1e-15 + 1e-9`` from a tie; the
    rounding error of the double product and of the cast's decimal string
    is at most ~3.3e-16·|x·10⁶|, so such a row rounds the same either way.
    Ties, |x| ≥ 1e9 (where |x·10⁶| can pass 2⁵⁰ and the tie test loses
    its exactness), null, NaN and ±inf take the cast, which costs a
    ``Double.toString`` and a BigDecimal per row.

    The SUM runs as two compact LONG sums over the split unscaled value
    (hi = u >> 20, lo = u − hi·2²⁰) instead of one DECIMAL(37,6) buffer
    whose precision (> 18) forces BigDecimal serde per row. Exact
    reconstruction + final decimal divide reproduce CAST(SUM(...) AS
    DOUBLE) bit-identically. Out-of-bounds groups RAISE (never a silent
    wrap/null): callers with per-row magnitudes ≥ 1e12 use
    :func:`dsum_wide`.

    The built Column memoizes per active session on the input
    expression's repr: the ~50 Column ops cost tens of ms of py4j
    roundtrips per construction, paid by EVERY registered-query
    invocation (plans rebuild per run). Safe because every call site
    passes anchor-free expressions (strings / F.col trees): the memoized
    tree is unresolved and resolves per-plan exactly like a fresh build.
    """
    from pyspark.sql import SparkSession

    c = F.col(expr) if isinstance(expr, str) else expr
    spark = SparkSession.getActiveSession()
    memo = _session_memo(_DSUM_MEMO, spark)
    key = str(c)
    built = memo.get(key)
    if built is not None:
        return built
    try:
        _, u = _micro_units(spark, c)
    except Exception:
        return dsum_wide(c)  # no classic JVM bridge: plain decimal path
    hi = F.shiftright(u, 20)
    lo = u - hi * _const(spark, str(_SPLIT), "long")
    tot = (
        F.sum(hi).cast("decimal(32,0)")
        * _const(spark, str(_SPLIT), "decimal(7,0)")
        + F.sum(lo).cast("decimal(20,0)")
    )
    val = (
        tot.cast("decimal(38,6)") / _const(spark, "1000000", "decimal(7,0)")
    ).cast("double")
    n = F.count(c).cast("double")
    mx = F.max(F.abs(c))
    ok = (n == 0.0) | (
        (mx < _ROW_CAP)
        & (n < _N_CAP)
        & (n * (mx * 1e6 / _SPLIT + 1.0) < _HI_CAP)
    )
    out = F.when(ok, val).otherwise(
        F.raise_error(
            F.lit(
                "dsum split-long bounds exceeded (per-row |x| >= 1e12 or "
                "group mass near 2^63 micro-units) — use dsum_wide here"
            )
        )
    )
    memo[key] = out
    return out


def davg(expr: Column | str) -> Column:
    """AVG as exact-sum / count — bit-identical to the oracle's mirror."""
    c = F.col(expr) if isinstance(expr, str) else expr
    return dsum(c) / F.count(F.lit(1))


def oracle_sum(sql_expr: str) -> str:
    """DuckDB mirror of :func:`dsum`."""
    return f"CAST(SUM(CAST({sql_expr} AS DECIMAL(27,6))) AS DOUBLE)"


def oracle_avg(sql_expr: str) -> str:
    """DuckDB mirror of :func:`davg`."""
    return f"{oracle_sum(sql_expr)} / COUNT(*)"


def fquant(expr: Column | str, digits: int = 6) -> Column:
    """Floor-quantize a double at 10^-digits — the TIE-FREE cross-engine
    rounding for values that are bit-identical in both engines.

    ``ROUND(x, 6)`` is NOT cross-engine-deterministic even on identical
    doubles: Spark rounds the double's SHORTEST decimal repr half-up
    (``BigDecimal.valueOf``), DuckDB rounds the exact binary value. A
    recursive chain over 2-decimal inputs with decimal constants (0.3x +
    0.7y) produces early-step values whose shortest repr has exactly 7
    fractional digits ending in 5 — a genuine tie, resolved differently:
    observed at sf0.1, ewma = 66.2913725 (binary ...724999994) → Spark
    66.291373, DuckDB 66.291372. ``FLOOR(x*1e6)/1e6`` has no tie concept:
    multiply, floor, divide are single IEEE ops on identical operands, so
    both engines agree for EVERY input at EVERY scale. Requires
    |x|·10^digits < 2^53.
    Oracle mirror: :func:`oracle_fquant`.
    """
    c = F.col(expr) if isinstance(expr, str) else expr
    s = F.lit(float(10**digits))
    return F.floor(c * s) / s


def oracle_fquant(sql_expr: str, digits: int = 6) -> str:
    """DuckDB mirror of :func:`fquant`."""
    return f"FLOOR(({sql_expr}) * 1e{digits}) / 1e{digits}"


def pico_sum(term: Column) -> Column:
    """Order-independent small-frame fold: floor-quantize a double term
    to pico units, sum exactly in DECIMAL(38,0), return double. A raw
    double SUM over even a k-row frame is accumulation-order-dependent
    — the kruskal/SPRT doctrine. Requires |term|·1e12 < 2⁶³ (Spark's
    floor lands in a long); above ~9e6 magnitudes use a DECIMAL(38,6)
    cast-sum instead."""
    return (
        F.sum(F.floor(term * 1e12).cast("decimal(38,0)")).cast("double")
        / 1e12
    )


def oracle_pico_sum(sql_term: str) -> str:
    """DuckDB mirror of :func:`pico_sum`."""
    return (
        f"CAST(SUM(CAST(FLOOR(({sql_term}) * 1e12) AS DECIMAL(38,0))) "
        "AS DOUBLE) / 1e12"
    )


def ts_ms(col: Column | str) -> Column:
    """Truncate a timestamp to millisecond precision (ns/µs parity)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_trunc("millisecond", c)


def meta_part(col: Column | str) -> Column:
    """Constant-but-NON-FOLDABLE partition key for metadata windows.

    The two-pass rewrites run their per-range offset/carry windows over
    O(#ranges) metadata rows in one deliberate partition. ``lit(0)`` as
    the partition key gets constant-folded out of the window spec by
    Catalyst, leaving an EMPTY partition spec and resurrecting the
    scary-but-benign "No Partition Defined for Window operation" warning
    storm in the driver log. ``col * 0`` is NOT safe either: once the
    column is provably non-nullable the optimizer simplifies the product
    to the literal 0 and the partition spec is eliminated again (observed
    on Spark 4.1.2 with a ``least(...)``-derived column).
    ``shiftright(col, 62)`` is 0 for every NON-NEGATIVE long (range ids
    and epoch timestamps are), has no simplification rule, and keeps the
    spec — verified on Spark 4.1.2 optimized plans for all six two-pass
    call sites.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.shiftright(c.cast("long"), 62)
