"""Data-governance keys — policy-based row/column security and
crypto-shredding erasure. A migration/analytics engine that feeds a
search sink (SURVEY.md §1.1) is exactly where governance rewrites live:
the policy applies at EXPORT time, before data leaves the lake.

Scale shapes: both keys are pure projection/filter algebra (policy
predicates push into the scan; masking is codegen'd expression work) —
governance must cost a WHERE clause, not a pipeline stage. The
crypto-shred keyring join is keyed on the entity id like any dimension
join and broadcasts while small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trireme_spark.registry import register
from trireme_spark.sources.io import table

# ---------------------------------------------------------------------------
# etl_row_column_security — policy-rewritten export view
# ---------------------------------------------------------------------------

_RLS_ORACLE = """
SELECT c_custkey,
       regexp_replace(c_name, '#[0-9]{6}', '#XXXXXX') AS name_masked,
       CASE WHEN c_acctbal < 0 THEN 'negative'
            WHEN c_acctbal < 5000 THEN 'low'
            ELSE 'high' END AS acctbal_band,
       n_name
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE' AND c_mktsegment <> 'MACHINERY'
"""


@register("etl_row_column_security", oracle=_RLS_ORACLE)
def etl_row_column_security(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-based row- and column-level security as a view rewrite —
    the governance layer every warehouse bolts onto exports: ROW
    policies (tenant sees only EUROPE customers, a segment is excluded)
    compile to predicates; COLUMN policies compile to masking
    expressions (names keep only their last 3 id digits, balances
    coarsen to bands — k-anonymity-style generalization instead of
    redaction).

    Scale design: this is the whole point — governance applied as plan
    REWRITE costs nothing at runtime. The row predicates push into the
    scan (region via the broadcast dim join, segment via
    PushedFilters), masks are codegen'd projections, and the engine
    never materializes an unmasked intermediate: the policy holds for
    free at any scale because it IS the plan, not a post-filter."""
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    masked_name = F.regexp_replace(
        "c_name", r"#[0-9]{6}", "#XXXXXX"
    )
    band = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    return (
        c.where(F.col("c_mktsegment") != "MACHINERY")
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "EUROPE")
        .select(
            "c_custkey",
            masked_name.alias("name_masked"),
            band.alias("acctbal_band"),
            "n_name",
        )
    )


# ---------------------------------------------------------------------------
# etl_gdpr_crypto_shred — erasure by key deletion
# ---------------------------------------------------------------------------

_SHRED_ORACLE = """
SELECT c_custkey,
       CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_name END
           AS name_recovered,
       CAST(c_custkey % 10 = 0 AS BOOLEAN) AS erased
FROM customer
"""


@register("etl_gdpr_crypto_shred", oracle=_SHRED_ORACLE)
def etl_gdpr_crypto_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crypto-shredding — the erasure mechanism for immutable storage:
    PII encrypts at ingest under a PER-ENTITY key; "right to be
    forgotten" deletes the KEY, not the data, so petabytes of parquet
    stay untouched while the ciphertext becomes unrecoverable. The key
    demonstrates the full cycle: envelope-encrypt each customer's name
    under their own derived key, drop every 10th customer's key from
    the keyring (the planted erasure set), then run the read path —
    decryption succeeds only where a key survives.

    Scale design: encryption/decryption are codegen'd JVM crypto
    projections (the fn_aes_roundtrip surface, per-row keys); the
    keyring is an entity-keyed dimension that broadcasts while small
    and hash-joins at scale — reads cost one dimension join, erasure
    costs one keyring delete. try_aes_decrypt (not aes_decrypt) is
    load-bearing: reads over a shredded row must yield NULL, not kill
    the job (the ANSI try_* doctrine). The oracle pins the end state:
    erased entities unrecoverable, everyone else intact.

    Key hygiene (r5 ADVICE applied): per-entity keys derive from an
    EPHEMERAL per-job master secret (``secrets.token_hex``, lives only
    in this closure, never stored in any row or output), so a holder of
    the data — custkey included — cannot recompute a key; once the job
    ends, each key exists ONLY in its keyring row and deleting that row
    genuinely destroys it. Mode is GCM (random IV per row —
    semantically secure, no ECB equality leakage) with NONE padding;
    ciphertexts are non-deterministic but the oracle-compared output is
    the recovered PLAINTEXT, which is. The keyring join carries no
    broadcast hint: AQE broadcasts while it is small and hash-joins at
    scale."""
    import secrets

    c = table(spark, sf_dir, "customer")
    # ephemeral KMS master secret — discarded with the job; per-entity
    # data keys are HKDF-style derivations under it (sha2 prefix = 32
    # hex chars = 32 bytes → AES-256), recoverable from the keyring only
    master = secrets.token_hex(16)
    keyring_full = c.select(
        "c_custkey",
        F.substring(
            F.sha2(
                F.concat(F.col("c_custkey").cast("string"), F.lit(master)),
                256,
            ),
            1,
            32,
        ).alias("dk"),
    )
    # ingest side: every row encrypts under ITS OWN key from the keyring
    enc = c.join(keyring_full, "c_custkey").select(
        "c_custkey",
        F.aes_encrypt(
            F.col("c_name"), F.col("dk"), F.lit("GCM"), F.lit("NONE")
        ).alias("name_ct"),
    )
    # keyring AFTER erasure: every 10th customer's key is deleted
    keyring = keyring_full.where(F.col("c_custkey") % 10 != 0)
    joined = enc.join(keyring, "c_custkey", "left")
    return joined.select(
        "c_custkey",
        F.try_aes_decrypt(
            F.col("name_ct"), F.col("dk"), F.lit("GCM"), F.lit("NONE")
        )
        .cast("string")
        .alias("name_recovered"),
        F.col("dk").isNull().alias("erased"),
    )


# ---------------------------------------------------------------------------
# etl_k_anonymity_audit — quasi-identifier group-size audit
# ---------------------------------------------------------------------------

_KANON_ORACLE = """
WITH g AS (
  SELECT n_name,
         c_mktsegment,
         CASE WHEN c_acctbal < 0 THEN 'negative'
              WHEN c_acctbal < 5000 THEN 'low'
              ELSE 'high' END AS bal_band,
         COUNT(*) AS grp_n
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2, 3
)
SELECT CAST(MIN(grp_n) AS BIGINT) AS k_anonymity,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END)
            AS BIGINT) AS rows_below_k5,
       ROUND(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END)
             / CAST(SUM(grp_n) AS DOUBLE), 6) AS frac_below_k5
FROM g
"""


@register("etl_k_anonymity_audit", oracle=_KANON_ORACLE)
def etl_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity AUDIT over the quasi-identifier tuple (nation,
    market segment, balance band): the dataset's k = its smallest
    equivalence-class size, plus how many rows sit in classes below
    the k=5 policy line — the measurement step that decides whether
    the generalization the export view applies
    (etl_row_column_security's bands) is actually sufficient, and the
    re-identification risk number a privacy review asks for first.

    Scale design: one keyed aggregation over the quasi-identifier
    tuple (dimension-bounded groups), then a scalar rollup — the audit
    costs one pass regardless of table size; the dim join broadcasts."""
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    band = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    g = (
        c.join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "c_mktsegment", band.alias("bal_band"))
        .agg(F.count(F.lit(1)).alias("grp_n"))
    )
    below = F.when(F.col("grp_n") < 5, F.col("grp_n")).otherwise(0)
    return g.agg(
        F.min("grp_n").cast("long").alias("k_anonymity"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(below).cast("long").alias("rows_below_k5"),
        F.round(
            F.sum(below) / F.sum("grp_n").cast("double"), 6
        ).alias("frac_below_k5"),
    )


# ---------------------------------------------------------------------------
# etl_dp_noisy_counts — Laplace-mechanism counts (calibrated noise)
# ---------------------------------------------------------------------------



@register("etl_dp_noisy_counts")  # rows-only: engine hash families differ
def etl_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism counts per nation (epsilon = 0.5, sensitivity
    1 → scale b = 2): noisy_n = true_n + Laplace(b) via the inverse-CDF
    transform of a uniform — the differential-privacy release shape for
    COUNT queries. The uniform here is HASH-derived for test
    determinism (both the draw pipeline and the calibration are what
    the key pins); a production release substitutes a cryptographic
    RNG for the hash — the one-line swap is the documented difference,
    because deterministic noise provides NO privacy.

    Rows-only by design: the noise draw hashes the group label, and
    Spark's xxhash64 and DuckDB's hash() are different families, so
    values can't cross-check; pytest gates pin calibration instead
    (noise centered, |noise| tail bounded by b·ln(1/delta), true_n
    recoverable within the expected envelope).

    Scale design: one keyed count + per-row arithmetic — the DP layer
    costs nothing at any scale."""
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    counts = (
        c.join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    u = (
        (
            F.pmod(
                F.pmod(
                    F.pmod(F.xxhash64("n_name"), F.lit(1_000_000_000)),
                    F.lit(2147483648),
                )
                * F.lit(2654435761),
                F.lit(4294967296),
            )
            % 1_000_000
        ).cast("double")
        + 0.5
    ) / 1_000_001.0
    b = 2.0  # sensitivity 1 / epsilon 0.5
    noise = F.when(
        u < 0.5, b * F.log(2.0 * u)
    ).otherwise(-b * F.log(2.0 - 2.0 * u))
    return counts.select(
        "n_name",
        "true_n",
        F.round(F.col("true_n") + noise, 6).alias("noisy_n"),
    )


# ---------------------------------------------------------------------------
# etl_invoice_reconciliation — Header-vs-detail two-way match: does each
# order's header total reconcile against the sum of its line items — the
# close-the-books control that runs nightly in every finance warehouse,
# with tolerance BANDS (exact / rounding / material) rather than a
# boolean.
# ---------------------------------------------------------------------------

_RECON_ORACLE = """
WITH detail AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                       AS DECIMAL(27,6))) AS DOUBLE) AS line_total,
         CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY 1
), matched AS (
  SELECT o.o_orderkey,
         FLOOR((o.o_totalprice - COALESCE(d.line_total, 0.0)) * 100)
           / 100 AS diff,
         COALESCE(d.n_lines, 0) AS n_lines
  FROM orders o LEFT JOIN detail d ON o.o_orderkey = d.l_orderkey
), classed AS (
  SELECT CASE
           WHEN n_lines = 0 THEN 'no_detail'
           WHEN abs(diff) <= 0.01 THEN 'matched'
           WHEN abs(diff) <= 100.0 THEN 'rounding'
           WHEN diff > 0 THEN 'header_over'
           ELSE 'header_under'
         END AS match_class,
         diff
  FROM matched
)
SELECT match_class,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(diff AS DECIMAL(27,2))) AS DOUBLE) AS total_diff
FROM classed GROUP BY 1
"""


@register("etl_invoice_reconciliation", oracle=_RECON_ORACLE)
def etl_invoice_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way header/detail reconciliation: per order, the header
    total (o_totalprice) against the gross line total
    Σ extendedprice·(1−discount)·(1+tax), classified into tolerance
    bands — matched (≤1¢), rounding (≤$100), header_over/under
    (material, signed), no_detail (orphan header) — and rolled up per
    class with the signed total discrepancy. The banded-classification
    form is the point: a reconciliation that only answers "equal or
    not" cannot separate FX-rounding noise from a posting error.

    Cross-engine exactness: line totals are decimal-exact sums of
    identical per-row doubles; the per-order diff floor-quantizes to
    CENTS before classification (so a band boundary cannot straddle)
    and the class totals are exact decimal sums of those cents.

    Scale design: one map-side-combined detail rollup at order grain,
    one keyed LEFT join header↔detail (both sides hash-partition on
    the order key — co-partitioned at any scale, broadcastable at
    none), one bounded-class rollup. The classic reconciliation shape:
    nothing wider than the key ever shuffles."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    from trireme_spark.parity import DSCALE, fquant

    detail = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.sum(
            (
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).cast(DSCALE)
        )
        .cast("double")
        .alias("line_total"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    matched = o.join(
        detail, o["o_orderkey"] == detail["okey"], "left"
    ).select(
        fquant(
            F.col("o_totalprice")
            - F.coalesce(F.col("line_total"), F.lit(0.0)),
            2,
        ).alias("diff"),
        F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
    )
    match_class = (
        F.when(F.col("n_lines") == 0, "no_detail")
        .when(F.abs(F.col("diff")) <= 0.01, "matched")
        .when(F.abs(F.col("diff")) <= 100.0, "rounding")
        .when(F.col("diff") > 0, "header_over")
        .otherwise("header_under")
    )
    return (
        matched.select(match_class.alias("match_class"), "diff")
        .groupBy("match_class")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("diff").cast("decimal(27,2)"))
            .cast("double")
            .alias("total_diff"),
        )
    )
