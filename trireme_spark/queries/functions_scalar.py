"""Scalar functions: string / fuzzy / date / math / array / map / JSON —
SURVEY.md §2.8 (f1–f7).

All per-row expressions inside whole-stage codegen. Cross-engine traps
handled here (SURVEY.md §5.3): transcendental math rounds to 8–10 decimals
(libm vs java.lang.Math differ by ulps), ceil/floor cast to BIGINT
explicitly (Spark returns LONG, DuckDB DOUBLE), DuckDB alias differences
noted per oracle (instr→strpos, datediff arg order, pmod→((x%y)+y)%y).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trireme_spark.functions.text import tokenize
from trireme_spark.parity import fquant
from trireme_spark.registry import register
from trireme_spark.sources.io import table

_F1_ORACLE = r"""
SELECT p_partkey,
       concat(p_brand, ':', p_name) AS branded,
       upper(p_name) AS name_upper,
       lower(p_type) AS type_lower,
       substr(p_name, 1, 5) AS name_head,
       length(p_name) AS name_len,
       trim('  ' || p_name || ' ') AS retrimmed,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
       string_split(p_name, ' ')[1] AS first_word,
       regexp_extract(p_brand, 'Brand#(\d+)', 1) AS brand_num,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
       replace(p_type, 'ECONOMY', 'ECO') AS type_short,
       strpos(p_name, 'widget') AS widget_at
FROM part
"""


@register("fn_string", oracle=_F1_ORACLE)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f1 — the core string surface. Oracle aliases: instr→strpos,
    split→string_split (1-indexed), regexp_replace needs the 'g' flag in
    DuckDB (Spark replaces all by default)."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_name")).alias(
            "branded"
        ),
        F.upper("p_name").alias("name_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.length("p_name").alias("name_len"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit(" "))).alias(
            "retrimmed"
        ),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.split("p_name", " ").getItem(0).alias("first_word"),
        F.regexp_extract("p_brand", r"Brand#(\d+)", 1).alias("brand_num"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.replace(
            F.col("p_type"), F.lit("ECONOMY"), F.lit("ECO")
        ).alias("type_short"),
        F.instr("p_name", "widget").alias("widget_at"),
    )


_F2_ORACLE = """
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS edit_dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 4
"""


@register("fn_string_fuzzy", oracle=_F2_ORACLE)
def fn_string_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f2 — Levenshtein similarity pairs, (brand, size)-blocked.

    The equi-conjunct is the blocking key (SURVEY.md §2.3 j5 note):
    per-block quadratic, never global quadratic — the same pattern the
    dedup operators use at scale. Brand alone left ~800-row blocks at
    sf0.1 (8M comparisons); brand+size keeps blocks O(10)."""
    p = table(spark, sf_dir, "part")
    a, b = p.alias("a"), p.alias("b")
    # Banded levenshtein: the threshold arg lets the JVM DP early-exit rows
    # that can't be ≤ 4 (returns -1), and the length-difference conjunct
    # prunes pairs before the DP even starts — both essential once blocks
    # get big. Within the kept band the value equals the exact distance, so
    # the oracle (unbanded levenshtein) still matches.
    lev = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 4)
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (
                F.abs(
                    F.length(F.col("a.p_name"))
                    - F.length(F.col("b.p_name"))
                )
                <= 4
            ),
        )
        .where((lev >= 0) & (lev <= 4))
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            lev.alias("edit_dist"),
        )
    )


_F3_ORACLE = """
SELECT o_orderkey,
       year(o_orderdate) AS yr, month(o_orderdate) AS mo,
       day(o_orderdate) AS dy,
       date_trunc('month', o_orderdate) AS month_start,
       datediff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01')
           AS days_to_98,
       CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus_30,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
       CAST(make_date(2020, month(o_orderdate), 15) AS VARCHAR) AS mid_month
FROM orders
"""


@register("fn_date", oracle=_F3_ORACLE)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f3 — date/time surface. DuckDB arg-order differences (datediff takes
    the part first, start-before-end) are absorbed in the oracle text; DATE
    results output as strings (pandas-bridge trap)."""
    o = table(spark, sf_dir, "orders")
    od = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(od).alias("yr"),
        F.month(od).alias("mo"),
        F.dayofmonth(od).alias("dy"),
        F.date_trunc("month", od).alias("month_start"),
        F.datediff(F.lit("1998-01-01").cast("date"), od.cast("date")).alias(
            "days_to_98"
        ),
        F.date_add(od.cast("date"), 30).cast("string").alias("plus_30"),
        F.last_day(od.cast("date")).cast("string").alias("month_end"),
        F.unix_timestamp(od).alias("epoch_s"),
        F.make_date(F.lit(2020), F.month(od), F.lit(15))
        .cast("string")
        .alias("mid_month"),
    )


_F4_ORACLE = """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice, 1) AS price_r1,
       abs(l_discount - 0.05) AS disc_dev,
       CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
       pow(l_quantity, 2) AS qty_sq,
       round(exp(l_discount), 4) AS exp_disc,
       round(ln(l_extendedprice), 4) AS ln_price,
       round(log10(l_extendedprice), 4) AS log10_price,
       sqrt(l_quantity) AS sqrt_qty,
       CAST(sign(l_discount - 0.05) AS INTEGER) AS disc_sign,
       ((CAST(l_orderkey AS BIGINT) % 7) + 7) % 7 AS key_mod7
FROM lineitem WHERE l_linenumber = 1
"""


@register("fn_math", oracle=_F4_ORACLE)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f4 — math surface. sqrt/abs/round are IEEE-exact cross-engine;
    exp/ln/log10 round to 4 — libm vs java.lang.Math differ by ulps, and at 600k rows a 1-ulp drift straddles a fine rounding grid with near-certainty; a coarse grid makes straddle odds ~1e-5; pmod mirrored as
    ((x%y)+y)%y in the oracle."""
    li = table(spark, sf_dir, "lineitem").where(F.col("l_linenumber") == 1)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil("l_extendedprice").cast("long").alias("price_ceil"),
        F.floor("l_extendedprice").cast("long").alias("price_floor"),
        F.pow("l_quantity", F.lit(2)).alias("qty_sq"),
        F.round(F.exp("l_discount"), 4).alias("exp_disc"),
        F.round(F.log("l_extendedprice"), 4).alias("ln_price"),
        F.round(F.log10("l_extendedprice"), 4).alias("log10_price"),
        F.sqrt("l_quantity").alias("sqrt_qty"),
        # sign cast to int on both sides: Spark signum→DOUBLE,
        # DuckDB sign→TINYINT — an int-vs-float hash mismatch otherwise.
        F.signum(F.col("l_discount") - 0.05).cast("int").alias("disc_sign"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).alias("key_mod7"),
    )


_F5_ORACLE = """
WITH e AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
    FROM embeddings
)
SELECT vec_id, label,
       len(emb) AS dim,
       round(emb[1], 6) AS first_dim,
       round(list_aggregate(emb, 'sum'), 6) AS vec_sum,
       round(list_aggregate(
           list_transform(emb, x -> x * x), 'sum'), 6) AS norm_sq,
       len(list_filter(emb, x -> x > 0)) AS n_positive,
       round(list_aggregate(emb[1:8], 'max'), 6) AS head_max,
       len(list_distinct(list_transform(emb, x -> round(x, 1))))
           AS distinct_rounded
FROM e
"""


@register("fn_array", oracle=_F5_ORACLE)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f5 — higher-order array functions over embeddings (float32 cast to
    double first; both engines then left-fold identically, so sums are
    bit-stable before the defensive round). Explode/posexplode are
    exercised by the text pipeline (l1) and UDTF (x5) keys."""
    e = table(spark, sf_dir, "embeddings")
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = e.select("vec_id", "label", emb.alias("emb"))
    fold_sum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, x: acc + x
    )
    return d.select(
        "vec_id",
        "label",
        F.size("emb").alias("dim"),
        F.round(F.col("emb").getItem(0), 6).alias("first_dim"),
        F.round(fold_sum(F.col("emb")), 6).alias("vec_sum"),
        F.round(
            fold_sum(F.transform(F.col("emb"), lambda x: x * x)), 6
        ).alias("norm_sq"),
        F.size(F.filter(F.col("emb"), lambda x: x > 0)).alias("n_positive"),
        F.round(
            F.array_max(F.slice(F.col("emb"), 1, 8)), 6
        ).alias("head_max"),
        F.size(
            F.array_distinct(
                F.transform(F.col("emb"), lambda x: F.round(x, 1))
            )
        ).alias("distinct_rounded"),
    )


_F6_ORACLE = """
SELECT event_id,
       event_type AS type_val,
       CAST(event_id AS VARCHAR) AS id_val,
       2 AS n_keys,
       'id,type' AS keys_sorted
FROM events
"""


@register("fn_map", oracle=_F6_ORACLE)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f6 — MapType surface: build a map per row, read it back via
    element_at / map_keys. The oracle is the flat equivalent (map output
    itself would hit the pandas-bridge trap; semantics are identical)."""
    ev = table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"),
        F.col("event_type"),
        F.lit("id"),
        F.col("event_id").cast("string"),
    )
    return ev.select(
        "event_id",
        F.element_at(m, "type").alias("type_val"),
        F.element_at(m, "id").alias("id_val"),
        F.size(F.map_keys(m)).alias("n_keys"),
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("keys_sorted"),
    )


_F7_ORACLE = """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INTEGER) AS k_int,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract(props, '$.k') AS INTEGER) * 2 AS k_doubled,
       json_extract_string(props, '$.missing') AS missing_val
FROM events
"""


@register("fn_json", oracle=_F7_ORACLE)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f7 — JSON surface over events.props: ONE parse per row into Spark 4's
    shredded VARIANT (``try_parse_json``), then typed/stringly extraction via
    ``try_variant_get`` — the 100 TB path for multi-field JSON access.

    Opt r14 (guide §4.1 "prefer built-ins", §1.2 per-task work): the former
    shape parsed the string THREE times per row (from_json + 2×
    get_json_object, each a full Jackson pass); a single variant parse feeds
    all four extractions. Measured 0.75 s → ~0.48 s at sf0.1 on local[32];
    hash-identical at sf0.001/0.01/0.1. Semantics note: try_parse_json
    NULLs malformed JSON exactly like from_json PERMISSIVE / get_json_object;
    on a non-integer ``k`` (never generated by the fixture family)
    try_variant_get('int') CASTS like the oracle's
    ``CAST(json_extract(...) AS INTEGER)`` where from_json returned NULL —
    the variant path tracks the oracle's declared semantics at least as
    closely as the old one."""
    ev = table(spark, sf_dir, "events")
    v = F.try_parse_json(F.col("props"))
    k_int = F.try_variant_get(v, "$.k", "int")
    return ev.select(
        "event_id",
        k_int.alias("k_int"),
        F.try_variant_get(v, "$.k", "string").alias("k_str"),
        (k_int * 2).alias("k_doubled"),
        F.try_variant_get(v, "$.missing", "string").alias("missing_val"),
    )


_F8_ORACLE = """
SELECT l_orderkey,
       l_linenumber & 3 AS and3,
       l_linenumber | 8 AS or8,
       xor(l_linenumber, 5) AS xor5,
       CAST(l_linenumber << 2 AS INTEGER) AS shl2,
       CAST(l_linenumber >> 1 AS INTEGER) AS shr1,
       bit_count(CAST(l_orderkey AS BIGINT)) AS popcount
FROM lineitem
"""


@register("fn_bitwise", oracle=_F8_ORACLE)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f8 — bitwise AND/OR/XOR/shifts/popcount (flag fields, bitmap
    bucketing — the primitives LSH banding and SimHash chunking rely on)."""
    li = table(spark, sf_dir, "lineitem")
    ln = F.col("l_linenumber")
    return li.select(
        "l_orderkey",
        ln.bitwiseAND(F.lit(3)).alias("and3"),
        ln.bitwiseOR(F.lit(8)).alias("or8"),
        ln.bitwiseXOR(F.lit(5)).alias("xor5"),
        F.shiftleft(ln, 2).alias("shl2"),
        F.shiftright(ln, 1).alias("shr1"),
        F.bit_count(F.col("l_orderkey").cast("bigint")).alias("popcount"),
    )


_A10_ORACLE = """
SELECT o_orderpriority,
       mode() WITHIN GROUP (ORDER BY o_orderstatus) AS mode_status
FROM orders
GROUP BY o_orderpriority
"""


@register("agg_mode", oracle=_A10_ORACLE)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a10 — statistical mode per group. The fixture's status distribution
    is skewed enough that the mode is unique per group, so Spark's F.mode
    and DuckDB's ordered-set mode agree deterministically."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.mode("o_orderstatus").alias("mode_status")
    )


_A11_ORACLE = """
SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
            WHEN o_totalprice >= 600000.0 THEN 13
            ELSE floor(o_totalprice / 50000.0) + 1 END AS BIGINT) AS bucket,
       COUNT(*) AS n,
       CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
       CAST(MAX(o_totalprice) AS DOUBLE) AS hi
FROM orders
GROUP BY 1
"""


@register("agg_histogram", oracle=_A11_ORACLE)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a11 — fixed-width histogram via width_bucket + keyed count: the
    one-shuffle distributed histogram (vs. numeric_histogram UDAFs that
    buffer per-group)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            F.width_bucket(
                "o_totalprice", F.lit(0.0), F.lit(600000.0), F.lit(12)
            ).alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


_F9_ORACLE = """
SELECT p_partkey,
       md5(p_name) AS name_md5,
       sha256(p_name) AS name_sha256,
       md5(p_brand || '|' || p_type) AS composite_md5
FROM part
"""


@register("fn_hash", oracle=_F9_ORACLE)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f9 — cryptographic digests (content fingerprints for exact dedup /
    cache keys; both engines implement the same standardized functions, so
    these are value-comparable unlike xxhash64)."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.md5("p_name").alias("name_md5"),
        F.sha2(F.col("p_name"), 256).alias("name_sha256"),
        F.md5(
            F.concat_ws("|", F.col("p_brand"), F.col("p_type"))
        ).alias("composite_md5"),
    )


_VARIANT_ORACLE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
       CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_double,
       json_extract_string(props, '$.missing') IS NULL AS missing_is_null
FROM events
"""


@register("fn_variant", oracle=_VARIANT_ORACLE)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType surface: ``parse_json`` → binary variant,
    ``variant_get`` typed extraction, ``try_variant_get`` NULL-on-missing.
    Variant keeps the parsed tree in a compact binary form — repeated
    path extraction skips re-parsing the JSON text (the from_json
    alternative re-parses per access pattern), which is the 100 TB
    argument for it. Oracle = DuckDB JSON path extraction of the same
    scalars."""
    ev = table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_int"),
        F.variant_get(v, "$.k", "double").alias("k_double"),
        F.try_variant_get(v, "$.missing", "int")
        .isNull()
        .alias("missing_is_null"),
    )


_MIXED = (
    "CASE WHEN p_partkey % 2 = 0 THEN upper(p_type) "
    "ELSE lower(p_type) END"
)

_COLLATION_ORACLE = f"""
SELECT CAST(COUNT(DISTINCT {_MIXED}) AS BIGINT) AS n_case_sensitive,
       CAST(COUNT(DISTINCT lower({_MIXED})) AS BIGINT) AS n_case_insensitive,
       CAST(SUM(CASE WHEN {_MIXED} = upper({_MIXED})
                THEN 1 ELSE 0 END) AS BIGINT) AS n_upper_rows
FROM part
"""


@register("fn_collation", oracle=_COLLATION_ORACLE)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation surface: COUNT(DISTINCT) under UTF8_LCASE
    (case-insensitive) vs the default binary collation, over a
    deterministically mixed-case projection of p_type. The oracle mirrors
    the case-insensitive semantics with lower() — collation-aware
    grouping keys themselves are never emitted (the surviving
    representative under a ci collation is engine-dependent)."""
    p = table(spark, sf_dir, "part")
    mixed = F.when(
        F.col("p_partkey") % 2 == 0, F.upper("p_type")
    ).otherwise(F.lower("p_type"))
    base = p.select(
        mixed.alias("mixed"), F.upper(mixed).alias("mixed_up")
    )
    return base.agg(
        F.countDistinct("mixed").alias("n_case_sensitive"),
        F.countDistinct(F.collate("mixed", "UTF8_LCASE")).alias(
            "n_case_insensitive"
        ),
        F.sum(
            F.when(F.col("mixed") == F.col("mixed_up"), 1).otherwise(0)
        ).alias("n_upper_rows"),
    )


_URL_ORACLE = """
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.com/docs/' || doc_id
             || '?lang=' || lang || '#top' AS url
  FROM documents
)
SELECT doc_id, url,
       regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
       regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
       regexp_extract(url, '\\?([^#]*)', 1) AS query,
       regexp_extract(url, 'lang=([^&#]*)', 1) AS lang_param
FROM u
"""


@register("fn_url_parse", oracle=_URL_ORACLE)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing surface: ``parse_url`` HOST/PATH/QUERY plus keyed
    query-parameter extraction, over deterministic URLs synthesized from
    document metadata (the fixture has no URL column). The oracle mirrors
    with anchored regexes — DuckDB has no parse_url — which also pins the
    exact semantics Spark's extractor implements."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("#top"),
    )
    base = d.select("doc_id", url.alias("url"))
    return base.select(
        "doc_id",
        "url",
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
        F.parse_url(F.col("url"), F.lit("QUERY")).alias("query"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("lang")).alias(
            "lang_param"
        ),
    )


_UUID_ORACLE = """
WITH h AS (
  SELECT doc_id, md5('trireme:doc:' || CAST(doc_id AS VARCHAR) || ':' ||
                     CAST(n_chars AS VARCHAR)) AS hx
  FROM documents
)
SELECT doc_id,
       substr(hx, 1, 8) || '-' || substr(hx, 9, 4) || '-' ||
       substr(hx, 13, 4) || '-' || substr(hx, 17, 4) || '-' ||
       substr(hx, 21, 12) AS stable_id
FROM h
"""


@register("fn_uuid_deterministic", oracle=_UUID_ORACLE)
def fn_uuid_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-derived ID minting (UUIDv5-style: hash a
    namespaced key, format as UUID) — how a corpus build assigns STABLE
    document ids across re-runs and shards, instead of ``uuid()``'s
    per-run randomness which breaks incremental joins and dedup ledgers.

    Pure codegen'd projection (md5 is bit-identical cross-engine —
    verified by the fingerprint keys); no shuffle, re-runnable on any
    subset with identical output."""
    d = table(spark, sf_dir, "documents")
    hx = F.md5(
        F.concat(
            F.lit("trireme:doc:"),
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("n_chars").cast("string"),
        )
    )
    base = d.select("doc_id", hx.alias("hx"))
    uid = F.concat_ws(
        "-",
        F.substring("hx", 1, 8),
        F.substring("hx", 9, 4),
        F.substring("hx", 13, 4),
        F.substring("hx", 17, 4),
        F.substring("hx", 21, 12),
    )
    return base.select("doc_id", uid.alias("stable_id"))


# ---------------------------------------------------------------------------
# fn_aes_roundtrip — column-level encryption surface
# ---------------------------------------------------------------------------

_AES_ORACLE = """
SELECT doc_id,
       text AS decrypted,
       CAST((strlen(text) // 16 + 1) * 16 AS BIGINT) AS cipher_len
FROM documents
"""


@register("fn_aes_roundtrip", oracle=_AES_ORACLE)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption: aes_encrypt → aes_decrypt roundtrip over
    document text (the at-rest PII-column pattern — encrypt on ingest,
    decrypt inside the governed query path; complements text_pii_redact,
    which destroys the value instead of protecting it).

    ECB + PKCS padding makes the ciphertext a deterministic function of
    (plaintext, key) — required here so the key is value-checkable (GCM
    salts a random IV per row; its roundtrip still passes but its
    ciphertext bytes are unhashable cross-run; the docstring trade:
    real deployments want GCM, determinism-dependent tests want ECB).
    The oracle can't run AES, so it pins the roundtrip IDENTITY
    (decrypted == source text, value-hashed) plus the PKCS#5 length
    contract (padded to the next 16-byte boundary: octet_len//16*16+16)
    — both would break on any codec/charset drift. Everything is
    codegen'd JVM crypto: one projection, no shuffle, no Python."""
    key = F.lit("0123456789abcdef")  # 16-byte AES-128 key, fixture-fixed
    d = table(spark, sf_dir, "documents")
    enc = F.aes_encrypt(F.col("text"), key, F.lit("ECB"), F.lit("PKCS"))
    return d.select(
        "doc_id",
        F.aes_decrypt(
            F.unbase64(F.base64(enc)), key, F.lit("ECB"), F.lit("PKCS")
        ).cast("string").alias("decrypted"),
        F.length(enc).cast("long").alias("cipher_len"),
    )


# ---------------------------------------------------------------------------
# fn_interval_arith — ANSI interval-type arithmetic
# ---------------------------------------------------------------------------

_INTERVAL_ORACLE = """
SELECT o_orderkey,
       o_orderdate + INTERVAL 18 MONTH AS plus_ym,
       o_orderdate + INTERVAL 3 DAY + INTERVAL '12:30:15' AS plus_dts,
       o_orderdate - INTERVAL 45 MINUTE AS minus_min,
       o_orderdate + (o_orderkey % 7) * INTERVAL 1 MONTH AS plus_var_m
FROM orders
"""


@register("fn_interval_arith", oracle=_INTERVAL_ORACLE)
def fn_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI interval-type arithmetic: year-month and day-time INTERVAL
    literals added to timestamps, plus a column-driven month offset —
    the SLA/billing-window/retention-cutoff date algebra (f3 covers the
    date FUNCTIONS; this key covers the interval TYPE surface Spark 4
    treats as first-class ANSI intervals).

    The month-addition end-of-month clamp (Jan 31 + 1 month = Feb 28)
    follows the same rule in both engines, which the variable-offset
    column exercises across the whole fixture; day-time intervals are
    exact µs arithmetic. Everything is a codegen'd projection — no
    shuffle, no UDF."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr(
            "o_orderdate + INTERVAL '1-6' YEAR TO MONTH"
        ).alias("plus_ym"),
        F.expr(
            "o_orderdate + INTERVAL '3 12:30:15' DAY TO SECOND"
        ).alias("plus_dts"),
        F.expr(
            "o_orderdate - INTERVAL '45' MINUTE"
        ).alias("minus_min"),
        F.expr(
            "o_orderdate + make_ym_interval(0, o_orderkey % 7)"
        ).alias("plus_var_m"),
    )


# ---------------------------------------------------------------------------
# fn_xml_roundtrip — XML serialize/parse surface (Spark 4 native XML)
# ---------------------------------------------------------------------------

_XML_ORACLE = """
SELECT doc_id, source, n_chars, trim(substr(text, 1, 40)) AS t40
FROM documents
"""


@register("fn_xml_roundtrip", oracle=_XML_ORACLE)
def fn_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML surface: struct → to_xml → from_xml roundtrip (Spark 4's
    native XML support — the enterprise-integration format the
    reference's ecosystem, Solr included, still speaks). The oracle
    can't parse XML, so it pins the roundtrip IDENTITY: every field
    must survive serialize→escape→parse→unescape bit-exactly, which
    any entity-escaping, charset, or numeric-coercion drift breaks.

    Field values trim at the edges because XML parsers normalize
    leading/trailing whitespace in simple content (trimmed on BOTH
    sides, so the identity is over the parser-stable value — the
    documented contract, not a fudge). Codegen'd projection; the XML
    machinery runs JVM-side, no UDF, no shuffle."""
    d = table(spark, sf_dir, "documents")
    rec = F.struct(
        F.col("doc_id"),
        F.col("source"),
        F.col("n_chars"),
        F.trim(F.substring("text", 1, 40)).alias("t40"),
    )
    xml = F.to_xml(rec, {"rowTag": "doc"})
    parsed = F.from_xml(
        xml,
        "doc_id BIGINT, source STRING, n_chars BIGINT, t40 STRING",
        {"rowTag": "doc"},
    )
    return d.select(parsed.alias("p")).select(
        F.col("p.doc_id").alias("doc_id"),
        F.col("p.source").alias("source"),
        F.col("p.n_chars").alias("n_chars"),
        F.col("p.t40").alias("t40"),
    )


# ---------------------------------------------------------------------------
# fn_binary_encoding — base64 / hex / byte-level codec surface
# ---------------------------------------------------------------------------

_BINENC_ORACLE = """
SELECT doc_id,
       base64(encode(substr(text, 1, 24))) AS b64,
       lower(hex(encode(substr(text, 1, 12)))) AS hx,
       decode(from_base64(base64(encode(substr(text, 1, 24))))) AS b64_rt,
       decode(from_hex(hex(encode(substr(text, 1, 12))))) AS hex_rt,
       CAST(ascii(substr(text, 1, 1)) AS INTEGER) AS first_byte
FROM documents
"""


@register("fn_binary_encoding", oracle=_BINENC_ORACLE)
def fn_binary_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary codec surface: base64 and hex encodings of UTF-8 bytes
    with full decode roundtrips, plus byte-level inspection (ascii) —
    the wire-format plumbing every external-system bridge needs
    (payloads in JSON envelopes, digest columns, debugging opaque
    blobs). fn_hash covers digests; this key covers reversible
    TRANSPORT encodings, value-checked both directions.

    All codegen'd projections; the encode('UTF-8') leg pins the
    charset so multi-byte text can't silently diverge between the
    engines' default encodings."""
    d = table(spark, sf_dir, "documents")
    t24 = F.encode(F.substring("text", 1, 24), "UTF-8")
    t12 = F.encode(F.substring("text", 1, 12), "UTF-8")
    return d.select(
        "doc_id",
        F.base64(t24).alias("b64"),
        F.lower(F.hex(t12)).alias("hx"),
        F.unbase64(F.base64(t24)).cast("string").alias("b64_rt"),
        F.decode(F.unhex(F.hex(t12)), "UTF-8").alias("hex_rt"),
        F.ascii(F.substring("text", 1, 1)).alias("first_byte"),
    )


# ---------------------------------------------------------------------------
# fn_regexp_extended — regexp_count / instr / substr / extract_all
# ---------------------------------------------------------------------------

_REGEXP_EXT_ORACLE = """
SELECT p_partkey,
       CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS BIGINT)
           AS vowel_runs,
       CASE WHEN regexp_extract(p_name, '[aeiou]{2,}') = ''
            THEN NULL
            ELSE regexp_extract(p_name, '[aeiou]{2,}') END
           AS first_double_vowel,
       COALESCE(
           array_to_string(regexp_extract_all(p_name, '[a-z]{5,}'), '|'),
           '') AS long_words,
       CAST(strpos(p_name, ' ') AS BIGINT) AS first_space_at
FROM part
"""


@register("fn_regexp_extended", oracle=_REGEXP_EXT_ORACLE)
def fn_regexp_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended regexp surface (Spark 3.5+): regexp_count,
    regexp_substr, regexp_extract_all — the pattern-mining trio beyond
    f1's extract/replace (how many matches, the first match, every
    match), the workhorses of log parsing and token mining.

    Parity notes pinned by the oracle: regexp_substr returns NULL on
    no-match where DuckDB's regexp_extract returns '' (bridged with a
    CASE); extract_all arrays compare via a joined string so the cell
    stays scalar for the driver canonicalizer (the agg_collect/pca
    lesson). All codegen'd projections in the Java∩RE2-safe subset."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_count("p_name", F.lit("[aeiou]+")).cast("long").alias(
            "vowel_runs"
        ),
        F.regexp_substr("p_name", F.lit("[aeiou]{2,}")).alias(
            "first_double_vowel"
        ),
        F.array_join(
            # idx=0 = whole match: Spark defaults to group 1 and throws
            # on group-free patterns (DuckDB defaults to 0)
            F.regexp_extract_all("p_name", F.lit("[a-z]{5,}"), 0), "|"
        ).alias("long_words"),
        F.instr("p_name", " ").cast("long").alias("first_space_at"),
    )


# ---------------------------------------------------------------------------
# fn_unicode_lengths — char vs byte semantics on multibyte text
# ---------------------------------------------------------------------------

_UNICODE_ORACLE = """
WITH u AS (
  SELECT doc_id,
         substr(text, 1, 10) || ' café 日本 🚀' AS s
  FROM documents
)
SELECT doc_id,
       length(s) AS n_chars,
       strlen(s) AS n_bytes,
       upper(s) AS up,
       reverse(s) AS rev,
       substr(s, length(s) - 4, 5) AS tail5
FROM u
"""


@register("fn_unicode_lengths", oracle=_UNICODE_ORACLE)
def fn_unicode_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode semantics under multibyte text (planted accents, CJK,
    and an astral-plane emoji): length counts CODE POINTS, byte length
    counts UTF-8 bytes, and upper/reverse/substr must all operate on
    code points — the i18n contract a text pipeline breaks the day it
    meets non-ASCII data if anything in the stack is byte-indexed
    (JVM strings are UTF-16: the emoji is a surrogate PAIR there, so a
    code-unit-based length would read 1 high — this key would catch
    exactly that drift).

    Codegen'd projections; oracle aliases: DuckDB length=code points,
    strlen=bytes, vs Spark length/octet_length."""
    d = table(spark, sf_dir, "documents")
    s = F.concat(F.substring("text", 1, 10), F.lit(" café 日本 🚀"))
    u = d.select("doc_id", s.alias("s"))
    return u.select(
        "doc_id",
        F.length("s").cast("long").alias("n_chars"),
        F.octet_length("s").cast("long").alias("n_bytes"),
        F.upper("s").alias("up"),
        F.reverse("s").alias("rev"),
        F.substring(
            F.col("s"), F.length("s") - 4, F.lit(5)
        ).alias("tail5"),
    )


# ---------------------------------------------------------------------------
# fn_struct_manipulate — withField / dropFields nested-struct surgery
# ---------------------------------------------------------------------------

_STRUCT_ORACLE = """
SELECT c_custkey,
       '{"name":"' || c_name || '","seg":"' || lower(c_mktsegment)
         || '","bal_band":'
         || CAST(CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS VARCHAR)
         || '}' AS profile_json,
       c_name AS name, lower(c_mktsegment) AS seg,
       CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band
FROM customer
"""


@register("fn_struct_manipulate", oracle=_STRUCT_ORACLE)
def fn_struct_manipulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct surgery — ``withField`` (add AND overwrite-in-
    place) and ``dropFields``: the column-algebra that evolves nested
    schemas WITHOUT exploding and rebuilding them, the everyday verb of
    document/event pipelines with deep payloads.

    The contract pinned by the oracle's hand-built JSON mirror:
    overwriting ``seg`` keeps its ORIGINAL position, a new field
    appends at the END, and the dropped ``bal`` is absent — i.e. field
    ORDER semantics, which ``to_json`` serializes and the value hash
    therefore locks. Scalar leaves ride alongside for the
    canonicalizer (array/struct cells never reach the driver — the
    agg_collect doctrine).

    Scale: pure codegen'd projections; at 100 TB struct surgery in
    place means parquet reads only the touched subfields (nested
    schema pruning), vs a rebuild forcing the full struct read."""
    c = table(spark, sf_dir, "customer")
    profile = F.struct(
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").alias("bal"),
    )
    evolved = (
        profile.withField("seg", F.lower(F.col("c_mktsegment")))
        .withField(
            "bal_band", F.floor(F.col("c_acctbal") / 1000).cast("long")
        )
        .dropFields("bal")
    )
    return c.select(
        "c_custkey",
        F.to_json(evolved).alias("profile_json"),
        evolved.getField("name").alias("name"),
        evolved.getField("seg").alias("seg"),
        evolved.getField("bal_band").alias("bal_band"),
    )


# ---------------------------------------------------------------------------
# fn_rounding_semantics — HALF_UP vs HALF_EVEN, negative scales, edges
# ---------------------------------------------------------------------------

_ROUNDING_ORACLE = """
SELECT o_orderkey,
       x,
       COALESCE(NULLIF(round(CAST(x AS DOUBLE), 0), 0.0), 0.0) AS half_up,
       COALESCE(NULLIF(round_even(CAST(x AS DOUBLE), 0), 0.0), 0.0)
         AS half_even,
       round(CAST(o_totalprice AS DOUBLE), -2) AS to_hundreds,
       COALESCE(NULLIF(ceil(CAST(x AS DOUBLE)), 0.0), 0.0) AS ceil_x,
       COALESCE(NULLIF(floor(CAST(x AS DOUBLE)), 0.0), 0.0) AS floor_x
FROM (SELECT o_orderkey, o_totalprice,
             (o_orderkey % 7) - 3 + 0.5 AS x
      FROM orders)
"""


@register("fn_rounding_semantics", oracle=_ROUNDING_ORACLE)
def fn_rounding_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rounding-mode semantics pinned cross-engine on EXACT half
    values ((k − 3) + 0.5 is binary-exact, so every row sits ON the
    boundary): Spark ``round`` = HALF_UP (away from zero) ↔ DuckDB
    ``round``; Spark ``bround`` = HALF_EVEN (banker's) ↔ DuckDB
    ``round_even`` — plus negative-scale rounding (to hundreds) and
    ceil/floor on negatives (toward/away from −∞, NOT truncation).

    This key exists because the rest of the registry deliberately
    AVOIDS round-half boundaries (the floor-quantization doctrine);
    here the boundary IS the subject, and the mapping table above is
    the documented contract for anyone porting financial rounding
    onto the engine. All codegen'd projections.

    Finding while pinning: HALF_EVEN(−0.5) and CEIL(−0.5) produce
    NEGATIVE ZERO, whose repr differs cross-engine even though
    −0.0 == 0.0 — normalized via nullif (a literal `+ 0.0` gets
    constant-folded away)."""
    o = table(spark, sf_dir, "orders")
    x = (F.col("o_orderkey") % 7 - 3).cast("double") + 0.5

    def nz(c):
        # −0.0 → +0.0: reprs differ cross-engine even though == holds;
        # nullif survives constant folding where `+ 0.0` would not
        return F.coalesce(F.nullif(c, F.lit(0.0)), F.lit(0.0))

    return o.select(
        "o_orderkey",
        x.alias("x"),
        nz(F.round(x, 0)).alias("half_up"),
        nz(F.bround(x, 0)).alias("half_even"),
        F.round(F.col("o_totalprice").cast("double"), -2).alias(
            "to_hundreds"
        ),
        nz(F.ceil(x).cast("double")).alias("ceil_x"),
        nz(F.floor(x).cast("double")).alias("floor_x"),
    )


# ---------------------------------------------------------------------------
# fn_timezone_convert — instant↔wall-time conversion across a DST boundary
# ---------------------------------------------------------------------------

_TZ_ORACLE = """
SELECT event_id,
       CAST(date_trunc('second',
            timezone('America/New_York', ts AT TIME ZONE 'UTC'))
            AS VARCHAR) AS ny_winter,
       CAST(date_trunc('second',
            timezone('America/New_York',
                     (ts + INTERVAL 6 MONTHS) AT TIME ZONE 'UTC'))
            AS VARCHAR) AS ny_summer,
       CAST(date_trunc('second',
            timezone('Asia/Kolkata', ts AT TIME ZONE 'UTC'))
            AS VARCHAR) AS kolkata
FROM events
"""


@register("fn_timezone_convert", oracle=_TZ_ORACLE)
def fn_timezone_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone conversion — UTC instants rendered as WALL TIME in
    named IANA zones, across a DST boundary: the January fixture lands
    in EST (UTC−5), the same instants shifted six months land in EDT
    (UTC−4), so a hardcoded-offset implementation (the classic bug)
    fails half the rows; Asia/Kolkata adds the half-hour-offset case
    (UTC+5:30) that integer-hour assumptions break on.

    Cross-engine contract: Spark ``from_utc_timestamp`` ↔ DuckDB
    ``timezone(zone, ts AT TIME ZONE 'UTC')`` — both resolve through
    the IANA tzdb, and the hash proves the two engines' tz databases
    agree on these zones' 2024 rules. Wall times ship as strings (the
    date doctrine: naive-timestamp cells compare differently per
    pandas dtype). Codegen'd projections, no shuffle."""
    ev = table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    return ev.select(
        "event_id",
        F.date_format(
            F.from_utc_timestamp(ts, "America/New_York"),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("ny_winter"),
        F.date_format(
            F.from_utc_timestamp(
                ts + F.expr("INTERVAL 6 MONTHS"), "America/New_York"
            ),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("ny_summer"),
        F.date_format(
            F.from_utc_timestamp(ts, "Asia/Kolkata"),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("kolkata"),
    )


# ---------------------------------------------------------------------------
# fn_json_flatten_nested — deep-nested JSON ingest → relational flatten
# ---------------------------------------------------------------------------

_JSON_NEST_ORACLE = """
SELECT o.o_orderkey, c.c_mktsegment, l.l_linenumber, l.l_extendedprice
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey < 2000
"""


@register("fn_json_flatten_nested", oracle=_JSON_NEST_ORACLE)
def fn_json_flatten_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep-nested JSON round trip: each order serializes to a document
    {order_id, customer:{segment}, items:[{line, price}…]} (struct →
    array-of-struct nesting, the shape event buses and document APIs
    actually deliver), then the INGEST side parses with an explicit
    nested schema and flattens — explode the items array, reach
    through the struct — back to relational rows. The oracle computes
    the same rows straight from the tables, so the check proves the
    ENTIRE serialize→parse→flatten loop loses nothing (a schema drift,
    a dropped array element, or a misread nested field all change the
    hash).

    Scale design: serialization is to_json over a per-order collect
    rolled up in ONE keyed agg (items sort in-row by line number for
    determinism); parsing is codegen'd from_json with an explicit
    schema — never schema inference, which at 100 TB means a second
    full scan; the flatten is explode + struct field access, all
    columnar. The items array is basket-bounded (the market-basket
    guarantee), so no row outgrows executor memory."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    c = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")
    items = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("line"),
                    F.col("l_extendedprice").alias("price"),
                )
            )
        ).alias("items")
    )
    docs = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(items, o["o_orderkey"] == items["l_orderkey"])
        .select(
            F.to_json(
                F.struct(
                    F.col("o_orderkey").alias("order_id"),
                    F.struct(
                        F.col("c_mktsegment").alias("segment")
                    ).alias("customer"),
                    F.col("items"),
                )
            ).alias("payload")
        )
    )
    schema = (
        "order_id long, customer struct<segment:string>, "
        "items array<struct<line:int, price:double>>"
    )
    parsed = docs.select(
        F.from_json("payload", schema).alias("doc")
    )
    return parsed.select(
        F.col("doc.order_id").alias("o_orderkey"),
        F.col("doc.customer.segment").alias("c_mktsegment"),
        F.explode("doc.items").alias("item"),
    ).select(
        "o_orderkey",
        "c_mktsegment",
        F.col("item.line").alias("l_linenumber"),
        F.col("item.price").alias("l_extendedprice"),
    )


# ---------------------------------------------------------------------------
# fn_mask_builtin — data-masking function surface
# ---------------------------------------------------------------------------

_MASK_ORACLE = """
WITH c AS (
  SELECT c_custkey, c_name,
         '+' || (10 + c_nationkey) || '-'
           || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
           || '-555' AS c_phone
  FROM customer
)
SELECT c_custkey,
       regexp_replace(regexp_replace(regexp_replace(
         c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
         '[0-9]', 'n', 'g') AS name_masked,
       regexp_replace(c_phone, '[0-9]', '*', 'g') AS phone_digits_hidden,
       substr(c_phone, 1, 3)
         || regexp_replace(substr(c_phone, 4, 100), '[0-9]', '*', 'g')
         AS phone_partial
FROM c
"""


@register("fn_mask_builtin", oracle=_MASK_ORACLE)
def fn_mask_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mask()`` (Spark 3.4+) — the built-in data-masking projection:
    uppercase→X, lowercase→x, digits→n, punctuation preserved — plus
    the digit-only and PARTIAL-mask variants (country code visible,
    subscriber digits hidden) that real PII policies actually ship.
    Complements the governance keys: etl_row_column_security masks by
    REWRITING expressions per policy; this is the single-function form
    column masks compile down to. The oracle hand-builds the identical
    character-class rewrite, pinning mask()'s exact semantics (which
    characters count as "upper/lower/digit", punctuation passthrough).

    Codegen'd projections, zero shuffle; masking at SELECT time means
    no unmasked intermediate ever materializes."""
    c = table(spark, sf_dir, "customer").withColumn(
        "c_phone",  # planted: the fixture has no phone column
        F.concat(
            F.lit("+"),
            (10 + F.col("c_nationkey")).cast("string"),
            F.lit("-"),
            F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
            F.lit("-555"),
        ),
    )
    return c.select(
        "c_custkey",
        F.mask("c_name").alias("name_masked"),
        # NULL char args mean KEEP (the SQL-form contract); Python None
        # would mean "use the default replacement" — pass lit(NULL)
        F.mask(
            F.col("c_phone"),
            F.lit(None).cast("string"),
            F.lit(None).cast("string"),
            F.lit("*"),
            F.lit(None).cast("string"),
        ).alias("phone_digits_hidden"),
        F.concat(
            F.substring("c_phone", 1, 3),
            F.mask(
                F.substring("c_phone", 4, 100),
                F.lit(None).cast("string"),
                F.lit(None).cast("string"),
                F.lit("*"),
                F.lit(None).cast("string"),
            ),
        ).alias("phone_partial"),
    )


# ---------------------------------------------------------------------------
# fn_explode_outer_semantics — generator null/empty contracts
# ---------------------------------------------------------------------------

_EXPL_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN []
              WHEN doc_id % 3 = 1 THEN NULL
              ELSE string_split_regex(lower(text), '\\s+')[1:3]
         END AS arr
  FROM documents
)
SELECT 'inner' AS mode, doc_id, u.tok, u.pos
FROM d, LATERAL (
  SELECT unnest(arr) AS tok,
         generate_subscripts(arr, 1) - 1 AS pos
) u
UNION ALL
SELECT 'outer', doc_id,
       CASE WHEN len(COALESCE(arr, [])) = 0 THEN NULL ELSE u2.tok END,
       CASE WHEN len(COALESCE(arr, [])) = 0 THEN NULL ELSE u2.pos END
FROM d LEFT JOIN LATERAL (
  SELECT unnest(arr) AS tok,
         generate_subscripts(arr, 1) - 1 AS pos
) u2 ON TRUE
"""


@register("fn_explode_outer_semantics", oracle=_EXPL_ORACLE)
def fn_explode_outer_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator NULL/EMPTY contracts — the silent-row-loss trap:
    ``explode`` DROPS rows whose array is empty OR NULL (an inner
    lateral), ``explode_outer`` keeps them with NULL element/position
    (a left lateral). One third of the fixture gets an empty array and
    one third NULL (planted), so both loss modes are value-checked —
    pipelines that tokenize-then-explode lose every empty document
    exactly this way, which is why the corpus keys filter AFTER outer
    semantics or count docs before exploding.

    posexplode's 0-based position rides along (DuckDB's
    generate_subscripts is 1-based — bridged in the oracle).
    Codegen'd generators, no shuffle."""
    d = table(spark, sf_dir, "documents")
    arr = (
        F.when(F.col("doc_id") % 3 == 0, F.array().cast("array<string>"))
        .when(F.col("doc_id") % 3 == 1, F.lit(None).cast("array<string>"))
        .otherwise(F.slice(tokenize("text"), 1, 3))
    )
    base = d.select("doc_id", arr.alias("arr"))
    inner = base.select(
        F.lit("inner").alias("mode"),
        "doc_id",
        F.posexplode("arr").alias("pos0", "tok"),
    ).select("mode", "doc_id", "tok", F.col("pos0").cast("long").alias("pos"))
    outer = base.select(
        F.lit("outer").alias("mode"),
        "doc_id",
        F.posexplode_outer("arr").alias("pos0", "tok"),
    ).select("mode", "doc_id", "tok", F.col("pos0").cast("long").alias("pos"))
    return inner.unionByName(outer)


# ---------------------------------------------------------------------------
# fn_datetime_format_patterns — calendar rendering + ISO week parity
# ---------------------------------------------------------------------------

_DTFMT_ORACLE = """
SELECT o_orderkey,
       strftime(o_orderdate, '%A') AS weekday_name,
       strftime(o_orderdate, '%B') AS month_name,
       CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
       CAST(dayofyear(o_orderdate) AS INTEGER) AS day_of_year,
       CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
       strftime(o_orderdate, '%Y-%m') AS ym
FROM orders
"""


@register("fn_datetime_format_patterns", oracle=_DTFMT_ORACLE)
def fn_datetime_format_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar RENDERING surface — weekday/month names, ISO week
    number, day-of-year, quarter, year-month buckets: the report-label
    layer where cross-engine calendars classically diverge (US vs ISO
    week numbering is the notorious one — both engines here implement
    ISO-8601 weekofyear, which the hash proves across 15 000 dates
    spanning year boundaries, where week 52/53↔1 disagreements live;
    names are locale-default English both sides — a deployment pinning
    another locale owns that config explicitly).

    Codegen'd projections, no shuffle; the f3 date-ARITHMETIC surface's
    rendering twin."""
    o = table(spark, sf_dir, "orders")
    od = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(od, "EEEE").alias("weekday_name"),
        F.date_format(od, "MMMM").alias("month_name"),
        F.weekofyear(od).alias("iso_week"),
        F.dayofyear(od).alias("day_of_year"),
        F.quarter(od).alias("qtr"),
        F.date_format(od, "yyyy-MM").alias("ym"),
    )


# ---------------------------------------------------------------------------
# fn_approx_topk — approx_top_k sketch aggregate (Spark 4 surface)
# ---------------------------------------------------------------------------

_ATOPK_ORACLE = """
SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS cnt
FROM events GROUP BY event_type
"""


@register("fn_approx_topk", oracle=_ATOPK_ORACLE)
def fn_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_top_k`` (Spark 4's built-in frequent-items sketch
    aggregate — the engine-native sibling of the hand-rolled
    count-min key agg_cms_heavy_hitters): top event types with
    approximate counts in ONE sketch aggregation, no full groupBy at
    the reducer.

    Value-checked EXACTLY: the domain (5 event types) sits far inside
    the sketch's default 10 000-item capacity, where the sketch
    degenerates to exact counting — so the oracle is the plain GROUP
    BY, and k=10 > |domain| means no tie-sensitive cut. (At real
    cardinalities the sketch is approximate by design; this key pins
    the API surface and the exact-regime contract.) The struct-array
    result explodes to scalar rows for the driver canonicalizer
    (agg_collect lesson)."""
    ev = table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("trireme_events_atopk")
    return spark.sql(
        """
        SELECT t.item AS item, t.count AS cnt
        FROM (
          SELECT explode(approx_top_k(event_type, 10)) AS t
          FROM trireme_events_atopk
        )
        """
    )


# ---------------------------------------------------------------------------
# fn_business_days — weekend-aware date arithmetic (NETWORKDAYS)
# ---------------------------------------------------------------------------

# Business days between d1 <= d2, Mon-Fri, inclusive of both endpoints:
# full weeks contribute 5; the remainder counts non-weekend offsets from
# d1's weekday. Pure integer algebra -> bit-identical cross-engine.

_BUSDAYS_ORACLE = """
WITH pairs AS (
  SELECT l_orderkey, l_linenumber,
         CAST(o_orderdate AS DATE) AS d1,
         CAST(l_shipdate AS DATE) AS d2
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_orderkey % 10 = 0
),
c AS (
  SELECT l_orderkey, l_linenumber, d1, d2,
         date_diff('day', d1, d2) AS span,
         least(d1, d2) AS lo,
         date_diff('day', least(d1, d2), greatest(d1, d2)) AS aspan,
         CASE WHEN d2 >= d1 THEN 1 ELSE -1 END AS sgn
  FROM pairs
),
w AS (
  SELECT *, ((dayofweek(lo) + 6) % 7) AS w1 FROM c
)
SELECT l_orderkey, l_linenumber,
       CAST(d1 AS VARCHAR) AS order_day, CAST(d2 AS VARCHAR) AS ship_day,
       CAST(span AS BIGINT) AS calendar_days,
       CAST(sgn * (((aspan + 1) // 7) * 5
            + len(list_filter(range((aspan + 1) % 7),
                  i -> (w1 + i) % 7 < 5))) AS BIGINT) AS business_days
FROM w
"""


@register("fn_business_days", oracle=_BUSDAYS_ORACLE)
def fn_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NETWORKDAYS-style business-day arithmetic: Mon-Fri days between
    order and ship date, inclusive — the date verb every SLA/lead-time
    report needs (calendar-day lags overstate weekend-spanning spans by
    up to 2/7). Identity: full weeks x 5 + the remainder's non-weekend
    offsets from the start weekday — pure integer algebra, no calendar
    table, no UDF (a holiday calendar would broadcast-join into the
    same expression as an exclusion count).

    Scale design: codegen'd per-row expression after one equi-join;
    the remainder fold is over at most 6 elements."""
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 10 == 0
    )
    o = table(spark, sf_dir, "orders")
    pairs = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("o_orderdate").cast("date").alias("d1"),
        F.col("l_shipdate").cast("date").alias("d2"),
    )
    span = F.datediff(F.col("d2"), F.col("d1"))
    # the fixture's synthetic dates are NOT ordered (ship can precede
    # order) — compute over the ordered interval and sign the result,
    # Excel NETWORKDAYS-style; this also keeps every mod/div on
    # NON-NEGATIVE operands, where Spark and DuckDB agree (they split
    # on negative % and integer-division rounding)
    lo = F.least("d1", "d2")
    aspan = F.datediff(F.greatest("d1", "d2"), lo)
    sgn = F.when(F.col("d2") >= F.col("d1"), 1).otherwise(-1)
    # Monday=0 ... Sunday=6 (Spark dayofweek: Sunday=1)
    w1 = (F.dayofweek(lo) + 5) % 7
    rem = (aspan + 1) % 7
    # sequence(0, -1) is DESCENDING in Spark, not empty — guard rem = 0
    rem_days = F.when(rem == 0, F.lit(0)).otherwise(
        F.size(
            F.filter(
                F.sequence(F.lit(0), rem - 1),
                lambda i: (w1 + i) % 7 < 5,
            )
        )
    )
    busdays = sgn * (((aspan + 1) / 7).cast("long") * 5 + rem_days)
    return pairs.select(
        "l_orderkey",
        "l_linenumber",
        F.col("d1").cast("string").alias("order_day"),
        F.col("d2").cast("string").alias("ship_day"),
        span.cast("long").alias("calendar_days"),
        busdays.cast("long").alias("business_days"),
    )


# ---------------------------------------------------------------------------
# fn_luhn_checksum — Luhn mod-10 validation (planted account numbers)
# ---------------------------------------------------------------------------

_LUHN_ORACLE = """
WITH acct AS (
  SELECT c_custkey,
         lpad(CAST(c_custkey * 52361 + 40000000000000 AS VARCHAR),
              15, '0') AS body
  FROM customer WHERE c_custkey % 25 = 0
),
digits AS (
  SELECT c_custkey, body,
         list_transform(range(15), i ->
             CAST(substr(body, 15 - CAST(i AS INT), 1) AS INT)) AS ds
  FROM acct
),
s AS (
  SELECT c_custkey, body,
         CAST(list_sum(list_transform(range(15), i ->
             CASE WHEN i % 2 = 0
                  THEN CASE WHEN ds[CAST(i AS INT) + 1] * 2 > 9
                            THEN ds[CAST(i AS INT) + 1] * 2 - 9
                            ELSE ds[CAST(i AS INT) + 1] * 2 END
                  ELSE ds[CAST(i AS INT) + 1] END)) AS BIGINT) AS tot
  FROM digits
)
SELECT c_custkey,
       body || CAST((10 - tot % 10) % 10 AS VARCHAR) AS account_number,
       CAST((10 - tot % 10) % 10 AS BIGINT) AS check_digit,
       TRUE AS luhn_valid
FROM s
"""


@register("fn_luhn_checksum", oracle=_LUHN_ORACLE)
def fn_luhn_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn (mod-10) CHECK-DIGIT generation over planted 15-digit
    account bodies — the checksum behind card/IMEI/account validation,
    and the data-quality verb an ingest pipeline runs to reject
    fat-fingered identifiers before they join anything. Digits double
    from the rightmost position, >9 folds by −9, check digit
    completes the sum to a multiple of 10 — pure integer/array algebra
    identical on both engines (the planted-construction doctrine: the
    fixture has no real account numbers, so bodies derive
    deterministically from custkey).

    Scale design: per-row array fold under codegen; no shuffle. The
    validation direction is the same fold on all 16 digits == 0 mod
    10."""
    c = table(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 25 == 0
    )
    body = F.lpad(
        (F.col("c_custkey") * 52361 + 40000000000000).cast("string"),
        15,
        "0",
    )
    acct = c.select("c_custkey", body.alias("body"))
    ds = F.transform(
        F.sequence(F.lit(0), F.lit(14)),
        lambda i: F.substring(
            F.col("body"), (15 - i).cast("int"), 1
        ).cast("int"),
    )
    tot = F.aggregate(
        F.sequence(F.lit(0), F.lit(14)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            i % 2 == 0,
            F.when(
                F.element_at(F.col("ds"), (i + 1).cast("int")) * 2 > 9,
                F.element_at(F.col("ds"), (i + 1).cast("int")) * 2 - 9,
            ).otherwise(
                F.element_at(F.col("ds"), (i + 1).cast("int")) * 2
            ),
        ).otherwise(F.element_at(F.col("ds"), (i + 1).cast("int"))),
    )
    s = acct.withColumn("ds", ds).withColumn("tot", tot)
    check = (10 - F.col("tot") % 10) % 10
    return s.select(
        "c_custkey",
        F.concat(F.col("body"), check.cast("string")).alias(
            "account_number"
        ),
        check.cast("long").alias("check_digit"),
        F.lit(True).alias("luhn_valid"),
    )


# ---------------------------------------------------------------------------
# fn_fiscal_445 — 4-4-5 fiscal calendar mapping
# ---------------------------------------------------------------------------

# Fiscal year starts the Monday of the ISO week containing Feb 1.
# Periods repeat 4-4-5 weeks per quarter: P1=4, P2=4, P3=5, ...

_FISCAL_ORACLE = """
WITH d AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od
  FROM orders WHERE o_orderkey % 50 = 0
),
fy AS (
  SELECT o_orderkey, od,
         CASE WHEN od >= date_trunc('week', make_date(year(od), 2, 1))
              THEN year(od)
              ELSE year(od) - 1 END AS fyear
  FROM d
),
wk AS (
  SELECT o_orderkey, od, fyear,
         CAST(date_diff('day',
              date_trunc('week', make_date(fyear, 2, 1)), od) // 7
              AS BIGINT) AS fweek0
  FROM fy
),
p AS (
  SELECT o_orderkey, od, fyear, fweek0,
         least(fweek0 // 13, 3) AS fq0,
         fweek0 % 13 AS wq
  FROM wk
)
SELECT o_orderkey, CAST(od AS VARCHAR) AS order_day,
       CAST(fyear AS BIGINT) AS fiscal_year,
       CAST(fq0 + 1 AS BIGINT) AS fiscal_quarter,
       CAST(fq0 * 3 + CASE WHEN wq < 4 THEN 1
                           WHEN wq < 8 THEN 2 ELSE 3 END
            AS BIGINT) AS fiscal_period,
       CAST(fweek0 + 1 AS BIGINT) AS fiscal_week
FROM p
"""


@register("fn_fiscal_445", oracle=_FISCAL_ORACLE)
def fn_fiscal_445(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-4-5 FISCAL calendar mapping: every date lands in a fiscal
    (year, quarter, period, week) where quarters hold 4+4+5 whole
    weeks — the retail/finance calendar that makes period-over-period
    comparable (every period has the same weekday mix, which Gregorian
    months never do). Year anchors at the Monday of the week holding
    Feb 1; week 53, when it occurs, pools into Q4 (the standard
    treatment, via the quarter clamp). Pure integer date algebra —
    no calendar table.

    Scale design: a codegen projection per row; the expression folds
    into any scan. Sub-sampled keys keep the oracle diff readable."""
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 50 == 0
    )
    od = F.col("o_orderdate").cast("date")
    def anchor(y):
        return F.date_trunc(
            "week", F.make_date(y, F.lit(2), F.lit(1))
        ).cast("date")
    fyear = F.when(od >= anchor(F.year(od)), F.year(od)).otherwise(
        F.year(od) - 1
    )
    d = o.select("o_orderkey", od.alias("od"), fyear.alias("fyear"))
    fweek0 = (
        F.datediff(F.col("od"), anchor(F.col("fyear"))) / 7
    ).cast("long")
    p = d.select(
        "o_orderkey",
        "od",
        "fyear",
        fweek0.alias("fweek0"),
    ).select(
        "*",
        F.least(F.expr("fweek0 DIV 13"), F.lit(3)).alias("fq0"),
        (F.col("fweek0") % 13).alias("wq"),
    )
    period_in_q = (
        F.when(F.col("wq") < 4, 1).when(F.col("wq") < 8, 2).otherwise(3)
    )
    return p.select(
        "o_orderkey",
        F.col("od").cast("string").alias("order_day"),
        F.col("fyear").cast("long").alias("fiscal_year"),
        (F.col("fq0") + 1).cast("long").alias("fiscal_quarter"),
        (F.col("fq0") * 3 + period_in_q).cast("long").alias(
            "fiscal_period"
        ),
        (F.col("fweek0") + 1).cast("long").alias("fiscal_week"),
    )


# --- fn_json_variant ------------------------------------------------------
# Built + oracle-verified while registration was paused (rounds 9-10);
# the r11 flip added the decorator below and a _SWEEP_PRIORITY slot.
# Contract (SURVEY round-8 log "Parked"): VariantType surface with TYPE
# INTROSPECTION — parse_json over heterogeneously-typed JSON documents,
# schema_of_variant / is_variant_null to classify each leaf, typed
# variant_get extraction per class, grouped rollup by leaf type. The
# events corpus's props are homogeneous ({"k": int}), so the doc builder
# derives a deterministic mixed-type leaf from (event_id mod 4, k):
# int k | string "s<k>" | boolean (k even) | JSON null.

_FN_JSON_VARIANT_ORACLE = """
WITH docs AS (
  SELECT '{"v": ' ||
         CASE (event_id % 4)
           WHEN 0 THEN CAST(CAST(json_extract_string(props, '$.k') AS BIGINT)
                            AS VARCHAR)
           WHEN 1 THEN '"s' || json_extract_string(props, '$.k') || '"'
           WHEN 2 THEN CASE WHEN CAST(json_extract_string(props, '$.k')
                                      AS BIGINT) % 2 = 0
                            THEN 'true' ELSE 'false' END
           ELSE 'null'
         END || '}' AS j
  FROM events
), typed AS (
  SELECT j,
         CASE json_type(CAST(j AS JSON), '$.v')
           WHEN 'UBIGINT' THEN 'int'
           WHEN 'BIGINT'  THEN 'int'
           WHEN 'VARCHAR' THEN 'string'
           WHEN 'BOOLEAN' THEN 'bool'
           WHEN 'NULL'    THEN 'null'
           ELSE 'other'
         END AS vtype
  FROM docs
)
SELECT vtype,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       -- TRY_CAST, not CAST: DuckDB's vectorized executor may evaluate a
       -- CASE branch's cast on rows the guard excludes (surfaces at sf0.1
       -- batch sizes), and CAST('"s34"' AS BIGINT) is then a hard error
       CAST(SUM(CASE WHEN vtype = 'int'
                     THEN TRY_CAST(json_extract(j, '$.v') AS BIGINT) END)
            AS BIGINT) AS sum_int,
       CAST(COALESCE(SUM(CASE WHEN vtype = 'bool'
                              AND TRY_CAST(json_extract(j, '$.v') AS BOOLEAN)
                              THEN 1 END), 0) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN vtype = 'string'
                     THEN length(json_extract_string(j, '$.v')) END)
            AS BIGINT) AS str_len_sum
FROM typed
GROUP BY vtype
"""


@register("fn_json_variant", oracle=_FN_JSON_VARIANT_ORACLE)
def fn_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fn_json_variant — Variant TYPE-INTROSPECTION rollup.

    ``parse_json`` keeps the parsed tree in Spark 4's compact binary
    variant form, so classifying AND extracting a leaf costs one parse
    (the ``from_json`` alternative needs a schema per access pattern and
    re-parses the text per pattern — the 100 TB argument for variant on
    schema-drifting event streams). Per event: build a deterministic
    mixed-type doc, classify the ``$.v`` leaf via ``schema_of_variant``
    (BIGINT/STRING/BOOLEAN) + ``is_variant_null`` (VOID leg), extract it
    with the type-matched ``variant_get``, and roll up per class. All
    expressions are codegen'd; the single shuffle is the 4-group hash
    aggregate (partial map-side combine first — ~4 rows per task cross
    the wire at any corpus size). Every aggregation buffer is a LONG on
    purpose: a string-typed buffer (e.g. ``max(as_str)``) demotes the
    whole aggregate to SortAggregate — an O(n log n) per-partition sort
    at 100 TB — so the string-group metric is ``sum(length(...))``
    instead, which still exercises the typed string extraction. Oracle =
    DuckDB ``json_type`` + ``json_extract`` over the same documents.
    """
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    m = F.pmod(F.col("event_id"), F.lit(4))
    doc = F.concat(
        F.lit('{"v": '),
        F.when(m == 0, k.cast("string"))
        .when(m == 1, F.concat(F.lit('"s'), k.cast("string"), F.lit('"')))
        .when(
            m == 2,
            F.when(k % 2 == 0, F.lit("true")).otherwise(F.lit("false")),
        )
        .otherwise(F.lit("null")),
        F.lit("}"),
    )
    v = F.parse_json(doc)
    leaf = F.variant_get(v, "$.v", "variant")
    sch = F.schema_of_variant(leaf)
    vtype = (
        F.when(F.is_variant_null(leaf), F.lit("null"))
        .when(sch == "BIGINT", F.lit("int"))
        .when(sch == "STRING", F.lit("string"))
        .when(sch == "BOOLEAN", F.lit("bool"))
        .otherwise(F.lit("other"))
    )
    d = ev.select(
        vtype.alias("vtype"),
        # try_variant_get, not variant_get: these three project for EVERY
        # row before the per-type gate in the aggregate, and under ANSI
        # (the Spark 4 default) a failed variant cast (string leaf -> long)
        # in plain variant_get is a runtime error, not a NULL.
        F.try_variant_get(v, "$.v", "long").alias("as_long"),
        F.try_variant_get(v, "$.v", "boolean").alias("as_bool"),
        F.try_variant_get(v, "$.v", "string").alias("as_str"),
    )
    return d.groupBy("vtype").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when(F.col("vtype") == "int", F.col("as_long"))
        ).alias("sum_int"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("vtype") == "bool") & F.col("as_bool"), F.lit(1)
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_true"),
        F.sum(
            F.when(
                F.col("vtype") == "string", F.length(F.col("as_str"))
            ).cast("long")
        ).alias("str_len_sum"),
    )


# --- fn_variant_nested_paths ----------------------------------------------
# Same staging history as fn_json_variant above: built + oracle-verified
# under the registration pause, decorator flipped in r11. Complements
# fn_json_variant (scalar leaf classification) with the NESTED half of the
# variant surface: OBJECT vs ARRAY vs scalar shape introspection and
# nested-path extraction ($.a.b object hop, $.a[1] array index).

_FN_VARIANT_NESTED_ORACLE = """
WITH docs AS (
  SELECT '{"a": ' ||
         CASE (event_id % 3)
           WHEN 0 THEN '{"b": ' || CAST(CAST(json_extract_string(props, '$.k')
                                             AS BIGINT) AS VARCHAR) || '}'
           WHEN 1 THEN '[' || CAST(CAST(json_extract_string(props, '$.k')
                                        AS BIGINT) AS VARCHAR) || ', '
                           || CAST(CAST(json_extract_string(props, '$.k')
                                        AS BIGINT) + 1 AS VARCHAR) || ']'
           ELSE CAST(CAST(json_extract_string(props, '$.k') AS BIGINT)
                     AS VARCHAR)
         END || '}' AS j
  FROM events
), typed AS (
  SELECT j,
         CASE json_type(CAST(j AS JSON), '$.a')
           WHEN 'OBJECT' THEN 'object'
           WHEN 'ARRAY'  THEN 'array'
           ELSE 'scalar'
         END AS kind
  FROM docs
)
SELECT kind,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       -- TRY_CAST throughout: same vectorized-CASE hazard as the
       -- fn_json_variant oracle (object/array json never casts to BIGINT)
       CAST(SUM(TRY_CAST(json_extract(j, '$.a.b') AS BIGINT)) AS BIGINT)
           AS sum_obj_b,
       CAST(SUM(TRY_CAST(json_extract(j, '$.a[1]') AS BIGINT)) AS BIGINT)
           AS sum_arr_1,
       CAST(SUM(CASE WHEN kind = 'scalar'
                     THEN TRY_CAST(json_extract(j, '$.a') AS BIGINT) END)
            AS BIGINT) AS sum_scalar
FROM typed
GROUP BY kind
"""


@register("fn_variant_nested_paths", oracle=_FN_VARIANT_NESTED_ORACLE)
def fn_variant_nested_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fn_variant_nested_paths — nested variant shape rollup.

    The schema-drift case variant exists for: the same field is an
    OBJECT on some rows, an ARRAY on others, a scalar on the rest.
    ``schema_of_variant`` classifies the shape (``OBJECT<...>`` /
    ``ARRAY<...>`` prefix), ``try_variant_get`` extracts through a
    nested path per shape (``$.a.b`` object hop, ``$.a[1]`` array
    index, ``$.a`` scalar) — NULL, not error, on shape mismatch — and
    the rollup aggregates per shape class. One binary parse per row,
    row-local, codegen'd; single 3-group hash-agg shuffle with map-side
    combine; all-long buffers (same SortAggregate-avoidance argument as
    fn_json_variant). Oracle = DuckDB ``json_type`` + path extraction
    over the same constructed documents.
    """
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    m = F.pmod(F.col("event_id"), F.lit(3))
    doc = F.concat(
        F.lit('{"a": '),
        F.when(
            m == 0,
            F.concat(F.lit('{"b": '), k.cast("string"), F.lit("}")),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("["),
                k.cast("string"),
                F.lit(", "),
                (k + 1).cast("string"),
                F.lit("]"),
            ),
        )
        .otherwise(k.cast("string")),
        F.lit("}"),
    )
    v = F.parse_json(doc)
    sch = F.schema_of_variant(F.variant_get(v, "$.a", "variant"))
    kind = (
        F.when(sch.startswith("OBJECT"), F.lit("object"))
        .when(sch.startswith("ARRAY"), F.lit("array"))
        .otherwise(F.lit("scalar"))
    )
    d = ev.select(
        kind.alias("kind"),
        F.try_variant_get(v, "$.a.b", "long").alias("obj_b"),
        F.try_variant_get(v, "$.a[1]", "long").alias("arr_1"),
        F.try_variant_get(v, "$.a", "long").alias("scal"),
    )
    return d.groupBy("kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("obj_b").alias("sum_obj_b"),
        F.sum("arr_1").alias("sum_arr_1"),
        F.sum(
            F.when(F.col("kind") == "scalar", F.col("scal"))
        ).alias("sum_scalar"),
    )


# --- fn_variant_explode (registered r11; r12 grading window) ----------------
# Cadence-batch key (SURVEY round-11 log): third leaf of the variant
# surface — ARRAY-of-variant fan-out. fn_json_variant classifies scalar
# leaves, fn_variant_nested_paths walks nested shapes; this one explodes a
# variant array (try_variant_get to array<variant> + posexplode_outer) and
# rolls up per element type, keeping empty arrays visible.

_FN_VARIANT_EXPLODE_ORACLE = """
WITH base AS (
  SELECT event_id % 4 AS L,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
), el AS (
  SELECT (k + i) % 3 AS m, CAST(i AS BIGINT) AS i, k + i AS val
  FROM base, UNNEST(range(L)) AS t(i)
)
SELECT CASE m WHEN 0 THEN 'BIGINT' WHEN 1 THEN 'STRING'
         ELSE 'BOOLEAN' END AS el_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(i) AS BIGINT) AS pos_sum,
       CAST(SUM(CASE WHEN m = 0 THEN val END) AS BIGINT) AS sum_int,
       CAST(SUM(CASE WHEN m = 1
                     THEN length('s' || CAST(val AS VARCHAR)) END)
            AS BIGINT) AS str_len_sum,
       CAST(COALESCE(SUM(CASE WHEN m = 2 AND val % 2 = 0 THEN 1 END), 0)
            AS BIGINT) AS n_true
FROM el GROUP BY 1
UNION ALL
SELECT 'EMPTY', CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(0 AS BIGINT)
FROM base WHERE L = 0
"""


@register("fn_variant_explode", oracle=_FN_VARIANT_EXPLODE_ORACLE)
def fn_variant_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant ARRAY fan-out — explode an array<variant> and roll up by
    element type.

    Doc builder (deterministic, oracle-mirrored arithmetically): tags
    array of length ``event_id % 4`` whose i-th element cycles through
    int (k+i) | string "s<k+i>" | boolean ((k+i) even) by ``(k+i) % 3``.
    One ``parse_json`` per doc keeps the tree in the compact binary
    variant form; ``try_variant_get($.tags, array<variant>)`` lifts the
    array WITHOUT re-parsing; ``posexplode_outer`` fans out elements
    while keeping empty-array docs as a NULL row (surfaced as the
    'EMPTY' class — silent row loss on empty arrays is the classic
    explode bug); ``schema_of_variant`` classifies each element and the
    typed ``try_variant_get`` extraction runs per class.

    Scale: the fan-out is bounded (<=3 elements/doc) and row-local —
    parse, lift, explode and classify all pipeline inside one codegen
    stage; the only shuffle is the final 4-group hash agg with map-side
    combine and all-long buffers (the fn_json_variant SortAggregate-
    avoidance argument).
    """
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        (F.col("event_id") % 4).alias("L"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    j = F.expr(
        """concat('{"tags": [', array_join(transform(
             slice(sequence(0, 3), 1, int(L)),
             i -> CASE (k + i) % 3
                    WHEN 0 THEN cast(k + i AS STRING)
                    WHEN 1 THEN concat('"s', cast(k + i AS STRING), '"')
                    ELSE IF((k + i) % 2 = 0, 'true', 'false')
                  END), ', '), ']}')"""
    )
    ex = base.select(
        F.posexplode_outer(
            F.try_variant_get(F.parse_json(j), "$.tags", "array<variant>")
        ).alias("pos", "el")
    )
    typed = ex.select(
        "pos",
        "el",
        F.coalesce(F.schema_of_variant("el"), F.lit("EMPTY")).alias(
            "el_type"
        ),
    )
    return typed.groupBy("el_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.coalesce("pos", F.lit(0))).cast("long").alias("pos_sum"),
        F.sum(
            F.when(
                F.col("el_type") == "BIGINT",
                F.try_variant_get("el", "$", "bigint"),
            )
        )
        .cast("long")
        .alias("sum_int"),
        F.sum(
            F.when(
                F.col("el_type") == "STRING",
                F.length(F.try_variant_get("el", "$", "string")),
            )
        )
        .cast("long")
        .alias("str_len_sum"),
        F.count(
            F.when(
                (F.col("el_type") == "BOOLEAN")
                & F.try_variant_get("el", "$", "boolean"),
                1,
            )
        )
        .cast("long")
        .alias("n_true"),
    )


# --- fn_variant_schema_union (registered r11; r12 grading window) -----------
# Cadence-batch key (SURVEY round-11 log): fourth leaf of the variant
# surface — schema DRIFT ACCOUNTING. Per-row schema_of_variant classifies
# each document's shape (including value-width DECIMAL(d,1) schemas);
# schema_of_variant_agg folds each group through Spark's variant schema
# merge lattice (BIGINT+BIGINT -> BIGINT, BIGINT+DECIMAL(d,1) ->
# DECIMAL(21,1), BIGINT+STRING -> VARIANT, null absorbs into BIGINT).

_FN_VARIANT_SCHEMA_ORACLE = """
WITH base AS (
  SELECT event_id % 4 AS g,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
), rows_ AS (
  SELECT g, k,
         CASE
           WHEN g = 0 OR k % 2 = 0 THEN 'OBJECT<v: BIGINT>'
           WHEN g = 1 THEN 'OBJECT<v: DECIMAL('
                || CAST(length(CAST(k AS VARCHAR)) + 1 AS VARCHAR)
                || ',1)>'
           WHEN g = 2 THEN 'OBJECT<v: STRING>'
           ELSE 'OBJECT<v: VOID>'
         END AS row_schema,
         CASE WHEN g = 3 AND k % 2 = 1 THEN 1 ELSE 0 END AS nullflag
  FROM base
)
SELECT CAST(g AS BIGINT) AS g,
       row_schema,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nullflag) AS BIGINT) AS n_null_v,
       CASE CAST(g AS BIGINT)
         WHEN 0 THEN 'OBJECT<v: BIGINT>'
         WHEN 1 THEN 'OBJECT<v: DECIMAL(21,1)>'
         WHEN 2 THEN 'OBJECT<v: VARIANT>'
         ELSE 'OBJECT<v: BIGINT>'
       END AS merged_schema
FROM rows_
GROUP BY 1, 2
"""


@register("fn_variant_schema_union", oracle=_FN_VARIANT_SCHEMA_ORACLE)
def fn_variant_schema_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift accounting over a variant column.

    Doc builder: four drift regimes by ``event_id % 4`` — (0) all-int,
    (1) int/decimal mix (odd k emits k.5), (2) int/string mix, (3)
    int/JSON-null mix. Output, per (regime, per-row schema): document
    count, variant-null count (``is_variant_null`` over the extracted
    leaf — JSON null is a VALUE, distinct from SQL NULL), and the
    regime's MERGED schema from ``schema_of_variant_agg``. The per-row
    DECIMAL(d,1) schemas are value-width-dependent (d = digits(k)+1) —
    the oracle mirrors that arithmetically, so the introspection is
    genuinely checked, not hardcoded; the merge lattice results are the
    documented contract (verified against the live lattice at three
    scale factors, and they depend only on the TYPES present: regime 1
    always contains a BIGINT doc, pinning DECIMAL(21,1)).

    Scale: two projected corpus passes (one per-row classification
    agg, one schema_of_variant_agg fold), each a map-side-combined hash
    agg over a 4/8-group key space; the regime-level merge joins back on
    the 4-row aggregate (broadcast by size). No corpus-sized state: the
    variant schema-merge buffer is a bounded schema tree, not data.
    """
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    g = F.col("event_id") % 4
    intdoc = F.concat(F.lit('{"v": '), k.cast("string"), F.lit("}"))
    j = (
        F.when(g == 0, intdoc)
        .when(
            g == 1,
            F.when(k % 2 == 0, intdoc).otherwise(
                F.concat(F.lit('{"v": '), k.cast("string"), F.lit(".5}"))
            ),
        )
        .when(
            g == 2,
            F.when(k % 2 == 0, intdoc).otherwise(
                F.concat(F.lit('{"v": "s'), k.cast("string"), F.lit('"}'))
            ),
        )
        .otherwise(
            F.when(k % 2 == 0, intdoc).otherwise(F.lit('{"v": null}'))
        )
    )
    docs = ev.select(g.cast("long").alias("g"), F.parse_json(j).alias("v"))
    rows = docs.groupBy(
        "g", F.schema_of_variant("v").alias("row_schema")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.is_variant_null(
                F.try_variant_get("v", "$.v", "variant")
            ).cast("long")
        )
        .cast("long")
        .alias("n_null_v"),
    )
    merged = docs.groupBy("g").agg(
        F.schema_of_variant_agg("v").alias("merged_schema")
    )
    return rows.join(F.broadcast(merged), "g").select(
        "g", "row_schema", "n_docs", "n_null_v", "merged_schema"
    )


# ---------------------------------------------------------------------------
# fn_ipv4_cidr — IPv4 parsing + longest-prefix-match CIDR classification —
# the network-function surface (octet math, prefix containment, LPM) that
# every clickstream/geo-enrichment pipeline runs before any analytics.
# ---------------------------------------------------------------------------

# (cidr, network-as-uint32, prefix-len). Overlapping by design: every IP
# matches /0, most match something longer — longest prefix must win.
_CIDR_BLOCKS = [
    ("0.0.0.0/0", 0, 0),
    ("0.0.0.0/1", 0, 1),
    ("128.0.0.0/2", 128 * 2**24, 2),
    ("192.0.0.0/3", 192 * 2**24, 3),
    ("224.0.0.0/4", 224 * 2**24, 4),
    ("240.0.0.0/5", 240 * 2**24, 5),
    ("10.0.0.0/8", 10 * 2**24, 8),
    ("10.128.0.0/9", (10 * 2**24) + (128 * 2**16), 9),
    ("192.0.0.0/8", 192 * 2**24, 8),
    ("224.16.0.0/12", (224 * 2**24) + (16 * 2**16), 12),
]

_IPV4_SALT = 11
_KNUTH_IP = 2654435761
_M31_IP = 2147483648
_M32_IP = 4294967296


def _cidr_values_sql() -> str:
    rows = ", ".join(f"('{c}', {n}, {p})" for c, n, p in _CIDR_BLOCKS)
    return f"(VALUES {rows}) blocks(cidr, net, plen)"


_IPV4_CIDR_ORACLE = f"""
WITH u AS (
  SELECT DISTINCT user_id FROM events
), ip AS (
  SELECT user_id,
         ((user_id + {_IPV4_SALT}) % {_M31_IP}) * {_KNUTH_IP}
           % {_M32_IP} AS ipn
  FROM u
), fmt AS (
  SELECT user_id, ipn,
         concat(
           CAST(CAST(FLOOR(ipn / 16777216.0) AS BIGINT) % 256 AS VARCHAR),
           '.',
           CAST(CAST(FLOOR(ipn / 65536.0) AS BIGINT) % 256 AS VARCHAR),
           '.',
           CAST(CAST(FLOOR(ipn / 256.0) AS BIGINT) % 256 AS VARCHAR),
           '.', CAST(ipn % 256 AS VARCHAR)
         ) AS ip_str
  FROM ip
), matched AS (
  SELECT f.user_id, f.ipn, f.ip_str, blocks.cidr, blocks.plen
  FROM fmt f JOIN {_cidr_values_sql()}
    ON FLOOR(f.ipn / power(2.0, 32 - blocks.plen))
       = FLOOR(blocks.net / power(2.0, 32 - blocks.plen))
), best AS (
  SELECT user_id, ipn, ip_str,
         MAX(struct_pack(plen := plen, cidr := cidr)) AS w
  FROM matched GROUP BY 1, 2, 3
)
SELECT w.cidr AS cidr,
       CAST(w.plen AS BIGINT) AS plen,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       arg_min(ip_str, ipn) AS lowest_ip,
       arg_max(ip_str, ipn) AS highest_ip
FROM best
GROUP BY 1, 2
ORDER BY cidr
"""


@register("fn_ipv4_cidr", oracle=_IPV4_CIDR_ORACLE)
def fn_ipv4_cidr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 network functions over a planted per-user address (Knuth
    hash of user_id — deterministic, table-free): format the uint32 as
    dotted-quad, test membership against an OVERLAPPING CIDR rule table
    (prefix containment = equal floor-div by 2^(32−plen)), resolve each
    address to its LONGEST matching prefix (LPM — the routing-table
    semantic), and roll up per block with the lowest/highest member
    address (arg_min/arg_max on the numeric form, displayed as text).

    Cross-engine exactness: everything is integer arithmetic (the
    planted address, octet extraction by floor-div/mod, containment by
    floor-div equality); LPM is a struct-MAX on (plen, cidr); min/max
    addresses are arg-extrema on exact integers — nothing floats except
    the power-of-two divisions, which are exact binary doubles.

    Scale design: the rule table is bounded (routing tables are model
    state, the broadcast doctrine), so membership is a
    BroadcastNestedLoopJoin of the corpus against 10 literal rows —
    bounded fan-out per address, no shuffle; LPM folds map-side via
    struct-max on the user key the corpus ALREADY carries. At real
    routing-table sizes (~1M prefixes) the documented switch is prefix
    expansion to fixed lengths + equi-join on (ipn >> k) — same answer,
    hash-partitionable."""
    ev = table(spark, sf_dir, "events").select("user_id").distinct()
    ipn = (
        (F.col("user_id") + _IPV4_SALT) % _M31_IP * _KNUTH_IP % _M32_IP
    ).alias("ipn")
    octet = lambda k: (  # noqa: E731
        F.floor(F.col("ipn") / float(2 ** k)).cast("long") % 256
    ).cast("string")
    fmt = ev.select("user_id", ipn).select(
        "user_id",
        "ipn",
        F.concat_ws(
            ".", octet(24), octet(16), octet(8), (F.col("ipn") % 256).cast("string")
        ).alias("ip_str"),
    )
    blocks = spark.createDataFrame(
        _CIDR_BLOCKS, "cidr string, net long, plen int"
    )
    matched = fmt.join(
        F.broadcast(blocks),
        F.floor(F.col("ipn") / F.pow(F.lit(2.0), 32 - F.col("plen")))
        == F.floor(F.col("net") / F.pow(F.lit(2.0), 32 - F.col("plen"))),
    )
    best = matched.groupBy("user_id", "ipn", "ip_str").agg(
        F.max(F.struct("plen", "cidr")).alias("w")
    )
    return (
        best.groupBy(
            F.col("w.cidr").alias("cidr"),
            F.col("w.plen").cast("long").alias("plen"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.expr("min_by(ip_str, ipn)").alias("lowest_ip"),
            F.expr("max_by(ip_str, ipn)").alias("highest_ip"),
        )
        .orderBy("cidr")
    )


# ---------------------------------------------------------------------------
# fn_iban_mod97 — ISO 7064 MOD-97-10 check-digit computation and
# validation on synthesized DE IBANs — the banking sibling of
# fn_luhn_checksum (cards): the rearranged digit string is a 22-digit
# integer, far past 2^63, so the mod folds CHUNKWISE via the identity
# (a·10^k + b) mod 97 = ((a mod 97)·(10^k mod 97) + b) mod 97 — pure
# bounded integer arithmetic, no big-int type needed in either engine.
# ---------------------------------------------------------------------------

# 10^6 mod 97 (the BBAN·10^6 fold step) and the digitized country code:
# 'D'=13, 'E'=14 -> "1314". Both pinned literals shared by both engines.
_IBAN_P6_MOD = 10**6 % 97  # = 27
_IBAN_DE = 1314

_IBAN_ORACLE = f"""
WITH acct AS (
  SELECT c_custkey,
         c_custkey % 10000000000000000 AS bban,
         -- correct check digits: 98 - (BBAN||'1314'||'00') mod 97,
         -- folded chunkwise (BBAN fits in a BIGINT; the 22-digit
         -- rearranged value does not)
         98 - ((c_custkey % 10000000000000000 % 97) * {_IBAN_P6_MOD}
               + {_IBAN_DE} * 100) % 97 AS check_ok
  FROM customer
), issued AS (
  -- odd custkeys get a corrupted check digit (+50 mod 100): the
  -- deterministic invalid half the validator must catch
  SELECT c_custkey, bban,
         CASE WHEN c_custkey % 2 = 1 THEN (check_ok + 50) % 100
              ELSE check_ok END AS check_used,
         c_custkey % 2 = 1 AS corrupted
  FROM acct
), validated AS (
  SELECT corrupted,
         ((bban % 97) * {_IBAN_P6_MOD} + {_IBAN_DE} * 100 + check_used)
           % 97 = 1 AS is_valid
  FROM issued
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_accounts,
       CAST(COUNT(*) FILTER (WHERE is_valid) AS BIGINT) AS n_valid,
       CAST(COUNT(*) FILTER (WHERE NOT is_valid) AS BIGINT) AS n_invalid,
       CAST(COUNT(*) FILTER (WHERE is_valid AND corrupted) AS BIGINT)
         AS n_false_accept,
       CAST(COUNT(*) FILTER (WHERE NOT is_valid AND NOT corrupted)
            AS BIGINT) AS n_false_reject,
       FLOOR(CAST(COUNT(*) FILTER (WHERE is_valid) AS DOUBLE)
             / COUNT(*) * 1e6) / 1e6 AS valid_share
FROM validated
"""


@register("fn_iban_mod97", oracle=_IBAN_ORACLE)
def fn_iban_mod97(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO 7064 MOD-97-10 over synthesized DE IBANs: per customer a
    16-digit BBAN (the custkey), correct check digits = 98 − (BBAN ∥
    '1314' ∥ '00') mod 97, then odd custkeys ship a corrupted check
    (+50 mod 100) and the validator recomputes (value mod 97 == 1).
    The scorecard pins the algebra: n_false_accept and n_false_reject
    must both be ZERO — a +50 shift is never ≡ 0 (mod 97), so every
    corrupted check fails and every correct one passes; the mod-97
    guarantee, exercised rather than asserted.

    Cross-engine exactness: the 22-digit rearranged integer never
    materializes — the chunkwise fold (a·10⁶ + b) mod 97 =
    ((a mod 97)·(10⁶ mod 97) + b) mod 97 keeps every intermediate
    under 10⁴ in exact integer arithmetic identical in both engines
    (the luhn per-digit discipline, lifted to big-int residues).

    Scale design: ONE codegen'd integer-arithmetic projection over the
    scan + one 1-row conditional fold — no shuffle beyond the fold; a
    per-country variant swaps the pinned country constant per row
    (bounded lookup), never adds passes."""
    c = table(spark, sf_dir, "customer")
    bban = F.col("c_custkey") % F.lit(10**16)
    check_ok = 98 - (
        (bban % 97) * _IBAN_P6_MOD + _IBAN_DE * 100
    ) % 97
    corrupted = F.col("c_custkey") % 2 == 1
    check_used = F.when(corrupted, (check_ok + 50) % 100).otherwise(
        check_ok
    )
    is_valid = (
        (bban % 97) * _IBAN_P6_MOD + _IBAN_DE * 100 + check_used
    ) % 97 == 1
    v = c.select(corrupted.alias("corrupted"), is_valid.alias("is_valid"))
    return v.agg(
        F.count(F.lit(1)).cast("long").alias("n_accounts"),
        F.count_if(F.col("is_valid")).cast("long").alias("n_valid"),
        F.count_if(~F.col("is_valid")).cast("long").alias("n_invalid"),
        F.count_if(F.col("is_valid") & F.col("corrupted"))
        .cast("long")
        .alias("n_false_accept"),
        F.count_if(~F.col("is_valid") & ~F.col("corrupted"))
        .cast("long")
        .alias("n_false_reject"),
        fquant(
            F.count_if(F.col("is_valid")).cast("double")
            / F.count(F.lit(1))
        ).alias("valid_share"),
    )
