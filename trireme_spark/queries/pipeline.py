"""Training-data pipeline keys (round-2 addendum) — the operations a
100 TB pretraining-corpus build runs between raw scans and the tokenizer:
PII redaction, deterministic sampling/splitting, embedding normalization
and quantization, sequence packing, and the skew-mitigation forms of join
and aggregation.

Design rules shared by every key here:

* **Determinism without RNG.** Sampling/splitting/packing use a Knuth
  multiplicative hash ``(id * 2654435761) mod 2^32`` expressed in plain
  integer arithmetic so the DuckDB oracle reproduces it bit-for-bit
  (``xxhash64`` exists only on the Spark side). At scale the same
  expression works because it's per-row column algebra — no shuffle, no
  state, re-runnable on any subset of the data.
* **Column algebra only.** Every key is whole-stage-codegen-able
  expressions plus at most one keyed shuffle (the window in
  ``pack_sequences``, the salted keys in the skew forms). No Python in
  the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trireme_spark.functions.text import tokenize
from trireme_spark.operators.skew import salted_join
from trireme_spark.parity import dsum, dsum_wide, meta_part, oracle_sum
from trireme_spark.registry import register
from trireme_spark.sources.io import table

# Knuth multiplicative hash, oracle-expressible: same integer ops in both
# engines (ids are far below the 2^63 overflow point even after the
# multiply). Used everywhere a key needs a deterministic pseudo-uniform
# bucket WITHOUT RNG.
_KNUTH = 2654435761
_M32 = 4294967296


# Reduce the id mod 2^31 BEFORE the multiply: (2^31-1)·KNUTH ≈ 5.7e18
# stays inside int64, so the expression can't overflow for ANY id — ANSI
# mode (on in Spark 4) turns silent wraparound into a runtime error, and
# 100 TB corpora have ids well past the naive overflow point of ~3.5e9.
_M31 = 2147483648


def _kbucket(col, buckets: int):
    h = F.pmod(F.pmod(F.col(col), F.lit(_M31)) * F.lit(_KNUTH), F.lit(_M32))
    return h % buckets


def _kbucket_sql(col: str, buckets: int) -> str:
    return f"((({col} % {_M31}) * {_KNUTH}) % {_M32}) % {buckets}"


# --- PII redaction ----------------------------------------------------------

# The fixture corpus is synthetic word-soup with no PII, so the key plants
# a deterministic contact line per doc (same construction in the oracle)
# and the regexes must strip exactly that. Patterns stay in the common
# Java-regex ∩ RE2 subset (char classes + counted repeats, no lookaround)
# so both engines compile them identically.
_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.]+[a-z]"
_IPV4_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

_PII_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         text || ' contact user' || doc_id ||
         '@mail.example host 10.0.' || doc_id % 256 || '.7' AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
         '{_IPV4_RE}', '<IP>', 'g') AS redacted,
       length(regexp_replace(
         regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
         '{_IPV4_RE}', '<IP>', 'g')) AS redacted_len
FROM d
"""


@register("text_pii_redact", oracle=_PII_ORACLE)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrub (emails, IPv4) — the mandatory first pass of any
    corpus build. Pure ``regexp_replace`` chain: codegen'd, no shuffle,
    linear scan at any scale."""
    d = table(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example host 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    red = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _IPV4_RE,
        "<IP>",
    )
    return planted.select(
        "doc_id",
        red.alias("redacted"),
        F.length(red).alias("redacted_len"),
    )


# --- deterministic sampling / splitting -------------------------------------

_SAMPLE_ORACLE = f"""
SELECT event_id, event_type, value
FROM events
WHERE {_kbucket_sql('event_id', 10)} = 0
"""


@register("sample_stratified", oracle=_SAMPLE_ORACLE)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample: hash-bucket the key, keep bucket 0.

    Unlike ``df.sample()`` (seeded per-partition RNG — resample changes
    when partitioning changes), the hash condition is stable under any
    repartitioning/retry; it's an arithmetic predicate, so it evaluates
    inside the scan's codegen stage (not as a parquet PushedFilter — only
    literal comparisons push that far) and never forces a shuffle.
    Stratification is free: the hash is independent of event_type, so
    each stratum is sampled at the same rate."""
    ev = table(spark, sf_dir, "events")
    return ev.where(_kbucket("event_id", 10) == 0).select(
        "event_id", "event_type", "value"
    )


_SPLIT_ORACLE = f"""
SELECT doc_id,
       CASE WHEN {_kbucket_sql('doc_id', 100)} < 90 THEN 'train'
            WHEN {_kbucket_sql('doc_id', 100)} < 95 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


@register("split_train_holdout", oracle=_SPLIT_ORACLE)
def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 train/val/test assignment by hash bucket — reproducible on
    any machine, any partitioning, any subset of the corpus; no RNG, no
    state, no shuffle."""
    d = table(spark, sf_dir, "documents")
    b = _kbucket("doc_id", 100)
    return d.select(
        "doc_id",
        F.when(b < 90, F.lit("train"))
        .when(b < 95, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


# --- weighted deterministic sampling ----------------------------------------

_WEIGHTED_ORACLE = f"""
SELECT doc_id, n_chars,
       ROUND(ln((({_kbucket_sql('doc_id', _M32)}) + 0.5) / {_M32}.0)
             / n_chars, 7) AS samp_key
FROM documents
ORDER BY samp_key DESC, doc_id
LIMIT 100
"""


@register("sample_weighted", oracle=_WEIGHTED_ORACLE)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, top-100 by n_chars weight —
    the Efraimidis-Spirakis order-sampling key ``u^(1/w)`` in log space
    (``ln(u)/w``, same ordering, better float spread), with ``u`` from the
    Knuth hash instead of RNG so any engine reproduces the exact sample.

    Longer docs are proportionally likelier to be drawn — the standard
    size-weighted corpus subsample. Ordering uses the ROUNDED key (7 dp)
    plus doc_id, so cross-engine ln() ulp drift cannot reorder the
    cutoff. Plan: per-row algebra + TakeOrderedAndProject (per-partition
    top-k, then a k-row merge on the driver) — no global sort at scale."""
    d = table(spark, sf_dir, "documents")
    u = (_kbucket("doc_id", _M32).cast("double") + F.lit(0.5)) / F.lit(
        float(_M32)
    )
    key = F.round(F.log(u) / F.col("n_chars"), 7)
    return (
        d.select("doc_id", "n_chars", key.alias("samp_key"))
        .orderBy(F.col("samp_key").desc(), "doc_id")
        .limit(100)
    )


# --- embedding normalization + quantization ---------------------------------

_EMB_D = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
_EMB_NORM = (
    f"sqrt(list_sum(list_transform({_EMB_D}, x -> x * x)))"
)

_QUANT_ORACLE = f"""
SELECT vec_id,
       ROUND({_EMB_NORM}, 6) AS l2_norm,
       array_to_string(
         list_transform({_EMB_D},
                        x -> CAST(floor(127.0 * x / {_EMB_NORM}) AS BIGINT)),
         ',') AS q8
FROM embeddings
"""


@register("embed_normalize_quantize", oracle=_QUANT_ORACLE)
def embed_normalize_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm + int8-range quantization ``floor(127·x/‖x‖)`` of each
    embedding — the storage-shrink step before ANN indexing (4× over
    float32). ``floor`` (not round) because both engines define it
    identically; the quantized vector is serialized with array_join so
    driver-side hashing sees scalar cells. One codegen'd projection, no
    shuffle, no Python."""
    e = table(spark, sf_dir, "embeddings")
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(
            F.transform(emb, lambda x: x * x),
            F.lit(0.0),
            lambda a, v: a + v,
        )
    )
    # materialize emb+norm once (projection barrier) so the per-element
    # quantize lambda doesn't re-fold the norm 64× (no CSE inside lambdas)
    base = e.select("vec_id", emb.alias("emb"), nrm.alias("nrm"))
    q8 = F.array_join(
        F.transform(
            F.col("emb"),
            lambda x: F.floor(F.lit(127.0) * x / F.col("nrm")).cast("long"),
        ).cast("array<string>"),
        ",",
    )
    return base.select(
        "vec_id",
        F.round(F.col("nrm"), 6).alias("l2_norm"),
        q8.alias("q8"),
    )


# --- distributed second-moment (gram) matrix --------------------------------

_GRAM_ORACLE = f"""
WITH e AS (SELECT {_EMB_D} AS emb FROM embeddings)
SELECT i.r AS i, j.r AS j,
       CAST(SUM(CAST(emb[CAST(i.r AS INT) + 1] * emb[CAST(j.r AS INT) + 1]
                     AS DECIMAL(27,6))) AS DOUBLE) AS gram
FROM e, range(64) i(r), range(64) j(r)
GROUP BY 1, 2
"""


@register("embed_gram_matrix", oracle=_GRAM_ORACLE)
def embed_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XᵀX over the embedding corpus — the d×d second-moment matrix that
    PCA / whitening / OPQ rotation training all start from (d=64 →
    4096 cells out, corpus-size-independent).

    Scale design: each row expands to its d² products inside one codegen'd
    explode, and the hash aggregate's MAP-SIDE COMBINE collapses them to
    ≤ 4096 partial cells per task before the one shuffle — the classic
    distributed gram recipe (outer-product partials, then cell-wise sum),
    expressed declaratively instead of via numpy-per-partition. Products
    are decimal-quantized per element (parity.py doctrine) so the
    cell sums are order-independent and bit-identical to the oracle."""
    return _gram_cells(spark, sf_dir)


def _gram_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared XᵀX builder for embed_gram_matrix and embed_pca_project."""
    e = table(spark, sf_dir, "embeddings")
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # spread the d²-expansion across cores: the single-row-group fixture
    # scan is one input split, and the explode below multiplies work 4096×
    # — repartition the NARROW rows first (vectors, ~1 MB here; at real
    # scale the scan arrives already partitioned and this is a no-op cost)
    base = e.select(emb.alias("emb")).repartition(
        spark.sparkContext.defaultParallelism
    )
    cells = base.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("emb"),
                    lambda xi, i: F.transform(
                        F.col("emb"),
                        lambda xj, j: F.struct(
                            i.alias("i"),
                            j.alias("j"),
                            (xi * xj).cast("decimal(27,6)").alias("p"),
                        ),
                    ),
                )
            )
        ).alias("c")
    ).select("c.i", "c.j", "c.p")
    return cells.groupBy("i", "j").agg(
        F.sum("p").cast("double").alias("gram")
    )


@register("embed_pca_project")  # rows-only: eigenbasis is not SQL-expressible
def embed_pca_project(
    spark: SparkSession, sf_dir: str, n_components: int = 8
) -> DataFrame:
    """PCA projection of every embedding onto the top-``n_components``
    principal axes — the whitening/denoising step a training pipeline runs
    before ANN indexing or clustering.

    Output shape is SCALAR rows ``(vec_id, component, value)`` (posexplode
    of the projected vector) — the same all-scalar-cells contract as
    embed_centroid_label — because the driver's canonicalizer sorts/hashes
    pandas cells and crashes on array cells (r4's one red row; the
    agg_collect lesson, round 1). The per-vector array is one
    collect_list(component-ordered) away for callers.

    Scale design (the k-means/PQ pattern — only MODEL state ever leaves
    the executors): the d×d gram matrix and the d-vector column means are
    computed distributedly (map-side-combined aggregations), and only
    those d²+d ≈ 4 k numbers are collected; numpy's ``eigh`` runs on the
    driver over the 64×64 covariance (corpus-size-independent), and the
    resulting basis broadcasts back into one Arrow-vectorized projection
    pass. Eigenvector sign is fixed (largest-|entry| coordinate positive)
    so the output is deterministic; pytest asserts variance-vs-eigenvalue
    and cross-component orthogonality (tests/test_quality.py)."""
    import numpy as np
    import pandas as pd

    from trireme_spark.operators.similarity import as_double

    d_tbl = 64
    # distributed moments: gram cells (4096 rows) + per-dim means (64 rows)
    gram_rows = _gram_cells(spark, sf_dir).collect()
    e = table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", as_double(F.col("embedding")).alias("emb"))
    mean_rows = (
        v.select(F.posexplode("emb").alias("i", "x"))
        .groupBy("i")
        .agg(F.avg("x").alias("mu"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n = mean_rows[0]["n"]
    mu = np.zeros(d_tbl)
    for r in mean_rows:
        mu[r["i"]] = r["mu"]
    G = np.zeros((d_tbl, d_tbl))
    for r in gram_rows:
        G[r["i"], r["j"]] = r["gram"]
    # covariance from the second moment: C = (G - n·μμᵀ) / (n-1)
    C = (G - n * np.outer(mu, mu)) / max(n - 1, 1)
    w, vecs = np.linalg.eigh(C)  # ascending eigenvalues
    order = np.argsort(w)[::-1][:n_components]
    basis = vecs[:, order].T  # (k, d)
    # sign convention: the largest-|entry| coordinate of each axis is
    # positive — eigh's sign is arbitrary, this makes output deterministic
    for k in range(basis.shape[0]):
        j = int(np.argmax(np.abs(basis[k])))
        if basis[k, j] < 0:
            basis[k] = -basis[k]
    bc = spark.sparkContext.broadcast((mu, basis))

    def _project(emb: pd.Series) -> pd.Series:
        mu_, basis_ = bc.value
        X = np.stack(emb.to_numpy()) - mu_
        Y = X @ basis_.T
        return pd.Series(list(np.round(Y, 4)))

    _project.__annotations__ = {"emb": pd.Series, "return": pd.Series}
    proj = F.pandas_udf(_project, "array<double>")
    return v.select("vec_id", proj(F.col("emb")).alias("pc")).select(
        "vec_id", F.posexplode("pc").alias("component", "value")
    )


# --- sequence packing -------------------------------------------------------

_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         len(string_split_regex(lower(text), '\\s+')) AS n_tokens,
         {_kbucket_sql('doc_id', _M32)} AS ord
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(floor(
         (sum(n_tokens) OVER (ORDER BY ord, doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tokens)
         / 2048.0) AS BIGINT) AS seq_id
FROM t
"""


@register("pack_sequences", oracle=_PACK_ORACLE)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack shuffled docs into ~2048-token training sequences: hash-order
    the corpus (deterministic shuffle), running token total, sequence id =
    tokens-before ÷ 2048.

    Distributed global cumulative sum — NO single-reducer window (the
    naive ``Window.orderBy`` global frame funnels the corpus through one
    task): bucket rows into order-preserving ranges, cumulative-sum
    WITHIN each range, then offset every range by the sum of the ranges
    before it. The offsets table is one row per range — driver-free,
    broadcast into the final join.

    The range id is a PURE EXPRESSION of the order key (equal-width
    buckets over the hash's [0, 2^32) domain), NOT
    ``repartitionByRange + spark_partition_id()``: sampled boundaries
    plus a nondeterministic partition id mean two executions of the same
    subtree (Catalyst does not always reuse the exchange) can disagree
    on range membership between the per-row pass and the offsets pass —
    silently corrupting the offsets. An expression-derived id is
    identical on every recomputation; the hash is uniform, so the equal-
    width buckets are balanced by construction."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(F.split(F.lower("text"), r"\s+")).alias("n_tokens"),
        _kbucket("doc_id", _M32).alias("ord"),
    )
    n_ranges = spark.sparkContext.defaultParallelism
    ranged = t.withColumn(
        "rng", (F.col("ord") / F.lit(float(_M32) / n_ranges)).cast("int")
    )
    w_in = (
        Window.partitionBy("rng")
        .orderBy("ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("cum_local", F.sum("n_tokens").over(w_in))
    # per-range totals: n_ranges rows — the tiny global window is over
    # range METADATA, never over the data
    w_prev = (
        # lit(0) partition key silences the benign "No Partition Defined"
        # warning; execution over the #buckets metadata rows is unchanged
        Window.partitionBy(meta_part("rng"))
        .orderBy("rng")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        local.groupBy("rng")
        .agg(F.sum("n_tokens").alias("rng_total"))
        .withColumn(
            "offset", F.coalesce(F.sum("rng_total").over(w_prev), F.lit(0))
        )
        .select("rng", "offset")
    )
    return local.join(F.broadcast(offsets), "rng").select(
        "doc_id",
        "n_tokens",
        F.floor(
            (F.col("cum_local") + F.col("offset") - F.col("n_tokens"))
            / F.lit(2048.0)
        ).alias("seq_id"),
    )


# --- skew-mitigation forms (result-identical to naive; oracle is naive) -----

_SALTED_ORACLE = f"""
WITH dim AS (
  SELECT event_type, count(*) AS type_total FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, dim.type_total
FROM events e JOIN dim USING (event_type)
"""


@register("join_skew_salted", oracle=_SALTED_ORACLE)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join on a 5-value key (events.event_type — skewed by
    construction): hot keys spread over 8 salt sub-partitions, dim rows
    replicated 8×. Result-identical to the plain join the oracle runs;
    the payoff is reducer balance when one key owns most of the fact
    table. AQE skew-split covers sort-merge joins; this is the manual
    form for the cases it can't rewrite."""
    ev = table(spark, sf_dir, "events").select("event_id", "event_type")
    dim = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("type_total")
    )
    return salted_join(ev, dim, on=["event_type"], n_salts=8).select(
        "event_id", "event_type", "type_total"
    )


_TWOPHASE_ORACLE = f"""
SELECT event_type,
       count(*) AS n,
       {oracle_sum('value')} AS sum_value,
       max(value) AS max_value
FROM events GROUP BY event_type
"""


@register("agg_two_phase_skew", oracle=_TWOPHASE_ORACLE)
def agg_two_phase_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase (salted) aggregation over the same 5-value hot key:
    (key, salt) partial shuffle → key final shuffle. Algebraically exact
    for decomposable aggregates — the oracle is the naive GROUP BY."""
    from trireme_spark.parity import dsum

    ev = table(spark, sf_dir, "events")
    partial = (
        ev.withColumn(
            "_salt", F.pmod(F.xxhash64(F.struct("event_id")), F.lit(8))
        )
        .groupBy("event_type", "_salt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            dsum("value").alias("_s"),
            F.max("value").alias("_m"),
        )
    )
    # final phase re-sums the partials through the same decimal path: the
    # per-salt partials are exact 6-dp decimals (they round-trip through
    # double losslessly below 1e9), so the two-phase total equals the
    # oracle's single decimal SUM exactly.
    return partial.groupBy("event_type").agg(
        F.sum("_n").alias("n"),
        # dsum_wide: _s is a per-salt partial TOTAL (corpus-growing);
        # this final phase folds 8 salt rows per type, wide is free
        # (r15 audit).
        dsum_wide("_s").alias("sum_value"),
        F.max("_m").alias("max_value"),
    )


# --- dedup clustering: connected components ---------------------------------

_CC_ORACLE = """
WITH RECURSIVE
e AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM documents a JOIN documents b
    ON a.source = b.source AND a.lang = b.lang
   AND abs(a.n_chars - b.n_chars) <= 2
   AND a.doc_id <> b.doc_id
),
reach(v, c) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.c FROM reach r JOIN e ON e.src = r.v
)
SELECT v AS doc_id,
       min(c) AS component_id,
       (v = min(c)) AS is_canonical
FROM reach GROUP BY v
"""


@register("dedup_connected_components", oracle=_CC_ORACLE)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clustering: connected components over a similarity
    edge set, canonical survivor = min doc_id per component.

    Pairwise dedup alone over-deletes chains (A~B, B~C is ONE group of
    three, not two independent pairs); this closes the relation. The edge
    set here (same source+lang, n_chars within 2 — cheap blocking-style
    similarity) keeps the oracle's recursive CTE tractable; the operator
    accepts any (src, dst) pair table, e.g. dedup_fuzzy_minhash output.
    Iterative min-label propagation with pointer jumping: one join and
    one groupBy per round, stopped when every edge's endpoints share a
    label — see operators/graph.py for the 100 TB notes
    (large-star/small-star).
    """
    from trireme_spark.operators.graph import connected_components

    d = table(spark, sf_dir, "documents")
    a = d.select(
        F.col("doc_id").alias("src"),
        F.col("source").alias("src_source"),
        F.col("lang").alias("src_lang"),
        F.col("n_chars").alias("src_n"),
    )
    b = d.select(
        F.col("doc_id").alias("dst"),
        F.col("source").alias("dst_source"),
        F.col("lang").alias("dst_lang"),
        F.col("n_chars").alias("dst_n"),
    )
    edges = a.join(
        b,
        (F.col("src_source") == F.col("dst_source"))
        & (F.col("src_lang") == F.col("dst_lang"))
        & (F.abs(F.col("src_n") - F.col("dst_n")) <= 2)
        & (F.col("src") < F.col("dst")),
    ).select("src", "dst")
    cc = connected_components(
        d.select("doc_id"), edges, id_col="doc_id"
    )
    return cc.select(
        "doc_id",
        F.col("component").alias("component_id"),
        (F.col("doc_id") == F.col("component")).alias("is_canonical"),
    )


# --- reshape: unpivot / melt ------------------------------------------------

_UNPIVOT_ORACLE = """
WITH m AS (
  SELECT doc_id,
         CAST(n_chars AS DOUBLE) AS chars,
         CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE)
           AS tokens,
         CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
           AS spaces
  FROM documents
)
SELECT doc_id, metric, value FROM m
UNPIVOT (value FOR metric IN (chars, tokens, spaces))
"""


@register("reshape_unpivot", oracle=_UNPIVOT_ORACLE)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (melt): per-doc metrics unpivoted to
    (doc_id, metric, value) — the feature-store normalization step.
    Native ``DataFrame.unpivot`` (Spark's Expand node: one pass, rows×3
    output, no shuffle, no Python)."""
    d = table(spark, sf_dir, "documents")
    wide = d.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("chars"),
        F.size(F.split(F.lower("text"), r"\s+"))
        .cast("double")
        .alias("tokens"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
        )
        .cast("double")
        .alias("spaces"),
    )
    return wide.unpivot(
        ids=["doc_id"],
        values=["chars", "tokens", "spaces"],
        variableColumnName="metric",
        valueColumnName="value",
    )


_NTILE_ORACLE = """
SELECT event_id, event_type,
       NTILE(4) OVER (PARTITION BY event_type
                      ORDER BY value, event_id) AS quartile
FROM events
"""


@register("win_ntile_bucket", oracle=_NTILE_ORACLE)
def win_ntile_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) quartile assignment per event_type (unique tie-break via
    event_id so both engines bucket identically)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id", "event_type", F.ntile(4).over(w).alias("quartile")
    )


# --- ETL robustness: corrupt-record quarantine ------------------------------

_QUARANTINE_ORACLE = """
WITH p AS (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0 THEN substr(props, 1, 4)
              ELSE props END AS props
  FROM events
)
SELECT event_id,
       CASE WHEN json_valid(props)
            THEN CAST(props ->> '$.k' AS INTEGER) END AS k,
       NOT json_valid(props) AS quarantined
FROM p
"""


@register("etl_corrupt_quarantine", oracle=_QUARANTINE_ORACLE)
def etl_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine: parse JSON permissively, route
    unparseable rows to a quarantine flag instead of failing the job —
    the non-negotiable ingestion pattern at 100 TB, where some records
    are ALWAYS malformed. Corruption is planted deterministically (every
    7th record truncated) since the fixture is 100% valid; ``from_json``
    yields NULL on bad input (never throws, even under ANSI), so the
    flag is a null-check against a guaranteed-non-null source field."""
    ev = table(spark, sf_dir, "events")
    planted = ev.select(
        "event_id",
        F.when(
            F.col("event_id") % 7 == 0, F.substring("props", 1, 4)
        ).otherwise(F.col("props")).alias("props"),
    )
    # PERMISSIVE from_json returns an ALL-NULL struct (not NULL) for
    # malformed input, so a null-check on the struct can't detect
    # corruption — the canonical detector is the _corrupt_record column,
    # which carries the raw text only for rows that failed to parse.
    parsed = F.from_json(
        "props",
        "k INT, _corrupt_record STRING",
        {"columnNameOfCorruptRecord": "_corrupt_record"},
    )
    return planted.select(
        "event_id",
        parsed.getField("k").alias("k"),
        parsed.getField("_corrupt_record").isNotNull().alias("quarantined"),
    )


# --- ANSI-safe arithmetic ----------------------------------------------------

_TRY_ORACLE = """
SELECT event_id,
       value / NULLIF(CAST(event_id % 5 AS DOUBLE), 0.0) AS safe_div,
       TRY_CAST(props AS DOUBLE) AS bad_cast,
       TRY_CAST(substr(CAST(event_id AS VARCHAR), 1, 18) AS BIGINT)
         AS id_parse
FROM events
"""


@register("fn_try_arithmetic", oracle=_TRY_ORACLE)
def fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode-safe arithmetic: Spark 4 runs with ansi.enabled=true, so
    bare division-by-zero and invalid casts THROW mid-job — at 100 TB a
    single bad row would kill an hours-long stage. The try_* family turns
    those into NULLs: try_divide (mirrored by NULLIF in the oracle) and
    try_cast on a non-numeric string and a numeric one."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.try_divide(
            F.col("value"), (F.col("event_id") % 5).cast("double")
        ).alias("safe_div"),
        F.col("props").try_cast("double").alias("bad_cast"),
        F.substring(F.col("event_id").cast("string"), 1, 18)
        .try_cast("long")
        .alias("id_parse"),
    )


# --- source-mixture sampling -------------------------------------------------

_MIXTURE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source,
         5 * (CAST(substr(source, 4) AS INT) % 10) + 10 AS rate_pct
  FROM documents
)
SELECT doc_id, source, rate_pct
FROM d
WHERE {_kbucket_sql('doc_id', 100)} < rate_pct
"""


@register("sample_source_mixture", oracle=_MIXTURE_ORACLE)
def sample_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture sampling — THE data-mixture knob of a
    pretraining build: each source (domain) keeps a different fraction of
    its documents (here a deterministic 10–55% schedule derived from the
    source id; in production the weights come from the mixture config).
    Hash-based keep decisions make the mixture reproducible on any
    machine, any partitioning, any data subset — and re-runnable
    incrementally, because membership depends only on (doc_id, rate).

    Scale design: pure per-row algebra — the rate lookup is an expression
    on the source column (a real config would broadcast-join a tiny
    weights table); no shuffle, no RNG, no state."""
    d = table(spark, sf_dir, "documents")
    rate = (
        F.lit(5) * (F.substring("source", 4, 10).cast("int") % 10) + 10
    ).alias("rate_pct")
    return d.select("doc_id", "source", rate).where(
        _kbucket("doc_id", 100) < F.col("rate_pct")
    )


# --- long-document chunking --------------------------------------------------

_CHUNK_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_id,
       array_to_string(
         list_slice(toks, i * 32 + 1,
                    least((i + 1) * 32, len(toks))), ' ') AS chunk_text,
       least((i + 1) * 32, len(toks)) - i * 32 AS n_chunk_tokens
FROM t, unnest(range(CAST(ceil(len(toks) / 32.0) AS BIGINT))) AS u(i)
"""


@register("text_chunk_long_docs", oracle=_CHUNK_ORACLE)
def text_chunk_long_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking — the complement of pack_sequences: any
    document longer than the window splits into consecutive fixed-size
    token chunks (32 here so the fixture actually multi-chunks; 2048/4096
    in production), each re-serialized with its position. Downstream,
    packing and chunking together normalize an arbitrary corpus into
    window-sized training rows.

    Scale design: one codegen'd posexplode over an in-row sequence — the
    fan-out is per-document work with no shuffle at all; slice/join are
    JVM array ops, no Python in the row path."""
    d = table(spark, sf_dir, "documents")
    toks = tokenize("text")
    base = d.select("doc_id", toks.alias("toks"))
    n_chunks = F.ceil(F.size("toks") / F.lit(32.0)).cast("int")
    return base.select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias(
            "chunk_id", "_i"
        ),
        "toks",
    ).select(
        "doc_id",
        "chunk_id",
        F.array_join(
            F.slice(F.col("toks"), F.col("chunk_id") * 32 + 1, 32), " "
        ).alias("chunk_text"),
        (
            F.least((F.col("chunk_id") + 1) * 32, F.size("toks"))
            - F.col("chunk_id") * 32
        ).alias("n_chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# split_leakage_safe — group-aware train/test split (no contamination)
# ---------------------------------------------------------------------------

_LEAK_ORACLE = """
SELECT doc_id, source,
       CASE WHEN CAST(('0x' || substr(md5(source || '|split1'), 1, 8))
                 AS BIGINT) % 10 < 8
            THEN 'train' ELSE 'test' END AS split
FROM documents
"""


@register("split_leakage_safe", oracle=_LEAK_ORACLE)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware train/test split: the unit of assignment is the
    SOURCE (crawl domain / feed), not the document — every doc from one
    source lands on the same side. This is the leakage-safe upgrade of
    split_train_holdout: near-duplicates and templated families cluster
    within sources, so a doc-level split leaks shared content across
    the boundary and inflates eval scores; group-level assignment
    closes that channel by construction (the same doctrine as
    cluster-aware dedup splits — swap `source` for any group key, e.g.
    the minhash-cluster label, and the machinery is unchanged).

    Scale design: assignment = seeded md5-prefix of the GROUP KEY — a
    codegen'd projection, no assignment table, no join, no shuffle;
    reproducible on any cluster/partitioning. Group keys never
    collect: the hash IS the lookup."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("source"), F.lit("|split1"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    return d.select(
        "doc_id",
        "source",
        F.when(bucket < 8, "train").otherwise("test").alias("split"),
    )


# ---------------------------------------------------------------------------
# embed_outlier_centroid_distance — embedding-space outlier screen
# ---------------------------------------------------------------------------

_EMB_OUT_ORACLE = """
WITH dims AS (
  SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, LATERAL (SELECT unnest(range(1, 65)) AS i)
), cen AS (
  SELECT pos,
         CAST(SUM(CAST(val AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS c
  FROM dims GROUP BY pos
), d2 AS (
  SELECT vec_id,
         CAST(SUM(CAST(ROUND((val - c) * (val - c), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) AS dist2
  FROM dims JOIN cen USING (pos)
  GROUP BY vec_id
)
SELECT vec_id, ROUND(dist2, 6) AS dist2
FROM d2 ORDER BY dist2 DESC, vec_id ASC LIMIT 5
"""


@register("embed_outlier_centroid_distance", oracle=_EMB_OUT_ORACLE)
def embed_outlier_centroid_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier screen: the top-1% of vectors by squared
    distance to the CORPUS CENTROID — the cheap first-pass curation
    filter that catches encoder failures, empty-input embeddings, and
    off-manifold junk before they poison clustering or ANN training
    (the per-cluster variant swaps the global centroid for the k-means
    assignment's centroid — same algebra, keyed by cluster).

    Exactness: per-dimension centroid from decimal-exact sums; squared
    deviations quantize to 12 dp BEFORE the order-independent decimal
    sum (both engines quantize identically, so partial-sum order can't
    drift). Top-5 cut on the rounded distance with vec_id tie-break.

    Scale design: ONE posexplode pass → a 64-row centroid aggregate
    (bounded model state, broadcast back) → one vec-keyed sum →
    TakeOrderedAndProject. At 100 TB the centroid is still 64 rows and
    the pipeline is two keyed shuffles; nothing corpus-sized ever sits
    on the driver."""
    e = table(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "pos", F.col("v").cast("double").alias("val"))
    cen = dims.groupBy("pos").agg(
        (dsum("val") / F.count(F.lit(1))).alias("c")
    )
    term = F.round(
        (F.col("val") - F.col("c")) * (F.col("val") - F.col("c")), 12
    ).cast("decimal(38,12)")
    d2 = (
        dims.join(F.broadcast(cen), "pos")
        .groupBy("vec_id")
        .agg(F.sum(term).cast("double").alias("dist2"))
    )
    return (
        d2.select("vec_id", F.round("dist2", 6).alias("dist2"))
        .orderBy(F.col("dist2").desc(), F.col("vec_id").asc())
        .limit(5)
    )


# ---------------------------------------------------------------------------
# embed_similarity_histogram — corpus geometry diagnostic
# ---------------------------------------------------------------------------

_SIMHIST_ORACLE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), pairs AS (
  SELECT a.vec_id, b.vec_id AS bid,
         list_sum(list_transform(range(64),
             i -> a.emb[CAST(i AS INT)+1] * b.emb[CAST(i AS INT)+1]))
           / (sqrt(list_sum(list_transform(range(64),
                i -> a.emb[CAST(i AS INT)+1] * a.emb[CAST(i AS INT)+1])))
              * sqrt(list_sum(list_transform(range(64),
                i -> b.emb[CAST(i AS INT)+1] * b.emb[CAST(i AS INT)+1]))))
           AS cos
  FROM e a JOIN e b
    ON b.vec_id = (a.vec_id + 37) % (SELECT COUNT(*) FROM e)
   AND b.vec_id <> a.vec_id
)
SELECT CAST(FLOOR((cos + 1.0) * 10) AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM pairs GROUP BY 1
"""


@register("embed_similarity_histogram", oracle=_SIMHIST_ORACLE)
def embed_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine HISTOGRAM over a deterministic 1-per-vector pair
    sample (partner = (id + 37) mod n) — the corpus-geometry
    diagnostic behind embedding QA: a healthy corpus is a wide bump
    near 0-0.3; a spike near 1.0 means duplicate/collapsed vectors
    (encoder failure or dedup leak), a right-shifted mass means
    anisotropy that silently inflates every ANN similarity threshold.
    This is the measurement that CALIBRATES dedup_semantic's 0.95 and
    the IVF probe counts.

    Scale design: the sample is a self-JOIN on a pure key expression
    (one hash shuffle, exactly n pairs — never n²) and the histogram
    is a 20-bucket aggregate; sample density is a knob (more offsets =
    more pairs), cost stays linear. Bucket edges floor on (cos+1) so
    the [−1,1] domain maps to integer buckets without a signed-zero
    edge."""
    e = table(spark, sf_dir, "embeddings")
    from trireme_spark.operators.similarity import as_double

    v = e.select("vec_id", as_double(F.col("embedding")).alias("emb"))
    n = v.count()
    a = v.alias("a")
    b = v.select(
        F.col("vec_id").alias("bid"), F.col("emb").alias("bemb")
    ).alias("b")
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda s, z: s + z
    )
    pairs = a.join(
        b,
        (F.col("bid") == (F.col("vec_id") + 37) % n)
        & (F.col("bid") != F.col("vec_id")),
    ).select(
        (
            dot(F.col("emb"), F.col("bemb"))
            / (
                F.sqrt(dot(F.col("emb"), F.col("emb")))
                * F.sqrt(dot(F.col("bemb"), F.col("bemb")))
            )
        ).alias("cos")
    )
    return pairs.groupBy(
        F.floor((F.col("cos") + 1.0) * 10).cast("int").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# embed_procrustes_align — orthogonal alignment of two embedding spaces
# ---------------------------------------------------------------------------

@register("embed_procrustes_align")  # rows-only: SVD factors are
# engine-specific; tests/test_quality.py gates recovery exactly
def embed_procrustes_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orthogonal Procrustes ALIGNMENT of two embedding spaces — the
    model-migration primitive: when the encoder is retrained, old and
    new vectors live in different bases and every stored similarity
    breaks; the fix is the rotation R = UVᵀ from SVD(SᵀT) that maps
    old→new, letting historical vectors keep serving. Here the target
    space is a PLANTED orthogonal transform (dimension rotation by 7 +
    sign flip on odd slots), so recovery is checkable: alignment MSE
    must vanish and R must reproduce the planted permutation exactly
    (pytest gates both; the key reports the metrics).

    Scale design (the PCA doctrine): the 64×64 cross-covariance SᵀT
    accumulates DISTRIBUTED via the posexplode pair aggregation — the
    shuffle carries d² cells, never vectors; the driver holds only the
    d×d matrix for SVD (bounded model state, corpus-independent); the
    alignment-error pass re-broadcasts R as literal expressions. At
    100 TB the same three passes apply — only the keyed aggs widen."""
    import numpy as np

    from trireme_spark.operators.similarity import as_double

    e = table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", as_double(F.col("embedding")).alias("s"))
    d = 64
    # planted target transform: t[i] = sign(i) * s[(i+7) % d]
    tgt = v.select(
        "vec_id",
        F.expr(
            "transform(sequence(0, 63), i -> "
            "CASE WHEN i % 2 = 1 THEN -s[(i + 7) % 64] "
            "ELSE s[(i + 7) % 64] END)"
        ).alias("t"),
        "s",
    )
    pairs = tgt.select(
        F.posexplode("s").alias("i", "si"), F.col("t")
    ).select("i", "si", F.posexplode("t").alias("j", "tj"))
    cross = (
        pairs.groupBy("i", "j")
        .agg(F.sum(F.col("si") * F.col("tj")).alias("m"))
        .collect()
    )
    M = np.zeros((d, d))
    for r in cross:
        M[r["i"], r["j"]] = r["m"]
    U, _, Vt = np.linalg.svd(M)
    R = U @ Vt  # maps source → target
    # alignment error, distributed: ||sR − t||² per vector
    r_flat = [float(x) for x in R.ravel()]
    r_lit = F.array(*[F.lit(x) for x in r_flat])
    aligned = tgt.withColumn("r", r_lit).select(
        "vec_id",
        "t",
        F.expr(
            "transform(sequence(0, 63), j -> "
            "aggregate(sequence(0, 63), 0.0D, "
            "(acc, i) -> acc + s[i] * r[i * 64 + j]))"
        ).alias("sr"),
    )
    err = aligned.select(
        F.aggregate(
            F.zip_with(
                "sr", "t", lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("e")
    ).agg(F.avg("e").alias("mse"))
    mse = float(err.first()["mse"])
    ortho_err = float(np.abs(R @ R.T - np.eye(d)).max())
    # recovered permutation accuracy: each row of R should be ±e_perm(i);
    # row-vector convention: (sR)[j] = Σᵢ s[i]·R[i,j] and t[j] = ±s[(j+7)%d],
    # so row i's single slot sits at j = (i − 7) mod d
    hits = 0
    for i in range(d):
        j = int(np.argmax(np.abs(R[i])))
        if (
            j == (i - 7) % d
            and abs(abs(R[i, j]) - 1.0) < 1e-8
            and np.abs(R[i]).sum() - abs(R[i, j]) < 1e-8
        ):
            hits += 1
    return spark.createDataFrame(
        [
            ("alignment_mse", mse),
            ("orthogonality_err", ortho_err),
            ("perm_recovery", hits / d),
        ],
        "metric string, value double",
    )


# ---------------------------------------------------------------------------
# sample_temperature_weights — temperature-scaled mixture weights
# ---------------------------------------------------------------------------

_TEMP_MIX_ORACLE = """
WITH c AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), w AS (
  SELECT source, n_docs, ROUND(sqrt(n_docs), 6) AS raw_w FROM c
), z AS (
  SELECT CAST(SUM(CAST(raw_w AS DECIMAL(27,6))) AS DOUBLE) AS zsum,
         CAST(SUM(n_docs) AS DOUBLE) AS n_total
  FROM w
)
SELECT w.source, w.n_docs,
       ROUND(w.raw_w / z.zsum, 6) AS sample_prob,
       ROUND((w.raw_w / z.zsum) * z.n_total / w.n_docs, 6)
           AS epochs_per_pass
FROM w CROSS JOIN z
"""


@register("sample_temperature_weights", oracle=_TEMP_MIX_ORACLE)
def sample_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights (alpha = 0.5, i.e.
    sqrt) — THE multilingual/multi-source rebalancing rule (XLM-R,
    mT5 family): sampling probability q_i ∝ n_i^alpha upweights small
    sources without letting giants dominate. epochs_per_pass = how many
    times each source's data repeats per epoch of the mixed corpus —
    the number a data engineer checks against the repetition-harm
    budget before training. Complements sample_source_mixture (which
    APPLIES per-source keep rates); this key DERIVES the rates from
    corpus statistics.

    Scale design: one map-side-combined keyed count, then arithmetic
    over a dimension-sized (|sources|-row) table. Parity: sqrt output
    rounds to 6dp before the order-independent decimal normalizer sum
    (parity.py doctrine)."""
    d = table(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = c.select(
        "source",
        "n_docs",
        F.round(F.sqrt("n_docs"), 6).alias("raw_w"),
    )
    z = w.agg(
        dsum("raw_w").alias("zsum"),
        F.sum("n_docs").cast("double").alias("n_total"),
    )
    return w.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        F.round(F.col("raw_w") / F.col("zsum"), 6).alias("sample_prob"),
        F.round(
            (F.col("raw_w") / F.col("zsum"))
            * F.col("n_total")
            / F.col("n_docs"),
            6,
        ).alias("epochs_per_pass"),
    )
