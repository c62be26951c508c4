"""Search-engine keys — the Solr side of the reference's
Cassandra→Solr migration surface (SURVEY.md §1.1), re-expressed as
DataFrame algebra over the ``documents`` table: BM25 ranked retrieval,
faceting, prefix suggest, and highlighting. A user who ran these against
the search sink runs the same semantics here, batch-side.

Scale shapes: ranking is explode → keyed tf/df aggregations → broadcast
of the QUERY-sized statistics (never the corpus); facets are one
grouping pass over the filtered scan; suggest is a bounded-prefix
aggregation folding into TakeOrderedAndProject; highlighting is a
codegen'd regexp projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trireme_spark.functions.text import tokenize
from trireme_spark.registry import register
from trireme_spark.sources.io import table

# deterministic multi-term query over the fixture vocabulary; mirrored
# literally in the oracles
_QUERY_TERMS = ["hash", "merge", "vector"]
_Q_SQL = ", ".join(f"'{t}'" for t in _QUERY_TERMS)

# Lucene-flavored BM25 constants
_K1 = 1.2
_B = 0.75

_BM25_ORACLE = f"""
WITH base AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl FROM base
), tf AS (
  SELECT doc_id, tok AS term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl
  FROM (SELECT doc_id, unnest(toks) AS tok, len(toks) AS dl FROM base)
  WHERE tok IN ({_Q_SQL})
  GROUP BY doc_id, tok
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         CAST(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * ({_K1} + 1.0))
           / (tf + {_K1} * (1.0 - {_B} + {_B} * dl / avgdl))
           AS DECIMAL(27,6)) AS s
  FROM tf JOIN df USING (term) CROSS JOIN stats
)
SELECT doc_id, ROUND(CAST(SUM(s) AS DOUBLE), 4) AS bm25
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT 10
"""


@register("search_bm25_topk", oracle=_BM25_ORACLE)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75, Lucene-style idf) for a
    fixed multi-term query, top-10 — the scoring core of the search
    sink the reference migrates into, run batch-side.

    Scale design: one explode → the tf aggregation keeps ONLY query
    terms (the filter rides the explode, so the shuffle carries
    |query|·|matching docs| rows, not the corpus postings); df and the
    corpus stats (N, avgdl) are query-/1-row-sized broadcasts back into
    the scored stream; top-10 folds into TakeOrderedAndProject.
    Per-(doc,term) scores decimal-quantize before the order-independent
    sum; ROUND(4) absorbs ln() ulp drift (the LM-key parity contract)."""
    d = table(spark, sf_dir, "documents")
    base = d.select("doc_id", tokenize("text").alias("toks"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size("toks")).alias("avgdl"),
    )
    tf = (
        base.select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .where(F.col("term").isin(_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.any_value("dl").alias("dl"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    s = (
        idf
        * (F.col("tf") * (_K1 + 1.0))
        / (
            F.col("tf")
            + _K1 * (1.0 - _B + _B * F.col("dl") / F.col("avgdl"))
        )
    ).cast("decimal(27,6)")
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", s.alias("s"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("s").cast("double"), 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


_FACETS_ORACLE = """
WITH hits AS (
  SELECT lang, source FROM documents
  WHERE list_contains(string_split_regex(lower(text), '\\s+'), 'hash')
)
SELECT 'lang' AS facet_field, lang AS facet_value, COUNT(*) AS n
FROM hits GROUP BY lang
UNION ALL
SELECT 'source' AS facet_field, source AS facet_value, COUNT(*) AS n
FROM hits GROUP BY source
"""


@register("search_facets", oracle=_FACETS_ORACLE)
def search_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted search counts — per-field value histograms over the
    result set of a term query ('hash'), the Solr facet response shape.

    Scale design: the match predicate evaluates once in the scan's
    codegen stage; each facet is a map-side-combined aggregation over a
    dimension-sized key space, unioned — at 100× you'd fuse them into
    one grouping-sets pass (agg_grouping_sets machinery) to halve the
    scan; two facets over one cached-by-OS scan doesn't earn it."""
    d = table(spark, sf_dir, "documents")
    hits = d.where(F.array_contains(tokenize("text"), "hash")).select(
        "lang", "source"
    )
    by_lang = hits.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("lang").alias("facet_field"),
        F.col("lang").alias("facet_value"),
        "n",
    )
    by_source = (
        hits.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("source").alias("facet_field"),
            F.col("source").alias("facet_value"),
            "n",
        )
    )
    return by_lang.unionByName(by_source)


_SUGGEST_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
  FROM documents
)
SELECT tok AS suggestion, COUNT(*) AS n
FROM toks WHERE tok LIKE 's%'
GROUP BY tok ORDER BY n DESC, tok LIMIT 10
"""


@register("search_prefix_suggest", oracle=_SUGGEST_ORACLE)
def search_prefix_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix autocomplete — top-10 completions of 's' by corpus
    frequency: the Solr suggester, batch-built.

    Scale design: prefix filter rides the explode (no full posting
    shuffle — only matching tokens move), one keyed aggregation,
    TakeOrderedAndProject. A serving-side suggester would sink this
    aggregation to its index; the build is this exact plan."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokenize("text")).alias("tok"))
        .where(F.col("tok").startswith("s"))
        .groupBy(F.col("tok").alias("suggestion"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "suggestion")
        .limit(10)
    )


# ±3 words of context around the first 'merge' hit; pattern stays in the
# Java-regex ∩ RE2 subset (counted repeats + non-capturing groups, no
# lookaround) so both engines segment identically
_SNIPPET_RE = r"(?:\S+\s+){0,3}merge(?:\s+\S+){0,3}"

_HIGHLIGHT_ORACLE = f"""
SELECT doc_id,
       regexp_extract(lower(text), '{_SNIPPET_RE}') AS snippet
FROM documents
WHERE list_contains(string_split_regex(lower(text), '\\s+'), 'merge')
"""


@register("search_highlight", oracle=_HIGHLIGHT_ORACLE)
def search_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search highlighting — the first 'merge' hit with ±3 words of
    context per matching doc (the Solr highlighter response, batch
    form). Pure codegen'd regexp projection over the filtered scan —
    linear, shuffle-free at any scale."""
    d = table(spark, sf_dir, "documents")
    return d.where(
        F.array_contains(tokenize("text"), "merge")
    ).select(
        "doc_id",
        F.regexp_extract(F.lower("text"), _SNIPPET_RE, 0).alias("snippet"),
    )


# ---------------------------------------------------------------------------
# search_boolean_minmatch — Lucene boolean query with minimum_should_match
# ---------------------------------------------------------------------------

_MUST = "hash"
_MUST_NOT = "broken"
_SHOULD = ["merge", "vector", "stream", "index"]
_SHOULD_SQL = ", ".join(f"'{t}'" for t in _SHOULD)

_BOOLQ_ORACLE = f"""
WITH base AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
  FROM documents
), per_doc AS (
  SELECT doc_id,
         CAST(count_if(tok = '{_MUST}') > 0 AS BOOLEAN) AS has_must,
         CAST(count_if(tok = '{_MUST_NOT}') > 0 AS BOOLEAN) AS has_not,
         CAST(COUNT(DISTINCT CASE WHEN tok IN ({_SHOULD_SQL})
                                  THEN tok END) AS BIGINT) AS n_should
  FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
  GROUP BY doc_id
)
SELECT doc_id, n_should
FROM per_doc
WHERE has_must AND NOT has_not AND n_should >= 2
"""


@register("search_boolean_minmatch", oracle=_BOOLQ_ORACLE)
def search_boolean_minmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene/Solr boolean query semantics: ``+{_MUST} -{_MUST_NOT}
    (merge vector stream index)~2`` — a MUST term, a MUST_NOT term, and
    a SHOULD list with minimum_should_match=2, the filter language of
    every search engine (and of the reference's Solr sink). Returns
    matching docs with how many should-terms hit (coord factor input).

    Scale design: the three clause families fold into ONE explode +
    ONE doc-keyed aggregation — boolean algebra over count_if plus a
    conditional COUNT(DISTINCT) for the should-set (the two-phase
    distinct plan handles it; the distinct set is bounded by the query
    length, not the corpus). No per-clause scans, no joins: adding
    clauses adds expressions. The same predicate tree pushed into a
    posting-list index is what Lucene does; over raw parquet this is
    its one-pass scan equivalent."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokenize("text")).alias("tok")
    )
    per_doc = tok.groupBy("doc_id").agg(
        (F.count_if(F.col("tok") == _MUST) > 0).alias("has_must"),
        (F.count_if(F.col("tok") == _MUST_NOT) > 0).alias("has_not"),
        F.count_distinct(
            F.when(F.col("tok").isin(_SHOULD), F.col("tok"))
        ).alias("n_should"),
    )
    return per_doc.where(
        F.col("has_must") & ~F.col("has_not") & (F.col("n_should") >= 2)
    ).select("doc_id", "n_should")


# ---------------------------------------------------------------------------
# search_phrase_query — positional postings + adjacency phrase match
# ---------------------------------------------------------------------------

_PHRASE = ("hash", "merge")  # two-term phrase over the fixture vocabulary

_PHRASE_ORACLE = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(
           ' ' || lower(text) || ' ',
           ' {_PHRASE[0]} {_PHRASE[1]} ')) AS BIGINT) AS n_hits
FROM documents
WHERE ' ' || lower(text) || ' ' LIKE '% {_PHRASE[0]} {_PHRASE[1]} %'
"""


@register("search_phrase_query", oracle=_PHRASE_ORACLE)
def search_phrase_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase query ("{0} {1}") answered from POSITIONAL POSTINGS — the
    inverted-index structure search engines actually use: one posting
    row per (term, doc, position), phrase match = same doc with
    adjacent positions. Bag-of-words retrieval (search_bm25_topk)
    cannot see word ORDER; this is the operator that can, and the
    index-build side is exactly what a Spark→Solr loader ships.

    Scale design: postings filter to the QUERY terms before any join
    (the shuffle carries |query|·|occurrences| rows, never corpus
    postings), then one (doc, position)-keyed equi-join checks
    adjacency: term₂'s posting at pos+1 joins term₁'s at pos — a hash
    join on (doc_id, pos), no window, no re-scan of text. Overlapping
    hits count independently, mirrored by the oracle's non-overlapping
    regex count ONLY because distinct fixture tokens can't self-
    overlap at distance 1 — the docstring pins that assumption.
    n_hits per doc is a map-side-combined count.""".format(*_PHRASE)
    d = table(spark, sf_dir, "documents")
    post = d.select(
        "doc_id",
        F.posexplode(tokenize("text")).alias("pos", "term"),
    ).where(F.col("term").isin(*_PHRASE))
    t1 = post.where(F.col("term") == _PHRASE[0]).select(
        "doc_id", F.col("pos").alias("p1")
    )
    t2 = post.where(F.col("term") == _PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("p1")
    )
    hits = t1.join(t2, ["doc_id", "p1"])
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )


# ---------------------------------------------------------------------------
# search_hybrid_rrf — BM25 ⊕ vector retrieval via reciprocal rank fusion
# ---------------------------------------------------------------------------

_RRF_K = 60
_HYBRID_ORACLE = f"""
WITH base AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl FROM base
), tf AS (
  SELECT doc_id, tok AS term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl
  FROM (SELECT doc_id, unnest(toks) AS tok, len(toks) AS dl FROM base)
  WHERE tok IN ({_Q_SQL})
  GROUP BY doc_id, tok
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), bm AS (
  SELECT tf.doc_id,
         ROUND(CAST(SUM(CAST(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * ({_K1} + 1.0))
           / (tf + {_K1} * (1.0 - {_B} + {_B} * dl / avgdl))
           AS DECIMAL(27,6))) AS DOUBLE), 4) AS bm25
  FROM tf JOIN df USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id
), bm_rank AS (
  SELECT doc_id, r FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r
    FROM bm) WHERE r <= 100
), e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
vec AS (
  SELECT e.vec_id AS doc_id,
         ROUND(list_sum(list_transform(range(64),
               i -> q.qv[CAST(i AS INT)+1] * e.emb[CAST(i AS INT)+1]))
           / (sqrt(list_sum(list_transform(range(64),
               i -> q.qv[CAST(i AS INT)+1] * q.qv[CAST(i AS INT)+1])))
              * sqrt(list_sum(list_transform(range(64),
               i -> e.emb[CAST(i AS INT)+1] * e.emb[CAST(i AS INT)+1])))),
           6) AS cos
  FROM e CROSS JOIN q WHERE e.vec_id <> 0
), vec_rank AS (
  SELECT doc_id, r FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r
    FROM vec) WHERE r <= 100
), fused AS (
  SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id,
         FLOOR((COALESCE(1.0 / ({_RRF_K} + b.r), 0)
                + COALESCE(1.0 / ({_RRF_K} + v.r), 0)) * 1e9) / 1e9
             AS rrf,
         b.r AS bm25_rank, v.r AS vec_rank
  FROM bm_rank b FULL JOIN vec_rank v USING (doc_id)
)
SELECT doc_id, rrf, bm25_rank, vec_rank, rn FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rn FROM fused
) WHERE rn <= 10
"""


@register("search_hybrid_rrf", oracle=_HYBRID_ORACLE)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: lexical BM25 and dense-vector cosine rankings
    FUSED by reciprocal rank fusion (RRF, k=60) — the de-facto standard
    of modern search stacks (Elasticsearch/Vespa/Azure all ship exactly
    this): rank-space fusion needs no score normalization, and a doc
    missing from one ranking just contributes nothing there.

    Scale design: each leg is its own already-scaled plan (the BM25
    explode pipeline; the 1-query broadcast cosine pass) and TRUNCATES
    to its top-100 via TakeOrderedAndProject before ranks attach (over
    100 metadata rows — never a corpus-sized global window; docs
    outside a leg's shortlist contribute nothing to RRF, which is the
    production contract too). The fusion full-join runs over ≤200
    rows. RRF floor-quantizes at 1e-9 (sum of two
    exact reciprocals of small ints — identical doubles both engines);
    ranks break ties on doc_id so both rankings are total orders.
    documents.doc_id ≡ embeddings.vec_id is the fixture's id bridge
    (the multimodal_struct contract)."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(tokenize("text")).alias("term"),
        F.size(tokenize("text")).alias("dl"),
    ).where(F.col("term").isin(_QUERY_TERMS))
    stats = d.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(tokenize("text"))).alias("avgdl"),
    )
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    dfr = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    bm = (
        tf.join(F.broadcast(dfr), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (_K1 + 1.0))
                / (
                    F.col("tf")
                    + _K1
                    * (1.0 - _B + _B * F.col("dl") / F.col("avgdl"))
                )
            )
            .cast("decimal(27,6)")
            .alias("s"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("s").cast("double"), 4).alias("bm25"))
    )
    from pyspark.sql.window import Window as W

    from trireme_spark.parity import meta_part

    # each leg TRUNCATES to its top-100 via TakeOrderedAndProject
    # BEFORE ranking — production hybrid fusion never ranks the full
    # corpus (a doc outside a leg's shortlist contributes nothing to
    # RRF there), and the rank window then runs over 100 metadata rows
    # on a meta_part spec instead of a corpus-sized single reducer
    bm_top = bm.orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    ).limit(100)
    bm_rank = bm_top.select(
        "doc_id",
        F.row_number()
        .over(
            W.partitionBy(meta_part("doc_id")).orderBy(
                F.col("bm25").desc(), F.col("doc_id").asc()
            )
        )
        .alias("bm25_rank"),
    )
    e = table(spark, sf_dir, "embeddings")
    from trireme_spark.queries.llm_sim import as_double

    v = e.select("vec_id", as_double(F.col("embedding")).alias("emb"))
    qv = v.where(F.col("vec_id") == 0).select(
        F.col("emb").alias("qv")
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda s, x: s + x,
        )

    vec = (
        v.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                dot(F.col("qv"), F.col("emb"))
                / (
                    F.sqrt(dot(F.col("qv"), F.col("qv")))
                    * F.sqrt(dot(F.col("emb"), F.col("emb")))
                ),
                6,
            ).alias("cos"),
        )
    )
    vec_top = vec.orderBy(
        F.col("cos").desc(), F.col("doc_id").asc()
    ).limit(100)
    vec_rank = vec_top.select(
        "doc_id",
        F.row_number()
        .over(
            W.partitionBy(meta_part("doc_id")).orderBy(
                F.col("cos").desc(), F.col("doc_id").asc()
            )
        )
        .alias("vec_rank"),
    )
    fused = bm_rank.join(vec_rank, "doc_id", "full").select(
        "doc_id",
        (
            F.floor(
                (
                    F.coalesce(
                        1.0 / (_RRF_K + F.col("bm25_rank")), F.lit(0.0)
                    )
                    + F.coalesce(
                        1.0 / (_RRF_K + F.col("vec_rank")), F.lit(0.0)
                    )
                )
                * 1e9
            )
            / 1e9
        ).alias("rrf"),
        "bm25_rank",
        "vec_rank",
    )
    top = fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(
        10
    )
    w_rn = W.partitionBy(meta_part("doc_id")).orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return top.withColumn("rn", F.row_number().over(w_rn))


# ---------------------------------------------------------------------------
# search_more_like_this — Solr/Lucene MLT: seed-doc interesting terms
# ---------------------------------------------------------------------------

_MLT_SEED = 42
_MLT_MAX_QT = 10  # Solr mlt.maxqt: interesting-term budget

_MLT_STOP_SQL = ", ".join(f"'{s}'" for s in ["the", "a", "and", "of", "to", "in"])

_MLT_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     t -> t NOT IN ({_MLT_STOP_SQL}) AND t <> '') AS toks
  FROM documents
), n AS (SELECT COUNT(*) AS n_docs FROM base),
post AS (
  SELECT doc_id, tok AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
  GROUP BY doc_id, tok
), seed_tf AS (
  SELECT term, tf FROM post WHERE doc_id = {_MLT_SEED}
), seed_df AS (
  SELECT p.term, COUNT(DISTINCT p.doc_id) AS df
  FROM post p JOIN seed_tf s USING (term) GROUP BY p.term
), interesting AS (
  SELECT term, ROUND(ln(CAST(n_docs AS DOUBLE) / df), 6) AS idf
  FROM seed_tf JOIN seed_df USING (term) CROSS JOIN n
  ORDER BY ROUND(tf * ROUND(ln(CAST(n_docs AS DOUBLE) / df), 6), 6) DESC,
           term ASC
  LIMIT {_MLT_MAX_QT}
), scored AS (
  SELECT p.doc_id,
         ROUND(SUM(i.idf), 4) AS mlt_score,
         COUNT(*) AS n_shared
  FROM (SELECT DISTINCT doc_id, term FROM post) p
  JOIN interesting i USING (term)
  WHERE p.doc_id <> {_MLT_SEED}
  GROUP BY p.doc_id
)
SELECT doc_id, mlt_score, n_shared FROM scored
ORDER BY mlt_score DESC, doc_id ASC LIMIT 10
"""


@register("search_more_like_this", oracle=_MLT_ORACLE)
def search_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr MoreLikeThis: extract the seed document's ``interesting
    terms`` (top-10 by tf·idf, the mlt.maxqt budget) and rank the rest
    of the corpus by the summed idf of the interesting terms each doc
    shares — recommendation-by-content, the third retrieval mode beside
    BM25 (keyword) and kNN (dense).

    Scale design: the seed profile is ONE doc's postings (bounded by
    doc length); df is computed ONLY for seed terms — the corpus
    postings stream is filtered by a broadcast semi-join on the ≤|doc|
    seed-term set BEFORE any aggregation, so the df shuffle carries
    |seed terms|·|matching docs| rows, never the full vocabulary.
    The 10-row interesting-term table broadcasts back into the postings
    stream; scoring is one doc-keyed aggregation folding into
    TakeOrderedAndProject. idf quantizes to 6 dp before the ranking
    product and the order-independent SUM (ln() ulp doctrine)."""
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.filter(
            tokenize("text", drop_stopwords=True), lambda t: t != ""
        ).alias("toks"),
    )
    n_docs = base.agg(F.count(F.lit(1)).alias("n_docs"))
    post = (
        base.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    seed_tf = post.where(F.col("doc_id") == _MLT_SEED).select("term", "tf")
    # the seed-term semi-join runs BELOW the (doc_id, term) aggregation
    # (as the scale design above promises): the broadcast filter prunes
    # the token stream before the distinct shuffle, so the exchange
    # carries only seed-term tokens instead of the full postings grain;
    # non-seed tf is never consumed, so the agg is a plain distinct
    seed_posts = (
        base.select("doc_id", F.explode("toks").alias("term"))
        .join(F.broadcast(seed_tf.select("term")), "term")
        .select("term", "doc_id")
        .distinct()
    )
    seed_df = seed_posts.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df")
    )
    idf = F.round(
        F.log(F.col("n_docs").cast("double") / F.col("df")), 6
    )
    interesting = (
        seed_tf.join(F.broadcast(seed_df), "term")
        .crossJoin(F.broadcast(n_docs))
        .select("term", idf.alias("idf"), F.col("tf"))
        .orderBy(
            F.round(F.col("tf") * F.col("idf"), 6).desc(),
            F.col("term").asc(),
        )
        .limit(_MLT_MAX_QT)
        .select("term", "idf")
    )
    scored = (
        seed_posts.select("doc_id", "term")
        .where(F.col("doc_id") != _MLT_SEED)
        .join(F.broadcast(interesting), "term")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("idf"), 4).alias("mlt_score"),
            F.count(F.lit(1)).alias("n_shared"),
        )
    )
    return scored.orderBy(
        F.col("mlt_score").desc(), F.col("doc_id").asc()
    ).limit(10)


# ---------------------------------------------------------------------------
# search_spellcheck — did-you-mean via symmetric-delete blocking
# ---------------------------------------------------------------------------

_SPELL_QUERIES = ["merg", "vectr", "windoe", "batchh"]
_SPELL_Q_SQL = ", ".join(f"('{q}')" for q in _SPELL_QUERIES)

_SPELL_ORACLE = f"""
WITH vocab AS (
  SELECT tok AS term, COUNT(*) AS freq
  FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents)
  WHERE tok <> ''
  GROUP BY tok
), q(query) AS (VALUES {_SPELL_Q_SQL}),
cand AS (
  SELECT q.query, v.term, v.freq,
         levenshtein(q.query, v.term) AS edit_dist
  FROM q CROSS JOIN vocab v
  WHERE levenshtein(q.query, v.term) <= 1
)
SELECT query, term AS suggestion, freq, edit_dist
FROM cand
QUALIFY ROW_NUMBER() OVER (PARTITION BY query
                           ORDER BY freq DESC, term ASC) = 1
"""


@register("search_spellcheck", oracle=_SPELL_ORACLE)
def search_spellcheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr spellcheck ("did you mean"): each misspelled query term maps
    to the corpus-frequency-maximal vocabulary term within edit
    distance 1 — found WITHOUT brute-force Levenshtein against the
    vocabulary, via the same symmetric-delete blocking as
    dedup_fuzzy_names but asymmetric: the 4-row query side and the
    corpus vocabulary both expand to 1-deletion neighborhoods and meet
    on the variant key.

    Scale design: the vocabulary is language-bounded (the two-level
    doctrine — corpus collapses to distinct terms ONCE, with freq as
    the ranking payload); variant fan-out is |term|+1 per vocab row,
    pure column algebra; candidates equi-join on the variant and only
    candidates pay the exact Levenshtein; best-per-query is a 4-group
    window. The oracle is the BRUTE-FORCE scan, so blocking
    completeness is value-checked, not assumed."""
    d = table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokenize("text")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )

    def deletes(col: str) -> F.Column:
        return F.array_distinct(
            F.concat(
                F.array(F.col(col)),
                F.expr(
                    f"transform(sequence(0, length({col}) - 1), i -> "
                    f"concat(substring({col}, 1, i), "
                    f"substring({col}, i + 2, 1000)))"
                ),
            )
        )

    v = vocab.select(
        "term", "freq", F.explode(deletes("term")).alias("variant")
    )
    q = spark.createDataFrame(
        [(t,) for t in _SPELL_QUERIES], "query string"
    ).select("query", F.explode(deletes("query")).alias("variant"))
    cand = (
        v.join(F.broadcast(q), "variant")
        .select("query", "term", "freq")
        .distinct()
        .withColumn("edit_dist", F.levenshtein("query", "term"))
        .where(F.col("edit_dist") <= 1)
    )
    from pyspark.sql.window import Window as W

    best = W.partitionBy("query").orderBy(
        F.col("freq").desc(), F.col("term").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(best))
        .where(F.col("rn") == 1)
        .select("query", F.col("term").alias("suggestion"), "freq", "edit_dist")
    )


# ---------------------------------------------------------------------------
# search_pivot_facets — hierarchical (pivot) facet counts
# ---------------------------------------------------------------------------

_PIVOT_FACET_ORACLE = """
WITH hits AS (
  SELECT * FROM documents
  WHERE list_contains(string_split_regex(lower(text), '\\s+'), 'merge')
)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(COUNT(*)) OVER (PARTITION BY source) AS BIGINT)
         AS source_total
FROM hits GROUP BY source, lang
"""


@register("search_pivot_facets", oracle=_PIVOT_FACET_ORACLE)
def search_pivot_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr PIVOT facets (facet.pivot=source,lang): hierarchical value
    counts over a term query's result set — each (source, lang) leaf
    count plus its parent source total, the drill-down tree a search
    UI renders next to results (flat facets are search_facets; this is
    the nested form).

    Scale design: the term predicate rides the scan; ONE grouping pass
    produces the leaves and the parent totals come from a window over
    the LEAF table (|sources|×|langs| rows — dimension-sized), not a
    second corpus pass. Deeper pivots append group keys, never
    passes."""
    d = table(spark, sf_dir, "documents")
    hits = d.where(F.array_contains(tokenize("text"), "merge"))
    leaves = hits.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    from pyspark.sql.window import Window as W

    return leaves.select(
        "source",
        "lang",
        "n",
        F.sum("n").over(W.partitionBy("source")).alias("source_total"),
    )


# ---------------------------------------------------------------------------
# search_query_elevation — editorial result pinning (Solr elevate.xml)
# ---------------------------------------------------------------------------

_ELEVATED = [17, 4]  # editorially pinned doc_ids for the fixture query

_ELEVATION_ORACLE = f"""
WITH base AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl FROM base
), tf AS (
  SELECT doc_id, tok AS term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl
  FROM (SELECT doc_id, unnest(toks) AS tok, len(toks) AS dl FROM base)
  WHERE tok IN ({_Q_SQL})
  GROUP BY doc_id, tok
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         CAST(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * ({_K1} + 1.0))
           / (tf + {_K1} * (1.0 - {_B} + {_B} * dl / avgdl))
           AS DECIMAL(27,6)) AS s
  FROM tf JOIN df USING (term) CROSS JOIN stats
), bm AS (
  SELECT doc_id, ROUND(CAST(SUM(s) AS DOUBLE), 4) AS bm25
  FROM scored GROUP BY doc_id
), ranked AS (
  SELECT doc_id, bm25,
         CASE WHEN doc_id = 17 THEN 1 WHEN doc_id = 4 THEN 2 ELSE 0 END
           AS elev
  FROM bm
)
SELECT doc_id, bm25, (elev > 0) AS elevated, rn FROM (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY CASE WHEN elev > 0 THEN 0 ELSE 1 END, elev,
             bm25 DESC, doc_id) AS rn
  FROM ranked
) WHERE rn <= 10
"""


@register("search_query_elevation", oracle=_ELEVATION_ORACLE)
def search_query_elevation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr QueryElevationComponent (elevate.xml): editorially pinned
    documents rank FIRST in their configured order, organic BM25 order
    fills the rest — the merchandising/override layer every production
    search deployment ends up needing, expressed as a rank key, not a
    score hack (score boosting breaks when organic scores drift;
    explicit rank tiers don't).

    Scale design: the elevation table is configuration (2 rows,
    broadcast-as-expression); ranking adds one CASE tier to the
    existing BM25 top-k sort — same TakeOrderedAndProject fold, zero
    new passes. Elevated docs must still MATCH the query (this one
    does both — a non-matching pinned doc simply has no BM25 row),
    exactly Solr's default behavior."""
    # rebuild the scored set (the bm25 key truncates to top-10 BEFORE
    # elevation could reorder — elevation must rank over ALL matches)
    d = table(spark, sf_dir, "documents")
    base = d.select("doc_id", tokenize("text").alias("toks"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size("toks")).alias("avgdl"),
    )
    tf = (
        base.select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .where(F.col("term").isin(_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.any_value("dl").alias("dl"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    s = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (_K1 + 1.0))
                / (
                    F.col("tf")
                    + _K1
                    * (1.0 - _B + _B * F.col("dl") / F.col("avgdl"))
                )
            )
            .cast("decimal(27,6)")
            .alias("s"),
        )
    )
    bm = s.groupBy("doc_id").agg(
        F.round(F.sum("s").cast("double"), 4).alias("bm25")
    )
    elev = (
        F.when(F.col("doc_id") == _ELEVATED[0], 1)
        .when(F.col("doc_id") == _ELEVATED[1], 2)
        .otherwise(0)
    )
    ranked = bm.withColumn("elev", elev)
    top = ranked.orderBy(
        F.when(F.col("elev") > 0, 0).otherwise(1).asc(),
        F.col("elev").asc(),
        F.col("bm25").desc(),
        F.col("doc_id").asc(),
    ).limit(10)
    from pyspark.sql.window import Window as W

    from trireme_spark.parity import meta_part

    w_rn = W.partitionBy(meta_part("doc_id")).orderBy(
        F.when(F.col("elev") > 0, 0).otherwise(1).asc(),
        F.col("elev").asc(),
        F.col("bm25").desc(),
        F.col("doc_id").asc(),
    )
    return top.select(
        "doc_id",
        "bm25",
        (F.col("elev") > 0).alias("elevated"),
        F.row_number().over(w_rn).alias("rn"),
    )


# ---------------------------------------------------------------------------
# search_ndcg_eval — Ranking-quality evaluation of the BM25 retrieval:
# NDCG@10 / MRR@10 / precision@10 against a graded relevance label that is
# INDEPENDENT of the scoring function (gain = number of distinct query
# terms present in the doc, 0-3). The search family (bm25, rrf, phrase,
# mlt ...) had rankers but no referee — this is the referee, and the exact
# machinery an LLM-retrieval eval harness runs over its golden set.
# ---------------------------------------------------------------------------

import math as _math

_NDCG_K = 10
_REL_GRADE = 2  # "relevant" for MRR/precision: at least 2 query terms

# 1/log2(i+1) discounts and their prefix sums, i = 1.._NDCG_K — PINNED
# float literals both engines consume verbatim (zero libm involvement;
# the ljung-box pinned-criticals precedent). Prefix sums accumulate in
# one fixed left-to-right order at module import, so the literals are
# bit-identical everywhere they appear.
_NDCG_DISC = [1.0 / _math.log2(i + 1) for i in range(1, _NDCG_K + 1)]
_NDCG_PREFIX = [0.0]
for _d in _NDCG_DISC:
    _NDCG_PREFIX.append(_NDCG_PREFIX[-1] + _d)

_DISC_SQL = ", ".join(repr(d) for d in _NDCG_DISC)
_PREFIX_SQL = ", ".join(repr(p) for p in _NDCG_PREFIX)

_NDCG_ORACLE = f"""
WITH base AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl FROM base
), tf AS (
  SELECT doc_id, tok AS term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl
  FROM (SELECT doc_id, unnest(toks) AS tok, len(toks) AS dl FROM base)
  WHERE tok IN ({_Q_SQL})
  GROUP BY doc_id, tok
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         CAST(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * ({_K1} + 1.0))
           / (tf + {_K1} * (1.0 - {_B} + {_B} * dl / avgdl))
           AS DECIMAL(27,6)) AS s
  FROM tf JOIN df USING (term) CROSS JOIN stats
), ranked AS (
  SELECT doc_id, ROUND(CAST(SUM(s) AS DOUBLE), 4) AS bm25
  FROM scored GROUP BY doc_id
  ORDER BY bm25 DESC, doc_id LIMIT {_NDCG_K}
), gains AS (
  SELECT doc_id, CAST(COUNT(DISTINCT term) AS BIGINT) AS g FROM tf
  GROUP BY doc_id
), hist AS (
  SELECT CAST(COUNT(*) FILTER (WHERE g = 3) AS BIGINT) AS c3,
         CAST(COUNT(*) FILTER (WHERE g = 2) AS BIGINT) AS c2,
         CAST(COUNT(*) FILTER (WHERE g = 1) AS BIGINT) AS c1
  FROM gains
), rk AS (
  SELECT r.doc_id, COALESCE(g.g, 0) AS g,
         ROW_NUMBER() OVER (ORDER BY r.bm25 DESC, r.doc_id) AS rnk
  FROM ranked r LEFT JOIN gains g USING (doc_id)
), dcg AS (
  -- gain factor (2^g - 1) as a pinned 4-element lookup, array elements
  -- cast to DOUBLE: DuckDB types bare float literals as DECIMAL (the
  -- hypothesis-harness lesson, SURVEY r11 log) and decimal arithmetic
  -- would diverge from Spark's double path
  SELECT
    CAST(SUM(CAST(FLOOR(
      CAST((ARRAY[0.0, 1.0, 3.0, 7.0])[g + 1] AS DOUBLE)
      * CAST((ARRAY[{_DISC_SQL}])[rnk] AS DOUBLE) * 1e12
    ) AS BIGINT)) AS DOUBLE) / 1e12 AS dcg,
    CAST(MIN(CASE WHEN g >= {_REL_GRADE} THEN rnk END) AS BIGINT)
      AS first_rel,
    CAST(COUNT(*) FILTER (WHERE g >= {_REL_GRADE}) AS BIGINT) AS n_rel
  FROM rk
), ideal AS (
  SELECT t3, t2, t1,
         7 * CAST((ARRAY[{_PREFIX_SQL}])[t3 + 1] AS DOUBLE)
         + 3 * (CAST((ARRAY[{_PREFIX_SQL}])[t3 + t2 + 1] AS DOUBLE)
                - CAST((ARRAY[{_PREFIX_SQL}])[t3 + 1] AS DOUBLE))
         + 1 * (CAST((ARRAY[{_PREFIX_SQL}])[t3 + t2 + t1 + 1] AS DOUBLE)
                - CAST((ARRAY[{_PREFIX_SQL}])[t3 + t2 + 1] AS DOUBLE))
           AS idcg
  FROM (
    SELECT LEAST(c3, {_NDCG_K}) AS t3,
           LEAST(c2, {_NDCG_K} - LEAST(c3, {_NDCG_K})) AS t2,
           LEAST(c1, {_NDCG_K} - LEAST(c3, {_NDCG_K})
                 - LEAST(c2, {_NDCG_K} - LEAST(c3, {_NDCG_K}))) AS t1
    FROM hist
  )
)
SELECT CAST({_NDCG_K} AS BIGINT) AS k,
       FLOOR(dcg * 1e6) / 1e6 AS dcg_k,
       FLOOR(idcg * 1e6) / 1e6 AS idcg_k,
       FLOOR(dcg / idcg * 1e6) / 1e6 AS ndcg,
       FLOOR(COALESCE(CAST(1.0 AS DOUBLE) / first_rel, 0.0) * 1e6)
         / 1e6 AS mrr,
       FLOOR(CAST(n_rel AS DOUBLE) / {_NDCG_K} * 1e6) / 1e6
         AS precision_k
FROM dcg CROSS JOIN ideal
"""


@register("search_ndcg_eval", oracle=_NDCG_ORACLE)
def search_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 / MRR@10 / precision@10 of the BM25 ranking against a
    score-independent graded relevance (gain = distinct query terms in
    the doc, 0-3; "relevant" = grade >= 2): DCG sums (2^g − 1)·D[rank]
    over the retrieved list; IDCG places the CORPUS-wide gain histogram
    greedily into the top-k slots via pinned discount PREFIX sums
    (c3 best docs first, then c2, then c1 — pure integer slot
    arithmetic, no ideal-ranking sort).

    Cross-engine exactness: discounts and their prefix sums are pinned
    float literals (zero libm); each DCG term floor-quantizes to 1e-12
    units into an exact integer sum; IDCG is a three-term fixed-order
    expression over literals; every output floor-quantizes.

    Scale design: the corpus is scanned exactly TWICE (corpus stats +
    the query-term-filtered postings build); the postings frame — the
    three query terms' posting lists, the standard index working set —
    is cached and reused by the ranking, the gain join and the gain
    histogram (no unpersist by design, the Theil-Sen precedent:
    clearCache reclaims in long sessions). The ranked list is k rows;
    everything downstream is metadata-sized. Per-query golden-set eval
    fans the SAME shape out over a bounded query spine."""
    from pyspark.sql.window import Window as W

    from trireme_spark.parity import fquant, meta_part

    d = table(spark, sf_dir, "documents")
    base = d.select("doc_id", tokenize("text").alias("toks"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size("toks")).alias("avgdl"),
    )
    tf = (
        base.select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .where(F.col("term").isin(_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.any_value("dl").alias("dl"))
        .cache()
    )
    gains = tf.groupBy("doc_id").agg(
        F.count_distinct("term").cast("long").alias("g")
    )
    hist = gains.agg(
        F.count_if(F.col("g") == 3).cast("long").alias("c3"),
        F.count_if(F.col("g") == 2).cast("long").alias("c2"),
        F.count_if(F.col("g") == 1).cast("long").alias("c1"),
    )
    # BM25 scoring inlined over the SHARED cached postings frame (same
    # constants/expressions as search_bm25_topk — calling it would
    # rebuild its own tf lineage and rescan the corpus)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    s = (
        idf
        * (F.col("tf") * (_K1 + 1.0))
        / (
            F.col("tf")
            + _K1 * (1.0 - _B + _B * F.col("dl") / F.col("avgdl"))
        )
    ).cast("decimal(27,6)")
    ranked = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", s.alias("s"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("s").cast("double"), 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_NDCG_K)
    )
    w_rn = W.partitionBy(meta_part("doc_id")).orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    rk = (
        ranked.join(gains, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("g"), F.lit(0)).alias("g"),
            "bm25",
        )
        .select(
            "doc_id", "g", F.row_number().over(w_rn).alias("rnk")
        )
    )
    disc = F.element_at(
        F.array(*[F.lit(x) for x in _NDCG_DISC]), F.col("rnk")
    )
    gainval = F.element_at(
        F.array(*[F.lit(x) for x in (0.0, 1.0, 3.0, 7.0)]),
        (F.col("g") + 1).cast("int"),
    )
    dcg_frame = rk.agg(
        (
            F.sum(
                F.floor(gainval * disc * 1e12).cast("long")
            ).cast("double")
            / 1e12
        ).alias("dcg"),
        F.min(
            F.when(F.col("g") >= _REL_GRADE, F.col("rnk"))
        )
        .cast("long")
        .alias("first_rel"),
        F.count_if(F.col("g") >= _REL_GRADE).cast("long").alias("n_rel"),
    )
    prefix = F.array(*[F.lit(x) for x in _NDCG_PREFIX])
    t3 = F.least(F.col("c3"), F.lit(_NDCG_K))
    t2 = F.least(F.col("c2"), F.lit(_NDCG_K) - t3)
    t1 = F.least(F.col("c1"), F.lit(_NDCG_K) - t3 - t2)
    ideal = hist.select(
        t3.alias("t3"), t2.alias("t2"), t1.alias("t1")
    ).select(
        (
            7 * F.element_at(prefix, (F.col("t3") + 1).cast("int"))
            + 3
            * (
                F.element_at(
                    prefix, (F.col("t3") + F.col("t2") + 1).cast("int")
                )
                - F.element_at(prefix, (F.col("t3") + 1).cast("int"))
            )
            + 1
            * (
                F.element_at(
                    prefix,
                    (
                        F.col("t3") + F.col("t2") + F.col("t1") + 1
                    ).cast("int"),
                )
                - F.element_at(
                    prefix, (F.col("t3") + F.col("t2") + 1).cast("int")
                )
            )
        ).alias("idcg")
    )
    return (
        dcg_frame.crossJoin(F.broadcast(ideal))
        .select(
            F.lit(_NDCG_K).cast("long").alias("k"),
            fquant(F.col("dcg")).alias("dcg_k"),
            fquant(F.col("idcg")).alias("idcg_k"),
            fquant(F.col("dcg") / F.col("idcg")).alias("ndcg"),
            fquant(
                F.coalesce(1.0 / F.col("first_rel"), F.lit(0.0))
            ).alias("mrr"),
            fquant(
                F.col("n_rel").cast("double") / _NDCG_K
            ).alias("precision_k"),
        )
    )
