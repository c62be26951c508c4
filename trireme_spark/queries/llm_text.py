"""Text-analysis pipeline over ``documents`` — SURVEY.md §2.11 l1–l4 plus
the training-data operators beyond the reference surface (language-ID,
quality scoring, token counting, fingerprinting; BASELINE.json:6 mandate).

All tokenization/scoring is built-in column algebra (codegen, no Python);
the only shuffles are the aggregations, each on its natural key. md5 is
bit-identical between Spark and DuckDB (verified), which makes content
fingerprints fully oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trireme_spark.functions.text import STOPWORDS, tokenize
from trireme_spark.operators.hints import broadcast_if_small, cache_once
from trireme_spark.operators.similarity import shingles
from trireme_spark.parity import (
    DSCALE,
    davg,
    dsum,
    fquant,
    meta_part,
    oracle_avg,
    oracle_sum,
)
from trireme_spark.registry import register
from trireme_spark.sources.io import table

_SW = ", ".join(f"'{s}'" for s in STOPWORDS)

_L1_ORACLE = f"""
WITH toks AS (
    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
    FROM documents
)
SELECT token, COUNT(*) AS cnt FROM toks
WHERE token NOT IN ({_SW})
GROUP BY token
ORDER BY cnt DESC, token ASC
LIMIT 20
"""


@register("text_tokenize_wordcount", oracle=_L1_ORACLE)
def text_tokenize_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l1 — tokenize, drop stopwords, top-20 terms (tie-break on token so
    the cut is deterministic)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokenize("text")).alias("token"))
        .where(~F.col("token").isin(STOPWORDS))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(20)
    )


_L2_ORACLE = """
WITH pos_tok AS (
    SELECT doc_id, lang,
           CAST(UNNEST(range(len(toks))) AS INTEGER) AS pos,
           UNNEST(toks) AS token
    FROM (SELECT doc_id, lang,
                 string_split_regex(lower(text), '\\s+') AS toks
          FROM documents)
), bigrams AS (
    SELECT lang, token || ' ' || LEAD(token) OVER (
               PARTITION BY doc_id ORDER BY pos) AS bigram
    FROM pos_tok
), counts AS (
    SELECT lang, bigram, COUNT(*) AS cnt FROM bigrams
    WHERE bigram IS NOT NULL
    GROUP BY lang, bigram
)
SELECT lang, bigram, cnt, rn FROM (
    SELECT lang, bigram, cnt,
           ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY cnt DESC, bigram ASC) AS rn
    FROM counts
) WHERE rn <= 5
"""


@register("text_ngrams", oracle=_L2_ORACLE)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l2 — top-5 bigrams per language. Bigrams come from the shingle
    expression (array algebra, no self-join); the oracle derives them with
    LEAD over unnested positions."""
    d = table(spark, sf_dir, "documents")
    # Exchange barrier between tokenize and the shingle lambda — without it
    # Catalyst inlines the regex split into the lambda body where no
    # subexpression elimination runs (re-split per bigram; see
    # llm_sim._shingle_sets for the measurement).
    toks = d.select("lang", tokenize("text").alias("toks")).repartition(
        spark.sparkContext.defaultParallelism
    )
    bigrams = toks.select(
        "lang", F.explode(shingles(F.col("toks"), 2)).alias("bigram")
    )
    counts = bigrams.groupBy("lang", "bigram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("cnt").desc(), F.col("bigram").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("lang", "bigram", "cnt", "rn")
    )


_L3_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
    FROM documents
), filtered AS (
    SELECT doc_id, term FROM toks WHERE term NOT IN ({_SW})
), tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM filtered GROUP BY doc_id, term
), df AS (
    SELECT term, COUNT(DISTINCT doc_id) AS df FROM filtered GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term,
           ROUND(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 4) AS score
    FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term AS top_term, score FROM (
    SELECT doc_id, term, score,
           ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY score DESC, term ASC) AS rn
    FROM scored
) WHERE rn = 1
"""


@register("text_tfidf", oracle=_L3_ORACLE)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l3 — tf-idf, top term per doc. Pure DataFrame algebra; N joins in as
    a broadcast scalar (no driver-side collect). Ranking uses the ROUNDED
    score so cross-engine ln() ulp drift cannot flip the order; term ASC
    breaks genuine ties.

    Opt r14 (guide §2.4): the former two-branch shape (df =
    tf.groupBy(term) + join back) physically re-ran the tokenize+explode
    scan — column pruning makes the tf and df exchanges differ, so
    ReuseExchange can never dedupe them (plans/r14/text_tfidf_before.txt
    nodes 1–5 vs 6–13). df is now COUNT(*) OVER (PARTITION BY term) on tf
    — tf has exactly one row per (doc_id, term), so the partition count IS
    the distinct-doc count — one corpus pass, no broadcast build. The
    top-1-per-doc ranking window is an order-insensitive
    MIN(STRUCT(-score, term)) hash aggregation (partial map-side agg, no
    sort): minimal (-score, term) lexicographic = highest score then
    smallest term, exactly row_number()'s (score DESC, term ASC) pick;
    score > 0 always (tf ≥ 1, df ≤ n_docs ⇒ ln ≥ 0), so the double
    negation cannot manufacture a -0.0. Verified hash-identical to the
    previous shape at sf0.001/0.01/0.1 and against the DuckDB oracle.
    Bench: 0.74 s → ~0.60 s at sf0.1 on local[32]; plan: 2 Generate → 1,
    4 Exchange + 2 broadcast builds → 3 Exchange + 1 broadcast."""
    d = table(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id", F.explode(tokenize("text", drop_stopwords=True)).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)
                    )
                    + 1.0
                ),
                4,
            ).alias("score"),
        )
    )
    best = scored.groupBy("doc_id").agg(
        F.min(
            F.struct(
                (-F.col("score")).alias("ns"), F.col("term").alias("t")
            )
        ).alias("b")
    )
    return best.select(
        "doc_id",
        F.col("b.t").alias("top_term"),
        (-F.col("b.ns")).alias("score"),
    )


_L4_ORACLE = f"""
SELECT lang,
       COUNT(*) AS n_docs,
       {oracle_sum('n_chars')} AS total_chars,
       {oracle_avg('n_chars')} AS avg_chars,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
       CAST(SUM(len(string_split_regex(lower(text), '\\s+'))) AS DOUBLE)
           / COUNT(*) AS avg_words
FROM documents GROUP BY lang
"""


@register("text_stats", oracle=_L4_ORACLE)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l4 — per-language corpus statistics."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        dsum("n_chars").alias("total_chars"),
        davg("n_chars").alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        (
            F.sum(F.size(tokenize("text"))).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_words"),
    )


# Tiny deterministic stopword profiles — the heuristic's signal, mirrored
# literally in the oracle. (Fixture text is pseudo-English; the point is the
# deterministic scoring machinery, not linguistic accuracy.)
_PROFILES = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "es": ["el", "la", "los", "y", "es", "no"],
    "fr": ["le", "la", "les", "et", "est", "ne"],
    "zh": ["de", "shi", "le", "bu", "wo"],
}


def _profile_sql(lang: str) -> str:
    vals = ", ".join(f"'{w}'" for w in _PROFILES[lang])
    return (
        "len(list_distinct(list_intersect("
        f"string_split_regex(lower(text), '\\s+'), [{vals}])))"
    )


_LID_ORACLE = f"""
WITH scored AS (
    SELECT doc_id, lang,
           {_profile_sql('en')} AS s_en,
           {_profile_sql('de')} AS s_de,
           {_profile_sql('es')} AS s_es,
           {_profile_sql('fr')} AS s_fr,
           {_profile_sql('zh')} AS s_zh
    FROM documents
)
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
            WHEN s_de >= greatest(s_es, s_fr, s_zh) THEN 'de'
            WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
            WHEN s_fr >= s_zh THEN 'fr'
            ELSE 'zh' END AS predicted_lang,
       greatest(s_en, s_de, s_es, s_fr, s_zh) AS top_score
FROM scored
"""


@register("text_language_id", oracle=_LID_ORACLE)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via stopword-profile overlap (n-gram heuristic family).
    Deterministic argmax with a fixed priority order on ties."""
    d = table(spark, sf_dir, "documents")
    toks = tokenize("text")
    scores = {
        lang: F.size(
            F.array_intersect(
                toks, F.array(*[F.lit(w) for w in words])
            )
        )
        for lang, words in _PROFILES.items()
    }
    s = d.select(
        "doc_id", F.col("lang").alias("labeled_lang"), *[
            scores[lang].alias(f"s_{lang}") for lang in _PROFILES
        ]
    )
    pred = (
        F.when(
            F.col("s_en")
            >= F.greatest("s_de", "s_es", "s_fr", "s_zh"),
            "en",
        )
        .when(F.col("s_de") >= F.greatest("s_es", "s_fr", "s_zh"), "de")
        .when(F.col("s_es") >= F.greatest("s_fr", "s_zh"), "es")
        .when(F.col("s_fr") >= F.col("s_zh"), "fr")
        .otherwise("zh")
    )
    return s.select(
        "doc_id",
        "labeled_lang",
        pred.alias("predicted_lang"),
        F.greatest("s_en", "s_de", "s_es", "s_fr", "s_zh").alias(
            "top_score"
        ),
    )


_QUAL_ORACLE = f"""
WITH base AS (
    SELECT doc_id, n_chars,
           string_split_regex(lower(text), '\\s+') AS toks
    FROM documents
), m AS (
    SELECT doc_id, n_chars,
           len(toks) AS word_cnt,
           len(list_filter(toks,
               t -> list_contains([{_SW}], t))) AS stop_cnt
    FROM base
)
SELECT doc_id, word_cnt,
       CAST(n_chars AS DOUBLE) / word_cnt AS avg_word_len,
       CAST(stop_cnt AS DOUBLE) / word_cnt AS stopword_ratio,
       ROUND(least(1.0, word_cnt / 100.0)
             * (1.0 - CAST(stop_cnt AS DOUBLE) / word_cnt), 6)
           AS quality_score
FROM m
"""


@register("text_quality_score", oracle=_QUAL_ORACLE)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length + stopword-ratio composite (rational
    arithmetic only — exact cross-engine)."""
    d = table(spark, sf_dir, "documents")
    toks = tokenize("text")
    m = d.select(
        "doc_id",
        "n_chars",
        F.size(toks).alias("word_cnt"),
        F.size(
            F.filter(toks, lambda t: t.isin(STOPWORDS))
        ).alias("stop_cnt"),
    )
    ratio = F.col("stop_cnt").cast("double") / F.col("word_cnt")
    return m.select(
        "doc_id",
        "word_cnt",
        (F.col("n_chars").cast("double") / F.col("word_cnt")).alias(
            "avg_word_len"
        ),
        ratio.alias("stopword_ratio"),
        F.round(
            F.least(F.lit(1.0), F.col("word_cnt") / 100.0) * (1.0 - ratio),
            6,
        ).alias("quality_score"),
    )


_TOKCOUNT_ORACLE = """
SELECT doc_id,
       len(string_split_regex(lower(text), '\\s+')) AS ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
           AS bpe_ish_tokens,
       len(list_distinct(string_split_regex(lower(text), '\\s+')))
           AS distinct_tokens
FROM documents
"""


@register("text_token_count", oracle=_TOKCOUNT_ORACLE)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex segmentation
    (letters / digits / single symbols) + distinct count."""
    d = table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    return d.select(
        "doc_id",
        F.size(tokenize("text")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(low, F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
        ).alias("bpe_ish_tokens"),
        F.size(F.array_distinct(tokenize("text"))).alias("distinct_tokens"),
    )


_FPRINT_ORACLE = """
WITH base AS (
    SELECT doc_id,
           string_split_regex(lower(text), '\\s+') AS toks
    FROM documents
), sh AS (
    SELECT doc_id, toks,
           list_transform(
               range(greatest(len(toks) - 2, 0)),
               i -> md5(toks[CAST(i AS INT) + 1] || ' ' ||
                        toks[CAST(i AS INT) + 2] || ' ' ||
                        toks[CAST(i AS INT) + 3])) AS shingle_hashes
    FROM base
)
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(toks)), ' '))
           AS content_fingerprint,
       list_aggregate(shingle_hashes, 'min') AS min_shingle_hash,
       substr(md5(array_to_string(list_sort(list_distinct(toks)), ' ')),
              1, 8) AS short_id
FROM sh
"""


@register("doc_fingerprint", oracle=_FPRINT_ORACLE)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: canonical-form md5 (order-normalized token
    set) + winnowing-style min shingle hash. md5 is bit-identical across
    engines, so fingerprints are fully oracle-checked."""
    d = table(spark, sf_dir, "documents")
    toks = tokenize("text")
    canonical = F.md5(
        F.array_join(F.array_sort(F.array_distinct(toks)), " ")
    )
    shingle_hashes = F.transform(shingles(toks, 3), F.md5)
    return d.select(
        "doc_id",
        canonical.alias("content_fingerprint"),
        F.array_min(shingle_hashes).alias("min_shingle_hash"),
        F.substring(canonical, 1, 8).alias("short_id"),
    )


# --- corpus unigram LM quality score ----------------------------------------

_UNIGRAM_ORACLE = """
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
    FROM documents
), vocab AS (
    SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
), tot AS (SELECT COUNT(*) AS total FROM toks)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       ROUND(CAST(SUM(CAST(ln(CAST(cnt AS DOUBLE) / total)
                           AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*), 4)
           AS avg_logprob
FROM toks JOIN vocab USING (term) CROSS JOIN tot
GROUP BY doc_id
"""


@register("text_unigram_logprob", oracle=_UNIGRAM_ORACLE)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram language-model score per document — mean
    ``ln p(w)`` with ``p(w) = count(w) / total_tokens`` — the cheapest
    perplexity proxy a corpus build uses to rank documents by how typical
    their vocabulary is (rare-word soup scores low, common prose high).

    Scale design: the LM "training" is one map-side-combined groupBy over
    the exploded tokens; scoring joins the vocabulary back via
    ``broadcast_if_small`` — the distinct-token vocab is small at graded
    sf so the hint applies, but it grows Heaps-law with the corpus, so
    past the size gate the join automatically degrades to a shuffle
    equi-join, nothing else changes. Per-token ln values are decimal-
    quantized before the sum (parity.py) so the per-doc mean is
    order-independent; the final ROUND(4) absorbs cross-engine ln() ulp
    drift."""
    d = table(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(tokenize("text")).alias("term"))
    # One corpus pass trains the LM: the token total is the marginal of
    # the vocab counts (total = Σ_term cnt — exact integer identity), so
    # it costs a 1-row agg over the Heaps-law-bounded vocab instead of a
    # second tokenize+explode pass; cache_once keeps the probe join's
    # broadcast build from replaying the corpus subtree (the
    # text_bigram_logprob treatment applied to its unigram sibling).
    vocab = cache_once(
        terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = vocab.agg(F.sum("cnt").alias("total"))
    lp = F.log(F.col("cnt").cast("double") / F.col("total")).cast(
        "decimal(27,6)"
    )
    return (
        terms.join(broadcast_if_small(vocab), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(lp).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_logprob"),
        )
    )


# --- HTML boilerplate stripping ----------------------------------------------

# Fixture prose has no markup, so tags/entities are planted deterministically
# (same construction in the oracle) and the strip must remove exactly them.
# Patterns stay in the Java-regex ∩ RE2 subset (no lookaround).
_TAG_RE = "<[^>]+>"
_ENTITY_RE = "&[a-z]+;"

_HTML_STRIP_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         '<html><body class="c' || CAST(doc_id % 7 AS VARCHAR) ||
         '"><p>' || text || '&nbsp;&amp;</p><script>var x=' ||
         CAST(doc_id AS VARCHAR) || ';</script></body></html>' AS html
  FROM documents
)
SELECT doc_id,
       trim(regexp_replace(regexp_replace(regexp_replace(
            html, '<script>[^<]*</script>', ' ', 'g'),
            '{_TAG_RE}', ' ', 'g'),
            '{_ENTITY_RE}', ' ', 'g')) AS clean_text,
       length(trim(regexp_replace(regexp_replace(regexp_replace(
            html, '<script>[^<]*</script>', ' ', 'g'),
            '{_TAG_RE}', ' ', 'g'),
            '{_ENTITY_RE}', ' ', 'g'))) AS clean_len
FROM d
"""


@register("text_html_strip", oracle=_HTML_STRIP_ORACLE)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate removal — the first transform every web-crawl
    corpus runs: script blocks dropped whole, tags and entities stripped
    to whitespace (planted deterministically on the fixture prose so the
    strip must remove exactly them; a production pass adds style/nav
    blocks to the same chain).

    Pure codegen'd regexp_replace chain — no shuffle, linear scan at any
    scale; same family as text_pii_redact."""
    d = table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><body class="c'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('"><p>'),
        F.col("text"),
        F.lit("&nbsp;&amp;</p><script>var x="),
        F.col("doc_id").cast("string"),
        F.lit(";</script></body></html>"),
    )
    planted = d.select("doc_id", html.alias("html"))
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.col("html"), "<script>[^<]*</script>", " "
                ),
                _TAG_RE,
                " ",
            ),
            _ENTITY_RE,
            " ",
        )
    )
    return planted.select(
        "doc_id",
        clean.alias("clean_text"),
        F.length(clean).alias("clean_len"),
    )


# --- templated-document detection -------------------------------------------

_TEMPLATE_ORACLE = """
WITH d AS (
  SELECT doc_id,
         'ref ' || doc_id || ' category ' ||
         substr('abcdefg', doc_id % 7 + 1, 1) ||
         ' qty ' || n_chars AS text
  FROM documents
), t AS (
  SELECT doc_id,
         md5(regexp_replace(regexp_replace(lower(text),
             '[0-9]+', '#', 'g'), '\\s+', ' ', 'g')) AS template_hash
  FROM d
), g AS (
  SELECT template_hash, COUNT(*) AS n_docs, MIN(doc_id) AS exemplar
  FROM t GROUP BY template_hash
)
SELECT t.doc_id, t.template_hash, g.n_docs AS template_count,
       t.doc_id = g.exemplar AS is_exemplar
FROM t JOIN g USING (template_hash)
WHERE g.n_docs > 1
"""


@register("text_template_detect", oracle=_TEMPLATE_ORACLE)
def text_template_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Templated-document detection — mask the volatile entities (digits
    here; dates/names/urls in a production chain), hash the residue, and
    group: docs sharing a template hash are the same boilerplate page
    with different fill-ins, the dominant duplication mode of web crawls
    that MinHash underweights (entity churn keeps Jaccard high only on
    long docs) and exact dedup misses entirely.

    The fixture word-soup carries no real templates, so templated lines
    are PLANTED deterministically (7 template families over entity
    fill-ins; same construction in the oracle — the text_pii_redact
    pattern) and the masking must collapse exactly them.

    Scale design: codegen'd normalize chain → md5 → ONE hash-keyed
    aggregation joined back (same two-shuffle shape as
    dedup_doc_canonical, which this extends with entity masking)."""
    raw = table(spark, sf_dir, "documents")
    d = raw.select(
        "doc_id",
        F.concat(
            F.lit("ref "),
            F.col("doc_id").cast("string"),
            F.lit(" category "),
            F.expr("substr('abcdefg', doc_id % 7 + 1, 1)"),
            F.lit(" qty "),
            F.col("n_chars").cast("string"),
        ).alias("text"),
    )
    tmpl = F.md5(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[0-9]+", "#"), r"\s+", " "
        )
    )
    t = d.select("doc_id", tmpl.alias("template_hash"))
    g = t.groupBy("template_hash").agg(
        F.count(F.lit(1)).alias("template_count"),
        F.min("doc_id").alias("exemplar"),
    )
    return (
        t.join(g, "template_hash")
        .where(F.col("template_count") > 1)
        .select(
            "doc_id",
            "template_hash",
            "template_count",
            (F.col("doc_id") == F.col("exemplar")).alias("is_exemplar"),
        )
    )


# --- corpus bigram LM quality score -----------------------------------------

_BIGRAM_ORACLE = """
WITH base AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
    FROM documents
), toks_flat AS (
    SELECT doc_id, unnest(toks) AS term FROM base
), v AS (SELECT COUNT(DISTINCT term) AS vsz FROM toks_flat),
bg AS (
    SELECT doc_id,
           unnest(list_transform(range(len(toks) - 1),
                  i -> toks[CAST(i AS INT) + 1])) AS w1,
           unnest(list_transform(range(len(toks) - 1),
                  i -> toks[CAST(i AS INT) + 2])) AS w2
    FROM base WHERE len(toks) >= 2
), cbg AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
cctx AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1)
SELECT bg.doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(CAST(SUM(CAST(
           ln((c12 + 1.0) / (c1 + vsz)) AS DECIMAL(27,6)
       )) AS DOUBLE) / COUNT(*), 4) AS avg_bigram_logprob
FROM bg
JOIN cbg ON bg.w1 = cbg.w1 AND bg.w2 = cbg.w2
JOIN cctx ON bg.w1 = cctx.w1
CROSS JOIN v
GROUP BY bg.doc_id
"""


@register("text_bigram_logprob", oracle=_BIGRAM_ORACLE)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model score per document — mean
    ``ln p(w2|w1)`` with add-one smoothing
    ``p = (c(w1,w2) + 1) / (c(w1·) + |V|)`` — one modeling step up from
    text_unigram_logprob: repeated word PAIRS (boilerplate, templates,
    spun text) now score high while shuffled-word soup scores low, which
    is exactly the signal a corpus-quality ranker wants.

    Scale design: bigram extraction is pure column algebra (two aligned
    slice-transforms + one explode — no shuffle, no Python); the LM
    "training" is ONE map-side-combined pair-count aggregation — the
    context counts derive from it exactly (c(w1·) = Σ_w2 c(w1,w2), an
    integer identity, so no second corpus pass), and the vocab²-bounded
    pair table is cached so the probe join does not replay the
    tokenize+explode subtree per consumer. Scoring re-joins KEYED on
    the pair/context — no broadcast hint, because the bigram table is
    vocab²-bounded and AQE broadcasts it only when it actually fits.
    Per-pair ln values decimal-quantize before the order-independent
    sum; ROUND(4) absorbs cross-engine ln() ulp drift (the unigram
    parity contract)."""
    d = table(spark, sf_dir, "documents")
    toks = tokenize("text")
    base = d.select("doc_id", toks.alias("toks")).where(
        F.size("toks") >= 2
    )
    # zip_with over two aligned slices is O(tokens); an element_at-by-
    # index transform is O(tokens²) per doc (array access is linear) —
    # measured 38 s → ~2 s at sf0.01 for the same result
    n = F.size("toks")
    bg = base.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, n - 1),
                F.slice("toks", 2, n - 1),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    all_toks = d.select(F.explode(toks).alias("term"))
    v = all_toks.agg(F.countDistinct("term").alias("vsz"))
    # One corpus pass trains the LM: cctx is the w2-marginal of cbg
    # (c(w1·) = Σ_w2 c(w1,w2) — exact integer identity), so it costs a
    # keyed agg over the vocab²-bounded pair table instead of a second
    # tokenize+explode pass; cache_once on cbg keeps the probe join's
    # build sides from replaying the corpus subtree once per consumer
    # (the candidate_pairs_prefix / dedup_simhash lesson — a
    # BroadcastExchange build is not deduped by plan reuse).
    cbg = cache_once(bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")))
    cctx = cbg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    lp = F.log(
        (F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("vsz"))
    ).cast("decimal(27,6)")
    return (
        bg.join(cbg, ["w1", "w2"])
        .join(cctx, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(lp).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_bigram_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# agg_cms_heavy_hitters — count-min sketch term frequency estimation
# ---------------------------------------------------------------------------

_CMS_D = 4       # hash rows
_CMS_W = 256     # counters per row

_CMS_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS term
  FROM documents
),
cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY term),
seeds AS (SELECT unnest(range({_CMS_D})) AS s),
cells AS (
  SELECT s,
         ('0x' || substr(md5(s::VARCHAR || '|' || term), 1, 8))::BIGINT
             % {_CMS_W} AS col,
         CAST(SUM(c) AS BIGINT) AS v
  FROM cnt CROSS JOIN seeds
  GROUP BY 1, 2
),
top AS (SELECT term, c FROM cnt ORDER BY c DESC, term LIMIT 20)
SELECT t.term, t.c AS true_cnt, CAST(MIN(cells.v) AS BIGINT) AS est_cnt
FROM top t
CROSS JOIN seeds ss
JOIN cells ON cells.s = ss.s
  AND cells.col = ('0x' || substr(md5(ss.s::VARCHAR || '|' || t.term), 1, 8)
                  )::BIGINT % {_CMS_W}
GROUP BY 1, 2
"""


@register("agg_cms_heavy_hitters", oracle=_CMS_ORACLE)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch from pure column algebra: a 4×256
    counter grid summarizes the whole term-frequency distribution in
    fixed space, then answers point queries (here: the true top-20
    terms) as the min over the term's 4 counters — the streaming
    heavy-hitters primitive (CM sketch, Cormode & Muthukrishnan 2005)
    that production token-stats pipelines keep as a tiny mergeable
    artifact instead of a corpus-sized vocabulary.

    The check is EXACT, not bound-based: hashes are md5-prefix ints
    (bit-identical cross-engine, the shuffle_deterministic pattern), so
    both engines build the identical sketch and the identical
    estimates, overestimation collisions included — est_cnt ≥ true_cnt
    by construction, with equality exactly when a term's 4
    counters are all collision-free. Scale design: one term-count
    shuffle (vocab-sized), then the sketch build is a map-side ×4
    explode over the VOCAB (never the corpus) into ≤4·256
    cells; merging shards is counter addition (sum), and queries touch
    the 1 KB-scale grid, not the data."""
    d = table(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(tokenize("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    seeds = F.array(*[F.lit(s) for s in range(_CMS_D)])

    def col_for(seed_col, term_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            seed_col.cast("string"), F.lit("|"), term_col
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _CMS_W
        )

    exploded = cnt.select(
        "term", "c", F.explode(seeds).alias("s")
    )
    cells = (
        exploded.groupBy(
            "s", col_for(F.col("s"), F.col("term")).alias("col")
        )
        .agg(F.sum("c").alias("v"))
    )
    top = (
        cnt.orderBy(F.col("c").desc(), F.col("term").asc())
        .limit(20)
        .select("term", F.col("c").alias("true_cnt"))
    )
    probes = top.select(
        "term", "true_cnt", F.explode(seeds).alias("s")
    ).withColumn("col", col_for(F.col("s"), F.col("term")))
    est = (
        F.broadcast(probes)
        .join(cells, ["s", "col"])
        .groupBy("term", "true_cnt")
        .agg(F.min("v").alias("est_cnt"))
    )
    return est


# ---------------------------------------------------------------------------
# text_sentence_split — sentence segmentation with per-sentence stats
# ---------------------------------------------------------------------------

_SENT_ORACLE = """
WITH planted AS (
  SELECT doc_id,
         regexp_replace(text, ' (spark|table|merge) ', ' \\1. ', 'g') AS t
  FROM documents
),
s AS (
  SELECT doc_id,
         unnest(string_split(
             regexp_replace(t, '([.!?])\\s+', '\\1\x01', 'g'),
             '\x01')) AS sent
  FROM planted
), t AS (
  SELECT doc_id, trim(sent) AS sent FROM s WHERE trim(sent) <> ''
), n AS (
  SELECT doc_id, sent,
         ROW_NUMBER() OVER (PARTITION BY doc_id, sent
                            ORDER BY sent) AS dedup_rn,
         CAST(len(string_split_regex(sent, '\\s+')) AS BIGINT) AS n_words
  FROM t
)
SELECT doc_id, sent, n_words
FROM n WHERE dedup_rn = 1
"""


@register("text_sentence_split", oracle=_SENT_ORACLE)
def text_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation — split documents at terminal punctuation
    (terminal [.!?] + whitespace, via a backreference sentinel rewrite —
    RE2, DuckDB's engine, has no lookbehind, so the split rule stays in
    the cross-engine-safe subset; the rule-based segmenter every corpus
    pipeline starts from) with per-sentence word counts. The fixture
    text carries no punctuation, so terminal periods are PLANTED
    deterministically after three marker words first (the planted-PII/
    geo-coordinate doctrine: both engines run the identical plant, so
    the segmenter exercises real boundaries and stays value-checked;
    leftmost non-overlapping regex scanning is the same rule in Java
    and RE2),
    deduplicated per doc (repeated boilerplate sentences collapse —
    the unit text_template_detect works at page level, this key
    provides at sentence level, and the unit sentence-dedup corpus
    cleaning operates on).

    Scale design: one codegen'd regex split + explode (per-doc bounded
    fan-out, no shuffle for the split itself), one doc-keyed window for
    the per-doc dedup. The lookbehind pattern is in the Java∩RE2-safe
    subset the PII key established. Word counts recount from the
    sentence (cheap column algebra) rather than threading token arrays
    through the explode."""
    d = table(spark, sf_dir, "documents")
    planted = F.regexp_replace(
        F.col("text"), r" (spark|table|merge) ", " $1. "
    )
    sent = d.select(
        "doc_id",
        F.explode(
            F.split(
                F.regexp_replace(planted, r"([.!?])\s+", "$1\u0001"),
                "\u0001",
            )
        ).alias("sent"),
    ).select("doc_id", F.trim("sent").alias("sent")).where(
        F.col("sent") != ""
    )
    w = Window.partitionBy("doc_id", "sent").orderBy("sent")
    return (
        sent.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            "sent",
            F.size(F.split("sent", r"\s+")).cast("long").alias("n_words"),
        )
    )



# ---------------------------------------------------------------------------
# text_boilerplate_removal — corpus-level repeated-sentence stripping (C4)
# ---------------------------------------------------------------------------

_BP_MIN_DOCS = 20  # a sentence in >= this many docs is boilerplate

_BOILER_ORACLE = f"""
WITH src AS (
  SELECT doc_id,
         text || '.'
         || (CASE WHEN doc_id % 2 = 0
             THEN ' subscribe to the newsletter.' ELSE '' END)
         || ' all rights reserved.' AS t
  FROM documents
),
sp AS (
  SELECT doc_id,
         string_split(regexp_replace(t, '([.!?]) ', '\\1\x01', 'g'),
                      '\x01') AS arr
  FROM src
),
s AS (
  SELECT doc_id, unnest(arr) AS sent,
         generate_subscripts(arr, 1) AS idx
  FROM sp
),
t AS (
  SELECT doc_id, trim(sent) AS sent, idx FROM s WHERE trim(sent) <> ''
),
df AS (
  SELECT sent, COUNT(DISTINCT doc_id) AS n_docs FROM t GROUP BY sent
),
flag AS (
  SELECT t.doc_id, t.sent, t.idx,
         df.n_docs >= {_BP_MIN_DOCS} AS is_bp
  FROM t JOIN df USING (sent)
)
SELECT doc_id,
       string_agg(CASE WHEN NOT is_bp THEN sent END, ' ' ORDER BY idx)
           AS cleaned,
       CAST(count_if(is_bp) AS BIGINT) AS n_removed
FROM flag
GROUP BY doc_id
"""


@register("text_boilerplate_removal", oracle=_BOILER_ORACLE)
def text_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate stripping: sentences that repeat across >= 20
    documents (cookie banners, footers, newsletter prompts) are removed
    from every document, and the cleaned text reassembles in original
    sentence order — the corpus-LEVEL cleaning verb that per-document
    quality scoring cannot express, and a standard pass in every
    web-crawl training-data pipeline.

    Planting: the fixture text has no cross-document repeats, so two
    footer sentences are appended deterministically first (the content
    gains a terminal period so footers split off as their own
    sentences; 'all rights reserved.' lands everywhere, a newsletter
    prompt on even docs) — both
    engines run the identical plant, so the removal is value-checked
    end-to-end including the reassembled text (planted-PII doctrine).

    Scale design: ONE sentence explode feeds both the global
    document-frequency aggregation (sentence-keyed, map-side combined —
    the corpus-wide signal) and the per-doc reassembly; the df table
    joins back on the sentence key (hash shuffle; at web scale you'd
    pre-hash sentences to longs exactly like text_decontaminate's
    grams). Reassembly is one doc-keyed collect_list of (idx, sent)
    structs sorted in-row — per-doc bounded, never a global sort."""
    d = table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit("."),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit(" subscribe to the newsletter."),
        ).otherwise(F.lit("")),
        F.lit(" all rights reserved."),
    )
    sent = (
        d.select("doc_id", planted.alias("t"))
        .select(
            "doc_id",
            F.posexplode(
                F.split(
                    F.regexp_replace(
                        F.col("t"), r"([.!?]) ", "$1\u0001"
                    ),
                    "\u0001",
                )
            ).alias("idx0", "sent"),
        )
        .select(
            "doc_id",
            (F.col("idx0") + 1).alias("idx"),  # 1-based like the oracle
            F.trim("sent").alias("sent"),
        )
        .where(F.col("sent") != "")
    )
    df_tbl = sent.groupBy("sent").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    flag = sent.join(df_tbl, "sent").select(
        "doc_id",
        "sent",
        "idx",
        (F.col("n_docs") >= _BP_MIN_DOCS).alias("is_bp"),
    )
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(
                    ~F.col("is_bp"), F.struct(F.col("idx"), F.col("sent"))
                )
            )
        ),
        lambda s: s["sent"],
    )
    return flag.groupBy("doc_id").agg(
        F.array_join(kept_sorted, " ").alias("cleaned"),
        F.count_if(F.col("is_bp")).alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# text_code_detect — code-vs-prose classification for corpus routing
# ---------------------------------------------------------------------------

# planted inside the query (the fixture prose contains no code):
# docs ≡ 0 (mod 7) get a code tail appended — mirrored literally below
_CODE_SNIPPET = " function f(x) { if (x == null) { return 0; } s += x[i]; }"

_CODE_ORACLE = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || '{_CODE_SNIPPET}' ELSE text END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[{{}}]')) AS BIGINT) AS braces,
       CAST(len(regexp_extract_all(t, ';')) AS BIGINT) AS semis,
       CAST(len(regexp_extract_all(t, '\\b(function|return|if)\\b'))
            AS BIGINT) AS kw_hits,
       (len(regexp_extract_all(t, '[{{}}]')) >= 2
        AND len(regexp_extract_all(t, ';')) >= 1) AS is_code
FROM aug
"""


@register("text_code_detect", oracle=_CODE_ORACLE)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection — the corpus-routing filter that sends
    code to a code-model pipeline and keeps prose corpora clean (both
    directions matter at pretraining scale). Signals: brace density,
    statement terminators, keyword hits; classification is a
    conjunction of structural signals so a prose doc mentioning
    'function' alone never flips.

    The fixture prose contains no code, so deterministic snippets are
    PLANTED inside the query (docs ≡ 0 mod 7, mirrored literally in the
    oracle — the sentence-split/CSV-corruption doctrine), making both
    the detector's hits AND its non-hits value-checked.

    Scale design: pure codegen'd regexp projections in the Java∩RE2
    subset — no shuffle, no UDF; a real deployment adds signals as
    expressions in the same single pass."""
    d = table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(_CODE_SNIPPET)),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    braces = F.regexp_count("t", F.lit(r"[{}]")).cast("long")
    semis = F.regexp_count("t", F.lit(";")).cast("long")
    kw = F.regexp_count("t", F.lit(r"\b(function|return|if)\b")).cast("long")
    return aug.select(
        "doc_id",
        braces.alias("braces"),
        semis.alias("semis"),
        kw.alias("kw_hits"),
        ((braces >= 2) & (semis >= 1)).alias("is_code"),
    )


# ---------------------------------------------------------------------------
# text_skipgram_pairs — word2vec-style (center, context) training pairs
# ---------------------------------------------------------------------------

_SKIPGRAM_ORACLE = """
WITH t AS (
  SELECT doc_id, tok, pos FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '\\s+')) AS tok,
           generate_subscripts(string_split_regex(lower(text), '\\s+'), 1)
             AS pos
    FROM documents
  ) WHERE tok <> ''
), pairs AS (
  SELECT a.tok AS center, b.tok AS context
  FROM t a JOIN t b
    ON a.doc_id = b.doc_id
   AND abs(a.pos - b.pos) BETWEEN 1 AND 2
)
SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs GROUP BY center, context
ORDER BY n DESC, center ASC, context ASC LIMIT 100
"""


@register("text_skipgram_pairs", oracle=_SKIPGRAM_ORACLE)
def text_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training pairs (window ±2): the (center, context)
    co-occurrence counts that feed word2vec/GloVe-style embedding
    training — the classic corpus-prep fan-out, top-100 pairs by count.

    Scale design: pairs generate IN-ROW — for each offset o ∈ {1,2},
    zip the token array against itself shifted by o (two bounded
    slices per row, both directions emitted per zip) — so the only
    shuffle is the final (center, context)-keyed count with map-side
    combine. The ORACLE is the naive position self-join (token explode
    → |doc|² candidate join per doc), so the in-row rewrite is
    value-checked against brute force, not assumed. The fan-out is
    4·|tokens| rows into a partial aggregation — at 100 TB the combine
    collapses to the vocabulary² (language-bounded) before the
    exchange.

    Empty-string tokens are filtered BEFORE pairing on both sides:
    positions must agree with the oracle's post-filter subscripts
    (leading whitespace makes token 1 empty — the split-parity trap)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        F.filter(tokenize("text"), lambda t: t != "").alias("toks")
    )

    def zipped(o: int):
        n = F.size("toks")
        a = F.slice(F.col("toks"), 1, F.greatest(n - o, F.lit(0)))
        b = F.expr(f"slice(toks, {o + 1}, greatest(size(toks) - {o}, 0))")
        return F.zip_with(
            a, b, lambda x, y: F.struct(x.alias("w1"), y.alias("w2"))
        )

    pairs = toks.select(
        F.explode(
            F.concat(zipped(1), zipped(2))
        ).alias("p")
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.col("p.w1").alias("center"),
                    F.col("p.w2").alias("context"),
                ),
                F.struct(
                    F.col("p.w2").alias("center"),
                    F.col("p.w1").alias("context"),
                ),
            )
        ).alias("d")
    ).select("d.center", "d.context")
    return (
        pairs.groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("center").asc(), F.col("context").asc())
        .limit(100)
    )


# ---------------------------------------------------------------------------
# text_feature_hashing — hashing-trick featurization (fixed-dim sparse)
# ---------------------------------------------------------------------------

_FH_DIM = 1024

_FEATHASH_ORACLE = f"""
WITH t AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
    FROM documents WHERE doc_id < 50
  ) WHERE tok <> ''
), h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % {_FH_DIM}
           AS bucket,
         CASE WHEN CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT) % 2 = 1
              THEN 1 ELSE -1 END AS sgn
  FROM t
)
SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS feat
FROM h GROUP BY doc_id, bucket
HAVING SUM(sgn) <> 0
"""


@register("text_feature_hashing", oracle=_FEATHASH_ORACLE)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009): tokens map
    to a FIXED 1024-dim space by hash, with a second hash bit choosing
    ±1 so collisions cancel in expectation — the vectorizer that needs
    NO vocabulary pass, no fitted state, and no coordination, which is
    exactly why it scales to unbounded streaming vocabularies where
    tf-idf's vocab table cannot.

    Hash = md5-prefix (bit-identical cross-engine — the seeded-hash
    doctrine; bucket from chars 1-8, sign from chars 9-16 so the two
    are independent). Zero-sum buckets drop (exact cancellation is
    part of the contract and the oracle checks it).

    Scale design: one codegen'd projection per token → one
    (doc, bucket)-keyed map-side-combined sum; output is bounded by
    min(|tokens|, 1024) rows per doc regardless of vocabulary growth.
    The doc_id < 50 slice bounds the FIXTURE output, not the design."""
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    t = d.select(
        "doc_id", F.explode(tokenize("text")).alias("tok")
    ).where(F.col("tok") != "")
    h = F.md5("tok")
    bucket = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % _FH_DIM
    sgn = F.when(
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 2 == 1, 1
    ).otherwise(-1)
    return (
        t.select("doc_id", bucket.alias("bucket"), sgn.alias("sgn"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").alias("feat"))
        .where(F.col("feat") != 0)
    )


# ---------------------------------------------------------------------------
# text_gazetteer_ner — dictionary-based entity extraction with positions
# ---------------------------------------------------------------------------

_GAZETTEER = {
    "spark": "ENGINE",
    "vector": "DATATYPE",
    "customer": "PARTY",
    "merge": "OPERATION",
}
_GAZ_SQL = ", ".join(
    f"('{t}', '{e}')" for t, e in sorted(_GAZETTEER.items())
)

_GAZ_ORACLE = f"""
WITH t AS (
  SELECT doc_id, tok, pos FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '\\s+')) AS tok,
           generate_subscripts(string_split_regex(lower(text), '\\s+'), 1)
             AS pos
    FROM documents
  )
), gaz(term, entity_type) AS (VALUES {_GAZ_SQL})
SELECT doc_id, CAST(pos AS BIGINT) AS token_pos, term, entity_type
FROM t JOIN gaz ON t.tok = gaz.term
"""


@register("text_gazetteer_ner", oracle=_GAZ_ORACLE)
def text_gazetteer_ner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gazetteer (dictionary) entity extraction: every mention of a
    curated term list, with its TOKEN POSITION and entity type — the
    deterministic NER tier (product catalogs, ticker symbols, drug
    names) that runs before any model-based tagger, and whose
    positional output feeds span-level redaction (text_pii_redact's
    structured sibling) and entity-linking joins.

    Scale design: the gazetteer is configuration — a broadcast
    dimension joined against the token explode, so cost is one keyed
    pass regardless of dictionary size (a 1 M-entry gazetteer still
    broadcasts in MBs; past that, the join degrades to hash-shuffle
    with nothing else changing). Position from posexplode rides free.
    Multi-word entities compose via the shingle explode instead of
    the token explode — same plan."""
    gaz = spark.createDataFrame(
        sorted(_GAZETTEER.items()), "term string, entity_type string"
    )
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(tokenize("text")).alias("pos0", "term")
    ).select(
        "doc_id", (F.col("pos0") + 1).alias("token_pos"), "term"
    )
    return toks.join(F.broadcast(gaz), "term").select(
        "doc_id", "token_pos", "term", "entity_type"
    )


# ---------------------------------------------------------------------------
# text_zipf_exponent — power-law fit over the rank-frequency curve
# ---------------------------------------------------------------------------

_ZIPF_ORACLE = """
WITH tf AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents)
  WHERE tok <> ''
  GROUP BY tok
), ranked AS (
  SELECT freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, tok ASC) AS rnk
  FROM tf
), pts AS (
  SELECT CAST(ROUND(ln(rnk), 12) AS DECIMAL(38,12)) AS x,
         CAST(ROUND(ln(freq), 12) AS DECIMAL(38,12)) AS y
  FROM ranked
), s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(x * y) AS DOUBLE) AS sxy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_terms,
       ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 4) AS zipf_slope,
       ROUND(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx / n,
             4) AS intercept
FROM s
"""


@register("text_zipf_exponent", oracle=_ZIPF_ORACLE)
def text_zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit: OLS slope of ln(freq) on ln(rank) over the
    corpus rank-frequency curve — natural text runs ≈ −1; strong
    deviation flags templated/spun/machine-generated corpora, making
    this a corpus-level quality diagnostic beside the per-doc keys
    (gopher, bigram-LM).

    Composition of in-repo machinery: vocabulary rollup (two-level
    doctrine) → global rank (dimension-sized here; the two-pass
    bucket rank is the corpus-keyed swap, per the Gini key) → OLS from
    decimal-exact sufficient statistics with per-point ln() quantized
    to 12 dp before the order-independent sums (the geomean
    discipline). The regression itself is agg_regression's algebra
    re-derived on log axes — one scan of the vocab table, 1-row
    output."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokenize("text")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy(meta_part("freq")).orderBy(
        F.col("freq").desc(), F.col("tok").asc()
    )
    pts = tf.select(
        F.round(F.log(F.row_number().over(w)), 12)
        .cast("decimal(38,12)")
        .alias("x"),
        F.round(F.log("freq"), 12).cast("decimal(38,12)").alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        # ROUND(4), not 6: the 38-digit decimal sums exceed double's 15
        # significant digits, so the decimal→double CAST itself can
        # differ by 1 ulp between engines (observed: intercept
        # 7.173998 vs 7.173999 at sf0.001) — the coarse grid makes a
        # boundary straddle ~1e-12 likely (the fn_math doctrine)
        F.round(slope, 4).alias("zipf_slope"),
        F.round(
            F.col("sy") / F.col("n") - slope * F.col("sx") / F.col("n"), 4
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# text_char_entropy — character-entropy gibberish/blob detector
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH ch AS (
  SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, strlen(text) + 1),
                                 i -> substr(text, CAST(i AS INT), 1))) AS c
    FROM documents
  ) GROUP BY doc_id, c
), tot AS (
  SELECT doc_id, CAST(SUM(cnt) AS DOUBLE) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_distinct
  FROM ch GROUP BY doc_id
)
SELECT ch.doc_id, tot.n_distinct,
       ROUND(CAST(SUM(CAST(ROUND(
           -(cnt / n) * ln(cnt / n) / ln(2.0), 12)
           AS DECIMAL(38,12))) AS DOUBLE), 6) AS entropy_bits
FROM ch JOIN tot USING (doc_id)
GROUP BY ch.doc_id, tot.n_distinct
"""


@register("text_char_entropy", oracle=_ENTROPY_ORACLE)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy per document (bits/char) — the
    cheapest gibberish detector in the corpus-quality stack: natural
    English sits ≈ 4 bits, base64/hex blobs and random keys spike
    toward 6, and repeated-template boilerplate collapses toward 2 —
    catching BOTH failure directions one threshold at a time
    (complements the token-level gopher rules, which can't see
    inside a single giant unbroken token).

    Exactness: per-term −p·log₂p quantizes to 12 dp before the
    order-independent decimal sum (the geomean/ln discipline), so the
    per-doc entropy is bit-stable under any partitioning.

    Scale design: one char explode → (doc, char)-keyed count with
    map-side combine (cardinality ≤ |alphabet| per doc) → one
    doc-keyed reduce. At 100 TB the explode is the cost — the in-row
    aggregate form (no explode, per-row loop over a 256-cell array)
    is the documented swap once profiling demands it."""
    d = table(spark, sf_dir, "documents")
    ch = (
        d.select(
            "doc_id",
            F.explode(F.split(F.col("text"), "(?!^)")).alias("c"),
        )
        .where(F.col("c") != "")
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = ch.groupBy("doc_id").agg(
        F.sum("cnt").cast("double").alias("n"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    p = F.col("cnt") / F.col("n")
    term = F.round(-p * F.log(p) / F.log(F.lit(2.0)), 12).cast(
        "decimal(38,12)"
    )
    return (
        ch.join(tot, "doc_id")
        .groupBy("doc_id", "n_distinct")
        .agg(
            F.round(F.sum(term).cast("double"), 6).alias("entropy_bits")
        )
    )


# ---------------------------------------------------------------------------
# text_collocations_pmi — pointwise mutual information collocation mining
# ---------------------------------------------------------------------------

_PMI_MIN_N = 25  # support floor: PMI is unstable on rare pairs

_PMI_ORACLE = f"""
WITH t AS (
  SELECT doc_id, tok, pos FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '\\s+')) AS tok,
           generate_subscripts(string_split_regex(lower(text), '\\s+'), 1)
             AS pos
    FROM documents
  ) WHERE tok <> ''
), pairs AS (
  SELECT a.tok AS w1, b.tok AS w2
  FROM t a JOIN t b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
), pc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12
  FROM pairs GROUP BY w1, w2
), uc AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY tok
), tot AS (
  SELECT CAST(SUM(n12) AS DOUBLE) AS total FROM pc
)
SELECT w1, w2, n12,
       ROUND(ln((n12 / total) / ((u1.n / total) * (u2.n / total))), 6)
         AS pmi
FROM pc JOIN uc u1 ON pc.w1 = u1.tok
        JOIN uc u2 ON pc.w2 = u2.tok
        CROSS JOIN tot
WHERE n12 >= {_PMI_MIN_N}
ORDER BY pmi DESC, w1, w2 LIMIT 50
"""


@register("text_collocations_pmi", oracle=_PMI_ORACLE)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information — bigrams
    whose co-occurrence beats the independence baseline (PMI =
    ln p(a,b)/(p(a)p(b))): the statistic behind multiword-expression
    detection ("new york"), tokenizer-merge candidates, and phrase
    vocabularies — raw bigram counts (text_ngrams) surface FREQUENT
    pairs, PMI surfaces ASSOCIATED ones; a support floor (n ≥ 25)
    excludes the rare-pair instability PMI is notorious for.

    Scale design: adjacent pairs come from the in-row zip (the
    skipgram machinery at offset 1, one direction); pair and unigram
    tables are both language-bounded rollups; PMI joins the pair
    table to two broadcast unigram lookups + a 1-row total. The ln is
    a single expression over exact integer counts — identical operand
    doubles both engines — rounded at 6; top-50 folds into
    TakeOrderedAndProject."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        F.filter(tokenize("text"), lambda t: t != "").alias("toks")
    )
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice(
                    F.col("toks"),
                    1,
                    F.greatest(F.size("toks") - 1, F.lit(0)),
                ),
                F.expr("slice(toks, 2, greatest(size(toks) - 1, 0))"),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    uc = (
        toks.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = pc.agg(F.sum("n12").cast("double").alias("total"))
    u1 = uc.select(F.col("tok").alias("w1"), F.col("n").alias("n1"))
    u2 = uc.select(F.col("tok").alias("w2"), F.col("n").alias("n2"))
    pmi = F.round(
        F.log(
            (F.col("n12") / F.col("total"))
            / (
                (F.col("n1") / F.col("total"))
                * (F.col("n2") / F.col("total"))
            )
        ),
        6,
    )
    return (
        pc.where(F.col("n12") >= _PMI_MIN_N)
        .join(broadcast_if_small(u1), "w1")
        .join(broadcast_if_small(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "n12", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# text_extractive_summary — centroid-style one-sentence summaries
# ---------------------------------------------------------------------------

_XSUM_ORACLE = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents
), n AS (SELECT COUNT(*) AS n_docs FROM base),
df AS (
  SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM (SELECT doc_id, unnest(toks) AS tok FROM base) GROUP BY tok
), planted AS (
  SELECT doc_id,
         regexp_replace(lower(text), ' (spark|table|merge) ', ' \\1. ',
                        'g') AS t
  FROM documents
), sent AS (
  SELECT doc_id, trim(s) AS sent FROM (
    SELECT doc_id,
           unnest(string_split(
               regexp_replace(t, '([.!?])\\s+', '\\1\x01', 'g'),
               '\x01')) AS s
    FROM planted
  ) WHERE trim(s) <> ''
), stok AS (
  SELECT DISTINCT doc_id, sent,
         regexp_replace(tok, '[.!?]', '', 'g') AS tok
  FROM (SELECT doc_id, sent,
               unnest(string_split_regex(sent, '\\s+')) AS tok
        FROM sent)
  WHERE regexp_replace(tok, '[.!?]', '', 'g') <> ''
), scored AS (
  SELECT s.doc_id, s.sent,
         ROUND(CAST(SUM(CAST(ROUND(ln(CAST(n_docs AS DOUBLE) / df.df), 12)
                             AS DECIMAL(38,12))) AS DOUBLE)
               / COUNT(*), 6) AS score
  FROM stok s JOIN df ON s.tok = df.tok CROSS JOIN n
  GROUP BY s.doc_id, s.sent
)
SELECT doc_id, sent AS summary, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY score DESC, sent ASC) AS rn
  FROM scored
) WHERE rn = 1
"""


@register("text_extractive_summary", oracle=_XSUM_ORACLE)
def text_extractive_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extractive one-sentence summaries — centroid/tf-idf style: each
    sentence scores by the MEAN idf of its distinct terms (rare-term-
    dense sentences are the informative ones) and the top sentence per
    doc is the summary — the classical pre-neural summarizer, and the
    batch shape of any "pick the best span per document" selection
    (the neural swap replaces the scorer with an iterator-UDF model,
    the plan is unchanged).

    Composition of in-repo machinery: the sentence-split planting
    (terminal punctuation after planted terms — fixture prose has
    none) → per-sentence distinct terms (punctuation stripped so
    tokens match the corpus df table) → idf join → quantized-ln
    decimal mean (the geomean discipline) → per-doc top-1 window with
    (score, sentence) tie-break.

    Scale: df/idf are language-bounded broadcasts; sentence scoring
    is one (doc, sentence)-keyed aggregation; top-1 is a doc-keyed
    window over sentence-grain rows."""
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.filter(tokenize("text"), lambda t: t != "").alias("toks"),
    )
    n_docs = base.count()
    df_t = (
        base.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    planted = d.select(
        "doc_id",
        F.regexp_replace(
            F.lower("text"), r" (spark|table|merge) ", r" $1. "
        ).alias("t"),
    )
    sent = (
        planted.select(
            "doc_id",
            F.explode(
                F.split(
                    F.regexp_replace("t", r"([.!?])\s+", "$1\x01"),
                    "\x01",
                )
            ).alias("s"),
        )
        .select("doc_id", F.trim("s").alias("sent"))
        .where(F.col("sent") != "")
    )
    stok = (
        sent.select(
            "doc_id",
            "sent",
            F.explode(F.split("sent", r"\s+")).alias("tok0"),
        )
        .select(
            "doc_id",
            "sent",
            F.regexp_replace("tok0", r"[.!?]", "").alias("tok"),
        )
        .where(F.col("tok") != "")
        .distinct()
    )
    idf = F.round(
        F.log(F.lit(float(n_docs)) / F.col("df")), 12
    ).cast("decimal(38,12)")
    scored = (
        stok.join(broadcast_if_small(df_t), "tok")
        .groupBy("doc_id", "sent")
        .agg(
            F.round(
                F.sum(idf).cast("double") / F.count(F.lit(1)), 6
            ).alias("score")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("sent").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("doc_id", F.col("sent").alias("summary"), "score")
    )


# ---------------------------------------------------------------------------
# text_term_burstiness — variance-to-mean dispersion of term counts
# ---------------------------------------------------------------------------

_BURST_MIN_TOTAL = 200

_BURST_ORACLE = f"""
WITH per_doc AS (
  SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+'))
          AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY tok, doc_id
), nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
s AS (
  SELECT tok, CAST(SUM(c) AS DOUBLE) AS total,
         CAST(SUM(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0)))
              AS DOUBLE) AS sqsum,
         CAST(COUNT(*) AS DOUBLE) AS df
  FROM per_doc GROUP BY tok HAVING SUM(c) >= {_BURST_MIN_TOTAL}
)
SELECT tok, CAST(total AS BIGINT) AS total,
       FLOOR(((sqsum + 0) / n_docs
              - (total / n_docs) * (total / n_docs))
             / (total / n_docs) * 1e6) / 1e6 AS burstiness
FROM s CROSS JOIN nd
ORDER BY burstiness DESC, tok LIMIT 40
"""


@register("text_term_burstiness", oracle=_BURST_ORACLE)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term BURSTINESS — variance-to-mean ratio (index of dispersion)
    of per-document counts across the corpus: Poisson-scattered
    function words sit near 1, CONTENT words clump (a doc that says
    "vector" once says it again) and score high — the corpus-
    linguistics statistic behind keyword extraction and stop-list
    induction that plain frequency can't see (a frequent-but-flat
    term is noise; a frequent-and-bursty one is topical).

    Variance uses the POPULATION form over ALL docs (zero counts
    included — algebraically: E[c²] − E[c]² with sums over occurring
    docs only, divided by the full doc count), so the zero cells never
    materialize. Support floor ≥200 total occurrences. Exact integer
    sufficient stats; floor-quantized ratio; top-40 by burstiness.

    Scale: one (term, doc) count, one term-keyed reduce — both
    language-bounded after the first collapse."""
    d = table(spark, sf_dir, "documents")
    n_docs = float(d.count())
    per_doc = (
        d.select("doc_id", F.explode(tokenize("text")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s = (
        per_doc.groupBy("tok")
        .agg(
            F.sum("c").cast("double").alias("total"),
            F.sum(
                F.col("c").cast("decimal(18,0)")
                * F.col("c").cast("decimal(18,0)")
            )
            .cast("double")
            .alias("sqsum"),
        )
        .where(F.col("total") >= _BURST_MIN_TOTAL)
    )
    mean = F.col("total") / n_docs
    burst = (
        F.floor(
            ((F.col("sqsum") / n_docs) - mean * mean) / mean * 1e6
        )
        / 1e6
    )
    return (
        s.select(
            "tok",
            F.col("total").cast("long").alias("total"),
            burst.alias("burstiness"),
        )
        .orderBy(F.col("burstiness").desc(), "tok")
        .limit(40)
    )


# ---------------------------------------------------------------------------
# text_stylometry_attribution — function-word fingerprints per source
# ---------------------------------------------------------------------------

_STYLE_WORDS = ["the", "a", "and", "of", "to", "in"]
_STYLE_SQL = ", ".join(f"'{w}'" for w in _STYLE_WORDS)

_STYLO_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, tok FROM (
    SELECT doc_id, source,
           unnest(string_split_regex(lower(text), '\\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), doc_prof AS (
  SELECT doc_id, source, w.sw,
         FLOOR(CAST(COUNT(*) FILTER (WHERE tok = w.sw) AS DOUBLE)
               / COUNT(*) * 1e6) / 1e6 AS f
  FROM t CROSS JOIN (SELECT UNNEST([{_STYLE_SQL}]) AS sw) w
  GROUP BY doc_id, source, w.sw
), src_prof AS (
  SELECT source AS psrc, sw,
         FLOOR(CAST(SUM(fc) AS DOUBLE) / SUM(tc) * 1e6) / 1e6 AS pf
  FROM (
    SELECT source, w.sw,
           COUNT(*) FILTER (WHERE tok = w.sw) AS fc, COUNT(*) AS tc
    FROM t CROSS JOIN (SELECT UNNEST([{_STYLE_SQL}]) AS sw) w
    GROUP BY source, w.sw, doc_id
  ) GROUP BY source, sw
), dist AS (
  SELECT d.doc_id, d.source, s.psrc,
         FLOOR(SUM(ABS(d.f - s.pf)) * 1e6) / 1e6 AS l1
  FROM doc_prof d JOIN src_prof s USING (sw)
  GROUP BY d.doc_id, d.source, s.psrc
), best AS (
  SELECT doc_id, source, psrc,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY l1 ASC, psrc ASC) AS rn
  FROM dist
)
SELECT source, psrc AS predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM best WHERE rn = 1 GROUP BY source, psrc
"""


@register("text_stylometry_attribution", oracle=_STYLO_ORACLE)
def text_stylometry_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stylometric source attribution — the Mosteller-Wallace method in
    miniature: FUNCTION-WORD frequency profiles (content-free, hence
    author/source-revealing) per document, each document attributed to
    the nearest SOURCE profile by L1 distance, reported as the
    source × predicted confusion matrix. The forensics/contamination
    view: a "new" source whose docs all attribute to an existing one
    is a relabeled copy — provenance checking that survives content
    paraphrase because it never looks at content words.

    Exactness: per-doc and per-source frequencies floor-quantize at
    1e-6 BEFORE the distances (ratio parity), L1 sums floor-quantize
    before the argmin, ties break by source name.

    Scale: profiles are |docs|×6 and |sources|×6 tables; attribution
    is a doc-keyed join against the broadcast source profiles; the
    confusion matrix is dimension-sized."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "source", F.explode(tokenize("text")).alias("tok")
    ).where(F.col("tok") != "")
    sw = spark.createDataFrame([(w,) for w in _STYLE_WORDS], "sw string")
    base = t.crossJoin(F.broadcast(sw))
    doc_prof = base.groupBy("doc_id", "source", "sw").agg(
        (
            F.floor(
                F.count_if(F.col("tok") == F.col("sw")).cast("double")
                / F.count(F.lit(1))
                * 1e6
            )
            / 1e6
        ).alias("f")
    )
    src_counts = base.groupBy("source", "sw", "doc_id").agg(
        F.count_if(F.col("tok") == F.col("sw")).alias("fc"),
        F.count(F.lit(1)).alias("tc"),
    )
    src_prof = src_counts.groupBy(
        F.col("source").alias("psrc"), "sw"
    ).agg(
        (
            F.floor(
                F.sum("fc").cast("double") / F.sum("tc") * 1e6
            )
            / 1e6
        ).alias("pf")
    )
    dist = (
        doc_prof.join(F.broadcast(src_prof), "sw")
        .groupBy("doc_id", "source", "psrc")
        .agg(
            (
                F.floor(F.sum(F.abs(F.col("f") - F.col("pf"))) * 1e6)
                / 1e6
            ).alias("l1")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("l1").asc(), F.col("psrc").asc()
    )
    best = dist.withColumn("rn", F.row_number().over(w)).where("rn = 1")
    return best.groupBy("source", F.col("psrc").alias("predicted")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# ---------------------------------------------------------------------------
# text_langid_eval — classifier evaluation: confusion matrix + P/R/F1
# ---------------------------------------------------------------------------

_LID_EVAL_ORACLE = f"""
WITH scored AS (
    SELECT doc_id, lang,
           {_profile_sql('en')} AS s_en,
           {_profile_sql('de')} AS s_de,
           {_profile_sql('es')} AS s_es,
           {_profile_sql('fr')} AS s_fr,
           {_profile_sql('zh')} AS s_zh
    FROM documents
), pred AS (
  SELECT lang AS labeled,
         CASE WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
              WHEN s_de >= greatest(s_es, s_fr, s_zh) THEN 'de'
              WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
              WHEN s_fr >= s_zh THEN 'fr'
              ELSE 'zh' END AS predicted
  FROM scored
), cls AS (SELECT DISTINCT labeled AS c FROM pred),
m AS (
  SELECT c,
         CAST(COUNT(*) FILTER (WHERE labeled = c AND predicted = c)
              AS DOUBLE) AS tp,
         CAST(COUNT(*) FILTER (WHERE predicted = c AND labeled <> c)
              AS DOUBLE) AS fp,
         CAST(COUNT(*) FILTER (WHERE labeled = c AND predicted <> c)
              AS DOUBLE) AS fn
  FROM pred CROSS JOIN cls GROUP BY c
)
SELECT c AS lang, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       FLOOR(tp / GREATEST(tp + fp, 1) * 1e6) / 1e6 AS precision_,
       FLOOR(tp / GREATEST(tp + fn, 1) * 1e6) / 1e6 AS recall_,
       FLOOR(2 * tp / GREATEST(2 * tp + fp + fn, 1) * 1e6) / 1e6 AS f1
FROM m
"""


@register("text_langid_eval", oracle=_LID_EVAL_ORACLE)
def text_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier EVALUATION harness — per-class precision/recall/F1 of
    the language-ID heuristic against the corpus's ground-truth lang
    labels: the missing half of any deployed classifier (the langid
    key PREDICTS; this key answers "should you trust it, per class").
    The shape — predictions ⋈ labels → per-class tp/fp/fn → P/R/F1 —
    is the evaluation plan of EVERY batch classifier on the engine,
    model-based ones included (swap the CASE for an inference UDF).

    Exactness: counts are exact; ratios floor-quantize at 1e-6 with
    GREATEST(·,1) guarding empty classes (the PSI ε doctrine).
    F1 computed as 2tp/(2tp+fp+fn) — the single-expression form that
    avoids compounding two quantized ratios.

    Scale: one prediction pass (codegen'd), one class-keyed count —
    the |classes|-sized cross join is against a 5-row dimension."""
    d = table(spark, sf_dir, "documents")
    toks = tokenize("text")
    scores = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
        )
        for lang, words in _PROFILES.items()
    }
    s = d.select(
        F.col("lang").alias("labeled"),
        *[scores[lang].alias(f"s_{lang}") for lang in _PROFILES],
    )
    pred_col = (
        F.when(
            F.col("s_en") >= F.greatest("s_de", "s_es", "s_fr", "s_zh"),
            "en",
        )
        .when(F.col("s_de") >= F.greatest("s_es", "s_fr", "s_zh"), "de")
        .when(F.col("s_es") >= F.greatest("s_fr", "s_zh"), "es")
        .when(F.col("s_fr") >= F.col("s_zh"), "fr")
        .otherwise("zh")
    )
    pred = s.select("labeled", pred_col.alias("predicted"))
    cls = pred.select(F.col("labeled").alias("c")).distinct()
    m = (
        pred.crossJoin(F.broadcast(cls))
        .groupBy("c")
        .agg(
            F.count_if(
                (F.col("labeled") == F.col("c"))
                & (F.col("predicted") == F.col("c"))
            )
            .cast("double")
            .alias("tp"),
            F.count_if(
                (F.col("predicted") == F.col("c"))
                & (F.col("labeled") != F.col("c"))
            )
            .cast("double")
            .alias("fp"),
            F.count_if(
                (F.col("labeled") == F.col("c"))
                & (F.col("predicted") != F.col("c"))
            )
            .cast("double")
            .alias("fn"),
        )
    )

    def q(x):
        return F.floor(x * 1e6) / 1e6

    return m.select(
        F.col("c").alias("lang"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        q(F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1.0))).alias(
            "precision_"
        ),
        q(F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1.0))).alias(
            "recall_"
        ),
        q(
            2
            * F.col("tp")
            / F.greatest(
                2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(1.0)
            )
        ).alias("f1"),
    )


# ---------------------------------------------------------------------------
# text_readability_fk — Flesch-Kincaid grade via vowel-run syllables
# ---------------------------------------------------------------------------

_FK_ORACLE = """
WITH planted AS (
  SELECT doc_id,
         regexp_replace(lower(text), ' (spark|table|merge) ', ' \\1. ',
                        'g') AS t
  FROM documents
), s AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(t, '\\s+'), w -> w <> ''))
           AS words,
         1 + len(regexp_extract_all(t, '[.!?] ')) AS sentences,
         len(regexp_extract_all(t, '[aeiouy]+')) AS syllables
  FROM planted
)
SELECT doc_id, CAST(words AS BIGINT) AS words,
       CAST(sentences AS BIGINT) AS sentences,
       CAST(syllables AS BIGINT) AS syllables,
       CAST(FLOOR((39 * words * words + 1180 * syllables * sentences
                   - 1559 * sentences * words) * 100.0
                  / (sentences * words)) AS BIGINT) AS fk_grade_e4
FROM s WHERE words > 0
"""


@register("text_readability_fk", oracle=_FK_ORACLE)
def text_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level — 0.39·(words/sentence) +
    11.8·(syllables/word) − 15.59 — the readability score education
    and accessibility standards actually cite, with syllables
    approximated by VOWEL RUNS (the deterministic regex proxy every
    SQL-portable implementation uses; a CMU-dict syllabifier drops in
    as an iterator UDF for the exact tier). Sentence boundaries use
    the planted-punctuation convention (fixture prose has none — the
    sentence-split doctrine). Rounds out the quality stack: gopher
    composition rules, entropy, burstiness, Zipf — and now the
    human-facing readability axis.

    Exactness: all three counts are exact regex counts, and the grade
    ships in INTEGER 1e-4 units computed from the exact RATIONAL form
    (grade·100·s·w = 39w² + 1180ys − 1559sw — one division of exact
    integers, correctly rounded identically in both engines). The
    naive 0.39·w/s + 11.8·y/w − 15.59 float chain straddled the 1e-4
    floor grid on 24/500 docs — decimal literals are inexact doubles,
    the rational rewrite has no literals to drift.

    Scale: three codegen'd regexp projections + arithmetic, zero
    shuffle."""
    d = table(spark, sf_dir, "documents")
    t = F.regexp_replace(
        F.lower("text"), r" (spark|table|merge) ", r" $1. "
    )
    base = d.select("doc_id", t.alias("t"))
    words = F.size(
        F.filter(F.split("t", r"\s+"), lambda w: w != "")
    ).cast("long")
    sentences = (1 + F.regexp_count("t", F.lit(r"[.!?] "))).cast("long")
    syllables = F.regexp_count("t", F.lit("[aeiouy]+")).cast("long")
    s = base.select(
        "doc_id",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    ).where(F.col("words") > 0)
    num = (
        39 * F.col("words") * F.col("words")
        + 1180 * F.col("syllables") * F.col("sentences")
        - 1559 * F.col("sentences") * F.col("words")
    )
    grade_e4 = F.floor(
        num * 100.0 / (F.col("sentences") * F.col("words"))
    ).cast("long")
    return s.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        grade_e4.alias("fk_grade_e4"),
    )


# ---------------------------------------------------------------------------
# text_hapax_rate — once-occurring vocabulary share per source
# ---------------------------------------------------------------------------

_HAPAX_ORACLE = """
WITH tf AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source,
               unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents)
  WHERE tok <> ''
  GROUP BY source, tok
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS hapax,
       FLOOR(CAST(COUNT(*) FILTER (WHERE c = 1) AS DOUBLE)
             / COUNT(*) * 1e6) / 1e6 AS hapax_rate
FROM tf GROUP BY source
"""


@register("text_hapax_rate", oracle=_HAPAX_ORACLE)
def text_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena rate per source — the share of vocabulary
    appearing exactly once: natural text runs ~40-60% hapax (Zipf's
    long tail); templated/spun sources collapse toward 0 (the same
    words forever) and OCR/gibberish sources spike toward 1 (every
    error is a new "word") — the vocabulary-growth diagnostic that
    pairs with Zipf's slope (global shape) and burstiness (per-term
    clumping) to complete the corpus-statistics triad.

    Exactness: exact counts; rate floor-quantized at 1e-6.
    Scale: one (source, term) rollup (language-bounded per source) +
    one source-keyed conditional count."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(
            "source", F.explode(tokenize("text")).alias("tok")
        )
        .where(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tf.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.count_if(F.col("c") == 1).alias("hapax"),
        (
            F.floor(
                F.count_if(F.col("c") == 1).cast("double")
                / F.count(F.lit(1))
                * 1e6
            )
            / 1e6
        ).alias("hapax_rate"),
    )


# ---------------------------------------------------------------------------
# text_vocab_coverage — fixed-vocab coverage / OOV rate per document
# ---------------------------------------------------------------------------

_VOCAB_COV_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '\\s+')) AS term
  FROM documents
), freq AS (
  SELECT term, COUNT(*) AS n FROM tok WHERE term <> '' GROUP BY term
), vocab AS (
  SELECT term FROM (
    SELECT term, ROW_NUMBER() OVER (ORDER BY n DESC, term ASC) AS rk
    FROM freq
  ) WHERE rk <= 100
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_in_vocab,
       ROUND(SUM(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS coverage
FROM tok t LEFT JOIN vocab v ON t.term = v.term
WHERE t.term <> ''
GROUP BY t.doc_id
"""


@register("text_vocab_coverage", oracle=_VOCAB_COV_ORACLE)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage per document: with the vocab fixed
    to the corpus's top-100 tokens (deterministic (freq desc, term asc)
    cut), what fraction of each doc's token INSTANCES are in-vocab —
    the OOV-rate eval every tokenizer/vocab decision is scored by
    (coverage low → doc will fragment into many subword pieces or
    <unk>s). Complements text_bpe_encode (which encodes against a
    learned subword vocab) with the word-level coverage audit that
    picks vocab size in the first place.

    Scale design: vocab derivation is one map-side-combined token count
    + a TakeOrdered-style top-k; scoring re-joins the 100-row vocab to
    the exploded tokens (broadcast — genuinely bounded by the top-k
    constant, not corpus-sized) and aggregates per doc. Ratio is one
    division of exact integers, ROUND(6)."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokenize("text")).alias("term")
    ).where(F.col("term") != "")
    freq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        freq.orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(100)
        .select("term")
    )
    return (
        tok.join(
            F.broadcast(vocab.withColumn("in_v", F.lit(1))), "term", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce("in_v", F.lit(0))).alias("n_in_vocab"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_in_vocab",
            F.round(
                F.col("n_in_vocab") / F.col("n_tokens").cast("double"), 6
            ).alias("coverage"),
        )
    )


# ---------------------------------------------------------------------------
# text_rake_keyphrases — RAKE keyphrase extraction (degree/freq scoring)
# ---------------------------------------------------------------------------

_RAKE_ORACLE = """
WITH parts AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ps
  FROM documents
),
tok AS (
  SELECT doc_id,
         unnest(list_transform(range(len(ps)), i ->
             struct_pack(ord := i,
                         term := ps[CAST(i AS INT) + 1]))) AS u
  FROM parts
),
t AS (
  SELECT doc_id, u.ord AS ord, u.term AS term FROM tok
  WHERE u.term <> ''
),
ns AS (
  SELECT doc_id, ord, term,
         ord - ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY ord) AS grp
  FROM t WHERE term NOT IN ('the', 'a', 'and', 'of', 'to', 'in')
),
phr AS (
  SELECT doc_id, grp,
         string_agg(term, ' ' ORDER BY ord) AS phrase,
         COUNT(*) AS plen
  FROM ns GROUP BY doc_id, grp
  HAVING COUNT(*) <= 4
),
pw AS (
  SELECT phrase, plen,
         unnest(string_split(phrase, ' ')) AS w
  FROM phr
),
ws AS (
  SELECT w,
         ROUND(SUM(plen) / CAST(COUNT(*) AS DOUBLE), 6) AS wscore
  FROM pw GROUP BY w
),
scored AS (
  SELECT p.phrase,
         MAX(p.plen) AS n_words,
         COUNT(*) / MAX(p.plen) AS n_occurrences,
         ROUND(CAST(SUM(CAST(ws.wscore AS DECIMAL(27,6))) AS DOUBLE)
               / (COUNT(*) / MAX(p.plen)), 6) AS score
  FROM pw p JOIN ws ON ws.w = p.w
  GROUP BY p.phrase
)
SELECT phrase, CAST(n_words AS BIGINT) AS n_words,
       CAST(n_occurrences AS BIGINT) AS n_occurrences, score
FROM scored
ORDER BY score DESC, phrase ASC
LIMIT 20
"""


@register("text_rake_keyphrases", oracle=_RAKE_ORACLE)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010), corpus-wide:
    candidate phrases are maximal stopword-free token runs (the
    gaps-and-islands trick — group key = position minus non-stop rank),
    capped at 4 words (the practical cap; synthetic stopword-poor text
    otherwise yields page-long "phrases"); each word scores
    degree/frequency (degree = Σ phrase-length over its phrase
    instances — co-occurrence reach; frequency = instance count), a
    phrase scores the sum of its words' scores, and the corpus top-20
    emerges. The unsupervised keyword extractor everything from search
    indexing to corpus labeling starts with.

    Scale design: tokenize + posexplode (per-doc bounded), ONE doc-keyed
    window for the island grouping, phrase assembly as a (doc,
    run)-keyed agg, word stats as token-keyed aggs, scoring as one join
    of phrase words against the word-score table, top-20 via
    TakeOrderedAndProject. No pairwise anything. Parity: word scores
    ROUND(6) before the order-independent decimal phrase sum."""
    d = table(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id",
            F.posexplode(tokenize("text")).alias("ord", "term"),
        )
        .where(F.col("term") != "")
    )
    ns = tok.where(~F.col("term").isin(STOPWORDS)).withColumn(
        "grp",
        F.col("ord")
        - F.row_number().over(
            Window.partitionBy("doc_id").orderBy("ord")
        ),
    )
    phr = (
        ns.groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ord", "term"))),
                    lambda s: s["term"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
        .where(F.col("plen") <= 4)
    )
    pw = phr.select(
        "phrase", "plen", F.explode(F.split("phrase", " ")).alias("w")
    )
    ws = pw.groupBy("w").agg(
        F.round(
            F.sum("plen") / F.count(F.lit(1)).cast("double"), 6
        ).alias("wscore")
    )
    scored = (
        pw.join(ws, "w")
        .groupBy("phrase")
        .agg(
            F.max("plen").alias("n_words"),
            (F.count(F.lit(1)) / F.max("plen")).alias("n_occ"),
            F.round(
                F.sum(F.col("wscore").cast(DSCALE)).cast("double")
                / (F.count(F.lit(1)) / F.max("plen")),
                6,
            ).alias("score"),
        )
    )
    return (
        scored.select(
            "phrase",
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_occ").cast("long").alias("n_occurrences"),
            "score",
        )
        .orderBy(F.col("score").desc(), F.col("phrase").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# text_js_divergence — per-source vocabulary divergence from the corpus
# ---------------------------------------------------------------------------

_JSD_ORACLE = """
WITH tok AS (
  SELECT source,
         unnest(string_split_regex(lower(text), '\\s+')) AS term
  FROM documents
),
t AS (SELECT source, term FROM tok WHERE term <> ''),
st AS (SELECT source, term, COUNT(*) AS c FROM t GROUP BY 1, 2),
ct AS (SELECT term, COUNT(*) AS cc FROM t GROUP BY term),
stot AS (SELECT source, SUM(c) AS ns FROM st GROUP BY source),
ctot AS (SELECT SUM(cc) AS nc FROM ct),
grid AS (
  SELECT s.source, v.term, v.cc, s.ns, COALESCE(st.c, 0) AS c
  FROM stot s
  CROSS JOIN ct v
  LEFT JOIN st ON st.source = s.source AND st.term = v.term
),
terms AS (
  SELECT g.source,
         CAST(ROUND(
           0.5 * CASE WHEN g.c > 0 THEN
             (CAST(g.c AS DOUBLE) / g.ns)
             * ln((CAST(g.c AS DOUBLE) / g.ns)
                  / ((CAST(g.c AS DOUBLE) / g.ns
                      + CAST(g.cc AS DOUBLE) / ctot.nc) / 2))
             ELSE 0 END
           + 0.5 * (CAST(g.cc AS DOUBLE) / ctot.nc)
             * ln((CAST(g.cc AS DOUBLE) / ctot.nc)
                  / ((CAST(g.c AS DOUBLE) / g.ns
                      + CAST(g.cc AS DOUBLE) / ctot.nc) / 2)), 9)
         AS DECIMAL(27,9)) AS jt
  FROM grid g CROSS JOIN ctot
)
SELECT source,
       ROUND(CAST(SUM(jt) AS DOUBLE), 6) AS js_nats,
       CAST(COUNT(*) AS BIGINT) AS n_terms
FROM terms GROUP BY source
"""


@register("text_js_divergence", oracle=_JSD_ORACLE)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each SOURCE's unigram
    distribution and the corpus distribution — the symmetric, bounded
    (≤ ln 2) domain-shift measure a mixture designer reads before
    weighting sources (KL explodes on vocabulary gaps; JS doesn't,
    because the mixture midpoint m=(p+q)/2 is never zero where either
    side has mass). Complements events_feature_drift_psi (numeric
    features, binned) with the text-distribution form.

    Scale design: source-term and corpus-term counts are keyed aggs;
    the per-(source, term) grid is |sources|×|vocab| (dimension-scale
    here; at web scale the documented restriction is the top-k vocab —
    text_vocab_coverage's cut); each JS term quantizes to 9dp before
    the order-independent per-source decimal sum."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "source", F.explode(tokenize("text")).alias("term")
    ).where(F.col("term") != "")
    st = t.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    st = st.localCheckpoint(eager=True)
    ct = st.groupBy("term").agg(F.sum("c").alias("cc"))
    stot = st.groupBy("source").agg(F.sum("c").alias("ns"))
    ctot = ct.agg(F.sum("cc").alias("nc"))
    grid = (
        stot.crossJoin(ct)
        .join(st, ["source", "term"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
        .crossJoin(F.broadcast(ctot))
    )
    p = F.col("c").cast("double") / F.col("ns")
    q = F.col("cc").cast("double") / F.col("nc")
    m = (p + q) / 2
    jt = F.round(
        0.5 * F.when(F.col("c") > 0, p * F.log(p / m)).otherwise(0.0)
        + 0.5 * q * F.log(q / m),
        9,
    ).cast("decimal(27,9)")
    return (
        grid.select("source", jt.alias("jt"))
        .groupBy("source")
        .agg(
            F.round(F.sum("jt").cast("double"), 6).alias("js_nats"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
    )


# ---------------------------------------------------------------------------
# text_heaps_law — vocabulary-growth exponent (Heaps' law fit)
# ---------------------------------------------------------------------------

_HEAPS_ORACLE = """
WITH d AS (
  SELECT doc_id,
         len(string_split_regex(lower(text), '\\s+')) AS n_tokens,
         len(list_distinct(string_split_regex(lower(text), '\\s+')))
             AS n_types
  FROM documents
  WHERE len(string_split_regex(lower(text), '\\s+')) >= 2
),
pts AS (
  SELECT ROUND(ln(n_tokens), 6) AS x, ROUND(ln(n_types), 6) AS y FROM d
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
SELECT CAST(n AS BIGINT) AS n_docs,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
       ROUND(exp((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n), 4) AS k
FROM s
"""


@register("text_heaps_law", oracle=_HEAPS_ORACLE)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V = K·n^β over per-document (tokens, types)
    points — the vocabulary-growth exponent that predicts how the type
    inventory scales with corpus size (β ≈ 0.4-0.6 for natural text;
    synthetic word soup runs higher). The companion of
    text_zipf_exponent (rank-frequency) on the growth side: together
    they are the two classic lexical-statistics laws, and the pair a
    tokenizer-vocab plan extrapolates from.

    Scale design: per-doc token/type counts are row algebra; the
    log-log OLS runs on 4 decimal-exact moment sums (the agg_regression
    machinery) — one pass, dimension-free state."""
    d = table(spark, sf_dir, "documents")
    toks = tokenize("text")
    pts = d.select(
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_types"),
    ).where(F.col("n_tokens") >= 2)
    x = F.round(F.log("n_tokens"), 6)
    y = F.round(F.log("n_types"), 6)
    s = pts.select(x.alias("x"), y.alias("y")).agg(
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
        F.col("n").cast("long").alias("n_docs"),
        F.round(beta, 6).alias("beta"),
        F.round(
            F.exp((F.col("sy") - beta * F.col("sx")) / F.col("n")), 4
        ).alias("k"),
    )


# ---------------------------------------------------------------------------
# text_homoglyph_skeleton — confusable-character spoof detection
# ---------------------------------------------------------------------------

# Planted confusables (Cyrillic/Greek lookalikes) and their ASCII
# skeletons — the same translate() table on both engines.
_CONFUSABLES = "аеорсхɡο"
_SKELETON = "aeopcxgo"

_HOMOGLYPH_ORACLE = f"""
WITH planted AS (
  SELECT doc_id, text AS t FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         translate(text, '{_SKELETON}', '{_CONFUSABLES}')
  FROM documents WHERE doc_id % 7 = 0
),
sk AS (
  SELECT doc_id, t,
         translate(t, '{_CONFUSABLES}', '{_SKELETON}') AS skel,
         (t <> translate(t, '{_CONFUSABLES}', '{_SKELETON}'))
             AS has_confusables
  FROM planted
),
h AS (SELECT doc_id, md5(skel) AS skh, has_confusables FROM sk)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       (a.has_confusables OR b.has_confusables) AS spoof_suspect
FROM h a JOIN h b ON a.skh = b.skh AND a.doc_id < b.doc_id
"""


@register("text_homoglyph_skeleton", oracle=_HOMOGLYPH_ORACLE)
def text_homoglyph_skeleton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-confusable (homoglyph) spoof detection — the UTS #39
    skeleton idea: map lookalike characters (Cyrillic а, Greek ο, ...)
    to their ASCII skeletons and find documents whose skeletons collide
    while at least one side actually used confusables — phishing-title
    and plagiarism-evasion detection, and a dedup grain exact hashing
    misses BY CONSTRUCTION (the spoof exists to defeat it). Spoofed
    TWINS are PLANTED (%7 docs gain an id-shifted copy run through the
    confusable map, the planted-PII doctrine) so the detector
    demonstrably pairs each original with its spoof, and both engines
    run the identical translate() table.

    Scale design: skeletonization is one codegen'd translate() per row;
    collisions are a skeleton-hash-keyed self-join (content-hash
    sharding, never all-pairs)."""
    d = table(spark, sf_dir, "documents")
    planted = d.select("doc_id", F.col("text").alias("t")).unionByName(
        d.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.translate("text", _SKELETON, _CONFUSABLES).alias("t"),
        )
    )
    # One skeleton pass, not two: the a/b self-join otherwise evaluates
    # the full translate+md5 subtree (and the planted union's two corpus
    # scans) once per side — the build side broadcasts, which plan reuse
    # cannot dedupe. The cached frame is bounded: (doc_id, 32-char md5,
    # bool) per document.
    from trireme_spark.operators.hints import cache_once

    sk = cache_once(
        planted.select(
            "doc_id",
            F.md5(F.translate("t", _CONFUSABLES, _SKELETON)).alias("skh"),
            (
                F.col("t") != F.translate("t", _CONFUSABLES, _SKELETON)
            ).alias("has_confusables"),
        )
    )
    a = sk.alias("a")
    b = sk.alias("b")
    return a.join(
        b,
        (F.col("a.skh") == F.col("b.skh"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        (
            F.col("a.has_confusables") | F.col("b.has_confusables")
        ).alias("spoof_suspect"),
    )


# ---------------------------------------------------------------------------
# text_tokenizer_fertility — subword fertility / compression per language
# ---------------------------------------------------------------------------

_FERTILITY_ORACLE = """
WITH d AS (
  SELECT lang,
         len(string_split_regex(lower(text), '\\s+')) AS n_words,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
             AS n_pieces,
         len(text) AS n_chars
  FROM documents
  WHERE len(string_split_regex(lower(text), '\\s+')) >= 1
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(n_pieces) AS DOUBLE) / SUM(n_words), 6)
           AS fertility,
       ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_pieces), 6)
           AS chars_per_piece
FROM d GROUP BY lang
"""


@register("text_tokenizer_fertility", oracle=_FERTILITY_ORACLE)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language: subword pieces per whitespace
    word (the BPE-ish segmenter over words) and characters per piece —
    the two numbers multilingual tokenizer evaluations report
    (high-fertility languages pay more sequence length per word, which
    skews compute budgets and effective context; the metric behind
    vocab-allocation debates). Corpus-ratio form (Σpieces/Σwords), not
    mean-of-ratios, so long docs weigh proportionally.

    Scale design: two codegen'd regex counts per row, one lang-keyed
    aggregation of exact integers into single-division ratios."""
    d = table(spark, sf_dir, "documents")
    low = F.lower("text")
    stats = d.select(
        "lang",
        F.size(F.split(low, r"\s+")).alias("n_words"),
        F.size(
            F.regexp_extract_all(low, F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
        ).alias("n_pieces"),
        F.length("text").alias("n_chars"),
    ).where(F.col("n_words") >= 1)
    return stats.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.sum("n_pieces").cast("double") / F.sum("n_words"), 6
        ).alias("fertility"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("n_pieces"), 6
        ).alias("chars_per_piece"),
    )


# --- text_annotator_agreement (registered r11; r13 grading window) -----------
# Cadence-batch key 2 (SURVEY round-11 log). Inter-annotator agreement —
# the curation-QA primitive: when two labelers (here: two deterministic
# quality heuristics) rate the same corpus, raw percent agreement
# overstates consensus because imbalanced marginals agree by chance;
# Cohen's kappa is the chance-corrected coefficient (cramers_v, already
# registered, measures ASSOCIATION between different variables — kappa
# measures AGREEMENT on the same scale).

_KAPPA_ORACLE = """
WITH lab AS (
  SELECT lang,
         CASE WHEN n_chars >= 380 THEN 'long'
              WHEN n_chars >= 210 THEN 'mid' ELSE 'short' END AS la,
         CASE WHEN array_length(regexp_split_to_array(trim(text), '\\s+'))
                   >= 64 THEN 'long'
              WHEN array_length(regexp_split_to_array(trim(text), '\\s+'))
                   >= 35 THEN 'mid' ELSE 'short' END AS lb
  FROM documents
), cells AS (
  SELECT lang, la, lb, CAST(COUNT(*) AS BIGINT) AS c
  FROM lab GROUP BY 1, 2, 3
), tot AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN la = lb THEN c ELSE 0 END) AS BIGINT) AS diag
  FROM cells GROUP BY 1
), marg AS (
  SELECT r.lang, CAST(SUM(CAST(r.r AS HUGEINT) * s.s) AS DOUBLE) AS pe_num
  FROM (SELECT lang, la AS lab, SUM(c) AS r FROM cells GROUP BY 1, 2) r
  JOIN (SELECT lang, lb AS lab, SUM(c) AS s FROM cells GROUP BY 1, 2) s
    ON r.lang = s.lang AND r.lab = s.lab
  GROUP BY 1
)
SELECT t.lang, t.n AS n_docs,
       FLOOR(CAST(t.diag AS DOUBLE) / t.n * 1e6) / 1e6 AS po,
       FLOOR(pe_num / (CAST(t.n AS HUGEINT) * t.n) * 1e6) / 1e6 AS pe,
       CASE WHEN CAST(CAST(t.n AS HUGEINT) * t.n AS DOUBLE) = pe_num
            THEN 0.0
            ELSE FLOOR((CAST(CAST(t.diag AS HUGEINT) * t.n AS DOUBLE)
                        - pe_num)
                       / (CAST(CAST(t.n AS HUGEINT) * t.n AS DOUBLE)
                          - pe_num) * 1e6) / 1e6
       END AS kappa
FROM tot t JOIN marg m ON t.lang = m.lang
"""


@register("text_annotator_agreement", oracle=_KAPPA_ORACLE)
def text_annotator_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic quality annotators,
    per language.

    Annotator A labels documents long/mid/short by character count
    (>=380 / >=210); annotator B by whitespace-token count (>=64 /
    >=35). kappa = (p_o - p_e) / (1 - p_e) with p_o the observed
    agreement and p_e the chance agreement from the marginals — the
    inter-annotator-agreement gate a labeling pipeline runs before
    trusting labels for training data.

    Scale design: ONE corpus pass computes both labels row-locally and
    collapses to the (lang, la, lb) contingency cells (map-side-combined
    count; <=9 cells per language at any corpus size, cached — totals,
    diagonal and both marginals all consume the cell table). Everything
    downstream is alphabet-sized.

    Cross-engine parity: every quantity is an exact integer until the
    final divisions; the cross products diag*n and sum(row_k * col_k)
    are computed in 128-bit (decimal(38,0) / HUGEINT — n^2 overflows
    int64 past ~3e9 docs), kappa is a SINGLE division of exact integers
    ((diag*n - pe_num) / (n^2 - pe_num) — algebraically (po-pe)/(1-pe)
    without intermediate rounding), and po/pe/kappa floor-quantize at
    1e-6. Degenerate marginals (pe = 1: a one-cell language) pin
    kappa = 0.0 before the division.
    """
    d = table(spark, sf_dir, "documents")
    nw = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    lab = d.select(
        "lang",
        F.when(F.col("n_chars") >= 380, "long")
        .when(F.col("n_chars") >= 210, "mid")
        .otherwise("short")
        .alias("la"),
        F.when(nw >= 64, "long")
        .when(nw >= 35, "mid")
        .otherwise("short")
        .alias("lb"),
    )
    cells = (
        lab.groupBy("lang", "la", "lb")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .cache()
    )
    tot = cells.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("la") == F.col("lb"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("diag"),
    )
    rows = cells.groupBy("lang", F.col("la").alias("lab")).agg(
        F.sum("c").alias("r")
    )
    cols = cells.groupBy("lang", F.col("lb").alias("lab")).agg(
        F.sum("c").alias("s")
    )
    marg = (
        rows.join(cols, ["lang", "lab"])
        .groupBy("lang")
        .agg(
            F.sum(
                F.col("r").cast("decimal(38,0)")
                * F.col("s").cast("decimal(38,0)")
            )
            .cast("double")
            .alias("pe_num")
        )
    )
    n2 = (
        F.col("n").cast("decimal(38,0)") * F.col("n").cast("decimal(38,0)")
    ).cast("double")
    dn = (
        F.col("diag").cast("decimal(38,0)") * F.col("n").cast("decimal(38,0)")
    ).cast("double")
    return tot.join(marg, "lang").select(
        "lang",
        F.col("n").alias("n_docs"),
        fquant(F.col("diag").cast("double") / F.col("n")).alias("po"),
        fquant(F.col("pe_num") / n2).alias("pe"),
        F.when(n2 == F.col("pe_num"), F.lit(0.0))
        .otherwise(fquant((dn - F.col("pe_num")) / (n2 - F.col("pe_num"))))
        .alias("kappa"),
    )


# --- agg_fleiss_kappa (registered r11; r13 grading window) --------------------
# Cadence-batch key 2 (SURVEY round-11 log). Multi-rater agreement:
# text_annotator_agreement's Cohen kappa is defined for exactly TWO
# raters; Fleiss' kappa generalizes to r raters per item — the form a
# labeling pipeline needs once every document gets three heuristic (or
# crowd) judgments.

_FLEISS_ORACLE = """
WITH lab AS (
  SELECT lang,
         CASE WHEN n_chars >= 380 THEN 0
              WHEN n_chars >= 210 THEN 1 ELSE 2 END AS la,
         CASE WHEN array_length(regexp_split_to_array(trim(text), '\\s+'))
                   >= 64 THEN 0
              WHEN array_length(regexp_split_to_array(trim(text), '\\s+'))
                   >= 35 THEN 1 ELSE 2 END AS lb,
         CASE WHEN array_length(list_distinct(
                        regexp_split_to_array(trim(text), '\\s+'))) >= 55
                THEN 0
              WHEN array_length(list_distinct(
                        regexp_split_to_array(trim(text), '\\s+'))) >= 30
                THEN 1 ELSE 2 END AS lc
  FROM documents
), cnt AS (
  SELECT lang,
         (CASE WHEN la = 0 THEN 1 ELSE 0 END
          + CASE WHEN lb = 0 THEN 1 ELSE 0 END
          + CASE WHEN lc = 0 THEN 1 ELSE 0 END) AS n0,
         (CASE WHEN la = 1 THEN 1 ELSE 0 END
          + CASE WHEN lb = 1 THEN 1 ELSE 0 END
          + CASE WHEN lc = 1 THEN 1 ELSE 0 END) AS n1,
         (CASE WHEN la = 2 THEN 1 ELSE 0 END
          + CASE WHEN lb = 2 THEN 1 ELSE 0 END
          + CASE WHEN lc = 2 THEN 1 ELSE 0 END) AS n2
  FROM lab
), s AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(n0 * n0 + n1 * n1 + n2 * n2) AS BIGINT) AS s2,
         CAST(SUM(n0) AS BIGINT) AS c0,
         CAST(SUM(n1) AS BIGINT) AS c1,
         CAST(SUM(n2) AS BIGINT) AS c2
  FROM cnt GROUP BY 1
)
SELECT lang, n AS n_docs,
       FLOOR(CAST(s2 - 3 * n AS DOUBLE) / CAST(6 * n AS DOUBLE) * 1e6)
         / 1e6 AS p_bar,
       FLOOR(CAST(CAST(c0 AS HUGEINT) * c0 + CAST(c1 AS HUGEINT) * c1
                  + CAST(c2 AS HUGEINT) * c2 AS DOUBLE)
             / CAST(CAST(3 * n AS HUGEINT) * (3 * n) AS DOUBLE) * 1e6)
         / 1e6 AS p_e,
       CASE WHEN CAST(3 * n AS HUGEINT) * (3 * n) * 6 * n
                 = (CAST(c0 AS HUGEINT) * c0 + CAST(c1 AS HUGEINT) * c1
                    + CAST(c2 AS HUGEINT) * c2) * 6 * n
            THEN 0.0
            ELSE FLOOR((CAST(CAST(s2 - 3 * n AS HUGEINT)
                             * (3 * n) * (3 * n)
                             - 6 * n * (CAST(c0 AS HUGEINT) * c0
                                        + CAST(c1 AS HUGEINT) * c1
                                        + CAST(c2 AS HUGEINT) * c2)
                          AS DOUBLE))
                       / (CAST(CAST(6 * n AS HUGEINT)
                               * ((CAST(3 * n AS HUGEINT) * (3 * n))
                                  - (CAST(c0 AS HUGEINT) * c0
                                     + CAST(c1 AS HUGEINT) * c1
                                     + CAST(c2 AS HUGEINT) * c2))
                          AS DOUBLE)) * 1e6) / 1e6
       END AS fleiss_kappa
FROM s
"""


@register("agg_fleiss_kappa", oracle=_FLEISS_ORACLE)
def agg_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa across THREE deterministic annotators (character
    count, token count, distinct-token count — each binned long/mid/
    short), per language.

    With r = 3 raters and k = 3 categories: per-item agreement
    P_i = (sum_j n_ij^2 - r) / (r(r-1)); P-bar = mean_i P_i reduces to
    (S2 - 3N) / (6N) with S2 = sum_i sum_j n_ij^2; chance agreement
    P_e = sum_j (c_j / 3N)^2; kappa = (P_bar - P_e) / (1 - P_e).

    Scale design: ONE corpus pass computes all three labels row-locally,
    folds them into the per-item category-count vector (n0, n1, n2) in
    the same projection, and a SINGLE map-side-combined aggregation per
    language collects N, S2 and the three category totals — no joins,
    no windows, one exchange; everything after is per-language scalar
    algebra.

    Cross-engine parity: every sufficient statistic is an exact
    integer; kappa is computed as ONE division of exact 128-bit
    integer cross-products (decimal(38,0) / HUGEINT — (3N)^2 overflows
    int64 past ~1e9 docs) — algebraically (P_bar - P_e)/(1 - P_e)
    with zero intermediate rounding; p_bar / p_e / kappa floor-quantize
    at 1e-6; the degenerate all-one-category language pins kappa = 0.0.
    """
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    nw = F.size(toks)
    nu = F.size(F.array_distinct(toks))
    la = (
        F.when(F.col("n_chars") >= 380, 0)
        .when(F.col("n_chars") >= 210, 1)
        .otherwise(2)
    )
    lb = F.when(nw >= 64, 0).when(nw >= 35, 1).otherwise(2)
    lc = F.when(nu >= 55, 0).when(nu >= 30, 1).otherwise(2)

    def nj(j: int):
        return (
            F.when(la == j, 1).otherwise(0)
            + F.when(lb == j, 1).otherwise(0)
            + F.when(lc == j, 1).otherwise(0)
        )

    cnt = d.select(
        "lang", nj(0).alias("n0"), nj(1).alias("n1"), nj(2).alias("n2")
    )
    s = cnt.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.col("n0") * F.col("n0")
            + F.col("n1") * F.col("n1")
            + F.col("n2") * F.col("n2")
        )
        .cast("long")
        .alias("s2"),
        F.sum("n0").cast("long").alias("c0"),
        F.sum("n1").cast("long").alias("c1"),
        F.sum("n2").cast("long").alias("c2"),
    )
    big = "decimal(38,0)"
    n = F.col("n").cast(big)
    csq = (
        F.col("c0").cast(big) * F.col("c0")
        + F.col("c1").cast(big) * F.col("c1")
        + F.col("c2").cast(big) * F.col("c2")
    )
    tn2 = (3 * n) * (3 * n)
    num = (F.col("s2").cast(big) - 3 * n) * tn2 - 6 * n * csq
    den = (6 * n) * (tn2 - csq)
    return s.select(
        "lang",
        F.col("n").alias("n_docs"),
        fquant(
            (F.col("s2") - 3 * F.col("n")).cast("double")
            / (6 * F.col("n")).cast("double")
        ).alias("p_bar"),
        fquant(csq.cast("double") / tn2.cast("double")).alias("p_e"),
        F.when(den == F.lit(0).cast(big), F.lit(0.0))
        .otherwise(fquant(num.cast("double") / den.cast("double")))
        .alias("fleiss_kappa"),
    )


# ---------------------------------------------------------------------------
# text_mcnemar_test — McNemar's paired test on the two deterministic
# annotators' "long" calls — the DISAGREEMENT-direction question kappa
# cannot answer: do the annotators disagree SYMMETRICALLY, or is one
# systematically stricter?
# ---------------------------------------------------------------------------

_MCNEMAR_CHI2_CRIT = 3.841  # chi-square(1) at 5% — pinned literal

_MCNEMAR_ORACLE = f"""
WITH lab AS (
  SELECT lang,
         n_chars >= 380 AS a_long,
         array_length(regexp_split_to_array(trim(text), '\\s+')) >= 64
           AS b_long
  FROM documents
), cells AS (
  SELECT lang,
         CAST(COUNT(*) FILTER (WHERE a_long AND NOT b_long) AS BIGINT) AS b,
         CAST(COUNT(*) FILTER (WHERE b_long AND NOT a_long) AS BIGINT) AS c,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM lab GROUP BY 1
)
SELECT lang, n_docs, b AS a_only, c AS b_only,
       CASE WHEN b + c = 0 THEN 0.0
            ELSE FLOOR((abs(b - c) - 1) * (abs(b - c) - 1)
                       / CAST(b + c AS DOUBLE) * 1e6) / 1e6
       END AS mcnemar_chi2,
       CASE WHEN b + c = 0 THEN FALSE
            ELSE FLOOR((abs(b - c) - 1) * (abs(b - c) - 1)
                       / CAST(b + c AS DOUBLE) * 1e6) / 1e6
                 > {_MCNEMAR_CHI2_CRIT}
       END AS asymmetric
FROM cells
"""


@register("text_mcnemar_test", oracle=_MCNEMAR_ORACLE)
def text_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test per language on the paired binary "long document"
    calls of the two deterministic annotators (char-count ≥ 380 vs
    whitespace-token count ≥ 64 — the text_annotator_agreement rules,
    binarized at the top class): χ² = (|b−c|−1)²/(b+c) over the
    DISCORDANT cells only, with Edwards' continuity correction. Kappa
    measures agreement; McNemar measures whether the disagreements are
    one-sided — the check that catches a systematically stricter
    annotator even when overall agreement looks fine.

    Cross-engine exactness: b and c are exact integer cells from one
    corpus pass; the statistic is a single integer-derived double
    division, floor-quantized, with the degenerate b + c = 0 case
    pinned to 0.0 BEFORE the division on both sides; the significance
    flag compares the QUANTIZED statistic to the pinned χ²(1) critical.

    Scale design: one map-side-combined (lang, a, b)-cell count — the
    contingency-cell doctrine of the kappa keys; everything after is
    alphabet-sized."""
    d = table(spark, sf_dir, "documents")
    nw = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    lab = d.select(
        "lang",
        (F.col("n_chars") >= 380).alias("a_long"),
        (nw >= 64).alias("b_long"),
    )
    cells = lab.groupBy("lang").agg(
        F.count_if(F.col("a_long") & ~F.col("b_long")).alias("b"),
        F.count_if(F.col("b_long") & ~F.col("a_long")).alias("c"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    b, c = F.col("b"), F.col("c")
    stat = fquant(
        (F.abs(b - c) - 1)
        * (F.abs(b - c) - 1)
        / (b + c).cast("double")
    )
    return cells.select(
        "lang",
        "n_docs",
        b.alias("a_only"),
        c.alias("b_only"),
        F.when(b + c == 0, F.lit(0.0)).otherwise(stat).alias(
            "mcnemar_chi2"
        ),
        F.when(b + c == 0, F.lit(False))
        .otherwise(stat > _MCNEMAR_CHI2_CRIT)
        .alias("asymmetric"),
    )


# ---------------------------------------------------------------------------
# text_log_odds_dirichlet — Monroe/Colaresi/Quinn "Fightin' Words" (2008):
# log-odds-ratio with an informative Dirichlet prior, the
# corpus-comparison statistic that fixes both raw-PMI's rare-word
# explosions (the prior shrinks them) and tf-idf's length confound (the
# z-score normalizes by uncertainty).
# ---------------------------------------------------------------------------

_LOGODDS_A0 = 500.0  # total prior mass — pinned literal
_LOGODDS_TOPK = 10

_LOGODDS_ORACLE = f"""
WITH toks AS (
  SELECT lang, unnest(string_split_regex(lower(text), '\\s+')) AS token
  FROM documents WHERE lang IN ('en', 'fr')
), y AS (
  SELECT token,
         CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS y_en,
         CAST(COUNT(*) FILTER (WHERE lang = 'fr') AS BIGINT) AS y_fr
  FROM toks GROUP BY 1
), tot AS (
  SELECT CAST(SUM(y_en) AS DOUBLE) AS n_en,
         CAST(SUM(y_fr) AS DOUBLE) AS n_fr
  FROM y
), z AS (
  SELECT token, y_en, y_fr,
         FLOOR((
           ln((y_en + {_LOGODDS_A0} * (y_en + y_fr) / (n_en + n_fr))
              / (n_en + {_LOGODDS_A0} - y_en
                 - {_LOGODDS_A0} * (y_en + y_fr) / (n_en + n_fr)))
           - ln((y_fr + {_LOGODDS_A0} * (y_en + y_fr) / (n_en + n_fr))
                / (n_fr + {_LOGODDS_A0} - y_fr
                   - {_LOGODDS_A0} * (y_en + y_fr) / (n_en + n_fr)))
         ) / sqrt(
           1.0 / (y_en + {_LOGODDS_A0} * (y_en + y_fr) / (n_en + n_fr))
           + 1.0 / (y_fr + {_LOGODDS_A0} * (y_en + y_fr) / (n_en + n_fr))
         ) * 1e6) / 1e6 AS z
  FROM y CROSS JOIN tot
), ranked AS (
  SELECT token, y_en, y_fr, z,
         RANK() OVER (ORDER BY z DESC, token ASC) AS r_en,
         RANK() OVER (ORDER BY z ASC, token ASC) AS r_fr
  FROM z
)
SELECT 'en' AS leans, token, y_en, y_fr, z
FROM ranked WHERE r_en <= {_LOGODDS_TOPK}
UNION ALL
SELECT 'fr' AS leans, token, y_en, y_fr, z
FROM ranked WHERE r_fr <= {_LOGODDS_TOPK}
"""


@register("text_log_odds_dirichlet", oracle=_LOGODDS_ORACLE)
def text_log_odds_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fightin' Words between the en and fr corpora: for each token w,
    δ_w = log-odds of w in en minus log-odds in fr, both smoothed by an
    informative Dirichlet prior α_w = a₀·f_w/F (the token's share of
    the COMBINED corpus, scaled to total prior mass a₀ = 500), then
    z_w = δ_w / √(1/(y_en+α) + 1/(y_fr+α)). Emits the top-10
    most-en-leaning and top-10 most-fr-leaning tokens — the
    differential-vocabulary readout used for style transfer audits,
    subcorpus drift and content moderation deltas.

    Cross-engine exactness: token counts are exact integers; α_w, the
    log-odds and the variance run the same double expression on both
    engines (libm-agreement precedent of the logprob keys); z
    floor-quantizes and both leaderboards rank on the QUANTIZED z with
    the token as total tie-break.

    Scale design: one corpus tokenize-explode into a map-side-combined
    token rollup with CONDITIONAL per-corpus counts (adding corpora
    adds columns, not passes); the 1-row totals broadcast back; both
    top-k folds are rank windows over the token table under meta_part
    (at true corpus scale the documented swap is two
    TakeOrderedAndProject passes on the quantized z)."""
    d = table(spark, sf_dir, "documents").where(
        F.col("lang").isin("en", "fr")
    )
    toks = d.select(
        "lang", F.explode(tokenize("text")).alias("token")
    )
    y = toks.groupBy("token").agg(
        F.count_if(F.col("lang") == "en").alias("y_en"),
        F.count_if(F.col("lang") == "fr").alias("y_fr"),
    )
    w_tot = Window.partitionBy(meta_part("y_en"))
    j = y.select(
        "token",
        "y_en",
        "y_fr",
        F.sum("y_en").over(w_tot).cast("double").alias("n_en"),
        F.sum("y_fr").over(w_tot).cast("double").alias("n_fr"),
    )
    alpha = (
        F.lit(_LOGODDS_A0)
        * (F.col("y_en") + F.col("y_fr"))
        / (F.col("n_en") + F.col("n_fr"))
    )
    lo_en = F.log(
        (F.col("y_en") + alpha)
        / (F.col("n_en") + _LOGODDS_A0 - F.col("y_en") - alpha)
    )
    lo_fr = F.log(
        (F.col("y_fr") + alpha)
        / (F.col("n_fr") + _LOGODDS_A0 - F.col("y_fr") - alpha)
    )
    var = 1.0 / (F.col("y_en") + alpha) + 1.0 / (F.col("y_fr") + alpha)
    z = j.select(
        "token",
        "y_en",
        "y_fr",
        fquant((lo_en - lo_fr) / F.sqrt(var)).alias("z"),
    )
    w_en = Window.partitionBy(meta_part("y_en")).orderBy(
        F.col("z").desc(), F.col("token").asc()
    )
    w_fr = Window.partitionBy(meta_part("y_en")).orderBy(
        F.col("z").asc(), F.col("token").asc()
    )
    ranked = z.select(
        "token",
        "y_en",
        "y_fr",
        "z",
        F.rank().over(w_en).alias("r_en"),
        F.rank().over(w_fr).alias("r_fr"),
    )
    # both leaderboards leave through ONE explode of direction flags —
    # a where+union of the same lineage would rescan the corpus per leg
    dirs = F.array_compact(
        F.array(
            F.when(F.col("r_en") <= _LOGODDS_TOPK, F.lit("en")),
            F.when(F.col("r_fr") <= _LOGODDS_TOPK, F.lit("fr")),
        )
    )
    return (
        ranked.select(
            F.explode(dirs).alias("leans"), "token", "y_en", "y_fr", "z"
        )
    )


# ---------------------------------------------------------------------------
# text_compression_quality — zlib compressibility as a document quality
# signal: highly compressible text is repetitive/boilerplate (template
# spam, keyword stuffing, machine-generated filler) — the cheap,
# language-agnostic curation filter every large-corpus pipeline runs next
# to the Gopher rules (text_quality_gopher) and exactly the signal the
# repetition keys (text_dedup_repeated_spans, text_template_detect)
# approximate lexically. ROWS-ONLY: DuckDB has no zlib, so the contract is
# the pytest identity against Python's own zlib (same library, exact
# equality) plus determinism and bounds.
# ---------------------------------------------------------------------------

_COMP_LEVEL = 6  # zlib default-ish level, pinned
_COMP_BOILERPLATE = 0.4  # ratio below this = repetitive/boilerplate


@register("text_compression_quality")
def text_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) compressibility profile: deflate each doc at
    the pinned zlib level, ratio = compressed/raw bytes (quantized at
    1e-6 per doc), then the rollup a curation gate reads — doc count,
    mean ratio, min ratio, and the share of docs under the pinned 0.4
    boilerplate threshold (on the quantized per-doc value, so the flag
    cannot straddle an ulp).

    Determinism: zlib's DEFLATE output is fully determined by (input
    bytes, level, strategy) — same bytes in, same length out, on every
    worker and every run; the per-doc ratio is a ratio of exact ints.

    Scale design: ONE Arrow-batched pandas UDF projection over the
    scan (vectorized transfer, no row-at-a-time Python — the x2
    surface, applied), then a keyed map-side-combinable rollup with
    integer micro-unit sums. The decode stays executor-side; nothing
    but the (lang, source)-grain profile reaches the driver."""
    import pandas as pd  # noqa: F401  (pandas_udf signature)
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("double")
    def comp_ratio(texts):
        import zlib

        def one(t: str) -> float:
            raw = t.encode("utf-8")
            if not raw:
                return 1.0
            return len(zlib.compress(raw, _COMP_LEVEL)) / len(raw)

        return texts.map(one)

    d = table(spark, sf_dir, "documents")
    per = d.select(
        "lang",
        "source",
        fquant(comp_ratio(F.col("text"))).alias("ratio"),
    )
    return (
        per.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.floor(F.col("ratio") * 1e6).cast("decimal(38,0)")
            ).alias("ratio_micro_sum"),
            fquant(F.min("ratio")).alias("min_ratio"),
            F.count_if(F.col("ratio") < _COMP_BOILERPLATE)
            .cast("long")
            .alias("n_boilerplate"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            fquant(
                F.col("ratio_micro_sum").cast("double")
                / 1e6
                / F.col("n_docs")
            ).alias("mean_ratio"),
            "min_ratio",
            fquant(
                F.col("n_boilerplate").cast("double") / F.col("n_docs")
            ).alias("boilerplate_share"),
        )
    )


# ---------------------------------------------------------------------------
# text_mattr_diversity — STAGED for the r15 cadence (parked
# unregistered; SURVEY round-13 log). Moving-average type-token ratio
# (MATTR, Covington & McFall 2010) at a fixed window: the
# length-robust lexical-diversity referee — raw TTR collapses as docs
# grow (types saturate, tokens don't), so corpus-curation thresholds
# on it silently favor short docs; MATTR's fixed-window average
# removes the length confound by construction.
# ---------------------------------------------------------------------------

_MATTR_W = 10  # window (every fixture doc has >= 10 tokens — pinned)

_MATTR_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang,
         string_split_regex(lower(text), '\\s+') AS toks
  FROM documents
), d AS (
  -- exact integer sum of per-window distinct counts; ONE division at
  -- the end (a float fold over window ratios would be summation-order
  -- sensitive in the last ulp across engines)
  SELECT doc_id, lang, len(toks) AS n_toks,
         FLOOR(
           CAST(list_sum(list_transform(
             range(len(toks) - {_MATTR_W} + 1),
             i -> len(list_distinct(
                    toks[CAST(i AS INT) + 1 :
                         CAST(i AS INT) + {_MATTR_W}]))))
                AS DOUBLE)
           / ({_MATTR_W} * (len(toks) - {_MATTR_W} + 1)) * 1e6) / 1e6
           AS mattr
  FROM t WHERE len(toks) >= {_MATTR_W}
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(FLOOR(mattr * 1e6) AS DECIMAL(38,0))) AS DOUBLE)
         / 1e6 / COUNT(*) AS mean_mattr,
       FLOOR(MIN(mattr) * 1e6) / 1e6 AS min_mattr,
       FLOOR(MAX(mattr) * 1e6) / 1e6 AS max_mattr
FROM d GROUP BY lang
"""


def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MATTR = mean over all length-{_MATTR_W} sliding windows
    of (distinct tokens / {_MATTR_W}), rolled up per language (count,
    mean, min, max). Pure higher-order array algebra — the window scan
    is a codegen'd transform over slices, no explode, no shuffle at
    token grain, no Python.

    Cross-engine exactness: per-window ratios are exact small-integer
    divisions on identical token arrays; the per-doc mean
    floor-quantizes at 1e-6 and the per-language mean rides exact
    micro-unit integer sums (order-independent).

    Scale design: one scan, one map-side projection per doc (O(L·W)
    work inside codegen), one keyed language rollup."""
    d = table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    # exact integer sum of per-window distinct counts, ONE division at
    # the end — a float fold over window ratios would be summation-
    # order sensitive in the last ulp across engines
    win_counts = F.transform(
        F.sequence(F.lit(1), F.size(F.col("toks")) - (_MATTR_W - 1)),
        lambda i: F.size(
            F.array_distinct(F.slice(F.col("toks"), i, _MATTR_W))
        ).cast("long"),
    )
    per_doc = (
        d.select("doc_id", "lang", toks.alias("toks"))
        .where(F.size("toks") >= _MATTR_W)
        .select(
            "lang",
            fquant(
                F.aggregate(
                    win_counts,
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                ).cast("double")
                / (_MATTR_W * (F.size("toks") - (_MATTR_W - 1)))
            ).alias("mattr"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(
                F.floor(F.col("mattr") * 1e6).cast("decimal(38,0)")
            ).cast("double")
            / 1e6
            / F.count(F.lit(1))
        ).alias("mean_mattr"),
        fquant(F.min("mattr")).alias("min_mattr"),
        fquant(F.max("mattr")).alias("max_mattr"),
    )


# ---------------------------------------------------------------------------
# text_kneser_ney_bigram — STAGED for the r16 cadence (parked
# unregistered; SURVEY round-14 log). Interpolated Kneser-Ney bigram
# scoring: the PROPER LM smoothing beside text_bigram_logprob's
# add-one baseline — add-one hammers every unseen pair with the same
# vocab-sized penalty; KN discounts observed pairs by a fixed D and
# backs off to the CONTINUATION probability (how many contexts a word
# follows, not how often it occurs), which is the distinction that
# makes "san francisco" cheap and "francisco <anything>" expensive.
# The per-doc KN logprob is the quality signal corpus rankers actually
# use (cf. CCNet's wikipedia-LM perplexity filter).
# ---------------------------------------------------------------------------

_KN_D = 0.75  # absolute discount; injected as 7.5e-1 (a bare 0.75 is
# DECIMAL in DuckDB — the SPRT literal lesson)

_KN_ORACLE = """
WITH base AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
    FROM documents
), bg AS (
    SELECT doc_id,
           unnest(list_transform(range(len(toks) - 1),
                  i -> toks[CAST(i AS INT) + 1])) AS w1,
           unnest(list_transform(range(len(toks) - 1),
                  i -> toks[CAST(i AS INT) + 2])) AS w2
    FROM base WHERE len(toks) >= 2
), cbg AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
           FROM bg GROUP BY w1, w2),
ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS fw
        FROM cbg GROUP BY w1),
cw AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS bw FROM cbg GROUP BY w2),
nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM cbg)
SELECT bg.doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(CAST(SUM(CAST(
           ln((GREATEST(c12 - 7.5e-1, 0)
               + 7.5e-1 * fw * (CAST(bw AS DOUBLE) / nb)) / c1)
           AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*), 4)
         AS avg_kn_logprob
FROM bg
JOIN cbg ON bg.w1 = cbg.w1 AND bg.w2 = cbg.w2
JOIN ctx ON bg.w1 = ctx.w1
JOIN cw ON bg.w2 = cw.w2
CROSS JOIN nb
GROUP BY bg.doc_id
"""


def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean ln P_KN(w₂|w₁) with
    P_KN = (max(c₁₂−D, 0) + D·N₁₊(w₁·)·P_cont(w₂)) / c(w₁·),
    P_cont(w₂) = N₁₊(·w₂)/N₁₊(··), D = 0.75 — the standard
    interpolated KN bigram, trained on the corpus and self-scored (the
    bigram_logprob contract). Because every observed c₁₂ ≥ 1 > D, the
    model SUMS TO EXACTLY 1 over the seen vocabulary per context — the
    normalization identity the staging tests pin.

    Cross-engine exactness: all four count tables are exact integers
    from the same tokenization as text_bigram_logprob; the probability
    is one fixed-order double expression (D as a python double
    literal); per-pair ln values decimal-quantize before the
    order-independent per-doc sum; ROUND(4) absorbs cross-engine ln()
    ulp drift (the bigram parity contract).

    Scale design: the bigram_logprob plan plus two more vocab-bounded
    rollups (continuation counts come from the PAIR table, not a
    second corpus pass — cached for its three consumers); scoring
    re-joins KEYED on pair/context/word; only the 1-row N₁₊(··) frame
    broadcasts."""
    d = table(spark, sf_dir, "documents")
    toks = tokenize("text")
    base = d.select("doc_id", toks.alias("toks")).where(
        F.size("toks") >= 2
    )
    n = F.size("toks")
    bg = base.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, n - 1),
                F.slice("toks", 2, n - 1),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    cbg = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .cache()  # vocab²-bounded; three consumers (ctx, cw, nb)
    )
    ctx = cbg.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("fw"),
    )
    cw = cbg.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("bw")
    )
    nb = cbg.agg(F.count(F.lit(1)).cast("long").alias("nb"))
    p_kn = (
        F.greatest(F.col("c12") - _KN_D, F.lit(0))
        + _KN_D * F.col("fw") * (F.col("bw").cast("double") / F.col("nb"))
    ) / F.col("c1")
    lp = F.log(p_kn).cast("decimal(27,6)")
    return (
        bg.join(cbg, ["w1", "w2"])
        .join(ctx, "w1")
        .join(cw, "w2")
        .crossJoin(F.broadcast(nb))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(lp).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_kn_logprob"),
        )
    )
