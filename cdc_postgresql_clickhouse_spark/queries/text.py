"""Text-analysis operators for a training-data pipeline, with DuckDB oracles:
language-ID (stopword heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting.

All pure Catalyst expressions over the ``documents`` table — tokenization,
regex extraction and md5 run in whole-stage codegen; one narrow scan, no
shuffle except final small aggregations. At 100 TB these are
embarrassingly-parallel map jobs bounded by scan throughput.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_postgresql_clickhouse_spark.functions.text import STOPWORDS, normalized_text, tokens
from cdc_postgresql_clickhouse_spark.sources.registry import load_table
from cdc_postgresql_clickhouse_spark.queries._pending import flip_pending
from cdc_postgresql_clickhouse_spark.queries.tpch import _trunc6

# DuckDB twin of functions.text.tokens (keep in sync).
SQL_TOKENS = (
    "list_filter(str_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), "
    "t -> t <> '')"
)
SQL_STOPWORDS = "('" + "', '".join(STOPWORDS) + "')"

LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "y"),
}


def _n_in(toks, words) -> F.Column:
    lst = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(lst, t))).cast("long")


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + a BPE-ish regex token count (letter runs, digit
    runs, single punctuation) — the standard pre-tokenizer shape."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text", tokens(F.col("text")).alias("toks"))
    bpe = F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0))
    return base.select(
        "doc_id",
        F.size("toks").cast("long").alias("ws_tokens"),
        F.size(bpe).cast("long").alias("bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/stopword/uniqueness/alpha-ratio quality heuristic; the combined
    score is a deterministic affine mix of rounded ratios."""
    docs = load_table(spark, sf_dir, "documents")
    # materialize the token array once (no CSE across expressions — each
    # direct `tokens(text)` reference would re-run the regex split)
    base = docs.select("doc_id", "text", tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    d = base.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
        _n_in(toks, STOPWORDS).alias("n_stop"),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z]", "")).cast("long").alias("n_alpha"),
        F.length("text").cast("long").alias("n_char"),
    )
    uniq_ratio = _trunc6(F.col("n_uniq").cast("double") / F.nullif(F.col("n_tok"), F.lit(0)))
    stop_ratio = _trunc6(F.col("n_stop").cast("double") / F.nullif(F.col("n_tok"), F.lit(0)))
    alpha_ratio = _trunc6(F.col("n_alpha").cast("double") / F.nullif(F.col("n_char"), F.lit(0)))
    return d.select(
        "doc_id",
        "n_tok",
        uniq_ratio.alias("uniq_ratio"),
        stop_ratio.alias("stop_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        _trunc6(0.5 * uniq_ratio + 0.2 * (1 - stop_ratio) + 0.3 * alpha_ratio).alias("quality"),
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID with a deterministic arg-max (priority order
    en > de > fr > es on ties)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "lang", tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    d = base.select(
        "doc_id",
        "lang",
        *[_n_in(toks, LANG_MARKERS[lg]).alias(f"s_{lg}") for lg in LANG_MARKERS],
    )
    g = F.greatest(*[F.col(f"s_{lg}") for lg in LANG_MARKERS])
    guessed = (
        F.when(F.col("s_en") == g, F.lit("en"))
        .when(F.col("s_de") == g, F.lit("de"))
        .when(F.col("s_fr") == g, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return d.select("doc_id", "lang", "s_en", "s_de", "s_fr", "s_es", guessed.alias("guessed_lang"))


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 of the normalized text (exact near-dup after
    whitespace/punct normalization), md5 of the sorted distinct token set
    (bag-of-words identity), and a Rabin-Karp-style polynomial rolling hash
    (h = h·131 + byte mod 1e9+7) over the normalized text — the incremental
    fingerprint shape used for chunk-level dedup. Pure int64 arithmetic
    (max intermediate ≈ 1.3e11), identical in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        tokens(F.col("text")).alias("toks"),
        normalized_text(F.col("text")).alias("ns"),
    )
    rolling = F.expr(
        "aggregate(filter(split(ns, ''), c -> c <> ''), 0L,"
        " (acc, c) -> pmod(acc * 131 + ascii(c), 1000000007L))"
    )
    return base.select(
        "doc_id",
        F.md5(F.col("ns")).alias("norm_fp"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(F.col("toks"))), " ")).alias("tokenset_fp"),
        rolling.alias("rolling_fp"),
    )


def text_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.floor(F.sum("n_chars").cast("double") / F.count(F.lit(1)) * 1e6).cast("double")
         / F.lit(1000000.0)).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column plumbing (survey north-star: multimodal columns):
    text encoded to bytes stands in for an image/audio payload; metadata
    extraction (size, content hash, deterministic fake format sniff) is the
    real Spark-side schema/partitioning pattern, the codec itself is stubbed
    (see operators/multimodal.py for the mapInPandas decode plumbing)."""
    docs = load_table(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    n_bytes = F.octet_length(F.col("text")).cast("long")
    return docs.select(
        "doc_id",
        n_bytes.alias("n_bytes"),
        F.md5(blob).alias("content_md5"),
        F.when(n_bytes % 3 == 0, F.lit("png"))
        .when(n_bytes % 3 == 1, F.lit("jpeg"))
        .otherwise(F.lit("wav"))
        .alias("sniffed_format"),
    )


def text_repetition_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: the fraction of word-bigram occurrences
    that are repeats (1 - distinct/total). Highly repetitive documents (boiler
    plate, keyword stuffing, decoding loops) score near 1 and get filtered.

    Entirely map-side — the bigram array is built per row with
    transform/sequence, no explode, no shuffle; at 100 TB this is a pure scan
    job like the other text scores. Spark's ``sequence(a, b)`` DESCENDS when
    b < a (DuckDB's generate_series returns empty), so the single-token/empty
    case is guarded explicitly on the Spark side."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    bigrams = F.when(
        F.size("toks") >= 2,
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> concat(element_at(toks, i), '|', element_at(toks, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = base.select(
        "doc_id",
        F.size(bigrams).cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).cast("long").alias("n_uniq_bigrams"),
    )
    return d.select(
        "doc_id",
        "n_bigrams",
        "n_uniq_bigrams",
        _trunc6(
            1 - F.col("n_uniq_bigrams").cast("double") / F.nullif(F.col("n_bigrams"), F.lit(0))
        ).alias("rep_ratio"),
    )


def corpus_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-5 terms by TF-IDF — the inverted-index / term-statistics
    shape of a corpus explorer. tf = term occurrences within the source,
    df = distinct docs (corpus-wide) containing the term, idf = ln((N+1)/(df+1)).

    Scale shape: the corpus is scanned and exploded ONCE into per-(doc, term)
    occurrence counts (the posting-list build — this is the only
    corpus-proportional stage, and it is persisted as the barrier); tf and df
    are then both derived from that vocab×docs-bounded intermediate — tf by
    summing counts per (source, term), df by counting posting rows per term
    (each doc has one source, so (doc, term) rows are unique). A naive
    two-branch formulation would re-scan and re-explode the corpus per
    branch, doubling the dominant cost at 100 TB. Downstream of the barrier
    everything is proportional to the VOCAB, not the corpus.

    Cross-engine determinism: tf/df/N are exact integers, so idf is one ln of
    an exact rational — identical doubles both engines; tf·idf is one
    multiply, then FLOOR-truncated, and the top-k RANKS ON the truncated
    value (ranking on the raw product could flip ties across engines)."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar: drives the idf literal, not row data
    postings = (
        docs.select("doc_id", "source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("source", "doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tf = postings.groupBy("source", "term").agg(F.sum("cnt").cast("long").alias("tf"))
    df_ = postings.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = tf.join(df_, "term").select(
        "source",
        "term",
        "tf",
        "df",
        _trunc6(
            F.col("tf")
            * F.log((F.lit(float(n_docs + 1))) / (F.col("df") + F.lit(1)).cast("double"))
        ).alias("tfidf"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: average negative log-probability of a
    document's tokens under the corpus's own unigram distribution
    p(t) = count(t) / total_tokens. Natural-language docs score in a narrow
    band; gibberish and boilerplate fall outside it — the cheap first-pass
    stand-in for a real LM perplexity filter.

    Scale shape: ONE explode of the corpus into per-(doc, term) counts (the
    persisted barrier — the only corpus-proportional stage); the corpus
    frequency table (vocab-sized) is a re-aggregation of it, and the per-doc
    score is a keyed join back on term with each posting row contributing
    cnt_in_doc · (-ln p) — a naive per-token formulation would re-scan and
    re-explode the corpus for each of the three uses. The frequency table
    fits a broadcast for natural-language vocabularies; the keyed join is
    the general fallback.

    Cross-engine determinism: a per-doc SUM of doubles would be
    addition-order-dependent (Spark partial aggs vs DuckDB's scan order), so
    each token's -ln p is FLOOR-truncated to integer MICRO-units first and
    the sum runs on exact integers (associative; per-posting weighting by
    the integer cnt keeps it exact); the average then divides two exact
    integers and truncates once more."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    postings = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    freq = postings.groupBy("term").agg(F.sum("cnt").cast("long").alias("corpus_cnt"))
    total = freq.agg(F.sum("corpus_cnt")).first()[0]  # scalar: the normalizer
    nlp_micro = F.floor(
        -F.log(F.col("corpus_cnt").cast("double") / F.lit(float(total))) * F.lit(1000000.0)
    ).cast("long")
    agg = (
        postings.join(F.broadcast(freq), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tok"),
            F.sum(F.col("cnt") * nlp_micro).cast("long").alias("sum_u"),
        )
    )
    return agg.select(
        "doc_id",
        "n_tok",
        _trunc6(F.col("sum_u").cast("double") / F.lit(1000000.0) / F.col("n_tok")).alias(
            "avg_neg_logprob"
        ),
    )


def _markers_sql(lg: str) -> str:
    return "len(list_filter(toks, t -> t IN ('" + "', '".join(LANG_MARKERS[lg]) + "')))::BIGINT"


QUERIES = {
    "text_token_count": text_token_count,
    "text_quality_score": text_quality_score,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_stats_by_source": text_stats_by_source,
    "multimodal_binary_meta": multimodal_binary_meta,
    "text_repetition_ngram": text_repetition_ngram,
    "corpus_tfidf_top_terms": corpus_tfidf_top_terms,
    "text_unigram_logprob": text_unigram_logprob,
}

ORACLE = {
    "text_token_count": f"""
SELECT doc_id,
  len({SQL_TOKENS})::BIGINT AS ws_tokens,
  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS bpe_tokens,
  length(text)::BIGINT AS n_chars_actual
FROM documents
""",
    "text_quality_score": f"""
WITH base AS (
  SELECT doc_id, {SQL_TOKENS} AS toks,
         length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::BIGINT AS n_alpha,
         length(text)::BIGINT AS n_char
  FROM documents
), counts AS (
  SELECT doc_id,
         len(toks)::BIGINT AS n_tok,
         len(list_distinct(toks))::BIGINT AS n_uniq,
         len(list_filter(toks, t -> t IN {SQL_STOPWORDS}))::BIGINT AS n_stop,
         n_alpha, n_char
  FROM base
), ratios AS (
  SELECT doc_id, n_tok,
         CAST(FLOOR((CAST(n_uniq AS DOUBLE) / NULLIF(n_tok, 0)) * 1000000.0) AS DOUBLE) / 1000000.0 AS uniq_ratio,
         CAST(FLOOR((CAST(n_stop AS DOUBLE) / NULLIF(n_tok, 0)) * 1000000.0) AS DOUBLE) / 1000000.0 AS stop_ratio,
         CAST(FLOOR((CAST(n_alpha AS DOUBLE) / NULLIF(n_char, 0)) * 1000000.0) AS DOUBLE) / 1000000.0 AS alpha_ratio
  FROM counts
)
SELECT doc_id, n_tok, uniq_ratio, stop_ratio, alpha_ratio,
       CAST(FLOOR((0.5 * uniq_ratio + 0.2 * (1 - stop_ratio) + 0.3 * alpha_ratio) * 1000000.0) AS DOUBLE) / 1000000.0 AS quality
FROM ratios
""",
    "text_langid": f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_markers_sql('en')} AS s_en,
         {_markers_sql('de')} AS s_de,
         {_markers_sql('fr')} AS s_fr,
         {_markers_sql('es')} AS s_es
  FROM (SELECT doc_id, lang, {SQL_TOKENS} AS toks FROM documents)
)
SELECT doc_id, lang, s_en, s_de, s_fr, s_es,
       CASE WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
            WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es) THEN 'de'
            WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
            ELSE 'es' END AS guessed_lang
FROM scored
""",
    "text_fingerprint": f"""
WITH base AS (
  SELECT doc_id, {SQL_TOKENS} AS toks,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS ns
  FROM documents
)
SELECT doc_id,
  md5(ns) AS norm_fp,
  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS tokenset_fp,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(list_filter(str_split(ns, ''), c -> c <> ''),
                     c -> CAST(ord(c) AS BIGINT))),
    (acc, c) -> (acc * 131 + c) % 1000000007) AS rolling_fp
FROM base
""",
    "text_stats_by_source": """
SELECT source, COUNT(*) AS n_docs,
       CAST(FLOOR((CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)) * 1000000.0) AS DOUBLE) / 1000000.0 AS avg_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM documents
GROUP BY source
""",
    "multimodal_binary_meta": """
SELECT doc_id,
  octet_length(encode(text))::BIGINT AS n_bytes,
  md5(text) AS content_md5,
  CASE WHEN octet_length(encode(text)) % 3 = 0 THEN 'png'
       WHEN octet_length(encode(text)) % 3 = 1 THEN 'jpeg'
       ELSE 'wav' END AS sniffed_format
FROM documents
""",
    # generate_series(1, 0) is empty in DuckDB, matching the size>=2 guard on
    # the Spark side (where sequence(1, 0) would DESCEND)
    "text_repetition_ngram": f"""
WITH base AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
bg AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || '|' || toks[i + 1]) AS bigrams
  FROM base
)
SELECT doc_id,
  len(bigrams)::BIGINT AS n_bigrams,
  len(list_distinct(bigrams))::BIGINT AS n_uniq_bigrams,
  CAST(FLOOR((1 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / NULLIF(len(bigrams), 0))
       * 1000000.0) AS DOUBLE) / 1000000.0 AS rep_ratio
FROM bg
""",
    "corpus_tfidf_top_terms": f"""
WITH toks AS (SELECT doc_id, source, unnest({SQL_TOKENS}) AS term FROM documents),
tf AS (SELECT source, term, COUNT(*)::BIGINT AS tf FROM toks GROUP BY source, term),
df AS (SELECT term, COUNT(*)::BIGINT AS df
       FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT source, term, tf, df,
         CAST(FLOOR(tf * ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE))
              * 1000000.0) AS DOUBLE) / 1000000.0 AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT source, term, tf, df, tfidf, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY source ORDER BY tfidf DESC, term) AS rank
      FROM scored)
WHERE rank <= 5
""",
    "text_unigram_logprob": f"""
WITH toks AS (SELECT doc_id, unnest({SQL_TOKENS}) AS term FROM documents),
tot AS (SELECT COUNT(*) AS total FROM toks),
freq AS (SELECT term, COUNT(*)::BIGINT AS cnt FROM toks GROUP BY term),
per_tok AS (
  SELECT doc_id,
         CAST(FLOOR(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000.0) AS BIGINT)
           AS nlp_u
  FROM toks JOIN freq USING (term) CROSS JOIN tot
),
agg AS (SELECT doc_id, COUNT(*)::BIGINT AS n_tok, SUM(nlp_u)::BIGINT AS sum_u
        FROM per_tok GROUP BY doc_id)
SELECT doc_id, n_tok,
  CAST(FLOOR(CAST(sum_u AS DOUBLE) / 1000000.0 / n_tok * 1000000.0) AS DOUBLE) / 1000000.0
    AS avg_neg_logprob
FROM agg
""",
}


# --- source-vs-corpus distribution drift — PENDING round 7 ------------------
#
# Per-source unigram-distribution drift against the whole corpus: the
# P-side Kullback-Leibler term of the Jensen-Shannon divergence,
# KL(P || M) with M the even (P, corpus) mixture (Lin 1991) — always
# finite, zero iff the source matches the corpus on its support, and the
# standard one-sided drift score when sources cover the corpus
# vocabulary only partially. The mixing diagnostic that says which
# source is "different" before temperature/DSIR weighting. Every log
# term floors ONCE per (source, term) to micro-bits
# (the established device), frequencies stay integer, and the division
# by the two totals happens INSIDE the shared log argument so both
# engines evaluate one identical double expression per term. Plan: one
# explode into (source, term) counts, a vocab-sized corpus re-agg, one
# keyed join — the tfidf shape.


def text_source_drift_klm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    corpus = st.groupBy("term").agg(F.sum("c").cast("long").alias("cc"))
    stot = st.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    ctot = corpus.agg(F.sum("cc")).first()[0]  # scalar: corpus token count
    j = st.join(corpus, "term").join(F.broadcast(stot), "source")
    # p = c/n_s, q = cc/ctot, m = (p+q)/2; per-term KL parts in micro-bits
    p_over_m = (
        F.lit(2.0) * F.col("c").cast("double") / F.col("n_s").cast("double")
    ) / (
        F.col("c").cast("double") / F.col("n_s").cast("double")
        + F.col("cc").cast("double") / F.lit(float(ctot))
    )
    ln2 = float(__import__("math").log(2.0))
    kl_p_u = F.floor(F.log(p_over_m) / F.lit(ln2) * F.lit(1000000.0)).cast("long")
    per_src = j.groupBy("source").agg(
        F.max("n_s").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum(F.col("c") * kl_p_u).cast("long").alias("klp_num"),
    )
    # KL(C||M) restricted to the source's support PLUS the corpus-only
    # remainder would need the full vocab per source; the registered
    # statistic is the P-side KL against the mixture (the dominant,
    # always-finite half of JSD — 0 iff P == C on P's support), which is
    # the standard one-sided drift score when sources share the corpus
    # vocabulary only partially.
    return per_src.select(
        "source",
        "n_tokens",
        "n_terms",
        F.expr("klp_num div n_tokens").cast("long").alias("kl_p_m_microbits"),
    )


def _sql_klm() -> str:
    ln2 = float(__import__("math").log(2.0))
    return f"""
WITH st AS (
  SELECT source, unnest({SQL_TOKENS}) AS term FROM documents
),
stc AS (SELECT source, term, COUNT(*)::BIGINT AS c FROM st GROUP BY source, term),
corpus AS (SELECT term, SUM(c)::BIGINT AS cc FROM stc GROUP BY term),
stot AS (SELECT source, SUM(c)::BIGINT AS n_s FROM stc GROUP BY source),
ctot AS (SELECT SUM(cc) AS ct FROM corpus),
j AS (
  SELECT s.source, s.term, s.c, co.cc, st2.n_s, ctot.ct
  FROM stc s
  JOIN corpus co USING (term)
  JOIN stot st2 USING (source)
  CROSS JOIN ctot
),
scored AS (
  SELECT source, c, n_s,
         CAST(FLOOR(
           ln((2.0 * CAST(c AS DOUBLE) / CAST(n_s AS DOUBLE))
              / (CAST(c AS DOUBLE) / CAST(n_s AS DOUBLE)
                 + CAST(cc AS DOUBLE) / CAST(ct AS DOUBLE)))
           / {ln2!r} * 1000000.0) AS BIGINT) AS klu
  FROM j
),
per AS (
  SELECT source, MAX(n_s) AS n_tokens, COUNT(*)::BIGINT AS n_terms,
         SUM(c * klu)::BIGINT AS klp_num
  FROM scored GROUP BY source
)
SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, n_terms,
       CAST(klp_num // n_tokens AS BIGINT) AS kl_p_m_microbits
FROM per
"""


PENDING_QUERIES = {"text_source_drift_klm": text_source_drift_klm}
PENDING_ORACLE = {"text_source_drift_klm": _sql_klm()}


# --- Simpson diversity of the token distribution — PENDING round 7 -----------
#
# Lexical-diversity diagnostic per source: Simpson's index D = P(two tokens
# drawn without replacement are the same type) = Σ c·(c−1) / (N·(N−1)) — the
# repeat-probability twin of the entropy diagnostics, and (unlike entropy)
# exactly computable in integers: the only division is the final floor to
# ppm, pushed through DECIMAL(38)/HUGEINT because Σc(c−1)×1e6 exceeds int64
# once a source holds ~10⁶ tokens of a repeated type. Also reports the
# type/token counts and the hapax share (types seen once — the tail-mass
# companion metric), all BIGINT. Scale shape: one explode to token grain,
# one (source, token) groupBy, one source-grain agg — map-side partials on
# both, no window, no driver state.

def corpus_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("t"))
    per_type = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return (
        per_type.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.count_if(F.col("c") == 1).cast("long").alias("n_hapax"),
            F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("rep_pairs2"),
        )
        .select(
            "source", "n_tokens", "n_types", "n_hapax",
            F.expr(
                "CAST((CAST(rep_pairs2 AS DECIMAL(38,0)) * 1000000)"
                " DIV (CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1)) AS BIGINT)"
            ).alias("simpson_ppm"),
            F.expr("n_hapax * 1000000 div n_types").cast("long").alias("hapax_ppm"),
        )
    )


def _sql_simpson() -> str:
    from cdc_postgresql_clickhouse_spark.queries.dedup import _SQL_TOKENS

    return f"""
WITH tok AS (
  SELECT source, unnest({_SQL_TOKENS}) AS t FROM documents
),
per_type AS (
  SELECT source, t, COUNT(*)::BIGINT AS c FROM tok GROUP BY source, t
),
per AS (
  SELECT source,
         SUM(c)::BIGINT AS n_tokens,
         COUNT(*)::BIGINT AS n_types,
         COUNT(*) FILTER (WHERE c = 1)::BIGINT AS n_hapax,
         SUM(c * (c - 1))::BIGINT AS rep_pairs2
  FROM per_type GROUP BY source
)
SELECT source, n_tokens, n_types, n_hapax,
       (rep_pairs2::HUGEINT * 1000000 // (n_tokens::HUGEINT * (n_tokens - 1)))::BIGINT
         AS simpson_ppm,
       (n_hapax * 1000000 // n_types)::BIGINT AS hapax_ppm
FROM per
"""


PENDING_QUERIES["corpus_simpson_diversity"] = corpus_simpson_diversity
PENDING_ORACLE["corpus_simpson_diversity"] = _sql_simpson()


# --- Term burstiness (Church–Gale) — PENDING round 7 ---------------------------
#
# The adaptation statistic behind "a word that occurs once occurs again":
# for the TOP_BURST tokens by collection frequency, the mean within-document
# term frequency burst = cf·1000 div df (milli — a bursty term concentrates
# its mass in few docs) and the adaptation share adapt_ppm = (docs with
# tf ≥ 2)·1e6 div df. Deterministic top-K by (cf DESC, token) — the
# TakeOrderedAndProject shape, never a full sort. Scale shape: one explode
# to (doc, token) grain with an immediate count (map-side partials), one
# token-grain aggregate, then the bounded top-K; all integer.

TOP_BURST = 20


def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    per = tf.groupBy("t").agg(
        F.sum("tf").cast("long").alias("cf"),
        F.count(F.lit(1)).cast("long").alias("df"),
        F.count_if(F.col("tf") >= 2).cast("long").alias("df2"),
    )
    return (
        per.orderBy(F.desc("cf"), "t")
        .limit(TOP_BURST)
        .select(
            F.col("t").alias("token"), "cf", "df",
            F.expr("cf * 1000 div df").cast("long").alias("burst_milli"),
            F.expr("df2 * 1000000 div df").cast("long").alias("adapt_ppm"),
        )
    )


def _sql_burstiness() -> str:
    from cdc_postgresql_clickhouse_spark.queries.dedup import _SQL_TOKENS

    return f"""
WITH tf AS (
  SELECT doc_id, t, COUNT(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest({_SQL_TOKENS}) AS t FROM documents)
  GROUP BY 1, 2
),
per AS (
  SELECT t, SUM(tf)::BIGINT AS cf, COUNT(*)::BIGINT AS df,
         COUNT(*) FILTER (WHERE tf >= 2)::BIGINT AS df2
  FROM tf GROUP BY t
)
SELECT t AS token, cf, df,
       (cf * 1000 // df)::BIGINT AS burst_milli,
       (df2 * 1000000 // df)::BIGINT AS adapt_ppm
FROM per
ORDER BY cf DESC, t
LIMIT {TOP_BURST}
"""


PENDING_QUERIES["text_term_burstiness"] = text_term_burstiness
PENDING_ORACLE["text_term_burstiness"] = _sql_burstiness()


# --- Distinctive-vocabulary keyness — PENDING round 7 ---------------------------
#
# Corpus-comparison: which tokens make each source sound like ITSELF —
# the keyword-extraction complement of the KL drift row (that one scores
# whole sources; this one names the tokens). Keyness is a pure-integer
# smoothed rate ratio instead of Dunning's G² so no floating ln enters the
# ranking: with per-million rates r_in = a·1e6 div n_src and
# r_out = b·1e6 div n_rest, keyness_milli = (r_in + 1)·1000 div (r_out + 1)
# (+1 Laplace keeps unseen-elsewhere tokens finite and the ratio monotone).
# Top KEYNESS_K per source by (keyness DESC, token) — deterministic.
# Scale shape: one explode to (source, token) counts, one token-grain total
# to derive the complement by subtraction (no anti-join), one bounded
# per-source ranking window.

KEYNESS_K = 5


def text_keyness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("t"))
    per = tok.groupBy("source", "t").agg(F.count(F.lit(1)).cast("long").alias("a"))
    tot_t = per.groupBy("t").agg(F.sum("a").cast("long").alias("ct"))
    wsrc = Window.partitionBy("source")
    wall = Window.partitionBy()
    scored = (
        per.join(tot_t, "t")
        .select(
            "source", "t", "a", "ct",
            F.sum("a").over(wsrc).alias("n_src"),
            F.sum("a").over(wall).alias("n_all"),
        )
        .select(
            "source", "t", "a",
            (F.col("ct") - F.col("a")).alias("b"),
            "n_src",
            (F.col("n_all") - F.col("n_src")).alias("n_rest"),
        )
        .select(
            "source", "t", "a", "b",
            F.expr(
                "((a * 1000000 div n_src) + 1) * 1000"
                " div ((b * 1000000 div n_rest) + 1)"
            ).cast("long").alias("keyness_milli"),
        )
    )
    wrk = Window.partitionBy("source").orderBy(
        F.desc("keyness_milli"), F.asc("t")
    )
    return (
        scored.withColumn("rn", F.row_number().over(wrk))
        .filter(F.col("rn") <= KEYNESS_K)
        .select(
            "source",
            F.col("t").alias("token"),
            F.col("a").alias("n_in"),
            F.col("b").alias("n_out"),
            "keyness_milli",
            F.col("rn").cast("long").alias("rank"),
        )
    )


def _sql_keyness() -> str:
    from cdc_postgresql_clickhouse_spark.queries.dedup import _SQL_TOKENS

    return f"""
WITH tok AS (
  SELECT source, unnest({_SQL_TOKENS}) AS t FROM documents
),
per AS (SELECT source, t, COUNT(*)::BIGINT AS a FROM tok GROUP BY 1, 2),
tot_t AS (SELECT t, SUM(a)::BIGINT AS ct FROM per GROUP BY t),
scored AS (
  SELECT source, t, a, ct - a AS b,
         SUM(a) OVER (PARTITION BY source) AS n_src,
         SUM(a) OVER () - SUM(a) OVER (PARTITION BY source) AS n_rest
  FROM per JOIN tot_t USING (t)
),
keyed AS (
  SELECT source, t, a, b,
         (((a * 1000000 // n_src) + 1) * 1000
            // ((b * 1000000 // n_rest) + 1))::BIGINT AS keyness_milli
  FROM scored
)
SELECT source, t AS token, a AS n_in, b AS n_out, keyness_milli,
       rn::BIGINT AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY keyness_milli DESC, t) AS rn
  FROM keyed
)
WHERE rn <= {KEYNESS_K}
"""


PENDING_QUERIES["text_keyness_report"] = text_keyness_report
PENDING_ORACLE["text_keyness_report"] = _sql_keyness()


# --- MATTR lexical diversity — PENDING round 7 ----------------------------------
#
# The length-controlled diversity metric (Covington & McFall 2010): plain
# TTR collapses as documents grow, so MATTR averages the type/token ratio
# over every sliding MATTR_W-token window instead. Integer form: per doc,
# Σ_w |distinct(window_w)| · 1000 div (n_windows · MATTR_W); per source,
# the doc-mean of that milli value (second truncating division). Docs
# shorter than MATTR_W have no window and drop out (stated, not hidden).
# Scale shape: the window sweep is a PER-ROW array computation
# (transform over the index range + array_distinct on slices — zero
# shuffle, whole-stage codegen); only the bounded source rollup shuffles.

MATTR_W = 50


def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", tokens(F.col("text")).alias("t")
    )
    n_win = F.greatest(F.size("t") - F.lit(MATTR_W - 1), F.lit(0))
    sum_d = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), n_win),
            lambda i: F.size(F.array_distinct(F.slice("t", i, MATTR_W))),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    per_doc = docs.filter(F.size("t") >= MATTR_W).select(
        "source",
        sum_d.alias("sum_d"),
        n_win.cast("long").alias("n_win"),
    ).select(
        "source",
        F.expr(f"sum_d * 1000 div (n_win * {MATTR_W})")
        .cast("long")
        .alias("mattr_milli"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("sum(mattr_milli) div count(1)").cast("long").alias("mean_mattr_milli"),
        F.min("mattr_milli").cast("long").alias("min_mattr_milli"),
        F.max("mattr_milli").cast("long").alias("max_mattr_milli"),
    )


def _sql_mattr() -> str:
    from cdc_postgresql_clickhouse_spark.queries.dedup import _SQL_TOKENS

    return f"""
WITH docs AS (
  SELECT source, {_SQL_TOKENS} AS t FROM documents
),
per_doc AS (
  SELECT source,
         CAST(
           list_sum(list_transform(range(1, len(t) - {MATTR_W} + 2),
                    i -> len(list_distinct(t[i:i + {MATTR_W} - 1])))) * 1000
           // ((len(t) - {MATTR_W} + 1) * {MATTR_W})
         AS BIGINT) AS mattr_milli
  FROM docs WHERE len(t) >= {MATTR_W}
)
SELECT source, COUNT(*)::BIGINT AS n_docs,
       (SUM(mattr_milli) // COUNT(*))::BIGINT AS mean_mattr_milli,
       MIN(mattr_milli)::BIGINT AS min_mattr_milli,
       MAX(mattr_milli)::BIGINT AS max_mattr_milli
FROM per_doc
GROUP BY source
"""


PENDING_QUERIES["text_mattr_diversity"] = text_mattr_diversity
PENDING_ORACLE["text_mattr_diversity"] = _sql_mattr()


# --- Round-7 registration wave 1 ------------------------------------------
# Flip these pending rows into the driver contract: the r6 green rows freed
# window slots (rotation policy in COVERAGE.md; order in
# queries/__init__._WINDOW_FRONT). The functions above are unchanged — the
# flip only moves the (query, oracle) pair between registries.
_REGISTER_WAVE1 = (
    "text_source_drift_klm",
)
for _n in _REGISTER_WAVE1:
    QUERIES[_n] = PENDING_QUERIES.pop(_n)
    ORACLE[_n] = PENDING_ORACLE.pop(_n)
del _n


# --- Round-8 registration: the whole pending layer flips in ----------------
# VERDICT r7 #1: the driver's 50-row window gates which rows get CHECKED per
# round, not how many may be REGISTERED — holding locally hash-verified
# operators out of the contract understates coverage and risks rows never
# receiving a driver row. Window order lives in queries/__init__.
flip_pending(PENDING_QUERIES, PENDING_ORACLE, QUERIES, ORACLE)


# --- OCR-garbage scoring — round 10 ------------------------------------------
#
# Char-level garble detection — the filter a scanned/OCR'd ingest runs
# BEFORE the word-level Gopher gate (quality_gopher_rules judges fluency of
# real words; this catches text that was never words: symbol soup, digit
# bleed, consonant smears like 'rn->m' cascades, and mid-word case flips
# from broken segmentation). Signals, all integer:
#   symbol_milli     non-alphanumeric-non-whitespace chars per 1000
#   digit_milli      digit chars per 1000
#   run_penalty      25 per consonant-run char beyond 4 (longest run)
#   case_penalty     10 per lower->UPPER flip inside a word
# garbage_score_milli = 2*symbol + digit + run_penalty + case_penalty;
# a document flags at >= 100. The per-source rollup is what an ingest
# dashboard pages on (one bad scanner batch = one source spiking).
#
# Scale shape: pure per-document map work (regexp counts + one
# split/array_max, all codegen/scan-side, no explode), then a map-side
# combinable rollup onto the |sources|-bounded grid. Regex classes are
# Java/RE2-identical literals; the longest-consonant-run device is
# split-on-non-consonant + array_max (empty fragments contribute 0).

_CONSONANTS = "bcdfghjklmnpqrstvwxyz"
OCR_FLAG_MILLI = 100


def ocr_doc_scores(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Per-document garble score (doc_id, source, score_milli) — factored
    out so the filter-cascade report consumes the identical signal the
    per-source rollup audits. ``keep`` passes extra input columns through
    unchanged, so a consumer can FUSE its own per-row flags into this one
    scan instead of re-scanning documents (the cascade report does)."""
    scored = (
        docs.withColumn("n", F.greatest(F.lit(1), F.length("text")).cast("long"))
        .withColumn(
            "symbol_n",
            F.length(F.regexp_replace("text", r"[A-Za-z0-9 \t\n]", "")).cast("long"),
        )
        .withColumn(
            "digit_n", F.length(F.regexp_replace("text", r"[^0-9]", "")).cast("long")
        )
        .withColumn(
            "max_run",
            F.array_max(
                F.transform(
                    F.split(F.lower("text"), f"[^{_CONSONANTS}]+"),
                    lambda s: F.length(s),
                )
            ).cast("long"),
        )
        .withColumn(
            "flips",
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit("[a-z][A-Z]"), F.lit(0))
            ).cast("long"),
        )
        .select(
            "doc_id",
            "source",
            (
                F.lit(2) * F.expr("symbol_n * 1000 div n")
                + F.expr("digit_n * 1000 div n")
                + F.lit(25) * F.greatest(F.lit(0), F.col("max_run") - F.lit(4))
                + F.lit(10) * F.col("flips")
            ).cast("long").alias("score_milli"),
            *keep,
        )
    )
    return scored


def text_ocr_garbage_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = ocr_doc_scores(docs)
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("score_milli") >= OCR_FLAG_MILLI, 1).otherwise(0))
            .cast("long").alias("n_flagged"),
            F.expr("sum(score_milli) div count(1)").cast("long").alias("mean_score_milli"),
            F.max("score_milli").alias("max_score_milli"),
        )
        .select(
            "source", "n_docs", "n_flagged",
            F.expr("n_flagged * 1000000 div n_docs").cast("long").alias("flag_rate_ppm"),
            "mean_score_milli", "max_score_milli",
        )
    )


# per-document garble score as a shared SQL fragment (doc grain) — the
# per-source rollup and the filter-cascade oracle both nest it
_SQL_OCR_PER_DOC = f"""
  SELECT doc_id, source,
         (2 * (length(regexp_replace(text, '[A-Za-z0-9 \\t\\n]', '', 'g')) * 1000
               // GREATEST(1, length(text)))
          + (length(regexp_replace(text, '[^0-9]', '', 'g')) * 1000
             // GREATEST(1, length(text)))
          + 25 * GREATEST(0, list_max(list_transform(
                string_split_regex(lower(text), '[^{_CONSONANTS}]+'),
                s -> length(s))) - 4)
          + 10 * len(regexp_extract_all(text, '[a-z][A-Z]')))::BIGINT AS score_milli
  FROM documents
"""

_SQL_OCR_GARBAGE = f"""
WITH per AS (
{_SQL_OCR_PER_DOC}
)
SELECT source, COUNT(*)::BIGINT AS n_docs,
       SUM(CASE WHEN score_milli >= {OCR_FLAG_MILLI} THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
       (SUM(CASE WHEN score_milli >= {OCR_FLAG_MILLI} THEN 1 ELSE 0 END) * 1000000
        // COUNT(*))::BIGINT AS flag_rate_ppm,
       (SUM(score_milli) // COUNT(*))::BIGINT AS mean_score_milli,
       MAX(score_milli)::BIGINT AS max_score_milli
FROM per GROUP BY source
"""

QUERIES["text_ocr_garbage_score"] = text_ocr_garbage_score
ORACLE["text_ocr_garbage_score"] = _SQL_OCR_GARBAGE


# --- Pairwise cross-source cross-entropy matrix — round 10 (session 2) ---------
#
# The domain-affinity matrix mixture design actually consumes (DoReMi /
# data-mixing literature): H(B ; A) = cross-entropy of eval source B's
# token distribution under train source A's add-one-smoothed unigram LM,
# for every ordered (A, B) pair. Low H(B;A) means A's data models B —
# the signal for upweighting A when B is the target domain; the diagonal
# is each source's self-entropy floor. text_source_drift_klm scores each
# source against the corpus; this is the full |sources|^2 geometry.
# Smoothing p_A(t) = (c_A(t) + 1) / (n_A + V) over the CORPUS vocabulary
# V keeps unseen terms finite and makes the matrix well-defined off the
# shared support. Per-(A, term) negative log-probs floor ONCE to
# micro-bits; eval-side weighting and the sum are exact integers.
#
# Scale shape: ONE corpus explode into (source, term) counts (persisted —
# both matrix sides and the vocab size derive from it); the matrix join
# is eval-rows x |sources| with the train side left-joined per (A, term)
# — bounded by vocab x sources^2 cells, never corpus-sized. At 100 TB
# natural-language vocabularies keep the (source, term) table
# broadcast-or-bucket sized; the corpus is touched exactly once.

def text_cross_source_crossentropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math as _m

    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vocab_n = st.select("term").distinct().count()  # scalar: smoothing V
    stot = st.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    sources = stot.select(
        F.col("source").alias("train_source"), F.col("n").alias("n_train")
    )
    ev = st.select(
        F.col("source").alias("eval_source"), "term", F.col("c").alias("c_eval")
    )
    tr = st.select(
        F.col("source").alias("train_source"), "term", F.col("c").alias("c_train")
    )
    cells = (
        ev.crossJoin(F.broadcast(sources))
        .join(tr, ["train_source", "term"], "left")
        .select(
            "train_source", "eval_source", "c_eval",
            F.coalesce("c_train", F.lit(0)).cast("long").alias("c_train"),
            "n_train",
        )
    )
    ln2 = float(_m.log(2.0))
    nlp_u = F.floor(
        -F.log(
            (F.col("c_train") + 1).cast("double")
            / (F.col("n_train") + F.lit(int(vocab_n))).cast("double")
        )
        / F.lit(ln2)
        * F.lit(1000000.0)
    ).cast("long")
    per_pair = cells.groupBy("train_source", "eval_source").agg(
        F.sum("c_eval").cast("long").alias("n_eval_tokens"),
        F.sum(F.col("c_eval") * nlp_u).cast("long").alias("ce_num"),
    )
    return per_pair.select(
        "train_source", "eval_source", "n_eval_tokens",
        F.expr("ce_num div n_eval_tokens").cast("long").alias("ce_microbits"),
    )


def _sql_cross_ce() -> str:
    import math as _m

    ln2 = float(_m.log(2.0))
    return f"""
WITH st0 AS (
  SELECT source, unnest({SQL_TOKENS}) AS term FROM documents
),
st AS MATERIALIZED (
  SELECT source, term, COUNT(*)::BIGINT AS c FROM st0 GROUP BY source, term
),
vocab AS (SELECT COUNT(DISTINCT term)::BIGINT AS v FROM st),
stot AS (SELECT source, SUM(c)::BIGINT AS n FROM st GROUP BY source),
cells AS (
  SELECT s.source AS train_source, e.source AS eval_source, e.term,
         e.c AS c_eval, COALESCE(t.c, 0)::BIGINT AS c_train, s.n AS n_train
  FROM st e
  CROSS JOIN stot s
  LEFT JOIN st t ON t.source = s.source AND t.term = e.term
),
scored AS (
  SELECT train_source, eval_source, c_eval,
         CAST(FLOOR(
           -ln(CAST(c_train + 1 AS DOUBLE) / CAST(n_train + vocab.v AS DOUBLE))
           / {ln2!r} * 1000000.0
         ) AS BIGINT) AS nlp_u
  FROM cells CROSS JOIN vocab
)
SELECT train_source, eval_source,
       SUM(c_eval)::BIGINT AS n_eval_tokens,
       (SUM(c_eval * nlp_u) // SUM(c_eval))::BIGINT AS ce_microbits
FROM scored GROUP BY train_source, eval_source
"""


QUERIES["text_cross_source_crossentropy"] = text_cross_source_crossentropy
ORACLE["text_cross_source_crossentropy"] = _sql_cross_ce()
