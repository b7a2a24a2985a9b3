"""Document-quality filtering for training-data curation: Gopher-style
per-document statistics with a pass/fail gate, and a regex policy scan —
the filters an LLM data pipeline runs between ingestion and dedup
(Rae et al. 2021 "Scaling Language Models" §A1.1 quality heuristics;
Raffel et al. 2020 C4 filtering).

Both queries are exact and oracle-checked. Tokenization is the shared
``functions.text.tokens`` / ``_SQL_TOKENS`` pair (one definition per
engine), so quality metrics, dedup shingles, and token counts all agree on
what a "word" is.

Scale posture:
- ``quality_gopher_rules`` is explode -> count(doc, token) -> fold(doc):
  two shuffles, both keyed and combiner-friendly (the (doc_id, token)
  partial counts collapse map-side; the per-doc fold's state is five
  longs). The explode fan-out is the token stream itself — the same volume
  a tokenizer pass reads — never materialized to the driver.
- ``text_regex_policy_scan`` is a pure map + one tiny fold on ``source``:
  regexp_count runs inside codegen at scan speed; the scan reads only
  (text, source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.functions.text import STOPWORDS, tokens
from cdc_postgresql_clickhouse_spark.queries.dedup import _SQL_TOKENS
from cdc_postgresql_clickhouse_spark.queries.tpch import _trunc6
from cdc_postgresql_clickhouse_spark.sources.registry import load_table
from cdc_postgresql_clickhouse_spark.queries._pending import flip_pending

# Gopher-style gate, pinned to named constants so the Spark and SQL sides
# can't drift. Bounds chosen to actually partition the synthetic corpus
# (word counts 10..99, distinct ratios .28..1.0, top-word fracs .05...30).
MIN_WORDS = 30
MAX_WORDS = 100_000
MIN_DISTINCT_RATIO = 0.35
MAX_TOP_WORD_FRAC = 0.15
MIN_STOPWORDS = 1

# Policy/contamination term scan (C4-style blocklist shape): word-bounded
# alternation, identical RE2/Java-regex semantics, non-overlapping count.
POLICY_PATTERN = r"\b(scan|merge|join)\b"


def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality statistics + boolean gate: word count bounds,
    distinct-word ratio (repetition proxy), top-word frequency fraction
    (degenerate-repetition proxy), stopword presence (natural-language
    proxy). All ratios FLOOR-truncated to 6 dp for cross-engine parity."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n"))
    per = tc.groupBy("doc_id").agg(
        F.sum("n").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("n").alias("top_count"),
        F.sum(F.when(F.col("tok").isin(*STOPWORDS), F.col("n")).otherwise(F.lit(0))).alias(
            "n_stop"
        ),
    )
    nw = F.col("n_words").cast("double")
    distinct_ratio = _trunc6(F.col("n_distinct").cast("double") / nw)
    top_word_frac = _trunc6(F.col("top_count").cast("double") / nw)
    return per.select(
        "doc_id",
        "n_words",
        "n_distinct",
        "n_stop",
        distinct_ratio.alias("distinct_ratio"),
        top_word_frac.alias("top_word_frac"),
        F.when(
            F.col("n_words").between(MIN_WORDS, MAX_WORDS)
            & (distinct_ratio >= MIN_DISTINCT_RATIO)
            & (top_word_frac <= MAX_TOP_WORD_FRAC)
            & (F.col("n_stop") >= MIN_STOPWORDS),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("pass_quality"),
    )


def text_regex_policy_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source blocklist scan: documents matched and total occurrences of
    the policy pattern, plus truncated hits-per-doc. The C4-style "drop or
    flag documents containing listed terms" shape, kept fully in codegen."""
    docs = load_table(spark, sf_dir, "documents")
    hits = F.regexp_count(F.col("text"), F.lit(POLICY_PATTERN))
    d = docs.select("source", hits.cast("long").alias("hits"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("hits") > 0, F.lit(1)).otherwise(F.lit(0))).alias("docs_matched"),
        F.sum("hits").alias("total_hits"),
        _trunc6(F.sum("hits").cast("double") / F.count(F.lit(1))).alias("hits_per_doc"),
    )


QUERIES = {
    "quality_gopher_rules": quality_gopher_rules,
    "text_regex_policy_scan": text_regex_policy_scan,
}

_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)
_T6 = "CAST(FLOOR(({expr}) * 1000000.0) AS DOUBLE) / 1000000.0"

ORACLE = {
    "quality_gopher_rules": f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents
), tc AS (
  SELECT doc_id, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2
), per AS (
  SELECT doc_id,
         CAST(SUM(n) AS BIGINT) AS n_words,
         COUNT(*) AS n_distinct,
         CAST(MAX(n) AS BIGINT) AS top_count,
         CAST(SUM(CASE WHEN tok IN ({_STOP_SQL}) THEN n ELSE 0 END) AS BIGINT) AS n_stop
  FROM tc GROUP BY 1
), m AS (
  SELECT doc_id, n_words, n_distinct, n_stop,
         {_T6.format(expr="CAST(n_distinct AS DOUBLE) / n_words")} AS distinct_ratio,
         {_T6.format(expr="CAST(top_count AS DOUBLE) / n_words")} AS top_word_frac
  FROM per
)
SELECT doc_id, n_words, n_distinct, n_stop, distinct_ratio, top_word_frac,
       CASE WHEN n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
             AND distinct_ratio >= {MIN_DISTINCT_RATIO}
             AND top_word_frac <= {MAX_TOP_WORD_FRAC}
             AND n_stop >= {MIN_STOPWORDS}
            THEN 1 ELSE 0 END AS pass_quality
FROM m
""",
    "text_regex_policy_scan": f"""
WITH d AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, '\\b(scan|merge|join)\\b')) AS BIGINT) AS hits
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_matched,
       CAST(SUM(hits) AS BIGINT) AS total_hits,
       {_T6.format(expr="CAST(SUM(hits) AS DOUBLE) / COUNT(*)")} AS hits_per_doc
FROM d GROUP BY 1
""",
}


# --- filter threshold sweep --------------------------------------------------
#
# "What does this threshold COST?" — the question every filter setting
# raises before a 100 TB run commits to it. For a grid of min-word-count
# cutoffs, the retained doc count, retained token mass, and integer-PPM
# token share. One map pass for per-doc sizes (no explode of tokens — just
# size()), a |grid|-way expansion of doc-count-sized rows, one small agg;
# at scale this is a scan job whose output is |grid| rows.

SWEEP_MIN_WORDS = (10, 20, 30, 40, 50, 60)


def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(F.size(tokens(F.col("text"))).cast("long").alias("n_words"))
    grid = spark.createDataFrame([(t,) for t in SWEEP_MIN_WORDS], "min_words long")
    e = d.select(
        "n_words",
        F.explode(F.array(*[F.lit(t).cast("long") for t in SWEEP_MIN_WORDS])).alias(
            "min_words"
        ),
    ).filter(F.col("n_words") >= F.col("min_words"))
    per = e.groupBy("min_words").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum("n_words").cast("long").alias("tokens_kept"),
    )
    total = d.agg(
        F.sum("n_words").cast("long").alias("t"), F.count(F.lit(1)).cast("long").alias("nd")
    )
    return (
        grid.join(per, "min_words", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "min_words",
            F.coalesce("n_docs_kept", F.lit(0).cast("long")).alias("n_docs_kept"),
            F.col("nd").alias("n_docs_total"),
            F.coalesce("tokens_kept", F.lit(0).cast("long")).alias("tokens_kept"),
            F.expr("coalesce(tokens_kept, 0) * 1000000 div t").alias("tokens_share_ppm"),
        )
    )


QUERIES["quality_threshold_sweep"] = quality_threshold_sweep

ORACLE["quality_threshold_sweep"] = f"""
WITH d AS (SELECT CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_words FROM documents),
tot AS (SELECT CAST(SUM(n_words) AS BIGINT) AS t, COUNT(*) AS nd FROM d),
g AS (SELECT CAST(unnest([{', '.join(str(t) for t in SWEEP_MIN_WORDS)}]) AS BIGINT) AS min_words),
per AS (
  SELECT g.min_words,
         COUNT(d.n_words) AS n_docs_kept,
         COALESCE(SUM(d.n_words), 0) AS tokens_kept
  FROM g LEFT JOIN d ON d.n_words >= g.min_words
  GROUP BY 1
)
SELECT min_words,
       CAST(n_docs_kept AS BIGINT) AS n_docs_kept,
       CAST(nd AS BIGINT) AS n_docs_total,
       CAST(tokens_kept AS BIGINT) AS tokens_kept,
       CAST(tokens_kept * 1000000 // t AS BIGINT) AS tokens_share_ppm
FROM per, tot
"""


# --- readability scoring (Flesch reading-ease, integer micro-units) ---------
#
# The classic readability score as a map-side quality feature (Flesch 1948;
# Kincaid et al. 1975 — public formulas): 206.835 − 1.015·(words/sentence)
# − 84.6·(syllables/word). Syllables use the standard vowel-group proxy
# (runs of [aeiouy] in the lowercased text) — deterministic and identical
# in both regex engines; sentences are runs of [.!?]. INTEGER-EXACT: the
# two ratios are computed as floor micro-unit divisions and the formula is
# evaluated in micro-units with floor steps in a fixed order, so both
# engines produce bit-identical BIGINTs (the registry's standard defense
# against cross-engine float drift). Pure map pass — no shuffle at all;
# a quality gate would AND this into the Gopher rules.


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    low = F.lower(F.col("text"))
    words = F.greatest(F.lit(1), F.size(tokens(F.col("text")))).cast("long")
    sents = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), F.lit(0)))
    ).cast("long")
    syls = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(low, F.lit(r"[aeiouy]+"), F.lit(0)))
    ).cast("long")
    d = docs.select(
        "doc_id",
        words.alias("words"),
        sents.alias("sentences"),
        syls.alias("syllables"),
    )
    return d.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        (
            F.lit(206_835_000).cast("long")
            - F.expr("(1015 * ((words * 1000000) div sentences)) div 1000")
            - F.expr("(84600 * ((syllables * 1000000) div words)) div 1000")
        ).cast("long").alias("flesch_micro"),
    )


QUERIES["text_readability"] = text_readability

ORACLE["text_readability"] = r"""
WITH d AS (
  SELECT doc_id,
         GREATEST(1, len(LIST_FILTER(STR_SPLIT_REGEX(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')), ' '), t -> t <> ''))) AS words,
         GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS sentences,
         GREATEST(1, len(regexp_extract_all(LOWER(text), '[aeiouy]+'))) AS syllables
  FROM documents
)
SELECT doc_id, CAST(words AS BIGINT) AS words,
       CAST(sentences AS BIGINT) AS sentences,
       CAST(syllables AS BIGINT) AS syllables,
       CAST(206835000 - (1015 * ((words * 1000000) // sentences)) // 1000
                      - (84600 * ((syllables * 1000000) // words)) // 1000
            AS BIGINT) AS flesch_micro
FROM d
"""


# --- quality × language mix matrix — PENDING round 7 ------------------------
#
# The curation dashboard row: Gopher-gate pass rates and token mass per
# (language, verdict) cell — what a data team reads before setting
# per-language thresholds (pass rates differ by language because the
# stopword list and marker statistics do). Composes the two registered
# operators verbatim; output is (#langs × 2)-bounded.


def quality_lang_mix_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = quality_gopher_rules(spark, sf_dir).select("doc_id", "pass_quality", "n_words")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = g.join(docs, "doc_id")
    per = j.groupBy("lang", "pass_quality").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("tokens"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang")
    return per.select(
        "lang",
        "pass_quality",
        "n_docs",
        "tokens",
        F.expr(
            "n_docs * 1000000 div sum(n_docs) over (partition by lang)"
        ).cast("long").alias("share_ppm"),
    )


def _sql_mix_matrix() -> str:
    return f"""
WITH g AS ({ORACLE["quality_gopher_rules"]}),
j AS (
  SELECT g.doc_id, g.pass_quality, g.n_words, d.lang
  FROM g JOIN documents d USING (doc_id)
),
per AS (
  SELECT lang, pass_quality, COUNT(*)::BIGINT AS n_docs, SUM(n_words)::BIGINT AS tokens
  FROM j GROUP BY lang, pass_quality
)
SELECT lang, pass_quality, n_docs, tokens,
       CAST(n_docs * 1000000 // SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT)
         AS share_ppm
FROM per
"""


# --- robust per-source outlier docs — PENDING round 7 -----------------------
#
# Hampel-style outlier listing at DOCUMENT grain: per source, the docs
# whose token count deviates from the source median by more than
# 2.4 x MAD. The cutoff is a NAMED TUNABLE: the textbook normal-data
# value is 3/0.6745 = 4.4478 (the events MAD row uses it), but this
# corpus's length law is uniform — max |dev|/MAD is ~2.6-4.4 depending
# on scale — so 2.4 is the setting that actually partitions at every
# shipped SF (26/34/11 outliers at sf0.001/0.01/0.1); the operator's
# job is the robust length gate a
# curation pipeline runs per source because sources have wildly different
# length regimes (a normal doc for one source is an outlier for another).
# Same integer discipline as the MAD row: median on 2x-scaled counts
# (half-units make even-count midpoints integers), MAD on 4x, the cutoff
# as integer cross-multiplication — zero doubles anywhere. Two keyed aggs
# + a keyed join back; output is the outlier docs only.

_OUT_NUM = 24000  # 2.4 * MAD, scaled by 10^4
_OUT_DEN = 20000  # x is in half-units vs MAD in quarter-units: 2 * 10^4


def quality_outlier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(tokens(F.col("text"))).cast("long").alias("n_tok")
    )
    w = Window.partitionBy("source").orderBy("n_tok", "doc_id")
    r = docs.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
    )
    med = r.groupBy("source").agg(
        (
            F.sum(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("n_tok")))
            + F.sum(F.when(F.col("rn") == F.expr("n div 2 + 1"), F.col("n_tok")))
        ).cast("long").alias("med_ht")
    )
    dev = docs.join(med, "source").select(
        "*", F.abs(F.col("n_tok") * 2 - F.col("med_ht")).alias("ad_ht")
    )
    w2 = Window.partitionBy("source").orderBy("ad_ht", "doc_id")
    r2 = dev.select(
        "*",
        F.row_number().over(w2).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
    )
    madf = r2.groupBy("source").agg(
        (
            F.sum(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("ad_ht")))
            + F.sum(F.when(F.col("rn") == F.expr("n div 2 + 1"), F.col("ad_ht")))
        ).cast("long").alias("mad_qt")
    )
    scored = dev.join(madf, "source")
    return scored.filter(
        F.col("ad_ht") * _OUT_DEN > F.col("mad_qt") * _OUT_NUM
    ).select("source", "doc_id", "n_tok", "med_ht", "mad_qt")


_SQL_OUTLIER_DOCS = f"""
WITH d AS (
  SELECT doc_id, source, CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tok
  FROM documents
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM d
),
med AS (
  SELECT source,
         CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN n_tok END)
              + SUM(CASE WHEN rn = n // 2 + 1 THEN n_tok END) AS BIGINT) AS med_ht
  FROM r GROUP BY source
),
dev AS (
  SELECT d.doc_id, d.source, d.n_tok, med.med_ht,
         abs(d.n_tok * 2 - med.med_ht) AS ad_ht
  FROM d JOIN med USING (source)
),
r2 AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY ad_ht, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM dev
),
madf AS (
  SELECT source,
         CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN ad_ht END)
              + SUM(CASE WHEN rn = n // 2 + 1 THEN ad_ht END) AS BIGINT) AS mad_qt
  FROM r2 GROUP BY source
)
SELECT dev.source, dev.doc_id, dev.n_tok, dev.med_ht, madf.mad_qt
FROM dev JOIN madf USING (source)
WHERE dev.ad_ht * {_OUT_DEN} > madf.mad_qt * {_OUT_NUM}
"""

PENDING_QUERIES = {
    "quality_lang_mix_matrix": quality_lang_mix_matrix,
    "quality_outlier_docs": quality_outlier_docs,
}
PENDING_ORACLE = {
    "quality_lang_mix_matrix": _sql_mix_matrix(),
    "quality_outlier_docs": _SQL_OUTLIER_DOCS,
}


# --- quality × duplication contingency — PENDING round 7 --------------------
#
# The filter-ordering question every curation pipeline asks: how much do
# the quality gate and the near-dup clusters OVERLAP? If failing docs are
# disproportionately duplicates, dedup-then-filter and filter-then-dedup
# retain different corpora (a canonical survivor can fail quality while a
# discarded duplicate passes). This row is the 2x2 contingency at the
# decision grain: (pass_quality x is_clustered_duplicate) with doc and
# token mass per cell. Composes the registered gate and the shared
# one-run ``clusters()`` table verbatim; a doc is a "duplicate" when it
# belongs to a cluster and is not its canonical survivor. The cluster
# table also carries the LSH fixture's synthesized twins (doc_id + 1e6);
# the gate's left join keeps the contingency at REAL-document grain, so
# those drop out of every cell by construction.


def quality_dedup_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_postgresql_clickhouse_spark.queries.cluster import (
        dedup_cluster_canonical,
    )

    gate = quality_gopher_rules(spark, sf_dir).select(
        "doc_id", "n_words", "pass_quality"
    )
    dup = dedup_cluster_canonical(spark, sf_dir).select(
        "doc_id",
        (~F.col("is_canonical")).cast("int").alias("is_dup"),
    )
    j = gate.join(dup, "doc_id", "left").select(
        "n_words",
        "pass_quality",
        F.coalesce("is_dup", F.lit(0)).alias("is_dup"),
    )
    return j.groupBy("pass_quality", "is_dup").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
    )


def _interaction_sql() -> str:
    from cdc_postgresql_clickhouse_spark.queries.cluster import ORACLE as _CL_ORACLE

    return f"""
WITH gate AS ({ORACLE["quality_gopher_rules"]}),
dup AS (
  SELECT doc_id, CASE WHEN is_canonical THEN 0 ELSE 1 END AS is_dup
  FROM ({_CL_ORACLE["dedup_cluster_canonical"]})
)
SELECT g.pass_quality, COALESCE(d.is_dup, 0) AS is_dup,
       COUNT(*)::BIGINT AS n_docs,
       SUM(g.n_words)::BIGINT AS n_tokens
FROM gate g LEFT JOIN dup d USING (doc_id)
GROUP BY 1, 2
"""


PENDING_QUERIES["quality_dedup_interaction"] = quality_dedup_interaction
PENDING_ORACLE["quality_dedup_interaction"] = _interaction_sql()


# --- two-sample KS test between source length distributions — PENDING r7 ----
#
# The distribution-drift test a corpus-mixing pipeline runs between
# sources (and between snapshots): for every source pair, the
# Kolmogorov-Smirnov statistic D = max_t |F_a(t) - F_b(t)| over the
# pooled document-length support. Exactly integer: at each distinct
# length, the CDF difference |cum_a * n_b - cum_b * n_a| is compared by
# cross-multiplication, and only the final max converts to PPM with one
# truncating division. Scale shape: documents reduce to (source, length)
# grain in one shuffle; the pair fan-out is |sources choose 2| x values —
# source-count-bounded, never document-bounded; the running CDFs are one
# window per pair partition.

def quality_ks_length_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    counts = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    totals = counts.groupBy("source").agg(F.sum("cnt").cast("long").alias("n"))
    pairs = (
        totals.alias("pa")
        .crossJoin(totals.alias("pb"))
        .filter(F.col("pa.source") < F.col("pb.source"))
        .select(
            F.col("pa.source").alias("s_a"), F.col("pa.n").alias("n_a"),
            F.col("pb.source").alias("s_b"), F.col("pb.n").alias("n_b"),
        )
    )
    long = pairs.join(
        counts, (F.col("source") == F.col("s_a")) | (F.col("source") == F.col("s_b"))
    ).groupBy("s_a", "s_b", "n_a", "n_b", "v").agg(
        F.sum(F.when(F.col("source") == F.col("s_a"), F.col("cnt")).otherwise(0))
        .cast("long").alias("ca"),
        F.sum(F.when(F.col("source") == F.col("s_b"), F.col("cnt")).otherwise(0))
        .cast("long").alias("cb"),
    )
    w = (
        Window.partitionBy("s_a", "s_b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdf = long.select(
        "s_a", "s_b", "n_a", "n_b",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    return (
        cdf.groupBy("s_a", "s_b", "n_a", "n_b")
        .agg(
            F.max(F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")))
            .alias("d_num")
        )
        .select(
            "s_a", "s_b", "n_a", "n_b",
            F.expr("d_num * 1000000 div (n_a * n_b)").cast("long").alias("ks_d_ppm"),
        )
    )


_SQL_KS = """
WITH counts AS (
  SELECT source, n_chars AS v, COUNT(*)::BIGINT AS cnt
  FROM documents GROUP BY 1, 2
),
totals AS (SELECT source, SUM(cnt)::BIGINT AS n FROM counts GROUP BY 1),
pairs AS (
  SELECT pa.source AS s_a, pa.n AS n_a, pb.source AS s_b, pb.n AS n_b
  FROM totals pa, totals pb WHERE pa.source < pb.source
),
long AS (
  SELECT p.s_a, p.s_b, p.n_a, p.n_b, c.v,
         SUM(CASE WHEN c.source = p.s_a THEN c.cnt ELSE 0 END)::BIGINT AS ca,
         SUM(CASE WHEN c.source = p.s_b THEN c.cnt ELSE 0 END)::BIGINT AS cb
  FROM pairs p JOIN counts c ON c.source = p.s_a OR c.source = p.s_b
  GROUP BY 1, 2, 3, 4, 5
),
cdf AS (
  SELECT s_a, s_b, n_a, n_b,
         SUM(ca) OVER (PARTITION BY s_a, s_b ORDER BY v) AS cum_a,
         SUM(cb) OVER (PARTITION BY s_a, s_b ORDER BY v) AS cum_b
  FROM long
)
SELECT s_a, s_b, n_a, n_b,
       (MAX(ABS(cum_a * n_b - cum_b * n_a)) * 1000000 // (n_a * n_b))::BIGINT AS ks_d_ppm
FROM cdf
GROUP BY 1, 2, 3, 4
"""

PENDING_QUERIES["quality_ks_length_test"] = quality_ks_length_test
PENDING_ORACLE["quality_ks_length_test"] = _SQL_KS


# --- Chi-square independence report (source × lang) — PENDING round 7 ----------
#
# Is language mix independent of source? Pearson residual report over the
# (source, lang) contingency table: observed count, expected count under
# independence in micro-docs e_micro = floor(row_total · col_total · 1e6 / N),
# and the per-cell chi-square contribution floor((o·1e6 − e_micro)² /
# (e_micro · 1e6)) ≈ (o−e)²/e — the statistic is DEFINED as this
# integer-floored per-cell form so both engines agree bit-for-bit (the double
# floor costs at most ±1 per cell vs the real statistic). Overflow audit at
# 100 TB (N ≈ 1e11 docs): r·c·1e6 ≤ 1e28 and (o·1e6 − e_micro)² ≤ ~1e34, both
# inside DECIMAL(38)/HUGEINT. Scale shape: one groupBy to the BOUNDED
# (source, lang) grid with map-side partials; the marginals are windows over
# that grid, never over the corpus.

def quality_chi2_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("source", "lang")
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    ws = Window.partitionBy("source")
    wl = Window.partitionBy("lang")
    wall = Window.partitionBy()
    cells = per.select(
        "source", "lang", "o",
        F.sum("o").over(ws).alias("r"),
        F.sum("o").over(wl).alias("c"),
        F.sum("o").over(wall).alias("n"),
    )
    return cells.select(
        "source", "lang",
        F.col("o").alias("n_docs"),
        F.expr(
            "CAST((CAST(r AS DECIMAL(38,0)) * c * 1000000)"
            " DIV CAST(n AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("exp_micro"),
    ).select(
        "source", "lang", "n_docs", "exp_micro",
        F.expr(
            "CAST(CAST(n_docs * 1000000 - exp_micro AS DECIMAL(38,0))"
            " * (n_docs * 1000000 - exp_micro)"
            " DIV (CAST(exp_micro AS DECIMAL(38,0)) * 1000000) AS BIGINT)"
        ).alias("chi2_cell"),
    )


_SQL_CHI2 = """
WITH per AS (
  SELECT source, lang, COUNT(*)::BIGINT AS o FROM documents GROUP BY 1, 2
),
cells AS (
  SELECT source, lang, o,
         SUM(o) OVER (PARTITION BY source) AS r,
         SUM(o) OVER (PARTITION BY lang) AS c,
         SUM(o) OVER () AS n
  FROM per
),
ex AS (
  SELECT source, lang, o AS n_docs,
         (r::HUGEINT * c * 1000000 // n)::BIGINT AS exp_micro
  FROM cells
)
SELECT source, lang, n_docs, exp_micro,
       ((n_docs::HUGEINT * 1000000 - exp_micro)
          * (n_docs::HUGEINT * 1000000 - exp_micro)
          // (exp_micro::HUGEINT * 1000000))::BIGINT AS chi2_cell
FROM ex
"""

PENDING_QUERIES["quality_chi2_source_lang"] = quality_chi2_source_lang
PENDING_ORACLE["quality_chi2_source_lang"] = _SQL_CHI2


# --- Round-7 registration wave 1 ------------------------------------------
# Flip these pending rows into the driver contract: the r6 green rows freed
# window slots (rotation policy in COVERAGE.md; order in
# queries/__init__._WINDOW_FRONT). The functions above are unchanged — the
# flip only moves the (query, oracle) pair between registries.
_REGISTER_WAVE1 = (
    "quality_lang_mix_matrix",
    "quality_outlier_docs",
)
for _n in _REGISTER_WAVE1:
    QUERIES[_n] = PENDING_QUERIES.pop(_n)
    ORACLE[_n] = PENDING_ORACLE.pop(_n)
del _n


# --- filter selection-bias audit — PENDING round 8+ ----------------------------
#
# The dataset-paper due-diligence row: does the quality gate SHIFT the
# corpus composition? Per (source, lang) cell: share of docs and of token
# mass BEFORE vs AFTER the Gopher gate (integer PPM), the signed shifts,
# and the cell's kept-rate — the numbers behind "our filter
# disproportionately removes X" findings. Composes the registered gate
# verbatim (same expression tree at doc grain); output is
# |sources|·|langs|-bounded; the corpus pays the gate's one tokenize +
# the docs table join.


def quality_filter_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    gate = quality_gopher_rules(spark, sf_dir).select("doc_id", "n_words", "pass_quality")
    j = docs.join(gate, "doc_id")
    cells = j.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("pass_quality") == 1, 1).otherwise(0)).cast("long").alias(
            "n_docs_kept"
        ),
        F.sum(F.when(F.col("pass_quality") == 1, F.col("n_words")).otherwise(0))
        .cast("long")
        .alias("n_tokens_kept"),
    )
    tot = cells.agg(
        F.sum("n_docs").cast("long").alias("td"),
        F.sum("n_tokens").cast("long").alias("tt"),
        F.sum("n_docs_kept").cast("long").alias("tdk"),
        F.sum("n_tokens_kept").cast("long").alias("ttk"),
    )
    return cells.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "n_docs_kept",
        F.expr("n_docs_kept * 1000000 div n_docs").cast("long").alias("kept_rate_ppm"),
        F.expr("n_docs * 1000000 div td").cast("long").alias("doc_share_before_ppm"),
        F.expr("n_docs_kept * 1000000 div tdk").cast("long").alias(
            "doc_share_after_ppm"
        ),
        F.expr(
            "n_docs_kept * 1000000 div tdk - n_docs * 1000000 div td"
        ).cast("long").alias("doc_share_shift_ppm"),
        F.expr("n_tokens * 1000000 div tt").cast("long").alias(
            "token_share_before_ppm"
        ),
        F.expr("n_tokens_kept * 1000000 div ttk").cast("long").alias(
            "token_share_after_ppm"
        ),
        F.expr(
            "n_tokens_kept * 1000000 div ttk - n_tokens * 1000000 div tt"
        ).cast("long").alias("token_share_shift_ppm"),
    )


_SQL_FILTER_BIAS = f"""
WITH g AS ({ORACLE["quality_gopher_rules"]}),
j AS (
  SELECT d.source, d.lang, g.n_words, g.pass_quality
  FROM documents d JOIN g ON g.doc_id = d.doc_id
),
cells AS (
  SELECT source, lang,
         COUNT(*)::BIGINT AS n_docs,
         SUM(n_words)::BIGINT AS n_tokens,
         SUM(CASE WHEN pass_quality = 1 THEN 1 ELSE 0 END)::BIGINT AS n_docs_kept,
         SUM(CASE WHEN pass_quality = 1 THEN n_words ELSE 0 END)::BIGINT
           AS n_tokens_kept
  FROM j GROUP BY source, lang
),
tot AS (
  SELECT SUM(n_docs)::BIGINT AS td, SUM(n_tokens)::BIGINT AS tt,
         SUM(n_docs_kept)::BIGINT AS tdk, SUM(n_tokens_kept)::BIGINT AS ttk
  FROM cells
)
SELECT source, lang, n_docs, n_docs_kept,
       (n_docs_kept * 1000000 // n_docs)::BIGINT AS kept_rate_ppm,
       (n_docs * 1000000 // td)::BIGINT AS doc_share_before_ppm,
       (n_docs_kept * 1000000 // tdk)::BIGINT AS doc_share_after_ppm,
       (n_docs_kept * 1000000 // tdk - n_docs * 1000000 // td)::BIGINT
         AS doc_share_shift_ppm,
       (n_tokens * 1000000 // tt)::BIGINT AS token_share_before_ppm,
       (n_tokens_kept * 1000000 // ttk)::BIGINT AS token_share_after_ppm,
       (n_tokens_kept * 1000000 // ttk - n_tokens * 1000000 // tt)::BIGINT
         AS token_share_shift_ppm
FROM cells CROSS JOIN tot
"""

PENDING_QUERIES["quality_filter_bias_audit"] = quality_filter_bias_audit
PENDING_ORACLE["quality_filter_bias_audit"] = _SQL_FILTER_BIAS


# --- Round-8 registration: the whole pending layer flips in ----------------
# VERDICT r7 #1: the driver's 50-row window gates which rows get CHECKED per
# round, not how many may be REGISTERED — holding locally hash-verified
# operators out of the contract understates coverage and risks rows never
# receiving a driver row. Window order lives in queries/__init__.
flip_pending(PENDING_QUERIES, PENDING_ORACLE, QUERIES, ORACLE)


# --- Spearman rank correlation: quality heuristic vs LM perplexity proxy -----
#
# "Do my two quality signals agree?" as a first-class eval: per source, the
# Spearman rank correlation between the affine-mix quality score and the
# unigram-LM avg negative logprob (HIGH quality should track LOW logprob,
# so a healthy corpus shows negative rho). Ties break by doc_id on both
# axes — the rank correlation of the tie-broken total orders, identical in
# both engines.
#
# Scale shape: ranks come from the two-phase GLOBAL rank over the
# (source, metric, doc_id) total order (operators/ranking.py — no
# data-proportional per-source window task); per-source rank = global
# rank minus a broadcast per-source offset. Σd² fits a double exactly
# (d ≤ n, Σd² ≤ n³ < 2^53 at any realistic per-source count), and the
# final ratio is a FLOOR-truncated ppm mirrored operand-for-operand.


def _source_rank(df: DataFrame, metric: str, out: str) -> DataFrame:
    from cdc_postgresql_clickhouse_spark.operators.ranking import (
        global_row_number,
    )

    g = global_row_number(
        df, [F.col("source"), F.col(metric), F.col("doc_id")], out="__g"
    )
    base = g.groupBy("source").agg(F.min("__g").alias("__base"))
    return g.join(F.broadcast(base), "source").select(
        "source",
        "doc_id",
        (F.col("__g") - F.col("__base") + 1).cast("long").alias(out),
    )


def quality_spearman_quality_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_postgresql_clickhouse_spark.queries.text import (
        text_quality_score,
        text_unigram_logprob,
    )

    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    q = text_quality_score(spark, sf_dir).select("doc_id", "quality")
    lp = text_unigram_logprob(spark, sf_dir).select("doc_id", "avg_neg_logprob")
    # persisted: BOTH rank axes read this table (an unpersisted barrier
    # re-runs the quality heuristic AND the logprob posting pipeline once
    # per axis — measured 4.0s -> 2.9s floor at sf0.1)
    joined = docs.join(q, "doc_id").join(lp, "doc_id").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    rq = _source_rank(joined.select("source", "doc_id", "quality"), "quality", "rq")
    rl = _source_rank(
        joined.select("source", "doc_id", "avg_neg_logprob"), "avg_neg_logprob", "rl"
    )
    d = rq.join(rl, ["source", "doc_id"]).select(
        "source", ((F.col("rq") - F.col("rl")) * (F.col("rq") - F.col("rl"))).alias("d2")
    )
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("d2").cast("long").alias("sum_d2"),
    ).filter(F.col("n_docs") >= 2)
    rho = F.floor(
        (
            F.lit(1.0)
            - F.lit(6.0) * F.col("sum_d2").cast("double")
            / (
                F.col("n_docs").cast("double")
                * (F.col("n_docs").cast("double") * F.col("n_docs").cast("double") - F.lit(1.0))
            )
        )
        * F.lit(1000000.0)
    ).cast("long")
    return per.select("source", "n_docs", "sum_d2", rho.alias("rho_ppm"))


QUERIES["quality_spearman_quality_logprob"] = quality_spearman_quality_logprob


def _sql_spearman() -> str:
    from cdc_postgresql_clickhouse_spark.queries.text import ORACLE as _TX_ORACLE

    return f"""
WITH q AS ({_TX_ORACLE["text_quality_score"]}),
lp AS ({_TX_ORACLE["text_unigram_logprob"]}),
joined AS (
  SELECT d.source, d.doc_id, q.quality, lp.avg_neg_logprob
  FROM documents d JOIN q USING (doc_id) JOIN lp USING (doc_id)
),
rq AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality, doc_id) AS rq
  FROM joined
),
rl AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY avg_neg_logprob, doc_id) AS rl
  FROM joined
),
per AS (
  SELECT rq.source,
         COUNT(*)::BIGINT AS n_docs,
         SUM((rq.rq - rl.rl) * (rq.rq - rl.rl))::BIGINT AS sum_d2
  FROM rq JOIN rl USING (source, doc_id)
  GROUP BY 1
)
SELECT source, n_docs, sum_d2,
       CAST(FLOOR((1.0 - 6.0 * CAST(sum_d2 AS DOUBLE)
         / (CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE) - 1.0))
       ) * 1000000.0) AS BIGINT) AS rho_ppm
FROM per
WHERE n_docs >= 2
"""


ORACLE["quality_spearman_quality_logprob"] = _sql_spearman()


# --- CCNet-style perplexity buckets — round 10 --------------------------------
#
# The CCNet recipe (Wenzek et al. 2020): bucket each language's documents
# into head / middle / tail terciles by LM perplexity (here the registered
# unigram avg-neg-logprob proxy), keep the head, inspect the middle, drop
# the tail. The report is the cut sheet that decision consumes per
# language: how many documents and tokens land in each tercile and where
# the cutoffs sit.
#
# Scale shape: the per-doc score is the audited one-explode logprob
# pipeline; ranking inside language uses the two-phase GLOBAL rank
# (operators/ranking.py via the _source_rank pattern — no
# data-proportional per-language window task at 100 TB where one language
# can be half the corpus); bucket = ((rank-1)*3) div n_lang is pure
# integer; the rollup is (|langs| x 3)-bounded.
#
# Determinism: ranks tie-break on doc_id; counts and token mass are exact
# integers; the cutoff columns are MIN/MAX of identical doubles
# (order-independent, unlike a mean of doubles — which is why the report
# ships cutoffs, not a float average).

CCNET_BUCKETS = ("head", "middle", "tail")


def ccnet_doc_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document tercile assignment (doc_id, lang, n_tok,
    avg_neg_logprob, __b in {0,1,2}) — factored out so the filter-cascade
    report consumes the identical bucketing the rollup audits."""
    from pyspark import StorageLevel

    from cdc_postgresql_clickhouse_spark.operators.ranking import global_row_number
    from cdc_postgresql_clickhouse_spark.queries.text import text_unigram_logprob

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    lp = text_unigram_logprob(spark, sf_dir)
    joined = docs.join(lp, "doc_id").persist(StorageLevel.MEMORY_AND_DISK)
    g = global_row_number(
        joined, [F.col("lang"), F.col("avg_neg_logprob"), F.col("doc_id")], out="__g"
    )
    base = g.groupBy("lang").agg(
        F.min("__g").alias("__base"), F.count(F.lit(1)).cast("long").alias("__n")
    )
    return g.join(F.broadcast(base), "lang").select(
        "doc_id", "lang", "n_tok", "avg_neg_logprob",
        F.expr("(__g - __base) * 3 div __n").cast("int").alias("__b"),
    )


def quality_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = ccnet_doc_buckets(spark, sf_dir)
    bucket = (
        F.when(F.col("__b") == 0, CCNET_BUCKETS[0])
        .when(F.col("__b") == 1, CCNET_BUCKETS[1])
        .otherwise(CCNET_BUCKETS[2])
    )
    return (
        ranked.groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.min("avg_neg_logprob").alias("nlp_lo"),
            F.max("avg_neg_logprob").alias("nlp_hi"),
        )
    )


def sql_ccnet_ranked_ctes() -> str:
    """The lp/joined/ranked CTE chain at DOC grain (ranked carries doc_id)
    — shared by the tercile rollup and the filter-cascade oracle."""
    from cdc_postgresql_clickhouse_spark.queries.text import ORACLE as _TX_ORACLE

    return f"""lp AS MATERIALIZED ({_TX_ORACLE["text_unigram_logprob"]}),
joined AS (
  SELECT d.lang, lp.doc_id, lp.n_tok, lp.avg_neg_logprob
  FROM documents d JOIN lp ON lp.doc_id = d.doc_id
),
ranked AS (
  SELECT doc_id, lang, n_tok, avg_neg_logprob,
         CAST((ROW_NUMBER() OVER (PARTITION BY lang ORDER BY avg_neg_logprob, doc_id) - 1) * 3
              // (COUNT(*) OVER (PARTITION BY lang)) AS INTEGER) AS b
  FROM joined
)"""


def _sql_ccnet() -> str:

    return f"""
WITH {sql_ccnet_ranked_ctes()}
SELECT lang,
       CASE b WHEN 0 THEN '{CCNET_BUCKETS[0]}' WHEN 1 THEN '{CCNET_BUCKETS[1]}'
              ELSE '{CCNET_BUCKETS[2]}' END AS bucket,
       COUNT(*)::BIGINT AS n_docs,
       SUM(n_tok)::BIGINT AS total_tokens,
       MIN(avg_neg_logprob) AS nlp_lo,
       MAX(avg_neg_logprob) AS nlp_hi
FROM ranked GROUP BY 1, 2
"""


QUERIES["quality_ccnet_ppl_buckets"] = quality_ccnet_ppl_buckets
ORACLE["quality_ccnet_ppl_buckets"] = _sql_ccnet()


# --- Quality filter cascade — round 10 ------------------------------------------
#
# The pipeline funnel: the four registered per-document quality signals
# composed IN ORDER (Gopher word-stats gate -> C4-style policy-term scan
# -> OCR-garble score -> CCNet perplexity tail), reporting per stage how
# many documents enter, die, and survive — plus each stage's UNIQUE kills
# (documents every other stage would have passed), the number that tells
# you which filter is actually earning its keep vs rubber-stamping the
# others. This is the report a curation team reads before reordering or
# dropping a filter; every signal is the exact same audited pipeline its
# standalone row verifies (factored per-doc cores: quality_gopher_rules,
# POLICY_PATTERN scan, ocr_doc_scores, ccnet_doc_buckets).
#
# Scale shape: four per-doc signal tables (each one scan / the audited
# pipeline), joined on doc_id once and persisted; the cascade is four
# aggregate passes over the bounded flags table (one boolean row per doc).
# The pool is documents scored by ALL four signals (inner joins — zero-
# token docs have no word stats by construction; both engines mirror).

CASCADE_STAGES = ("gopher", "policy", "ocr_garbage", "ppl_tail")


def quality_filter_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from cdc_postgresql_clickhouse_spark.queries.text import ocr_doc_scores

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    p1 = quality_gopher_rules(spark, sf_dir).select(
        "doc_id", (F.col("pass_quality") == 1).alias("p1")
    )
    # p2 (policy regex) and p3 (OCR garble score) are both pure per-row
    # maps over documents: fuse them into ONE scan via ocr_doc_scores'
    # passthrough (r13) — same flag expressions, one fewer scan and one
    # fewer doc-grain join (4 scans + 3 joins → 3 scans + 2 joins)
    p23 = ocr_doc_scores(
        docs.withColumn(
            "p2", F.regexp_count(F.col("text"), F.lit(POLICY_PATTERN)) == 0
        ),
        keep=("p2",),
    ).select("doc_id", "p2", (F.col("score_milli") < 100).alias("p3"))
    p4 = ccnet_doc_buckets(spark, sf_dir).select(
        "doc_id", (F.col("__b") != 2).alias("p4")
    )
    flags = (
        p1.join(p23, "doc_id").join(p4, "doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")  # noqa: E731
    ps = [F.col(f"p{i}") for i in range(1, 5)]
    aggs = []
    for k in range(4):
        prefix = F.lit(True)
        for j in range(k):
            prefix = prefix & ps[j]
        others = F.lit(True)
        for j in range(4):
            if j != k:
                others = others & ps[j]
        aggs += [
            c(prefix).alias(f"in{k}"),
            c(prefix & ~ps[k]).alias(f"kill{k}"),
            c(~ps[k] & others).alias(f"uniq{k}"),
        ]
    one = flags.agg(*aggs)
    out = None
    for k, name in enumerate(CASCADE_STAGES):
        row = one.select(
            F.lit(k + 1).cast("long").alias("stage"),
            F.lit(name).alias("stage_name"),
            F.col(f"in{k}").alias("n_in"),
            F.col(f"kill{k}").alias("n_killed"),
            (F.col(f"in{k}") - F.col(f"kill{k}")).cast("long").alias("n_out"),
            F.col(f"uniq{k}").alias("n_unique_kills"),
            F.expr(f"kill{k} * 1000000 div greatest(CAST(1 AS BIGINT), in{k})")
            .cast("long").alias("kill_rate_ppm"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _sql_cascade() -> str:
    from cdc_postgresql_clickhouse_spark.queries.text import _SQL_OCR_PER_DOC

    gq = ORACLE["quality_gopher_rules"]
    arms = []
    for k, name in enumerate(CASCADE_STAGES):
        prefix = " AND ".join(f"p{j + 1}" for j in range(k)) or "TRUE"
        others = " AND ".join(f"p{j + 1}" for j in range(4) if j != k) or "TRUE"
        arms.append(f"""
SELECT CAST({k + 1} AS BIGINT) AS stage, '{name}' AS stage_name,
       SUM(CASE WHEN {prefix} THEN 1 ELSE 0 END)::BIGINT AS n_in,
       SUM(CASE WHEN {prefix} AND NOT p{k + 1} THEN 1 ELSE 0 END)::BIGINT AS n_killed,
       (SUM(CASE WHEN {prefix} THEN 1 ELSE 0 END)
        - SUM(CASE WHEN {prefix} AND NOT p{k + 1} THEN 1 ELSE 0 END))::BIGINT AS n_out,
       SUM(CASE WHEN NOT p{k + 1} AND {others} THEN 1 ELSE 0 END)::BIGINT AS n_unique_kills,
       (SUM(CASE WHEN {prefix} AND NOT p{k + 1} THEN 1 ELSE 0 END) * 1000000
        // GREATEST(1, SUM(CASE WHEN {prefix} THEN 1 ELSE 0 END)))::BIGINT AS kill_rate_ppm
FROM flags""")
    return f"""
WITH {sql_ccnet_ranked_ctes()},
gq AS MATERIALIZED ({gq}),
pol AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{POLICY_PATTERN}')) = 0 AS p2
  FROM documents
),
ocr AS (
{_SQL_OCR_PER_DOC}
),
flags AS MATERIALIZED (
  SELECT g.doc_id, g.pass_quality = 1 AS p1, pol.p2,
         o.score_milli < 100 AS p3, r.b <> 2 AS p4
  FROM gq g
  JOIN pol ON pol.doc_id = g.doc_id
  JOIN ocr o ON o.doc_id = g.doc_id
  JOIN ranked r ON r.doc_id = g.doc_id
)
{" UNION ALL ".join(arms)}
"""


QUERIES["quality_filter_cascade_report"] = quality_filter_cascade_report
ORACLE["quality_filter_cascade_report"] = _sql_cascade()


# --- Exact ROC-AUC: language bias of the quality score — round 10 (session 2) ----
#
# Does the quality heuristic systematically rank English documents above
# the rest? quality_filter_bias_audit answers at one fixed gate; this is
# the threshold-free version — the exact Mann-Whitney AUC (AUC =
# U / (n_pos x n_neg), tie-corrected via average ranks) of the
# length/stopword/uniqueness/alpha quality mix separating lang = 'en'
# (positives) from every other language, per source. AUC far from 0.5
# means ANY threshold on this score reshapes the language mix — the
# DataComp/Gopher curation-bias question. Ranks are NEVER assigned per row — the rank-sum over positives
# with average ranks is computed from the value-grouped (source,
# score_micro) table: a tied group starting after cum_before rows of cnt
# rows contributes pos_cnt x (2 x cum_before + cnt + 1) to 2 x R_pos.
# All integers; auc_ppm = (2R_pos - n_pos(n_pos+1)) x 5e5 div
# (n_pos x n_neg). The score lands in micro-units via ONE floor on the
# raw double mix (no double round-trip — the k-1 trap ADVICE r9
# documented on the k-center radius).
#
# Scale shape: one scan -> per-doc stats (pure map, label included); the
# rank device runs over the value-grouped score
# domain per source, never sorting the corpus. Sources with a single
# class (no positives or no negatives) are excluded — AUC is undefined.

def quality_lang_bias_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from cdc_postgresql_clickhouse_spark.queries.text import _n_in

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", "lang", "text", tokens(F.col("text")).alias("toks")
    )
    toks = F.col("toks")
    stats = base.select(
        "doc_id", "source",
        "lang",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
        _n_in(toks, STOPWORDS).alias("n_stop"),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z]", "")).cast("long")
        .alias("n_alpha"),
        F.length("text").cast("long").alias("n_char"),
    )
    score = F.floor(
        (
            F.lit(0.5) * (F.col("n_uniq").cast("double") / F.col("n_tok"))
            + F.lit(0.2) * (F.lit(1.0) - F.col("n_stop").cast("double") / F.col("n_tok"))
            + F.lit(0.3) * (F.col("n_alpha").cast("double") / F.col("n_char"))
        )
        * F.lit(1000000.0)
    ).cast("long")
    # docs with no tokens or no chars have no defined score — excluded on
    # both sides (Spark NULL-division vs DuckDB inf would otherwise diverge)
    labeled = stats.filter((F.col("n_tok") > 0) & (F.col("n_char") > 0)).select(
        "source",
        score.alias("s"),
        (F.col("lang") == "en").cast("int").alias("pos"),
    )
    byv = labeled.groupBy("source", "s").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("pos_cnt"),
    )
    wv = Window.partitionBy("source").orderBy("s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = byv.select(
        "source", "cnt", "pos_cnt",
        (F.sum("cnt").over(wv) - F.col("cnt")).alias("cum_before"),
    )
    agg = ranked.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("pos_cnt").cast("long").alias("n_pos"),
        F.sum(
            F.col("pos_cnt") * (F.lit(2) * F.col("cum_before") + F.col("cnt") + 1)
        ).cast("long").alias("r2_pos"),
    )
    return (
        agg.select(
            "source", "n_pos",
            (F.col("n") - F.col("n_pos")).cast("long").alias("n_neg"),
            "r2_pos",
        )
        .filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .select(
            "source", "n_pos", "n_neg",
            # DECIMAL(38,0) intermediates: r2_pos grows ~2*n_pos*n, so the
            # *500000 scale overflows int64 once a source holds ~3M docs —
            # Spark (non-ANSI) would wrap silently to a wrong AUC while
            # DuckDB raises (ADVICE r10). The 128-bit lane (HUGEINT on the
            # oracle side) keeps the product exact to ~1e33 docs; the
            # quotient itself is ≤ 1e6 so the final BIGINT cast is safe.
            F.expr(
                "CAST((CAST(r2_pos AS DECIMAL(38,0))"
                " - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)) * 500000"
                " DIV (CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)"
            ).alias("auc_ppm"),
        )
    )


from cdc_postgresql_clickhouse_spark.queries.text import SQL_STOPWORDS as _SQL_STOPWORDS_IN

_SQL_LANG_BIAS_AUC = f"""
WITH base AS (
  SELECT doc_id, source, lang, {_SQL_TOKENS} AS toks,
         LENGTH(regexp_replace(LOWER(text), '[^a-z]', '', 'g'))::BIGINT AS n_alpha,
         LENGTH(text)::BIGINT AS n_char
  FROM documents
),
stats AS (
  SELECT doc_id, source, lang, n_alpha, n_char,
         len(toks)::BIGINT AS n_tok,
         len(list_distinct(toks))::BIGINT AS n_uniq,
         len(list_filter(toks, t -> t IN {_SQL_STOPWORDS_IN}))::BIGINT AS n_stop
  FROM base
),
labeled AS (
  SELECT source,
         CAST(FLOOR(
           (0.5 * (CAST(n_uniq AS DOUBLE) / n_tok)
            + 0.2 * (1.0 - CAST(n_stop AS DOUBLE) / n_tok)
            + 0.3 * (CAST(n_alpha AS DOUBLE) / n_char)) * 1000000.0
         ) AS BIGINT) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM stats WHERE n_tok > 0 AND n_char > 0
),
byv AS (
  SELECT source, s, COUNT(*)::BIGINT AS cnt, SUM(pos)::BIGINT AS pos_cnt
  FROM labeled GROUP BY 1, 2
),
ranked AS (
  SELECT source, cnt, pos_cnt,
         SUM(cnt) OVER (PARTITION BY source ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS cum_before
  FROM byv
),
agg AS (
  SELECT source,
         SUM(cnt)::BIGINT AS n,
         SUM(pos_cnt)::BIGINT AS n_pos,
         SUM(pos_cnt * (2 * cum_before + cnt + 1))::BIGINT AS r2_pos
  FROM ranked GROUP BY source
)
SELECT source, n_pos,
       (n - n_pos)::BIGINT AS n_neg,
       (((CAST(r2_pos AS HUGEINT) - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 500000
         // (CAST(n_pos AS HUGEINT) * (n - n_pos))))::BIGINT
         AS auc_ppm
FROM agg WHERE n_pos > 0 AND n - n_pos > 0
"""

QUERIES["quality_lang_bias_auc"] = quality_lang_bias_auc
ORACLE["quality_lang_bias_auc"] = _SQL_LANG_BIAS_AUC


# --- Fleiss' kappa across three language raters — round 10 (session 2) ---------
#
# quality_langid_kappa reports pairwise Cohen's kappa; this is the
# multi-rater generalization (Fleiss 1971) over THREE raters per
# document: the declared lang column, the marker-word guesser
# (text_langid), and the trigram-profile guesser (text_langid_chargram).
# With r = 3 raters and n_ij = raters assigning category j to item i:
# P_bar = (S - 3N) / (6N) with S = sum n_ij^2, P_e = sum c_j^2 / (3N)^2,
# and kappa = [3N(S - 3N) - 2*sum c_j^2] / [2(9N^2 - sum c_j^2)] after
# clearing denominators — both operands are exact BIGINTs (< 2^53 even at
# sf 1, so the final single-floor double division is exact-input IEEE on
# both engines). The raw S and sum c_j^2 ship as output columns so the
# parity check pins the contingency internals, not just the ratio.
#
# Scale shape: reads the shared langid prediction table
# (text_ext.langid_predictions — materialized once per corpus snapshot,
# same contract as the cluster memo), one explode to (doc, category)
# assignments, two bounded folds. The prediction memo is the 100 TB
# shape: language-ID runs once, every agreement audit reads the table.

def quality_langid_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_postgresql_clickhouse_spark.queries.text_ext import langid_predictions

    assigns = langid_predictions(spark, sf_dir).select(
        "doc_id",
        F.explode(
            F.array(
                F.col("lang"), F.col("marker_guess"), F.col("trigram_guess")
            )
        ).alias("cat"),
    )
    nij = assigns.groupBy("doc_id", "cat").agg(F.count(F.lit(1)).alias("nij"))
    per_item = nij.groupBy("doc_id").agg(
        F.sum(F.col("nij") * F.col("nij")).alias("s_i")
    )
    cj = assigns.groupBy("cat").agg(F.count(F.lit(1)).alias("c"))
    s_tot = per_item.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("s_i").cast("long").alias("s_sum"),
    )
    c2_tot = cj.agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("c2_sum"))
    out = s_tot.crossJoin(c2_tot)
    a = (
        F.lit(3) * F.col("n_items") * (F.col("s_sum") - F.lit(3) * F.col("n_items"))
        - F.lit(2) * F.col("c2_sum")
    )
    d = F.lit(2) * (
        F.lit(9) * F.col("n_items") * F.col("n_items") - F.col("c2_sum")
    )
    # d == 0 exactly when all three raters agree on ONE category for every
    # document (c2_sum = (3N)^2): P_e = 1 and kappa is undefined — NULL on
    # both engines (the halflife/TwoNN null-on-undefined convention).
    # Without the guard Spark's 0/0 NaN casts to 0 while DuckDB errors
    # (ADVICE r10).
    return out.select(
        "n_items", "s_sum", "c2_sum",
        F.when(
            d > 0,
            F.floor(a.cast("double") / d.cast("double") * F.lit(1000000.0))
            .cast("long"),
        ).alias("kappa_ppm"),
    )


def _sql_fleiss() -> str:
    from cdc_postgresql_clickhouse_spark.queries.text import ORACLE as _TEXT_ORACLE
    from cdc_postgresql_clickhouse_spark.queries.text_ext import ORACLE as _TEXT_EXT_ORACLE

    return f"""
WITH m AS ({_TEXT_ORACLE["text_langid"]}),
g AS ({_TEXT_EXT_ORACLE["text_langid_chargram"]}),
assigns AS (
  SELECT m.doc_id, unnest([m.lang, m.guessed_lang, g.guessed_lang]) AS cat
  FROM m JOIN g ON m.doc_id = g.doc_id
),
nij AS (SELECT doc_id, cat, COUNT(*)::BIGINT AS nij FROM assigns GROUP BY 1, 2),
per_item AS (SELECT doc_id, SUM(nij * nij) AS s_i FROM nij GROUP BY doc_id),
cj AS (SELECT cat, COUNT(*)::BIGINT AS c FROM assigns GROUP BY cat),
s_tot AS (SELECT COUNT(*)::BIGINT AS n_items, SUM(s_i)::BIGINT AS s_sum FROM per_item),
c2_tot AS (SELECT SUM(c * c)::BIGINT AS c2_sum FROM cj)
SELECT n_items, s_sum, c2_sum,
       CASE WHEN 2 * (9 * n_items * n_items - c2_sum) > 0 THEN
         CAST(FLOOR(
           CAST(3 * n_items * (s_sum - 3 * n_items) - 2 * c2_sum AS DOUBLE)
           / CAST(2 * (9 * n_items * n_items - c2_sum) AS DOUBLE) * 1000000.0
         ) AS BIGINT)
       END AS kappa_ppm
FROM s_tot CROSS JOIN c2_tot
"""


QUERIES["quality_langid_fleiss_kappa"] = quality_langid_fleiss_kappa
ORACLE["quality_langid_fleiss_kappa"] = _sql_fleiss()


# --- Population Stability Index (length drift) — round 10 (session 2) ----------
#
# The industry-standard drift score the KS test (quality_ks_length_test)
# and TV distance (events_value_drift_tv) don't give: per source, PSI of
# the document-length distribution against the corpus-wide reference,
# PSI = sum_b (p_b - q_b) ln(p_b / q_b), over the global exact decile
# buckets (value-grouped nearest-rank edges — never sorts the corpus).
# PSI < 0.1 is the classic "no shift" gate; a source scoring higher is
# length-skewed vs the corpus and will distort any length-normalized
# quality threshold applied globally. Laplace-smoothed shares
# ((cnt + 1) / (n + 10)) keep empty buckets finite; each bucket's term is
# floored to micro-units BEFORE the sum (the BM25 device — identical
# doubles in, identical BIGINTs out, and integer summation is
# order-free where double summation is not).
#
# Scale shape: one scan -> (source, bucket) rollup against the broadcast
# 9-edge table (bounded fan-out); everything after is |sources| x 10.

PSI_BUCKETS = 10


def quality_length_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    # ONE corpus pass: the (source, value) rollup feeds BOTH the global
    # decile edges and the per-source bucketing (persist barrier — without
    # it every downstream reference re-scans the corpus: the first cut of
    # this query planned 41 shuffles for a |sources| x 10 result)
    sv = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("long").alias("dcnt")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    byv = sv.groupBy("n_chars").agg(F.sum("dcnt").cast("long").alias("cnt"))
    wv = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    cum = byv.select(
        "n_chars",
        F.sum("cnt").over(wv).alias("cum"),
        F.sum("cnt").over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    edges = (
        cum.select(
            F.explode(F.array(*[F.lit(i) for i in range(1, PSI_BUCKETS)])).alias("i"),
            "n_chars", "cum", "n",
        )
        .groupBy("i")
        .agg(
            F.min(
                F.when(F.col("cum") * PSI_BUCKETS >= F.col("n") * F.col("i"),
                       F.col("n_chars"))
            ).alias("edge")
        )
    )
    bucketed = (
        sv.crossJoin(F.broadcast(edges))
        .groupBy("source", "n_chars")
        .agg(
            F.max("dcnt").alias("dcnt"),
            F.sum(F.when(F.col("n_chars") > F.col("edge"), 1).otherwise(0))
            .alias("b"),
        )
        .groupBy("source", "b")
        .agg(F.sum("dcnt").cast("long").alias("cnt"))
    )
    # complete (source, bucket) grid so empty buckets contribute smoothed
    # mass; |sources| x 10 rows — checkpointed so the three rollups below
    # read it instead of re-deriving the bucketing lineage
    grid = (
        bucketed.select("source").distinct()
        .crossJoin(
            F.broadcast(
                spark.range(PSI_BUCKETS).select(F.col("id").cast("long").alias("b"))
            )
        )
        .join(bucketed, ["source", "b"], "left")
        .select("source", "b", F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    ref = grid.groupBy("b").agg(F.sum("cnt").cast("long").alias("rcnt"))
    ns = grid.groupBy("source").agg(F.sum("cnt").cast("long").alias("n_s"))
    ntot = ref.agg(F.sum("rcnt").cast("long").alias("n_t"))
    terms = (
        grid.join(F.broadcast(ref), "b")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(ntot))
        .select(
            "source", "cnt",
            F.floor(
                (
                    (F.col("cnt") + 1).cast("double") / (F.col("n_s") + PSI_BUCKETS)
                    - (F.col("rcnt") + 1).cast("double") / (F.col("n_t") + PSI_BUCKETS)
                )
                * F.log(
                    ((F.col("cnt") + 1).cast("double") / (F.col("n_s") + PSI_BUCKETS))
                    / ((F.col("rcnt") + 1).cast("double") / (F.col("n_t") + PSI_BUCKETS))
                )
                * F.lit(1000000.0)
            ).cast("long").alias("term_micro"),
        )
    )
    return terms.groupBy("source").agg(
        F.sum(F.when(F.col("cnt") > 0, 1).otherwise(0)).cast("long")
        .alias("n_buckets_hit"),
        F.sum("term_micro").cast("long").alias("psi_micro"),
    )


_SQL_PSI = f"""
WITH docs AS (SELECT source, n_chars FROM documents),
byv AS (SELECT n_chars, COUNT(*)::BIGINT AS cnt FROM docs GROUP BY n_chars),
cum AS (
  SELECT n_chars,
         SUM(cnt) OVER (ORDER BY n_chars
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER () AS n
  FROM byv
),
edges AS (
  SELECT i, MIN(CASE WHEN cum * {PSI_BUCKETS} >= n * i THEN n_chars END) AS edge
  FROM cum, (SELECT unnest(range(1, {PSI_BUCKETS})) AS i)
  GROUP BY i
),
sv AS (
  SELECT source, n_chars, COUNT(*)::BIGINT AS dcnt FROM docs GROUP BY 1, 2
),
bucketed AS (
  SELECT source, b, SUM(dcnt)::BIGINT AS cnt FROM (
    SELECT s.source, s.n_chars, MAX(s.dcnt) AS dcnt,
           SUM(CASE WHEN s.n_chars > e.edge THEN 1 ELSE 0 END) AS b
    FROM sv s CROSS JOIN edges e
    GROUP BY s.source, s.n_chars
  ) GROUP BY source, b
),
grid AS (
  SELECT s.source, g.b, COALESCE(bk.cnt, 0)::BIGINT AS cnt
  FROM (SELECT DISTINCT source FROM bucketed) s
  CROSS JOIN (SELECT unnest(range({PSI_BUCKETS})) AS b) g
  LEFT JOIN bucketed bk ON bk.source = s.source AND bk.b = g.b
),
ref AS (SELECT b, SUM(cnt)::BIGINT AS rcnt FROM grid GROUP BY b),
ns AS (SELECT source, SUM(cnt)::BIGINT AS n_s FROM grid GROUP BY source),
ntot AS (SELECT SUM(rcnt)::BIGINT AS n_t FROM ref),
terms AS (
  SELECT g.source, g.cnt,
         CAST(FLOOR(
           (CAST(g.cnt + 1 AS DOUBLE) / (ns.n_s + {PSI_BUCKETS})
            - CAST(r.rcnt + 1 AS DOUBLE) / (ntot.n_t + {PSI_BUCKETS}))
           * ln((CAST(g.cnt + 1 AS DOUBLE) / (ns.n_s + {PSI_BUCKETS}))
                / (CAST(r.rcnt + 1 AS DOUBLE) / (ntot.n_t + {PSI_BUCKETS})))
           * 1000000.0
         ) AS BIGINT) AS term_micro
  FROM grid g JOIN ref r USING (b) JOIN ns USING (source) CROSS JOIN ntot
)
SELECT source,
       CAST(SUM(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_hit,
       CAST(SUM(term_micro) AS BIGINT) AS psi_micro
FROM terms GROUP BY source
"""

QUERIES["quality_length_psi"] = quality_length_psi
ORACLE["quality_length_psi"] = _SQL_PSI


# --- Quality-score calibration / ECE — round 11 ---------------------------------
#
# The reliability view of the heuristic quality score that
# quality_lang_bias_auc treats as a ranker: bucket the score into ten
# fixed-width bins and compare each bin's mean score ("confidence") with
# its empirical P(lang = 'en') ("accuracy" under the same proxy label the
# AUC uses). The gap per bin is the reliability diagram; the
# count-weighted mean gap is the Expected Calibration Error (Naeini et
# al. 2015) — a score can rank well (high AUC) and still be uncalibrated,
# which matters the moment it is THRESHOLDED as a probability in a filter
# cascade. All integer: score in micro, acc in ppm (same scale), the ECE
# fold is exact.
#
# Scale shape: one scan -> per-doc score (pure map, the AUC's stats
# reuse) -> 10-bin rollup -> bounded 10-row report crossed against the
# one-row corpus ECE aggregate.

def quality_score_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_postgresql_clickhouse_spark.queries.text import _n_in

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "lang", "text", tokens(F.col("text")).alias("toks")
    )
    toks = F.col("toks")
    stats = base.select(
        "lang",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
        _n_in(toks, STOPWORDS).alias("n_stop"),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z]", "")).cast("long")
        .alias("n_alpha"),
        F.length("text").cast("long").alias("n_char"),
    )
    score = F.floor(
        (
            F.lit(0.5) * (F.col("n_uniq").cast("double") / F.col("n_tok"))
            + F.lit(0.2) * (F.lit(1.0) - F.col("n_stop").cast("double") / F.col("n_tok"))
            + F.lit(0.3) * (F.col("n_alpha").cast("double") / F.col("n_char"))
        )
        * F.lit(1000000.0)
    ).cast("long")
    labeled = stats.filter((F.col("n_tok") > 0) & (F.col("n_char") > 0)).select(
        score.alias("s"),
        (F.col("lang") == "en").cast("long").alias("pos"),
    )
    binned = labeled.select(
        F.least(F.lit(9).cast("long"), F.expr("s * 10 div 1000000")).alias("bin"),
        "s", "pos",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("sum(s) div count(1)").cast("long").alias("conf_micro"),
        F.expr("sum(pos) * 1000000 div count(1)").cast("long").alias("acc_ppm"),
    ).withColumn(
        "gap_micro", F.abs(F.col("acc_ppm") - F.col("conf_micro")).cast("long")
    ).localCheckpoint(eager=True)  # 10 rows; read by the ECE fold AND the report
    ece = per_bin.agg(
        F.expr("sum(n_docs * gap_micro) div sum(n_docs)").cast("long")
        .alias("ece_micro")
    )
    return per_bin.crossJoin(F.broadcast(ece)).select(
        "bin", "n_docs", "conf_micro", "acc_ppm", "gap_micro", "ece_micro"
    )


_SQL_CALIBRATION_ECE = f"""
WITH base AS (
  SELECT doc_id, lang, {_SQL_TOKENS} AS toks,
         LENGTH(regexp_replace(LOWER(text), '[^a-z]', '', 'g'))::BIGINT AS n_alpha,
         LENGTH(text)::BIGINT AS n_char
  FROM documents
),
stats AS (
  SELECT lang, n_alpha, n_char,
         len(toks)::BIGINT AS n_tok,
         len(list_distinct(toks))::BIGINT AS n_uniq,
         len(list_filter(toks, t -> t IN {{stops}}))::BIGINT AS n_stop
  FROM base
),
labeled AS (
  SELECT CAST(FLOOR(
           (0.5 * (CAST(n_uniq AS DOUBLE) / n_tok)
            + 0.2 * (1.0 - CAST(n_stop AS DOUBLE) / n_tok)
            + 0.3 * (CAST(n_alpha AS DOUBLE) / n_char)) * 1000000.0
         ) AS BIGINT) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM stats WHERE n_tok > 0 AND n_char > 0
),
per_bin AS (
  SELECT LEAST(9, s * 10 // 1000000)::BIGINT AS bin,
         COUNT(*)::BIGINT AS n_docs,
         (SUM(s) // COUNT(*))::BIGINT AS conf_micro,
         (SUM(pos) * 1000000 // COUNT(*))::BIGINT AS acc_ppm
  FROM labeled GROUP BY 1
),
gapped AS (
  SELECT *, ABS(acc_ppm - conf_micro)::BIGINT AS gap_micro FROM per_bin
),
ece AS (
  SELECT (SUM(n_docs * gap_micro) // SUM(n_docs))::BIGINT AS ece_micro FROM gapped
)
SELECT bin, n_docs, conf_micro, acc_ppm, gap_micro, ece.ece_micro
FROM gapped CROSS JOIN ece
"""


def _sql_calibration() -> str:
    return _SQL_CALIBRATION_ECE.replace("{stops}", _SQL_STOPWORDS_IN)


QUERIES["quality_score_calibration_ece"] = quality_score_calibration_ece
ORACLE["quality_score_calibration_ece"] = _sql_calibration()


# --- Krippendorff's alpha across the three language raters — round 12 ----------
#
# The third agreement statistic next to Cohen (pairwise) and Fleiss
# (multi-rater, chance from the pooled distribution): Krippendorff's
# alpha (nominal data), the metric content-annotation pipelines actually
# standardize on because it generalizes to missing ratings and gives
# 1 - Do/De with Do/De from the COINCIDENCE matrix. With r = 3 complete
# ratings per item the whole statistic reduces to exact integers: the
# within-item cross-category ordered-pair mass is sum_i (9 - s_i) with
# s_i = sum_c n_ic^2 (the same per-item fold Fleiss uses), the marginal
# pair mass is (3N)^2 - sum_c c_c^2, and
#   alpha = 1 - (n-1) * sum_i(9 - s_i) / (2 * ((3N)^2 - sum_c c_c^2))
# with n = 3N total ratings — a single integer-exact rational, floored
# once to ppm (truncating division, identical in both engines).
# Reads the shared langid prediction memo (a declared consumer, like the
# confusion/kappa/Fleiss trio).
#
# Scale shape: one explode over the memo -> (doc, category) fold ->
# two bounded reductions -> one-row arithmetic.

# A = (3N - 1) * (9N - s_sum), B = 2 * ((3N)^2 - c2_sum); alpha = (B-A)/B.
# B and (B-A)*1e6 are O(N^2 * 1e6): 64-bit wraps silently (non-ANSI Spark)
# past ~7e5 items while the DuckDB twin raises — carry the lanes in
# DECIMAL(38,0)/HUGEINT (the events_ab_sequential_peeks 128-bit-lane
# convention; ADVICE r12). Module-level so the overflow-regime law test in
# tests/test_r13_ops.py evaluates the exact registered expression.
_KRIPPENDORFF_ALPHA_EXPR = (
    "CASE WHEN 2 * (9 * CAST(n_items AS DECIMAL(38,0)) * n_items - c2_sum) > 0 THEN"
    " CAST((2 * (9 * CAST(n_items AS DECIMAL(38,0)) * n_items - c2_sum)"
    "  - CAST(3 * n_items - 1 AS DECIMAL(38,0)) * (9 * n_items - s_sum)) * 1000000"
    " DIV (2 * (9 * CAST(n_items AS DECIMAL(38,0)) * n_items - c2_sum)) AS BIGINT) END"
)


def quality_langid_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_postgresql_clickhouse_spark.queries.text_ext import langid_predictions

    assigns = langid_predictions(spark, sf_dir).select(
        "doc_id",
        F.explode(
            F.array(
                F.col("lang"), F.col("marker_guess"), F.col("trigram_guess")
            )
        ).alias("cat"),
    )
    nij = assigns.groupBy("doc_id", "cat").agg(F.count(F.lit(1)).alias("nij"))
    per_item = nij.groupBy("doc_id").agg(
        F.sum(F.col("nij") * F.col("nij")).alias("s_i")
    )
    cj = assigns.groupBy("cat").agg(F.count(F.lit(1)).alias("c"))
    s_tot = per_item.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("s_i").cast("long").alias("s_sum"),
    )
    c2_tot = cj.agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("c2_sum"))
    out = s_tot.crossJoin(c2_tot)
    return out.select(
        "n_items", "s_sum", "c2_sum",
        F.expr(_KRIPPENDORFF_ALPHA_EXPR).cast("long").alias("alpha_ppm"),
    )


def _sql_krippendorff() -> str:
    from cdc_postgresql_clickhouse_spark.queries.text import ORACLE as _TEXT_ORACLE
    from cdc_postgresql_clickhouse_spark.queries.text_ext import ORACLE as _TEXT_EXT_ORACLE

    return f"""
WITH m AS MATERIALIZED ({_TEXT_ORACLE["text_langid"]}),
g AS MATERIALIZED ({_TEXT_EXT_ORACLE["text_langid_chargram"]}),
assigns AS (
  SELECT m.doc_id, unnest([m.lang, m.guessed_lang, g.guessed_lang]) AS cat
  FROM m JOIN g ON m.doc_id = g.doc_id
),
nij AS (SELECT doc_id, cat, COUNT(*)::BIGINT AS nij FROM assigns GROUP BY 1, 2),
per_item AS (SELECT doc_id, SUM(nij * nij) AS s_i FROM nij GROUP BY doc_id),
cj AS (SELECT cat, COUNT(*)::BIGINT AS c FROM assigns GROUP BY cat),
s_tot AS (SELECT COUNT(*)::BIGINT AS n_items, SUM(s_i)::BIGINT AS s_sum FROM per_item),
c2_tot AS (SELECT SUM(c * c)::BIGINT AS c2_sum FROM cj)
SELECT n_items, s_sum, c2_sum,
       CAST(CASE WHEN 2 * (9 * n_items::HUGEINT * n_items - c2_sum) > 0 THEN
         (2 * (9 * n_items::HUGEINT * n_items - c2_sum)
          - (3 * n_items - 1)::HUGEINT * (9 * n_items - s_sum)) * 1000000
         // (2 * (9 * n_items::HUGEINT * n_items - c2_sum)) END AS BIGINT) AS alpha_ppm
FROM s_tot CROSS JOIN c2_tot
"""


QUERIES["quality_langid_krippendorff_alpha"] = quality_langid_krippendorff_alpha
ORACLE["quality_langid_krippendorff_alpha"] = _sql_krippendorff()
