"""The end-to-end training-export pipeline as ONE registered, oracle-paired
query: exact dedup → quality gate → benchmark decontamination → train/val
split → token-budget shard packing, composed over the raw ``documents``
table into the per-shard manifest a trainer consumes.

Each stage exists standalone elsewhere (``dedup_exact``,
``quality_gopher_rules``, ``corpus_decontaminate``, ``corpus_train_val_split``,
``corpus_shard_packing``); this query pins their *composition* — the thing a
real curation run executes — so stage-interaction bugs (a filter reordered
across a window, a dedup survivor disagreeing with the split hash) are caught
by the driver gate, not discovered in production. Constants are imported from
the stage modules: the gate thresholds, n-gram width, split predicate and
shard budget CANNOT drift between the standalone queries and the pipeline.

Stage order is the production order and it is load-bearing:
- dedup BEFORE quality: duplicate docs would pass/fail together anyway, but
  deduping first halves the explode volume of the quality stage;
- decontaminate AFTER quality: the gram join is the widest stage, so it runs
  on the smallest surviving set;
- the split predicate hashes doc_id (content-stable), so it commutes with
  every stage above it — packing is the only order-sensitive consumer.

Scale shape at 100 TB: one window shuffle keyed by content hash (dedup), one
explode + two keyed aggs (quality), one explode + broadcast join + distinct
(decontamination — the benchmark side is small by construction and
broadcast), one map-side split predicate, and a per-split cumsum window
(shards pack independently per split; swap for a two-phase prefix sum if a
single split ever serializes). The doc row itself (not the text) is all that
flows past the quality stage: token counts are carried, text is re-read only
by the gram stage.

Reference tie-in: no analogue in the reference (its pipeline ships rows, not
corpora; ``connectors/debezium_configuration.json``); the capstone of the
LLM-pipeline extension layer (survey §2.13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.functions.text import STOPWORDS, tokens, word_shingles
from cdc_postgresql_clickhouse_spark.queries.quality import (
    MAX_TOP_WORD_FRAC,
    MAX_WORDS,
    MIN_DISTINCT_RATIO,
    MIN_STOPWORDS,
    MIN_WORDS,
)
from cdc_postgresql_clickhouse_spark.queries.tpch import _trunc6
from cdc_postgresql_clickhouse_spark.queries.training import (
    _sql_ngrams,
    _t6,
    BENCH_MOD,
    DECONTAM_NGRAM,
    SHARD_TOKEN_BUDGET,
)
from cdc_postgresql_clickhouse_spark.queries.dedup import _SQL_TOKENS
from cdc_postgresql_clickhouse_spark.sources.registry import load_table


def corpus_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    train0 = docs.filter(~is_bench)

    # stage 1 — exact dedup: min-doc_id survivor per content hash
    w_dedup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    d1 = (
        train0.withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )

    # stage 2 — quality gate (Gopher-style; same constants as the standalone)
    tok = d1.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tc = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n"))
    per = tc.groupBy("doc_id").agg(
        F.sum("n").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("n").alias("top_count"),
        F.sum(F.when(F.col("tok").isin(*STOPWORDS), F.col("n")).otherwise(F.lit(0))).alias(
            "n_stop"
        ),
    )
    nw = F.col("n_words").cast("double")
    passing = per.filter(
        F.col("n_words").between(MIN_WORDS, MAX_WORDS)
        & (_trunc6(F.col("n_distinct").cast("double") / nw) >= MIN_DISTINCT_RATIO)
        & (_trunc6(F.col("top_count").cast("double") / nw) <= MAX_TOP_WORD_FRAC)
        & (F.col("n_stop") >= MIN_STOPWORDS)
    ).select("doc_id", "n_words")
    # persist barrier: d2 sits on a diamond — the contamination branch AND
    # the final join both consume it, so without the barrier the dedup
    # window + quality aggregation execute twice (4.9 s → 2.6 s at sf0.1)
    from pyspark import StorageLevel

    d2 = d1.join(passing, "doc_id").persist(StorageLevel.MEMORY_AND_DISK)

    # stage 3 — decontamination: drop docs sharing any n-gram with the bench set
    # two-step select (materialized token column) on BOTH gram sides:
    # word_shingles references its token array 8× per gram, and inlining
    # tokens(text) there re-runs the tokenizer tree per reference
    # (3.4 s → 0.3 s for this stage; same trap documented at
    # training.corpus_decontaminate)
    bench_grams = (
        docs.filter(is_bench)
        .select(tokens(F.col("text")).alias("t"))
        .select(F.explode(F.array_distinct(word_shingles(F.col("t"), DECONTAM_NGRAM))).alias("gram"))
        .distinct()
    )
    d2_toks = d2.select("doc_id", tokens(F.col("text")).alias("t"))
    train_grams = d2_toks.select(
        "doc_id", F.explode(F.array_distinct(word_shingles(F.col("t"), DECONTAM_NGRAM))).alias("gram")
    )
    contaminated = train_grams.join(F.broadcast(bench_grams), "gram").select("doc_id").distinct()
    d3 = d2.join(contaminated, "doc_id", "left_anti")

    # stage 4 — deterministic content-keyed split (same predicate as standalone)
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "1a", "val"
    ).otherwise("train")
    s = d3.select(split.alias("split"), "doc_id", "n_words")

    # stage 5 — token-budget shard packing per split
    w_pack = (
        Window.partitionBy("split").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_words").over(w_pack), F.lit(0).cast("long"))
    sharded = s.select(
        "split",
        "doc_id",
        "n_words",
        F.floor(cum_before / F.lit(float(SHARD_TOKEN_BUDGET))).alias("shard_id"),
    )
    return sharded.groupBy("split", "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("shard_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)

_SQL_MANIFEST = f"""
WITH train0 AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {BENCH_MOD} <> 0
),
d1 AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM train0)
  WHERE rn = 1
),
tok AS (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM d1
),
tc AS (SELECT doc_id, tok, COUNT(*) AS n FROM tok GROUP BY 1, 2),
per AS (
  SELECT doc_id, SUM(n) AS n_words, COUNT(*) AS n_distinct, MAX(n) AS top_count,
         SUM(CASE WHEN tok IN ({_STOP_SQL}) THEN n ELSE 0 END) AS n_stop
  FROM tc GROUP BY 1
),
passing AS (
  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words FROM per
  WHERE n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
    AND {_t6("CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE)")} >= {MIN_DISTINCT_RATIO}
    AND {_t6("CAST(top_count AS DOUBLE) / CAST(n_words AS DOUBLE)")} <= {MAX_TOP_WORD_FRAC}
    AND n_stop >= {MIN_STOPWORDS}
),
d2 AS (SELECT d1.doc_id, d1.text, p.n_words FROM d1 JOIN passing p USING (doc_id)),
bench_grams AS (
  SELECT DISTINCT unnest({_sql_ngrams(DECONTAM_NGRAM)}) AS gram
  FROM (SELECT {_SQL_TOKENS} AS t FROM documents WHERE doc_id % {BENCH_MOD} = 0)
),
train_grams AS (
  SELECT DISTINCT doc_id, unnest({_sql_ngrams(DECONTAM_NGRAM)}) AS gram
  FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM d2)
),
contaminated AS (
  SELECT DISTINCT doc_id FROM train_grams JOIN bench_grams USING (gram)
),
d3 AS (
  SELECT doc_id, n_words FROM d2
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
s AS (
  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
              THEN 'val' ELSE 'train' END AS split,
         doc_id, n_words
  FROM d3
),
sharded AS (
  SELECT split, doc_id, n_words,
         CAST(FLOOR(COALESCE(SUM(n_words) OVER (
             PARTITION BY split ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {float(SHARD_TOKEN_BUDGET)}) AS BIGINT) AS shard_id
  FROM s
)
SELECT split, shard_id, COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS shard_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM sharded GROUP BY 1, 2
"""

QUERIES = {"corpus_training_manifest": corpus_training_manifest}
ORACLE = {"corpus_training_manifest": _SQL_MANIFEST}


# --- temperature-based mixture sampling -------------------------------------
#
# The data-mixing knob of LLM training (multinomial sampling with exponent τ,
# the device of multilingual BERT / XLM-R / GPT-3's mixture weights):
# source s gets weight n_s^τ, flattening the natural size distribution so
# small sources are upsampled relative to their share. τ = 0.5 here because
# sqrt is IEEE-correctly-rounded — bit-identical across engines — whereas a
# general pow() could differ in the last ulp and flip a floor() threshold.
# The normalizer Σ sqrt(n_s) is an ORDERED fold over the source-sorted list
# (6 values), so float addition order is pinned on both sides.
#
# rate_s = min(1, target_tokens·w_s/W / n_s); docs kept by the deterministic
# 16-bit md5 threshold (same key as corpus_stratified_sample). Map-side
# filter; the per-source table is vocab-sized.

MIX_BUDGET_FRAC = 0.5  # sample half the corpus tokens, redistributed by τ


def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_postgresql_clickhouse_spark.queries.cluster import _SAMPLE_KEY

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(tokens(F.col("text"))).cast("long").alias("n_tok")
    )
    per_src = docs.groupBy("source").agg(F.sum("n_tok").alias("n_s"))
    # ordered fold: Σ sqrt(n_s) with source-sorted addition order
    norm = per_src.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("source", "n_s"))),
            F.lit(0.0),
            lambda acc, s: acc + F.sqrt(s.getField("n_s").cast("double")),
        ).alias("W"),
        F.sum("n_s").alias("tot"),
    )
    rated = per_src.crossJoin(F.broadcast(norm)).select(
        "source",
        "n_s",
        F.least(
            F.lit(1.0),
            (F.lit(MIX_BUDGET_FRAC) * F.col("tot").cast("double"))
            * F.sqrt(F.col("n_s").cast("double"))
            / F.col("W")
            / F.col("n_s").cast("double"),
        ).alias("rate"),
    )
    thr = F.floor(F.col("rate") * F.lit(65536.0)).cast("long")
    keyed = docs.withColumn("k", F.expr(_SAMPLE_KEY).cast("long"))
    kept = keyed.join(F.broadcast(rated.select("source", thr.alias("thr"), "rate")), "source").filter(
        F.col("k") < F.col("thr")
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tok").cast("long").alias("tokens_kept"),
        (F.floor(F.max("rate") * F.lit(1000000.0)).cast("double") / F.lit(1000000.0)).alias("rate_t6"),
    )


QUERIES["corpus_temperature_mixture"] = corpus_temperature_mixture

_SQL_MIXTURE = f"""
WITH d AS (
  SELECT doc_id, source, CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tok FROM documents
),
per_src AS (SELECT source, SUM(n_tok) AS n_s FROM d GROUP BY source),
norm AS (
  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(list(CAST(n_s AS DOUBLE) ORDER BY source), x -> sqrt(x))),
             (a, b) -> a + b) AS "Wn",
         SUM(n_s) AS tot
  FROM per_src
),
rated AS (
  SELECT source, n_s,
         LEAST(1.0, ({MIX_BUDGET_FRAC!r} * CAST(tot AS DOUBLE))
                    * sqrt(CAST(n_s AS DOUBLE)) / "Wn" / CAST(n_s AS DOUBLE)) AS rate
  FROM per_src CROSS JOIN norm
),
keyed AS (
  SELECT d.doc_id, d.source, d.n_tok,
         ({{SAMPLE_KEY}}) AS k, r.rate,
         CAST(FLOOR(r.rate * 65536.0) AS BIGINT) AS thr
  FROM d JOIN rated r USING (source)
)
SELECT source,
       COUNT(*) AS n_docs_kept,
       CAST(SUM(n_tok) AS BIGINT) AS tokens_kept,
       CAST(FLOOR(MAX(rate) * 1000000.0) AS DOUBLE) / 1000000.0 AS rate_t6
FROM keyed WHERE k < thr
GROUP BY source
"""

from cdc_postgresql_clickhouse_spark.queries.cluster import _SQL_SAMPLE_KEY as _SK  # noqa: E402

ORACLE["corpus_temperature_mixture"] = _SQL_MIXTURE.replace("{SAMPLE_KEY}", _SK)
