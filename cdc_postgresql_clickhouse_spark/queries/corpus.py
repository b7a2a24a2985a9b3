"""Corpus-level training-data analytics: cross-modal retrieval joins and
training-mix reports over the documents + embeddings tables.

These are the queries a data-curation pipeline runs between dedup and
training: "what's in the corpus, per source/language", "how much of each
source is duplicated", and "retrieve nearest documents WITH their metadata"
(ANN join back to the catalog — the retrieval-augmentation shape).

Scale posture: metadata joins broadcast the document catalog projection
(id + two small strings); the ANN stage is the existing bruteforce/IVF
machinery; aggregates are map-side partial with one shuffle on the group
key. Everything is builtin-only (codegen) with DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.functions.text import tokens
from cdc_postgresql_clickhouse_spark.queries.dedup import _SQL_TOKENS
from cdc_postgresql_clickhouse_spark.queries.similarity import (
    ORACLE as _SIM_ORACLE,
    ann_bruteforce_topk,
)
from cdc_postgresql_clickhouse_spark.queries.tpch import _trunc6
from cdc_postgresql_clickhouse_spark.sources.registry import load_table
from cdc_postgresql_clickhouse_spark.queries._pending import flip_pending


def crossmodal_doc_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval join: top-3 cosine neighbors per query vector, enriched with
    both sides' document metadata (language, source) — ANN output joined back
    to the catalog, the lookup a RAG/curation pipeline does after retrieval.

    Join direction matters at 100 TB: the ANN RESULT (queries × k rows) is
    the small side and is what broadcasts; the document catalog — billions
    of rows at scale — is only ever the probe side of a broadcast hash join
    (one map-side pass, no catalog shuffle). The ANN stage is
    ``ann_bruteforce_topk`` (the exactness baseline — swap in the IVF
    variant at scale, same join shape)."""
    ann = ann_bruteforce_topk(spark, sf_dir).filter(F.col("rank") <= 3)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    dq = docs.select(F.col("doc_id").alias("q_id"), F.col("lang").alias("q_lang"))
    dn = docs.select(
        F.col("doc_id").alias("neighbor_id"),
        F.col("lang").alias("n_lang"),
        F.col("source").alias("n_source"),
    )
    with_q = dq.join(F.broadcast(ann), "q_id")  # rows = |ann result|
    return dn.join(F.broadcast(with_q), "neighbor_id").select(
        "q_id", "neighbor_id", "cos_sim", "rank", "q_lang", "n_lang", "n_source"
    )


def corpus_mix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix report: per (source, lang) document count, whitespace
    token volume, character volume, truncated mean doc length, longest doc.
    One scan, one shuffle on the 2-column group key."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        "lang",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
        F.length("text").cast("long").alias("n_char"),
    )
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_char").alias("total_chars"),
        _trunc6(F.sum("n_char").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.max("n_tok").alias("max_tokens"),
    )


def corpus_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per source: distinct content hashes vs raw docs —
    the per-source health metric an ingestion pipeline alerts on. Content
    hash is md5 of the raw text (identical hex in both engines); the
    distinct count shuffles once on (source, hash) then folds."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
    )
    return per.select(
        "source",
        "n_docs",
        "n_unique",
        _trunc6(
            F.lit(1.0) - F.col("n_unique").cast("double") / F.col("n_docs").cast("double")
        ).alias("dup_rate"),
    )


QUERIES = {
    "crossmodal_doc_neighbors": crossmodal_doc_neighbors,
    "corpus_mix_stats": corpus_mix_stats,
    "corpus_dup_rate_by_source": corpus_dup_rate_by_source,
}

ORACLE = {
    "crossmodal_doc_neighbors": f"""
WITH ann AS ({_SIM_ORACLE["ann_bruteforce_topk"]})
SELECT a.q_id, a.neighbor_id, a.cos_sim, a.rank,
       dq.lang AS q_lang, dn.lang AS n_lang, dn.source AS n_source
FROM ann a
JOIN documents dq ON dq.doc_id = a.q_id
JOIN documents dn ON dn.doc_id = a.neighbor_id
WHERE a.rank <= 3
""",
    "corpus_mix_stats": f"""
WITH d AS (
  SELECT source, lang,
         CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tok,
         CAST(length(text) AS BIGINT) AS n_char
  FROM documents
)
SELECT source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(n_char) AS BIGINT) AS total_chars,
       CAST(FLOOR(CAST(SUM(n_char) AS DOUBLE) / COUNT(*) * 1000000.0) AS DOUBLE) / 1000000.0 AS avg_chars,
       MAX(n_tok) AS max_tokens
FROM d GROUP BY 1, 2
""",
    "corpus_dup_rate_by_source": """
WITH per AS (
  SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique
  FROM documents GROUP BY 1
)
SELECT source, n_docs, n_unique,
       CAST(FLOOR((1.0 - CAST(n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE)) * 1000000.0) AS DOUBLE) / 1000000.0 AS dup_rate
FROM per
""",
}


# --- token-mass concentration (Pareto curve over document length) -----------
#
# "What fraction of the corpus' character mass lives in the longest X% of
# documents" — the length-skew diagnostic that decides packing strategy and
# long-doc truncation policy for a training pipeline. SCALE-SAFE RANKING: a
# naive top-down decile needs a global row_number (single-partition sort at
# 100 TB). Instead documents collapse to the DISTINCT-LENGTH table (bounded
# by the length domain, corpus-size-independent), a window over that small
# table assigns each length its global rank interval [lo, hi], and the
# interval is intersected with each decile's rank range by pure integer
# arithmetic — docs of equal length are interchangeable, so the split is
# exact without ever ranking individual rows. Every column is BIGINT.


def corpus_length_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    lens = docs.groupBy("n_chars").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    w = Window.orderBy(F.desc("n_chars")).rowsBetween(Window.unboundedPreceding, 0)
    ranked = lens.withColumn("hi", F.sum("cnt").over(w)).withColumn(
        "lo", F.col("hi") - F.col("cnt") + 1
    )
    exploded = (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "n_chars", "lo", "hi", "n", "total_chars",
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("decile"),
        )
        .select(
            "n_chars", "total_chars", "decile",
            F.greatest(
                F.lit(0).cast("long"),
                F.least(F.col("hi"), F.expr("(decile + 1) * n div 10"))
                - F.greatest(F.col("lo"), F.expr("decile * n div 10 + 1"))
                + 1,
            ).alias("k"),
        )
    )
    per = exploded.groupBy("decile").agg(
        F.sum("k").cast("long").alias("n_docs"),
        F.sum(F.col("k") * F.col("n_chars")).cast("long").alias("chars"),
        F.max("total_chars").alias("_tc"),
    )
    wd = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per.select(
        "decile",
        "n_docs",
        "chars",
        F.sum("chars").over(wd).cast("long").alias("cum_chars"),
        F.expr("sum(chars) over (order by decile rows between unbounded preceding and current row) * 1000000 div max(_tc) over ()")
        .cast("long")
        .alias("cum_share_ppm"),
    )


QUERIES["corpus_length_pareto"] = corpus_length_pareto

ORACLE["corpus_length_pareto"] = """
WITH lens AS (
  SELECT n_chars, COUNT(*) AS cnt FROM documents GROUP BY n_chars
),
tot AS (SELECT COUNT(*) AS n, SUM(n_chars) AS total_chars FROM documents),
ranked AS (
  SELECT n_chars, cnt,
         SUM(cnt) OVER (ORDER BY n_chars DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
  FROM lens
),
exploded AS (
  SELECT r.n_chars, t.total_chars, d.decile,
         GREATEST(0, LEAST(r.hi, (d.decile + 1) * t.n // 10)
                     - GREATEST(r.hi - r.cnt + 1, d.decile * t.n // 10 + 1) + 1) AS k
  FROM ranked r
  CROSS JOIN tot t
  CROSS JOIN (SELECT unnest(range(0, 10)) AS decile) d
),
per AS (
  SELECT decile, SUM(k) AS n_docs, SUM(k * n_chars) AS chars,
         MAX(total_chars) AS tc
  FROM exploded GROUP BY decile
)
SELECT decile, CAST(n_docs AS BIGINT) AS n_docs, CAST(chars AS BIGINT) AS chars,
       CAST(SUM(chars) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_chars,
       CAST(SUM(chars) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000
            // MAX(tc) OVER () AS BIGINT) AS cum_share_ppm
FROM per
"""


# --- vocabulary growth (Heaps' law measurement) -----------------------------
#
# Vocabulary size vs corpus size at 5 ingestion checkpoints — the Heaps-law
# curve (Heaps 1978) that tells a tokenizer-training pipeline how fast new
# types appear and when the vocab budget saturates. SCALE-SAFE PREFIXES: a
# naive "distinct words in the first k docs" re-scans the corpus per
# checkpoint; instead each TERM carries its first-occurrence doc_id (one
# vocab-sized agg), each DOC carries its token count, both map to the FIRST
# checkpoint whose equi-width doc_id threshold admits them (pure integer
# arithmetic — no global rank anywhere), and the 5-row cumulative sum
# finishes the curve. One corpus explode total, regardless of checkpoints.

VOCAB_CHECKPOINTS = 5


def corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cdc_postgresql_clickhouse_spark.functions.text import tokens

    K = VOCAB_CHECKPOINTS
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tok"), "text"
    )
    bounds = docs.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
    # first checkpoint admitting doc_id: 1 + |{k in 1..K-1 : t_k < doc_id}|,
    # t_k = lo + (hi - lo) * k div K (t_K = hi admits everything)
    def _k_first(idcol: str) -> F.Column:
        c = F.lit(1)
        for k in range(1, K):
            c = c + F.when(
                F.expr(f"lo + (hi - lo) * {k} div {K}") < F.col(idcol), 1
            ).otherwise(0)
        return c.cast("long")

    d = docs.crossJoin(F.broadcast(bounds)).select(
        "doc_id", "n_tok", _k_first("doc_id").alias("kf")
    )
    doc_adds = d.groupBy("kf").agg(
        F.count(F.lit(1)).cast("long").alias("docs_added"),
        F.sum("n_tok").cast("long").alias("tokens_added"),
    )
    first_occ = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    t_adds = (
        first_occ.crossJoin(F.broadcast(bounds))
        .select(_k_first("first_doc").alias("kf"))
        .groupBy("kf")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab_added"))
    )
    grid = bounds.select(
        F.explode(F.sequence(F.lit(1), F.lit(K))).alias("checkpoint"), "lo", "hi"
    ).select(
        "checkpoint",
        F.expr(f"lo + (hi - lo) * checkpoint div {K}").cast("long").alias(
            "threshold_doc_id"
        ),
    )
    joined = (
        grid.join(doc_adds, grid["checkpoint"] == doc_adds["kf"], "left")
        .drop("kf")
        .join(t_adds, grid["checkpoint"] == t_adds["kf"], "left")
        .drop("kf")
    )
    w = Window.orderBy("checkpoint").rowsBetween(Window.unboundedPreceding, 0)
    z = F.lit(0).cast("long")
    return joined.select(
        "checkpoint",
        "threshold_doc_id",
        F.sum(F.coalesce("docs_added", z)).over(w).cast("long").alias("n_docs"),
        F.sum(F.coalesce("tokens_added", z)).over(w).cast("long").alias("n_tokens"),
        F.sum(F.coalesce("vocab_added", z)).over(w).cast("long").alias("vocab_size"),
    )


QUERIES["corpus_vocab_growth"] = corpus_vocab_growth


def _sql_kfirst(idcol: str, K: int) -> str:
    cases = " + ".join(
        f"(CASE WHEN lo + (hi - lo) * {k} // {K} < {idcol} THEN 1 ELSE 0 END)"
        for k in range(1, K)
    )
    return f"(1 + {cases})"


from cdc_postgresql_clickhouse_spark.queries.dedup import _SQL_TOKENS as _VG_TOKENS  # noqa: E402

ORACLE["corpus_vocab_growth"] = f"""
WITH docs AS (
  SELECT doc_id, len({_VG_TOKENS})::BIGINT AS n_tok, text FROM documents
),
bounds AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
d AS (
  SELECT doc_id, n_tok, {_sql_kfirst("doc_id", VOCAB_CHECKPOINTS)} AS kf
  FROM docs CROSS JOIN bounds
),
doc_adds AS (
  SELECT kf, COUNT(*)::BIGINT AS docs_added, SUM(n_tok)::BIGINT AS tokens_added
  FROM d GROUP BY kf
),
first_occ AS (
  SELECT t, MIN(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest({_VG_TOKENS}) AS t FROM documents)
  GROUP BY t
),
t_adds AS (
  SELECT {_sql_kfirst("first_doc", VOCAB_CHECKPOINTS)} AS kf, COUNT(*)::BIGINT AS vocab_added
  FROM first_occ CROSS JOIN bounds GROUP BY 1
),
grid AS (
  SELECT unnest(range(1, {VOCAB_CHECKPOINTS + 1})) AS checkpoint, lo, hi FROM bounds
),
joined AS (
  SELECT g.checkpoint,
         CAST(g.lo + (g.hi - g.lo) * g.checkpoint // {VOCAB_CHECKPOINTS} AS BIGINT)
           AS threshold_doc_id,
         COALESCE(da.docs_added, 0) AS docs_added,
         COALESCE(da.tokens_added, 0) AS tokens_added,
         COALESCE(ta.vocab_added, 0) AS vocab_added
  FROM grid g
  LEFT JOIN doc_adds da ON da.kf = g.checkpoint
  LEFT JOIN t_adds ta ON ta.kf = g.checkpoint
)
SELECT CAST(checkpoint AS BIGINT) AS checkpoint, threshold_doc_id,
       CAST(SUM(docs_added) OVER w AS BIGINT) AS n_docs,
       CAST(SUM(tokens_added) OVER w AS BIGINT) AS n_tokens,
       CAST(SUM(vocab_added) OVER w AS BIGINT) AS vocab_size
FROM joined
WINDOW w AS (ORDER BY checkpoint ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# --- dedup-rate growth curve — PENDING round 8+ --------------------------------
#
# The scaling question a 100 TB corpus owner actually asks: how does the
# duplicate rate GROW with corpus size (shared boilerplate and copied
# passages compound as more of everything arrives)? Measured at LINE
# grain — the granularity where the fixture (like the web) genuinely
# repeats — on nested md5-ordered prefixes (25/50/75/100%, deterministic
# order-free subsets): per prefix, the fraction of line occurrences whose
# line text appears in >= 2 distinct docs OF THAT PREFIX, in PPM. Lines
# come from the CCNet line-dedup machinery verbatim (boilerplate header +
# 8-token body slices). Monotonicity is a law, not a hope: a line
# duplicated within a prefix stays duplicated in every superset, so the
# duplicated-occurrence count is non-decreasing (pinned). One line
# explode fans out to |prefixes| map-side copies into keyed aggs — no
# per-prefix rescans.

DUP_GROWTH_PREFIXES = (25, 50, 75, 100)


def corpus_dup_rate_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_postgresql_clickhouse_spark.functions.text import tokens
    from cdc_postgresql_clickhouse_spark.queries.spans import _lines_expr

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    lined = base.select("doc_id", F.expr(_lines_expr()).alias("lines"))
    occ = lined.select("doc_id", F.explode("lines").alias("l")).select(
        "doc_id", F.md5("l").alias("lmd5")
    )
    k100 = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        * 100
    )
    fanned = occ.select(
        "doc_id",
        "lmd5",
        k100.alias("k100"),
        F.explode(
            F.array(*[F.lit(p).cast("long") for p in DUP_GROWTH_PREFIXES])
        ).alias("prefix_pct"),
    ).filter(F.col("k100") < F.col("prefix_pct") * 65536)
    per_line = fanned.groupBy("prefix_pct", "lmd5").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ"),
        F.countDistinct("doc_id").cast("long").alias("n_docs_line"),
    )
    docs_per = fanned.groupBy("prefix_pct").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    rates = per_line.groupBy("prefix_pct").agg(
        F.sum("n_occ").cast("long").alias("n_line_occurrences"),
        F.sum(F.when(F.col("n_docs_line") >= 2, F.col("n_occ")).otherwise(0))
        .cast("long")
        .alias("n_dup_occurrences"),
    )
    return docs_per.join(rates, "prefix_pct").select(
        "prefix_pct",
        "n_docs",
        "n_line_occurrences",
        "n_dup_occurrences",
        F.expr("n_dup_occurrences * 1000000 div n_line_occurrences")
        .cast("long")
        .alias("dup_line_ppm"),
    )


def _sql_dup_growth() -> str:
    from cdc_postgresql_clickhouse_spark.queries.dedup import _SQL_TOKENS
    from cdc_postgresql_clickhouse_spark.queries.sketches import _sql_hex_int
    from cdc_postgresql_clickhouse_spark.queries.spans import (
        _SQL_BOILERPLATE,
        BOILERPLATE,
        LINE_TOKENS,
    )

    k = _sql_hex_int("CAST(doc_id AS VARCHAR)", 4)
    return f"""
WITH base AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
),
lined AS (
  SELECT doc_id,
         [({_SQL_BOILERPLATE})[CAST(doc_id % {len(BOILERPLATE)} AS INT) + 1]] ||
         CASE WHEN len(toks) >= 1
              THEN list_transform(generate_series(1, CAST(ceil(len(toks) / {LINE_TOKENS}.0) AS BIGINT)),
                     j -> array_to_string(toks[(j - 1) * {LINE_TOKENS} + 1 : j * {LINE_TOKENS}], ' '))
              ELSE CAST([] AS VARCHAR[]) END AS lines
  FROM base
),
occ AS (
  SELECT doc_id, md5(l) AS lmd5, ({k}) * 100 AS k100
  FROM (SELECT doc_id, unnest(lines) AS l FROM lined)
),
fanned AS (
  SELECT doc_id, lmd5, CAST(p AS BIGINT) AS prefix_pct
  FROM occ, (VALUES {", ".join(f"({p})" for p in DUP_GROWTH_PREFIXES)}) v(p)
  WHERE k100 < p * 65536
),
per_line AS (
  SELECT prefix_pct, lmd5, COUNT(*)::BIGINT AS n_occ,
         COUNT(DISTINCT doc_id)::BIGINT AS n_docs_line
  FROM fanned GROUP BY 1, 2
),
docs_per AS (
  SELECT prefix_pct, COUNT(DISTINCT doc_id)::BIGINT AS n_docs
  FROM fanned GROUP BY 1
),
rates AS (
  SELECT prefix_pct,
         SUM(n_occ)::BIGINT AS n_line_occurrences,
         SUM(CASE WHEN n_docs_line >= 2 THEN n_occ ELSE 0 END)::BIGINT
           AS n_dup_occurrences
  FROM per_line GROUP BY 1
)
SELECT d.prefix_pct, d.n_docs, r.n_line_occurrences, r.n_dup_occurrences,
       (r.n_dup_occurrences * 1000000 // r.n_line_occurrences)::BIGINT
         AS dup_line_ppm
FROM docs_per d JOIN rates r USING (prefix_pct)
"""


PENDING_QUERIES = globals().get("PENDING_QUERIES", {})
PENDING_ORACLE = globals().get("PENDING_ORACLE", {})
PENDING_QUERIES["corpus_dup_rate_growth"] = corpus_dup_rate_growth
PENDING_ORACLE["corpus_dup_rate_growth"] = _sql_dup_growth()


# --- Round-8 registration: the whole pending layer flips in ----------------
# VERDICT r7 #1: the driver's 50-row window gates which rows get CHECKED per
# round, not how many may be REGISTERED — holding locally hash-verified
# operators out of the contract understates coverage and risks rows never
# receiving a driver row. Window order lives in queries/__init__.
flip_pending(PENDING_QUERIES, PENDING_ORACLE, QUERIES, ORACLE)


# --- cross-modality alignment coverage -----------------------------------------
#
# The multimodal-pipeline hygiene check: does every document have its
# embedding row, and every embedding its document? (Orphans on either side
# mean a failed encode job or a stale corpus snapshot — the FK-orphan
# report's analogue across modality tables.) One full-outer keyed join on
# the id + one agg; at 100 TB both sides are id-bucketed tables and the
# join co-locates. Label coverage counts distinct labels among matched
# rows — the "is the labeled slice aligned" follow-up.


def corpus_modality_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), F.lit(1).alias("d")
    )
    vecs = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("label").cast("long").alias("label")
    )
    j = docs.join(vecs, "id", "full_outer")
    return j.agg(
        F.sum(F.when(F.col("d").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_docs"),
        F.sum(F.when(F.col("label").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_vecs"),
        F.sum(
            F.when(F.col("d").isNotNull() & F.col("label").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_matched"),
        F.sum(
            F.when(F.col("d").isNotNull() & F.col("label").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_docs_only"),
        F.sum(
            F.when(F.col("d").isNull() & F.col("label").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_vecs_only"),
        F.countDistinct(
            F.when(F.col("d").isNotNull(), F.col("label"))
        ).cast("long").alias("n_matched_labels"),
    )


_SQL_MODALITY_COVERAGE = """
WITH d AS (SELECT doc_id AS id FROM documents),
v AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS label FROM embeddings),
j AS (SELECT COALESCE(d.id, v.id) AS id, d.id AS did, v.label
      FROM d FULL JOIN v ON d.id = v.id)
SELECT SUM(CASE WHEN did IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_docs,
       SUM(CASE WHEN label IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_vecs,
       SUM(CASE WHEN did IS NOT NULL AND label IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_matched,
       SUM(CASE WHEN did IS NOT NULL AND label IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_docs_only,
       SUM(CASE WHEN did IS NULL AND label IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_vecs_only,
       COUNT(DISTINCT CASE WHEN did IS NOT NULL THEN label END)::BIGINT
         AS n_matched_labels
FROM j
"""

QUERIES["corpus_modality_coverage"] = corpus_modality_coverage
ORACLE["corpus_modality_coverage"] = _SQL_MODALITY_COVERAGE


# --- quality-ordered curriculum schedule -------------------------------------
#
# The data-ordering plan curriculum-style pretraining consumes (easy/clean
# first, noisy tail last — the anti-curriculum flips the same ranking):
# sources ranked by mean quality score (integer micro mean of the
# text_quality_score heuristic), with cumulative token mass and a 3-phase
# split at 1/3 and 2/3 of total tokens. Scale shape: the per-doc quality
# pass is the audited map-side heuristic; the rollup is |sources|-bounded,
# and the ranking window runs over that bounded grid (20 rows), never over
# docs.


def corpus_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cdc_postgresql_clickhouse_spark.queries.text import text_quality_score

    q = text_quality_score(spark, sf_dir).select("doc_id", "n_tok", "quality")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    per = src.join(q, "doc_id").groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.expr(
            "sum(cast(floor(quality * 1000000.0) as bigint)) div count(1)"
        ).cast("long").alias("mean_quality_micro"),
    )
    w = Window.orderBy(F.desc("mean_quality_micro"), F.col("source"))
    ranked = per.select(
        "*",
        F.row_number().over(w).cast("long").alias("rank"),
        F.sum("total_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum_tokens"),
    )
    total = per.agg(F.sum("total_tokens").cast("long").alias("grand_tokens"))
    out = ranked.crossJoin(F.broadcast(total))
    share = F.expr("cum_tokens * 1000000 div grand_tokens")
    return out.select(
        "source",
        "n_docs",
        "total_tokens",
        "mean_quality_micro",
        "rank",
        "cum_tokens",
        share.cast("long").alias("cum_share_ppm"),
        (
            F.lit(1)
            + F.when(share > 333333, 1).otherwise(0)
            + F.when(share > 666667, 1).otherwise(0)
        ).cast("long").alias("phase"),
    )


QUERIES["corpus_curriculum_schedule"] = corpus_curriculum_schedule


def _sql_curriculum() -> str:
    from cdc_postgresql_clickhouse_spark.queries.text import ORACLE as _TX_ORACLE

    return f"""
WITH q AS ({_TX_ORACLE["text_quality_score"]}),
per AS (
  SELECT s.source, COUNT(*)::BIGINT AS n_docs,
         SUM(q.n_tok)::BIGINT AS total_tokens,
         (SUM(CAST(FLOOR(q.quality * 1000000.0) AS BIGINT)) // COUNT(*))::BIGINT
           AS mean_quality_micro
  FROM (SELECT doc_id, source FROM documents) s
  JOIN q USING (doc_id)
  GROUP BY 1
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY mean_quality_micro DESC, source) AS rank,
         SUM(total_tokens) OVER (
           ORDER BY mean_quality_micro DESC, source ROWS UNBOUNDED PRECEDING
         ) AS cum_tokens
  FROM per
)
SELECT source, n_docs, total_tokens, mean_quality_micro,
       CAST(rank AS BIGINT) AS rank,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       (cum_tokens * 1000000 // t.grand_tokens)::BIGINT AS cum_share_ppm,
       (1 + CASE WHEN cum_tokens * 1000000 // t.grand_tokens > 333333 THEN 1 ELSE 0 END
          + CASE WHEN cum_tokens * 1000000 // t.grand_tokens > 666667 THEN 1 ELSE 0 END
       )::BIGINT AS phase
FROM ranked
CROSS JOIN (SELECT SUM(total_tokens) AS grand_tokens FROM per) t
"""


ORACLE["corpus_curriculum_schedule"] = _sql_curriculum()


# --- Epoch-shuffle uniformity audit — round 10 --------------------------------
#
# Training loaders reshuffle the corpus every epoch by a deterministic
# per-epoch hash (position = rank of md5(doc_id:epoch)) — cheap, stateless,
# resumable. This audit verifies the property that recipe is trusted for:
# within every epoch, each SOURCE's documents must spread uniformly over
# the global order (a source clumping early/late in an epoch skews what
# the model sees when training stops mid-epoch). Per (epoch, source):
# chi-square of the source's decile histogram against uniform, plus the
# worst single-decile deviation — both exact integers via
#   chi2 = (1/(10n)) * sum_d (10*obs_d - n)^2
# scaled to milli (the Fano/burstiness identity trick: no ratio is ever a
# float). Empty deciles count as obs = 0 through a dense 10-row grid.
#
# Scale shape: the per-epoch global position uses the two-phase global
# rank over (epoch, hash, doc_id) (operators/ranking.py — ranking by hash
# IS the shuffle operation, and the two-phase rank is how it distributes);
# everything after is (|epochs| x |sources| x 10)-bounded.

SHUFFLE_EPOCHS = 3


def corpus_epoch_shuffle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_postgresql_clickhouse_spark.operators.ranking import global_row_number

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    n_docs = docs.count()  # scalar: per-epoch denominator
    hashed = docs.select(
        "doc_id", "source",
        F.explode(F.array(*[F.lit(e) for e in range(SHUFFLE_EPOCHS)])).alias("epoch"),
    ).select(
        "source", "epoch",
        F.md5(F.concat_ws(":", F.col("doc_id"), F.col("epoch"))).alias("h"),
        "doc_id",
    )
    g = global_row_number(
        hashed, [F.col("epoch"), F.col("h"), F.col("doc_id")], out="__g"
    )
    base = g.groupBy("epoch").agg(F.min("__g").alias("__base"))
    pos = g.join(F.broadcast(base), "epoch").select(
        "epoch", "source",
        F.expr(f"(__g - __base) * 10 div {n_docs}").cast("int").alias("decile"),
    )
    obs = pos.groupBy("epoch", "source", "decile").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    src_n = pos.groupBy("epoch", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_src")
    )
    grid = src_n.crossJoin(
        F.broadcast(
            spark.range(10).select(F.col("id").cast("int").alias("decile"))
        )
    )
    dense = grid.join(obs, ["epoch", "source", "decile"], "left").select(
        "epoch", "source", "n_src",
        F.coalesce("obs", F.lit(0).cast("long")).alias("obs"),
    )
    dev = (F.col("obs") * 10 - F.col("n_src"))
    return (
        dense.groupBy("epoch", "source")
        .agg(
            F.min("n_src").alias("n_docs"),
            F.sum(dev * dev).cast("long").alias("ssq"),
            F.max(F.abs(dev)).cast("long").alias("maxdev"),
        )
        .select(
            F.col("epoch").cast("long").alias("epoch"),
            "source", "n_docs",
            F.expr("ssq * 1000 div (10 * n_docs)").cast("long").alias("chi2_milli"),
            F.expr("maxdev * 1000 div n_docs").cast("long").alias("max_dev_milli"),
        )
    )


_SQL_SHUFFLE_AUDIT = f"""
WITH hashed AS (
  SELECT d.source, g.epoch,
         md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(g.epoch AS VARCHAR)) AS h,
         d.doc_id
  FROM documents d, (SELECT unnest(range({SHUFFLE_EPOCHS})) AS epoch) g
),
nv AS (SELECT COUNT(*) AS n FROM documents),
pos AS (
  SELECT epoch, source,
         CAST((ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY h, doc_id) - 1) * 10
              // (SELECT n FROM nv) AS INTEGER) AS decile
  FROM hashed
),
obs AS (
  SELECT epoch, source, decile, COUNT(*)::BIGINT AS obs
  FROM pos GROUP BY 1, 2, 3
),
src_n AS (SELECT epoch, source, COUNT(*)::BIGINT AS n_src FROM pos GROUP BY 1, 2),
grid AS (
  SELECT s.epoch, s.source, s.n_src, g.decile
  FROM src_n s CROSS JOIN (SELECT CAST(unnest(range(10)) AS INTEGER) AS decile) g
),
dense AS (
  SELECT grid.epoch, grid.source, grid.n_src, grid.decile, COALESCE(o.obs, 0) AS obs
  FROM grid
  LEFT JOIN obs o ON o.epoch = grid.epoch AND o.source = grid.source AND o.decile = grid.decile
)
SELECT CAST(epoch AS BIGINT) AS epoch, source,
       MIN(n_src)::BIGINT AS n_docs,
       (SUM((obs * 10 - n_src) * (obs * 10 - n_src)) * 1000
        // (10 * MIN(n_src)))::BIGINT AS chi2_milli,
       (MAX(ABS(obs * 10 - n_src)) * 1000 // MIN(n_src))::BIGINT AS max_dev_milli
FROM dense GROUP BY 1, 2
"""

QUERIES["corpus_epoch_shuffle_audit"] = corpus_epoch_shuffle_audit
ORACLE["corpus_epoch_shuffle_audit"] = _SQL_SHUFFLE_AUDIT
