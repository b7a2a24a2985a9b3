"""Streaming HLL maintenance: the distinct-count sketch grown incrementally
as events ARRIVE — the sketch x streaming composition (VERDICT r4 #9):
telemetry pipelines keep per-key cardinality sketches continuously, not by
rescanning history per query.

Design (storage-not-state-store, the posture of ``streaming/dedup.py`` /
``streaming/postings.py``):

- a micro-batch's HLL state is a pure function of the batch
  (``queries.sketches.hll_registers``: per (event_type, register) the max
  rho), and HLL states merge by per-cell MAX — so the ingest APPENDS each
  batch's register table and readers max-merge at read time
  (``read_hll_registers``). No read-modify-write, batches never contend
  beyond the compact fence, and an at-least-once replay just re-appends
  rows whose max-merge is a no-op: MAX is idempotent, THE property that
  makes this sketch streamable.
- state size: |keys| x 64 registers per batch appended; the read-time merge
  and periodic compaction (``compact_partitioned_index`` with part column
  ``event_type``) keep it sketch-sized. At 100 TB of events the state that
  ever exists is (batches x keys x 64) integers — corpus-independent.
- the estimator is shared verbatim with the batch query
  (``queries.sketches.hll_report``), so the incrementally-built sketch is
  scored by exactly the code the batch oracle verifies.

Reference tie-in: S8 append-sink pattern (``clickhouse_schemas.sql:36-37``)
extended to sketch state; ClickHouse's ``uniqState``/``uniqMerge``
AggregatingMergeTree idiom is the same merge-by-cell design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.queries.sketches import hll_registers


def ingest_batch_hll(batch: DataFrame, state_path: str) -> None:
    """Append one micro-batch's register table. Holds the table's
    ``_state_lock`` (repo convention for streamed-index mutators) so a
    concurrent compaction cannot swap the directory mid-append."""
    from cdc_postgresql_clickhouse_spark.operators.state import _state_lock

    regs = hll_registers(batch)
    with _state_lock(state_path):
        regs.write.mode("append").parquet(state_path)


def read_hll_registers(spark: SparkSession, state_path: str) -> DataFrame:
    """The merged sketch state: per-cell MAX over every appended batch —
    idempotent under at-least-once replay."""
    return (
        spark.read.parquet(state_path)
        .groupBy("event_type", "reg")
        .agg(F.max("mj").alias("mj"))
    )


def _drain(spark, src_dir, handle, checkpoint_dir, max_files_per_trigger):
    """Shared availableNow micro-batch drain for the parquet-source
    ingests (sketches, folds, MVs, SCD2, postings, IVF/PQ, SemDeDup). The
    handle receives (batch, batch_id): max- and set-merged sketches ignore
    the id (their merges are idempotent by algebra), the sum-merged CMS
    stamps it so the read-time merge can drop at-least-once re-appends."""
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )

    def guarded(batch: DataFrame, batch_id: int) -> None:
        if not batch.isEmpty():
            handle(batch, batch_id)

    q = (
        stream.writeStream.foreachBatch(guarded)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_incremental_hll(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (parquet files of events rows) through the
    incremental HLL ingest with an availableNow trigger."""
    _drain(
        spark, src_dir, lambda b, _i: ingest_batch_hll(b, state_path),
        checkpoint_dir, max_files_per_trigger,
    )


# --- streaming bottom-k quantile state ---------------------------------------
#
# The mergeable quantile sketch (``queries.sketches.sketch_quantile_bottomk``)
# streamed: each micro-batch appends ITS OWN bottom-k state (per key, the k
# events with smallest md5(event_id), carrying integer cents), and readers
# re-rank the union keeping k — exact because bottom-k(∪ of per-batch
# bottom-k's) = bottom-k(∪), the same theorem the batch merge row pins.
# At-least-once replay appends duplicate (h, c) rows; the read-time
# ``distinct()`` drops them (h is unique per event), the postings-table
# contract. State: k rows per key per batch appended, sketch-sized forever.


def ingest_batch_bottomk(batch: DataFrame, state_path: str, k: int = None) -> None:
    """Append one micro-batch's bottom-k quantile state (event_type, h, c)."""
    from cdc_postgresql_clickhouse_spark.operators.state import _state_lock
    from cdc_postgresql_clickhouse_spark.queries.sketches import QSK_K, _bottomk_state

    st = _bottomk_state(batch, k if k is not None else QSK_K)
    with _state_lock(state_path):
        st.write.mode("append").parquet(state_path)


def read_bottomk_state(spark: SparkSession, state_path: str, k: int = None) -> DataFrame:
    """The merged sketch state: distinct (replay dedup), then re-rank by
    hash keeping k per key — exactly the batch state of the full stream."""
    from pyspark.sql import Window

    from cdc_postgresql_clickhouse_spark.queries.sketches import QSK_K

    kk = k if k is not None else QSK_K
    raw = spark.read.parquet(state_path).select("event_type", "h", "c").distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    return raw.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= kk).drop("rn")


def run_incremental_bottomk(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (parquet files of events rows) through the
    incremental bottom-k quantile ingest with an availableNow trigger."""
    _drain(
        spark, src_dir, lambda b, _i: ingest_batch_bottomk(b, state_path),
        checkpoint_dir, max_files_per_trigger,
    )


# --- streaming count-min state ------------------------------------------------
#
# The frequency sketch (``queries.sketches.sketch_cms_heavy_hitters``)
# streamed — the third and last merge algebra of the sketch family as a
# streaming row: HLL merges by cell-wise MAX (idempotent), bottom-k by set
# union (distinct-deduped), CMS by cell-wise ADDITION, which is NOT
# idempotent — so each append is stamped with its micro-batch id and the
# read-time merge first collapses duplicate (batch_id, cell) rows (an
# at-least-once replay re-appends identical rows under the same id), THEN
# sums across batches. Sum-of-per-batch-sums = the global cell count because
# the counter table is LINEAR in the input multiset — the map-side-combine
# property CMS exists for.
#
# Two appended tables per batch, both sketch-scale:
# - counters/: the batch's d×w cell partials (≤ 2048 rows) — the sketch
#   state proper; merging it needs no term knowledge.
# - vocab/: the batch's (term, cnt) token-count partials — needed only to
#   ENUMERATE candidate terms and report the exact count next to the
#   estimate (same columns the batch report carries). Vocab-sized per
#   batch, the same shuffle grain tfidf pays.


def ingest_batch_cms(batch: DataFrame, state_path: str, batch_id: int) -> None:
    """Append one micro-batch's CMS cell partials + token-count partials,
    both stamped with the micro-batch id for replay dedup."""
    import os

    from cdc_postgresql_clickhouse_spark.operators.state import _state_lock
    from cdc_postgresql_clickhouse_spark.queries.sketches import cms_counters, cms_vocab

    vocab = cms_vocab(batch).withColumn("batch_id", F.lit(int(batch_id)))
    counters = cms_counters(vocab.drop("batch_id")).withColumn(
        "batch_id", F.lit(int(batch_id))
    )
    with _state_lock(state_path):
        vocab.write.mode("append").parquet(os.path.join(state_path, "vocab"))
        counters.write.mode("append").parquet(os.path.join(state_path, "counters"))


def read_cms_state(spark: SparkSession, state_path: str) -> tuple[DataFrame, DataFrame]:
    """The merged (vocab, counters) pair: per-batch dedup (MAX over rows
    that replay re-appended verbatim), then SUM across batches."""
    import os

    vocab = (
        spark.read.parquet(os.path.join(state_path, "vocab"))
        .groupBy("batch_id", "term")
        .agg(F.max("cnt").alias("cnt"))
        .groupBy("term")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    counters = (
        spark.read.parquet(os.path.join(state_path, "counters"))
        .groupBy("batch_id", "r", "c")
        .agg(F.max("cell").alias("cell"))
        .groupBy("r", "c")
        .agg(F.sum("cell").alias("cell"))
    )
    return vocab, counters


def ingest_batch_topk_counts(batch: DataFrame, state_path: str, batch_id: int) -> None:
    """Append one micro-batch's (event_type, k, n) value-count partials —
    the grouped-top-k state. Counts are LINEAR (like CMS cells), so the
    merge is batch-id-deduped cell-wise ADDITION."""
    from cdc_postgresql_clickhouse_spark.operators.state import _state_lock
    from cdc_postgresql_clickhouse_spark.queries.funnel import grouped_value_counts

    part = grouped_value_counts(batch).withColumn("batch_id", F.lit(int(batch_id)))
    with _state_lock(state_path):
        part.write.mode("append").parquet(state_path)


def read_topk_counts(spark: SparkSession, state_path: str) -> DataFrame:
    """The merged count table: per-batch dedup (replayed rows are verbatim
    re-appends), then SUM across batches."""
    return (
        spark.read.parquet(state_path)
        .groupBy("batch_id", "event_type", "k")
        .agg(F.max("n").alias("n"))
        .groupBy("event_type", "k")
        .agg(F.sum("n").alias("n"))
    )


def run_incremental_topk(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (parquet files of events rows) through the
    incremental grouped-top-k ingest with an availableNow trigger."""
    _drain(
        spark, src_dir, lambda b, i: ingest_batch_topk_counts(b, state_path, i),
        checkpoint_dir, max_files_per_trigger,
    )


def run_incremental_cms(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (parquet files of documents rows) through the
    incremental CMS ingest with an availableNow trigger."""
    _drain(
        spark, src_dir, lambda b, i: ingest_batch_cms(b, state_path, i),
        checkpoint_dir, max_files_per_trigger,
    )


# --- mergeable OHLC bar maintenance -------------------------------------------
#
# The AggregatingMergeTree shape (reference MV, clickhouse_schemas.sql:49-58)
# for time-series bars: each micro-batch appends its PARTIAL bars — open and
# close as (us, eid, c) order-key structs, high/low/count/sum scalars — and
# the read-time merge re-aggregates them with the same arg-min/arg-max
# algebra, which `tests/test_r7_ops.py` pins equal to the one-shot bars.
# Replay safety follows the CMS recipe: partials are stamped with the batch
# id, and the read dedups per (batch_id, bar) before merging, so a replayed
# append of identical rows collapses. State is bars-per-batch-sized, never
# event-sized.


def ingest_batch_ohlc(batch: DataFrame, state_path: str, batch_id: int) -> None:
    """Append one micro-batch's partial bars, stamped for replay dedup.
    Expects (event_type, us, eid, c) rows."""
    from cdc_postgresql_clickhouse_spark.operators.state import _state_lock

    partial = (
        batch.withColumn("minute_idx", F.expr("us div 60000000").cast("long"))
        .groupBy("event_type", "minute_idx")
        .agg(
            F.min_by(F.struct("us", "eid", "c"), F.struct("us", "eid")).alias("o"),
            F.max("c").cast("long").alias("high_cents"),
            F.min("c").cast("long").alias("low_cents"),
            F.max_by(F.struct("us", "eid", "c"), F.struct("us", "eid")).alias("cl"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("c").cast("long").alias("volume_cents"),
        )
        .withColumn("batch_id", F.lit(int(batch_id)))
    )
    with _state_lock(state_path):
        partial.write.mode("append").parquet(state_path)


def read_ohlc_bars(spark: SparkSession, state_path: str) -> DataFrame:
    """Merged bars in the batch operator's output shape: per-batch dedup
    (replayed appends are verbatim duplicates), then the partial-bar merge."""
    st = spark.read.parquet(state_path)
    deduped = st.groupBy("batch_id", "event_type", "minute_idx").agg(
        F.max("o").alias("o"),
        F.max("high_cents").alias("high_cents"),
        F.max("low_cents").alias("low_cents"),
        F.max("cl").alias("cl"),
        F.max("n_events").alias("n_events"),
        F.max("volume_cents").alias("volume_cents"),
    )
    return deduped.groupBy("event_type", "minute_idx").agg(
        F.min_by("o.c", F.struct("o.us", "o.eid")).cast("long").alias("open_cents"),
        F.max("high_cents").cast("long").alias("high_cents"),
        F.min("low_cents").cast("long").alias("low_cents"),
        F.max_by("cl.c", F.struct("cl.us", "cl.eid")).cast("long").alias("close_cents"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("volume_cents").cast("long").alias("volume_cents"),
    )


def run_incremental_ohlc(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (parquet files of (event_type, us, eid, c) rows)
    through the OHLC partial-bar ingest with an availableNow trigger."""
    _drain(
        spark,
        src_dir,
        lambda b, i: ingest_batch_ohlc(b, state_path, i),
        checkpoint_dir,
        max_files_per_trigger,
    )


# --- mergeable Kaplan-Meier survival state -------------------------------------
#
# Survival curves are maintainable because the per-user state is pure
# order-free algebra: first_day = MIN, conv_day = MIN over purchases,
# last_day = MAX — merging any micro-batch split per user reproduces the
# batch table exactly (min-of-mins / max-of-maxes), the HLL-register
# argument at user grain. Each batch appends its per-user partials;
# reads merge and hand the table to the BATCH estimator
# (queries/events.km_estimator), so the curve is bit-identical to the
# one-shot computation. Replay-safe without a fence: re-appending the
# same partials changes no min/max.


def ingest_batch_km(batch: DataFrame, state_path: str) -> None:
    """Append one micro-batch's per-user survival partials. Expects
    (user_id, day, event_type) rows."""
    from cdc_postgresql_clickhouse_spark.operators.state import _state_lock
    from cdc_postgresql_clickhouse_spark.queries.events import km_per_user

    with _state_lock(state_path):
        km_per_user(batch).write.mode("append").parquet(state_path)


def read_km_per_user(spark: SparkSession, state_path: str) -> DataFrame:
    """The merged per-user table in the batch shape."""
    st = spark.read.parquet(state_path)
    return st.groupBy("user_id").agg(
        F.min("first_day").alias("first_day"),
        F.min("conv_day").alias("conv_day"),
        F.max("last_day").alias("last_day"),
    )


def run_incremental_km(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (parquet files of (user_id, day, event_type) rows)
    through the survival-state ingest with an availableNow trigger."""
    _drain(
        spark,
        src_dir,
        lambda b, i: ingest_batch_km(b, state_path),
        checkpoint_dir,
        max_files_per_trigger,
    )


# --- incremental compaction-debt state ---------------------------------------
#
# Streaming twin of queries/cdc.py::cdc_compaction_debt_report: per-key
# (n_versions, last-event) state is an ORDER-FREE mergeable algebra
# (counts add; the last event is a max over the unique (es, eid) order
# key), so the partial-append + merge-at-read recipe of the OHLC bars
# applies verbatim — no ordered fold, no per-bucket fence needed. Replayed
# micro-batches append verbatim-duplicate partials; the read-time
# per-(batch_id, key) dedup drops them (same at-least-once posture as the
# CMS ingest).


def ingest_batch_debt(batch: DataFrame, state_path: str, batch_id: int) -> None:
    """Append one micro-batch's per-key debt partials.
    Expects (user_id, es, eid, event_type) rows."""
    from cdc_postgresql_clickhouse_spark.operators.state import _state_lock

    partial = batch.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_versions"),
        F.max(F.struct("es", "eid", "event_type")).alias("last"),
    ).withColumn("batch_id", F.lit(int(batch_id)))
    with _state_lock(state_path):
        partial.write.mode("append").parquet(state_path)


def read_compaction_debt(spark: SparkSession, state_path: str) -> DataFrame:
    """Merged per-bucket debt report in the batch operator's output shape:
    per-batch dedup (replays are verbatim duplicates), additive count merge,
    struct-max last-event merge, then the SHARED batch rollup."""
    from cdc_postgresql_clickhouse_spark.queries.cdc import debt_rollup

    st = spark.read.parquet(state_path)
    deduped = st.groupBy("batch_id", "user_id").agg(
        F.max("n_versions").alias("n_versions"),
        F.max("last").alias("last"),
    )
    per_user = deduped.groupBy("user_id").agg(
        F.sum("n_versions").cast("long").alias("n_versions"),
        F.max("last").alias("last"),
    ).select(
        "user_id", "n_versions", F.col("last.event_type").alias("last_type")
    )
    return debt_rollup(per_user)


def run_incremental_debt(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (parquet files of (user_id, es, eid, event_type)
    rows) through the debt partial ingest with an availableNow trigger."""
    _drain(
        spark,
        src_dir,
        lambda b, i: ingest_batch_debt(b, state_path, i),
        checkpoint_dir,
        max_files_per_trigger,
    )


# --- streaming (user, week) activity state ------------------------------------
#
# The cohort-retention matrix's state grain (queries.events
# .cohort_matrix_from_activity) is a SET of (user_id, week) pairs — union-
# mergeable, so each micro-batch appends its own distinct pairs and readers
# distinct-merge the union. At-least-once replay appends duplicate pairs;
# the read-time distinct drops them (the postings-table contract). Unlike
# the HLL registers this state grows with |users x weeks|, which is the
# point: the matrix needs exact per-cohort distinct counts, and the state
# IS the minimal sufficient statistic for them (raw events are never kept).


def ingest_batch_activity(batch: DataFrame, state_path: str) -> None:
    """Append one micro-batch's distinct (user_id, week) activity pairs."""
    from cdc_postgresql_clickhouse_spark.operators.state import _state_lock

    pairs = batch.select(
        "user_id",
        F.expr("floor(unix_timestamp(ts)) div 604800").cast("long").alias("week"),
    ).distinct()
    with _state_lock(state_path):
        pairs.write.mode("append").parquet(state_path)


def run_incremental_activity(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    _drain(
        spark, src_dir, lambda b, _i: ingest_batch_activity(b, state_path),
        checkpoint_dir, max_files_per_trigger,
    )


def read_activity_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The merged activity set: distinct over every appended batch."""
    return spark.read.parquet(state_path).distinct()
