"""Registered STREAMING queries: the driver's correctness gate runs real
Structured Streaming pipelines end-to-end and checks their materialized
output against batch DuckDB oracles — proof that the streaming forms equal
their batch twins (survey ST1/ST6), not just that the batch twins are right.

Each query stages its input from the sf_dir parquet into a temp source
directory, drains an availableNow stream (micro-batched), reads the sink,
``localCheckpoint``s the result (so the returned DataFrame survives temp-dir
cleanup and repeated bench runs don't accumulate disk), and removes the temp
tree. Everything the oracle sees is a pure function of the fixture tables,
so the comparison is deterministic.

- ``streaming_incremental_dedup``: replays ``documents`` plus deterministic
  exact copies (doc_id % 9 == 4, shifted by +5_000_000 — arriving in a
  LATER batch than their originals) through
  ``streaming.dedup.run_incremental_dedup`` in 2+ micro-batches; returns the
  duplicate log. Oracle: batch exact-dedup over the same combined corpus —
  every doc whose content hash has a smaller-id holder is a duplicate. The
  equality IS the incremental-vs-batch equivalence statement.
- ``streaming_tumbling_equiv``: drains ``events`` through the watermarked
  streaming tumbling window (append mode, sentinel-flushed) and returns the
  emitted windows; oracle = the batch 5-minute bucket aggregation (same SQL
  as ``events_tumbling_5min``). Covers ST1/ST6 with a driver row.
- ``streaming_cdc_pipeline_equiv``: the WHOLE reference dataflow as one
  driver row (S1-S11): ``events`` is deterministically mapped to Debezium
  envelopes (key = user_id, version/LSN = event_id, ``error`` = delete,
  before-image = previous row image), written as JSON files, streamed
  through ``run_cdc_pipeline`` (decode → transform → bucketed dirty-bucket
  upsert), and the resulting state read back through ``current_state``
  (FINAL). Oracle = the batch arg-max over the same event mapping — the
  reference's own reconciliation methodology (``README.md:309-329``) run
  inside the correctness gate.

- ``streaming_postings_ingest_equiv`` / ``streaming_ivf_ingest_equiv``:
  index maintenance — the sparse (posting-list) and dense (IVF) retrieval
  indexes built incrementally per batch, probed/scored with the batch code,
  oracle = the batch query's own SQL.

Reference tie-in: the reference's own verification is batch reconciliation
after streaming ingest (``README.md:309-329``); these queries automate that
pattern inside the correctness gate.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.queries.dedup import (
    _SQL_MINHASH_CTES,
    _SQL_MINHASH_SELECT,
)
from cdc_postgresql_clickhouse_spark.queries.formats import _materialized
from cdc_postgresql_clickhouse_spark.sources.registry import load_table
from cdc_postgresql_clickhouse_spark.queries._pending import flip_pending

COPY_MOD = 9
COPY_RESIDUE = 4
COPY_OFFSET = 5_000_000
SENTINEL_TYPE = "__sentinel__"


def _backdate_batch(files: list[str], seconds: float = 10.0) -> None:
    """Push a staged batch's files' mtimes strictly earlier. The file-stream
    source orders files by modification time and tie-breaks on path; on a
    filesystem with coarse mtime granularity two sequential writes can TIE,
    and the random part-file UUIDs then deliver batch 2 first — which
    violates the seed contract of the model-extracting ingests (quantizer /
    codebook from batch 1). Call with batch 1's file list AFTER batch 2 is
    written (ADVICE r12)."""
    for p in files:
        try:
            st = os.stat(p)
            os.utime(p, (st.st_atime, st.st_mtime - seconds))
        except OSError:
            pass  # a vanished _SUCCESS marker must not fail the stage


def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_postgresql_clickhouse_spark.streaming.dedup import run_incremental_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % COPY_MOD == COPY_RESIDUE).select(
        (F.col("doc_id") + COPY_OFFSET).alias("doc_id"), "text"
    )
    tmp = tempfile.mkdtemp(prefix="stream_dedup_")
    try:
        src = os.path.join(tmp, "src")
        # two source files -> maxFilesPerTrigger=1 gives 2+ micro-batches:
        # originals first, exact copies in a later batch
        docs.coalesce(1).write.parquet(src)
        copies.coalesce(1).write.mode("append").parquet(src)
        run_incremental_dedup(
            spark,
            src,
            os.path.join(tmp, "state"),
            os.path.join(tmp, "dups"),
            os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
        dups = (
            spark.read.parquet(os.path.join(tmp, "dups"))
            .select("doc_id", "content_hash", "keep_doc")
            .distinct()  # dup log is at-least-once; reads dedup it
        )
        return _materialized(dups)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup discovery: the dedup fixture corpus (base docs +
    derived near-dups) is replayed in 2+ micro-batches — originals and their
    near-duplicates in DIFFERENT batches — through the banded-LSH index
    state; the verified pair log must equal batch ``dedup_minhash_lsh`` on
    the full corpus (same oracle SQL, same jaccard arithmetic)."""
    from cdc_postgresql_clickhouse_spark.queries.dedup import DERIVED_OFFSET, _corpus
    from cdc_postgresql_clickhouse_spark.streaming.dedup import run_incremental_minhash

    corpus = _corpus(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="stream_minhash_")
    try:
        src = os.path.join(tmp, "src")
        corpus.filter(F.col("doc_id") < DERIVED_OFFSET).coalesce(1).write.parquet(src)
        corpus.filter(F.col("doc_id") >= DERIVED_OFFSET).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run_incremental_minhash(
            spark,
            src,
            os.path.join(tmp, "bands"),
            os.path.join(tmp, "docs"),
            os.path.join(tmp, "pairs"),
            os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
        pairs = (
            spark.read.parquet(os.path.join(tmp, "pairs"))
            .select("doc_a", "doc_b", "jaccard")
            .distinct()
        )
        return _materialized(pairs)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_tumbling_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_postgresql_clickhouse_spark.streaming.windows import tumbling_counts

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    tmp = tempfile.mkdtemp(prefix="stream_tumble_")
    try:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        ev.write.parquet(src)

        def drain() -> None:
            stream = spark.readStream.schema(ev.schema).parquet(src)
            q = (
                tumbling_counts(stream, value_col="value")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        drain()
        # append-mode windows flush only when the watermark passes them: a
        # far-future sentinel event advances it past every real window
        far = ev.select(F.max("ts")).first()[0]
        spark.createDataFrame(
            [(SENTINEL_TYPE, far, 0.0)], "event_type string, ts timestamp, value double"
        ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS")).write.mode(
            "append"
        ).parquet(src)
        drain()
        res = (
            spark.read.parquet(out)
            .filter(F.col("event_type") != SENTINEL_TYPE)
            .select(
                F.unix_timestamp("window_start").alias("bucket_start"),
                "event_type",
                F.col("n_events").cast("long").alias("n_events"),
                F.col("sum_value").alias("sum_value"),
            )
        )
        return _materialized(res)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_session_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (F.session_window, 30-min gap) ≡ the
    batch lag-and-running-sum sessionization. Timestamps are truncated to
    whole seconds BEFORE streaming so both engines sessionize the same
    integer timeline (sub-second deltas could otherwise flip a boundary
    decision near exactly-1800 s gaps). Boundary semantics verified
    empirically and encoded in the oracle: a delta of exactly the gap MERGES
    (session_window splits only on delta > gap — same rule as the batch
    twin's ``> 1800``). Streaming session end = last event + gap, so
    duration = end − start − gap."""
    from cdc_postgresql_clickhouse_spark.streaming.windows import session_counts

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("second", F.col("ts")).alias("ts"))
    )
    tmp = tempfile.mkdtemp(prefix="stream_sess_")
    try:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        ev.write.parquet(src)

        def drain() -> None:
            stream = spark.readStream.schema(ev.schema).parquet(src)
            q = (
                session_counts(stream)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        drain()
        far = ev.select(F.max("ts")).first()[0]
        spark.createDataFrame(
            [(-1, far)], "user_id long, ts timestamp"
        ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS")).write.mode(
            "append"
        ).parquet(src)
        drain()
        res = (
            spark.read.parquet(out)
            .filter(F.col("user_id") >= 0)
            .select(
                "user_id",
                F.unix_timestamp("session_start").alias("session_start_epoch"),
                (
                    F.unix_timestamp("session_end")
                    - F.unix_timestamp("session_start")
                    - F.lit(1800)
                ).alias("duration_s"),
                F.col("n_events").cast("long").alias("n_events"),
            )
        )
        return _materialized(res)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_ivf_ingest_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-index-as-data-arrives: embeddings replayed in 2+ micro-batches
    through the incremental IVF ingest (``streaming/ann.py``: quantizer
    model extracted from batch 1, per-batch map-side assignment, append-only
    cid-partitioned inverted lists), then PROBED with the exact same code as
    the batch query (``similarity.ivf_probe``). The oracle is literally the
    batch ``ann_ivf_topk`` SQL — equality IS the statement that maintaining
    the index incrementally yields the index the batch build would have."""
    from cdc_postgresql_clickhouse_spark.queries.similarity import _emb_d, _norm, ivf_probe
    from cdc_postgresql_clickhouse_spark.streaming.ann import (
        centroid_table,
        run_incremental_ivf,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tmp = tempfile.mkdtemp(prefix="stream_ivf_")
    try:
        src = os.path.join(tmp, "src")
        assign_path = os.path.join(tmp, "assign")
        # batch 1 carries the seed centroids (vec_id < 16) by construction;
        # batch 2 delivers the rest — the index accretes across batches
        b1 = emb.filter((F.col("vec_id") < 16) | (F.col("vec_id") % 2 == 0))
        b2 = emb.filter((F.col("vec_id") >= 16) & (F.col("vec_id") % 2 == 1))
        b1.coalesce(1).write.parquet(src)
        b1_files = [os.path.join(src, f) for f in os.listdir(src)]
        b2.coalesce(1).write.mode("append").parquet(src)
        _backdate_batch(b1_files)
        run_incremental_ivf(
            spark, src, assign_path, os.path.join(tmp, "ckpt"), max_files_per_trigger=1
        )
        assign = spark.read.parquet(assign_path).select("vec_id", "cid").distinct()
        cents = centroid_table(spark, assign_path)
        full = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _emb_d().alias("e")
        ).withColumn("nrm", _norm(F.col("e")))
        return _materialized(ivf_probe(full, cents, assign))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_postings_ingest_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-index-as-data-arrives: documents replayed in 2+ micro-batches
    through the incremental posting-list ingest (``streaming/postings.py``:
    per-batch map-side postings, append-only term-sharded table), then
    SCORED with the exact same BM25 code as the batch query
    (``queries.search.bm25_rank`` — df/dl/avgdl are re-aggregations of the
    index itself). The oracle is literally the batch ``text_bm25_search``
    SQL — equality IS the statement that maintaining the inverted index
    incrementally yields the index the batch build would have."""
    from cdc_postgresql_clickhouse_spark.queries.search import bm25_rank
    from cdc_postgresql_clickhouse_spark.streaming.postings import (
        read_postings,
        run_incremental_postings,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    tmp = tempfile.mkdtemp(prefix="stream_postings_")
    try:
        src = os.path.join(tmp, "src")
        idx = os.path.join(tmp, "postings")
        docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
        docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
        run_incremental_postings(
            spark, src, idx, os.path.join(tmp, "ckpt"), max_files_per_trigger=1
        )
        return _materialized(bm25_rank(read_postings(spark, idx), n_docs))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


LATE_MOD = 13
LATE_RESIDUE = 3


def streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics as a driver row: after a sentinel
    advances the watermark past every real window (closing them), a batch of
    LATE copies of real events (event_id % LATE_MOD == LATE_RESIDUE, same
    timestamps) is appended and drained through the SAME checkpoint. The
    watermark persisted in the checkpoint is beyond those windows, so
    Structured Streaming must DROP every late row. The oracle is the batch
    aggregation over the ORIGINAL events only — if the drop failed, the late
    copies would inflate n_events/sum_value and the value-hash would
    mismatch. Complements ``streaming_tumbling_equiv`` (which proves
    streaming ≡ batch on on-time data) by proving the discard side of
    ST2/ST6 late-data handling."""
    from cdc_postgresql_clickhouse_spark.streaming.windows import tumbling_counts

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    tmp = tempfile.mkdtemp(prefix="stream_late_")
    try:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        ontime = ev.drop("event_id")
        ontime.write.parquet(src)

        def drain() -> None:
            stream = spark.readStream.schema(ontime.schema).parquet(src)
            q = (
                tumbling_counts(stream, value_col="value")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        drain()
        far = ev.select(F.max("ts")).first()[0]
        spark.createDataFrame(
            [(SENTINEL_TYPE, far, 0.0)], "event_type string, ts timestamp, value double"
        ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS")).write.mode(
            "append"
        ).parquet(src)
        drain()  # windows closed, watermark now ~30 days ahead
        late = ev.filter(F.col("event_id") % LATE_MOD == LATE_RESIDUE).drop("event_id")
        late.write.mode("append").parquet(src)
        drain()  # every late row falls behind the checkpointed watermark → dropped
        res = (
            spark.read.parquet(out)
            .filter(F.col("event_type") != SENTINEL_TYPE)
            .select(
                F.unix_timestamp("window_start").alias("bucket_start"),
                "event_type",
                F.col("n_events").cast("long").alias("n_events"),
                F.col("sum_value").alias("sum_value"),
            )
        )
        return _materialized(res)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _event_envelopes(ev: DataFrame) -> DataFrame:
    """Deterministic Debezium envelopes from the events fixture: booking_id =
    user_id, LSN/version = event_id (globally unique, monotone per key),
    ``error`` events are deletes carrying the previous row image (or their
    own, for a first-event delete — a row must always carry its key),
    created_at = the key's first event time, modified_at = the event time."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("event_id")
    wk = Window.partitionBy("user_id")
    img = F.struct(
        F.col("event_id").alias("id"),
        F.col("user_id").cast("string").alias("booking_id"),
        F.col("event_type").alias("status"),
        F.lit(False).alias("is_deleted"),
        (F.col("event_id") % 2 == 0).alias("is_canceled"),
        F.min(F.unix_micros("ts")).over(wk).alias("created_at"),
        F.unix_micros("ts").alias("modified_at"),
    )
    staged = ev.select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        img.alias("img"),
        F.lag(img).over(w).alias("prev_img"),
    )
    op = (
        F.when(F.col("event_type") == "error", F.lit("d"))
        .when(F.col("prev_img").isNull(), F.lit("c"))
        .otherwise(F.lit("u"))
    )
    return staged.select(
        F.when(op == "d", F.coalesce("prev_img", "img")).alias("before"),
        F.when(op != "d", F.col("img")).alias("after"),
        op.alias("op"),
        F.floor(F.col("ts_us") / 1000).cast("long").alias("ts_ms"),
        F.struct(
            F.lit(None).cast("string").alias("sequence"),
            F.col("event_id").alias("lsn"),
        ).alias("source"),
    )


def streaming_cdc_pipeline_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_postgresql_clickhouse_spark.operators.state import (
        current_state,
        read_state,
    )
    from cdc_postgresql_clickhouse_spark.streaming.pipeline import run_cdc_pipeline

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="stream_cdc_")
    try:
        env_dir = os.path.join(tmp, "env")
        state = os.path.join(tmp, "state")
        envelopes = _event_envelopes(ev).select(
            F.to_json(F.struct("before", "after", "op", "ts_ms", "source")).alias(
                "value"
            )
        )
        # two source files => at least two micro-batches under
        # maxFilesPerTrigger=1: the merge path runs incrementally, not as one
        # degenerate batch
        envelopes.repartition(2).write.text(env_dir)
        run_cdc_pipeline(
            spark,
            env_dir,
            state,
            os.path.join(tmp, "ckpt"),
            key_buckets=8,
            max_files_per_trigger=1,
        )
        res = current_state(read_state(spark, state))
        out = res.select(
            "booking_id",
            F.col("status").alias("last_status"),
            "is_canceled",
            F.unix_micros("created_at").alias("created_at_us"),
            F.unix_micros("modified_at").alias("modified_at_us"),
            "version",
        )
        return _materialized(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


QUERIES = {
    "streaming_incremental_dedup": streaming_incremental_dedup,
    "streaming_minhash_neardup": streaming_minhash_neardup,
    "streaming_tumbling_equiv": streaming_tumbling_equiv,
    "streaming_late_data_drop": streaming_late_data_drop,
    "streaming_session_equiv": streaming_session_equiv,
    "streaming_ivf_ingest_equiv": streaming_ivf_ingest_equiv,
    "streaming_postings_ingest_equiv": streaming_postings_ingest_equiv,
    "streaming_cdc_pipeline_equiv": streaming_cdc_pipeline_equiv,
}

ORACLE = {
    "streaming_incremental_dedup": f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {COPY_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % {COPY_MOD} = {COPY_RESIDUE}
),
h AS (SELECT doc_id, md5(text) AS content_hash FROM corpus),
k AS (SELECT content_hash, MIN(doc_id) AS keep_doc FROM h GROUP BY 1)
SELECT h.doc_id, h.content_hash, k.keep_doc
FROM h JOIN k USING (content_hash)
WHERE h.doc_id <> k.keep_doc
""",
    # the streamed LSH index must discover exactly the batch pair set: this
    # is LITERALLY the batch dedup_minhash_lsh oracle
    "streaming_minhash_neardup": f"""
WITH {_SQL_MINHASH_CTES}
{_SQL_MINHASH_SELECT}
""",
    # the reference's reconciliation check (README.md:309-329): the streamed
    # pipeline state must equal the batch arg-max over the same change set;
    # keys whose LATEST change is a delete are tombstoned out by FINAL
    "streaming_cdc_pipeline_equiv": """
WITH imgs AS (
  SELECT user_id, event_id, event_type, ts,
         MIN(epoch_us(ts)) OVER (PARTITION BY user_id) AS created_us,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
)
SELECT CAST(user_id AS VARCHAR) AS booking_id,
       event_type AS last_status,
       (event_id % 2 = 0) AS is_canceled,
       created_us AS created_at_us,
       epoch_us(ts) AS modified_at_us,
       event_id AS version
FROM imgs
WHERE rn = 1 AND event_type <> 'error'
""",
    # identical to the events_tumbling_5min oracle: the streaming path must
    # reproduce the batch bucket aggregation exactly
    "streaming_tumbling_equiv": """
SELECT CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 300) * 300 AS BIGINT) AS bucket_start,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
    # the ORIGINAL events only: the streamed input additionally contained
    # late copies of event_id % LATE_MOD == LATE_RESIDUE rows, which the
    # checkpointed watermark must drop — any leak inflates the counts and
    # fails the value-hash
    "streaming_late_data_drop": """
SELECT CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 300) * 300 AS BIGINT) AS bucket_start,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
    # batch sessionization over the second-truncated timeline; split rule
    # delta > 1800 (a delta of exactly the gap merges — verified against
    # F.session_window's behavior); duration = max - min within the session
    "streaming_session_equiv": """
WITH ev AS (
  SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events
),
flagged AS (
  SELECT user_id, event_id, es,
         CASE WHEN lag(es) OVER w IS NULL OR es - lag(es) OVER w > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
),
sess AS (
  SELECT user_id, es,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY es, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM flagged
)
SELECT user_id,
       MIN(es) AS session_start_epoch,
       MAX(es) - MIN(es) AS duration_s,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, session_idx
""",
}

# the incremental index must probe identically to the batch-built one:
# literally the batch IVF oracle
from cdc_postgresql_clickhouse_spark.queries.similarity import ORACLE as _SIM_ORACLE  # noqa: E402

ORACLE["streaming_ivf_ingest_equiv"] = _SIM_ORACLE["ann_ivf_topk"]

# the incrementally-built posting table must rank identically to the
# batch-built one: literally the batch BM25 oracle
from cdc_postgresql_clickhouse_spark.queries.search import ORACLE as _SEARCH_ORACLE  # noqa: E402

ORACLE["streaming_postings_ingest_equiv"] = _SEARCH_ORACLE["text_bm25_search"]


def streaming_hll_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cardinality sketch: ``events`` is split into 2+
    micro-batches BY USER (user_id parity, so both batches contribute
    maxima to the same registers), drained through the append-only HLL
    register ingest, max-merged at read time, and scored with the batch
    estimator. Oracle = the batch ``sketch_hll_distinct`` SQL — the
    sketch-merge property (max-of-maxes = max over the union) as a real
    streaming driver row."""
    import os
    import shutil
    import tempfile

    from cdc_postgresql_clickhouse_spark.queries.sketches import hll_report
    from cdc_postgresql_clickhouse_spark.streaming.sketch import (
        read_hll_registers,
        run_incremental_hll,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    tmp = tempfile.mkdtemp(prefix="stream_hll_")
    try:
        src = os.path.join(tmp, "src")
        ev.filter(F.col("user_id") % 2 == 0).coalesce(1).write.parquet(src)
        ev.filter(F.col("user_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
        run_incremental_hll(
            spark, src, os.path.join(tmp, "state"), os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
        regs = read_hll_registers(spark, os.path.join(tmp, "state"))
        return _materialized(hll_report(regs, ev))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


QUERIES["streaming_hll_equiv"] = streaming_hll_equiv

# the incrementally-merged registers must estimate identically to the
# batch-built sketch: literally the batch HLL oracle
from cdc_postgresql_clickhouse_spark.queries.sketches import ORACLE as _SK_ORACLE  # noqa: E402

ORACLE["streaming_hll_equiv"] = _SK_ORACLE["sketch_hll_distinct"]


def streaming_quantile_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental quantile sketch: ``events`` split into 2+ per-user
    micro-batches, each appending its own bottom-k state; the read-time
    re-rank of the union IS the batch state (bottom-k of a union of
    bottom-k's = the union's bottom-k), so the streamed sketch scores with
    the batch quantile tail and the oracle is literally the batch
    ``sketch_quantile_bottomk`` SQL."""
    import os
    import shutil
    import tempfile

    from cdc_postgresql_clickhouse_spark.queries.sketches import _sample_quantiles
    from cdc_postgresql_clickhouse_spark.streaming.sketch import (
        read_bottomk_state,
        run_incremental_bottomk,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "user_id", "value"
    )
    tmp = tempfile.mkdtemp(prefix="stream_qsk_")
    try:
        src = os.path.join(tmp, "src")
        ev.filter(F.col("user_id") % 2 == 0).coalesce(1).write.parquet(src)
        ev.filter(F.col("user_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
        run_incremental_bottomk(
            spark, src, os.path.join(tmp, "state"), os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
        st = read_bottomk_state(spark, os.path.join(tmp, "state"))
        qs = _sample_quantiles(st, ["event_type"])
        n = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        out = qs.join(n, "event_type").select(
            "event_type", "n_events", "m_sample", "p25_cents", "p50_cents", "p75_cents"
        )
        return _materialized(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


QUERIES["streaming_quantile_equiv"] = streaming_quantile_equiv
ORACLE["streaming_quantile_equiv"] = _SK_ORACLE["sketch_quantile_bottomk"]


def streaming_cms_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental frequency sketch: ``documents`` split into 2+ per-doc
    micro-batches, each appending its own CMS cell partials (batch-id
    stamped); the read-time merge dedups replays per batch then SUMS cells
    across batches — CMS's linearity means the merged counter table is
    exactly the one-shot build's, so the streamed sketch reports with the
    batch heavy-hitter code and the oracle is literally the batch
    ``sketch_cms_heavy_hitters`` SQL. Completes the sketch-merge algebra
    trilogy as driver rows: MAX (HLL), set union (bottom-k), ADDITION
    (CMS)."""
    import os
    import shutil
    import tempfile

    from cdc_postgresql_clickhouse_spark.queries.sketches import cms_report
    from cdc_postgresql_clickhouse_spark.streaming.sketch import (
        read_cms_state,
        run_incremental_cms,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="stream_cms_")
    try:
        src = os.path.join(tmp, "src")
        docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
        docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
        run_incremental_cms(
            spark, src, os.path.join(tmp, "state"), os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
        vocab, counters = read_cms_state(spark, os.path.join(tmp, "state"))
        vocab = vocab.persist()
        return _materialized(cms_report(vocab, counters))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


QUERIES["streaming_cms_equiv"] = streaming_cms_equiv
ORACLE["streaming_cms_equiv"] = _SK_ORACLE["sketch_cms_heavy_hitters"]


def streaming_topk_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental grouped top-k: ``events`` split into per-user
    micro-batches, each appending its (event_type, k, n) value-count
    partials; the read-time batch-id-deduped SUM is exactly the one-shot
    count table (counts are linear), so the streamed state ranks with the
    batch window and the oracle is literally the batch
    ``grouped_topk_event_values`` SQL — ClickHouse's continuously-maintained
    topK AggregatingMergeTree idiom as a driver row."""
    import os
    import shutil
    import tempfile

    from cdc_postgresql_clickhouse_spark.queries.funnel import topk_from_counts
    from cdc_postgresql_clickhouse_spark.streaming.sketch import (
        read_topk_counts,
        run_incremental_topk,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id", "props")
    tmp = tempfile.mkdtemp(prefix="stream_topk_")
    try:
        src = os.path.join(tmp, "src")
        ev.filter(F.col("user_id") % 2 == 0).coalesce(1).write.parquet(src)
        ev.filter(F.col("user_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
        run_incremental_topk(
            spark, src, os.path.join(tmp, "state"), os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
        counts = read_topk_counts(spark, os.path.join(tmp, "state"))
        return _materialized(topk_from_counts(counts))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


QUERIES["streaming_topk_equiv"] = streaming_topk_equiv

from cdc_postgresql_clickhouse_spark.queries.funnel import ORACLE as _FUNNEL_ORACLE  # noqa: E402

ORACLE["streaming_topk_equiv"] = _FUNNEL_ORACLE["grouped_topk_event_values"]


def streaming_scd2_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained SCD2 history: ``events`` split into
    micro-batches by EVENT parity — so every user's timeline spans batches
    and batch 2 delivers changes that land in the MIDDLE of chains built by
    batch 1 (the out-of-order splice an append-only SCD2 sink gets wrong).
    After the drain the state table must equal the batch
    ``cdc_scd2_history`` row-for-row: the oracle IS the batch SQL."""
    import os
    import shutil
    import tempfile

    from cdc_postgresql_clickhouse_spark.streaming.scd2 import (
        read_scd2,
        run_incremental_scd2,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
    )
    tmp = tempfile.mkdtemp(prefix="stream_scd2_")
    try:
        src = os.path.join(tmp, "src")
        ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src)
        ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
        run_incremental_scd2(
            spark, src, os.path.join(tmp, "state"), os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
        st = read_scd2(spark, os.path.join(tmp, "state"))
        return _materialized(
            st.select(
                "user_id", "event_id", "event_type", "value",
                "valid_from_es", "valid_to_es", "is_current",
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


QUERIES["streaming_scd2_equiv"] = streaming_scd2_equiv

from cdc_postgresql_clickhouse_spark.queries.cdc import ORACLE as _CDC_ORACLE  # noqa: E402

ORACLE["streaming_scd2_equiv"] = _CDC_ORACLE["cdc_scd2_history"]


def streaming_ewma_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained ordered fold: ``events`` split into two
    micro-batches AT THE MEDIAN TIMESTAMP (every batch-2 row strictly
    follows every batch-1 row, the ordered-arrival contract a
    time-partitioned source provides), drained through the batch-id-fenced
    fold ingest (``streaming/fold.py``), whose per-key accumulator
    continues the batch fold's exact op sequence — so after the drain the
    state equals the one-shot ``events_user_ewma`` bit-for-bit and the
    oracle IS the batch SQL. Demonstrates sink-side exactly-once (fencing)
    where the sketch rows use order-free merge algebra."""
    import os
    import shutil
    import tempfile

    from cdc_postgresql_clickhouse_spark.streaming.fold import (
        read_ewma,
        run_incremental_ewma,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.col("event_id").alias("eid"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    t_med = ev.agg(F.expr("percentile(us, 0.5)")).first()[0]
    tmp = tempfile.mkdtemp(prefix="stream_ewma_")
    try:
        src = os.path.join(tmp, "src")
        ev.filter(F.col("us") <= t_med).coalesce(1).write.parquet(src)
        ev.filter(F.col("us") > t_med).coalesce(1).write.mode("append").parquet(src)
        run_incremental_ewma(
            spark, src, os.path.join(tmp, "state"), os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
        return _materialized(read_ewma(spark, os.path.join(tmp, "state")))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


PENDING_QUERIES = {"streaming_ewma_equiv": streaming_ewma_equiv}
PENDING_ORACLE = {"streaming_ewma_equiv": _SK_ORACLE["events_user_ewma"]}


def streaming_retraction_mv_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained grouped aggregate with RETRACTIONS
    (``streaming/mv.py``): ``events`` split into micro-batches by EVENT
    parity — deliberately out of order, so batch 2 delivers changes both
    newer and older than batch 1's per-key state; stale rows must lose the
    version arg-max and produce no delta, updates must retract their old
    group's contribution, tombstones must retract without adding. After
    the drain the MV table equals the batch group-by over the
    soft-deleted current state — changelog semantics (Flink retract
    streams) as a driver row, the case the append-only windowed MVs never
    face."""
    import os
    import shutil
    import tempfile

    from cdc_postgresql_clickhouse_spark.streaming.mv import (
        read_mv,
        run_incremental_mv,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.col("event_id").alias("eid"),
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    tmp = tempfile.mkdtemp(prefix="stream_mv_")
    try:
        src = os.path.join(tmp, "src")
        ev.filter(F.col("eid") % 2 == 0).coalesce(1).write.parquet(src)
        ev.filter(F.col("eid") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
        run_incremental_mv(
            spark, src, os.path.join(tmp, "state"), os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
        return _materialized(read_mv(spark, os.path.join(tmp, "state")))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_SQL_RETRACTION_MV = """
WITH latest AS (
  SELECT user_id, event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
)
SELECT event_type AS last_event_type,
       COUNT(*)::BIGINT AS n_users,
       SUM(cents)::BIGINT AS sum_cents
FROM latest WHERE event_type <> 'error'
GROUP BY 1
"""

PENDING_QUERIES["streaming_retraction_mv_equiv"] = streaming_retraction_mv_equiv
PENDING_ORACLE["streaming_retraction_mv_equiv"] = _SQL_RETRACTION_MV


def streaming_session_capped_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capped-sessionization fold maintained incrementally
    (``streaming/fold.py::ingest_batch_sessions`` — the second instance of
    the batch-id-fenced ordered-fold sink, proving the pattern is not
    EWMA-specific): ``events`` split at the median epoch second, drained,
    and the state must equal the batch ``events_sessionize_capped`` row
    exactly; the oracle IS the batch SQL."""
    import os
    import shutil
    import tempfile

    from cdc_postgresql_clickhouse_spark.streaming.fold import (
        read_sessions,
        run_incremental_sessions,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        F.col("event_id").alias("eid"),
    )
    t_med = ev.agg(F.expr("percentile(es, 0.5)")).first()[0]
    tmp = tempfile.mkdtemp(prefix="stream_sess_")
    try:
        src = os.path.join(tmp, "src")
        ev.filter(F.col("es") <= t_med).coalesce(1).write.parquet(src)
        ev.filter(F.col("es") > t_med).coalesce(1).write.mode("append").parquet(src)
        run_incremental_sessions(
            spark, src, os.path.join(tmp, "state"), os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
        return _materialized(read_sessions(spark, os.path.join(tmp, "state")))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


from cdc_postgresql_clickhouse_spark.queries.events import (  # noqa: E402
    ORACLE_SESS_CAPPED as _SESS_CAPPED_SQL,
)

PENDING_QUERIES["streaming_session_capped_equiv"] = streaming_session_capped_equiv
PENDING_ORACLE["streaming_session_capped_equiv"] = _SESS_CAPPED_SQL


def streaming_dlq_replay_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quarantine loop CLOSED: a producer bug prefixes a fifth of the
    envelope records with garbage bytes; the pipeline quarantines them to
    the DLQ (raw bytes preserved) and lands the clean records; the fix
    strips the prefix from the quarantined bytes and REPLAYS them through
    the same pipeline into the same state table — after which the state
    must equal a never-corrupted run bit-for-bit (replay lands via the
    same version arg-max merge, so ordering between the two passes is
    irrelevant). The oracle is the full-pipeline row's SQL — this row
    proves quarantine + replay-after-fix loses NOTHING."""
    from cdc_postgresql_clickhouse_spark.operators.state import (
        current_state,
        read_state,
    )
    from cdc_postgresql_clickhouse_spark.sources.envelope import DLQ_SCHEMA
    from cdc_postgresql_clickhouse_spark.streaming.pipeline import run_cdc_pipeline

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="stream_dlqr_")
    try:
        env_dir = os.path.join(tmp, "env")
        fixed_dir = os.path.join(tmp, "env_fixed")
        state = os.path.join(tmp, "state")
        dlq = os.path.join(tmp, "dlq")
        envelopes = _event_envelopes(ev).select(
            F.col("source.lsn").alias("lsn"),
            F.to_json(F.struct("before", "after", "op", "ts_ms", "source")).alias("j"),
        )
        corrupted = envelopes.select(
            F.when(F.col("lsn") % 5 == 3, F.concat(F.lit("CORRUPT!"), F.col("j")))
            .otherwise(F.col("j")).alias("value")
        )
        corrupted.repartition(2).write.text(env_dir)
        run_cdc_pipeline(
            spark, env_dir, state, os.path.join(tmp, "ckpt1"),
            key_buckets=8, max_files_per_trigger=1, dlq_path=dlq,
        )
        # the fix: strip the garbage prefix from the quarantined raw bytes
        dead = spark.read.schema(DLQ_SCHEMA).json(dlq).select(
            F.regexp_replace("raw_value", "^CORRUPT!", "").alias("value")
        )
        dead.coalesce(1).write.text(fixed_dir)
        run_cdc_pipeline(
            spark, fixed_dir, state, os.path.join(tmp, "ckpt2"),
            key_buckets=8, max_files_per_trigger=1,
        )
        res = current_state(read_state(spark, state))
        out = res.select(
            "booking_id",
            F.col("status").alias("last_status"),
            "is_canceled",
            F.unix_micros("created_at").alias("created_at_us"),
            F.unix_micros("modified_at").alias("modified_at_us"),
            "version",
        )
        return _materialized(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


PENDING_QUERIES["streaming_dlq_replay_equiv"] = streaming_dlq_replay_equiv
PENDING_ORACLE["streaming_dlq_replay_equiv"] = ORACLE["streaming_cdc_pipeline_equiv"]


def streaming_join_mv_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained JOIN of two change streams' current states
    (``streaming/join_mv.py``): ``events`` split into side A (even
    event_ids) and side B (odd), delivered as micro-batches that
    interleave the sides AND scramble version order (batch split by
    ``eid div 2`` parity, so each batch carries old and new versions of
    both sides). A change on one side must retract and re-add the joined
    pair with the other side's unchanged row; tombstones kill the pair
    until both sides are live. After the drain the MV equals the batch
    join of the two soft-deleted current states, grouped by
    (a_type, b_type) — the bilinear changelog case the single-stream
    retraction MV cannot express."""
    from cdc_postgresql_clickhouse_spark.streaming.join_mv import (
        read_join_mv,
        run_incremental_join_mv,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.col("event_id").alias("eid"),
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    tmp = tempfile.mkdtemp(prefix="stream_jmv_")
    try:
        src = os.path.join(tmp, "src")
        half = F.expr("eid div 2") % 2
        ev.filter(half == 0).coalesce(1).write.parquet(src)
        ev.filter(half == 1).coalesce(1).write.mode("append").parquet(src)
        run_incremental_join_mv(
            spark, src, os.path.join(tmp, "state"), os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
        return _materialized(read_join_mv(spark, os.path.join(tmp, "state")))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_SQL_JOIN_MV = """
WITH a AS (
  SELECT user_id, event_type AS a_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS a_cents
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_id % 2 = 0)
  WHERE rn = 1 AND event_type <> 'error'
),
b AS (
  SELECT user_id, event_type AS b_type
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_id % 2 = 1)
  WHERE rn = 1 AND event_type <> 'error'
)
SELECT a_type, b_type, COUNT(*)::BIGINT AS n_pairs, SUM(a_cents)::BIGINT AS sum_a_cents
FROM a JOIN b USING (user_id)
GROUP BY 1, 2
"""

PENDING_QUERIES["streaming_join_mv_equiv"] = streaming_join_mv_equiv
PENDING_ORACLE["streaming_join_mv_equiv"] = _SQL_JOIN_MV


def streaming_interval_join_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NATIVE watermarked stream-stream interval join
    (``streaming/joins.py::purchase_attribution_join`` — the same function
    the batch row events_purchase_attribution gates through DuckDB) run as a
    genuine two-stream join over the fixture: purchases joined with
    same-user clicks in the preceding 60 minutes, streamed as THREE
    event-time-ordered micro-batches (month split into ~10-day chunks,
    sequential appends + maxFilesPerTrigger=1). The 2-hour watermark delay
    exceeds the 60-minute join range, so no partner row is ever evicted
    before its match arrives and the streamed pair set is exactly the batch
    one; inner stream-stream joins emit on match in append mode, so no
    sentinel flush is needed. The row reports per-purchase click context:
    pair count, tightest gap in whole seconds, and the purchase amount in
    cents."""
    from cdc_postgresql_clickhouse_spark.streaming.joins import (
        purchase_attribution_join,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    tmp = tempfile.mkdtemp(prefix="stream_ij_")
    try:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        chunk = (F.dayofmonth("ts") - 1).cast("int") / 10
        for i in range(3):
            ev.filter(F.floor(chunk) == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        stream = spark.readStream.schema(ev.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        from cdc_postgresql_clickhouse_spark.streaming.windows import _tz_aware_ts

        tz = _tz_aware_ts(stream)
        joined = purchase_attribution_join(
            tz.filter(F.col("event_type") == "click"),
            tz.filter(F.col("event_type") == "purchase"),
            lookback="60 minutes",
            watermark="2 hours",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        pairs = spark.read.parquet(out)
        res = (
            pairs.groupBy("purchase_id", "user_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_clicks_60m"),
                F.min(
                    F.unix_timestamp("purchase_ts") - F.unix_timestamp("view_ts")
                ).cast("long").alias("min_gap_s"),
                F.max(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
                ).alias("cents"),
            )
        )
        return _materialized(res)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_SQL_INTERVAL_JOIN = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT event_id AS c_id, user_id, ts AS c_ts
  FROM events WHERE event_type = 'click'
)
SELECT purchase_id, user_id,
       COUNT(*)::BIGINT AS n_clicks_60m,
       MIN(CAST(FLOOR(epoch(p_ts)) AS BIGINT)
           - CAST(FLOOR(epoch(c_ts)) AS BIGINT))::BIGINT AS min_gap_s,
       MAX(cents)::BIGINT AS cents
FROM p JOIN c USING (user_id)
WHERE c_ts <= p_ts AND c_ts >= p_ts - INTERVAL 60 MINUTE
GROUP BY 1, 2
"""

PENDING_QUERIES["streaming_interval_join_equiv"] = streaming_interval_join_equiv
PENDING_ORACLE["streaming_interval_join_equiv"] = _SQL_INTERVAL_JOIN



def streaming_dropdup_watermark_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming dedup (``dropDuplicatesWithinWatermark`` on
    event_id) ≡ batch DISTINCT: ``events`` streamed as batch 1, then exact
    copies of every event_id % 7 == 2 row re-delivered in a LATER
    micro-batch (the at-least-once redelivery shape). The 40-day watermark
    delay exceeds the fixture's whole event-time span, so no dedup state
    ever expires and every redelivery is provably suppressed — the
    documented contract: the delay IS the dedup window, size it past the
    maximum redelivery disorder. Output: per-type count + cents sum over
    the deduped stream; oracle = the same aggregate over plain ``events``
    (exact copies add nothing)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    tmp = tempfile.mkdtemp(prefix="stream_ddw_")
    try:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        ev.coalesce(1).write.parquet(src)
        ev.filter(F.col("event_id") % 7 == 2).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        from cdc_postgresql_clickhouse_spark.streaming.windows import _tz_aware_ts

        deduped = (
            _tz_aware_ts(stream)
            .withWatermark("ts", "40 days")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        res = (
            spark.read.parquet(out)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
                ).cast("long").alias("sum_cents"),
            )
        )
        return _materialized(res)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_SQL_DROPDUP = """
SELECT event_type,
       COUNT(*)::BIGINT AS n_events,
       SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))::BIGINT AS sum_cents
FROM events
GROUP BY event_type
"""

PENDING_QUERIES["streaming_dropdup_watermark_equiv"] = streaming_dropdup_watermark_equiv
PENDING_ORACLE["streaming_dropdup_watermark_equiv"] = _SQL_DROPDUP


def streaming_state_store_dedup_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``applyInPandasWithState`` keyed max-version dedup
    (``streaming/windows.py``, the state-store alternative to the
    table-merge pipeline) ≡ batch last-writer-wins: events delivered as TWO
    micro-batches split by event_id parity — version order deliberately
    scrambled across batches — and the emitted stream reduced to each key's
    final arg-max row. WHICH intermediate rows are emitted depends on the
    batch split (each batch emits only rows advancing its key's running
    max), but the final arg-max is split-invariant: the global max version
    always advances the max when it arrives, so it is always emitted. Oracle
    = the batch per-user max event_id with its type."""
    from cdc_postgresql_clickhouse_spark.streaming.windows import (
        stateful_max_version_dedup,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type"
    )
    tmp = tempfile.mkdtemp(prefix="stream_ssd_")
    try:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src)
        ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stateful_max_version_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        res = (
            spark.read.parquet(out)
            .groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("version", "event_type"), F.col("version")
                ).alias("__m")
            )
            .select(
                "user_id",
                F.col("__m.version").cast("long").alias("version"),
                F.col("__m.event_type").alias("event_type"),
            )
        )
        return _materialized(res)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_SQL_STATE_STORE_DEDUP = """
SELECT user_id, event_id::BIGINT AS version, event_type
FROM (
  SELECT user_id, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""

PENDING_QUERIES["streaming_state_store_dedup_equiv"] = streaming_state_store_dedup_equiv
PENDING_ORACLE["streaming_state_store_dedup_equiv"] = _SQL_STATE_STORE_DEDUP


def streaming_sliding_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming SLIDING windows (10-min window / 5-min slide,
    overlapping — each event feeds two frames) ≡ the batch two-bucket
    expansion of events_sliding_10min. Append mode + the far-future
    sentinel flush, per the tumbling twin; the stream groups by
    (window, type) so the sentinel's windows are filterable, then the
    read-back re-aggregates to bucket grain — the DECIMAL(18,2) partial
    sums re-add exactly (integer cents under the hood), so the double cast
    happens once at the end, same as the batch twin."""
    from cdc_postgresql_clickhouse_spark.streaming.windows import sliding_counts

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    tmp = tempfile.mkdtemp(prefix="stream_slide_")
    try:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        ev.write.parquet(src)

        def drain() -> None:
            q = (
                sliding_counts(
                    spark.readStream.schema(ev.schema).parquet(src)
                )
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        drain()
        far = ev.select(F.max("ts")).first()[0]
        spark.createDataFrame(
            [(SENTINEL_TYPE, far, 0.0)], "event_type string, ts timestamp, value double"
        ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS")).write.mode(
            "append"
        ).parquet(src)
        drain()
        res = (
            spark.read.parquet(out)
            .filter(F.col("event_type") != SENTINEL_TYPE)
            .groupBy(F.unix_timestamp("window_start").alias("bucket_start"))
            .agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("sum_dec").cast("double").alias("sum_value"),
            )
        )
        return _materialized(res)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_SQL_SLIDING_EQ = """
WITH b AS (SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS es, value FROM events),
expanded AS (
  SELECT (es // 300) * 300 AS s, value FROM b
  UNION ALL
  SELECT (es // 300) * 300 - 300 AS s, value FROM b
)
SELECT CAST(s AS BIGINT) AS bucket_start, COUNT(*)::BIGINT AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM expanded GROUP BY 1
"""

PENDING_QUERIES["streaming_sliding_equiv"] = streaming_sliding_equiv
PENDING_ORACLE["streaming_sliding_equiv"] = _SQL_SLIDING_EQ


# --- Round-7 registration wave 1 ------------------------------------------
# Flip these pending rows into the driver contract: the r6 green rows freed
# window slots (rotation policy in COVERAGE.md; order in
# queries/__init__._WINDOW_FRONT). The functions above are unchanged — the
# flip only moves the (query, oracle) pair between registries.
_REGISTER_WAVE1 = (
    "streaming_ewma_equiv",
    "streaming_retraction_mv_equiv",
    "streaming_session_capped_equiv",
)
for _n in _REGISTER_WAVE1:
    QUERIES[_n] = PENDING_QUERIES.pop(_n)
    ORACLE[_n] = PENDING_ORACLE.pop(_n)
del _n


# --- streaming OHLC equivalence — PENDING round 8+ ----------------------------


def streaming_ohlc_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained minute OHLC bars: ``events`` split into 2+
    micro-batches BY USER (so both batches write partial bars for the same
    minutes with interleaved order keys), drained through the partial-bar
    ingest, merged at read time with the arg-min/arg-max algebra. Oracle =
    the batch ``events_ohlc_bars`` SQL — the AggregatingMergeTree merge
    property (partial bars combine exactly) as a real streaming driver row."""
    import os
    import shutil
    import tempfile

    from cdc_postgresql_clickhouse_spark.streaming.sketch import (
        read_ohlc_bars,
        run_incremental_ohlc,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.col("event_id").alias("eid"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
        "user_id",
    )
    tmp = tempfile.mkdtemp(prefix="stream_ohlc_")
    try:
        src = os.path.join(tmp, "src")
        ev.filter(F.col("user_id") % 2 == 0).drop("user_id").coalesce(1).write.parquet(src)
        ev.filter(F.col("user_id") % 2 == 1).drop("user_id").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run_incremental_ohlc(
            spark, src, os.path.join(tmp, "state"), os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
        return _materialized(read_ohlc_bars(spark, os.path.join(tmp, "state")))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# the merged bars must equal the batch operator exactly: literally the batch
# OHLC oracle (referenced as the module constant so a future registration
# flip of events_ohlc_bars cannot orphan this lookup)
from cdc_postgresql_clickhouse_spark.queries.events import _SQL_OHLC  # noqa: E402

PENDING_QUERIES["streaming_ohlc_equiv"] = streaming_ohlc_equiv
PENDING_ORACLE["streaming_ohlc_equiv"] = _SQL_OHLC


# --- streaming Kaplan-Meier equivalence — PENDING round 8+ ---------------------


def streaming_km_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The survival curve maintained incrementally: ``events`` split into
    2+ micro-batches BY TIME (so a user's censoring status genuinely
    changes between batches — converted-later users are the hard case),
    drained through the per-user min/min/max ingest, merged at read time,
    scored with the batch estimator. Oracle = the batch KM SQL."""
    import os
    import shutil
    import tempfile

    from cdc_postgresql_clickhouse_spark.queries.events import km_estimator
    from cdc_postgresql_clickhouse_spark.streaming.sketch import (
        read_km_per_user,
        run_incremental_km,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").cast("long").alias("day"),
        "event_type",
    )
    mid = ev.agg(F.expr("percentile(day, 0.5)")).first()[0]
    tmp = tempfile.mkdtemp(prefix="stream_km_")
    try:
        src = os.path.join(tmp, "src")
        ev.filter(F.col("day") <= mid).coalesce(1).write.parquet(src)
        ev.filter(F.col("day") > mid).coalesce(1).write.mode("append").parquet(src)
        run_incremental_km(
            spark, src, os.path.join(tmp, "state"), os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
        merged = read_km_per_user(spark, os.path.join(tmp, "state"))
        return _materialized(km_estimator(merged))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


from cdc_postgresql_clickhouse_spark.queries.events import _SQL_KM  # noqa: E402

PENDING_QUERIES["streaming_km_equiv"] = streaming_km_equiv
PENDING_ORACLE["streaming_km_equiv"] = _SQL_KM


# --- Round-8 registration: the whole pending layer flips in ----------------
# VERDICT r7 #1: the driver's 50-row window gates which rows get CHECKED per
# round, not how many may be REGISTERED — holding locally hash-verified
# operators out of the contract understates coverage and risks rows never
# receiving a driver row. Window order lives in queries/__init__.
flip_pending(PENDING_QUERIES, PENDING_ORACLE, QUERIES, ORACLE)


# --- stream-stream LEFT-OUTER interval join -----------------------------------
#
# The outer half of the attribution join: purchases WITHOUT a same-user
# click in the lookback window must still emit (NULL view columns) — but
# only once the watermark proves no match can arrive. The state-eviction
# mechanics are what the equivalence row exercises: unmatched rows appear
# in a micro-batch AFTER the one that advanced the watermark past them, so
# the drain appends a far-future sentinel pair (advances both sides'
# watermarks) plus one further sentinel batch (applies it). Sentinels use
# negative user_ids and are filtered from the result; the sentinel
# purchase itself can never emit (nothing outruns its own watermark),
# which is exactly why it is filtered by id rather than waited for.


def streaming_interval_left_join_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT-OUTER interval join ≡ the batch left
    join: purchases joined to same-user clicks in the preceding 60 minutes,
    streamed as three event-time-ordered chunks + two sentinel batches.
    The 2-hour watermark delay exceeds the 60-minute range, so no partner
    evicts early (matched pairs exact) and the sentinels push the final
    watermark past every real purchase (unmatched set exact). One summary
    row: purchase counts split matched/unmatched + pair count + unmatched
    cents."""
    from cdc_postgresql_clickhouse_spark.streaming.joins import (
        purchase_attribution_left_join,
    )
    from cdc_postgresql_clickhouse_spark.streaming.windows import _tz_aware_ts

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    tmp = tempfile.mkdtemp(prefix="stream_ilj_")
    try:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        chunk = (F.dayofmonth("ts") - 1).cast("int") / 10
        for i in range(3):
            ev.filter(F.floor(chunk) == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        max_ts = ev.agg(F.max("ts")).first()[0]
        for j, days in enumerate((30, 31)):
            sentinel = spark.createDataFrame(
                [
                    (-1 - 2 * j, max_ts, int(-1 - 2 * j), "click", 0.0),
                    (-2 - 2 * j, max_ts, int(-2 - 2 * j), "purchase", 0.0),
                ],
                ev.schema,
            ).select(
                "user_id",
                (F.col("ts") + F.expr(f"INTERVAL {days} DAYS")).alias("ts"),
                "event_id", "event_type", "value",
            )
            sentinel.coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(ev.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        tz = _tz_aware_ts(stream)
        joined = purchase_attribution_left_join(
            tz.filter(F.col("event_type") == "click"),
            tz.filter(F.col("event_type") == "purchase"),
            lookback="60 minutes",
            watermark="2 hours",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        pairs = spark.read.parquet(out).filter(F.col("user_id") >= 0)
        per_p = pairs.groupBy("purchase_id").agg(
            F.count("view_id").cast("long").alias("n_views"),
            F.max(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "cents"
            ),
        )
        res = per_p.agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(F.when(F.col("n_views") > 0, 1).otherwise(0))
            .cast("long").alias("n_matched_purchases"),
            F.sum(F.when(F.col("n_views") == 0, 1).otherwise(0))
            .cast("long").alias("n_unmatched_purchases"),
            F.sum("n_views").cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("n_views") == 0, F.col("cents")).otherwise(0))
            .cast("long").alias("unmatched_cents"),
        )
        return _materialized(res)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_SQL_INTERVAL_LEFT_JOIN = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT event_id AS c_id, user_id, ts AS c_ts
  FROM events WHERE event_type = 'click'
),
per_p AS (
  SELECT p.purchase_id,
         COUNT(c.c_id)::BIGINT AS n_views,
         MAX(p.cents) AS cents
  FROM p LEFT JOIN c
    ON p.user_id = c.user_id
   AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 60 MINUTE
  GROUP BY 1
)
SELECT COUNT(*)::BIGINT AS n_purchases,
       SUM(CASE WHEN n_views > 0 THEN 1 ELSE 0 END)::BIGINT
         AS n_matched_purchases,
       SUM(CASE WHEN n_views = 0 THEN 1 ELSE 0 END)::BIGINT
         AS n_unmatched_purchases,
       SUM(n_views)::BIGINT AS n_pairs,
       SUM(CASE WHEN n_views = 0 THEN cents ELSE 0 END)::BIGINT
         AS unmatched_cents
FROM per_p
"""

QUERIES["streaming_interval_left_join_equiv"] = streaming_interval_left_join_equiv
ORACLE["streaming_interval_left_join_equiv"] = _SQL_INTERVAL_LEFT_JOIN


# --- streaming compaction-debt equivalence ------------------------------------


def streaming_compaction_debt_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r9 per-bucket merge-debt report maintained INCREMENTALLY:
    ``events`` split into 2+ micro-batches BY TIME (the hard case — a key's
    tombstone status genuinely flips between batches when its last event
    crosses the cut), drained through the order-free partial ingest
    (counts add, last-event merges as a struct max), merged at read time
    through the SAME ``debt_rollup`` the batch operator uses. Oracle = the
    batch ``cdc_compaction_debt_report`` SQL."""
    import os
    import shutil
    import tempfile

    from cdc_postgresql_clickhouse_spark.streaming.sketch import (
        read_compaction_debt,
        run_incremental_debt,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        F.col("event_id").alias("eid"),
        "event_type",
    )
    mid = ev.agg(F.expr("percentile(es, 0.5)")).first()[0]
    tmp = tempfile.mkdtemp(prefix="stream_debt_")
    try:
        src = os.path.join(tmp, "src")
        ev.filter(F.col("es") <= mid).coalesce(1).write.parquet(src)
        ev.filter(F.col("es") > mid).coalesce(1).write.mode("append").parquet(src)
        run_incremental_debt(
            spark, src, os.path.join(tmp, "state"), os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
        return _materialized(read_compaction_debt(spark, os.path.join(tmp, "state")))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(f"{os.path.join(tmp, 'state')}.lock", ignore_errors=True)


# the merged state must equal the batch report exactly — literally the batch
# compaction-debt oracle
from cdc_postgresql_clickhouse_spark.queries.cdc import _SQL_COMPACTION_DEBT  # noqa: E402

QUERIES["streaming_compaction_debt_equiv"] = streaming_compaction_debt_equiv
ORACLE["streaming_compaction_debt_equiv"] = _SQL_COMPACTION_DEBT


def streaming_retention_cohort_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained cohort retention: ``events`` split into 2+
    micro-batches BY USER parity (both batches contribute weeks to the same
    users), drained through the append-only (user, week) activity ingest,
    distinct-merged at read time, and folded through the BATCH matrix tail.
    Oracle = the batch ``events_retention_cohort_matrix`` SQL — set-union
    mergeability (distinct of a union of per-batch distincts = distinct of
    the union) as a driver row, the exact-count sibling of the HLL and
    bottom-k sketch equivs."""
    import os
    import shutil
    import tempfile

    from cdc_postgresql_clickhouse_spark.queries.events import (
        cohort_matrix_from_activity,
    )
    from cdc_postgresql_clickhouse_spark.streaming.sketch import (
        read_activity_state,
        run_incremental_activity,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    tmp = tempfile.mkdtemp(prefix="stream_cohort_")
    try:
        src = os.path.join(tmp, "src")
        ev.filter(F.col("user_id") % 2 == 0).coalesce(1).write.parquet(src)
        ev.filter(F.col("user_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
        run_incremental_activity(
            spark, src, os.path.join(tmp, "state"), os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
        active = read_activity_state(spark, os.path.join(tmp, "state"))
        return _materialized(cohort_matrix_from_activity(active))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


QUERIES["streaming_retention_cohort_equiv"] = streaming_retention_cohort_equiv

# the incrementally-merged activity set must produce the batch matrix:
# literally the batch cohort oracle
from cdc_postgresql_clickhouse_spark.queries.events import ORACLE as _EV_ORACLE  # noqa: E402

ORACLE["streaming_retention_cohort_equiv"] = _EV_ORACLE["events_retention_cohort_matrix"]


def streaming_cusum_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained CUSUM monitor (``streaming/fold.py``'s
    third fold instance): ``events`` split into two micro-batches at the
    median second (ordered-arrival contract — ties stay in batch 1, so
    every batch-2 row strictly follows in the batch query's (es, eid)
    order), drained through the per-bucket-fenced CUSUM fold continuing
    from stored (p, minp, n_alarms, max_s) state. Baseline target and
    threshold h are the batch prelude's integer calibration (a deployed
    monitor's trained baseline). After the drain the state maps
    bit-for-bit to ``events_cusum_changepoint``'s report — the oracle IS
    the batch SQL: the drawdown-identity windows and the stateful
    recurrence are the same function, evaluated lazily vs incrementally."""
    from cdc_postgresql_clickhouse_spark.streaming.fold import (
        read_cusum,
        run_incremental_cusum,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("k"),
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        F.col("event_id").alias("eid"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    s1 = ev.groupBy("k").agg(
        F.sum("c").alias("sc"), F.count(F.lit(1)).cast("long").alias("n")
    ).select("k", "n", F.expr("sc div n").cast("long").alias("target"))
    d = ev.join(F.broadcast(s1), "k")
    s2 = d.groupBy("k").agg(
        F.sum(F.abs(F.col("c") - F.col("target"))).alias("sad"),
        F.max("n").alias("n2"),
        F.max("target").alias("target"),
    ).select("k", "target", (F.expr("sad div n2") * 3).cast("long").alias("h"))
    calib = {r["k"]: (r["target"], r["h"]) for r in s2.collect()}
    t_med = ev.agg(F.expr("percentile(es, 0.5)")).first()[0]
    tmp = tempfile.mkdtemp(prefix="stream_cusum_")
    try:
        src = os.path.join(tmp, "src")
        ev.filter(F.col("es") <= t_med).coalesce(1).write.parquet(src)
        ev.filter(F.col("es") > t_med).coalesce(1).write.mode("append").parquet(src)
        run_incremental_cusum(
            spark, src, os.path.join(tmp, "state"), os.path.join(tmp, "ckpt"),
            calib, max_files_per_trigger=1,
        )
        return _materialized(read_cusum(spark, os.path.join(tmp, "state")))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


QUERIES["streaming_cusum_equiv"] = streaming_cusum_equiv

# the maintained recurrence must reproduce the batch drawdown-identity
# report: literally the batch CUSUM oracle
from cdc_postgresql_clickhouse_spark.queries.sketches import ORACLE as _SKETCH_ORACLE  # noqa: E402

ORACLE["streaming_cusum_equiv"] = _SKETCH_ORACLE["events_cusum_changepoint"]


def streaming_srm_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained SRM monitor (``streaming/fold.py``'s fourth
    fold instance — the per-user first-seen MIN fold): ``events`` split
    into two micro-batches at the median micro-timestamp (ties stay in
    batch 1), drained through the bucket-fenced first-seen ingest, then
    the entry-week arm counts and the exact integer chi-square are derived
    from the maintained registry. The min-merge absorbs replay and late
    data by algebra; the n_events count rides the per-bucket batch-id
    fence. The oracle IS ``events_srm_check``'s batch SQL: the registry's
    first_us preserves full microsecond precision, so date_trunc('week')
    of the maintained minimum equals the batch query's week of min(ts)."""
    from cdc_postgresql_clickhouse_spark.streaming.fold import (
        read_first_seen,
        run_incremental_first_seen,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("us")
    )
    t_med = ev.agg(F.expr("percentile(us, 0.5)")).first()[0]
    tmp = tempfile.mkdtemp(prefix="stream_srm_")
    try:
        src = os.path.join(tmp, "src")
        ev.filter(F.col("us") <= t_med).coalesce(1).write.parquet(src)
        ev.filter(F.col("us") > t_med).coalesce(1).write.mode("append").parquet(src)
        run_incremental_first_seen(
            spark, src, os.path.join(tmp, "state"), os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
        st = read_first_seen(spark, os.path.join(tmp, "state"))
        arm = (
            F.instr(
                F.lit("0123456789abcdef"),
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1),
            )
            - F.lit(1)
        ) % 2
        weekly = (
            st.select(
                F.date_trunc("week", F.timestamp_micros(F.col("first_us")))
                .alias("week_start"),
                arm.alias("arm"),
            )
            .groupBy("week_start")
            .agg(
                F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long")
                .alias("n_arm_a"),
                F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long")
                .alias("n_arm_b"),
            )
        )
        chi2 = F.expr(
            "(n_arm_a - n_arm_b) * (n_arm_a - n_arm_b) * 1000000"
            " div (n_arm_a + n_arm_b)"
        ).cast("long")
        return _materialized(
            weekly.select(
                "week_start", "n_arm_a", "n_arm_b",
                chi2.alias("chi2_micro"),
                (chi2 > 3841459).cast("int").alias("srm_flag"),
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


QUERIES["streaming_srm_equiv"] = streaming_srm_equiv

# the maintained first-seen registry must reproduce the batch entry-week
# report: literally the batch SRM oracle
from cdc_postgresql_clickhouse_spark.queries.events import ORACLE as _EVENTS_ORACLE_SRM  # noqa: E402

ORACLE["streaming_srm_equiv"] = _EVENTS_ORACLE_SRM["events_srm_check"]


def streaming_pq_ingest_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-code-table-as-data-arrives: embeddings replayed in 2+ micro-batches
    through the incremental PQ ingest (``streaming/ann.py``: codebook model
    extracted from batch 1 under the first-PQ_K seed contract, per-batch
    map-side encode, append-only code table, at-least-once replay absorbed
    by ``distinct()``), then SCORED with the exact same decode-and-rank code
    as the batch query (``similarity.pq_rank``). The oracle is literally the
    batch ``ann_pq_topk`` SQL — equality IS the statement that maintaining
    the code table incrementally yields the index the batch build would
    have."""
    from cdc_postgresql_clickhouse_spark.queries.similarity import (
        PQ_K,
        _emb_d,
        _pq_cb_lit,
        pq_rank,
    )
    from cdc_postgresql_clickhouse_spark.streaming.ann import (
        pq_codebook_table,
        run_incremental_pq,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tmp = tempfile.mkdtemp(prefix="stream_pq_")
    try:
        src = os.path.join(tmp, "src")
        code_path = os.path.join(tmp, "codes")
        # batch 1 carries the seed codewords (vec_id < PQ_K) by construction;
        # batch 2 delivers the rest — the code table accretes across batches
        b1 = emb.filter((F.col("vec_id") < PQ_K) | (F.col("vec_id") % 2 == 0))
        b2 = emb.filter((F.col("vec_id") >= PQ_K) & (F.col("vec_id") % 2 == 1))
        b1.coalesce(1).write.parquet(src)
        b1_files = [os.path.join(src, f) for f in os.listdir(src)]
        b2.coalesce(1).write.mode("append").parquet(src)
        _backdate_batch(b1_files)
        run_incremental_pq(
            spark, src, code_path, os.path.join(tmp, "ckpt"), max_files_per_trigger=1
        )
        codes = spark.read.parquet(code_path).select("vec_id", "codes").distinct()
        cb_lit = _pq_cb_lit(pq_codebook_table(spark, code_path))
        full = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _emb_d().alias("e")
        )
        return _materialized(pq_rank(full, codes, cb_lit))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


QUERIES["streaming_pq_ingest_equiv"] = streaming_pq_ingest_equiv
ORACLE["streaming_pq_ingest_equiv"] = _SIM_ORACLE["ann_pq_topk"]


def streaming_semdedup_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup-state-as-data-arrives: the SemDeDup corpus (embeddings
    plus the derived affine near-dup copies) replayed in 2+ micro-batches
    through the incremental SemDeDup ingest (``streaming/ann.py``:
    quantizer model extracted from batch 1 under the first-N_CENTROIDS
    seed contract, per-batch broadcast assignment, append-only members
    table and pair log, at-least-once replay absorbed by ``distinct()``),
    then rolled up with the exact same keep-rule report as the batch
    query. The oracle is literally the batch ``semantic_dedup_semdedup``
    SQL — equality IS the statement that maintaining the members/pairs
    state incrementally yields the removal report the batch pair search
    would have produced."""
    from cdc_postgresql_clickhouse_spark.queries.similarity import (
        DERIVED_OFFSET,
        N_CENTROIDS,
        NEARDUP_IDS,
        SEMDEDUP_TAU,
        _emb_d,
    )
    from cdc_postgresql_clickhouse_spark.streaming.ann import (
        read_semdedup_state,
        run_incremental_semdedup,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", _emb_d().alias("e"))
    derived = emb.filter(F.col("vec_id") < NEARDUP_IDS).select(
        (F.col("vec_id") + DERIVED_OFFSET).alias("vec_id"),
        F.transform(F.col("e"), lambda x: x * 0.9 + 0.01).alias("e"),
    )
    corpus = emb.unionByName(derived)
    tmp = tempfile.mkdtemp(prefix="stream_semdedup_")
    try:
        src = os.path.join(tmp, "src")
        state = os.path.join(tmp, "state")
        # batch 1 carries the seed centroids (vec_id < N_CENTROIDS) by
        # construction; batch 2 delivers the rest — members and pairs
        # accrete across batches (derived ids keep their source's parity)
        b1 = corpus.filter(
            (F.col("vec_id") < N_CENTROIDS) | (F.col("vec_id") % 2 == 0)
        )
        b2 = corpus.filter(
            (F.col("vec_id") >= N_CENTROIDS) & (F.col("vec_id") % 2 == 1)
        )
        b1.coalesce(1).write.parquet(src)
        b1_files = [os.path.join(src, f) for f in os.listdir(src)]
        b2.coalesce(1).write.mode("append").parquet(src)
        _backdate_batch(b1_files)
        run_incremental_semdedup(spark, src, state, os.path.join(tmp, "ckpt"))
        members, pairs0 = read_semdedup_state(spark, state)
        pairs = pairs0.filter(F.col("cos_sim") >= SEMDEDUP_TAU)
        removed = pairs.select(
            "cid",
            F.when(F.col("ca") > F.col("cb"), F.col("va")).otherwise(F.col("vb")).alias("loser"),
        ).distinct()
        pm = members.groupBy("cid").agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        pp = pairs.groupBy("cid").agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        pr = removed.groupBy("cid").agg(F.count(F.lit(1)).cast("long").alias("n_removed"))
        return _materialized(
            pm.join(pp, "cid", "left")
            .join(pr, "cid", "left")
            .select(
                "cid", "n_members",
                F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
                F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
                (F.col("n_members") - F.coalesce(F.col("n_removed"), F.lit(0)))
                .cast("long").alias("n_kept"),
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


QUERIES["streaming_semdedup_equiv"] = streaming_semdedup_equiv
ORACLE["streaming_semdedup_equiv"] = _SIM_ORACLE["semantic_dedup_semdedup"]
