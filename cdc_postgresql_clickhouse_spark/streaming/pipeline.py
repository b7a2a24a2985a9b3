"""Structured Streaming CDC pipeline — the whole reference dataflow, one engine.

Reference flow (``README.md:65``): PostgreSQL → Debezium (Kafka Connect) →
Kafka → ClickHouse sink → ``bookings_changes`` → materialized view →
``bookings``. Five process boundaries collapse into one incremental Catalyst
plan (survey §3.1):

  readStream(envelopes) → changes_to_state_updates → foreachBatch(upsert_changes_bucketed)

- Source: file stream of JSON envelopes here; swap ``format("kafka")`` +
  ``decode_json_envelopes`` for a live Debezium topic — the transform is the
  same DataFrame function either way (S1/S11).
- Trigger: 500 ms micro-batches mirror ``poll.interval.ms=500``
  (``debezium_configuration.json:11``, S4); tests use ``availableNow``.
- Sink: ``foreachBatch`` persists the batch, so its files are read and
  decoded once, then appends the dead letters (``is_dead_letter``) to the
  DLQ on a second thread while it upserts the rest with
  ``operators.state.upsert_changes_bucketed`` (S9): one shuffle by bucket
  serves the arg-max merge and the publish, whose write uses every task
  slot. Both sinks finish, and the batch is unpersisted, before the batch
  returns. Checkpointing makes the file/Kafka source
  exactly-once into the sink; the version arg-max additionally makes any
  replay a no-op (S10) — strictly stronger than the reference's
  at-least-once.
- Commit: each batch publishes its touched key-hash buckets through the
  journaled bucket swap of ``operators.state.write_state`` — every bucket
  is wholly old or wholly new, as a ReplacingMergeTree part swap is. A
  crash at any step leaves the committed state recoverable (a torn swap is
  rolled forward by the next ``read_state``), and the replayed batch merges
  into it idempotently. The commit also records that the table holds one
  row per key, so ``current_state(read_state(state_path))`` — the
  ``FINAL`` read — runs no arg-max.
- Stateless incremental view maintenance (ST1): the transform has no
  aggregation, so Spark keeps **no** streaming state; per-key state lives in
  the state table itself (ST3), the 100 TB posture.

Read-after-write caveat: dirty bucket directories of the state path are
replaced per batch, so a *lazy* DataFrame previously read from it becomes
invalid once a new batch touches the same buckets — re-read the path after
updates. On Delta the swap is replaced by ACID ``MERGE INTO`` and snapshot
isolation removes the caveat; this mirrors ClickHouse where un-FINAL reads
race background merges.
"""

from __future__ import annotations

from pyspark import InheritableThread
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cdc_postgresql_clickhouse_spark.operators.cdc_transform import changes_to_state_updates
from cdc_postgresql_clickhouse_spark.operators.state import (
    DEFAULT_KEY_BUCKETS,
    upsert_changes_bucketed,
)
from cdc_postgresql_clickhouse_spark.sources.envelope import (
    CORRUPT_RECORD_COL,
    DLQ_REASON,
    ENVELOPE_SCHEMA,
    is_dead_letter,
    with_corrupt_record,
)


def run_cdc_pipeline(
    spark: SparkSession,
    envelope_dir: str,
    state_path: str,
    checkpoint_dir: str,
    trigger_processing_time: str | None = None,
    available_now: bool = True,
    dlq_path: str | None = None,
    key_buckets: int = DEFAULT_KEY_BUCKETS,
    max_files_per_trigger: int | None = None,
    envelope_schema=None,
    extra_image_columns: tuple[str, ...] = (),
) -> StreamingQuery:
    """Run the end-to-end CDC pipeline over a directory of envelope JSON files.

    ``available_now=True`` drains everything and stops (test/backfill mode);
    otherwise a continuous 500 ms-triggered query is started and the caller
    owns its lifecycle. Either way the ``StreamingQuery`` is returned, so
    the caller can read its progress, ``processAllAvailable()`` or
    ``stop()`` it.

    ``dlq_path``: when set, dead letters (``sources.envelope.is_dead_letter``:
    a corrupt record, even one whose op was salvaged, or a missing or
    unknown op) are appended there with the whole-record JSON preserved for
    replay-after-fix, instead of being silently dropped — a
    poisoned message must never stall or silently thin the stream. The split
    happens inside the SAME micro-batch as the upsert (one source query, no
    second stream or checkpoint, every trigger — continuous mode included).
    The batch is persisted before either sink reads it, so each event is
    read and decoded once, and unpersisted when the batch ends. The DLQ
    append runs on its own thread while the upsert runs; the batch waits
    for both, and fails with the upsert's error if the upsert failed, else
    with the DLQ's. DLQ appends are at-least-once under batch retry (a
    failed batch may have appended already), which is safe for a
    quarantine log.

    ``key_buckets``: the state table is laid out as key-hash bucket
    partitions and each micro-batch rewrites ONLY the buckets containing
    that batch's keys — per-batch work is O(touched buckets + batch), not
    O(state). The rewritten buckets are published with the crash-atomic
    journaled bucket swap (``operators.state.write_state``). Size it so a
    bucket ~ an executor-comfortable rewrite unit (at 100 TB state:
    thousands of buckets). The table records its count, and a batch
    published in another count raises ``ValueError``: rebucket the table
    with ``operators.state.compact_state(key_buckets=…)`` first. On Delta
    the bucket machinery is replaced by ``MERGE INTO`` (ACID, no swap
    needed).

    ``envelope_schema`` / ``extra_image_columns``: T4 schema evolution. A
    streaming source's schema is fixed at query start (as is Debezium's
    consumer view until it reads the DDL event), so a widening is applied
    by RESTARTING the pipeline with the schema re-derived from the
    schema-change history (``sources.schema_changes.envelope_schema_for``)
    and the new columns listed in ``extra_image_columns``; the bucketed
    state widens on merge (allowMissingColumns, and the commit's schema
    record gains the new column — ``operators.state.write_state``), pre-ALTER
    rows reading NULL — ClickHouse ``ADD COLUMN`` semantics.
    """
    reader = spark.readStream.schema(with_corrupt_record(envelope_schema or ENVELOPE_SCHEMA))
    if max_files_per_trigger:
        # bounds per-batch work (and lets tests drive one file per batch);
        # availableNow still drains the whole backlog, batch by batch
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(envelope_dir)

    # Built once per query; each batch only applies them.
    is_dead = is_dead_letter()
    is_valid = ~is_dead
    dead_letter = [
        F.coalesce(F.col(CORRUPT_RECORD_COL), F.to_json(F.struct("*"))).alias("raw_value"),
        F.lit(DLQ_REASON).alias("dlq_reason"),
    ]

    def append_dead_letters(batch_df, failed: list) -> None:
        try:
            batch_df.filter(is_dead).select(*dead_letter).write.mode("append").json(dlq_path)
        except Exception as e:
            failed.append(e)

    def upsert_batch(batch_df, batch_id: int) -> None:
        # The batch feeds two sinks: dead letters append to the DLQ while
        # valid envelopes merge into the bucketed state table. The batch is
        # persisted first, so its files are read and decoded once, whichever
        # job reaches it first; the other jobs read the cached rows.
        batch_df.persist()
        dlq, failed = None, []
        try:
            if dlq_path:
                dlq = InheritableThread(target=append_dead_letters, args=(batch_df, failed))
                dlq.start()
            valid = batch_df.filter(is_valid).drop(CORRUPT_RECORD_COL)
            updates = changes_to_state_updates(valid, extra_image_columns=extra_image_columns)
            upsert_changes_bucketed(spark, updates, state_path, key_buckets=key_buckets)
        finally:
            # no job of this batch outlives it, and the cache goes with it
            if dlq is not None:
                dlq.join()
            batch_df.unpersist()
        if failed:
            raise failed[0]

    writer = raw.writeStream.foreachBatch(upsert_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime=trigger_processing_time or "500 milliseconds").start()
