"""Streaming SCD2 maintenance: the type-2 slowly-changing-dimension table
kept current AS CHANGES ARRIVE — the warehouse-history composition of the
CDC surface (the batch form is ``queries/cdc.py::cdc_scd2_history``; the
reference keeps every version for exactly this, clickhouse_schemas.sql:50-56).

Design (state-in-the-table, the ST3 posture shared with the dirty-bucket
upsert and ``streaming/dedup.py``):

- the state IS the SCD2 table: one row per change with
  [valid_from_es, valid_to_es) and the open (is_current) row per key,
  laid out in ``__bucket = pmod(xxhash64(user_id), N)`` partition dirs.
- per micro-batch: read ONLY the buckets containing batch keys (partition
  pruning), reconstruct those keys' raw change rows from their interval
  rows (valid_from_es carries the original es — the intervals are a
  lossless re-encoding), union the batch, DISTINCT for at-least-once
  replay tolerance (a replayed change row is identical in every column),
  recompute the per-key interval chain with one lead() window, and
  publish exactly the touched buckets through ``write_state``'s
  crash-atomic journaled bucket swap (a replay after a crash re-merges
  into committed state; the DISTINCT makes that a no-op).
- LATE/OUT-OF-ORDER data is handled by construction: the chain recompute
  splices a late change into the middle of its key's timeline and closes /
  reopens the neighboring intervals — the case an append-only SCD2 sink
  gets wrong. Cost per batch is O(touched buckets + batch), never O(state).
- the upsert/compact exclusion uses the table's ``_state_lock`` (repo
  convention for streamed-state mutators).

Equivalence contract (the registered driver row): after draining any
micro-batch split of ``events``, the state table equals the batch
``cdc_scd2_history`` output row-for-row — the oracle IS the batch SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.operators.state import (
    _state_lock,
    _touched_buckets,
    read_state,
    write_state,
)

SCD2_BUCKETS = 8
_RAW_COLS = ("user_id", "event_id", "event_type", "value", "es")


def _chain(raw: DataFrame) -> DataFrame:
    """The SCD2 interval recompute — same window as the batch query."""
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    out = raw.withColumn("valid_to_es", F.lead("es").over(w))
    return out.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.col("es").alias("valid_from_es"),
        "valid_to_es",
        F.when(F.col("valid_to_es").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_current"),
    )


def ingest_batch_scd2(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    key_buckets: int = SCD2_BUCKETS,
) -> None:
    """Splice one micro-batch of change rows into the SCD2 state."""
    b = batch.select(*_RAW_COLS)
    touched = _touched_buckets(b, ("user_id",), key_buckets)
    if not touched:
        return
    with _state_lock(state_path):
        state = read_state(spark, state_path, buckets=touched)
        if state is not None:
            # intervals -> raw rows (lossless: valid_from_es is the es)
            prior = state.select(
                "user_id",
                "event_id",
                "event_type",
                "value",
                F.col("valid_from_es").alias("es"),
            )
            merged = prior.unionByName(b)
        else:
            merged = b
        # at-least-once: a replayed change is byte-identical -> distinct
        merged = merged.distinct()
        write_state(
            _chain(merged),
            state_path,
            key_buckets=key_buckets,
            key_cols=("user_id",),
        )


def read_scd2(spark: SparkSession, state_path: str) -> DataFrame | None:
    """The maintained SCD2 table (plain scan — FINAL is free here: the
    chain is already materialized)."""
    return read_state(spark, state_path)


def run_incremental_scd2(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (parquet files of raw change rows) through the
    SCD2 ingest with an availableNow trigger."""
    from cdc_postgresql_clickhouse_spark.streaming.sketch import _drain

    _drain(
        spark,
        src_dir,
        lambda b, _i: ingest_batch_scd2(spark, b, state_path),
        checkpoint_dir,
        max_files_per_trigger,
    )
