"""Streaming aggregate-MV maintenance with RETRACTIONS: a grouped
aggregate over the CURRENT state of a change stream, kept exact as
changes arrive — the changelog semantics of Flink retract streams /
Materialize, and the piece the reference's MV pipeline
(clickhouse_schemas.sql:49-58) leaves to ReplacingMergeTree merges at
read time. An UPDATE must SUBTRACT the key's old contribution from its
old group and ADD the new one (possibly to a different group); a DELETE
(tombstone) retracts without adding. Append-only windowed MVs
(``streaming/pipeline.py``) never face this; it is THE reason changelog
processors carry retractions.

Design (state-in-the-table, ST3 posture; exactly-once by batch-id
fencing as in ``streaming/fold.py``):

- ``keys/`` — one row per key: its current (version, group, measure),
  bucketed by ``pmod(xxhash64(user_id), N)``. Per batch, only touched
  buckets are read and rewritten. The per-key merge is an ORDER-FREE
  version arg-max (same algebra as the S9 upsert sink), so late or
  out-of-order delivery needs no special handling: a stale change row
  loses the arg-max and produces NO delta.
- ``mv/`` — the aggregate itself, group-cardinality-sized: for each
  group, n_users and sum_cents. Deltas are linear (+1/-1, +c/-c), so the
  MV update is a tiny keyed merge. Tombstoned keys contribute nothing —
  a delete retracts the old contribution and adds none.
- exactly-once: the key table is written through
  ``operators.state.fenced_bucket_ingest`` (per-bucket ``applied_bid``
  fence), whose merge computes the new key rows and the deltas. Deltas
  are NOT idempotent, so the MV carries its OWN fence: each batch's
  aggregate is published as an atomically-swapped versioned directory
  named by batch id, and the delta merge (``mvstore.publish_mv_deltas``)
  is skipped whenever the published id already covers the incoming
  batch. The keys are written only after the MV swap, so the MV is at or
  past a batch exactly when every touched key bucket is fenced: a replay
  of a fully committed batch stops at the key fence, and a crash between
  the two commits replays into "deltas skipped, keys re-applied".
- cost per batch: O(touched buckets + batch + |groups|); MV reads are
  O(|groups|) forever, never a scan of the change log.

Equivalence contract (the pending driver row): after draining ANY
micro-batch split of ``events`` — ordered or not — the MV table equals
the batch group-by over the soft-deleted current state; the oracle is
that batch SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.operators.state import (
    _state_lock,
    fenced_bucket_ingest,
)
from cdc_postgresql_clickhouse_spark.streaming.mvstore import (
    publish_mv_deltas,
    read_mv_versioned,
)

MV_BUCKETS = 8
_TOMBSTONE = "error"


def ingest_batch_mv(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    batch_id: int,
    key_buckets: int = MV_BUCKETS,
) -> None:
    """Apply one micro-batch of (user_id, us, eid, event_type, cents)
    change rows to the key state and the grouped MV."""
    import os

    mv_path = os.path.join(state_path, "mv")

    def merge(b: DataFrame, prior: DataFrame) -> DataFrame:
        p = prior.select(
            "user_id",
            F.col("us").alias("p_us"),
            F.col("eid").alias("p_eid"),
            F.col("event_type").alias("p_type"),
            F.col("cents").alias("p_cents"),
        )
        bl = b.groupBy("user_id").agg(
            F.max_by(
                F.struct("us", "eid", "event_type", "cents"), F.struct("us", "eid")
            ).alias("__b")
        ).select(
            "user_id",
            F.col("__b.us").alias("b_us"),
            F.col("__b.eid").alias("b_eid"),
            F.col("__b.event_type").alias("b_type"),
            F.col("__b.cents").alias("b_cents"),
        )
        j = bl.join(p, "user_id", "full_outer")
        in_batch = F.col("b_us").isNotNull()
        has_prior = F.col("p_us").isNotNull()
        newer = F.struct(F.col("b_us"), F.col("b_eid")) > F.struct(
            F.col("p_us"), F.col("p_eid")
        )
        takes_batch = in_batch & (~has_prior | newer)
        new = j.select(
            "user_id",
            F.when(takes_batch, F.col("b_us")).otherwise(F.col("p_us")).alias("us"),
            F.when(takes_batch, F.col("b_eid")).otherwise(F.col("p_eid")).alias("eid"),
            F.when(takes_batch, F.col("b_type")).otherwise(F.col("p_type")).alias("event_type"),
            F.when(takes_batch, F.col("b_cents")).otherwise(F.col("p_cents")).alias("cents"),
            takes_batch.alias("__changed"),
            "p_type", "p_cents",
        )
        # retraction (-old) where a prior non-tombstone contribution is
        # replaced; addition (+new) where the new current row is live
        retract = F.when(
            F.col("__changed") & F.col("p_type").isNotNull()
            & (F.col("p_type") != _TOMBSTONE),
            F.struct(
                F.col("p_type").alias("last_event_type"),
                F.lit(-1).cast("long").alias("n_users"),
                (-F.col("p_cents")).cast("long").alias("sum_cents"),
            ),
        )
        add = F.when(
            F.col("__changed") & (F.col("event_type") != _TOMBSTONE),
            F.struct(
                F.col("event_type").alias("last_event_type"),
                F.lit(1).cast("long").alias("n_users"),
                F.col("cents").cast("long").alias("sum_cents"),
            ),
        )
        # the MV commits first, under its own fence: a crash before the
        # key publish replays into "deltas skipped, keys re-applied"
        publish_mv_deltas(
            spark,
            new.select(F.explode(F.array_compact(F.array(retract, add))).alias("d")).select("d.*"),
            mv_path,
            batch_id,
            ("last_event_type",),
            "n_users",
        )
        return new.select("user_id", "us", "eid", "event_type", "cents")

    with _state_lock(state_path):
        fenced_bucket_ingest(
            spark,
            batch.select("user_id", "us", "eid", "event_type", "cents"),
            os.path.join(state_path, "keys"),
            batch_id,
            ("user_id",),
            key_buckets,
            "us long, eid long, event_type string, cents long",
            merge,
        )


def read_mv(spark: SparkSession, state_path: str) -> DataFrame:
    """The maintained aggregate, in the batch group-by's output shape."""
    import os

    df, _ = read_mv_versioned(spark, os.path.join(state_path, "mv"))
    if df is None:
        raise FileNotFoundError(f"no MV published under {state_path!r}")
    return df.select("last_event_type", "n_users", "sum_cents")


def run_incremental_mv(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (parquet files of change rows, any order) through
    the retraction-MV ingest with an availableNow trigger."""
    from cdc_postgresql_clickhouse_spark.streaming.sketch import _drain

    _drain(
        spark,
        src_dir,
        lambda b, i: ingest_batch_mv(spark, b, state_path, i),
        checkpoint_dir,
        max_files_per_trigger,
    )
