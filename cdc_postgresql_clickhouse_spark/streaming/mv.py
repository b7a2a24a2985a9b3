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
- exactly-once: deltas are NOT idempotent, so the MV carries its OWN
  fence — each batch's aggregate is published as an atomically-swapped
  versioned directory named by batch id (``streaming/mvstore.py``), and
  the delta merge is skipped whenever the published id already covers the
  incoming batch. The key-state merge is an idempotent arg-max and is
  simply re-applied on replay, so a crash between the two commits in
  EITHER direction replays to the correct state (MV ahead of keys: merge
  skipped, keys caught up; keys never ahead: they are written only after
  the MV swap succeeds).
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
    _touched_buckets,
    _unfenced_buckets_keyed,
    read_state,
    write_state,
)
from cdc_postgresql_clickhouse_spark.streaming.mvstore import (
    publish_mv_versioned,
    read_mv_versioned,
)

MV_BUCKETS = 8
_TOMBSTONE = "error"
_KEY_COLS = ("user_id", "us", "eid", "event_type", "cents", "applied_bid")


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

    b = batch.select("user_id", "us", "eid", "event_type", "cents")
    touched = _touched_buckets(b, ("user_id",), key_buckets)
    if not touched:
        return
    keys_path = os.path.join(state_path, "keys")
    mv_path = os.path.join(state_path, "mv")
    with _state_lock(state_path):
        # the MV's own fence (see mvstore.py): resolved FIRST so a replay of
        # an already-aggregated batch can never double-apply its deltas,
        # regardless of where a previous attempt crashed
        mv_old, mv_bid = read_mv_versioned(spark, mv_path)
        if mv_old is not None:
            mv_old = mv_old.localCheckpoint(eager=True)
        prior = read_state(spark, keys_path, buckets=touched)
        if prior is not None:
            prior = prior.select(*_KEY_COLS).localCheckpoint(eager=True)
        # replay of a FULLY committed batch is a no-op: the MV covers it and
        # every touched key bucket is fenced (a touched bucket with no rows
        # has not committed); a partially committed key write re-applies
        # idempotently below
        if int(batch_id) <= mv_bid and not _unfenced_buckets_keyed(
            prior, touched, batch_id, key_buckets, ("user_id",)
        ):
            return
        if prior is not None:
            p = prior.select(
                "user_id",
                F.col("us").alias("p_us"),
                F.col("eid").alias("p_eid"),
                F.col("event_type").alias("p_type"),
                F.col("cents").alias("p_cents"),
            )
        else:
            p = None
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
        if p is None:
            j = bl.select(
                "*",
                F.lit(None).cast("long").alias("p_us"),
                F.lit(None).cast("long").alias("p_eid"),
                F.lit(None).cast("string").alias("p_type"),
                F.lit(None).cast("long").alias("p_cents"),
            )
        else:
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
                F.col("p_type").alias("g"),
                F.lit(-1).cast("long").alias("dn"),
                (-F.col("p_cents")).cast("long").alias("dc"),
            ),
        )
        add = F.when(
            F.col("__changed") & (F.col("event_type") != _TOMBSTONE),
            F.struct(
                F.col("event_type").alias("g"),
                F.lit(1).cast("long").alias("dn"),
                F.col("cents").cast("long").alias("dc"),
            ),
        )
        if mv_bid < int(batch_id):
            deltas = (
                new.select(F.explode(F.array_compact(F.array(retract, add))).alias("d"))
                .select("d.*")
                .groupBy("g")
                .agg(F.sum("dn").cast("long").alias("dn"), F.sum("dc").cast("long").alias("dc"))
                .localCheckpoint(eager=True)
            )
            if mv_old is None:
                merged = deltas.select(
                    F.col("g").alias("last_event_type"),
                    F.col("dn").alias("n_users"),
                    F.col("dc").alias("sum_cents"),
                )
            else:
                d2 = deltas.select(F.col("g").alias("last_event_type"), "dn", "dc")
                merged = (
                    mv_old.join(d2, "last_event_type", "full_outer")
                    .select(
                        "last_event_type",
                        (F.coalesce("n_users", F.lit(0)) + F.coalesce("dn", F.lit(0)))
                        .cast("long").alias("n_users"),
                        (F.coalesce("sum_cents", F.lit(0)) + F.coalesce("dc", F.lit(0)))
                        .cast("long").alias("sum_cents"),
                    )
                )
            merged = merged.filter(F.col("n_users") > 0)
            # atomic swap; on success the MV fence records batch_id, so a
            # crash before the key write below replays into "merge skipped,
            # keys re-applied idempotently"
            publish_mv_versioned(merged, mv_path, int(batch_id))
        # else: replay of a batch whose deltas are already aggregated —
        # skip the merge (deltas are not idempotent), re-land the keys
        write_state(
            new.select(
                "user_id", "us", "eid", "event_type", "cents",
                F.lit(int(batch_id)).cast("long").alias("applied_bid"),
            ),
            keys_path,
            key_buckets=key_buckets,
            key_cols=("user_id",),
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
