"""Streaming JOIN-MV maintenance with retractions: an equi-join of two
keyed change streams' CURRENT states, kept exact as changes arrive on
EITHER side — the bilinear half of changelog algebra (Flink retract
streams / Materialize / DBSP), where ``streaming/mv.py`` covers the
linear (single-input grouped aggregate) half. The reference's pipeline
only ever joins at read time (FINAL view, README.md:309-318); this
maintains the joined aggregate incrementally instead.

Shape: both sides are per-key current states (at most one live row per
key per side — the CDC dimension-enrichment join), so the general
bilinear delta d(A |><| B) = dA|><|B + A|><|dB + dA|><|dB collapses to a
per-touched-key pair swap: retract (old_a, old_b) if both were live, add
(new_a, new_b) if both are live now. A change on ONE side therefore
retracts and re-adds the pair with the OTHER side's unchanged row — the
cross-side coupling that makes join MVs harder than aggregate MVs.

Design (state-in-the-table, ST3 posture; exactly-once by the MV's own
atomically-published batch-id fence, ``streaming/mvstore.py``, with the
idempotent key state simply re-applied on replay — same recipe and crash
analysis as ``streaming/mv.py``):

- ``keys/`` — one row per key holding BOTH sides' current (version,
  type, measure), bucketed by ``pmod(xxhash64(user_id), N)``; per batch
  only touched buckets are read/rewritten. Each side's per-key merge is
  the order-free version arg-max, so late delivery on either side loses
  the arg-max and produces no delta.
- ``mv/`` — the joined aggregate, (a_type, b_type)-cardinality-sized:
  n_pairs and sum of the A-side measure. Pair deltas are linear, so the
  merge is a tiny keyed add; groups at zero are dropped.
- tombstones (type 'error') kill their side's liveness: the pair is
  retracted and nothing is added until both sides are live again.
- cost per batch: O(touched buckets + batch + |a_type x b_type|); MV
  reads never scan the change log.

Equivalence contract (the pending driver row): after draining ANY
micro-batch split of ``events`` — sides interleaved, versions out of
order — the MV equals the batch join of the two sides' soft-deleted
current states, grouped; the oracle is that batch SQL.
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

JMV_BUCKETS = 8
_TOMBSTONE = "error"
_KEY_COLS = (
    "user_id",
    "a_us", "a_eid", "a_type", "a_cents",
    "b_us", "b_eid", "b_type",
    "applied_bid",
)


def _side_latest(b: DataFrame, parity: int, prefix: str) -> DataFrame:
    """Per-key arg-max of this batch's rows for one side (A = even eid,
    B = odd eid)."""
    cols = ["us", "eid", "event_type", "cents"]
    return (
        b.filter(F.col("eid") % 2 == parity)
        .groupBy("user_id")
        .agg(F.max_by(F.struct(*cols), F.struct("us", "eid")).alias("__s"))
        .select(
            "user_id",
            F.col("__s.us").alias(f"{prefix}_us"),
            F.col("__s.eid").alias(f"{prefix}_eid"),
            F.col("__s.event_type").alias(f"{prefix}_type"),
            *([F.col("__s.cents").alias(f"{prefix}_cents")] if prefix == "ba" else []),
        )
    )


def ingest_batch_join_mv(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    batch_id: int,
    key_buckets: int = JMV_BUCKETS,
) -> None:
    """Apply one micro-batch of (user_id, us, eid, event_type, cents)
    change rows — side A rows are even eids, side B odd — to the
    two-sided key state and the joined MV."""
    import os

    b = batch.select("user_id", "us", "eid", "event_type", "cents")
    touched = _touched_buckets(b, ("user_id",), key_buckets)
    if not touched:
        return
    keys_path = os.path.join(state_path, "keys")
    mv_path = os.path.join(state_path, "mv")
    with _state_lock(state_path):
        # the MV's own fence (see mvstore.py) — resolved first, exactly as
        # in streaming/mv.py, so replayed deltas can never double-apply
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
                F.col("a_us").alias("p_a_us"), F.col("a_eid").alias("p_a_eid"),
                F.col("a_type").alias("p_a_type"), F.col("a_cents").alias("p_a_cents"),
                F.col("b_us").alias("p_b_us"), F.col("b_eid").alias("p_b_eid"),
                F.col("b_type").alias("p_b_type"),
            )
        else:
            p = None
        ba = _side_latest(b, 0, "ba")
        bb = _side_latest(b, 1, "bb")
        j = ba.join(bb, "user_id", "full_outer")
        if p is None:
            for c, t in (
                ("p_a_us", "long"), ("p_a_eid", "long"), ("p_a_type", "string"),
                ("p_a_cents", "long"), ("p_b_us", "long"), ("p_b_eid", "long"),
                ("p_b_type", "string"),
            ):
                j = j.withColumn(c, F.lit(None).cast(t))
        else:
            j = j.join(p, "user_id", "full_outer")

        def takes(bp: str, pp: str):
            newer = F.struct(F.col(f"{bp}_us"), F.col(f"{bp}_eid")) > F.struct(
                F.col(f"{pp}_us"), F.col(f"{pp}_eid")
            )
            return F.col(f"{bp}_us").isNotNull() & (
                F.col(f"{pp}_us").isNull() | newer
            )

        a_takes, b_takes = takes("ba", "p_a"), takes("bb", "p_b")
        new = j.select(
            "user_id",
            F.when(a_takes, F.col("ba_us")).otherwise(F.col("p_a_us")).alias("a_us"),
            F.when(a_takes, F.col("ba_eid")).otherwise(F.col("p_a_eid")).alias("a_eid"),
            F.when(a_takes, F.col("ba_type")).otherwise(F.col("p_a_type")).alias("a_type"),
            F.when(a_takes, F.col("ba_cents")).otherwise(F.col("p_a_cents")).alias("a_cents"),
            F.when(b_takes, F.col("bb_us")).otherwise(F.col("p_b_us")).alias("b_us"),
            F.when(b_takes, F.col("bb_eid")).otherwise(F.col("p_b_eid")).alias("b_eid"),
            F.when(b_takes, F.col("bb_type")).otherwise(F.col("p_b_type")).alias("b_type"),
            (a_takes | b_takes).alias("__changed"),
            "p_a_type", "p_a_cents", "p_b_type",
        )
        old_live = (
            F.col("p_a_type").isNotNull() & (F.col("p_a_type") != _TOMBSTONE)
            & F.col("p_b_type").isNotNull() & (F.col("p_b_type") != _TOMBSTONE)
        )
        new_live = (
            F.col("a_type").isNotNull() & (F.col("a_type") != _TOMBSTONE)
            & F.col("b_type").isNotNull() & (F.col("b_type") != _TOMBSTONE)
        )
        retract = F.when(
            F.col("__changed") & old_live,
            F.struct(
                F.col("p_a_type").alias("ga"), F.col("p_b_type").alias("gb"),
                F.lit(-1).cast("long").alias("dn"),
                (-F.col("p_a_cents")).cast("long").alias("dc"),
            ),
        )
        add = F.when(
            F.col("__changed") & new_live,
            F.struct(
                F.col("a_type").alias("ga"), F.col("b_type").alias("gb"),
                F.lit(1).cast("long").alias("dn"),
                F.col("a_cents").cast("long").alias("dc"),
            ),
        )
        if mv_bid < int(batch_id):
            deltas = (
                new.select(F.explode(F.array_compact(F.array(retract, add))).alias("d"))
                .select("d.*")
                .groupBy("ga", "gb")
                .agg(F.sum("dn").cast("long").alias("dn"), F.sum("dc").cast("long").alias("dc"))
                .localCheckpoint(eager=True)
            )
            if mv_old is None:
                merged = deltas.select(
                    F.col("ga").alias("a_type"), F.col("gb").alias("b_type"),
                    F.col("dn").alias("n_pairs"), F.col("dc").alias("sum_a_cents"),
                )
            else:
                d2 = deltas.select(
                    F.col("ga").alias("a_type"), F.col("gb").alias("b_type"), "dn", "dc"
                )
                merged = (
                    mv_old.join(d2, ["a_type", "b_type"], "full_outer")
                    .select(
                        "a_type", "b_type",
                        (F.coalesce("n_pairs", F.lit(0)) + F.coalesce("dn", F.lit(0)))
                        .cast("long").alias("n_pairs"),
                        (F.coalesce("sum_a_cents", F.lit(0)) + F.coalesce("dc", F.lit(0)))
                        .cast("long").alias("sum_a_cents"),
                    )
                )
            merged = merged.filter(F.col("n_pairs") > 0)
            publish_mv_versioned(merged, mv_path, int(batch_id))
        # else: deltas already aggregated — skip the non-idempotent merge,
        # re-land the idempotent key state
        write_state(
            new.select(
                "user_id",
                "a_us", "a_eid", "a_type", "a_cents",
                "b_us", "b_eid", "b_type",
                F.lit(int(batch_id)).cast("long").alias("applied_bid"),
            ),
            keys_path,
            key_buckets=key_buckets,
            key_cols=("user_id",),
        )


def read_join_mv(spark: SparkSession, state_path: str) -> DataFrame:
    """The maintained joined aggregate, in the batch join's output shape."""
    import os

    df, _ = read_mv_versioned(spark, os.path.join(state_path, "mv"))
    if df is None:
        raise FileNotFoundError(f"no MV published under {state_path!r}")
    return df.select("a_type", "b_type", "n_pairs", "sum_a_cents")


def run_incremental_join_mv(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (parquet files of change rows for both sides, any
    order) through the join-MV ingest with an availableNow trigger."""
    from cdc_postgresql_clickhouse_spark.streaming.sketch import _drain

    _drain(
        spark,
        src_dir,
        lambda b, i: ingest_batch_join_mv(spark, b, state_path, i),
        checkpoint_dir,
        max_files_per_trigger,
    )
