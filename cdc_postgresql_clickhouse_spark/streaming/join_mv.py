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

Design (state-in-the-table, ST3 posture; exactly-once as in
``streaming/mv.py``: the key table goes through
``operators.state.fenced_bucket_ingest``'s per-bucket fence, and its merge
publishes the deltas under the MV's own batch-id fence,
``mvstore.publish_mv_deltas``, before it returns the key rows):

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
    fenced_bucket_ingest,
)
from cdc_postgresql_clickhouse_spark.streaming.mvstore import (
    publish_mv_deltas,
    read_mv_versioned,
)

JMV_BUCKETS = 8
_TOMBSTONE = "error"


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

    mv_path = os.path.join(state_path, "mv")

    def takes(bp: str, pp: str):
        newer = F.struct(F.col(f"{bp}_us"), F.col(f"{bp}_eid")) > F.struct(
            F.col(f"{pp}_us"), F.col(f"{pp}_eid")
        )
        return F.col(f"{bp}_us").isNotNull() & (
            F.col(f"{pp}_us").isNull() | newer
        )

    def merge(b: DataFrame, prior: DataFrame) -> DataFrame:
        p = prior.select(
            "user_id",
            F.col("a_us").alias("p_a_us"), F.col("a_eid").alias("p_a_eid"),
            F.col("a_type").alias("p_a_type"), F.col("a_cents").alias("p_a_cents"),
            F.col("b_us").alias("p_b_us"), F.col("b_eid").alias("p_b_eid"),
            F.col("b_type").alias("p_b_type"),
        )
        ba = _side_latest(b, 0, "ba")
        bb = _side_latest(b, 1, "bb")
        j = ba.join(bb, "user_id", "full_outer").join(p, "user_id", "full_outer")
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
                F.col("p_a_type").alias("a_type"), F.col("p_b_type").alias("b_type"),
                F.lit(-1).cast("long").alias("n_pairs"),
                (-F.col("p_a_cents")).cast("long").alias("sum_a_cents"),
            ),
        )
        add = F.when(
            F.col("__changed") & new_live,
            F.struct(
                F.col("a_type").alias("a_type"), F.col("b_type").alias("b_type"),
                F.lit(1).cast("long").alias("n_pairs"),
                F.col("a_cents").cast("long").alias("sum_a_cents"),
            ),
        )
        # the MV commits first, under its own fence (as in streaming/mv.py)
        publish_mv_deltas(
            spark,
            new.select(F.explode(F.array_compact(F.array(retract, add))).alias("d")).select("d.*"),
            mv_path,
            batch_id,
            ("a_type", "b_type"),
            "n_pairs",
        )
        return new.select(
            "user_id", "a_us", "a_eid", "a_type", "a_cents", "b_us", "b_eid", "b_type"
        )

    with _state_lock(state_path):
        fenced_bucket_ingest(
            spark,
            batch.select("user_id", "us", "eid", "event_type", "cents"),
            os.path.join(state_path, "keys"),
            batch_id,
            ("user_id",),
            key_buckets,
            "a_us long, a_eid long, a_type string, a_cents long, "
            "b_us long, b_eid long, b_type string",
            merge,
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
