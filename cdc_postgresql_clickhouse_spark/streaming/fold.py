"""Streaming ordered-fold maintenance: a NON-COMMUTATIVE per-key recurrence
(the EWMA of ``queries/sketches.py::events_user_ewma``) kept current as
events arrive — the composition the sketch ingests cannot express: HLL/
bottom-k/CMS merge by order-free algebra (max / union / sum), a fold does
not, so replay tolerance must come from the SINK, not the merge.

Design (state-in-the-table, ST3 posture; reference tie-in: the S9 upsert
sink's merge-newer discipline, clickhouse_schemas.sql:29-37, applied to
fold state):

- state: ONE row per key — (user_id, n_events, last_us, last_eid, last_c,
  acc, applied_bid) — laid out in ``__bucket = pmod(xxhash64(user_id), N)``
  dirs; a micro-batch reads ONLY its keys' buckets (partition pruning),
  folds each key's sorted batch rows CONTINUING from the stored
  accumulator (fold associativity over ordered concatenation: the
  composed fold is literally the batch fold's op sequence, so the result
  is bit-identical to a one-shot fold of the whole history), and
  publishes exactly the touched buckets through ``write_state``'s
  journaled bucket swap (rename per bucket, so a bucket is never
  half-old/half-new, and a swap torn by a crash is rolled forward by the
  next ``read_state``).
- exactly-once: foreachBatch replays deliver the SAME batch id, and every
  fold runs through ``operators.state.fenced_bucket_ingest``, which FENCES
  PER BUCKET on the ``applied_bid`` each state row carries: the batch is
  applied only to touched buckets whose recorded id is behind the
  incoming one. A crash after some bucket renames leaves buckets at mixed
  batch ids (each bucket whole), so a single max-fence over all touched
  buckets would skip the replay and lose the laggard buckets' events
  forever. Folds are independent per key (hence per bucket), so applying
  the replayed batch to ONLY the laggard buckets is exact; buckets already
  at the incoming batch id are left untouched. This is the standard
  idempotent-sink recipe for non-idempotent merges (Structured Streaming
  programming guide, foreachBatch exactly-once section), made
  partial-commit-safe. Each fold here is only its merge: the batch and the
  touched buckets' state in, their new state out.
- ORDERED-ARRIVAL CONTRACT: a fold consumes its stream in order, so every
  batch row's (us, eid) must exceed the state's (last_us, last_eid) for
  its key — the contract a time-partitioned source (Kafka per-key order,
  date-partitioned backfills) provides naturally. Late data would need
  the SCD2 module's raw-row splice instead; that trade-off is the point
  of keeping both modules.
- cost per batch: O(touched buckets + batch). State is one row per key
  forever — at 100 TB of events, |users| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.operators.state import (
    fenced_bucket_ingest,
    read_state,
)

FOLD_BUCKETS = 8


def _ewma_step(acc, s):
    """The pinned EWMA op order — identical to the batch fold."""
    return (acc + s.getField("c")) * F.lit(0.5)


def ingest_batch_ewma(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    batch_id: int,
    key_buckets: int = FOLD_BUCKETS,
) -> None:
    """Fold one micro-batch of (user_id, us, eid, c) rows into the state."""

    def merge(b: DataFrame, state: DataFrame) -> DataFrame:
        arr = b.groupBy("user_id").agg(
            F.sort_array(
                F.collect_list(F.struct("us", "eid", "c"))
            ).alias("a")
        )
        joined = arr.join(state, "user_id", "full_outer")
        a = F.col("a")
        seeded = F.aggregate(a, F.col("acc"), _ewma_step)
        fresh = F.aggregate(
            F.slice(a, 2, F.greatest(F.size(a) - 1, F.lit(0))),
            F.element_at(a, 1).getField("c").cast("double"),
            _ewma_step,
        )
        new_acc = (
            F.when(a.isNull(), F.col("acc"))
            .when(F.col("acc").isNotNull(), seeded)
            .otherwise(fresh)
        )
        batch_n = F.when(a.isNull(), F.lit(0)).otherwise(F.size(a)).cast("long")
        return joined.select(
            "user_id",
            (F.coalesce(F.col("n_events"), F.lit(0)) + batch_n)
            .cast("long").alias("n_events"),
            F.when(a.isNull(), F.col("last_us"))
            .otherwise(F.element_at(a, -1).getField("us"))
            .cast("long").alias("last_us"),
            F.when(a.isNull(), F.col("last_eid"))
            .otherwise(F.element_at(a, -1).getField("eid"))
            .cast("long").alias("last_eid"),
            F.when(a.isNull(), F.col("last_c"))
            .otherwise(F.element_at(a, -1).getField("c"))
            .cast("long").alias("last_c"),
            new_acc.alias("acc"),
        )

    fenced_bucket_ingest(
        spark, batch.select("user_id", "us", "eid", "c"), state_path, batch_id,
        ("user_id",), key_buckets,
        "n_events long, last_us long, last_eid long, last_c long, acc double",
        merge,
    )


def read_ewma(spark: SparkSession, state_path: str) -> DataFrame | None:
    """The maintained fold state, in the batch row's output shape."""
    st = read_state(spark, state_path)
    if st is None:
        return None
    return st.select(
        "user_id",
        "n_events",
        F.col("last_c").alias("last_cents"),
        F.col("acc").alias("ewma_cents"),
    )


def run_incremental_ewma(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (parquet files of (user_id, us, eid, c) rows,
    time-ordered across files per the ordered-arrival contract) through
    the fold ingest with an availableNow trigger."""
    from cdc_postgresql_clickhouse_spark.streaming.sketch import _drain

    _drain(
        spark,
        src_dir,
        lambda b, i: ingest_batch_ewma(spark, b, state_path, i),
        checkpoint_dir,
        max_files_per_trigger,
    )


# --- second fold instance: capped sessionization -----------------------------
#
# The same fenced ingest (touched-bucket read, batch-id fence, continue
# the fold from stored state, journaled bucket swap) applied to the
# ALL-INTEGER session-counting fold of
# ``queries/events.py::events_sessionize_capped`` — demonstrating the
# sink pattern is not EWMA-specific: any left fold whose per-key state
# fits a fixed struct streams this way under the ordered-arrival
# contract. State: (prev_es, start_es, n_capped, n_gap) + n_events.

def ingest_batch_sessions(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    batch_id: int,
    key_buckets: int = FOLD_BUCKETS,
) -> None:
    """Fold one micro-batch of (user_id, es, eid) rows into the capped
    sessionization state."""
    from cdc_postgresql_clickhouse_spark.queries.events import SESS_CAP_S, SESS_GAP_S

    def step(acc, s):
        es = s.getField("es")
        capped = (es - F.element_at(acc, 1) > SESS_GAP_S) | (
            es - F.element_at(acc, 2) > SESS_CAP_S
        )
        gap = es - F.element_at(acc, 1) > SESS_GAP_S
        return F.array(
            es,
            F.when(capped, es).otherwise(F.element_at(acc, 2)),
            F.element_at(acc, 3) + F.when(capped, 1).otherwise(0),
            F.element_at(acc, 4) + F.when(gap, 1).otherwise(0),
        )

    def merge(b: DataFrame, state: DataFrame) -> DataFrame:
        arr = b.groupBy("user_id").agg(
            F.sort_array(F.collect_list(F.struct("es", "eid"))).alias("a")
        )
        joined = arr.join(state, "user_id", "full_outer")
        a = F.col("a")
        e1 = F.element_at(a, 1).getField("es")
        fresh = F.aggregate(
            F.slice(a, 2, F.greatest(F.size(a) - 1, F.lit(0))),
            F.array(e1, e1, F.lit(1).cast("long"), F.lit(1).cast("long")),
            step,
        )
        stored = F.array(F.col("prev_es"), F.col("start_es"), F.col("n_capped"), F.col("n_gap"))
        folded = (
            F.when(a.isNull(), stored)
            .when(F.col("prev_es").isNotNull(), F.aggregate(a, stored, step))
            .otherwise(fresh)
        )
        batch_n = F.when(a.isNull(), F.lit(0)).otherwise(F.size(a)).cast("long")
        return joined.select(
            "user_id",
            (F.coalesce(F.col("n_events"), F.lit(0)) + batch_n)
            .cast("long").alias("n_events"),
            F.element_at(folded, 1).cast("long").alias("prev_es"),
            F.element_at(folded, 2).cast("long").alias("start_es"),
            F.element_at(folded, 3).cast("long").alias("n_capped"),
            F.element_at(folded, 4).cast("long").alias("n_gap"),
        )

    fenced_bucket_ingest(
        spark, batch.select("user_id", "es", "eid"), state_path, batch_id,
        ("user_id",), key_buckets,
        "n_events long, prev_es long, start_es long, n_capped long, n_gap long",
        merge,
    )


def read_sessions(spark: SparkSession, state_path: str) -> DataFrame | None:
    """The maintained session counts, in the batch row's output shape."""
    st = read_state(spark, state_path)
    if st is None:
        return None
    return st.select(
        "user_id",
        "n_events",
        F.col("n_gap").alias("n_sessions_gap"),
        F.col("n_capped").alias("n_sessions_capped"),
    )


def run_incremental_sessions(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (parquet files of (user_id, es, eid) rows,
    time-ordered across files) through the session-fold ingest."""
    from cdc_postgresql_clickhouse_spark.streaming.sketch import _drain

    _drain(
        spark,
        src_dir,
        lambda b, i: ingest_batch_sessions(spark, b, state_path, i),
        checkpoint_dir,
        max_files_per_trigger,
    )


# --- third fold instance: CUSUM change monitor --------------------------------
#
# The streaming form of ``queries/sketches.py::events_cusum_changepoint``:
# Page's one-sided CUSUM kept current per event type as value events
# arrive. The batch query collapses the recurrence to the drawdown
# identity over two windows; the streaming monitor keeps the recurrence
# AS state — per key (prefix sum p, prefix-min minp, n_alarms, max_s) —
# and folds each ordered micro-batch continuing from the stored
# accumulator, which is exactly the identity evaluated incrementally:
# s_t = p_t - min(0, min_{j<=t} p_j). Baseline (target) and threshold
# (h) are CALIBRATION CONSTANTS: a deployed monitor runs against a
# trained baseline, so the ingest takes a per-key (target, h) table
# computed by a batch prelude and stores it in the state row.
# Same bucketed / per-bucket-fenced / ordered-arrival recipe as the EWMA
# and session folds — state is |event types| rows.

def ingest_batch_cusum(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    batch_id: int,
    calib: dict[str, tuple[int, int]],
    key_buckets: int = FOLD_BUCKETS,
) -> None:
    """Fold one micro-batch of (k, es, eid, c) rows into the CUSUM state.
    ``calib`` maps key -> (target_cents, h_cents)."""
    b = batch.select("k", "es", "eid", "c")
    # reject uncalibrated keys LOUDLY: a silent NULL map lookup would fold
    # NULL into p/minp and corrupt the key's state forever (the monitor has
    # no baseline for a type it was never trained on)
    seen = {r[0] for r in b.select("k").distinct().collect()}
    missing = seen - set(calib)
    if missing:
        raise ValueError(f"CUSUM ingest: keys without calibration: {sorted(missing)}")
    tgt_map = F.create_map(
        *[F.lit(x) for kv in calib.items() for x in (kv[0], int(kv[1][0]))]
    )
    h_map = F.create_map(
        *[F.lit(x) for kv in calib.items() for x in (kv[0], int(kv[1][1]))]
    )
    target = F.coalesce(F.col("target"), tgt_map[F.col("k")]).cast("long")
    h = F.coalesce(F.col("h"), h_map[F.col("k")]).cast("long")

    def step(acc, s):
        # acc = [p, minp, n_alarms, max_s]; target via closure column
        p2 = F.element_at(acc, 1) + (s.getField("c") - target)
        minp2 = F.least(F.element_at(acc, 2), p2)
        s_t = p2 - F.least(F.lit(0).cast("long"), minp2)
        return F.array(
            p2,
            minp2,
            F.element_at(acc, 3) + F.when(s_t > h, 1).otherwise(0),
            F.greatest(F.element_at(acc, 4), s_t),
        )

    def merge(b: DataFrame, state: DataFrame) -> DataFrame:
        arr = b.groupBy("k").agg(
            F.sort_array(F.collect_list(F.struct("es", "eid", "c"))).alias("a")
        )
        joined = arr.join(state, "k", "full_outer")
        a = F.col("a")
        # fresh keys start from the empty prefix: p=0, minp=+inf (first step
        # makes minp = P_1), counters zero. A huge literal stands in for
        # +inf safely: |P| < 2^40 on any realistic cents stream.
        fresh_init = F.array(
            F.lit(0).cast("long"),
            F.lit(1 << 62).cast("long"),
            F.lit(0).cast("long"),
            F.lit(0).cast("long"),
        )
        stored = F.array(F.col("p"), F.col("minp"), F.col("n_alarms"), F.col("max_s"))
        folded = (
            F.when(a.isNull(), stored)
            .when(F.col("p").isNotNull(), F.aggregate(a, stored, step))
            .otherwise(F.aggregate(a, fresh_init, step))
        )
        batch_n = F.when(a.isNull(), F.lit(0)).otherwise(F.size(a)).cast("long")
        return joined.select(
            "k",
            (F.coalesce(F.col("n_events"), F.lit(0)) + batch_n)
            .cast("long").alias("n_events"),
            F.when(a.isNull(), F.col("last_es"))
            .otherwise(F.element_at(a, -1).getField("es"))
            .cast("long").alias("last_es"),
            F.when(a.isNull(), F.col("last_eid"))
            .otherwise(F.element_at(a, -1).getField("eid"))
            .cast("long").alias("last_eid"),
            target.alias("target"),
            h.alias("h"),
            F.element_at(folded, 1).cast("long").alias("p"),
            F.element_at(folded, 2).cast("long").alias("minp"),
            F.element_at(folded, 3).cast("long").alias("n_alarms"),
            F.element_at(folded, 4).cast("long").alias("max_s"),
        )

    fenced_bucket_ingest(
        spark, b, state_path, batch_id, ("k",), key_buckets,
        "n_events long, last_es long, last_eid long, target long, h long, "
        "p long, minp long, n_alarms long, max_s long",
        merge,
    )


def read_cusum(spark: SparkSession, state_path: str) -> DataFrame | None:
    """The maintained CUSUM state, in the batch report's output shape."""
    st = read_state(spark, state_path)
    if st is None:
        return None
    return st.select(
        F.col("k").alias("event_type"),
        "n_events",
        F.col("target").alias("target_cents"),
        F.col("h").alias("h_cents"),
        "n_alarms",
        F.col("max_s").alias("max_s_cents"),
    )


def run_incremental_cusum(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    checkpoint_dir: str,
    calib: dict[str, tuple[int, int]],
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (parquet files of (k, es, eid, c) rows,
    time-ordered across files) through the CUSUM-fold ingest."""
    from cdc_postgresql_clickhouse_spark.streaming.sketch import _drain

    _drain(
        spark,
        src_dir,
        lambda b, i: ingest_batch_cusum(spark, b, state_path, i, calib),
        checkpoint_dir,
        max_files_per_trigger,
    )


# --- fourth fold instance: first-seen entry registry --------------------------
#
# The per-key MIN fold behind entry-cohort analytics (SRM, retention):
# state is one row per user carrying the earliest arrival micro-timestamp
# and a lifetime event count. The min-merge itself is commutative (replay
# could not corrupt first_us), but n_events is NOT idempotent — so the
# instance still needs, and demonstrates, the per-bucket batch-id fence.
# Unlike the EWMA/session/CUSUM folds this one does not require the
# ordered-arrival contract: min() absorbs late data exactly, which is why
# entry cohorts are the safest streaming aggregate to maintain.

def ingest_batch_first_seen(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    batch_id: int,
    key_buckets: int = FOLD_BUCKETS,
) -> None:
    """Fold one micro-batch of (user_id, us) rows into the first-seen state."""

    def merge(b: DataFrame, state: DataFrame) -> DataFrame:
        agg = b.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("bn"),
            F.min("us").cast("long").alias("bmin"),
        )
        joined = agg.join(state, "user_id", "full_outer")
        zero = F.lit(0).cast("long")
        return joined.select(
            "user_id",
            (F.coalesce(F.col("n_events"), zero) + F.coalesce(F.col("bn"), zero))
            .cast("long").alias("n_events"),
            F.least(
                F.coalesce(F.col("first_us"), F.col("bmin")),
                F.coalesce(F.col("bmin"), F.col("first_us")),
            ).cast("long").alias("first_us"),
        )

    fenced_bucket_ingest(
        spark, batch.select("user_id", "us"), state_path, batch_id,
        ("user_id",), key_buckets, "n_events long, first_us long", merge,
    )


def read_first_seen(spark: SparkSession, state_path: str) -> DataFrame | None:
    """The maintained first-seen registry: (user_id, n_events, first_us)."""
    st = read_state(spark, state_path)
    if st is None:
        return None
    return st.select("user_id", "n_events", "first_us")


def run_incremental_first_seen(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (parquet files of (user_id, us) rows) through the
    first-seen ingest with an availableNow trigger."""
    from cdc_postgresql_clickhouse_spark.streaming.sketch import _drain

    _drain(
        spark,
        src_dir,
        lambda b, i: ingest_batch_first_seen(spark, b, state_path, i),
        checkpoint_dir,
        max_files_per_trigger,
    )
