"""Streaming ordered-fold laws beyond the oracle equivalence row: the
batch-id fence makes replay a no-op, a 3-way time split still equals the
one-shot fold bit-for-bit, and new keys appearing mid-stream seed
correctly."""

from __future__ import annotations

import shutil
import tempfile

import pandas as pd
from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.queries.sketches import events_user_ewma
from cdc_postgresql_clickhouse_spark.sources.registry import load_table
from cdc_postgresql_clickhouse_spark.streaming.fold import (
    ingest_batch_ewma,
    read_ewma,
)


def _rows(spark, sf_dir):
    return load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.col("event_id").alias("eid"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )


def _canon(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)[["user_id", "n_events", "last_cents", "ewma_cents"]]
    )


def test_three_way_time_split_matches_batch_fold(spark, sf_dir):
    """Terciles of the timestamp range as three ordered ingests: the
    maintained state must equal the one-shot fold bit-for-bit, including
    users whose first event arrives only in batch 2 or 3 (mid-stream
    seeding)."""
    ev = _rows(spark, sf_dir)
    t1, t2 = ev.agg(
        F.expr("percentile(us, 0.3333)"), F.expr("percentile(us, 0.6667)")
    ).first()
    parts = [
        ev.filter(F.col("us") <= t1),
        ev.filter((F.col("us") > t1) & (F.col("us") <= t2)),
        ev.filter(F.col("us") > t2),
    ]
    tmp = tempfile.mkdtemp(prefix="fold_law_")
    try:
        state = f"{tmp}/state"
        for i, p in enumerate(parts):
            ingest_batch_ewma(spark, p, state, batch_id=i)
        got = _canon(read_ewma(spark, state))
        want = _canon(events_user_ewma(spark, sf_dir))
        pd.testing.assert_frame_equal(got, want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_replay_fence_is_noop(spark, sf_dir):
    """Re-ingesting an already-applied batch id (at-least-once replay)
    must leave the state byte-identical — the fold is NOT idempotent, so
    this is exactly what the fence exists to guarantee."""
    ev = _rows(spark, sf_dir)
    t_med = ev.agg(F.expr("percentile(us, 0.5)")).first()[0]
    b1 = ev.filter(F.col("us") <= t_med)
    b2 = ev.filter(F.col("us") > t_med)
    tmp = tempfile.mkdtemp(prefix="fold_fence_")
    try:
        state = f"{tmp}/state"
        ingest_batch_ewma(spark, b1, state, batch_id=0)
        ingest_batch_ewma(spark, b2, state, batch_id=1)
        before = _canon(read_ewma(spark, state))
        ingest_batch_ewma(spark, b2, state, batch_id=1)  # replay
        ingest_batch_ewma(spark, b1, state, batch_id=0)  # stale replay
        after = _canon(read_ewma(spark, state))
        pd.testing.assert_frame_equal(after, before)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_session_fold_three_way_split_and_fence(spark, sf_dir):
    """The second fold instance obeys the same laws: a 3-way time split
    equals the batch capped-sessionize row exactly, and replaying an
    applied batch id is a no-op."""
    from cdc_postgresql_clickhouse_spark.queries.events import events_sessionize_capped
    from cdc_postgresql_clickhouse_spark.streaming.fold import (
        ingest_batch_sessions,
        read_sessions,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        F.col("event_id").alias("eid"),
    )
    t1, t2 = ev.agg(
        F.expr("percentile(es, 0.3333)"), F.expr("percentile(es, 0.6667)")
    ).first()
    parts = [
        ev.filter(F.col("es") <= t1),
        ev.filter((F.col("es") > t1) & (F.col("es") <= t2)),
        ev.filter(F.col("es") > t2),
    ]
    tmp = tempfile.mkdtemp(prefix="sess_fold_")
    try:
        state = f"{tmp}/state"
        for i, p in enumerate(parts):
            ingest_batch_sessions(spark, p, state, batch_id=i)
        cols = ["user_id", "n_events", "n_sessions_gap", "n_sessions_capped"]
        got = read_sessions(spark, state).toPandas().sort_values("user_id").reset_index(drop=True)[cols]
        want = events_sessionize_capped(spark, sf_dir).toPandas().sort_values("user_id").reset_index(drop=True)[cols]
        pd.testing.assert_frame_equal(got, want)
        ingest_batch_sessions(spark, parts[1], state, batch_id=1)  # stale replay
        after = read_sessions(spark, state).toPandas().sort_values("user_id").reset_index(drop=True)[cols]
        pd.testing.assert_frame_equal(after, want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_state_table_stats_reports_layout(spark, sf_dir):
    """The ops introspection sees what the fold sink wrote: every bucket
    directory counted, row count matching the state, bytes positive, and
    no recorded unique key."""
    from cdc_postgresql_clickhouse_spark.operators.state import state_table_stats
    from cdc_postgresql_clickhouse_spark.streaming.fold import FOLD_BUCKETS

    ev = _rows(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="fold_stats_")
    try:
        state = f"{tmp}/state"
        ingest_batch_ewma(spark, ev, state, batch_id=0)
        st = state_table_stats(spark, state)
        assert st["n_rows"] == read_ewma(spark, state).count()
        assert 1 <= st["n_buckets"] <= FOLD_BUCKETS
        assert st["n_files"] >= st["n_buckets"]
        assert st["total_bytes"] > 0
        assert st["max_files_per_bucket"] >= st["min_files_per_bucket"] >= 1
        assert st["unique_key"] is None  # the fold does not state one row per key
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_torn_bucket_swap_rolls_forward(spark, sf_dir):
    """Crash window (ADVICE r7, MEDIUM): journal published, only SOME bucket
    dirs swapped in. Hand-build that state by re-staging batch-1's output
    for two buckets and reverting those table dirs to their batch-0
    contents plus the journal. Recovery (next ingest's replay) must roll
    the swap forward and converge to the one-shot fold exactly — never
    double-fold the already-swapped buckets."""
    import json
    import os

    from cdc_postgresql_clickhouse_spark.queries.sketches import events_user_ewma

    ev = _rows(spark, sf_dir)
    t_med = ev.agg(F.expr("percentile(us, 0.5)")).first()[0]
    b1 = ev.filter(F.col("us") <= t_med)
    b2 = ev.filter(F.col("us") > t_med)
    tmp = tempfile.mkdtemp(prefix="fold_torn_")
    try:
        state = f"{tmp}/state"
        ingest_batch_ewma(spark, b1, state, batch_id=0)
        # snapshot the post-batch-0 state
        snap0 = f"{tmp}/snap0"
        shutil.copytree(state, snap0)
        ingest_batch_ewma(spark, b2, state, batch_id=1)
        want = _canon(read_ewma(spark, state))

        # hand-build the torn swap: two victim buckets reverted to their
        # batch-0 contents, their batch-1 replacements parked in the staged
        # dir, journal naming ALL buckets (the swapped ones are gone from
        # the staged dir, as a real crash mid-loop leaves them)
        buckets = sorted(
            d for d in os.listdir(state) if d.startswith("__bucket=")
        )
        victims = buckets[:2]
        staged = f"{os.path.abspath(state)}.staged"
        os.makedirs(staged)
        for v in victims:
            shutil.move(os.path.join(state, v), os.path.join(staged, v))
            shutil.copytree(os.path.join(snap0, v), os.path.join(state, v))
        with open(os.path.join(state, "_state_swap_journal.json"), "w") as fh:
            json.dump({"buckets": buckets, "staged": staged}, fh)

        # reader-side heal: read_ewma alone must already see batch-1 state
        healed = _canon(read_ewma(spark, state))
        pd.testing.assert_frame_equal(healed, want)
        assert not os.path.exists(os.path.join(state, "_state_swap_journal.json"))
        assert not os.path.isdir(staged)

        # and the at-least-once replay of batch 1 stays a no-op (all
        # buckets now fenced at bid 1 — no double-fold anywhere)
        ingest_batch_ewma(spark, b2, state, batch_id=1)
        pd.testing.assert_frame_equal(_canon(read_ewma(spark, state)), want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_cusum_fold_three_way_split_and_fence(spark, sf_dir):
    """The third fold instance obeys the same laws: a 3-way time split of
    the value stream equals the batch CUSUM report exactly (the stored
    recurrence state IS the drawdown identity evaluated incrementally),
    and replaying an applied batch id is a no-op."""
    from cdc_postgresql_clickhouse_spark.queries.sketches import (
        events_cusum_changepoint,
    )
    from cdc_postgresql_clickhouse_spark.streaming.fold import (
        ingest_batch_cusum,
        read_cusum,
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

    t1, t2 = ev.agg(
        F.expr("percentile(es, 0.3333)"), F.expr("percentile(es, 0.6667)")
    ).first()
    parts = [
        ev.filter(F.col("es") <= t1),
        ev.filter((F.col("es") > t1) & (F.col("es") <= t2)),
        ev.filter(F.col("es") > t2),
    ]
    tmp = tempfile.mkdtemp(prefix="fold_cusum_")
    try:
        state = f"{tmp}/state"
        for i, p in enumerate(parts):
            ingest_batch_cusum(spark, p, state, batch_id=i, calib=calib)
        got = (
            read_cusum(spark, state).toPandas()
            .sort_values("event_type").reset_index(drop=True)
        )
        want = (
            events_cusum_changepoint(spark, sf_dir).toPandas()
            .sort_values("event_type").reset_index(drop=True)[list(got.columns)]
        )
        pd.testing.assert_frame_equal(got, want)
        # replay fence: re-applying any committed batch id is a no-op
        ingest_batch_cusum(spark, parts[2], state, batch_id=2, calib=calib)
        ingest_batch_cusum(spark, parts[0], state, batch_id=0, calib=calib)
        after = (
            read_cusum(spark, state).toPandas()
            .sort_values("event_type").reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(after, got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_first_seen_fold_split_fence_and_late_data(spark, sf_dir):
    """The fourth fold instance (first-seen MIN registry): a 3-way time
    split equals the one-shot batch aggregate, replaying an applied batch
    id is a no-op (n_events is not idempotent), and — unique to this fold
    — OUT-OF-ORDER ingestion still lands the true minimum, because the
    min-merge absorbs late data by algebra."""
    from cdc_postgresql_clickhouse_spark.streaming.fold import (
        ingest_batch_first_seen,
        read_first_seen,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    want = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("us").cast("long").alias("first_us"),
        )
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    t1, t2 = ev.agg(
        F.expr("percentile(us, 0.3333)"), F.expr("percentile(us, 0.6667)")
    ).first()
    b1 = ev.filter(F.col("us") <= t1)
    b2 = ev.filter((F.col("us") > t1) & (F.col("us") <= t2))
    b3 = ev.filter(F.col("us") > t2)

    def _canon_fs(df):
        return (
            df.toPandas()
            .sort_values("user_id")
            .reset_index(drop=True)[["user_id", "n_events", "first_us"]]
        )

    import pandas as _pd

    tmp = tempfile.mkdtemp(prefix="fold_first_")
    try:
        state = f"{tmp}/state"
        for i, p in enumerate((b1, b2, b3)):
            ingest_batch_first_seen(spark, p, state, batch_id=i)
        got = _canon_fs(read_first_seen(spark, state))
        _pd.testing.assert_frame_equal(got, want[got.columns])
        # replay fence: re-applying batch 2 then a stale batch 0 is a no-op
        ingest_batch_first_seen(spark, b3, state, batch_id=2)
        ingest_batch_first_seen(spark, b1, state, batch_id=0)
        _pd.testing.assert_frame_equal(_canon_fs(read_first_seen(spark, state)), got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # late-data law: ingesting the batches in REVERSE time order (fresh
    # batch ids, so the fence admits them) still yields the same registry
    tmp2 = tempfile.mkdtemp(prefix="fold_first_late_")
    try:
        state2 = f"{tmp2}/state"
        for i, p in enumerate((b3, b2, b1)):
            ingest_batch_first_seen(spark, p, state2, batch_id=i)
        _pd.testing.assert_frame_equal(_canon_fs(read_first_seen(spark, state2)), got)
    finally:
        shutil.rmtree(tmp2, ignore_errors=True)


def test_fold_batch_and_fenced_replay_job_counts(spark, sf_dir, tmp_path):
    """Spark jobs of one steady-state EWMA batch over an existing state and
    of its fenced replay. The batch runs the touched-bucket scan, the fence
    (one observed pass over the touched buckets, no shuffle) and the staged
    publish; the replay stops after the fence. No eager checkpoint of the
    state: the publish stages before it swaps."""
    ev = _rows(spark, sf_dir)
    t_med = ev.agg(F.expr("percentile(us, 0.5)")).first()[0]
    b1 = ev.filter(F.col("us") <= t_med)
    b2 = ev.filter(F.col("us") > t_med)
    state = str(tmp_path / "state")
    ingest_batch_ewma(spark, b1, state, batch_id=0)
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    steady = jobs(f"fold-{tmp_path.name}", lambda: ingest_batch_ewma(spark, b2, state, batch_id=1))
    replay = jobs(f"replay-{tmp_path.name}", lambda: ingest_batch_ewma(spark, b2, state, batch_id=1))
    assert (steady, replay) == (6, 2)
