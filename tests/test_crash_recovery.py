"""Crash-window recovery laws for the streaming sinks (ADVICE r6):

- every bucketed state writer commits through ``write_state``'s journaled
  bucket swap (stage the buckets, fsync a journal, rename each bucket in,
  clear the journal). A crash injected INTO that swap — after the first
  bucket rename, or before the journal is published — must replay to the
  exact uncrashed state: ``read_state`` rolls a torn swap forward (or
  drops an orphan staging dir) and the replayed batch merges idempotently.
  Covered for the flagship ``run_cdc_pipeline``, the SCD2 writer and the
  MV key table.
- the MV sinks (``streaming/mv.py``, ``streaming/join_mv.py``) commit two
  artifacts per batch — the atomically-published versioned MV and the
  bucketed key state. A crash BETWEEN the two must replay to the exact
  fully-committed state: the MV's own fence skips the non-idempotent delta
  merge, the idempotent key arg-max is re-applied.
- the fold sink (``streaming/fold.py``) fences PER BUCKET: a crash between
  two bucket renames leaves buckets at mixed batch ids, and the replay
  must apply the batch to ONLY the laggard buckets — a whole-batch
  max-fence skip would lose their events forever; a whole-batch re-apply
  would double-fold the committed buckets.
- a corrupt MV (manifest naming a missing version) must fail LOUDLY, never
  silently rebuild the aggregate from one batch's deltas.

The injected crashes patch ``os.rename`` / ``os.replace`` as the state
module sees them. The older tests simulate a crash on disk instead:
snapshot the key-state directory before a batch, run the batch to
completion, restore the snapshot (for the MV sinks: whole key state = crash
after MV publish, before key write; for the fold: a single bucket = a swap
that renamed every bucket but that one), and replay the same batch id."""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.sources.registry import load_table
from cdc_postgresql_clickhouse_spark.streaming.fold import (
    FOLD_BUCKETS,
    ingest_batch_ewma,
    read_ewma,
)
from cdc_postgresql_clickhouse_spark.streaming.mv import ingest_batch_mv, read_mv

_SCHEMA = "user_id long, us long, eid long, event_type string, cents long"


def _mv(spark, path) -> dict:
    return {
        r.last_event_type: (r.n_users, r.sum_cents)
        for r in read_mv(spark, path).collect()
    }


def _snapshot(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


def _restore(snapshot: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(snapshot, dst)


def test_mv_crash_between_publish_and_key_write_replays_exact(spark):
    """Crash window: MV published at batch 1, key state still at batch 0.
    The replay of batch 1 must NOT double-apply the deltas (the old
    key-fence design did exactly that: fence behind, MV ahead)."""
    tmp = tempfile.mkdtemp(prefix="mv_crash_")
    try:
        b0 = spark.createDataFrame(
            [(1, 10, 1, "view", 100), (2, 10, 2, "purchase", 200)], _SCHEMA
        )
        ingest_batch_mv(spark, b0, tmp, batch_id=0)
        keys = os.path.join(tmp, "keys")
        snap = os.path.join(tmp, "keys_snapshot")
        _snapshot(keys, snap)

        b1 = spark.createDataFrame(
            [(1, 20, 3, "purchase", 300), (3, 20, 4, "view", 50)], _SCHEMA
        )
        ingest_batch_mv(spark, b1, tmp, batch_id=1)
        want = _mv(spark, tmp)
        assert want == {"purchase": (2, 500), "view": (1, 50)}

        # crash: the key write of batch 1 never landed
        _restore(snap, keys)
        ingest_batch_mv(spark, b1, tmp, batch_id=1)  # foreachBatch replay
        assert _mv(spark, tmp) == want, "replay double-applied the deltas"

        # and the key state caught up: a subsequent batch behaves normally
        b2 = spark.createDataFrame([(3, 30, 5, "error", 0)], _SCHEMA)
        ingest_batch_mv(spark, b2, tmp, batch_id=2)
        assert _mv(spark, tmp) == {"purchase": (2, 500)}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(f"{tmp}.lock", ignore_errors=True)


def test_mv_corrupt_manifest_fails_loudly(spark):
    """A manifest naming a missing version directory is corruption and must
    raise — the old bare except rebuilt the aggregate from one batch."""
    tmp = tempfile.mkdtemp(prefix="mv_corrupt_")
    try:
        b0 = spark.createDataFrame([(1, 10, 1, "view", 100)], _SCHEMA)
        ingest_batch_mv(spark, b0, tmp, batch_id=0)
        shutil.rmtree(os.path.join(tmp, "mv", "v0"))
        with pytest.raises(RuntimeError, match="missing version"):
            read_mv(spark, tmp)
        b1 = spark.createDataFrame([(1, 20, 2, "purchase", 300)], _SCHEMA)
        with pytest.raises(RuntimeError, match="missing version"):
            ingest_batch_mv(spark, b1, tmp, batch_id=1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(f"{tmp}.lock", ignore_errors=True)


def _fold_rows(spark, sf_dir):
    return load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.col("event_id").alias("eid"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )


def _fold_canon(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)[["user_id", "n_events", "last_cents", "ewma_cents"]]
    )


def test_fold_torn_bucket_overwrite_replays_only_laggards(spark, sf_dir):
    """Crash window: batch 1's bucket swap committed all buckets
    EXCEPT one, which is restored to its batch-0 content. The replay must
    (a) re-fold batch 1 into the torn bucket and (b) leave the committed
    buckets untouched — the final state equals the uncrashed run
    bit-for-bit. A max-fence would skip the whole batch and lose the torn
    bucket's events; an unfenced re-apply would double-fold the rest."""
    ev = _fold_rows(spark, sf_dir)
    mid = ev.agg(F.expr("percentile(us, 0.5)")).first()[0]
    b0, b1 = ev.filter(F.col("us") <= mid), ev.filter(F.col("us") > mid)
    tmp = tempfile.mkdtemp(prefix="fold_crash_")
    try:
        state, ref = os.path.join(tmp, "state"), os.path.join(tmp, "ref")
        for path in (state, ref):
            ingest_batch_ewma(spark, b0, path, batch_id=0)
            ingest_batch_ewma(spark, b1, path, batch_id=1)
        want = _fold_canon(read_ewma(spark, ref))

        # tear ONE bucket of `state` back to its batch-0 content (a third
        # state dir ingests only batch 0 to provide the pre-crash bytes)
        torn = next(
            bk
            for bk in range(FOLD_BUCKETS)
            if os.path.isdir(os.path.join(state, f"__bucket={bk}"))
        )
        pre = os.path.join(tmp, "pre_crash")
        ingest_batch_ewma(spark, b0, pre, batch_id=0)
        _restore(
            os.path.join(pre, f"__bucket={torn}"),
            os.path.join(state, f"__bucket={torn}"),
        )

        ingest_batch_ewma(spark, b1, state, batch_id=1)  # replay
        got = _fold_canon(read_ewma(spark, state))
        pd.testing.assert_frame_equal(got, want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_join_mv_crash_between_publish_and_key_write_replays_exact(spark):
    """Same crash window for the bilinear sink (streaming/join_mv.py):
    MV published, two-sided key state restored to the previous batch —
    the replay must not double-apply the pair deltas."""
    from cdc_postgresql_clickhouse_spark.streaming.join_mv import (
        ingest_batch_join_mv,
        read_join_mv,
    )

    def mv(path):
        return {
            (r.a_type, r.b_type): (r.n_pairs, r.sum_a_cents)
            for r in read_join_mv(spark, path).collect()
        }

    tmp = tempfile.mkdtemp(prefix="jmv_crash_")
    try:
        # A side = even eids, B side = odd
        b0 = spark.createDataFrame(
            [(1, 10, 2, "view", 100), (1, 10, 3, "click", 0)], _SCHEMA
        )
        ingest_batch_join_mv(spark, b0, tmp, batch_id=0)
        assert mv(tmp) == {("view", "click"): (1, 100)}
        keys = os.path.join(tmp, "keys")
        snap = os.path.join(tmp, "keys_snapshot")
        _snapshot(keys, snap)

        # A migrates view -> purchase (retract old pair, add new one)
        b1 = spark.createDataFrame([(1, 20, 4, "purchase", 300)], _SCHEMA)
        ingest_batch_join_mv(spark, b1, tmp, batch_id=1)
        want = mv(tmp)
        assert want == {("purchase", "click"): (1, 300)}

        _restore(snap, keys)  # crash: key write of batch 1 never landed
        ingest_batch_join_mv(spark, b1, tmp, batch_id=1)  # replay
        assert mv(tmp) == want, "replay double-applied the pair deltas"

        # key state caught up: the B side can still retract the pair
        b2 = spark.createDataFrame([(1, 30, 5, "error", 0)], _SCHEMA)
        ingest_batch_join_mv(spark, b2, tmp, batch_id=2)
        assert mv(tmp) == {}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(f"{tmp}.lock", ignore_errors=True)


def test_session_fold_torn_bucket_replays_only_laggards(spark, sf_dir):
    """The per-bucket fence applies to the second fold instance too: tear
    one bucket of the capped-session state back to batch 0 and replay —
    final state equals the uncrashed run."""
    from cdc_postgresql_clickhouse_spark.streaming.fold import (
        ingest_batch_sessions,
        read_sessions,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.col("event_id").alias("eid"),
    ).select(
        "user_id", F.expr("us div 1000000").cast("long").alias("es"), "eid"
    )
    mid = ev.agg(F.expr("percentile(es, 0.5)")).first()[0]
    b0, b1 = ev.filter(F.col("es") <= mid), ev.filter(F.col("es") > mid)

    def canon(df):
        return (
            df.toPandas()
            .sort_values("user_id")
            .reset_index(drop=True)[
                ["user_id", "n_events", "n_sessions_gap", "n_sessions_capped"]
            ]
        )

    tmp = tempfile.mkdtemp(prefix="sess_crash_")
    try:
        state, ref, pre = (os.path.join(tmp, n) for n in ("state", "ref", "pre"))
        for path in (state, ref):
            ingest_batch_sessions(spark, b0, path, batch_id=0)
            ingest_batch_sessions(spark, b1, path, batch_id=1)
        want = canon(read_sessions(spark, ref))
        ingest_batch_sessions(spark, b0, pre, batch_id=0)
        torn = next(
            bk
            for bk in range(FOLD_BUCKETS)
            if os.path.isdir(os.path.join(state, f"__bucket={bk}"))
        )
        _restore(
            os.path.join(pre, f"__bucket={torn}"),
            os.path.join(state, f"__bucket={torn}"),
        )
        ingest_batch_sessions(spark, b1, state, batch_id=1)  # replay
        pd.testing.assert_frame_equal(canon(read_sessions(spark, state)), want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_direct_read_state_heals_torn_journaled_swap(spark, sf_dir):
    """ADVICE r8: a caller using the GENERIC ``read_state`` directly on a
    bucket-swapped state dir whose last publish crashed between rmtree(dst)
    and rename must still see the committed state — the journal roll-forward
    now lives in ``read_state`` itself, not only in fold.py's wrappers.
    Simulated crash: one journaled bucket is still in the staging dir and
    its table directory is missing entirely."""
    import json

    from cdc_postgresql_clickhouse_spark.operators.state import (
        _SCHEMA_RECORD,
        _SWAP_JOURNAL,
        read_state,
    )

    ev = _fold_rows(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="heal_read_")
    try:
        state = os.path.join(tmp, "state")
        ingest_batch_ewma(spark, ev, state, batch_id=0)
        want = _fold_canon(read_ewma(spark, state))
        record = os.path.join(state, _SCHEMA_RECORD)
        assert os.path.exists(record)
        columns = read_state(spark, state).columns

        # tear the swap: move one bucket back into a staging root, delete
        # its table dir, and journal the pending swap (the exact on-disk
        # shape of a crash between write_state's rmtree and rename)
        torn = next(
            f"__bucket={bk}"
            for bk in range(FOLD_BUCKETS)
            if os.path.isdir(os.path.join(state, f"__bucket={bk}"))
        )
        staged = f"{os.path.abspath(state)}.staged"
        os.makedirs(staged, exist_ok=True)
        shutil.move(os.path.join(state, torn), os.path.join(staged, torn))
        with open(os.path.join(state, _SWAP_JOURNAL), "w") as fh:
            json.dump({"buckets": [torn], "staged": staged}, fh)

        # a direct read (no fold wrapper, no prior recover call) must heal:
        # full state back, journal and staging dir gone. The journal has no
        # schema (the format from before the schema record existed), so the
        # roll-forward removes the record and the table is read by inference
        healed = read_state(spark, state)
        assert healed is not None
        assert not os.path.exists(record)
        assert healed.columns == columns
        got = _fold_canon(
            healed.select(
                "user_id", "n_events",
                F.col("last_c").alias("last_cents"),
                F.col("acc").alias("ewma_cents"),
            )
        )
        pd.testing.assert_frame_equal(got, want)
        assert not os.path.exists(os.path.join(state, _SWAP_JOURNAL))
        assert not os.path.exists(staged)
        assert os.path.isdir(os.path.join(state, torn))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(f"{tmp}.lock", ignore_errors=True)


def test_mv_reader_stalled_across_two_publishes_still_reads(spark):
    """VERDICT r8: generation-only retention deleted a stalled reader's
    version directory once TWO publishes landed behind it. With the
    MV_RETAIN_SECS age window, a lazy DataFrame resolved before two rapid
    publishes still collects its (pinned, old-version) rows; versions older
    than the window are still vacuumed (mtime aged artificially)."""
    from cdc_postgresql_clickhouse_spark.streaming.mvstore import (
        MV_RETAIN_SECS,
    )

    tmp = tempfile.mkdtemp(prefix="mv_stall_")
    try:
        b0 = spark.createDataFrame([(1, 10, 1, "view", 100)], _SCHEMA)
        ingest_batch_mv(spark, b0, tmp, batch_id=0)
        stalled = read_mv(spark, tmp)  # lazy: pins v0's directory listing

        b1 = spark.createDataFrame([(2, 20, 2, "purchase", 200)], _SCHEMA)
        ingest_batch_mv(spark, b1, tmp, batch_id=1)
        b2 = spark.createDataFrame([(3, 30, 3, "click", 0)], _SCHEMA)
        ingest_batch_mv(spark, b2, tmp, batch_id=2)

        # two publishes behind, within the retention window: the stalled
        # reader still sees exactly the v0 aggregate
        got = {r.last_event_type: (r.n_users, r.sum_cents) for r in stalled.collect()}
        assert got == {"view": (1, 100)}
        # and a fresh read resolves the live version
        assert _mv(spark, tmp) == {
            "view": (1, 100), "purchase": (1, 200), "click": (1, 0)
        }

        # age v0 past the window: the next publish vacuums it (the
        # documented long-stall contract: fail loudly, re-read)
        mv_root = os.path.join(tmp, "mv")
        old = os.path.join(mv_root, "v0")
        assert os.path.isdir(old)
        past = __import__("time").time() - MV_RETAIN_SECS - 60
        os.utime(old, (past, past))
        b3 = spark.createDataFrame([(4, 40, 4, "view", 10)], _SCHEMA)
        ingest_batch_mv(spark, b3, tmp, batch_id=3)
        assert not os.path.isdir(old), "expired version was not vacuumed"
        # the immediately previous generation is always kept
        assert os.path.isdir(os.path.join(mv_root, "v2"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(f"{tmp}.lock", ignore_errors=True)


def _tear_one_bucket(state: str) -> tuple[str, str]:
    """Move one bucket of a published state back into a staging root and
    journal the pending swap — the exact on-disk shape of a crash between
    write_state's rmtree and rename. Returns (bucket_dir, staged)."""
    import json

    from cdc_postgresql_clickhouse_spark.operators.state import _SWAP_JOURNAL

    torn = next(
        f"__bucket={bk}"
        for bk in range(FOLD_BUCKETS)
        if os.path.isdir(os.path.join(state, f"__bucket={bk}"))
    )
    staged = f"{os.path.abspath(state)}.staged"
    os.makedirs(staged, exist_ok=True)
    shutil.move(os.path.join(state, torn), os.path.join(staged, torn))
    with open(os.path.join(state, _SWAP_JOURNAL), "w") as fh:
        json.dump({"buckets": [torn], "staged": staged}, fh)
    return torn, staged


def test_read_state_under_own_lock_heals_torn_journal(spark, sf_dir):
    """ADVICE r9: read_state called while the CALLER holds the state lock
    (every ingest path) must heal a leftover torn journal directly under
    that lock — the former behavior re-acquired the non-reentrant O_EXCL
    lock and raised StateLockError against the caller's own fence, with a
    message directing the operator to break a LIVE lock."""
    from cdc_postgresql_clickhouse_spark.operators.state import (
        _SWAP_JOURNAL,
        _state_lock,
        read_state,
    )

    ev = _fold_rows(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="own_lock_heal_")
    try:
        state = os.path.join(tmp, "state")
        ingest_batch_ewma(spark, ev, state, batch_id=0)
        torn, staged = _tear_one_bucket(state)
        with _state_lock(state):
            healed = read_state(spark, state)  # must not raise
            assert healed is not None
        assert not os.path.exists(os.path.join(state, _SWAP_JOURNAL))
        assert not os.path.exists(staged)
        assert os.path.isdir(os.path.join(state, torn))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_mutators_heal_torn_journal_inside_own_lock(spark):
    """ADVICE r9: upsert_changes_bucketed / compact_state on a table left
    with a torn publish journal must roll the swap forward inside their own
    locked section and proceed — the former code's read_state saw the
    journal, re-acquired the non-reentrant lock, and raised StateLockError
    against the caller's OWN fence."""
    import json

    from cdc_postgresql_clickhouse_spark.operators.state import (
        _SWAP_JOURNAL,
        compact_state,
        read_state,
        upsert_changes_bucketed,
    )

    rows = spark.createDataFrame(
        [(f"b{i}", i, i * 10, 0) for i in range(1, 9)],
        "booking_id string, version long, ts_ms long, is_deleted int",
    )
    tmp = tempfile.mkdtemp(prefix="mutator_heal_")
    try:
        state = os.path.join(tmp, "state")
        upsert_changes_bucketed(spark, rows, state, key_buckets=4)
        want = read_state(spark, state).count()

        def tear() -> None:
            torn = next(
                d for d in sorted(os.listdir(state)) if d.startswith("__bucket=")
            )
            staged = f"{os.path.abspath(state)}.staged"
            os.makedirs(staged, exist_ok=True)
            shutil.move(os.path.join(state, torn), os.path.join(staged, torn))
            with open(os.path.join(state, _SWAP_JOURNAL), "w") as fh:
                json.dump({"buckets": [torn], "staged": staged}, fh)

        tear()
        # replaying the same batch over the torn table must heal + proceed
        upsert_changes_bucketed(spark, rows, state, key_buckets=4)
        assert not os.path.exists(os.path.join(state, _SWAP_JOURNAL))
        assert read_state(spark, state).count() == want

        tear()
        compact_state(spark, state, key_buckets=4)  # must not raise either
        assert not os.path.exists(os.path.join(state, _SWAP_JOURNAL))
        assert read_state(spark, state).count() == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_lock_free_read_raises_on_live_foreign_lock(spark, sf_dir):
    """ADVICE r9: a lock-free read_state now takes the lock UNCONDITIONALLY
    (the former exists(journal) check could run before a live publish wrote
    its journal and then plan over a half-swapped directory). A live foreign
    lock therefore makes the read raise StateLockError instead of racing."""
    from cdc_postgresql_clickhouse_spark.operators.state import (
        StateLockError,
        read_state,
    )

    ev = _fold_rows(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="foreign_lock_read_")
    try:
        state = os.path.join(tmp, "state")
        ingest_batch_ewma(spark, ev, state, batch_id=0)
        lock = f"{os.path.abspath(state)}.lock"
        with open(lock, "w") as fh:  # simulate another live mutator's fence
            fh.write("999999")
        try:
            with pytest.raises(StateLockError):
                read_state(spark, state)
        finally:
            os.remove(lock)
        assert read_state(spark, state) is not None  # lock gone: reads fine
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_read_from_another_thread_hits_the_lock_not_the_swap(spark, sf_dir):
    """Lock ownership is per thread. foreachBatch runs on a callback thread,
    so a read on the caller's thread while a batch holds the lock must raise
    StateLockError. It must not treat the batch's lock as its own and roll
    the live journal forward under the batch's bucket swap, nor read the
    schema record the swap is rewriting: the record is read under the lock."""
    import threading

    from cdc_postgresql_clickhouse_spark.operators.state import (
        _SCHEMA_RECORD,
        _SWAP_JOURNAL,
        StateLockError,
        _state_lock,
        read_state,
    )

    ev = _fold_rows(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="thread_lock_read_")
    try:
        state = os.path.join(tmp, "state")
        ingest_batch_ewma(spark, ev, state, batch_id=0)
        torn, staged = _tear_one_bucket(state)  # a swap in flight
        record = os.path.join(state, _SCHEMA_RECORD)
        held, release = threading.Event(), threading.Event()

        def batch() -> None:
            with _state_lock(state):
                # the record of the swap in flight, caught half-written
                with open(record) as fh:
                    whole = fh.read()
                with open(record, "w") as fh:
                    fh.write(whole[: len(whole) // 2])
                held.set()
                release.wait(30)
                with open(record, "w") as fh:
                    fh.write(whole)

        t = threading.Thread(target=batch)
        t.start()
        try:
            assert held.wait(30)
            # the record is read under the lock, so the reader stops at the
            # lock and never parses the half-written record
            with pytest.raises(StateLockError):
                read_state(spark, state)
            # the in-flight swap was left alone
            assert os.path.exists(os.path.join(state, _SWAP_JOURNAL))
            assert os.path.isdir(os.path.join(staged, torn))
        finally:
            release.set()
            t.join()
        assert read_state(spark, state) is not None  # lock released: heals
        assert not os.path.exists(os.path.join(state, _SWAP_JOURNAL))
        assert os.path.isdir(os.path.join(state, torn))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_lock_free_read_on_never_written_state(spark, tmp_path):
    """Regression (r10): the unconditional reader lock is a SIBLING file of
    the table dir — on a first-ever read (stream reads state before batch 1
    writes it) the parent directory does not exist and the O_EXCL open used
    to die with FileNotFoundError instead of returning the no-state None."""
    from cdc_postgresql_clickhouse_spark.operators.state import read_state

    path = str(tmp_path / "never" / "state" / "keys")
    assert read_state(spark, path) is None
    # and the lock was released: a second read works too
    assert read_state(spark, path) is None


# --- crash injected into the journaled bucket swap ---------------------------


def _golden_pipeline(spark, root):
    """The flagship path: the golden DML walkthrough as two envelope files,
    drained through ``run_cdc_pipeline`` one file per trigger."""
    import json

    from cdc_postgresql_clickhouse_spark.operators.state import (
        current_state,
        read_state,
    )
    from cdc_postgresql_clickhouse_spark.sources.envelope import (
        golden_workload_envelopes,
    )
    from cdc_postgresql_clickhouse_spark.streaming.pipeline import run_cdc_pipeline

    events = golden_workload_envelopes()
    chunks = [events[:15], events[15:]]
    src = os.path.join(root, "src")
    os.makedirs(src, exist_ok=True)

    def add(i):
        with open(os.path.join(src, f"batch{i}.json"), "w") as fh:
            fh.writelines(json.dumps(e) + "\n" for e in chunks[i])

    def drain(state, ckpt):
        run_cdc_pipeline(spark, src, state, ckpt, max_files_per_trigger=1)

    def final(state):
        return sorted(map(str, current_state(read_state(spark, state)).collect()))

    return add, drain, final, lambda state: state


def _scd2_writer(spark, root):
    from cdc_postgresql_clickhouse_spark.streaming.scd2 import (
        read_scd2,
        run_incremental_scd2,
    )

    schema = "user_id long, event_id long, event_type string, value double, es long"
    chunks = [
        [(u, u, "view", float(u), 100 + u) for u in range(1, 9)],
        # new users, later changes, and late rows spliced mid-chain
        [(u, 100 + u, "purchase", u * 2.5, 50 + u * 20) for u in range(1, 13)],
    ]
    src = os.path.join(root, "src")

    def add(i):
        spark.createDataFrame(chunks[i], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def drain(state, ckpt):
        run_incremental_scd2(spark, src, state, ckpt, max_files_per_trigger=1)

    def final(state):
        return sorted(map(str, read_scd2(spark, state).collect()))

    return add, drain, final, lambda state: state


def _mv_writer(spark, root):
    from cdc_postgresql_clickhouse_spark.operators.state import read_state
    from cdc_postgresql_clickhouse_spark.streaming.mv import run_incremental_mv

    chunks = [
        [(u, 10, u, "view", 100 * u) for u in range(1, 9)],
        [(u, 20, 100 + u, "purchase" if u % 3 else "error", 7 * u) for u in range(1, 13)],
    ]
    src = os.path.join(root, "src")

    def add(i):
        spark.createDataFrame(chunks[i], _SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def drain(state, ckpt):
        run_incremental_mv(spark, src, state, ckpt, max_files_per_trigger=1)

    def final(state):
        keys = read_state(spark, os.path.join(state, "keys"))
        return sorted(map(str, read_mv(spark, state).collect())) + sorted(
            map(str, keys.collect())
        )

    return add, drain, final, lambda state: os.path.join(state, "keys")


class _InjectedCrash(RuntimeError):
    pass


def _arm_crash(m, point: str) -> list:
    """Patch the state module's ``os`` so the next bucket swap dies at
    ``point``; returns the list the fake appends to when it fires."""
    from cdc_postgresql_clickhouse_spark.operators import state as state_mod

    fired: list = []
    if point == "mid_swap":  # after the first bucket rename
        real_rename, renamed = os.rename, []

        def rename(src, dst):
            if os.path.dirname(src).endswith(".staged"):
                if renamed:
                    fired.append(dst)
                    raise _InjectedCrash(f"injected crash before renaming {dst}")
                renamed.append(dst)
            real_rename(src, dst)

        m.setattr(state_mod.os, "rename", rename)
    else:
        # "pre_journal": the staged write finished, the journal never lands;
        # "pre_record": every bucket is swapped, the schema record never lands
        target = state_mod._SWAP_JOURNAL if point == "pre_journal" else state_mod._SCHEMA_RECORD
        real_replace = os.replace

        def replace(src, dst):
            if str(dst).endswith(target):
                fired.append(dst)
                raise _InjectedCrash(f"injected crash before publishing {target}")
            real_replace(src, dst)

        m.setattr(state_mod.os, "replace", replace)
    return fired


@pytest.mark.parametrize("point", ["mid_swap", "pre_journal", "pre_record"])
@pytest.mark.parametrize(
    "writer", [_golden_pipeline, _scd2_writer, _mv_writer], ids=["pipeline", "scd2", "mv_keys"]
)
def test_crash_inside_bucket_swap_replays_to_uncrashed_state(
    spark, tmp_path, monkeypatch, writer, point
):
    """Kill the second micro-batch inside its bucket publish — after the
    first bucket rename (a torn swap, journal on disk), before the journal
    is published (an orphan staging dir), or after every rename but before
    the schema record is replaced (journal on disk) — then restart on the
    same checkpoint: the replayed batch must land on exactly the state and
    the schema record (its unique key included) an uncrashed run reaches,
    with no older key of a swapped bucket lost."""
    import json

    from pyspark.errors import StreamingQueryException

    from cdc_postgresql_clickhouse_spark.operators.state import (
        _SCHEMA_RECORD,
        _SWAP_JOURNAL,
    )

    add, drain, final, table = writer(spark, str(tmp_path))
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    add(0)
    drain(state, ckpt)  # batch 0 commits
    add(1)
    with monkeypatch.context() as m:
        fired = _arm_crash(m, point)
        with pytest.raises(StreamingQueryException, match="injected crash"):
            drain(state, ckpt)  # batch 1 dies mid-publish
    assert fired, "the injected crash never fired"
    staged = f"{os.path.abspath(table(state))}.staged"
    journal = os.path.join(table(state), _SWAP_JOURNAL)
    assert os.path.isdir(staged)
    assert os.path.exists(journal) == (point != "pre_journal")

    drain(state, ckpt)  # restart: batch 1 replays on the same checkpoint
    assert not os.path.exists(journal) and not os.path.exists(staged)

    control = str(tmp_path / "control")
    drain(control, str(tmp_path / "control_ckpt"))
    assert final(state) == final(control)

    def record(root):
        with open(os.path.join(table(root), _SCHEMA_RECORD)) as fh:
            return json.load(fh)

    # the record equality covers the unique key: the pipeline's upsert
    # records its key again on the replay, the other writers record none
    assert record(state) == record(control)
    unique = ["booking_id"] if writer is _golden_pipeline else None
    assert record(state).get("unique_key") == unique
