"""End-to-end Structured Streaming pipeline test (survey §3.1 Spark redesign):
file-source envelopes → transform → foreachBatch upsert → state table."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.operators.state import current_state
from cdc_postgresql_clickhouse_spark.sources.envelope import golden_workload_envelopes
from cdc_postgresql_clickhouse_spark.streaming.pipeline import run_cdc_pipeline


def test_streaming_pipeline_golden(spark, tmp_path):
    env_dir = str(tmp_path / "envelopes")
    os.makedirs(env_dir)
    events = golden_workload_envelopes()
    # two files → at least two input splits; availableNow drains them
    for fi, chunk in enumerate([events[:15], events[15:]]):
        with open(os.path.join(env_dir, f"batch{fi}.json"), "w") as f:
            for e in chunk:
                f.write(json.dumps(e) + "\n")

    state_path = str(tmp_path / "state")
    run_cdc_pipeline(spark, env_dir, state_path, str(tmp_path / "ckpt"))

    state = spark.read.parquet(state_path)
    final = state.filter(F.col("is_deleted") == 0)
    assert final.count() == 6
    assert {r["booking_id"] for r in final.select("booking_id").collect()} == {
        "b1", "b2", "b7", "b8", "b9", "b10"
    }
    # tombstones retained in the log-structured state (pre-FINAL semantics)
    assert state.count() == 13

    # re-running with a fresh checkpoint replays everything: must be a no-op
    run_cdc_pipeline(spark, env_dir, state_path, str(tmp_path / "ckpt2"))
    assert current_state(spark.read.parquet(state_path), keep_internal=False).count() == 6


def test_bucketed_upsert_rewrites_only_dirty_buckets(spark, tmp_path):
    """The 100 TB contract: a micro-batch rewrites ONLY the key-hash buckets
    containing its keys; every other bucket's files stay byte-identical."""
    import glob

    from cdc_postgresql_clickhouse_spark.operators.state import (
        read_state,
        upsert_changes_bucketed,
        write_state,
    )

    schema = "booking_id string, version long, ts_ms long, is_deleted int, status string"
    path = str(tmp_path / "state")
    base = spark.createDataFrame(
        [(f"b{i}", 1, 0, 0, "Open") for i in range(50)], schema
    )
    write_state(base, path, key_buckets=8)

    def snap():
        out = {}
        for f in glob.glob(os.path.join(path, "__bucket=*", "part-*")):
            with open(f, "rb") as fh:
                out[f] = fh.read()
        return out

    before = snap()
    assert len(before) >= 4  # keys spread over several buckets
    upd = spark.createDataFrame([("b7", 2, 1, 0, "Closed")], schema)
    touched = upsert_changes_bucketed(spark, upd, path, key_buckets=8)
    assert len(touched) == 1
    after = snap()
    untouched = [f for f in before if f"__bucket={touched[0]}/" not in f]
    assert untouched, "expected untouched buckets"
    for f in untouched:
        assert f in after and after[f] == before[f], f"bucket file rewritten: {f}"
    final = read_state(spark, path)
    assert final.count() == 50
    assert final.filter(F.col("booking_id") == "b7").collect()[0]["status"] == "Closed"


def test_bucketed_upsert_runs_one_shuffle(spark, tmp_path, monkeypatch):
    """One upsert into an existing 16-bucket state runs at most 3 Spark jobs
    (the touched-bucket observation, the one shuffle, the write; the state
    read takes its schema from the commit's record and runs none), and the
    frame the bucket publish writes has exactly one Exchange: the arg-max
    shares its shuffle with the publish, and no checkpoint runs."""
    from pyspark.sql.readwriter import DataFrameWriter

    from cdc_postgresql_clickhouse_spark.operators.state import (
        read_state,
        upsert_changes_bucketed,
        write_state,
    )
    from cdc_postgresql_clickhouse_spark.plans.inspect import shuffle_count

    schema = "booking_id string, version long, ts_ms long, is_deleted int, status string"
    path = str(tmp_path / "state")
    write_state(
        spark.createDataFrame([(f"b{i}", 1, 0, 0, "Open") for i in range(400)], schema),
        path,
        key_buckets=16,
    )
    upd = spark.createDataFrame([(f"b{i}", 2, 1, 0, "Closed") for i in range(0, 400, 7)], schema)

    published = []
    parquet = DataFrameWriter.parquet

    def spy(self, out_path, *args, **kwargs):
        published.append(self._df)
        return parquet(self, out_path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    sc = spark.sparkContext
    group = f"pin-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        upsert_changes_bucketed(spark, upd, path, key_buckets=16)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    monkeypatch.undo()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 3, jobs
    assert len(published) == 1
    assert shuffle_count(published[0]) == 1
    final = read_state(spark, path)
    assert final.count() == 400
    assert final.filter(F.col("status") == "Closed").count() == len(range(0, 400, 7))


def test_pipeline_state_read_runs_no_argmax(spark, tmp_path):
    """A pipeline-written table's commit records one row per key, so
    ``current_state(read_state(p))`` plans no aggregate and no
    ``Exchange`` (the arg-max's SortAggregate and its shuffle on the key
    are gone), a point read runs one Spark job (the arg-max read ran two),
    and the rows equal the arg-max read's."""
    from cdc_postgresql_clickhouse_spark.operators.state import read_state
    from cdc_postgresql_clickhouse_spark.plans.inspect import formatted_plan, shuffle_count

    env_dir = str(tmp_path / "envelopes")
    os.makedirs(env_dir)
    with open(os.path.join(env_dir, "batch.json"), "w") as f:
        for e in golden_workload_envelopes():
            f.write(json.dumps(e) + "\n")
    state_path = str(tmp_path / "state")
    run_cdc_pipeline(spark, env_dir, state_path, str(tmp_path / "ckpt"))

    live = current_state(read_state(spark, state_path))
    assert "Aggregate" not in formatted_plan(live)
    assert shuffle_count(live) == 0
    # select("*") derives a frame with no recorded key: the arg-max read
    argmax = current_state(read_state(spark, state_path).select("*"))
    assert "Aggregate" in formatted_plan(argmax)
    assert sorted(map(tuple, live.collect())) == sorted(map(tuple, argmax.collect()))
    assert live.count() == 6

    sc = spark.sparkContext
    group = f"point-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        rows = (
            current_state(read_state(spark, state_path))
            .filter(F.col("booking_id") == "b1")
            .select("booking_id", "version")
            .collect()
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r["booking_id"] for r in rows] == ["b1"]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_pipeline_single_source_scan(spark, tmp_path):
    """DLQ split happens inside the main micro-batch: no second readStream,
    no separate DLQ checkpoint."""
    env_dir = str(tmp_path / "envelopes")
    os.makedirs(env_dir)
    with open(os.path.join(env_dir, "batch.json"), "w") as f:
        for e in golden_workload_envelopes():
            f.write(json.dumps(e) + "\n")
        f.write('{"broken json\n')
    state_path = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    dlq = str(tmp_path / "dlq")
    run_cdc_pipeline(spark, env_dir, state_path, ckpt, dlq_path=dlq)
    assert not os.path.exists(f"{ckpt}-dlq")  # old design: second stream + ckpt
    assert spark.read.json(dlq).count() == 1
    assert current_state(spark.read.parquet(state_path)).count() == 6


def test_multi_batch_pipeline_incremental_buckets(spark, tmp_path):
    """Through the REAL streaming path (one file per trigger): batch 2 only
    rewrites the buckets its keys hash to; the final state still matches the
    one-shot golden result."""
    import glob

    env_dir = str(tmp_path / "envelopes")
    os.makedirs(env_dir)
    events = golden_workload_envelopes()
    with open(os.path.join(env_dir, "batch0.json"), "w") as f:
        for e in events[:-1]:
            f.write(json.dumps(e) + "\n")
    state_path = str(tmp_path / "state")
    run_cdc_pipeline(spark, env_dir, state_path, str(tmp_path / "ckpt"),
                     max_files_per_trigger=1)

    def snap():
        return {
            f: open(f, "rb").read()
            for f in glob.glob(os.path.join(state_path, "__bucket=*", "part-*"))
        }

    before = snap()
    # second file: ONE event (the last delete) — same checkpoint continues
    with open(os.path.join(env_dir, "batch1.json"), "w") as f:
        f.write(json.dumps(events[-1]) + "\n")
    run_cdc_pipeline(spark, env_dir, state_path, str(tmp_path / "ckpt"),
                     max_files_per_trigger=1)
    after = snap()
    changed = [f for f in before if f not in after or after[f] != before[f]]
    # the single-key batch must touch at most one bucket's files
    touched_dirs = {os.path.dirname(f) for f in changed}
    assert len(touched_dirs) <= 1, touched_dirs
    assert current_state(spark.read.parquet(state_path)).count() == 6


def test_continuous_pipeline_returns_a_query_the_caller_can_stop(spark, tmp_path):
    """Continuous (processing-time) mode hands back its StreamingQuery: the
    caller drains it with processAllAvailable(), stops it, and the state
    equals the one-shot golden result."""
    from cdc_postgresql_clickhouse_spark.operators.cdc_transform import (
        changes_to_state_updates,
    )
    from cdc_postgresql_clickhouse_spark.operators.state import (
        consistency_check,
        read_state,
    )
    from cdc_postgresql_clickhouse_spark.sources.envelope import golden_workload_df

    env_dir = str(tmp_path / "envelopes")
    os.makedirs(env_dir)
    events = golden_workload_envelopes()
    for fi, chunk in enumerate([events[:15], events[15:]]):
        with open(os.path.join(env_dir, f"batch{fi}.json"), "w") as f:
            for e in chunk:
                f.write(json.dumps(e) + "\n")
    state_path = str(tmp_path / "state")

    q = run_cdc_pipeline(
        spark, env_dir, state_path, str(tmp_path / "ckpt"),
        available_now=False, trigger_processing_time="200 milliseconds",
    )
    try:
        assert q.isActive
        q.processAllAvailable()
    finally:
        q.stop()
    assert not q.isActive
    assert q.lastProgress is not None

    got = current_state(read_state(spark, state_path))
    want = current_state(changes_to_state_updates(golden_workload_df(spark)))
    assert got.count() == 6
    assert consistency_check(got, want)


# An envelope whose after-image has a mistyped field: the JSON parser flags
# the record corrupt but salvages the fields it could read, the op among
# them. A syntactically truncated envelope, by contrast, parses to no op.
_SALVAGED = json.dumps(
    {
        "op": "u",
        "ts_ms": 1700000009999,
        "source": {"sequence": "x", "lsn": 999},
        "after": {"id": 1, "booking_id": "b1", "status": "Hijacked", "is_deleted": 7},
    }
)
_TRUNCATED = _SALVAGED[: _SALVAGED.index('"Hijacked"') + 5]


def test_salvaged_corrupt_envelope_is_a_dead_letter_at_both_decoders(spark, tmp_path):
    """A corrupt record whose op survived parsing is dead at both decode
    sites — the streaming pipeline and ``decode_json_envelopes_with_dlq`` —
    and never upserts its partial after-image."""
    from cdc_postgresql_clickhouse_spark.sources.envelope import (
        decode_json_envelopes_with_dlq,
    )

    env_dir = str(tmp_path / "envelopes")
    os.makedirs(env_dir)
    with open(os.path.join(env_dir, "batch.json"), "w") as f:
        for e in golden_workload_envelopes():
            f.write(json.dumps(e) + "\n")
        f.write(_SALVAGED + "\n")
        f.write(_TRUNCATED + "\n")
        f.write(json.dumps({"op": "t", "ts_ms": 1, "source": {"lsn": 1000}}) + "\n")
    state_path, dlq = str(tmp_path / "state"), str(tmp_path / "dlq")
    run_cdc_pipeline(spark, env_dir, state_path, str(tmp_path / "ckpt"), dlq_path=dlq)
    assert spark.read.json(dlq).count() == 3
    live = {r["booking_id"]: r["status"] for r in current_state(spark.read.parquet(state_path)).collect()}
    assert len(live) == 6 and live["b1"] == "Open", live

    raw = spark.createDataFrame(
        [(_SALVAGED,), (_TRUNCATED,), (json.dumps(golden_workload_envelopes()[0]),)],
        "value string",
    )
    valid, dead = decode_json_envelopes_with_dlq(raw)
    assert dead.count() == 2
    rows = valid.collect()
    assert [r["op"] for r in rows] == ["r"]
    assert "_corrupt_record" not in valid.columns


def test_dlq_reads_back_under_its_schema(spark, tmp_path):
    """Both DLQ writers produce ``DLQ_SCHEMA`` rows, so a DLQ reads back
    under it (no JSON inference pass) with every raw record kept."""
    from cdc_postgresql_clickhouse_spark.sources.envelope import (
        DLQ_REASON,
        DLQ_SCHEMA,
        decode_json_envelopes_with_dlq,
    )

    env_dir = str(tmp_path / "envelopes")
    os.makedirs(env_dir)
    bad = ['{"broken json', '{"valid": "json, but not an envelope"}', _SALVAGED, _TRUNCATED]
    with open(os.path.join(env_dir, "batch.json"), "w") as f:
        for e in golden_workload_envelopes():
            f.write(json.dumps(e) + "\n")
        for line in bad:
            f.write(line + "\n")
    dlq = str(tmp_path / "dlq")
    run_cdc_pipeline(spark, env_dir, str(tmp_path / "state"), str(tmp_path / "ckpt"), dlq_path=dlq)
    dead = spark.read.schema(DLQ_SCHEMA).json(dlq)
    assert sorted(spark.read.json(dlq).columns) == sorted(DLQ_SCHEMA.fieldNames())
    rows = dead.collect()
    assert len(rows) == len(bad)
    assert all(r.raw_value is not None and r.dlq_reason == DLQ_REASON for r in rows)

    raw = spark.createDataFrame([(line,) for line in bad], "value string")
    _, decoded_dead = decode_json_envelopes_with_dlq(raw)
    shape = [(f.name, f.dataType) for f in decoded_dead.schema.fields]
    assert shape == [(f.name, f.dataType) for f in DLQ_SCHEMA.fields]
