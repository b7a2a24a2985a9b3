"""T4 end-to-end: Debezium schema-change events → history table → envelope
schema re-derivation → a widened column flowing through the data stream into
the state table (old rows NULL, new rows populated)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from cdc_postgresql_clickhouse_spark.operators.cdc_transform import changes_to_state_updates
from cdc_postgresql_clickhouse_spark.operators.state import apply_changes, current_state
from cdc_postgresql_clickhouse_spark.sources.envelope import ROW_SCHEMA
from cdc_postgresql_clickhouse_spark.sources.schema_changes import (
    decode_schema_change_events,
    envelope_schema_for,
    latest_table_schema,
    schema_history,
)

TABLE_ID = '"public"."bookings"'

_BASE_COLUMNS = [
    {"name": f.name, "typeName": t, "position": i + 1, "optional": i > 0}
    for i, (f, t) in enumerate(
        zip(
            ROW_SCHEMA.fields,
            ["int8", "text", "text", "bool", "bool", "timestamp", "timestamp"],
        )
    )
]


def _ddl_event(ts_ms: int, ddl: str, columns: list[dict], change_type: str) -> dict:
    return {
        "ts_ms": ts_ms,
        "databaseName": "sql_topic",
        "schemaName": "public",
        "ddl": ddl,
        "tableChanges": [
            {
                "type": change_type,
                "id": TABLE_ID,
                "table": {
                    "columns": columns,
                    "primaryKeyColumnNames": ["booking_id"],
                },
            }
        ],
    }


def _wire(spark, events: list[dict]):
    return spark.createDataFrame(
        [(json.dumps(e).encode(),) for e in events], "value binary"
    )


def test_schema_history_and_latest(spark):
    widened = _BASE_COLUMNS + [
        {"name": "note", "typeName": "text", "position": 8, "optional": True}
    ]
    events = [
        _ddl_event(1000, "CREATE TABLE public.bookings (...)", _BASE_COLUMNS, "CREATE"),
        _ddl_event(2000, "ALTER TABLE public.bookings ADD COLUMN note text", widened, "ALTER"),
    ]
    hist = schema_history(decode_schema_change_events(_wire(spark, events)))
    assert hist.count() == 2
    assert set(hist.select("change_type").toPandas()["change_type"]) == {"CREATE", "ALTER"}
    cols = latest_table_schema(hist, TABLE_ID)
    assert [c["name"] for c in cols][-1] == "note"
    assert len(cols) == 8


def test_widened_column_reaches_state(spark):
    """The full T4 path: after the ALTER, data envelopes carry `note`; the
    re-derived envelope schema decodes it and the state widens — pre-ALTER
    rows read NULL, post-ALTER rows carry the value."""
    widened = _BASE_COLUMNS + [
        {"name": "note", "typeName": "text", "position": 8, "optional": True}
    ]
    hist = schema_history(
        decode_schema_change_events(
            _wire(
                spark,
                [
                    _ddl_event(1000, "CREATE TABLE ...", _BASE_COLUMNS, "CREATE"),
                    _ddl_event(2000, "ALTER TABLE ... ADD COLUMN note text", widened, "ALTER"),
                ],
            )
        )
    )
    env_schema = envelope_schema_for(latest_table_schema(hist, TABLE_ID))

    def env(op, bid, lsn, note=None):
        row = {
            "id": lsn,
            "booking_id": bid,
            "status": "Open",
            "is_deleted": False,
            "is_canceled": False,
            "created_at": 1,
            "modified_at": 1,
        }
        if note is not None:
            row["note"] = note
        return {
            "before": None,
            "after": row,
            "op": op,
            "ts_ms": lsn,
            "source": {"sequence": "[]", "lsn": lsn},
        }

    # b1 inserted pre-ALTER (no note field), b2 post-ALTER (with note)
    raw = spark.createDataFrame(
        [(json.dumps(env("c", "b1", 1)),), (json.dumps(env("c", "b2", 2, note="vip")),)],
        "value string",
    )
    decoded = raw.select(
        F.from_json(F.col("value"), env_schema).alias("e")
    ).select("e.*")
    updates = changes_to_state_updates(decoded, extra_image_columns=("note",))
    # the whole output schema: names, order, types and nullability (only
    # the synthesized is_deleted is never NULL); the new column comes last
    assert updates.schema == StructType(
        [
            StructField("booking_id", StringType(), True),
            StructField("status", StringType(), True),
            StructField("is_deleted", IntegerType(), False),
            StructField("is_canceled", BooleanType(), True),
            StructField("created_at", TimestampType(), True),
            StructField("modified_at", TimestampType(), True),
            StructField("version", LongType(), True),
            StructField("ts_ms", LongType(), True),
            StructField("note", StringType(), True),
        ]
    )
    state = current_state(apply_changes(None, updates))
    rows = {r["booking_id"]: r for r in state.collect()}
    assert rows["b1"]["note"] is None
    assert rows["b2"]["note"] == "vip"


def test_widening_through_bucketed_state(spark, tmp_path):
    """Dirty-bucket upsert + mergeSchema read: a post-ALTER batch widens the
    stored state even though earlier bucket files lack the column."""
    from cdc_postgresql_clickhouse_spark.operators.state import (
        read_state,
        upsert_changes_bucketed,
    )

    path = str(tmp_path / "state")
    v1 = spark.createDataFrame(
        [("b1", 1, 0, 0, "Open")],
        "booking_id string, version long, ts_ms long, is_deleted int, status string",
    )
    upsert_changes_bucketed(spark, v1, path, key_buckets=4)
    v2 = spark.createDataFrame(
        [("b2", 2, 0, 0, "Open", "vip")],
        "booking_id string, version long, ts_ms long, is_deleted int, status string, note string",
    )
    upsert_changes_bucketed(spark, v2, path, key_buckets=4)
    final = read_state(spark, path)
    assert "note" in final.columns
    rows = {r["booking_id"]: r for r in final.collect()}
    assert rows["b1"]["note"] is None and rows["b2"]["note"] == "vip"


def test_schema_record_equals_inference_and_reads_with_no_job(spark, tmp_path):
    """The schema each commit records is the schema ``mergeSchema``
    inference gives (names, order, types, nullability) after a plain
    publish and after a T4 widening batch that rewrites one bucket only;
    untouched buckets read the new column as NULL, and ``read_state`` plus
    ``.schema`` starts no Spark job."""
    from cdc_postgresql_clickhouse_spark.operators.state import (
        _bucket_expr,
        read_state,
        upsert_changes_bucketed,
        write_state,
    )

    path = str(tmp_path / "state")
    base = "booking_id string, version long, ts_ms long, is_deleted int, status string"
    write_state(
        spark.createDataFrame([(f"b{i}", 1, 0, 0, "Open") for i in range(40)], base),
        path,
        key_buckets=4,
    )

    def check() -> None:
        inferred = spark.read.option("mergeSchema", "true").parquet(path).drop("__bucket")
        sc = spark.sparkContext
        group = f"record-read-{tmp_path.name}"
        sc.setJobGroup(group, group)
        try:
            recorded = read_state(spark, path).schema
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == []

        def shape(schema):
            return [(f.name, f.dataType, f.nullable) for f in schema.fields]

        assert shape(recorded) == shape(inferred.schema)

    check()
    widened = spark.createDataFrame(
        [("b1", 2, 0, 0, "Open", "vip")], f"{base}, note string"
    )
    upsert_changes_bucketed(spark, widened, path, key_buckets=4)
    check()
    bucket = _bucket_expr(("booking_id",), 4)
    final = read_state(spark, path).withColumn("bk", bucket)
    (b1_bucket,) = [r.bk for r in final.filter("booking_id = 'b1'").collect()]
    untouched = final.filter(F.col("bk") != b1_bucket)
    assert untouched.count() > 0
    assert untouched.filter(F.col("note").isNotNull()).count() == 0
    assert [r.note for r in final.filter("booking_id = 'b1'").collect()] == ["vip"]


def test_widening_through_streaming_pipeline_restart(spark, tmp_path):
    """T4 end-to-end through run_cdc_pipeline: pre-ALTER batch runs with the
    base schema; the DDL event re-derives the envelope schema; the RESTARTED
    pipeline (same checkpoint — only new files replay) decodes the widened
    envelopes and the bucketed state widens in place."""
    import os

    from cdc_postgresql_clickhouse_spark.operators.state import read_state
    from cdc_postgresql_clickhouse_spark.streaming.pipeline import run_cdc_pipeline

    def env(op, bid, lsn, note=None):
        row = {
            "id": lsn, "booking_id": bid, "status": "Open", "is_deleted": False,
            "is_canceled": False, "created_at": 1, "modified_at": 1,
        }
        if note is not None:
            row["note"] = note
        return {"before": None, "after": row, "op": op, "ts_ms": lsn,
                "source": {"sequence": "[]", "lsn": lsn}}

    env_dir = str(tmp_path / "envelopes")
    os.makedirs(env_dir)
    state_path = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    with open(os.path.join(env_dir, "pre_alter.json"), "w") as f:
        f.write(json.dumps(env("c", "b1", 1)) + "\n")
    run_cdc_pipeline(spark, env_dir, state_path, ckpt)
    assert "note" not in read_state(spark, state_path).columns

    # the ALTER lands: consumer re-derives the envelope schema from history
    widened_cols = _BASE_COLUMNS + [
        {"name": "note", "typeName": "text", "position": 8, "optional": True}
    ]
    hist = schema_history(
        decode_schema_change_events(
            _wire(spark, [
                _ddl_event(1000, "CREATE TABLE ...", _BASE_COLUMNS, "CREATE"),
                _ddl_event(2000, "ALTER ... ADD COLUMN note text", widened_cols, "ALTER"),
            ])
        )
    )
    new_schema = envelope_schema_for(latest_table_schema(hist, TABLE_ID))

    with open(os.path.join(env_dir, "post_alter.json"), "w") as f:
        f.write(json.dumps(env("c", "b2", 2, note="vip")) + "\n")
    run_cdc_pipeline(
        spark, env_dir, state_path, ckpt,
        envelope_schema=new_schema, extra_image_columns=("note",),
    )

    final = current_state(read_state(spark, state_path))
    rows = {r["booking_id"]: r for r in final.collect()}
    assert set(rows) == {"b1", "b2"}
    assert rows["b1"]["note"] is None and rows["b2"]["note"] == "vip"


def test_schema_evolution_driver_row_widens_mid_stream(spark, sf_dir):
    """The T4 driver row end-to-end: a user's k_value is populated iff their
    LATEST change arrived after the ALTER (day >= split) — earlier envelopes
    lack the key and must decode as NULL under the re-derived schema."""
    from pyspark.sql import functions as F

    from cdc_postgresql_clickhouse_spark.queries.cdc import (
        _SCHEMA_EVO_SPLIT_DAY,
        cdc_schema_evolution_state,
    )
    from cdc_postgresql_clickhouse_spark.sources.registry import load_table

    out = {r.booking_id: r.k_value for r in cdc_schema_evolution_state(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    latest_day = {
        str(r.user_id): r.d
        for r in ev.groupBy("user_id")
        .agg(F.max_by(F.dayofmonth("ts"), "event_id").alias("d"))
        .collect()
    }
    assert set(out) == set(latest_day)
    for uid, k in out.items():
        assert (k is not None) == (latest_day[uid] >= _SCHEMA_EVO_SPLIT_DAY), uid


def test_compat_gate_passes_widening_and_rejects_narrowing(spark):
    """The registry gate over the history's last transition: the T4
    ADD COLUMN passes BACKWARD (and FULL), while an int8 -> int4
    narrowing of `id` raises naming the offending field."""
    import pytest

    from cdc_postgresql_clickhouse_spark.sources.schema_changes import (
        SchemaCompatibilityError,
        check_schema_transition,
    )

    widened = _BASE_COLUMNS + [
        {"name": "loyalty_tier", "typeName": "text", "position": 8, "optional": True}
    ]
    hist = schema_history(
        decode_schema_change_events(
            _wire(
                spark,
                [
                    _ddl_event(1000, "CREATE TABLE bookings (...)", _BASE_COLUMNS, "CREATE"),
                    _ddl_event(2000, "ALTER TABLE bookings ADD loyalty_tier text", widened, "ALTER"),
                ],
            )
        )
    )
    report = check_schema_transition(hist, TABLE_ID, require="FULL")
    assert report.added_optional == ["loyalty_tier"] and report.full

    # int8 -> int4 is NOT breaking in-engine (both decode as LongType):
    narrowed = [dict(c) for c in _BASE_COLUMNS]
    narrowed[0]["typeName"] = "int4"
    hist_n = schema_history(
        decode_schema_change_events(
            _wire(
                spark,
                [
                    _ddl_event(1000, "CREATE TABLE bookings (...)", _BASE_COLUMNS, "CREATE"),
                    _ddl_event(2000, "ALTER TABLE bookings ALTER id TYPE int4", narrowed, "ALTER"),
                ],
            )
        )
    )
    assert check_schema_transition(hist_n, TABLE_ID, require="FULL").full

    # but text -> int8 changes the decoded Spark type: breaking both ways
    retyped = [dict(c) for c in _BASE_COLUMNS]
    retyped[1]["typeName"] = "int8"  # booking_id: text -> int8
    hist2 = schema_history(
        decode_schema_change_events(
            _wire(
                spark,
                [
                    _ddl_event(1000, "CREATE TABLE bookings (...)", _BASE_COLUMNS, "CREATE"),
                    _ddl_event(2000, "ALTER TABLE bookings ALTER booking_id TYPE int8", retyped, "ALTER"),
                ],
            )
        )
    )
    with pytest.raises(SchemaCompatibilityError, match="booking_id"):
        check_schema_transition(hist2, TABLE_ID, require="BACKWARD")

    single = schema_history(
        decode_schema_change_events(
            _wire(spark, [_ddl_event(1000, "CREATE TABLE", _BASE_COLUMNS, "CREATE")])
        )
    )
    assert check_schema_transition(single, TABLE_ID).full  # trivial pass


def test_same_ms_drop_transition_orders_by_lsn(spark):
    """Two DDLs in the SAME millisecond, the second a column DROP: the
    monotonic source LSN must decide prev/new — the old column-count
    tie-break assumed the newer schema is never shorter and validated the
    transition BACKWARDS (ADVICE r6). With the LSN, latest_table_schema
    returns the post-DROP columns and check_schema_transition sees the
    drop as a drop."""
    from cdc_postgresql_clickhouse_spark.sources.schema_changes import (
        check_schema_transition,
        latest_table_schema,
    )

    widened = _BASE_COLUMNS + [
        {"name": "loyalty_tier", "typeName": "text", "position": 8, "optional": True}
    ]
    add = _ddl_event(1000, "ALTER TABLE bookings ADD loyalty_tier text", widened, "ALTER")
    drop = _ddl_event(1000, "ALTER TABLE bookings DROP loyalty_tier", _BASE_COLUMNS, "ALTER")
    add["source"] = {"sequence": "[]", "lsn": 100}
    drop["source"] = {"sequence": "[]", "lsn": 200}  # later DDL, same ts_ms
    hist = schema_history(decode_schema_change_events(_wire(spark, [add, drop])))

    latest = latest_table_schema(hist, TABLE_ID)
    assert [c["name"] for c in latest] == [c["name"] for c in _BASE_COLUMNS]

    report = check_schema_transition(hist, TABLE_ID, require="BACKWARD")
    # dropping an optional column is the DROP direction: dropped, not added
    assert report.dropped_optional == ["loyalty_tier"]
    assert report.added_optional == []
