"""CDC operator queries over the ``events`` fixture, with DuckDB oracles.

The reference's CDC semantics (survey §2) exercised on driver data by
treating ``events`` as a change stream: key = ``user_id``, monotone version =
(``ts``, ``event_id``) — the LSN analogue — and ``event_type='error'`` as the
tombstone op. Each query maps to reference operators:

- cdc_current_state      → R1/ST5: version arg-max "FINAL" view
  (ReplacingMergeTree(version), clickhouse_schemas.sql:11-13)
- cdc_soft_delete_state  → ST4: tombstone filtering (clickhouse_schemas.sql:52)
- cdc_envelope_transform → P3-P5: before/after switch via lag-derived
  envelopes (clickhouse_schemas.sql:50-56)
- cdc_epoch_micros_roundtrip → P6: fromUnixTimestamp64Micro equivalence
  (clickhouse_schemas.sql:54-55)
- cdc_count_final        → A1: count() FINAL verification (README.md:321-329)
- cdc_idempotent_replay  → S10: at-least-once duplicate delivery is a no-op
  (clickhouse_sink_configuration.json:13)

Scale notes: every query is one hash-shuffle on the key (window or groupBy);
no Python, no collects; Catalyst prunes unused event columns into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_postgresql_clickhouse_spark.operators.state import apply_changes
from cdc_postgresql_clickhouse_spark.sources.registry import load_table
from cdc_postgresql_clickhouse_spark.queries._pending import flip_pending


def _latest(ev: DataFrame) -> DataFrame:
    """Per-key latest row through the pipeline's own arg-max
    (``operators.state.apply_changes``, SURVEY §2.4 A2): one aggregation
    that combines map-side, so shuffle volume is one row per (key × map
    partition) — the shape that survives 1000 executors × 100 TB.
    (ts, event_id) is unique per key, so the arg-max is deterministic and
    matches the ORDER BY ts DESC, event_id DESC oracle."""
    return apply_changes(
        None,
        ev.select("user_id", "event_id", "ts", "event_type", "value"),
        key_cols=("user_id",),
        version_cols=("ts", "event_id"),
    )


def cdc_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return _latest(ev).select(
        F.col("user_id"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


_LATEST_SQL = """
SELECT user_id, event_id, event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
"""


def cdc_soft_delete_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        _latest(ev)
        .filter(F.col("event_type") != "error")
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


def cdc_envelope_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    before_value = F.lag("value").over(w)
    op = (
        F.when(before_value.isNull(), F.lit("c"))
        .when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("u"))
    )
    df = ev.select(
        "user_id",
        F.col("event_id").alias("version"),
        op.alias("op"),
        before_value.alias("__before"),
        F.col("value").alias("__after"),
    )
    return df.select(
        "user_id",
        "version",
        "op",
        F.when(F.col("op") == "d", F.col("__before")).otherwise(F.col("__after")).alias("img_value"),
        F.when(F.col("op") == "d", F.lit(1)).otherwise(F.lit(0)).alias("is_deleted"),
    )


def cdc_epoch_micros_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    micros = F.unix_micros("ts")
    return ev.select(
        "event_id",
        micros.alias("ts_us"),
        F.date_format(F.timestamp_micros(micros), "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
    )


def cdc_count_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    live = _latest(ev).filter(F.col("event_type") != "error")
    return live.agg(F.count(F.lit(1)).alias("n_live"))


def cdc_idempotent_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    doubled = ev.unionByName(ev).distinct()  # at-least-once delivery + exact dedup
    return _latest(doubled).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
    )


def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension view of the change stream: every
    change becomes a versioned row with a [valid_from, valid_to) epoch
    interval; the open interval (valid_to NULL) is the current row — the
    history table a warehouse derives from the reference's change log
    (clickhouse_schemas.sql:50-56 keeps every version for exactly this).

    Plan: one shuffle on user_id; the lead() window and nothing else.
    At scale the sort is per-key within hash partitions — no global sort."""
    ev = load_table(spark, sf_dir, "events")
    es = F.floor(F.unix_timestamp("ts")).cast("long")
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    d = ev.select("user_id", "event_id", "event_type", "value", es.alias("es"))
    out = d.withColumn("valid_to_es", F.lead("es").over(w))
    return out.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.col("es").alias("valid_from_es"),
        "valid_to_es",
        F.when(F.col("valid_to_es").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_current"),
    )


QUERIES = {
    "cdc_current_state": cdc_current_state,
    "cdc_soft_delete_state": cdc_soft_delete_state,
    "cdc_envelope_transform": cdc_envelope_transform,
    "cdc_epoch_micros_roundtrip": cdc_epoch_micros_roundtrip,
    "cdc_count_final": cdc_count_final,
    "cdc_idempotent_replay": cdc_idempotent_replay,
    "cdc_scd2_history": cdc_scd2_history,
}

ORACLE = {
    "cdc_current_state": f"""
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type, value AS last_value
FROM ({_LATEST_SQL})
""",
    "cdc_soft_delete_state": f"""
SELECT user_id, event_type AS last_event_type, value AS last_value
FROM ({_LATEST_SQL}) WHERE event_type <> 'error'
""",
    "cdc_envelope_transform": """
WITH env AS (
  SELECT user_id, event_id AS version,
         CASE WHEN lag(value) OVER w IS NULL THEN 'c'
              WHEN event_type = 'error' THEN 'd'
              ELSE 'u' END AS op,
         lag(value) OVER w AS before_value,
         value AS after_value
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
)
SELECT user_id, version, op,
       CASE WHEN op = 'd' THEN before_value ELSE after_value END AS img_value,
       CASE WHEN op = 'd' THEN 1 ELSE 0 END AS is_deleted
FROM env
""",
    "cdc_epoch_micros_roundtrip": """
SELECT event_id, epoch_us(ts) AS ts_us,
       strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%d %H:%M:%S') AS ts_str
FROM events
""",
    "cdc_count_final": f"""
SELECT count(*) AS n_live FROM ({_LATEST_SQL}) WHERE event_type <> 'error'
""",
    "cdc_idempotent_replay": """
WITH doubled AS (SELECT * FROM events UNION ALL SELECT * FROM events),
deduped AS (SELECT DISTINCT * FROM doubled)
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM deduped) WHERE rn = 1
""",
    "cdc_scd2_history": """
WITH d AS (
  SELECT user_id, event_id, event_type, value,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
  FROM events
)
SELECT user_id, event_id, event_type, value,
       es AS valid_from_es,
       lead(es) OVER (PARTITION BY user_id ORDER BY es, event_id) AS valid_to_es,
       CASE WHEN lead(es) OVER (PARTITION BY user_id ORDER BY es, event_id) IS NULL
            THEN 1 ELSE 0 END AS is_current
FROM d
""",
}


# --- reconciliation report ---------------------------------------------------
#
# The reference's verification finale (README.md:309-329: "identical
# entries + identical counts" between Postgres and ClickHouse) as a
# FIRST-CLASS operator instead of a manual SQL session: two-sided
# ``EXCEPT ALL`` between the source-of-truth state and a replica state,
# reduced to a one-row report. The replica is derived with a DETERMINISTIC
# simulated delivery gap (changes with event_id % RECON_DROP_MOD ==
# RECON_DROP_RESIDUE never arrive), so the diff machinery is exercised on
# real divergence — both engines must agree on exactly which keys diverge,
# not just that none do. ``operators/state.py::consistency_check`` is the
# boolean form of the same comparison used by the streaming tests.
#
# Scale shape: each EXCEPT ALL is one hash shuffle on the full row (the
# same budget as the reference's GROUP-BY-all-columns reconciliation
# query); the report is four scalar aggregates cross-joined — no row data
# reaches the driver.

RECON_DROP_MOD = 97
RECON_DROP_RESIDUE = 13


def cdc_reconciliation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    src = _latest(ev)
    dst = _latest(
        ev.filter(
            ~(F.col("event_id") % RECON_DROP_MOD == RECON_DROP_RESIDUE)
        )
    )
    src_rows = src.agg(F.count(F.lit(1)).cast("long").alias("src_rows"))
    dst_rows = dst.agg(F.count(F.lit(1)).cast("long").alias("dst_rows"))
    n_src_only = src.exceptAll(dst).agg(
        F.count(F.lit(1)).cast("long").alias("n_src_only")
    )
    n_dst_only = dst.exceptAll(src).agg(
        F.count(F.lit(1)).cast("long").alias("n_dst_only")
    )
    return (
        src_rows.crossJoin(dst_rows)
        .crossJoin(n_src_only)
        .crossJoin(n_dst_only)
        .select(
            "src_rows",
            "dst_rows",
            "n_src_only",
            "n_dst_only",
            ((F.col("n_src_only") == 0) & (F.col("n_dst_only") == 0)).alias("consistent"),
        )
    )


_RECON_DST_SQL = f"""
SELECT user_id, event_id, event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE NOT (event_id % {RECON_DROP_MOD} = {RECON_DROP_RESIDUE}))
WHERE rn = 1
"""

QUERIES["cdc_reconciliation_report"] = cdc_reconciliation_report
ORACLE["cdc_reconciliation_report"] = f"""
WITH src AS (SELECT user_id, event_id, event_type, value FROM ({_LATEST_SQL})),
dst AS ({_RECON_DST_SQL}),
so AS (SELECT COUNT(*) AS c FROM (SELECT * FROM src EXCEPT ALL SELECT * FROM dst)),
do_ AS (SELECT COUNT(*) AS c FROM (SELECT * FROM dst EXCEPT ALL SELECT * FROM src))
SELECT (SELECT COUNT(*) FROM src) AS src_rows,
       (SELECT COUNT(*) FROM dst) AS dst_rows,
       so.c AS n_src_only,
       do_.c AS n_dst_only,
       (so.c = 0 AND do_.c = 0) AS consistent
FROM so CROSS JOIN do_
"""


# --- T4 as a driver row: schema evolution through the live decode ------------
#
# The schema-change machinery (sources/schema_changes.py — DDL decode,
# history table, envelope re-derivation) was pytest-proven only; this row
# drives it END-TO-END on driver data: events are re-encoded as Debezium
# JSON envelopes whose row image WIDENS mid-stream (rows on day >= 16 carry
# a new k_value column, earlier rows don't), a two-event DDL stream
# (CREATE, then ALTER ADD COLUMN) is decoded into the schema history, the
# CURRENT envelope schema is re-derived from that history, and the data
# stream is decoded with it — pre-DDL envelopes read NULL for the new
# column (ClickHouse ADD COLUMN semantics), post-DDL envelopes carry it.
# Final state = version arg-max per key, version := lsn := event_id (P5).
#
# The oracle states the resulting SEMANTICS over the events table directly;
# the JSON encode→decode→transform path is the Spark implementation under
# test (its wire shape is pinned by tests/test_schema_changes.py).

_DDL_T0 = 1700000000000
_SCHEMA_EVO_SPLIT_DAY = 16
_BASE_COLS = [
    ("id", "int8"), ("booking_id", "text"), ("status", "text"),
    ("is_deleted", "bool"), ("is_canceled", "bool"),
    ("created_at", "timestamp"), ("modified_at", "timestamp"),
]


def _ddl_json(ts_ms: int, change_type: str, cols: list[tuple[str, str]], ddl: str) -> str:
    import json

    return json.dumps({
        "ts_ms": ts_ms,
        "databaseName": "app",
        "schemaName": "public",
        "ddl": ddl,
        "tableChanges": [{
            "type": change_type,
            "id": '"public"."bookings"',
            "table": {
                "columns": [
                    {"name": n, "typeName": t, "position": i + 1, "optional": True}
                    for i, (n, t) in enumerate(cols)
                ],
                "primaryKeyColumnNames": ["booking_id"],
            },
        }],
    })


def cdc_schema_evolution_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_postgresql_clickhouse_spark.operators.cdc_transform import (
        changes_to_state_updates,
    )
    from cdc_postgresql_clickhouse_spark.sources.schema_changes import (
        decode_schema_change_events,
        envelope_schema_for,
        latest_table_schema,
        schema_history,
    )

    # 1. DDL stream -> history -> current envelope schema (the T4 path)
    ddl_raw = spark.createDataFrame(
        [
            (_ddl_json(_DDL_T0, "CREATE", _BASE_COLS, "CREATE TABLE bookings (...)"),),
            (
                _ddl_json(
                    _DDL_T0 + 1000,
                    "ALTER",
                    _BASE_COLS + [("k_value", "int8")],
                    "ALTER TABLE bookings ADD COLUMN k_value int8",
                ),
            ),
        ],
        "value string",
    )
    history = schema_history(decode_schema_change_events(ddl_raw))
    widened = envelope_schema_for(latest_table_schema(history, '"public"."bookings"'))

    # 2. events -> Debezium JSON envelopes; the row image widens on the
    # split day (earlier envelopes simply LACK the k_value key)
    ev = load_table(spark, sf_dir, "events")
    micros = (F.unix_timestamp("ts") * 1000000 + F.date_format("ts", "SSSSSS").cast("long"))

    def image(with_k: bool):
        fields = [
            F.col("user_id").alias("id"),
            F.col("user_id").cast("string").alias("booking_id"),
            F.col("event_type").alias("status"),
            F.lit(False).alias("is_deleted"),
            F.lit(False).alias("is_canceled"),
            micros.alias("created_at"),
            micros.alias("modified_at"),
        ]
        if with_k:
            fields.append(
                F.get_json_object("props", "$.k").cast("long").alias("k_value")
            )
        return F.struct(*fields)

    def envelopes(df: DataFrame, with_k: bool) -> DataFrame:
        img = image(with_k)
        is_del = F.col("event_type") == "error"
        env = F.struct(
            F.when(is_del, img).alias("before"),
            F.when(~is_del, img).alias("after"),
            F.when(is_del, F.lit("d")).otherwise(F.lit("u")).alias("op"),
            (F.unix_timestamp("ts") * 1000).alias("ts_ms"),
            F.struct(F.lit("").alias("sequence"), F.col("event_id").alias("lsn")).alias(
                "source"
            ),
        )
        return df.select(F.to_json(env, {"ignoreNullFields": "true"}).alias("value"))

    pre = envelopes(ev.filter(F.dayofmonth("ts") < _SCHEMA_EVO_SPLIT_DAY), with_k=False)
    post = envelopes(ev.filter(F.dayofmonth("ts") >= _SCHEMA_EVO_SPLIT_DAY), with_k=True)
    raw = pre.unionByName(post)

    # 3. decode with the re-derived schema, transform, version arg-max
    decoded = raw.select(F.from_json(F.col("value"), widened).alias("e")).select("e.*")
    updates = changes_to_state_updates(decoded, extra_image_columns=("k_value",))
    latest = (
        updates.groupBy("booking_id")
        .agg(
            F.max_by(
                F.struct("status", "is_deleted", "k_value", "version"), F.col("version")
            ).alias("__r")
        )
        .select("booking_id", "__r.*")
    )
    return latest.select(
        "booking_id",
        "status",
        F.col("is_deleted").cast("long").alias("is_deleted"),
        "k_value",
        F.col("version").cast("long").alias("version"),
    )


QUERIES["cdc_schema_evolution_state"] = cdc_schema_evolution_state

ORACLE["cdc_schema_evolution_state"] = f"""
WITH latest AS (
  SELECT user_id, event_id, event_type, ts, props,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
)
SELECT CAST(user_id AS VARCHAR) AS booking_id,
       event_type AS status,
       CAST(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS BIGINT) AS is_deleted,
       CASE WHEN day(ts) >= {_SCHEMA_EVO_SPLIT_DAY}
            THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k_value,
       CAST(event_id AS BIGINT) AS version
FROM latest WHERE rn = 1
"""


# --- primary-key change semantics — PENDING round 7 -------------------------
#
# Debezium encodes a PK UPDATE as TWO events: a delete under the OLD key
# and a create under the NEW key (the single-event update cannot move a
# row across key space — public Debezium semantics, the __debezium.newkey
# headers). This row proves the state layer handles the pair correctly:
# a deterministic PK-migration workload is synthesized from the fixture
# identically on both engines (the PII/version-diff synthesis convention)
# — every user with user_id % 10 == 3 gets a tombstone at old key and a
# create at user_id + PK_OFFSET carrying their last value, both versioned
# AFTER everything the user has — and the registered arg-max + tombstone
# machinery must land the row at the new key and erase the old one.

PK_OFFSET = 10_000_000
_PK_DEL_EID = 1_000_000_000
_PK_CRT_EID = 1_000_000_001


def cdc_pk_change_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    migr = _latest(ev).filter(F.col("user_id") % 10 == 3)
    dels = migr.select(
        "user_id",
        (F.col("event_id") + _PK_DEL_EID).alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 1 SECOND")).alias("ts"),
        F.lit("error").alias("event_type"),
        "value",
    )
    crts = migr.select(
        (F.col("user_id") + PK_OFFSET).alias("user_id"),
        (F.col("event_id") + _PK_CRT_EID).alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 2 SECOND")).alias("ts"),
        F.lit("pk_moved").alias("event_type"),
        "value",
    )
    full = ev.unionByName(dels).unionByName(crts)
    return (
        _latest(full)
        .filter(F.col("event_type") != "error")
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


_SQL_PK_CHANGE = f"""
WITH ev AS (SELECT user_id, event_id, ts, event_type, value FROM events),
wlast AS (
  SELECT user_id, event_id, event_type, value, ts
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev) WHERE rn = 1
),
migr AS (SELECT * FROM wlast WHERE user_id % 10 = 3),
dels AS (
  SELECT user_id, event_id + {_PK_DEL_EID} AS event_id,
         ts + INTERVAL 1 SECOND AS ts, 'error' AS event_type, value
  FROM migr
),
crts AS (
  SELECT user_id + {PK_OFFSET} AS user_id, event_id + {_PK_CRT_EID} AS event_id,
         ts + INTERVAL 2 SECOND AS ts, 'pk_moved' AS event_type, value
  FROM migr
),
allrows AS (
  SELECT * FROM ev UNION ALL SELECT * FROM dels UNION ALL SELECT * FROM crts
),
state AS (
  SELECT user_id, event_type, value
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM allrows) WHERE rn = 1
)
SELECT user_id, event_type AS last_event_type, value AS last_value
FROM state WHERE event_type <> 'error'
"""

# --- as-of (time-travel) state read — PENDING round 7 -----------------------
#
# The state table AS OF an epoch T — the time-travel read every versioned
# store offers (Delta VERSION AS OF, the reference's keep-every-version
# posture clickhouse_schemas.sql:50-56 exists to serve): per key, the
# latest change with es <= T, tombstones visible (R1 semantics, same as
# ``cdc_current_state``). T is a pure integer scalar derived from the
# corpus itself ((min_es + max_es) div 2) so both engines pick the same
# instant with no float interpolation. Scale shape: the es <= T filter
# prunes BEFORE the shuffle (at real scale it prunes date partitions),
# then the same map-side max_by as current_state. The law test pins
# consistency with the SCD2 interval form: this row equals
# ``cdc_scd2_history`` filtered to valid_from_es <= T < valid_to_es.


def cdc_state_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
    )
    lo, hi = ev.agg(F.min("es"), F.max("es")).first()
    t_asof = (int(lo) + int(hi)) // 2
    upto = ev.filter(F.col("es") <= F.lit(t_asof))
    latest = (
        upto.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("event_id", "event_type", "value"),
                F.struct("es", "event_id"),
            ).alias("__r")
        )
        .select("user_id", "__r.*")
    )
    return latest.select(
        "user_id",
        F.lit(t_asof).cast("long").alias("asof_es"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


_SQL_ASOF = """
WITH ev AS (
  SELECT user_id, event_id, event_type, value,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
  FROM events
),
t AS (SELECT (MIN(es) + MAX(es)) // 2 AS t_asof FROM ev),
upto AS (SELECT ev.* FROM ev CROSS JOIN t WHERE ev.es <= t.t_asof)
SELECT user_id,
       (SELECT t_asof FROM t) AS asof_es,
       event_id AS last_event_id,
       event_type AS last_event_type,
       value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY es DESC, event_id DESC) AS rn
      FROM upto) WHERE rn = 1
"""

# --- dead-letter classification report — PENDING round 7 --------------------
#
# The DLQ split (T3/S11, ``sources/envelope.py::decode_json_envelopes_with_dlq``,
# the quarantine posture the reference's Kafka Connect error-tolerance
# setting only drops, debezium_configuration.json) driven end-to-end as a
# driver row: events render to REAL Debezium envelope JSON, a
# deterministic seventh of them is corrupted two ways — truncated bytes
# (unparseable) and a missing op code (parseable but dead) — the stream
# runs through the production decode-with-DLQ split, and the report
# counts records per op with the dead letters as one quarantine bucket.
# The oracle never touches JSON: the corruption and the op assignment are
# pure event_id arithmetic, so ground truth is a CASE expression — which
# is exactly what makes this a real test of the decoder (the Spark side
# must RECOVER the planted classification from the bytes).


def cdc_dlq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "error", F.lit("d"))
        .when(F.col("event_id") % 3 == 0, F.lit("c"))
        .otherwise(F.lit("u"))
    )
    micros = F.unix_micros("ts")
    row_img = F.struct(
        F.col("user_id").alias("id"),
        F.concat(F.lit("BK"), F.col("event_id")).alias("booking_id"),
        F.col("event_type").alias("status"),
        F.lit(False).alias("is_deleted"),
        F.lit(False).alias("is_canceled"),
        micros.alias("created_at"),
        micros.alias("modified_at"),
    )
    full = F.to_json(
        F.struct(
            F.lit(None).cast(ROW_SCHEMA_JSON).alias("before"),
            row_img.alias("after"),
            op.alias("op"),
            F.unix_millis("ts").alias("ts_ms"),
            F.struct(
                F.concat(F.lit("seq-"), F.col("event_id")).alias("sequence"),
                F.col("event_id").alias("lsn"),
            ).alias("source"),
        )
    )
    no_op = F.to_json(
        F.struct(
            row_img.alias("after"),
            F.unix_millis("ts").alias("ts_ms"),
        )
    )
    value = (
        F.when(
            F.col("event_id") % 13 == 0,
            F.substring(full, 1, F.length(full) - 5),  # truncated bytes
        )
        .when(F.col("event_id") % 13 == 1, no_op)  # parseable, no op code
        .otherwise(full)
    )
    # ONE scan / ONE encode / ONE parse (r14; guide §2.4 + §4.4's
    # duplication trap in JVM form): the former valid/dead split consumed
    # decode_json_envelopes_with_dlq through TWO union arms, each
    # re-scanning events and re-evaluating the full to_json construction —
    # and the split predicate, pushed into the scan-stage Filter, dragged
    # the whole to_json expression into its condition so the encode ran up
    # to twice more per row. Folding the split into a CASE label keeps
    # every per-row step (encode, parse, classify) evaluated exactly once
    # under multi-reference-protected Projects (the CollapseProject
    # non-cheap-alias rule).
    #
    # Dead classification is pinned with an EXPLICIT corrupt-record column
    # rather than the split's e-IS-NULL test: with partial-result JSON
    # parsing (spark.sql.json.enablePartialResults, default on) a
    # truncated envelope can still salvage its `op` field when the parse
    # schema is the full envelope — the old shape only classified those
    # rows dead because Catalyst happened to PRUNE its from_json to the
    # op field, failing the whole row. The corrupt column makes
    # "unparseable envelope" explicit and schema-pruning-independent;
    # rows whose raw JSON is malformed get a non-null _cr regardless of
    # what the parser salvaged. The decode function's value-IS-NOT-NULL
    # prefilter is dropped as a no-op here: every CASE branch of `value`
    # is to_json/substring of non-null input, so no null raw values exist
    # to exclude. The final unionByName + re-aggregate pins the
    # always-present '__dlq__' row the old dead.agg(COUNT) emitted even
    # for an empty dead set — identical output in every case, including
    # a corpus with no dead records.
    from pyspark.sql.types import StringType, StructField, StructType

    from cdc_postgresql_clickhouse_spark.sources.envelope import ENVELOPE_SCHEMA

    cr_schema = StructType(list(ENVELOPE_SCHEMA.fields) + [StructField("_cr", StringType())])
    parsed = ev.select(value.alias("value")).select(
        F.from_json(
            F.col("value").cast("string"),
            cr_schema,
            {"columnNameOfCorruptRecord": "_cr"},
        ).alias("e")
    )
    label = (
        F.when(
            F.col("e").isNull()
            | F.col("e._cr").isNotNull()
            | F.col("e.op").isNull(),
            F.lit("__dlq__"),
        )
        .otherwise(F.col("e.op"))
    )
    counts = parsed.select(label.alias("op")).groupBy("op").agg(
        F.count(F.lit(1)).cast("long").alias("n_records")
    )
    spark_ = ev.sparkSession
    dlq_floor = spark_.range(1).select(
        F.lit("__dlq__").alias("op"), F.lit(0).cast("long").alias("n_records")
    )
    return (
        counts.unionByName(dlq_floor)
        .groupBy("op")
        .agg(F.sum("n_records").cast("long").alias("n_records"))
    )


# JSON null-before needs the row type spelled as a DDL string
ROW_SCHEMA_JSON = (
    "struct<id:bigint,booking_id:string,status:string,is_deleted:boolean,"
    "is_canceled:boolean,created_at:bigint,modified_at:bigint>"
)


_SQL_DLQ = """
WITH cls AS (
  SELECT CASE WHEN event_id % 13 = 0 OR event_id % 13 = 1 THEN '__dlq__'
              WHEN event_type = 'error' THEN 'd'
              WHEN event_id % 3 = 0 THEN 'c'
              ELSE 'u' END AS op
  FROM events
)
SELECT op, COUNT(*)::BIGINT AS n_records FROM cls GROUP BY op
"""

PENDING_QUERIES = {
    "cdc_pk_change_state": cdc_pk_change_state,
    "cdc_state_asof": cdc_state_asof,
    "cdc_dlq_report": cdc_dlq_report,
}
PENDING_ORACLE = {
    "cdc_pk_change_state": _SQL_PK_CHANGE,
    "cdc_state_asof": _SQL_ASOF,
    "cdc_dlq_report": _SQL_DLQ,
}


# --- TOAST unavailable-value carry-forward — PENDING round 7 ----------------
#
# Debezium sends ``__debezium_unavailable_value`` for an UNCHANGED TOASTed
# column (PostgreSQL doesn't ship large unmodified values with the WAL
# row), so a naive sink overwrites real data with the placeholder — the
# classic Debezium→warehouse correctness trap. The correct sink semantics
# is per-key carry-forward: the placeholder inherits the key's most
# recent REAL value in change order. Re-expressed Spark-first as one
# window: last(real_value, ignorenulls) over the per-key (ts, event_id)
# frame — the LOCF pattern at change-stream grain — then the usual
# arg-max current-state read. A deterministic seventh of the fixture's
# changes (event_id % 7 == 2) is replaced by the placeholder in-query,
# exactly the _inject device the PII row uses; the operator itself never
# sees the synthesis. One shuffle on the key serves both the window and
# the arg-max.

TOAST_PLACEHOLDER = "__debezium_unavailable_value"


def cdc_toast_carryforward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    wire = ev.select(
        "user_id", "us", "event_id",
        F.when(F.col("event_id") % 7 == 2, F.lit(TOAST_PLACEHOLDER))
        .otherwise(F.col("c").cast("string")).alias("v_wire"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    real = F.when(F.col("v_wire") != TOAST_PLACEHOLDER, F.col("v_wire").cast("long"))
    eff = wire.select(
        "user_id", "us", "event_id",
        (F.col("v_wire") == TOAST_PLACEHOLDER).alias("is_ph"),
        F.last(real, ignorenulls=True).over(w).alias("eff_cents"),
    )
    return eff.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_changes"),
        F.sum(F.when(F.col("is_ph"), 1).otherwise(0)).cast("long")
        .alias("n_placeholders"),
        F.max_by(F.col("eff_cents"), F.struct("us", "event_id"))
        .alias("last_cents_effective"),
        F.max_by(F.col("is_ph"), F.struct("us", "event_id"))
        .cast("int").cast("long").alias("last_was_carried"),
    )


_SQL_TOAST = f"""
WITH wire AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
         CASE WHEN event_id % 7 = 2 THEN '{TOAST_PLACEHOLDER}'
              ELSE CAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS VARCHAR)
         END AS v_wire
  FROM events
),
eff AS (
  SELECT user_id, us, event_id,
         (v_wire = '{TOAST_PLACEHOLDER}') AS is_ph,
         last_value(CASE WHEN v_wire <> '{TOAST_PLACEHOLDER}'
                         THEN CAST(v_wire AS BIGINT) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS eff_cents
  FROM wire
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
  FROM eff
)
SELECT e.user_id,
       COUNT(*)::BIGINT AS n_changes,
       SUM(CASE WHEN e.is_ph THEN 1 ELSE 0 END)::BIGINT AS n_placeholders,
       MAX(CASE WHEN r.rn = 1 THEN r.eff_cents END)::BIGINT AS last_cents_effective,
       MAX(CASE WHEN r.rn = 1 THEN CASE WHEN r.is_ph THEN 1 ELSE 0 END END)::BIGINT
         AS last_was_carried
FROM eff e JOIN ranked r
  ON r.user_id = e.user_id AND r.us = e.us AND r.event_id = e.event_id
GROUP BY e.user_id
"""

PENDING_QUERIES["cdc_toast_carryforward"] = cdc_toast_carryforward
PENDING_ORACLE["cdc_toast_carryforward"] = _SQL_TOAST


# --- incremental chunked snapshot (DBLog) equivalence — PENDING round 7 -----
#
# Netflix DBLog / Debezium incremental snapshots: re-sync a table in KEY
# CHUNKS while the change stream keeps flowing, each chunk read AS OF a
# different instant. The correctness claim of that algorithm — chunk rows
# interleaved with concurrent changes converge to the live state — is
# exactly the S9/ST2 version-arg-max contract: a chunk row carries its
# underlying row's version (the key's last change at the chunk's as-of
# instant), so any later change beats it and any earlier change loses.
# This row REPLAYS the algorithm: three key-range chunks snapshotted at
# the 1/4, 1/2, 3/4 epochs (each chunk = the as-of state of its key
# range, built by the registered as-of machinery), unioned with the FULL
# change log, merged by arg-max — and must equal the plain current state;
# the oracle IS the current-state SQL. One extra union over the
# current-state plan; chunking adds no shuffle (the range filter is
# map-side).


def cdc_incremental_snapshot_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value", "ts",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
    )
    lo, hi = ev.agg(F.min("es"), F.max("es")).first()
    span = int(hi) - int(lo)
    chunks = [
        (F.col("user_id") % 3 == 0, int(lo) + span // 4),
        (F.col("user_id") % 3 == 1, int(lo) + span // 2),
        (F.col("user_id") % 3 == 2, int(lo) + 3 * span // 4),
    ]
    snap = None
    for key_pred, t_asof in chunks:
        part = (
            ev.filter(key_pred & (F.col("es") <= F.lit(t_asof)))
            .groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("event_id", "event_type", "value", "ts"),
                    F.struct("ts", "event_id"),
                ).alias("__r")
            )
            .select("user_id", "__r.*")
        )
        snap = part if snap is None else snap.unionByName(part)
    merged = snap.unionByName(
        ev.select("user_id", "event_id", "event_type", "value", "ts")
    )
    # at-least-once: a chunk row duplicates its key's change row verbatim
    merged = merged.distinct()
    return (
        merged.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("event_id", "event_type", "value"),
                F.struct("ts", "event_id"),
            ).alias("__r")
        )
        .select(
            "user_id",
            F.col("__r.event_id").alias("last_event_id"),
            F.col("__r.event_type").alias("last_event_type"),
            F.col("__r.value").alias("last_value"),
        )
    )


PENDING_QUERIES["cdc_incremental_snapshot_equiv"] = cdc_incremental_snapshot_equiv
PENDING_ORACLE["cdc_incremental_snapshot_equiv"] = ORACLE["cdc_current_state"]


# --- change-stream sequence-gap audit — PENDING round 7 ----------------------
#
# The replication-health audit an operator runs when at-least-once
# delivery is suspected of silently LOSING messages: event_ids are the
# statement sequence (dense by construction, the envelope generator's
# lsn order), a transport fault is simulated by dropping every id
# congruent to 13 mod 97, and the report reconstructs — per 1000-wide
# sequence chunk clipped to the observed global span — how many ids the
# chunk should carry vs how many arrived. Missing counts are pure
# integer span arithmetic, exact even at chunk boundaries because the
# chunk grid derives from the GLOBAL min/max, not per-chunk extremes.
# Scale shape: one filtered scan to chunk grain, a model-sized grid
# join; no windows over the raw stream.

GAP_CHUNK = 1000
GAP_DROP_MOD, GAP_DROP_RESIDUE = 97, 13


def cdc_sequence_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("sid")
    )
    received = ev.filter(F.col("sid") % GAP_DROP_MOD != GAP_DROP_RESIDUE)
    lim = ev.agg(F.min("sid").alias("gmin"), F.max("sid").alias("gmax"))
    per_chunk = received.groupBy(
        F.expr(f"sid div {GAP_CHUNK}").alias("chunk_id")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_received"))
    grid = lim.select(
        F.explode(
            F.sequence(
                F.expr(f"gmin div {GAP_CHUNK}"), F.expr(f"gmax div {GAP_CHUNK}")
            )
        ).alias("chunk_id"),
        "gmin",
        "gmax",
    )
    return (
        grid.join(per_chunk, "chunk_id", "left")
        .select(
            "chunk_id",
            F.greatest(F.col("chunk_id") * GAP_CHUNK, F.col("gmin")).alias("span_lo"),
            F.least(F.col("chunk_id") * GAP_CHUNK + GAP_CHUNK - 1, F.col("gmax"))
            .alias("span_hi"),
            F.coalesce("n_received", F.lit(0)).cast("long").alias("n_received"),
        )
        .select(
            "chunk_id", "span_lo", "span_hi", "n_received",
            (F.col("span_hi") - F.col("span_lo") + 1 - F.col("n_received"))
            .cast("long").alias("n_missing"),
        )
    )


ORACLE_GAPS = f"""
WITH ev AS (SELECT event_id AS sid FROM events),
lim AS (SELECT MIN(sid) AS gmin, MAX(sid) AS gmax FROM ev),
received AS (SELECT sid FROM ev WHERE sid % {GAP_DROP_MOD} <> {GAP_DROP_RESIDUE}),
per_chunk AS (
  SELECT sid // {GAP_CHUNK} AS chunk_id, COUNT(*)::BIGINT AS n_received
  FROM received GROUP BY 1
),
grid AS (
  SELECT unnest(range(gmin // {GAP_CHUNK}, gmax // {GAP_CHUNK} + 1)) AS chunk_id,
         gmin, gmax
  FROM lim
)
SELECT g.chunk_id,
       GREATEST(g.chunk_id * {GAP_CHUNK}, g.gmin) AS span_lo,
       LEAST(g.chunk_id * {GAP_CHUNK} + {GAP_CHUNK} - 1, g.gmax) AS span_hi,
       COALESCE(p.n_received, 0)::BIGINT AS n_received,
       (LEAST(g.chunk_id * {GAP_CHUNK} + {GAP_CHUNK} - 1, g.gmax)
        - GREATEST(g.chunk_id * {GAP_CHUNK}, g.gmin) + 1
        - COALESCE(p.n_received, 0))::BIGINT AS n_missing
FROM grid g LEFT JOIN per_chunk p ON p.chunk_id = g.chunk_id
"""

PENDING_QUERIES["cdc_sequence_gap_report"] = cdc_sequence_gap_report
PENDING_ORACLE["cdc_sequence_gap_report"] = ORACLE_GAPS


# --- Replication staleness report — PENDING round 7 ----------------------------
#
# The freshness audit run against a FINAL view: how stale is each key's
# current row relative to the newest change in the log? Staleness in whole
# hours (stale_s div 3600) against the global max event second, bucketed by
# the power-of-2 device bucket = length(bin(hours + 1)) − 1 (ilog2 — same
# primitive as the tokenizer's score quantizer, rendered identically by
# Spark's bin() and DuckDB's bin()). Tombstoned keys (last event 'error')
# are excluded — they have no live row to be stale (the current_state
# convention). Scale shape: one per-key arg-max (map-side max_by, the A2
# single-shuffle pattern), a broadcast one-row global max, and a bounded
# bucket-grain aggregate.

def cdc_staleness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        F.col("event_id").alias("eid"),
        "event_type",
    )
    last = ev.groupBy("user_id").agg(
        F.max_by(F.struct("es", "event_type"), F.struct("es", "eid")).alias("__l")
    ).select(
        "user_id",
        F.col("__l.es").alias("last_es"),
        F.col("__l.event_type").alias("last_type"),
    ).filter(F.col("last_type") != "error")
    now = ev.agg(F.max("es").alias("now_es"))
    buck = last.crossJoin(F.broadcast(now)).select(
        F.expr("(now_es - last_es) div 3600").cast("long").alias("stale_h")
    ).select(
        "stale_h",
        (F.length(F.bin(F.col("stale_h") + 1)) - 1).cast("long").alias("bucket"),
    )
    return buck.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.min("stale_h").cast("long").alias("min_h"),
        F.max("stale_h").cast("long").alias("max_h"),
    )


ORACLE_STALENESS = """
WITH ev AS (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es, event_id AS eid,
         event_type
  FROM events
),
last AS (
  SELECT user_id, es AS last_es, event_type AS last_type FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY es DESC, eid DESC) AS rn
    FROM ev
  ) WHERE rn = 1 AND event_type <> 'error'
),
buck AS (
  SELECT (((SELECT MAX(es) FROM ev) - last_es) // 3600)::BIGINT AS stale_h
  FROM last
)
SELECT (length(bin(stale_h + 1)) - 1)::BIGINT AS bucket,
       COUNT(*)::BIGINT AS n_keys,
       MIN(stale_h)::BIGINT AS min_h,
       MAX(stale_h)::BIGINT AS max_h
FROM buck
GROUP BY 1
"""

PENDING_QUERIES["cdc_staleness_report"] = cdc_staleness_report
PENDING_ORACLE["cdc_staleness_report"] = ORACLE_STALENESS


# --- Delivery-order inversion report — PENDING round 7 --------------------------
#
# The late-data rate the watermark/LWW machinery exists to absorb, measured:
# treating event_id as ARRIVAL order and the event timestamp as SOURCE
# (commit) order, an adjacent inversion is a consecutive arrival pair for a
# key whose timestamps run backwards — each one is a delivery that a
# timestamp-ordered consumer would have mis-applied without version
# arg-max. Reported per event type of the LATER (inverted) arrival:
# adjacent pairs, inversions, rate in ppm, and the worst backwards jump in
# seconds. Scale shape: one lag window pass per user partition (the
# arrival sort), one bounded type-grain aggregate — the same single-shuffle
# shape as the sequence-gap audit.

def cdc_inversion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id").alias("arr"),
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("arr")
    pairs = ev.select(
        "event_type",
        (F.col("es") - F.lag("es").over(w)).alias("d"),
    ).filter(F.col("d").isNotNull())
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.count_if(F.col("d") < 0).cast("long").alias("n_inversions"),
        F.expr("count_if(d < 0) * 1000000 div count(1)")
        .cast("long")
        .alias("inversion_ppm"),
        F.coalesce(-F.min(F.when(F.col("d") < 0, F.col("d"))), F.lit(0))
        .cast("long")
        .alias("max_backjump_s"),
    )


ORACLE_INVERSIONS = """
WITH pairs AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts)) AS BIGINT)
           - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY event_id) AS d
  FROM events
)
SELECT event_type,
       COUNT(*)::BIGINT AS n_pairs,
       COUNT(*) FILTER (WHERE d < 0)::BIGINT AS n_inversions,
       (COUNT(*) FILTER (WHERE d < 0) * 1000000 // COUNT(*))::BIGINT
         AS inversion_ppm,
       COALESCE(-MIN(CASE WHEN d < 0 THEN d END), 0)::BIGINT AS max_backjump_s
FROM pairs
WHERE d IS NOT NULL
GROUP BY event_type
"""

PENDING_QUERIES["cdc_inversion_report"] = cdc_inversion_report
PENDING_ORACLE["cdc_inversion_report"] = ORACLE_INVERSIONS


# --- State-table growth curve — PENDING round 7 ---------------------------------
#
# Capacity planning for the keyed state table: how fast does the key space
# grow? Each key's FIRST-SEEN day (min over its events — arrival of the 'c'
# row in envelope terms), rolled to daily new-key counts and the cumulative
# key count (running sum over the BOUNDED daily grid; days without arrivals
# simply don't emit a row — the cumulative still carries, stated not
# hidden). Scale shape: one per-key min (map-side partials), one daily
# aggregate, one ordered window over the bounded day domain.

def cdc_state_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").alias("day"),
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("d0"))
    daily = first.groupBy("d0").agg(
        F.count(F.lit(1)).cast("long").alias("n_new_keys")
    )
    w = Window.orderBy("d0").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.col("d0").alias("day"),
        "n_new_keys",
        F.sum("n_new_keys").over(w).cast("long").alias("cum_keys"),
    )


ORACLE_STATE_GROWTH = """
WITH first AS (
  SELECT user_id, MIN(CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) AS d0
  FROM events GROUP BY user_id
),
daily AS (SELECT d0, COUNT(*)::BIGINT AS n_new_keys FROM first GROUP BY d0)
SELECT d0 AS day, n_new_keys,
       SUM(n_new_keys) OVER (ORDER BY d0
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_keys
FROM daily
"""

PENDING_QUERIES["cdc_state_growth"] = cdc_state_growth
PENDING_ORACLE["cdc_state_growth"] = ORACLE_STATE_GROWTH


# --- Key churn (arrivals vs tombstones) — PENDING round 7 -----------------------
#
# The flow companion of the growth curve above: per week, keys ARRIVING
# (first-ever event) vs keys TOMBSTONED (an 'error' event that is still the
# key's last event at corpus end — the settled-delete definition, so a
# revived key never counts), and the running net live-key balance. Scale
# shape: two per-key arg-aggregates (min for arrival, arg-max for the
# settled state — the A2 single-shuffle pattern), one bounded weekly grid
# with a full-outer conditional pivot, one running window over that grid.

def cdc_key_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        F.col("event_id").alias("eid"),
        "event_type",
    )
    per = ev.groupBy("user_id").agg(
        F.min("es").alias("first_es"),
        F.max_by(F.struct("es", "event_type"), F.struct("es", "eid")).alias("__l"),
    ).select(
        "user_id",
        F.expr("first_es div 604800").cast("long").alias("w_in"),
        F.when(
            F.col("__l.event_type") == "error",
            F.expr("__l.es div 604800"),
        ).cast("long").alias("w_out"),
    )
    arr = per.groupBy(F.col("w_in").alias("week")).agg(
        F.count(F.lit(1)).cast("long").alias("n_arrived")
    )
    dep = per.filter(F.col("w_out").isNotNull()).groupBy(
        F.col("w_out").alias("week")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_tombstoned"))
    grid = arr.join(dep, "week", "full").select(
        "week",
        F.coalesce("n_arrived", F.lit(0)).cast("long").alias("n_arrived"),
        F.coalesce("n_tombstoned", F.lit(0)).cast("long").alias("n_tombstoned"),
    )
    w = Window.orderBy("week").rowsBetween(Window.unboundedPreceding, 0)
    return grid.select(
        "week", "n_arrived", "n_tombstoned",
        F.sum(F.col("n_arrived") - F.col("n_tombstoned"))
        .over(w)
        .cast("long")
        .alias("net_live_keys"),
    )


ORACLE_KEY_CHURN = """
WITH ev AS (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es, event_id AS eid,
         event_type
  FROM events
),
per AS (
  SELECT user_id,
         MIN(es) // 604800 AS w_in,
         CASE WHEN FIRST(event_type ORDER BY es DESC, eid DESC) = 'error'
              THEN FIRST(es ORDER BY es DESC, eid DESC) // 604800 END AS w_out
  FROM ev GROUP BY user_id
),
arr AS (SELECT w_in AS week, COUNT(*)::BIGINT AS n_arrived FROM per GROUP BY 1),
dep AS (
  SELECT w_out AS week, COUNT(*)::BIGINT AS n_tombstoned FROM per
  WHERE w_out IS NOT NULL GROUP BY 1
),
grid AS (
  SELECT COALESCE(a.week, d.week) AS week,
         COALESCE(n_arrived, 0)::BIGINT AS n_arrived,
         COALESCE(n_tombstoned, 0)::BIGINT AS n_tombstoned
  FROM arr a FULL JOIN dep d ON a.week = d.week
)
SELECT week, n_arrived, n_tombstoned,
       SUM(n_arrived - n_tombstoned) OVER (ORDER BY week
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         AS net_live_keys
FROM grid
"""

PENDING_QUERIES["cdc_key_churn"] = cdc_key_churn
PENDING_ORACLE["cdc_key_churn"] = ORACLE_KEY_CHURN


# --- Write-amplification report — PENDING round 7 -------------------------------
#
# How much churn does the upsert path absorb? Per key, the change-log holds
# n_versions rows but the FINAL view keeps one — the ratio is the storage /
# merge work the ReplacingMergeTree analogue pays. Keys banded by
# power-of-2 version counts (the shared ilog2 bin() device); each band
# reports keys, log rows, and the band's amplification in milli
# (rows·1000 div keys). The corpus-wide ratio is the n_versions-weighted
# mean of the bands — derivable, so it is NOT shipped as a separate
# all-grain row. Scale shape: one per-key count (map-side partials), one
# bounded band rollup.

def cdc_write_amplification(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_versions")
    )
    banded = per.select(
        "n_versions",
        (F.length(F.bin(F.col("n_versions"))) - 1).cast("long").alias("band"),
    )
    return banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n_versions").cast("long").alias("n_log_rows"),
        F.expr("sum(n_versions) * 1000 div count(1)")
        .cast("long")
        .alias("amplification_milli"),
    )


ORACLE_WRITE_AMP = """
WITH per AS (
  SELECT user_id, COUNT(*)::BIGINT AS n_versions FROM events GROUP BY user_id
)
SELECT (length(bin(n_versions)) - 1)::BIGINT AS band,
       COUNT(*)::BIGINT AS n_keys,
       SUM(n_versions)::BIGINT AS n_log_rows,
       (SUM(n_versions) * 1000 // COUNT(*))::BIGINT AS amplification_milli
FROM per
GROUP BY 1
"""

PENDING_QUERIES["cdc_write_amplification"] = cdc_write_amplification
PENDING_ORACLE["cdc_write_amplification"] = ORACLE_WRITE_AMP


# --- Weekly op-code mix — PENDING round 7 ---------------------------------------
#
# The envelope-operation mix over time under the standard event mapping
# (a key's FIRST event is its create 'c', an 'error' is a delete 'd',
# everything else an update 'u'): per week, counts and ppm shares of each
# op — the workload-shape report capacity and compaction planning read
# (update-heavy weeks merge; delete-heavy weeks tombstone-compact). Scale
# shape: one per-key min to mark creates (map-side partials), one
# user-keyed join back, one bounded (week × 3) rollup with shares via a
# week-partition window over that grid.

def cdc_op_mix_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id").alias("eid"),
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        "event_type",
    )
    first = ev.groupBy("user_id").agg(
        F.min(F.struct("es", "eid")).alias("__f")
    ).select("user_id", F.col("__f.eid").alias("first_eid"))
    opd = ev.join(first, "user_id").select(
        F.expr("es div 604800").cast("long").alias("week"),
        F.when(F.col("eid") == F.col("first_eid"), "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
        .alias("op"),
    )
    per = opd.groupBy("week", "op").agg(
        F.count(F.lit(1)).cast("long").alias("n_ops")
    )
    ww = Window.partitionBy("week")
    return per.select(
        "week", "op", "n_ops",
        F.expr("n_ops * 1000000 div sum(n_ops) over (partition by week)")
        .cast("long")
        .alias("share_ppm"),
    )


ORACLE_OP_MIX = """
WITH ev AS (
  SELECT user_id, event_id AS eid,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS es, event_type
  FROM events
),
first AS (
  SELECT user_id, FIRST(eid ORDER BY es, eid) AS first_eid
  FROM ev GROUP BY user_id
),
opd AS (
  SELECT (es // 604800)::BIGINT AS week,
         CASE WHEN eid = first_eid THEN 'c'
              WHEN event_type = 'error' THEN 'd'
              ELSE 'u' END AS op
  FROM ev JOIN first USING (user_id)
),
per AS (SELECT week, op, COUNT(*)::BIGINT AS n_ops FROM opd GROUP BY 1, 2)
SELECT week, op, n_ops,
       (n_ops * 1000000 // SUM(n_ops) OVER (PARTITION BY week))::BIGINT
         AS share_ppm
FROM per
"""

PENDING_QUERIES["cdc_op_mix_weekly"] = cdc_op_mix_weekly
PENDING_ORACLE["cdc_op_mix_weekly"] = ORACLE_OP_MIX


# --- Round-7 registration wave 1 ------------------------------------------
# Flip these pending rows into the driver contract: the r6 green rows freed
# window slots (rotation policy in COVERAGE.md; order in
# queries/__init__._WINDOW_FRONT). The functions above are unchanged — the
# flip only moves the (query, oracle) pair between registries.
_REGISTER_WAVE1 = (
    "cdc_pk_change_state",
    "cdc_state_asof",
    "cdc_dlq_report",
)
for _n in _REGISTER_WAVE1:
    QUERIES[_n] = PENDING_QUERIES.pop(_n)
    ORACLE[_n] = PENDING_ORACLE.pop(_n)
del _n


# --- Round-8 registration: the whole pending layer flips in ----------------
# VERDICT r7 #1: the driver's 50-row window gates which rows get CHECKED per
# round, not how many may be REGISTERED — holding locally hash-verified
# operators out of the contract understates coverage and risks rows never
# receiving a driver row. Window order lives in queries/__init__.
flip_pending(PENDING_QUERIES, PENDING_ORACLE, QUERIES, ORACLE)


# --- transaction atomicity report (extension beyond the reference) ------------
#
# Debezium can emit transaction metadata (BEGIN/END markers with per-table
# event counts); the reference's single-table pipeline never consumes it,
# but any multi-statement source makes "was the whole transaction applied"
# the first replication-health question. Model: a user's events inside one
# 10-minute bucket form one transaction; a consumer cut at the 70th
# percentile of the LSN range (here: event-time micros, the version token
# per README.md:98) splits history into applied/unapplied. A transaction
# with events on BOTH sides of the cut is TORN — the atomicity violation a
# txn-boundary-aware sink must buffer against. All-integer; one keyed agg
# + a broadcast one-row bound; scale = O(|events|) map + one shuffle.

TXN_BUCKET_US = 600_000_000


def cdc_txn_atomicity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_type",
    )
    bounds = ev.agg(
        (
            F.min("us") + F.expr("CAST((max(us) - min(us)) * 7 div 10 AS BIGINT)")
        ).alias("cut_us")
    )
    per_txn = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id", F.expr(f"us div {TXN_BUCKET_US}").alias("tb"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("event_type").cast("long").alias("n_types"),
            F.sum(F.when(F.col("us") <= F.col("cut_us"), 1).otherwise(0))
            .cast("long").alias("n_before_cut"),
        )
    )
    return per_txn.agg(
        F.count(F.lit(1)).cast("long").alias("n_txns"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.max("n_events").cast("long").alias("max_events_per_txn"),
        F.sum(F.when(F.col("n_types") > 1, 1).otherwise(0))
        .cast("long").alias("n_multi_type_txns"),
        F.sum(
            F.when(
                (F.col("n_before_cut") > 0) & (F.col("n_before_cut") < F.col("n_events")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_torn_at_cut"),
    ).select(
        "n_txns", "n_events", "max_events_per_txn", "n_multi_type_txns",
        "n_torn_at_cut",
        F.expr("n_torn_at_cut * 1000000 div n_txns").alias("torn_ppm"),
    )


_SQL_TXN_ATOMICITY = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, event_type FROM events
),
bounds AS (
  SELECT MIN(us) + (MAX(us) - MIN(us)) * 7 // 10 AS cut_us FROM ev
),
per_txn AS (
  SELECT user_id, us // {TXN_BUCKET_US} AS tb,
         COUNT(*)::BIGINT AS n_events,
         COUNT(DISTINCT event_type)::BIGINT AS n_types,
         SUM(CASE WHEN us <= (SELECT cut_us FROM bounds) THEN 1 ELSE 0 END)::BIGINT
           AS n_before_cut
  FROM ev GROUP BY 1, 2
)
SELECT COUNT(*)::BIGINT AS n_txns,
       SUM(n_events)::BIGINT AS n_events,
       MAX(n_events)::BIGINT AS max_events_per_txn,
       SUM(CASE WHEN n_types > 1 THEN 1 ELSE 0 END)::BIGINT AS n_multi_type_txns,
       SUM(CASE WHEN n_before_cut > 0 AND n_before_cut < n_events
                THEN 1 ELSE 0 END)::BIGINT AS n_torn_at_cut,
       (SUM(CASE WHEN n_before_cut > 0 AND n_before_cut < n_events
                 THEN 1 ELSE 0 END) * 1000000 // COUNT(*))::BIGINT AS torn_ppm
FROM per_txn
"""

QUERIES["cdc_txn_atomicity_report"] = cdc_txn_atomicity_report
ORACLE["cdc_txn_atomicity_report"] = _SQL_TXN_ATOMICITY


# --- per-bucket compaction debt ----------------------------------------------
#
# The ReplacingMergeTree merge-DEBT planning view (the reference's engine
# merges duplicate-key rows in the background, clickhouse_schemas.sql:11-13,
# README.md:59-62; a FINAL read pays for whatever has not merged yet): per
# key-hash bucket of the change log under the standard event mapping
# (user_id = business key, events = versions, last 'error' = tombstone
# winner), how many rows a compaction would reclaim — superseded versions
# plus every version of tombstoned keys — and the debt share that prices the
# bucket's FINAL-read overhead. This is the report that schedules which
# buckets the optimize pass (operators/layout.py) rewrites first.
#
# Scale shape: one keyed aggregation per key (map-side partials), one
# bounded rollup over N_DEBT_BUCKETS rows; the last-version winner rides the
# same max_by device as the state table, no window over the log.

N_DEBT_BUCKETS = 8


def debt_rollup(per_user: DataFrame) -> DataFrame:
    """Bucket rollup shared by the batch report and the streaming debt
    state reader (`streaming/sketch.py::read_compaction_debt`): takes one
    row per key (user_id, n_versions, last_type) — however maintained —
    and prices per-bucket merge debt."""
    bucketed = per_user.select(
        (F.col("user_id") % N_DEBT_BUCKETS).cast("long").alias("bucket"),
        "n_versions",
        (F.col("last_type") == "error").alias("dead"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n_versions").cast("long").alias("n_log_rows"),
        F.sum(F.col("n_versions") - 1).cast("long").alias("n_superseded"),
        F.sum(F.when(F.col("dead"), 1).otherwise(0))
        .cast("long")
        .alias("n_tombstoned_keys"),
        F.sum(
            F.when(F.col("dead"), F.col("n_versions")).otherwise(
                F.col("n_versions") - 1
            )
        )
        .cast("long")
        .alias("n_reclaimable"),
        F.expr(
            "sum(if(dead, n_versions, n_versions - 1)) * 1000000"
            " div sum(n_versions)"
        )
        .cast("long")
        .alias("debt_ppm"),
    )


def cdc_compaction_debt_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id").alias("eid"),
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
        "event_type",
    )
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_versions"),
        F.expr("max_by(event_type, struct(es, eid))").alias("last_type"),
    )
    return debt_rollup(per)


_SQL_COMPACTION_DEBT = f"""
WITH ev AS (
  SELECT user_id, event_id AS eid,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS es, event_type
  FROM events
),
per AS (
  SELECT user_id, COUNT(*)::BIGINT AS n_versions,
         FIRST(event_type ORDER BY es DESC, eid DESC) AS last_type
  FROM ev GROUP BY user_id
),
bucketed AS (
  SELECT (user_id % {N_DEBT_BUCKETS})::BIGINT AS bucket, n_versions,
         last_type = 'error' AS dead
  FROM per
)
SELECT bucket,
       COUNT(*)::BIGINT AS n_keys,
       SUM(n_versions)::BIGINT AS n_log_rows,
       SUM(n_versions - 1)::BIGINT AS n_superseded,
       SUM(CASE WHEN dead THEN 1 ELSE 0 END)::BIGINT AS n_tombstoned_keys,
       SUM(CASE WHEN dead THEN n_versions ELSE n_versions - 1 END)::BIGINT
         AS n_reclaimable,
       (SUM(CASE WHEN dead THEN n_versions ELSE n_versions - 1 END) * 1000000
        // SUM(n_versions))::BIGINT AS debt_ppm
FROM bucketed
GROUP BY bucket
"""

QUERIES["cdc_compaction_debt_report"] = cdc_compaction_debt_report
ORACLE["cdc_compaction_debt_report"] = _SQL_COMPACTION_DEBT


# --- Bucket-layout skew audit — round 10 ---------------------------------------
#
# The key_buckets sizing table: the bucketed state layout
# (operators/state.py) rewrites ONLY touched buckets per micro-batch, so
# the right N trades rewrite-unit size against per-batch fan-out — and a
# skewed key distribution quietly turns "O(touched buckets)" into
# "O(the one hot bucket) every batch". Per candidate N in {16, 64, 256}:
# occupancy skew (hottest bucket vs fair share), empty-bucket count, and
# the occupancy Herfindahl (sum of squared bucket shares, ppm) — the three
# numbers that decide N before reshuffling a 100 TB table.
#
# The bucket function here is the md5-derived integer (the oracle-portable
# stand-in for the layout's xxhash64 — both uniform washes of the key, so
# the N-sizing conclusion transfers; the layout function itself is pinned
# by the state tests). One keys scan fans through the 3-row N grid
# (explode), partial-aggs map-side; output is 3 rows.

BUCKET_SKEW_NS = [16, 64, 256]


def cdc_bucket_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_postgresql_clickhouse_spark.queries.sketches import (
        _HEX_DIGITS,
        _sql_hex_int,  # noqa: F401 — twin device documented here
    )

    keys = load_table(spark, sf_dir, "events").select("user_id").distinct()
    hashed = keys.select(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, _HEX_DIGITS), 16, 10
        ).cast("long").alias("h"),
        F.explode(F.array(*[F.lit(n) for n in BUCKET_SKEW_NS])).alias("n_buckets"),
    )
    occ = hashed.groupBy(
        "n_buckets", (F.col("h") % F.col("n_buckets")).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("k"))
    per = occ.groupBy("n_buckets").agg(
        F.sum("k").cast("long").alias("n_keys"),
        F.max("k").cast("long").alias("max_bucket_keys"),
        F.count(F.lit(1)).cast("long").alias("n_nonempty"),
        F.sum(F.col("k") * F.col("k")).cast("long").alias("ssq"),
    )
    return per.select(
        F.col("n_buckets").cast("long").alias("n_buckets"),
        "n_keys",
        "max_bucket_keys",
        (F.col("n_buckets") - F.col("n_nonempty")).cast("long").alias("empty_buckets"),
        # hottest bucket vs fair share n_keys/N, in milli
        F.expr("max_bucket_keys * 1000 * n_buckets div n_keys").cast("long")
        .alias("skew_milli"),
        # occupancy HHI: sum of squared shares, ppm (uniform -> 1e6/N)
        F.expr("ssq * 1000000 div (n_keys * n_keys)").cast("long").alias("occ_hhi_ppm"),
    )


def _sql_bucket_skew() -> str:
    from cdc_postgresql_clickhouse_spark.queries.sketches import (
        _HEX_DIGITS,
        _sql_hex_int,
    )

    grid = ", ".join(f"({n})" for n in BUCKET_SKEW_NS)
    return f"""
WITH keys AS MATERIALIZED (
  SELECT DISTINCT user_id FROM events
),
hashed AS (
  SELECT {_sql_hex_int('CAST(user_id AS VARCHAR)', _HEX_DIGITS)} AS h, g.n_buckets
  FROM keys CROSS JOIN (SELECT * FROM (VALUES {grid}) AS t(n_buckets)) g
),
occ AS (
  SELECT n_buckets, h % n_buckets AS bucket, COUNT(*)::BIGINT AS k
  FROM hashed GROUP BY 1, 2
),
per AS (
  SELECT n_buckets,
         SUM(k)::BIGINT AS n_keys,
         MAX(k)::BIGINT AS max_bucket_keys,
         COUNT(*)::BIGINT AS n_nonempty,
         SUM(k * k)::BIGINT AS ssq
  FROM occ GROUP BY 1
)
SELECT CAST(n_buckets AS BIGINT) AS n_buckets,
       n_keys,
       max_bucket_keys,
       (n_buckets - n_nonempty)::BIGINT AS empty_buckets,
       (max_bucket_keys * 1000 * n_buckets // n_keys)::BIGINT AS skew_milli,
       (ssq * 1000000 // (n_keys * n_keys))::BIGINT AS occ_hhi_ppm
FROM per
"""


QUERIES["cdc_bucket_skew_report"] = cdc_bucket_skew_report
ORACLE["cdc_bucket_skew_report"] = _sql_bucket_skew()


# --- Schema-change compatibility report (T4 companion) — round 11 --------------
#
# cdc_schema_evolution_state proves the sink FOLLOWS a widening DDL; this
# row classifies every DDL transition the way a schema registry's
# BACKWARD-compatibility gate would (Confluent registry semantics; the
# reference ships DDL events to the schema topic,
# debezium_configuration.json:27, and leaves the consumer to judge them):
# per consecutive (table, schema) pair in the T4 history, count added
# optional columns (safe), added REQUIRED columns (breaking: old
# producers' rows lack them), drops (breaking: consumers still read
# them), numeric widenings int2<int4<int8 (safe), narrowings / other
# retypes (breaking), optional->required tightenings (breaking), and
# primary-key changes (breaking for an upsert sink keyed on the pk).
# compat = 'safe' only when every breaking counter is zero. The DDL
# fixture exercises all seven transition kinds.
#
# Scale shape: the history table is DDL-cadence rows (tiny forever); the
# diff is one lag window per table plus higher-order array functions —
# no joins, no explode of the column arrays.

_COMPAT_T0 = 1700100000000


def _ddl_json_full(
    ts_ms: int,
    change_type: str,
    cols: list[tuple[str, str, bool]],
    pk: list[str],
    ddl: str,
) -> str:
    import json

    return json.dumps({
        "ts_ms": ts_ms,
        "databaseName": "app",
        "schemaName": "public",
        "ddl": ddl,
        "tableChanges": [{
            "type": change_type,
            "id": '"public"."bookings"',
            "table": {
                "columns": [
                    {"name": n, "typeName": t, "position": i + 1, "optional": o}
                    for i, (n, t, o) in enumerate(cols)
                ],
                "primaryKeyColumnNames": pk,
            },
        }],
    })


_COMPAT_BASE: list[tuple[str, str, bool]] = [
    ("id", "int8", False),
    ("booking_id", "varchar", False),
    ("status", "varchar", True),
    ("amount", "int4", True),
]
_COMPAT_STEPS: list[tuple[str, list[tuple[str, str, bool]], list[str], str]] = [
    ("CREATE", _COMPAT_BASE, ["booking_id"], "CREATE TABLE bookings (...)"),
    # +optional column: safe
    ("ALTER", _COMPAT_BASE + [("k_value", "int8", True)], ["booking_id"],
     "ALTER TABLE bookings ADD COLUMN k_value int8"),
    # numeric widening int4 -> int8: safe
    ("ALTER", [(n, "int8" if n == "amount" else t, o)
               for n, t, o in _COMPAT_BASE] + [("k_value", "int8", True)],
     ["booking_id"], "ALTER TABLE bookings ALTER COLUMN amount TYPE int8"),
    # +required column: breaking
    ("ALTER", [(n, "int8" if n == "amount" else t, o)
               for n, t, o in _COMPAT_BASE] + [("k_value", "int8", True),
                                               ("region", "varchar", False)],
     ["booking_id"], "ALTER TABLE bookings ADD COLUMN region varchar NOT NULL"),
    # drop column + narrow amount back to int4: breaking twice over
    ("ALTER", [(n, "int4" if n == "amount" else t, o)
               for n, t, o in _COMPAT_BASE] + [("region", "varchar", False)],
     ["booking_id"],
     "ALTER TABLE bookings DROP COLUMN k_value, ALTER COLUMN amount TYPE int4"),
    # optional -> required tightening: breaking
    ("ALTER", [(n, t, False if n == "status" else o)
               for n, t, o in _COMPAT_BASE
               if True] + [("region", "varchar", False)],
     ["booking_id"], "ALTER TABLE bookings ALTER COLUMN status SET NOT NULL"),
    # primary-key change: breaking for the keyed upsert sink
    ("ALTER", [(n, t, False if n == "status" else o)
               for n, t, o in _COMPAT_BASE] + [("region", "varchar", False)],
     ["booking_id", "region"], "ALTER TABLE bookings ... PRIMARY KEY (booking_id, region)"),
]


def cdc_schema_compat_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from cdc_postgresql_clickhouse_spark.sources.schema_changes import (
        decode_schema_change_events,
        schema_history,
    )

    raw = spark.createDataFrame(
        [
            (_ddl_json_full(_COMPAT_T0 + 1000 * i, ct, cols, pk, ddl),)
            for i, (ct, cols, pk, ddl) in enumerate(_COMPAT_STEPS)
        ],
        "value string",
    )
    hist = schema_history(decode_schema_change_events(raw))
    w = Window.partitionBy("table_id").orderBy("ts_ms")
    d = hist.select(
        "ts_ms", "table_id", "change_type", "ddl", "columns", "pk_columns",
        F.lag("columns").over(w).alias("prev_cols"),
        F.lag("pk_columns").over(w).alias("prev_pk"),
    ).filter(F.col("prev_cols").isNotNull())
    rank = (
        "CASE c.typeName WHEN 'int2' THEN 1 WHEN 'int4' THEN 2"
        " WHEN 'int8' THEN 3 ELSE 0 END"
    )
    prank = rank.replace("c.typeName", "p.typeName")
    added = F.expr(
        "filter(columns, c -> !exists(prev_cols, p -> p.name = c.name))"
    )
    common = F.expr(
        "filter(columns, c -> exists(prev_cols, p -> p.name = c.name))"
    )
    out = d.select(
        "ts_ms", "table_id", "ddl",
        F.expr(
            "size(filter(columns, c -> !exists(prev_cols, p -> p.name = c.name)"
            " AND c.optional))"
        ).cast("long").alias("n_added_optional"),
        F.expr(
            "size(filter(columns, c -> !exists(prev_cols, p -> p.name = c.name)"
            " AND NOT c.optional))"
        ).cast("long").alias("n_added_required"),
        F.expr(
            "size(filter(prev_cols, p -> !exists(columns, c -> c.name = p.name)))"
        ).cast("long").alias("n_dropped"),
        F.expr(
            f"size(filter(columns, c -> exists(prev_cols, p -> p.name = c.name"
            f" AND p.typeName <> c.typeName"
            f" AND {prank} > 0 AND {rank} > {prank})))"
        ).cast("long").alias("n_widened"),
        F.expr(
            f"size(filter(columns, c -> exists(prev_cols, p -> p.name = c.name"
            f" AND p.typeName <> c.typeName"
            f" AND NOT ({prank} > 0 AND {rank} > {prank}))))"
        ).cast("long").alias("n_retyped_breaking"),
        F.expr(
            "size(filter(columns, c -> exists(prev_cols, p -> p.name = c.name"
            " AND p.optional AND NOT c.optional)))"
        ).cast("long").alias("n_tightened"),
        (~F.expr(
            "size(pk_columns) = size(prev_pk)"
            " AND size(array_except(pk_columns, prev_pk)) = 0"
        )).cast("long").alias("pk_changed"),
    )
    return out.select(
        "*",
        F.when(
            F.col("n_added_required") + F.col("n_dropped")
            + F.col("n_retyped_breaking") + F.col("n_tightened")
            + F.col("pk_changed") > 0,
            F.lit("breaking"),
        ).otherwise(F.lit("safe")).alias("compat"),
    )


def _sql_compat() -> str:
    # the oracle re-declares the same DDL history as SQL literals (column
    # lists as (name, type, optional) structs) and re-derives the
    # classification independently — two decoders, two diff
    # implementations, one verdict
    def cols_sql(cols: list[tuple[str, str, bool]]) -> str:
        items = ", ".join(
            f"{{'name': '{n}', 'typeName': '{t}', 'optional': {str(o).lower()}}}"
            for n, t, o in cols
        )
        return f"[{items}]"

    rows = ",\n    ".join(
        f"({_COMPAT_T0 + 1000 * i}, '\"public\".\"bookings\"', "
        f"'{ddl.replace(chr(39), chr(39) * 2)}', {cols_sql(cols)}, "
        f"[{', '.join(repr(p) for p in pk)}])"
        for i, (_ct, cols, pk, ddl) in enumerate(_COMPAT_STEPS)
    )
    rank = ("CASE c.typeName WHEN 'int2' THEN 1 WHEN 'int4' THEN 2"
            " WHEN 'int8' THEN 3 ELSE 0 END")
    prank = rank.replace("c.typeName", "p.typeName")
    return f"""
WITH hist(ts_ms, table_id, ddl, columns, pk_columns) AS (VALUES
    {rows}
),
d AS (
  SELECT ts_ms, table_id, ddl, columns, pk_columns,
         lag(columns) OVER (PARTITION BY table_id ORDER BY ts_ms) AS prev_cols,
         lag(pk_columns) OVER (PARTITION BY table_id ORDER BY ts_ms) AS prev_pk
  FROM hist
),
diffs AS (
  SELECT ts_ms, table_id, ddl,
         len(list_filter(columns, c -> NOT list_contains(list_transform(prev_cols, p -> p.name), c.name) AND c.optional))::BIGINT AS n_added_optional,
         len(list_filter(columns, c -> NOT list_contains(list_transform(prev_cols, p -> p.name), c.name) AND NOT c.optional))::BIGINT AS n_added_required,
         len(list_filter(prev_cols, p -> NOT list_contains(list_transform(columns, c -> c.name), p.name)))::BIGINT AS n_dropped,
         len(list_filter(columns, c -> len(list_filter(prev_cols, p -> p.name = c.name AND p.typeName <> c.typeName AND {prank} > 0 AND {rank} > {prank})) > 0))::BIGINT AS n_widened,
         len(list_filter(columns, c -> len(list_filter(prev_cols, p -> p.name = c.name AND p.typeName <> c.typeName AND NOT ({prank} > 0 AND {rank} > {prank}))) > 0))::BIGINT AS n_retyped_breaking,
         len(list_filter(columns, c -> len(list_filter(prev_cols, p -> p.name = c.name AND p.optional AND NOT c.optional)) > 0))::BIGINT AS n_tightened,
         CASE WHEN len(pk_columns) = len(prev_pk)
                   AND len(list_filter(pk_columns, k -> NOT list_contains(prev_pk, k))) = 0
              THEN 0 ELSE 1 END::BIGINT AS pk_changed
  FROM d WHERE prev_cols IS NOT NULL
)
SELECT *,
       CASE WHEN n_added_required + n_dropped + n_retyped_breaking
                 + n_tightened + pk_changed > 0
            THEN 'breaking' ELSE 'safe' END AS compat
FROM diffs
"""


QUERIES["cdc_schema_compat_report"] = cdc_schema_compat_report
ORACLE["cdc_schema_compat_report"] = _sql_compat()
