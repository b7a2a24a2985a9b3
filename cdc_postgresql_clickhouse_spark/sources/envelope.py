"""Canonical CDC envelope: schema, JSON decode, and the golden fixture stream.

The reference's change representation is a Debezium envelope
``{before, after, op, ts_ms, source:{sequence, lsn}}`` produced by the
PostgreSQL connector (``connectors/debezium_configuration.json:6,16``) and
flattened into the 18 dotted columns of ``bookings_changes``
(``schemas/clickhouse_schemas.sql:15-37``,
``debezium_configuration.json:48-49``).

Spark keeps the struct nesting natively — flattening is a projection at the
compatibility boundary, not a structural transform. Conventions carried over:

- inserts (``op='c'``) have ``before = NULL``;
- deletes (``op='d'``) carry only the before-image (REPLICA IDENTITY FULL,
  reference ``README.md:26-29``) and there are **no** null-value tombstone
  records (``debezium_configuration.json:8``);
- ``source.lsn`` is the monotone version token (``README.md:61,98``);
- row timestamps in the envelope are epoch **micro**seconds (Debezium JSON
  encoding of TIMESTAMP; ``clickhouse_schemas.sql:22-23,29-30``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Row image of the source table `bookings` (schemas/postgresql_schemas.sql:1-9).
ROW_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("booking_id", StringType()),
        StructField("status", StringType()),
        StructField("is_deleted", BooleanType()),
        StructField("is_canceled", BooleanType()),
        StructField("created_at", LongType()),  # epoch micros
        StructField("modified_at", LongType()),  # epoch micros
    ]
)

SOURCE_SCHEMA = StructType(
    [
        StructField("sequence", StringType()),
        StructField("lsn", LongType()),
    ]
)

ENVELOPE_SCHEMA = StructType(
    [
        StructField("before", ROW_SCHEMA),
        StructField("after", ROW_SCHEMA),
        StructField("op", StringType()),  # c | u | d | r
        StructField("ts_ms", LongType()),
        StructField("source", SOURCE_SCHEMA),
    ]
)


#: op codes admitted into the state table (c=insert, r=snapshot read,
#: u=update, d=delete) — reference README.md:97, clickhouse_schemas.sql:58.
ADMITTED_OPS = ("c", "r", "u", "d")

#: where the JSON parser keeps the raw text of a record it could not parse
#: whole (Spark's default ``columnNameOfCorruptRecord``).
CORRUPT_RECORD_COL = "_corrupt_record"

DLQ_REASON = "unparseable envelope or missing or unknown op"

#: the dead-letter row both DLQ writers produce (``run_cdc_pipeline``'s JSON
#: sink, ``decode_json_envelopes_with_dlq``'s dead frame): the raw record
#: text, kept for replay-after-fix, and the verdict. Read a DLQ with it, not
#: by JSON inference, which scans every DLQ file once more.
DLQ_SCHEMA = StructType(
    [
        StructField("raw_value", StringType()),
        StructField("dlq_reason", StringType()),
    ]
)


def with_corrupt_record(schema: StructType) -> StructType:
    """``schema`` plus the parser's corrupt-record column (a copy —
    ``StructType.add`` would mutate a shared schema in place)."""
    return StructType([*schema.fields, StructField(CORRUPT_RECORD_COL, StringType())])


def is_dead_letter(envelope: Column | None = None) -> Column:
    """The one dead-letter verdict for a parsed envelope: the parser flagged
    the record corrupt (even when it salvaged some fields, the op among
    them — a partly parsed record must not upsert a partial image), or the op
    is missing, or it is not in ``ADMITTED_OPS``. ``envelope`` is the parsed
    struct; ``None`` reads top-level columns (the JSON file source). Never
    NULL, so ``~is_dead_letter()`` is exactly the valid set."""
    field = F.col if envelope is None else envelope.getField
    op = field("op")
    return field(CORRUPT_RECORD_COL).isNotNull() | op.isNull() | ~op.isin(*ADMITTED_OPS)


def decode_json_envelopes(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Decode schemaless-JSON envelope records (the reference's JsonConverter
    with schemas disabled, ``debezium_configuration.json:28,47``) into typed
    structs, dropping null-value tombstones defensively (T3)."""
    return (
        raw.filter(F.col(value_col).isNotNull())
        .select(F.from_json(F.col(value_col).cast("string"), ENVELOPE_SCHEMA).alias("e"))
        .select("e.*")
    )


def decode_json_envelopes_with_dlq(
    raw: DataFrame, value_col: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """Decode with a dead-letter split: returns (valid, dead_letters).

    The reference's connector stack either drops or stalls on malformed
    records (Kafka Connect error tolerance); a Spark-native pipeline should
    quarantine them instead — a poisoned message must never stall 100 TB/day
    of flow, and must stay replayable. A record is dead by ``is_dead_letter``
    — the same verdict ``run_cdc_pipeline`` gives; the raw bytes are
    preserved for replay-after-fix. Both outputs derive from one decode of
    the same input (shared subtree, no double parse at the source).
    """
    decoded = raw.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("string").alias("__raw"),
        F.from_json(
            F.col(value_col).cast("string"),
            with_corrupt_record(ENVELOPE_SCHEMA),
            {"columnNameOfCorruptRecord": CORRUPT_RECORD_COL},
        ).alias("e"),
    )
    is_dead = is_dead_letter(F.col("e"))
    valid = decoded.filter(~is_dead).select("e.*").drop(CORRUPT_RECORD_COL)
    dead = decoded.filter(is_dead).select(
        F.col("__raw").alias("raw_value"),
        F.lit(DLQ_REASON).alias("dlq_reason"),
    )
    return valid, dead


def flatten_envelope(df: DataFrame, delimiter: str = ".") -> DataFrame:
    """The `Flatten$Value` SMT equivalent (``debezium_configuration.json:48-49``):
    project nested structs to dotted top-level columns matching the 18-column
    ``bookings_changes`` layout (``clickhouse_schemas.sql:17-34``)."""
    cols = []
    for parent in ("before", "after"):
        for f in ROW_SCHEMA.fields:
            cols.append(F.col(f"{parent}.{f.name}").alias(f"{parent}{delimiter}{f.name}"))
    cols += [
        F.col("op"),
        F.col("ts_ms"),
        F.col("source.sequence").alias(f"source{delimiter}sequence"),
        F.col("source.lsn").alias(f"source{delimiter}lsn"),
    ]
    return df.select(*cols)


def _row(id_, bid, status, is_canceled=False, is_deleted=False, at=1700000000_000000):
    return {
        "id": id_,
        "booking_id": bid,
        "status": status,
        "is_deleted": is_deleted,
        "is_canceled": is_canceled,
        "created_at": at,
        "modified_at": at,
    }


def golden_workload_envelopes() -> list[dict]:
    """The reference's DML walkthrough (``README.md:142-152,288-305``) as a
    deterministic envelope stream; lsn = statement order. Expected final
    state after version arg-max + soft-delete filtering: 6 rows
    (b1 Open, b2 Created, b7 Completed, b8/b9 Cancelled, b10 Completed).
    """
    initial = [
        ("b1", "Open", False),
        ("b2", "Created", False),
        ("b3", "In Progress", False),
        ("b4", "In Progress", False),
        ("b5", "Delayed", False),
        ("b6", "Delayed", False),
        ("b7", "Completed", False),
        ("b8", "Cancelled", True),
        ("b9", "Cancelled", True),
        ("b10", "Completed", False),
    ]
    events: list[dict] = []
    lsn = 0
    state: dict[str, dict] = {}

    def emit(op, before, after):
        nonlocal lsn
        lsn += 1
        events.append(
            {
                "before": before,
                "after": after,
                "op": op,
                "ts_ms": 1700000000000 + lsn,
                "source": {"sequence": f'["{lsn}","{lsn}"]', "lsn": lsn},
            }
        )

    # W1: initial snapshot-style inserts (README.md:142-152) as op='r' reads
    for i, (bid, status, canc) in enumerate(initial, start=1):
        row = _row(i, bid, status, is_canceled=canc)
        state[bid] = row
        emit("r", None, row)
    # W1b: inserts b11-b13, status New (README.md:288-292)
    for i, bid in enumerate(["b11", "b12", "b13"], start=11):
        row = _row(i, bid, "New")
        state[bid] = row
        emit("c", None, row)
    # W2: UPDATE status IN (Delayed, New) -> In Progress (README.md:296)
    for bid in sorted(state, key=lambda b: state[b]["id"]):
        if state[bid]["status"] in ("Delayed", "New"):
            before = dict(state[bid])
            after = dict(before, status="In Progress", modified_at=before["modified_at"] + 1)
            state[bid] = after
            emit("u", before, after)
    # W3: UPDATE status = In Progress -> Closed (README.md:300)
    for bid in sorted(state, key=lambda b: state[b]["id"]):
        if state[bid]["status"] == "In Progress":
            before = dict(state[bid])
            after = dict(before, status="Closed", modified_at=before["modified_at"] + 1)
            state[bid] = after
            emit("u", before, after)
    # W4: DELETE status = Closed (README.md:305) — before-image only
    for bid in sorted(state, key=lambda b: state[b]["id"]):
        if state[bid]["status"] == "Closed":
            emit("d", dict(state[bid]), None)
    for bid in [b for b, r in state.items() if r["status"] == "Closed"]:
        del state[bid]
    return events


def golden_workload_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(golden_workload_envelopes(), schema=ENVELOPE_SCHEMA)
