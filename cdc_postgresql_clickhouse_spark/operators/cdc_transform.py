"""The materialized-view transform: CDC envelope → state-table updates.

A pure ``DataFrame -> DataFrame`` function — the Spark-native form of the
reference's incremental materialized view ``bookings_mv``
(``schemas/clickhouse_schemas.sql:39-58``, ``README.md:102-125``). Because it
is side-effect free it is reused verbatim by the batch engine and by the
Structured Streaming pipeline (incremental view maintenance is what
Structured Streaming does natively — survey §2.10 ST1).

Implements, per the reference MV SELECT:

- P2  op-code whitelist filter              (clickhouse_schemas.sql:58)
- P3  before/after conditional switch       (clickhouse_schemas.sql:50-55)
- P4  tombstone-flag synthesis from op='d'  (clickhouse_schemas.sql:52)
- P5  version := source.lsn                 (clickhouse_schemas.sql:56)
- P6  epoch-micros -> timestamp decode      (clickhouse_schemas.sql:54-55)
- P7  output aliasing                       (clickhouse_schemas.sql:50-56)

All expressions are built-in Catalyst functions — whole-stage codegen, no
Python in the row path, so the transform runs at scan speed at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.sources.envelope import ADMITTED_OPS

#: columns taken from the before-image on delete, after-image otherwise.
SWITCHED_COLUMNS = ("booking_id", "status", "is_canceled")
SWITCHED_TS_COLUMNS = ("created_at", "modified_at")


def _img(col: str) -> Column:
    """P3: deletes carry only the before-image; everything else reads after."""
    return F.when(F.col("op") == "d", F.col(f"before.{col}")).otherwise(F.col(f"after.{col}"))


def changes_to_state_updates(
    changes: DataFrame, extra_image_columns: tuple[str, ...] = ()
) -> DataFrame:
    """Transform envelope rows into state-table update rows.

    Output schema (reference state table, clickhouse_schemas.sql:1-13):
    ``booking_id string, status string, is_deleted int, is_canceled boolean,
    created_at timestamp, modified_at timestamp, version long, ts_ms long``.

    ``ts_ms`` is retained (beyond the reference's 7 columns) solely as the
    documented deterministic tie-break for equal versions — ClickHouse keeps
    the last-inserted part's row on ties (survey §7 risks); we order by
    (version, ts_ms, is_deleted) so replays are stable.

    ``extra_image_columns`` (T4): columns added to the source table after
    pipeline start — discovered from the schema-change history
    (``sources.schema_changes``) — projected with the same before/after
    switch; the state merge widens via allowMissingColumns.
    """
    out = changes.filter(F.col("op").isin(*ADMITTED_OPS))
    cols = [_img(c).alias(c) for c in (*SWITCHED_COLUMNS, *extra_image_columns)]
    cols.append(
        F.when(F.col("op") == "d", F.lit(1)).otherwise(F.lit(0)).alias("is_deleted")
    )
    cols += [F.timestamp_micros(_img(c)).alias(c) for c in SWITCHED_TS_COLUMNS]
    # P5: `if(op='d', source.lsn, source.lsn)` — the reference's degenerate
    # conditional constant-folds to the LSN itself (survey §4).
    cols.append(F.col("source.lsn").alias("version"))
    cols.append(F.col("ts_ms").alias("ts_ms"))
    order = ["booking_id", "status", "is_deleted", "is_canceled",
             "created_at", "modified_at", "version", "ts_ms",
             *extra_image_columns]
    return out.select(*cols).select(*order)
