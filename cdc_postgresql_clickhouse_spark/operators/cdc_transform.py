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

The transform is the MV's SELECT itself: one ``WHERE op IN (...)`` and one
projection of SQL expressions, so building it costs a few Py4J round trips
per micro-batch however many columns it projects. All expressions are
built-in Catalyst functions — whole-stage codegen, no Python in the row
path, so the transform runs at scan speed at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cdc_postgresql_clickhouse_spark.sources.envelope import ADMITTED_OPS

_ADMITTED = "op IN (" + ", ".join(f"'{op}'" for op in ADMITTED_OPS) + ")"


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _img(col: str) -> str:
    """P3: deletes carry only the before-image; everything else reads after."""
    c = _ident(col)
    return f"CASE WHEN op = 'd' THEN before.{c} ELSE after.{c} END"


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
    switch, after the reference columns; the state merge widens via
    allowMissingColumns.
    """
    return changes.where(_ADMITTED).selectExpr(
        f"{_img('booking_id')} AS booking_id",
        f"{_img('status')} AS status",
        "CASE WHEN op = 'd' THEN 1 ELSE 0 END AS is_deleted",
        f"{_img('is_canceled')} AS is_canceled",
        f"timestamp_micros({_img('created_at')}) AS created_at",
        f"timestamp_micros({_img('modified_at')}) AS modified_at",
        # P5: `if(op='d', source.lsn, source.lsn)` — the reference's
        # degenerate conditional constant-folds to the LSN itself (survey §4).
        "source.lsn AS version",
        "ts_ms",
        *(f"{_img(c)} AS {_ident(c)}" for c in extra_image_columns),
    )
