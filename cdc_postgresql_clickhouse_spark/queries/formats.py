"""Source/sink format breadth: JSONL and CSV round-trips through Spark's
real distributed writers and schema-explicit readers.

The reference's wire is schemaless JSON (JsonConverter,
``debezium_configuration.json:28,47``); warehouse interchange adds CSV.
These rows prove the engine's read path is not parquet-only: each writes a
lossless projection of ``orders`` to the interchange format with the
DISTRIBUTED writer (not a driver-side dump), reads it back with an explicit
schema (never inferSchema — a second full scan and type-guess
nondeterminism at 100 TB), and aggregates; the oracle computes the same
aggregate straight from the parquet table, so any encode/decode loss fails
the value hash.

Losslessness by construction: the projection carries only BIGINT and
VARCHAR columns (money as integer cents) — text formats round-trip them
exactly; doubles would round-trip too (shortest-repr) but integers make the
proof unconditional.

Scale shape: write + read + agg are all executor-side and
partition-parallel; the tmp staging is the same device the streaming
equivalence rows use.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.sources.registry import load_table

_RT_SCHEMA = "o_orderkey long, o_orderstatus string, cents long"


def _roundtrip_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )


def _agg(df: DataFrame) -> DataFrame:
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("revenue_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


def _materialized(df: DataFrame) -> DataFrame:
    """Pin the result into executor blocks so temp files can be removed."""
    return df.localCheckpoint(eager=True)


def source_jsonl_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = tempfile.mkdtemp(prefix="fmt_jsonl_")
    try:
        path = os.path.join(tmp, "orders_jsonl")
        _roundtrip_base(spark, sf_dir).write.json(path)
        back = spark.read.schema(_RT_SCHEMA).json(path)
        return _materialized(_agg(back))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def source_csv_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = tempfile.mkdtemp(prefix="fmt_csv_")
    try:
        path = os.path.join(tmp, "orders_csv")
        _roundtrip_base(spark, sf_dir).write.option("header", "true").csv(path)
        back = spark.read.schema(_RT_SCHEMA).option("header", "true").csv(path)
        return _materialized(_agg(back))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_SQL_RT = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
GROUP BY 1
"""

QUERIES = {
    "source_jsonl_roundtrip_agg": source_jsonl_roundtrip_agg,
    "source_csv_roundtrip_agg": source_csv_roundtrip_agg,
}
ORACLE = {
    "source_jsonl_roundtrip_agg": _SQL_RT,
    "source_csv_roundtrip_agg": _SQL_RT,
}


def source_orc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC leg of the format family: the other columnar container Spark
    ships a native vectorized reader/writer for (warehouse interchange with
    Hive-era estates). Same proof shape as the JSONL/CSV rows — distributed
    write, schema-explicit read back, aggregate vs the parquet oracle — so
    any encode/decode loss fails the value hash. DuckDB cannot read ORC, so
    the oracle aggregating the parquet ORIGINAL is exactly the right twin:
    it pins the round-trip as lossless rather than re-reading the copy."""
    tmp = tempfile.mkdtemp(prefix="fmt_orc_")
    try:
        path = os.path.join(tmp, "orders_orc")
        _roundtrip_base(spark, sf_dir).write.orc(path)
        back = spark.read.schema(_RT_SCHEMA).orc(path)
        return _materialized(_agg(back))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


QUERIES["source_orc_roundtrip_agg"] = source_orc_roundtrip_agg
ORACLE["source_orc_roundtrip_agg"] = _SQL_RT
