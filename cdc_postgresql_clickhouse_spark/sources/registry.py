"""Table registry over the parquet fixture directories.

The analogue of the reference's source-side scan configuration
(``connectors/debezium_configuration.json:22`` table include-list;
``README.md:156-168`` federated initial load): a single place that maps
logical table names to physical storage so every operator goes through one
scan path and Catalyst sees a plain parquet relation it can push filters and
column pruning into.

It is also the catalog of the fixture schemas. A bare
``spark.read.parquet(path)`` infers the schema from the file footers with
one Spark job, on every call; the same read given the schema starts none.
Fixture tables have no writer that could record a schema (state tables do:
``operators.state.read_state`` reads the commit's record), so the registry
keeps the schema Spark inferred on the first read of a path and passes it to
every later read. The key makes a kept schema exact: the identity (real
path, inode, size, ``mtime_ns``) of every file under the path, plus the
session confs that decide what inference returns (``_INFERENCE_CONFS``). A
rewritten file or a flipped conf misses and infers again. Only schemas are
kept, no DataFrame and no blocks, so this is not a memo: ``clearCache`` and
the shared-memo resets have nothing to release here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at every target scale; fact
# tables shuffle. Used by operators to hint joins explicitly where AQE's
# size estimate could be unavailable (e.g. after complex subplans).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

# Session confs that change the schema parquet inference returns: the
# footer-type conversions, column-name resolution, which footers are read
# (mergeSchema), and the types of partition columns found in directory names.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# real path of the table -> (key, inferred schema); one entry per path, so a
# rewritten table replaces its entry instead of adding one. Each entry is
# written whole, so two threads racing on one path cost one extra inference
# at most, never a schema paired with another key.
_schemas: dict[str, tuple[tuple, StructType]] = {}


def _file_identity(path: str) -> tuple | None:
    """(real path, inode, size, mtime_ns) of every file under ``path``,
    sorted; None when there is no local file to stat (Spark then reads, and
    reports a missing path, as it always did)."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = [os.path.join(d, f) for d, _, names in os.walk(path) for f in names]
    try:
        stats = [(os.path.realpath(f), os.stat(f)) for f in files]
    except OSError:
        return None
    if not stats:
        return None
    return tuple(sorted((p, s.st_ino, s.st_size, s.st_mtime_ns) for p, s in stats))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only when the
    files or the inference confs differ from the last read of this path."""
    files = _file_identity(path)
    if files is None:
        return spark.read.parquet(path)
    key = (files, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    table = os.path.realpath(path)
    hit = _schemas.get(table)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _schemas[table] = (key, df.schema)
    return df


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """``events.ts`` as session-timezone TIMESTAMP, whichever layout the file
    has (see ``load_table``)."""
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Plain parquet scan: vectorized reader,
    predicate pushdown and column pruning apply downstream.

    The first read of a file infers its schema, one Spark job, exactly as a
    bare ``spark.read.parquet`` does. Every later read of the unchanged file
    under the same inference confs passes that schema to the reader and
    starts no job (the module docstring gives the key and why this is not a
    memo).

    ``events.ts`` has shipped in three physical layouts across fixture
    generations: TIMESTAMP(MICROS) with isAdjustedToUTC=true (read natively
    as TIMESTAMP), the same without the UTC flag (read as TIMESTAMP_NTZ),
    and TIMESTAMP(NANOS), which Spark's parquet reader rejects. Normalize
    all three to session-timezone TIMESTAMP: the session is pinned to UTC
    (reference P8, ``postgresql_schemas.sql:7-8``), so the NTZ→TZ cast is
    value-identical, and for nanos read raw longs (legacy conf) and rebuild
    a microsecond timestamp (lossless — fixtures carry no sub-µs component,
    and DuckDB's epoch_us truncates identically)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return _normalize_events_ts(_read_parquet(spark, path))
    return _read_parquet(spark, path)


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register the fixture tables as temp views for spark.sql queries."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
