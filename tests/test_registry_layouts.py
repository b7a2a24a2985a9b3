"""Fixture-layout resilience for the events table (the round-2 regression
class): whatever physical timestamp layout a fixture generation ships —
tz-aware TIMESTAMP or TIMESTAMP_NTZ — load_table must normalize `ts` to
tz-aware TIMESTAMP with identical values, so unix_micros and withWatermark
downstream never see an NTZ column.

The schema-catalog tests below check that the schema load_table keeps for a
file is Spark's own inference, that reusing it starts no Spark job, and that
a rewritten file or a flipped inference conf is never served a stale one."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from cdc_postgresql_clickhouse_spark.sources.registry import (
    TABLES,
    _normalize_events_ts,
    load_table,
)


def _roundtrip(spark, tmp_path, df, name):
    path = str(tmp_path / name)
    df.write.parquet(path + "/events.parquet")
    return load_table(spark, path, "events")


def test_ntz_layout_normalized(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    ntz = ev.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = _roundtrip(spark, tmp_path, ntz, "ntz")
    assert isinstance(got.schema["ts"].dataType, TimestampType)
    # UTC session: values identical to the canonical read
    a = ev.select("event_id", F.unix_micros("ts").alias("us"))
    b = got.select("event_id", F.unix_micros("ts").alias("us"))
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_native_layout_passthrough(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    got = _roundtrip(spark, tmp_path, ev, "native")
    assert isinstance(got.schema["ts"].dataType, TimestampType)
    assert got.count() == ev.count()


def test_downstream_surfaces_accept_any_layout(spark, sf_dir, tmp_path):
    """The two round-2 failure points — unix_micros and withWatermark — must
    work directly on the loaded table."""
    ntz = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    got = _roundtrip(spark, tmp_path, ntz, "ntz2")
    got.select(F.unix_micros("ts")).first()  # P6 path
    got.withWatermark("ts", "10 minutes")    # ST6 path (batch plan build)



def _fresh(spark, sf_dir, name):
    """A bare read of the table's file: Spark infers its schema."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return _normalize_events_ts(df) if name == "events" else df


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_kept_schema_equals_fresh_inference(spark, sf_dir, sf):
    """Footers only: for every fixture table, a repeated load_table (which
    reads with the kept schema) has the schema a fresh read infers."""
    scale_dir = os.path.join(os.path.dirname(sf_dir), sf)
    if not os.path.isdir(scale_dir):
        pytest.skip(f"{scale_dir} not present")
    for name in TABLES:
        load_table(spark, scale_dir, name)
        kept = load_table(spark, scale_dir, name).schema
        assert kept == _fresh(spark, scale_dir, name).schema, name


def test_repeated_load_runs_no_spark_job(spark, sf_dir):
    load_table(spark, sf_dir, "part")
    sc = spark.sparkContext
    sc.setJobGroup("registry-repeat", "registry-repeat")
    try:
        load_table(spark, sf_dir, "part")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("registry-repeat") == []


def test_rewritten_table_shows_new_column(spark, sf_dir, tmp_path):
    """Overwriting the table's directory changes its files, so the next
    load infers again and shows the added column."""
    path = str(tmp_path / "events.parquet")
    ev = load_table(spark, sf_dir, "events").limit(20)
    ev.write.parquet(path)
    load_table(spark, str(tmp_path), "events")
    assert "extra" not in load_table(spark, str(tmp_path), "events").columns
    ev.withColumn("extra", F.lit(7)).write.mode("overwrite").parquet(path)
    got = load_table(spark, str(tmp_path), "events")
    assert got.columns[-1] == "extra"
    assert [r.extra for r in got.select("extra").distinct().collect()] == [7]


def test_inference_conf_is_part_of_the_key(spark, sf_dir):
    """A schema kept under inferTimestampNTZ=true is not reused after the
    conf flips: l_shipdate then reads as TIMESTAMP, as fresh inference says."""
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    before = spark.conf.get(conf)
    load_table(spark, sf_dir, "lineitem")
    try:
        spark.conf.set(conf, "false")
        got = load_table(spark, sf_dir, "lineitem").schema
        assert isinstance(got["l_shipdate"].dataType, TimestampType)
        assert got == _fresh(spark, sf_dir, "lineitem").schema
    finally:
        spark.conf.set(conf, before)
    assert load_table(spark, sf_dir, "lineitem").schema == _fresh(spark, sf_dir, "lineitem").schema
