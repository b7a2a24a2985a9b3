"""Physical-layout operators for 100 TB-scale joins and aggregations:
bucketed (co-located) tables and salted skew handling.

These are the knobs the CDC engine (and any fact-fact workload on it) uses
when AQE alone is not enough:

- **Bucketing** mirrors the reference state table's clustering
  (``PRIMARY KEY booking_id ORDER BY booking_id``,
  /root/reference/schemas/clickhouse_schemas.sql:12-13, SURVEY §2.6 O1): a
  table pre-hash-partitioned AND pre-sorted by its key. Two tables bucketed
  the same way join with ZERO shuffle — the recurring MERGE/dedup of a CDC
  state table against each new change batch becomes a map-side merge, which
  is exactly what makes per-batch upserts affordable when the state table is
  tens of TB.
- **Salting** splits a hot key across ``n_salts`` sub-keys. AQE's skew-join
  handles most skew at runtime; explicit salting remains for aggregations
  and for joins where one key dominates so hard that a single post-split
  partition is still too large.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    num_buckets: int,
    path: str | None = None,
    sort: bool = True,
) -> None:
    """Write ``df`` as a bucketed (and bucket-sorted) parquet table.

    Bucket count is a layout contract: both sides of a co-located join must
    use the same ``num_buckets``. Size it so one bucket of the LARGER table
    fits an executor core's working memory at full scale (e.g. 100 TB state
    / 32k buckets ≈ 3 GB per bucket file-set).
    """
    keys = [key] if isinstance(key, str) else list(key)
    writer = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def colocated_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed tables. With matching bucket specs the
    physical plan has no Exchange on either side (asserted in
    tests/test_layout.py) — the join cost is a per-bucket streamed merge."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def _row_salt(df: DataFrame, n_salts: int) -> Column:
    """Deterministic per-row salt: hash of the whole row modulo n_salts.
    Deterministic (replay/retry-safe, unlike rand()), and spreads a hot
    key's rows as long as they differ in any column."""
    return F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n_salts))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: the big side gets a per-row salt, the small side
    is replicated ``n_salts``× (explode, NOT a cartesian), and the join key
    becomes (key, salt) — a hot key's rows now land on ``n_salts`` reducers.

    Use when one side is small enough to replicate but too big to broadcast,
    and the key histogram is too spiked for AQE's split-based skew join.

    Result is row-identical to ``big.join(small, on, how)`` for the
    big-side-preserving joins only: an unmatched small-side key would emit
    one row per salt replica under ``right``/``full``/``right_semi``, so
    those are rejected rather than silently multiplied."""
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "semi",
               "left_anti", "leftanti", "anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} would duplicate unmatched small-side rows "
            f"(one per salt replica); use one of {sorted(allowed)}"
        )
    salted_big = big.withColumn("__salt", _row_salt(big, n_salts))
    replicated = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = salted_big.join(replicated, [on, "__salt"], how)
    return out.drop("__salt")


def skew_safe_count_distinct(
    df: DataFrame, key: str, col: str, n_salts: int = 16
) -> DataFrame:
    """Two-phase distinct count per key: phase 1 groups by (key,
    hash(col) % n_salts) so one hot key's distinct-set is built on
    ``n_salts`` reducers; phase 2 sums the disjoint partial counts.
    Output: (key, n_distinct). Exact — hash-mod partitions the value space
    disjointly, so partial distinct counts add."""
    phase1 = (
        df.groupBy(key, F.pmod(F.hash(F.col(col)), F.lit(n_salts)).alias("__salt"))
        .agg(F.count_distinct(F.col(col)).alias("__part"))
    )
    return phase1.groupBy(key).agg(F.sum("__part").alias("n_distinct"))


def zorder_key(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` bits of two
    non-negative integer columns — bit j of ``a`` lands at position 2j, bit
    j of ``b`` at 2j+1. Rows close in BOTH dimensions get close keys, so a
    range-partitioned, key-sorted layout gives every file a tight min/max
    box in both columns and parquet/Delta data skipping prunes on either
    predicate (the multi-dimensional clustering ClickHouse gets from a
    compound ORDER BY only for the leading column, and Delta's OPTIMIZE
    ZORDER BY applies at table scale). Pure integer expression — identical
    in any engine with shifts."""
    out = None
    for j in range(bits):
        abit = F.shiftleft(F.shiftright(a.cast("long"), j).bitwiseAND(F.lit(1)), 2 * j)
        bbit = F.shiftleft(F.shiftright(b.cast("long"), j).bitwiseAND(F.lit(1)), 2 * j + 1)
        term = abit + bbit
        out = term if out is None else out + term
    return out.cast("long")


def write_zordered(
    df: DataFrame, path: str, col_a: str, col_b: str, n_files: int = 8, bits: int = 16
) -> None:
    """Write ``df`` clustered by the Z-order of (col_a, col_b):
    range-partition on the Morton key (each output file owns a contiguous
    key range = a tight 2-D box), sort within partitions so row groups
    nest the same way. Read-side needs nothing special — min/max stats do
    the pruning."""
    z = zorder_key(F.col(col_a), F.col(col_b), bits).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def hilbert_stages(df: DataFrame, xcol: str, ycol: str, bits: int = 8, out: str = "hkey") -> DataFrame:
    """Hilbert-curve key for two non-negative integer columns in
    [0, 2**bits): appends ``out`` holding the curve distance d of (x, y) —
    the locality-BETTER alternative to the Morton key (every consecutive
    pair of d values is Manhattan-adjacent, so range-partition boundaries
    never jump across the plane the way Z-order's seams do; Hilbert 1891,
    and the layout Databricks ships as liquid clustering).

    The classic xy2d bit loop (one reflect+swap per bit, MSB first) unrolls
    into ``bits`` chained integer stages — plain shifts/cases, no UDF, and
    every intermediate stays in [0, 2**bits): the same expression chain the
    SQL oracle mirrors CTE-for-CTE. Input columns are consumed as working
    registers and restored untouched."""
    n = 1 << bits
    d = df.withColumn("__hx", F.col(xcol).cast("long")).withColumn(
        "__hy", F.col(ycol).cast("long")
    ).withColumn("__hd", F.lit(0).cast("long"))
    for i in range(bits):
        s = 1 << (bits - 1 - i)
        k = bits - 1 - i
        rx = F.shiftright(F.col("__hx"), k).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col("__hy"), k).bitwiseAND(F.lit(1))
        d = d.withColumn("__rx", rx).withColumn("__ry", ry)
        quad = F.when(F.col("__rx") == 0, F.col("__ry")).otherwise(3 - F.col("__ry"))
        new_x = F.when(
            F.col("__ry") == 0,
            F.when(F.col("__rx") == 1, F.lit(n - 1) - F.col("__hy")).otherwise(
                F.col("__hy")
            ),
        ).otherwise(F.col("__hx"))
        new_y = F.when(
            F.col("__ry") == 0,
            F.when(F.col("__rx") == 1, F.lit(n - 1) - F.col("__hx")).otherwise(
                F.col("__hx")
            ),
        ).otherwise(F.col("__hy"))
        d = (
            d.withColumn("__hd", F.col("__hd") + F.lit(s * s) * quad)
            .withColumn("__hx2", new_x)
            .withColumn("__hy2", new_y)
            .drop("__hx", "__hy", "__rx", "__ry")
            .withColumnRenamed("__hx2", "__hx")
            .withColumnRenamed("__hy2", "__hy")
        )
    return d.withColumnRenamed("__hd", out).drop("__hx", "__hy")


def write_hilbert(
    df: DataFrame, path: str, col_a: str, col_b: str, n_files: int = 8, bits: int = 8
) -> None:
    """Write ``df`` clustered by Hilbert distance of (col_a, col_b) —
    range-partition + in-partition sort on the key, exactly the
    ``write_zordered`` contract with the better-locality curve."""
    keyed = hilbert_stages(df, col_a, col_b, bits, out="__h")
    (
        keyed.repartitionByRange(n_files, "__h")
        .sortWithinPartitions("__h")
        .drop("__h")
        .write.mode("overwrite")
        .parquet(path)
    )


def _file_key_ranges(df: DataFrame, keycol: str) -> list[tuple[str, int, int]]:
    """Per-file (path, min key, max key) — file-count-sized metadata, the
    same information a table format keeps in its manifest."""
    rows = (
        df.withColumn("__f", F.input_file_name())
        .groupBy("__f")
        .agg(F.min(keycol).alias("lo"), F.max(keycol).alias("hi"))
        .collect()
    )
    return [(r["__f"], int(r.lo), int(r.hi)) for r in rows]


def optimize_clustered(
    spark: SparkSession,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    bits: int = 16,
    key: str = "zorder",
) -> dict:
    """Incremental OPTIMIZE for a Z-order/Hilbert-clustered table: recluster
    ONLY the files whose key ranges overlap some other file (the Delta
    OPTIMIZE ZORDER idea, restricted to the dirty set so a mostly-clustered
    table after a few appends rewrites a few files, not the table).

    Contract:
    - dirty = every file whose [min, max] key interval intersects another
      file's; disjoint files are already perfectly clustered relative to
      the rest and are left BYTE-UNTOUCHED.
    - dirty rows are re-ranged + sorted into ceil(dirty_share × n_files)
      new files, writer-exclusive via the table's ``_state_lock``.
    - idempotent: a second call finds no overlapping files and rewrites
      nothing (returns n_dirty == 0).
    - crash-safe: the new files are staged at ``<path>.staged`` and commit
      through the state tables' one journaled swap
      (``operators.state.recover_bucket_swap``): the staged files move in,
      then the dirty files are dropped, and the table's schema record, if
      it has one, is kept. A crash at any step is rolled forward by the
      next call (or ``read_state``) before the table is read, so every
      dirty row ends with exactly one copy. The table is flat: its data
      files sit directly under ``path``.

    Returns {"n_files", "n_dirty", "n_rewritten_files"}."""
    import math
    import os

    from cdc_postgresql_clickhouse_spark.operators.state import (
        _journaled_swap,
        _record,
        _staged_root,
        _state_lock,
        recover_bucket_swap,
    )

    keyfn = (lambda d: hilbert_stages(d, col_a, col_b, min(bits, 8), out="__k")) if key == "hilbert" else None

    with _state_lock(path):
        recover_bucket_swap(path)
        df = spark.read.parquet(path)
        if keyfn is not None:
            keyed = keyfn(df)
        else:
            keyed = df.withColumn("__k", zorder_key(F.col(col_a), F.col(col_b), bits))
        ranges = _file_key_ranges(keyed, "__k")
        dirty = set()
        for i, (f1, lo1, hi1) in enumerate(ranges):
            for f2, lo2, hi2 in ranges[i + 1 :]:
                if lo1 <= hi2 and lo2 <= hi1:
                    dirty.add(f1)
                    dirty.add(f2)
        if not dirty:
            return {"n_files": len(ranges), "n_dirty": 0, "n_rewritten_files": 0}
        k_out = max(1, math.ceil(n_files * len(dirty) / max(1, len(ranges))))
        dirty_rows = keyed.filter(F.input_file_name().isin(*sorted(dirty)))
        staged = _staged_root(path)
        (
            dirty_rows.repartitionByRange(k_out, "__k")
            .sortWithinPartitions("__k")
            .drop("__k")
            .write.mode("overwrite")
            .parquet(staged)
        )
        moves = sorted(n for n in os.listdir(staged) if n.endswith(".parquet"))
        names = sorted(os.path.basename(f) for f in dirty)
        drop = names + [f".{n}.crc" for n in names]  # and their checksum siblings
        _journaled_swap(path, staged, moves, drop, _record(path))
        return {
            "n_files": len(ranges),
            "n_dirty": len(dirty),
            "n_rewritten_files": len(moves),
        }


def write_date_partitioned(
    df: DataFrame, path: str, ts_col: str = "ts", part_col: str = "dt"
) -> None:
    """The bread-and-butter production layout: Hive-style date partition
    directories (``dt=YYYY-MM-DD/``) derived from the event timestamp.
    Complements the bucket/Z-order/Hilbert layouts: those cluster WITHIN
    files for data skipping; date partitioning prunes whole DIRECTORIES
    at plan time, which is the first and cheapest pruning level every
    time-series scan hits (Catalyst turns a ``dt`` predicate into a
    partition filter — zero data files of other days are even listed).
    At 100 TB this is the difference between scanning a day and a year."""
    out = df.withColumn(part_col, F.date_format(F.col(ts_col), "yyyy-MM-dd"))
    out.write.mode("overwrite").partitionBy(part_col).parquet(path)
