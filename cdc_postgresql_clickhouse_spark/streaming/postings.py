"""Streaming inverted-index maintenance: BM25/TF-IDF posting lists grown
incrementally as documents ARRIVE — the sparse-retrieval twin of the
streaming IVF ingest (``streaming/ann.py``): a search system does not
rebuild its index per batch, it appends each batch's postings.

Design (storage-not-state-store, same posture as ``streaming/dedup.py``):

- a document's postings (doc_id, term, tf) are a PURE function of that
  document (``queries.search.build_postings``), so each micro-batch's rows
  are computed map-side within the batch and APPENDED — no merge contest,
  no read-modify-write, batches never contend, and an at-least-once replay
  just re-appends (readers ``distinct()`` the table; (doc_id, term, tf) is
  idempotent under replay because tf is recomputed from the same doc).
- the table is partitioned by a term hash shard (``TERM_SHARDS`` buckets) —
  the term-sharded layout a distributed search index uses: query-time
  scoring touches only the shards holding the query's terms.
- the corpus-level statistics BM25 needs (df, dl, avgdl, N) are
  re-aggregations of the postings table itself, so the incrementally-built
  index is scored with EXACTLY the batch scorer (``queries.search.bm25_rank``).

Per-batch cost: one explode + one in-batch groupBy + one append. At 100 TB
the posting table is the same term-sharded index the batch build would
produce once; here it accretes per batch.

Reference tie-in: S8 append-sink pattern (``clickhouse_schemas.sql:36-37``)
extended to the retrieval-index domain; no analogue in the reference.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.queries.search import build_postings

TERM_SHARDS = 32
_SHARD_HASH_DIGITS = 4


def term_shard(term) -> F.Column:
    """Deterministic term → shard id (md5 nibble decode, NOT engine hash()
    — the shard id must be stable across Spark versions for the layout to
    be a durable on-disk contract)."""
    return (
        F.conv(F.substring(F.md5(term), 1, _SHARD_HASH_DIGITS), 16, 10).cast("long")
        % TERM_SHARDS
    )


def ingest_batch_postings(batch: DataFrame, postings_path: str) -> None:
    """Append one micro-batch of (doc_id, text) rows to the term-sharded
    posting table. The append holds the table's ``_state_lock`` (same
    convention as ``streaming/dedup.py`` mutators) so a concurrent
    compaction cannot snapshot-and-swap between this batch's write and its
    visibility — without the lock, an append landing mid-compact would be
    silently dropped by the directory swap."""
    from cdc_postgresql_clickhouse_spark.operators.state import _state_lock

    p = build_postings(batch).withColumn("shard", term_shard(F.col("term")))
    with _state_lock(postings_path):
        p.write.mode("append").partitionBy("shard").parquet(postings_path)


def read_postings(spark: SparkSession, postings_path: str) -> DataFrame:
    """The streamed index, deduplicated under the at-least-once contract."""
    return (
        spark.read.parquet(postings_path)
        .select("doc_id", "term", "tf")
        .distinct()
    )


def run_incremental_postings(
    spark: SparkSession,
    src_dir: str,
    postings_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (parquet files of doc_id, text) through the
    incremental posting-list ingest with an availableNow trigger."""
    from cdc_postgresql_clickhouse_spark.streaming.sketch import _drain

    _drain(
        spark,
        src_dir,
        lambda b, _i: ingest_batch_postings(b, postings_path),
        checkpoint_dir,
        max_files_per_trigger,
    )


def compact_postings(spark: SparkSession, postings_path: str, files_per_shard: int = 1) -> None:
    """Segment merge for the streamed index: per-batch appends leave one
    small parquet file per (shard, batch) — fine for ingest, death by file
    count for query-side scans at 100 TB (every BM25 run lists and opens
    every segment). Compaction rewrites each shard to ``files_per_shard``
    files, dropping the replay duplicates the readers currently pay a
    ``distinct()`` for. Same single-writer fence as the CDC state machinery
    (``operators/state.py::_state_lock``): compaction is read-modify-rewrite
    on plain parquet, and ``ingest_batch_postings`` appends under the same
    lock, so a compact racing an active ingest raises ``StateLockError`` on
    one side instead of silently dropping the appended segment (the search
    analogue of Lucene's merge lock / ClickHouse OPTIMIZE).

    Rewrite protocol: stage the compacted table beside the live one, then
    swap via two renames. WRITER safety is full (a crash mid-compact leaves
    the live table or a complete staged copy, never a half-written shard);
    READER safety is weaker than atomic — between the two renames the table
    path transiently does not exist, and removing the old directory can
    invalidate an in-flight scan holding handles to pre-compact segments.
    Readers must tolerate a transient missing/relisted table (retry the
    read); a fully lock-free reader protocol needs a versioned directory +
    manifest pointer (what Delta/Iceberg provide)."""
    compact_partitioned_index(
        spark, postings_path, ["doc_id", "term", "tf", "shard"], "shard", files_per_shard
    )


def compact_partitioned_index(
    spark: SparkSession,
    path: str,
    columns: list[str],
    part_col: str,
    files_per_part: int = 1,
) -> None:
    """Shared segment-merge protocol for append-only partitioned index
    tables (posting shards, IVF inverted lists): distinct the logical rows,
    rewrite each partition to ``files_per_part`` files, stage beside the
    live table, swap via rename under the single-writer fence."""
    import shutil

    from cdc_postgresql_clickhouse_spark.operators.state import _state_lock

    with _state_lock(path):
        compacted = (
            spark.read.parquet(path)
            .select(*columns)
            .distinct()
            .repartition(files_per_part, part_col)
        )
        staged = path.rstrip("/") + "_compacting"
        shutil.rmtree(staged, ignore_errors=True)
        compacted.write.partitionBy(part_col).parquet(staged)
        old = path.rstrip("/") + "_old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
        os.rename(staged, path)
        shutil.rmtree(old, ignore_errors=True)
