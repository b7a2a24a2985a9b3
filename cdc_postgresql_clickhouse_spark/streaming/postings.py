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
    silently dropped by the swap. Under the lock it first rolls a torn
    compaction forward (``recover_bucket_swap``), so the roll-forward never
    replaces a shard this batch has just appended to."""
    from cdc_postgresql_clickhouse_spark.operators.state import _state_lock, recover_bucket_swap

    p = build_postings(batch).withColumn("shard", term_shard(F.col("term")))
    with _state_lock(postings_path):
        recover_bucket_swap(postings_path)
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

    The rewrite commits through the state tables' one journaled swap
    (``compact_partitioned_index``): a crash at any step is rolled forward
    by the next ingest or compaction, a raw reader never lists a partly
    replaced shard, and the table path never goes missing. A scan already
    running when its shard is replaced can still lose the files it opened
    (lock-free readers need a versioned directory + manifest pointer, what
    Delta/Iceberg provide)."""
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
    rewrite each partition to ``files_per_part`` files and commit the new
    table under the single-writer fence through the journaled swap
    (``operators.state.recover_bucket_swap``)."""
    from cdc_postgresql_clickhouse_spark.operators.state import (
        _state_lock,
        _swap_in_partitions,
        recover_bucket_swap,
    )

    with _state_lock(path):
        recover_bucket_swap(path)
        compacted = (
            spark.read.parquet(path)
            .select(*columns)
            .distinct()
            .repartition(files_per_part, part_col)
        )
        _swap_in_partitions(path, compacted, part_col, None, drop_rest=True)
