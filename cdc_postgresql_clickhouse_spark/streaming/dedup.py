"""Streaming incremental deduplication — dedup as data ARRIVES, not as a
batch afterthought: the CDC × dedup composition (survey north star). New
documents are fingerprinted per micro-batch and checked against the
fingerprint state accumulated from every earlier batch; the min-id copy is
canonical, and duplicates are appended to a duplicate log as they arrive.

State design (the 100 TB posture, same machinery as the CDC state table —
``operators/state.py``): the fingerprint table lives in STORAGE, bucketed by
``pmod(xxhash64(content_hash), N)`` partition directories, never in a
streaming state store — fingerprint cardinality is bounded by disk, not
executor memory. Each micro-batch:

1. fingerprints the batch map-side (md5 of the content — the exact-dedup
   key, ``queries/dedup.py:74``),
2. collects the DISTINCT touched bucket ids (bounded by ``key_buckets``,
   never by data),
3. reads ONLY those bucket partitions of the state (partition-pruned scan),
4. full-outer merges batch fingerprints with prior state — min doc_id wins
   the canonical contest regardless of arrival order (the ReplacingMergeTree
   version contest with doc_id as the version; a dethroned prior canonical
   is logged as a duplicate at that moment),
5. appends newly detected duplicates to the dup log,
6. publishes exactly the touched buckets through ``write_state``'s
   crash-atomic journaled bucket swap.

Per-batch work is O(touched buckets + batch), not O(corpus). Replay safety:
canonical assignments are stable under batch replay (the existing keep wins
again); the dup log is at-least-once like the DLQ — readers ``distinct()``
it. The same ingest shape accepts any per-doc fingerprint (MinHash band
signatures for NEAR-dup streaming would emit (band, hash) rows per doc and
flag bucket collisions as candidates); the exact form is registered and
oracle-checked via ``queries/streaming_queries.py``.

Reference tie-in: extends S9/S10 (``clickhouse_sink_configuration.json:13``,
at-least-once keyed upsert) to the dedup domain; no analogue in the
reference's own surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.operators.state import (
    _state_lock,
    _touched_buckets,
    read_state,
    write_state,
)

DEFAULT_FP_BUCKETS = 16


def ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    dup_log_path: str,
    key_buckets: int = DEFAULT_FP_BUCKETS,
) -> None:
    """Merge one batch of (doc_id, text) into the fingerprint state and
    append newly detected duplicates to the dup log.

    Min-wins canonical (ARRIVAL-ORDER INDEPENDENT): the canonical for a hash
    is always the smallest doc_id seen so far. If a later batch delivers a
    smaller id, the state entry is dethroned — the old canonical is emitted
    to the dup log at that moment. The final (state, dup-log) pair after any
    replay order therefore equals the batch ``dedup_exact`` result on the
    union of all batches — the incremental-vs-batch equivalence the
    registered oracle checks."""
    fp = batch.select(F.md5("text").alias("content_hash"), F.col("doc_id").cast("long"))
    touched = _touched_buckets(fp, ("content_hash",), key_buckets)
    if not touched:
        return
    with _state_lock(state_path):
        state = read_state(spark, state_path, buckets=touched)
        if state is not None:
            state = state.select(
                "content_hash",
                F.col("keep_doc").alias("state_keep"),
                F.col("n_docs").alias("state_n"),
            )
        batch_agg = fp.groupBy("content_hash").agg(
            F.min("doc_id").alias("batch_keep"),
            F.count(F.lit(1)).alias("batch_n"),
        )
        if state is None:
            merged = batch_agg.select(
                "content_hash",
                F.col("batch_keep").alias("keep_doc"),
                F.col("batch_n").cast("long").alias("n_docs"),
                F.lit(None).cast("long").alias("dethroned"),
            )
        else:
            # full outer: state rows whose hash is absent from the batch
            # still live in the republished buckets and must be carried over
            merged = batch_agg.join(state, "content_hash", "full_outer").select(
                "content_hash",
                F.least(
                    F.coalesce("state_keep", "batch_keep"),
                    F.coalesce("batch_keep", "state_keep"),
                ).alias("keep_doc"),
                (
                    F.coalesce("state_n", F.lit(0))
                    + F.coalesce("batch_n", F.lit(0))
                ).cast("long").alias("n_docs"),
                # a smaller id arrived: the old canonical becomes a duplicate
                F.when(
                    F.col("state_keep") > F.col("batch_keep"), F.col("state_keep")
                ).alias("dethroned"),
            )
        merged = merged.localCheckpoint(eager=True)
        keeps = merged.select("content_hash", "keep_doc")
        batch_dups = (
            fp.join(keeps, "content_hash")
            .filter(F.col("doc_id") != F.col("keep_doc"))
            .select("doc_id", "content_hash", "keep_doc")
        )
        dethroned_dups = merged.filter(F.col("dethroned").isNotNull()).select(
            F.col("dethroned").alias("doc_id"), "content_hash", "keep_doc"
        )
        batch_dups.unionByName(dethroned_dups).write.mode("append").parquet(dup_log_path)
        write_state(
            merged.drop("dethroned"),
            state_path,
            key_buckets=key_buckets,
            key_cols=("content_hash",),
        )


def _shingle_sets(batch: DataFrame) -> DataFrame:
    """(doc_id, shs): distinct 3-word shingle set per doc, empty-set docs
    excluded — the exact per-doc projection batch ``dedup_minhash_lsh``
    computes (``queries/dedup.py:116-122``)."""
    from cdc_postgresql_clickhouse_spark.functions.text import tokens, word_shingles

    toks = batch.select("doc_id", tokens(F.col("text")).alias("toks"))
    shs = toks.select(
        "doc_id", F.array_distinct(word_shingles(F.col("toks"), 3)).alias("shs")
    )
    return shs.filter(F.size("shs") > 0)


def _band_rows(shs: DataFrame) -> DataFrame:
    """(doc_id, band, bh): banded MinHash signature rows, identical constants
    to the batch pipeline (N_HASHES=12, BAND_ROWS=3 → 4 bands)."""
    from cdc_postgresql_clickhouse_spark.queries.dedup import BAND_ROWS, N_HASHES

    sig = shs.select(
        "doc_id",
        *[
            F.expr(f"array_min(transform(shs, s -> md5(concat('{i}|', s))))").alias(
                f"mh{i}"
            )
            for i in range(N_HASHES)
        ],
    )
    band_cols = [
        F.md5(
            F.concat_ws(",", *[F.col(f"mh{b * BAND_ROWS + r}") for r in range(BAND_ROWS)])
        ).alias(f"bh{b}")
        for b in range(N_HASHES // BAND_ROWS)
    ]
    return sig.select("doc_id", F.array(*band_cols).alias("bhs")).select(
        "doc_id", F.posexplode("bhs").alias("band", "bh")
    )


def _verified_pairs(cand: DataFrame, shs_a: DataFrame, shs_b: DataFrame, threshold: float) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate (doc_a, doc_b) pairs —
    the same floor-to-micros arithmetic as the batch query so results are
    value-identical."""
    joined = (
        cand.join(shs_a.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a")), "doc_a")
        .join(shs_b.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("shs_a", "shs_b")).alias("n_inter"),
            F.size("shs_a").alias("n_a"),
            F.size("shs_b").alias("n_b"),
        )
    )
    jac = (
        F.floor(
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            * 1e6
        ).cast("double")
        / F.lit(1000000.0)
    )
    return joined.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def ingest_batch_minhash(
    spark: SparkSession,
    batch: DataFrame,
    bands_state_path: str,
    docs_state_path: str,
    pair_log_path: str,
    key_buckets: int = DEFAULT_FP_BUCKETS,
    threshold: float = 0.5,
) -> None:
    """Streaming NEAR-dup: merge one batch into the banded-LSH index and
    emit verified near-dup pairs as they become discoverable.

    Two bucketed state tables (both in storage, partition-pruned reads):

    - ``bands_state`` (band, bh, doc_id) keyed on (band, bh) — the inverted
      LSH index; a new doc's band hashes are probed against ONLY the buckets
      they fall in (per-batch candidate cost bounded by bucket occupancy ×
      batch, exactly the batch LSH bound);
    - ``docs_state`` (doc_id, shs) keyed on doc_id — the shingle-set store
      the verify stage reads, pruned to candidate partners only.

    Pairs = (batch × state-index collisions) ∪ (within-batch collisions),
    each verified with exact shingle Jaccard ≥ threshold. After draining any
    batch split of a corpus, the distinct pair log equals batch
    ``dedup_minhash_lsh`` on the union — order-independent because band
    collisions are symmetric and every pair has a later-or-equal batch
    member. Pair-log appends are at-least-once (readers ``distinct()``);
    both state tables stay exactly-once via dirty-bucket merge."""
    shs = _shingle_sets(batch).localCheckpoint(eager=True)
    bands = _band_rows(shs).localCheckpoint(eager=True)

    # --- probe + merge the inverted index (bands_state) -------------------
    bkey = ("band", "bh")
    touched = _touched_buckets(bands, bkey, key_buckets)
    if not touched:
        return
    with _state_lock(bands_state_path):
        idx = read_state(spark, bands_state_path, buckets=touched)
        if idx is not None:
            idx = idx.localCheckpoint(eager=True)
        # candidates vs the existing index: same (band, bh), canonical order
        if idx is not None:
            vs_state = (
                bands.join(
                    idx.select("band", "bh", F.col("doc_id").alias("other")),
                    ["band", "bh"],
                )
                .select(
                    F.least("doc_id", "other").alias("doc_a"),
                    F.greatest("doc_id", "other").alias("doc_b"),
                )
                .filter(F.col("doc_a") != F.col("doc_b"))
            )
        else:
            vs_state = None
        a, b = bands.alias("a"), bands.alias("b")
        within = (
            a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")))
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        )
        cand = within if vs_state is None else within.unionByName(vs_state)
        cand = cand.distinct().localCheckpoint(eager=True)
        merged_idx = bands if idx is None else idx.unionByName(bands)
        write_state(
            merged_idx.distinct(),
            bands_state_path,
            key_buckets=key_buckets,
            key_cols=bkey,
        )

    # --- verify candidates against the shingle store (docs_state) ---------
    with _state_lock(docs_state_path):
        partners = cand.select(F.col("doc_a").alias("doc_id")).unionByName(
            cand.select(F.col("doc_b").alias("doc_id"))
        ).distinct()
        pbuckets = _touched_buckets(partners, ("doc_id",), key_buckets)
        store = read_state(spark, docs_state_path, buckets=pbuckets or None)
        # shingle lookup: batch docs first (fresher), state for older partners
        lookup = shs if store is None else shs.unionByName(store).dropDuplicates(["doc_id"])
        lookup = lookup.localCheckpoint(eager=True)
        _verified_pairs(cand, lookup, lookup, threshold).write.mode("append").parquet(
            pair_log_path
        )
        sbuckets = _touched_buckets(shs, ("doc_id",), key_buckets)
        own = read_state(spark, docs_state_path, buckets=sbuckets)
        merged_store = shs if own is None else own.unionByName(shs)
        write_state(
            merged_store.dropDuplicates(["doc_id"]),
            docs_state_path,
            key_buckets=key_buckets,
            key_cols=("doc_id",),
        )


def run_incremental_minhash(
    spark: SparkSession,
    docs_dir: str,
    bands_state_path: str,
    docs_state_path: str,
    pair_log_path: str,
    checkpoint_dir: str,
    key_buckets: int = DEFAULT_FP_BUCKETS,
    max_files_per_trigger: int = 1,
) -> None:
    """Structured-Streaming driver for the near-dup ingest (parquet source of
    (doc_id, text); availableNow drain)."""
    from cdc_postgresql_clickhouse_spark.streaming.sketch import _drain

    _drain(
        spark,
        docs_dir,
        lambda b, _i: ingest_batch_minhash(
            spark, b, bands_state_path, docs_state_path, pair_log_path, key_buckets
        ),
        checkpoint_dir,
        max_files_per_trigger,
    )


def run_incremental_dedup(
    spark: SparkSession,
    docs_dir: str,
    state_path: str,
    dup_log_path: str,
    checkpoint_dir: str,
    key_buckets: int = DEFAULT_FP_BUCKETS,
    max_files_per_trigger: int = 1,
) -> None:
    """Structured-Streaming driver: parquet directory of (doc_id, text) →
    per-micro-batch ``ingest_batch``. ``availableNow`` drains the backlog
    batch-by-batch (``maxFilesPerTrigger`` bounds batch size); swap the
    source for Kafka exactly as in ``streaming/pipeline.py``."""
    from cdc_postgresql_clickhouse_spark.streaming.sketch import _drain

    _drain(
        spark,
        docs_dir,
        lambda b, _i: ingest_batch(spark, b, state_path, dup_log_path, key_buckets),
        checkpoint_dir,
        max_files_per_trigger,
    )
