"""Streaming ANN index maintenance: IVF inverted lists grown incrementally
as vectors ARRIVE — the similarity-search twin of the streaming dedup
pipeline (embeddings are computed per ingest batch in a real corpus
pipeline; rebuilding the index from scratch per batch is the anti-pattern).

Design (same storage-not-state-store posture as ``streaming/dedup.py``):

- the coarse quantizer is a fixed MODEL table (centroids), extracted from
  the first micro-batch (the deterministic first-``n`` seed — identical to
  ``ann_ivf_topk``'s quantizer, so the incrementally-built index can be
  probed with the exact same code and oracle) and persisted beside the
  index; Lloyd-refreshing it is an offline job that rewrites the model and
  triggers a reassign — out of scope here, the ingest path is identical.
- each micro-batch assigns its vectors map-side against the broadcast
  centroid table (``queries.similarity.ivf_assign`` — argmax cosine, cid
  tie-break) and APPENDS (vec_id → cid) into the inverted-list table,
  partitioned by cid. Pure append: no merge contest, no read-modify-write,
  so batches never contend and replay just re-appends (readers of the
  assignment table ``distinct()`` it — the same at-least-once contract as
  the CDC change log / dup log).
- probing reads only the probed cids' partitions (partition-pruned scan) —
  ``queries.similarity.ivf_probe`` works unchanged on the streamed table.

Per-batch cost: O(batch × n_centroids) map-side + one append. At 100 TB the
inverted lists are exactly the cid-bucketed table the batch query would
build once; here it accretes per batch instead.

Reference tie-in: extends the S8 append-sink pattern
(``clickhouse_schemas.sql:36-37``, append-only change log) to the ANN
index domain; no analogue in the reference surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.queries.similarity import (
    _emb_d,
    _norm,
    ivf_assign,
)

N_CENTROIDS = 16


def _model_path(assign_path: str) -> str:
    return assign_path.rstrip("/") + "_centroids"


def centroid_table(spark: SparkSession, assign_path: str) -> DataFrame:
    """The persisted quantizer model (cid, ce, cn)."""
    return spark.read.parquet(_model_path(assign_path))


def ingest_batch_ivf(
    spark: SparkSession,
    batch: DataFrame,
    assign_path: str,
    n_centroids: int = N_CENTROIDS,
) -> None:
    """Assign one micro-batch of (vec_id, embedding) rows against the
    persisted quantizer and append to the cid-partitioned inverted lists.
    On the first batch the quantizer is extracted (vec_id < n_centroids
    must be present — the seed contract) and persisted. Model creation and
    the append both run under the table's ``_state_lock`` (same convention
    as ``streaming/dedup.py``) so a concurrent ``compact_assignments``
    cannot swap the directory between this batch's write and its
    visibility."""
    from cdc_postgresql_clickhouse_spark.operators.state import _state_lock

    emb = batch.select("vec_id", _emb_d().alias("e")).withColumn("nrm", _norm(F.col("e")))
    with _state_lock(assign_path):
        mp = _model_path(assign_path)
        if not os.path.exists(mp):
            seed = emb.filter(F.col("vec_id") < n_centroids).select(
                F.col("vec_id").alias("cid"), F.col("e").alias("ce"), F.col("nrm").alias("cn")
            )
            if seed.count() < n_centroids:
                raise ValueError(
                    f"first batch must contain the {n_centroids} seed vectors (vec_id < {n_centroids})"
                )
            seed.coalesce(1).write.parquet(mp)
        cents = spark.read.parquet(mp)
        assign = ivf_assign(emb, cents)
        assign.write.mode("append").partitionBy("cid").parquet(assign_path)


def run_incremental_ivf(
    spark: SparkSession,
    src_dir: str,
    assign_path: str,
    checkpoint_dir: str,
    n_centroids: int = N_CENTROIDS,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (parquet files of vec_id, embedding) through the
    incremental IVF ingest with an availableNow trigger."""
    from cdc_postgresql_clickhouse_spark.streaming.sketch import _drain

    _drain(
        spark,
        src_dir,
        lambda b, _i: ingest_batch_ivf(b.sparkSession, b, assign_path, n_centroids),
        checkpoint_dir,
        max_files_per_trigger,
    )


def compact_assignments(spark: SparkSession, assign_path: str, files_per_cid: int = 1) -> None:
    """Segment merge for the streamed IVF inverted lists — per-batch appends
    leave one file per (cid, batch); probing lists and opens all of them.
    Same protocol as the posting-table compaction
    (``streaming/postings.py::compact_partitioned_index``): distinct rows
    (dropping at-least-once replay duplicates), bounded files per cid,
    staged rename swap under the single-writer fence shared with
    ``ingest_batch_ivf`` (writer-safe; readers must tolerate a transient
    missing table during the swap — see ``compact_postings``)."""
    from cdc_postgresql_clickhouse_spark.streaming.postings import (
        compact_partitioned_index,
    )

    cols = [f.name for f in spark.read.parquet(assign_path).schema.fields]
    compact_partitioned_index(spark, assign_path, cols, "cid", files_per_cid)


# --- Incremental PQ code-table maintenance — round 12 ---------------------------
#
# The PQ twin of the IVF ingest above: the CODEBOOK is a fixed model
# (extracted from the first micro-batch under the same deterministic
# first-PQ_K seed contract as ``queries.similarity._pq_codebook``, so the
# incrementally-built code table scores with the exact batch code and
# oracle), persisted beside the code table; each micro-batch ENCODES its
# vectors map-side against the broadcast codebook literal
# (``queries.similarity.pq_encode`` — argmin-L2 per subspace) and APPENDS
# (vec_id, codes) rows. Pure append: replay just re-appends and readers
# ``distinct()`` the table (the at-least-once contract shared with the IVF
# assignment table and the CDC change log). Re-training the codebook is an
# offline job that rewrites the model and triggers a re-encode — out of
# scope, the ingest path is identical.
#
# Per-batch cost: O(batch × PQ_M × PQ_K) map-side + one append — no
# shuffle, no join. At 100 TB the code table is the 128×-compressed
# representation the batch query would build once; here it accretes per
# batch as embeddings arrive from the upstream encoder.


def _pq_model_path(code_path: str) -> str:
    return code_path.rstrip("/") + "_codebook"


def pq_codebook_table(spark: SparkSession, code_path: str) -> list[list[list[float]]]:
    """The persisted codebook model, reassembled as CB[m][c] = subvector."""
    rows = spark.read.parquet(_pq_model_path(code_path)).collect()
    by_mc = {(r.m, r.c): [float(x) for x in r.cw] for r in rows}
    n_m = 1 + max(m for m, _ in by_mc)
    n_c = 1 + max(c for _, c in by_mc)
    return [[by_mc[(m, c)] for c in range(n_c)] for m in range(n_m)]


def ingest_batch_pq(spark: SparkSession, batch: DataFrame, code_path: str) -> None:
    """Encode one micro-batch of (vec_id, embedding) rows against the
    persisted codebook and append to the code table. On the first batch the
    codebook is extracted (vec_id < PQ_K must be present — the seed
    contract) and persisted. Runs under the table's ``_state_lock`` (same
    convention as ``ingest_batch_ivf``)."""
    from cdc_postgresql_clickhouse_spark.operators.state import _state_lock
    from cdc_postgresql_clickhouse_spark.queries.similarity import (
        PQ_K,
        PQ_M,
        PQ_SUBDIM,
        _pq_cb_lit,
        pq_encode,
    )

    emb = batch.select("vec_id", _emb_d().alias("e"))
    with _state_lock(code_path):
        mp = _pq_model_path(code_path)
        if not os.path.exists(mp):
            seed = emb.filter(F.col("vec_id") < PQ_K).orderBy("vec_id").collect()
            if len(seed) < PQ_K:
                raise ValueError(
                    f"first batch must contain the {PQ_K} seed vectors (vec_id < {PQ_K})"
                )
            full = [[float(x) for x in r.e] for r in seed]
            rows = [
                (m, c, full[c][m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM])
                for m in range(PQ_M)
                for c in range(PQ_K)
            ]
            spark.createDataFrame(
                rows, "m int, c int, cw array<double>"
            ).coalesce(1).write.parquet(mp)
        cb_lit = _pq_cb_lit(pq_codebook_table(spark, code_path))
        pq_encode(emb, cb_lit).write.mode("append").parquet(code_path)


def run_incremental_pq(
    spark: SparkSession,
    src_dir: str,
    code_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (parquet files of vec_id, embedding) through the
    incremental PQ ingest with an availableNow trigger."""
    from cdc_postgresql_clickhouse_spark.streaming.sketch import _drain

    _drain(
        spark,
        src_dir,
        lambda b, _i: ingest_batch_pq(b.sparkSession, b, code_path),
        checkpoint_dir,
        max_files_per_trigger,
    )


# --- Incremental SemDeDup state maintenance — round 13 --------------------------
#
# The semantic-dedup twin of the IVF/PQ ingests above, closing the loop the
# batch query family opened (``queries/similarity.py::semdedup_base``): the
# MEMBERS table (cluster-assigned corpus rows) and the PAIRS log (within-
# cluster over-threshold duplicate pairs) are maintained incrementally as
# embedding batches arrive, so a removal list is always current without
# re-running the corpus-wide pair search per snapshot.
#
# - the coarse quantizer is the fixed seed MODEL (first-N_CENTROIDS seed
#   contract, extracted from batch 1 — identical to the batch base's
#   quantizer, so the incrementally-built state equals the batch build and
#   the batch oracle applies verbatim), persisted beside the state.
# - each micro-batch assigns its vectors map-side against the broadcast
#   centroid table (argmax truncated cosine, cid tie-break — the same
#   _cos_prenorm doubles as the batch base) and APPENDS members rows
#   (vec_id, cid, cen_cos, e, nrm), partitioned by cid.
# - new duplicate PAIRS are the cid-keyed join of the batch's members
#   against the accumulated members table (old×new plus new×new, emitted
#   (va<vb)-normalized; new×new lands twice and replay re-appends — both
#   absorbed by the readers' ``distinct()``, the same at-least-once
#   contract as the IVF assignment table). Pairs are logged at the
#   tau-grid MINIMUM, so every batch consumer (removal report, tau sweep,
#   label audit) reads the same log with its own cos_sim filter.
#
# Per-batch cost: O(batch × n_centroids) map-side assignment + one
# cid-keyed join whose right side is the accumulated members table — at
# 100 TB that table is cid-bucketed and the join is partition-pruned to
# the batch's cids; no corpus-wide pair search ever re-runs.


def _members_path(state_path: str) -> str:
    return state_path.rstrip("/") + "_members"


def _pairs_path(state_path: str) -> str:
    return state_path.rstrip("/") + "_pairs"


def ingest_batch_semdedup(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    n_centroids: int = N_CENTROIDS,
    tau: float | None = None,
) -> None:
    """Assign one micro-batch of (vec_id, embedding-or-e) rows against the
    persisted quantizer, append members, and append the batch's new
    over-threshold pairs (old×new + new×new). On the first batch the
    quantizer is extracted (vec_id < n_centroids must be present — the
    seed contract) and persisted. Runs under the state's ``_state_lock``
    (the ``ingest_batch_ivf`` convention)."""
    from cdc_postgresql_clickhouse_spark.operators.state import _state_lock
    from cdc_postgresql_clickhouse_spark.queries.similarity import (
        SEMDEDUP_TAUS_PPM,
        _cos_prenorm,
    )

    if tau is None:
        tau = min(SEMDEDUP_TAUS_PPM) / 1_000_000.0
    cols = dict.fromkeys(batch.columns)
    e = F.col("e") if "e" in cols else _emb_d()
    emb = batch.select("vec_id", e.alias("e")).withColumn("nrm", _norm(F.col("e")))
    with _state_lock(state_path):
        mp = _model_path(state_path)
        if not os.path.exists(mp):
            seed = emb.filter(F.col("vec_id") < n_centroids).select(
                F.col("vec_id").alias("cid"), F.col("e").alias("ce"), F.col("nrm").alias("cn")
            )
            if seed.count() < n_centroids:
                raise ValueError(
                    f"first batch must contain the {n_centroids} seed vectors (vec_id < {n_centroids})"
                )
            seed.coalesce(1).write.parquet(mp)
        cents = spark.read.parquet(mp)
        from pyspark.sql import Window

        scored = F.broadcast(cents).join(emb, how="cross").select(
            "vec_id", "cid",
            _cos_prenorm("e", "ce", "nrm", "cn").alias("cs"),
        )
        w = Window.partitionBy("vec_id").orderBy(F.desc("cs"), F.col("cid"))
        assign = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid", F.col("cs").alias("cen_cos"))
        )
        new_members = assign.join(emb, "vec_id").select(
            "vec_id", "cid", "cen_cos", "e", "nrm"
        ).localCheckpoint(eager=True)
        new_members.write.mode("append").partitionBy("cid").parquet(
            _members_path(state_path)
        )
        # read back AFTER the append: the accumulated table includes this
        # batch, so new×new pairs are covered; (va<vb) normalization plus
        # the readers' distinct() absorb the double emission and replay
        allm = spark.read.parquet(_members_path(state_path))
        n, m = new_members.alias("n"), allm.alias("m")
        va_is_n = F.col("n.vec_id") < F.col("m.vec_id")
        pairs = (
            n.join(m, (F.col("n.cid") == F.col("m.cid")) & (F.col("n.vec_id") != F.col("m.vec_id")))
            .select(
                F.col("n.cid").alias("cid"),
                F.when(va_is_n, F.col("n.vec_id")).otherwise(F.col("m.vec_id")).alias("va"),
                F.when(va_is_n, F.col("m.vec_id")).otherwise(F.col("n.vec_id")).alias("vb"),
                F.when(va_is_n, F.col("n.cen_cos")).otherwise(F.col("m.cen_cos")).alias("ca"),
                F.when(va_is_n, F.col("m.cen_cos")).otherwise(F.col("n.cen_cos")).alias("cb"),
                _cos_prenorm("n.e", "m.e", "n.nrm", "m.nrm").alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= tau)
        )
        pairs.write.mode("append").parquet(_pairs_path(state_path))


def read_semdedup_state(
    spark: SparkSession, state_path: str
) -> tuple[DataFrame, DataFrame]:
    """(members, pairs) from the incrementally-maintained state, replay
    duplicates dropped — the same shape ``semdedup_base`` returns."""
    members = (
        spark.read.parquet(_members_path(state_path))
        .select("vec_id", "cid", "cen_cos", "e", "nrm")
        .distinct()
    )
    pairs = spark.read.parquet(_pairs_path(state_path)).distinct()
    return members, pairs


def run_incremental_semdedup(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    checkpoint_dir: str,
    n_centroids: int = N_CENTROIDS,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain ``src_dir`` (parquet files of vec_id, e) through the
    incremental SemDeDup ingest with an availableNow trigger."""
    from cdc_postgresql_clickhouse_spark.streaming.sketch import _drain

    _drain(
        spark,
        src_dir,
        lambda b, _i: ingest_batch_semdedup(b.sparkSession, b, state_path, n_centroids),
        checkpoint_dir,
        max_files_per_trigger,
    )
