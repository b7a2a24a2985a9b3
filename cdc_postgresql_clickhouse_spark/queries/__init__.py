"""Query registry: every implemented operator exposed as a (Spark callable,
DuckDB oracle SQL) pair for the driver's correctness gate.

Each submodule defines ``QUERIES: dict[str, callable]`` and
``ORACLE: dict[str, str]``; this package aggregates them. Column names and
value types are aligned pair-wise (the driver hashes values after sorting
columns by name), so every computed column is aliased identically on both
sides, monetary aggregates are summed as DECIMAL then cast to DOUBLE, and
ratios are rounded identically.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cdc_postgresql_clickhouse_spark.queries import (
    bpe,
    cdc,
    chunking,
    cluster,
    corpus,
    debezium_types,
    dedup,
    dsir,
    events,
    extras,
    formats,
    funnel,
    graph,
    manifest,
    multimodal,
    pca,
    quality,
    search,
    semantic,
    similarity,
    sketches,
    skew,
    spans,
    streaming_queries,
    text,
    text_ext,
    tokenizer,
    tpch,
    tpch_ext,
    tpch_more,
    training,
    winnow,
    zorder,
)

_MODULES = (
    cdc, streaming_queries, winnow, chunking, semantic, text_ext, extras,
    spans, manifest, sketches, zorder, bpe, tokenizer, graph, search, dsir,
    dedup, similarity, pca, cluster, multimodal, text, quality, training, corpus,
    skew, debezium_types, funnel, events, formats, tpch, tpch_ext, tpch_more,
)

# Registration order is load-bearing: the driver's correctness gate runs the
# FIRST 50 registered queries only. ROTATION POLICY (see COVERAGE.md):
# rule 1 — cdc always registers first (core reference semantics, cheap
# insurance every round); rule 2 — queries that have NEVER had a driver
# CORRECTNESS row register next, ahead of anything already proven; rule 2b —
# a query whose LATEST driver row is red stays inside the window until it
# goes green (added r5); rule 3 — the window refills with already-green
# families, oldest proof first.
#
# The policy is encoded EXPLICITLY here rather than via module order (a new
# query added mid-module would otherwise silently push a never-checked one
# past position 50 — tests/test_window_policy.py pins this). _WINDOW_FRONT
# lists the first-50 names in driver order; every remaining query follows in
# module order and is re-verified locally by scripts/parity_sweep.py.
_WINDOW_FRONT = [
    # rule 1: cdc insurance, 2 slots: the flagship current-state read plus
    # one rotating cdc row (r15 rotation: cdc_soft_delete_state — last
    # green r8, the oldest cdc proof, first of the r8 cdc rows in
    # registration order, so the insurance slot doubles as the cdc family's
    # staleness re-check; cdc_dlq_report rotated out after its r14 green).
    "cdc_current_state", "cdc_soft_delete_state",
    # rules 2 and 2b: EMPTY — every registered query has a driver proof and
    # no query's latest driver row is red.
    # rule 3 (staleness): the remaining 48 slots fill with already-green
    # non-cdc rows whose latest driver proof is OLDEST, oldest round first,
    # registration order within a round: the 4 r4-latest rows, all 39
    # r6-latest rows, then the first 5 of the 38 r7-latest rows. The 33 r7
    # rows left behind front the r16 window. Once the driver stamps this
    # window the oldest proof is r7, so MAX_PROOF_AGE = 10 holds through a
    # round-17 stamp. tests/test_window_policy.py pins the rule and the
    # bound.
    "corpus_dsir_weights", "ann_pq_topk",
    "multimodal_audio_frames", "multimodal_phash_neardup",
    "streaming_hll_equiv", "streaming_quantile_equiv",
    "streaming_cms_equiv", "streaming_topk_equiv",
    "streaming_scd2_equiv", "text_repetition_topgram",
    "text_bigram_logprob", "quality_langid_confusion",
    "events_anomaly_mad", "sketch_quantile_bottomk",
    "sketch_quantile_merge", "sketch_quantile_error_report",
    "layout_hilbert_clustering", "tokenizer_unigram_segment",
    "tokenizer_unigram_token_count", "graph_kcore_types",
    "graph_label_propagation", "graph_degree_profile",
    "retrieval_known_item_eval", "dedup_minhash_containment",
    "dedup_lsh_tuning_report", "ann_ivfpq_topk",
    "ann_recall_report", "retrieval_label_knn_eval",
    "embedding_pca_topcomponent", "quality_threshold_sweep",
    "text_readability", "corpus_decontaminate_bloom",
    "corpus_split_leakage_report", "corpus_length_pareto",
    "corpus_vocab_growth", "events_minute_gapfill",
    "events_minute_locf", "events_top_paths",
    "events_rolling_median", "source_jsonl_roundtrip_agg",
    "source_csv_roundtrip_agg", "source_orc_roundtrip_agg",
    "grouping_sets_order_profile",
    "streaming_ewma_equiv", "streaming_retraction_mv_equiv",
    "streaming_session_capped_equiv", "text_char_entropy",
    "corpus_bigram_heldout_ppl",
]


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        overlap = set(out) & set(m.QUERIES)
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(m.QUERIES)
    missing = [n for n in _WINDOW_FRONT if n not in out]
    if missing:
        raise ValueError(f"_WINDOW_FRONT names not registered: {missing}")
    ordered = {n: out[n] for n in _WINDOW_FRONT}
    ordered.update({n: f for n, f in out.items() if n not in ordered})
    return ordered


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLE)
    ordered = {n: out[n] for n in _WINDOW_FRONT if n in out}
    ordered.update({n: s for n, s in out.items() if n not in ordered})
    return ordered
