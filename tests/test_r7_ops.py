"""Laws for the round-7 additions beyond oracle parity: the theta-sketch
partition identity, packing-report conservation bounds, fuzzy-decontamination
recall of the planted near-dup benchmark copies, and a brute-force twin for
the norm-outlier gate."""

from __future__ import annotations

import pytest

from cdc_postgresql_clickhouse_spark.queries.pca import QUERIES as PCA_P
from cdc_postgresql_clickhouse_spark.queries.sketches import KMV_K
from cdc_postgresql_clickhouse_spark.queries.sketches import QUERIES as SK_P
from cdc_postgresql_clickhouse_spark.queries.training import (
    BENCH_MOD,
    DERIVED_OFFSET,
    PACK_CONTEXT_LENS,
)
from cdc_postgresql_clickhouse_spark.queries.training import QUERIES as TR_P


def test_theta_difference_partitions_the_union_sketch(spark, sf_dir):
    """The three membership classes of K_U (common / A-only / B-only)
    partition it exactly: their counts sum to n_tracked for every pair,
    and BELOW k the sketch IS the set — both difference estimates equal
    the exact differences."""
    from cdc_postgresql_clickhouse_spark.queries.sketches import (
        QUERIES as SK_Q,  # sketch_kmv_intersect registered in wave 1
    )

    diff = SK_P["sketch_theta_difference"](spark, sf_dir)
    rows = {(r.type_a, r.type_b): r for r in diff.collect()}
    assert rows
    for r in SK_Q["sketch_kmv_intersect"](spark, sf_dir).collect():
        d = rows[(r.type_a, r.type_b)]
        assert r.n_common + d.n_anotb + d.n_bnota == d.n_tracked, (r, d)
    for d in rows.values():
        if d.n_tracked < KMV_K:  # exact regime
            assert d.theta_a_minus_b_estimate == float(d.n_exact_a_minus_b)
            assert d.theta_b_minus_a_estimate == float(d.n_exact_b_minus_a)


def test_packing_report_conservation_laws(spark, sf_dir):
    rows = {r.context_len: r for r in TR_P["packing_efficiency_report"](spark, sf_dir).collect()}
    assert set(rows) == set(PACK_CONTEXT_LENS)
    for line, r in rows.items():
        # chunking conservation: tokens + per-doc padding fill the chunks
        assert r.total_tokens + r.pad_unpacked == r.n_chunks * line
        # the packed lower bound wastes less than one context window total
        assert 0 <= r.pad_packed_lb < line
        assert r.n_seqs_packed_lb <= r.n_chunks
        assert r.eff_packed_lb_ppm >= r.eff_unpacked_ppm
        assert r.eff_packed_lb_ppm <= 1_000_000


def test_fuzzy_decontamination_recalls_planted_copies(spark, sf_dir):
    """The derived corpus plants a near-dup copy (first word dropped) of
    every doc_id < NEARDUP_IDS at doc_id + DERIVED_OFFSET. Copies of
    BENCHMARK docs are training-set leaks by construction and the fuzzy
    pass must quarantine every one of them."""
    from cdc_postgresql_clickhouse_spark.queries.dedup import NEARDUP_IDS

    res = {r.doc_id: r for r in TR_P["corpus_decontaminate_fuzzy"](spark, sf_dir).collect()}
    planted = [
        DERIVED_OFFSET + b for b in range(0, NEARDUP_IDS, BENCH_MOD)
    ]
    missed = [d for d in planted if d not in res or not res[d].contaminated]
    assert not missed, f"planted benchmark copies not quarantined: {missed}"
    for d in planted:
        assert res[d].best_jaccard_ppm >= 500_000


def test_norm_outliers_match_bruteforce(spark, sf_dir):
    """Python twin of the per-label Hampel gate on integer milli-norms²,
    computed on the collected table (bounded at test SF)."""
    from cdc_postgresql_clickhouse_spark.queries.sketches import _MAD_DEN, _MAD_NUM
    from cdc_postgresql_clickhouse_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding").collect()
    import math

    by_label: dict[int, list[int]] = {}
    for r in emb:
        q = [math.floor(x * 1000 + 0.5) for x in r.embedding]
        by_label.setdefault(int(r.label), []).append(sum(v * v for v in q))
    want = {}
    for lab, ns in by_label.items():
        s = sorted(ns)
        n = len(s)
        med2 = s[(n + 1) // 2 - 1] + s[n // 2]
        ads = sorted(abs(2 * v - med2) for v in ns)
        mad4 = ads[(n + 1) // 2 - 1] + ads[n // 2]
        out = sum(1 for v in ns if abs(2 * v - med2) * _MAD_DEN > mad4 * _MAD_NUM)
        want[lab] = (n, med2, mad4, out)
    got = {
        int(r.label): (
            r.n_vecs,
            r.median_norm2_halfunits,
            r.mad_norm2_quarterunits,
            r.n_outliers,
        )
        for r in PCA_P["embedding_norm_outliers"](spark, sf_dir).collect()
    }
    assert got == want


def test_cross_source_matrix_conserves_pairs(spark, sf_dir):
    """Every near-dup pair lands in exactly one unordered source cell:
    cell pair counts sum to the LSH pair count, and the PPM shares sum to
    at most one (truncating division loses < |cells| ppm)."""
    from cdc_postgresql_clickhouse_spark.queries.cluster import (
        QUERIES as CL_P,
    )
    from cdc_postgresql_clickhouse_spark.queries.dedup import dedup_minhash_lsh

    cells = CL_P["dedup_cross_source_matrix"](spark, sf_dir).collect()
    n_pairs_total = dedup_minhash_lsh(spark, sf_dir).count()
    assert sum(r.n_pairs for r in cells) == n_pairs_total
    assert 1_000_000 - len(cells) <= sum(r.share_ppm for r in cells) <= 1_000_000
    for r in cells:
        assert r.within_source == (r.source_a == r.source_b)
        assert r.n_docs <= 2 * r.n_pairs


def test_upsample_plan_identities(spark, sf_dir):
    """planned = full_repeats·available + remainder for every source, and
    the plan spends (within per-source floor loss) the whole budget of
    UPSAMPLE_BUDGET_EPOCHS corpus epochs."""
    from cdc_postgresql_clickhouse_spark.queries.training import (
        UPSAMPLE_BUDGET_EPOCHS,
    )

    rows = TR_P["corpus_upsample_plan"](spark, sf_dir).collect()
    tot = sum(r.tokens_available for r in rows)
    planned = sum(r.planned_tokens for r in rows)
    assert tot * UPSAMPLE_BUDGET_EPOCHS - len(rows) <= planned
    assert planned <= tot * UPSAMPLE_BUDGET_EPOCHS
    for r in rows:
        assert (
            r.full_repeats * r.tokens_available + r.remainder_tokens
            == r.planned_tokens
        )
        assert r.epochs_ppm == r.planned_tokens * 1_000_000 // r.tokens_available


def test_ohlc_bars_merge_like_partials(spark, sf_dir):
    """The mergeability claim behind the one-shuffle shape: re-aggregating
    the bars of ANY two-way user split with the same min_by/max_by/min/
    max/sum algebra equals the one-shot bars — partial aggregation is
    exact, so map-side combine at scale loses nothing. (Split by user so
    both halves cover the same minutes with interleaved order keys.)"""
    from pyspark.sql import functions as F

    from cdc_postgresql_clickhouse_spark.queries.events import (
        QUERIES as EV_P,
    )
    from cdc_postgresql_clickhouse_spark.sources.registry import load_table

    whole = {
        (r.event_type, r.minute_idx): r
        for r in EV_P["events_ohlc_bars"](spark, sf_dir).collect()
    }

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.col("event_id").alias("eid"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
        (F.col("user_id") % 2).alias("half"),
    ).withColumn("minute_idx", F.expr("us div 60000000").cast("long"))
    partial = ev.groupBy("event_type", "minute_idx", "half").agg(
        F.min_by(F.struct("us", "eid", "c"), F.struct("us", "eid")).alias("o"),
        F.max("c").alias("high_cents"),
        F.min("c").alias("low_cents"),
        F.max_by(F.struct("us", "eid", "c"), F.struct("us", "eid")).alias("cl"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("c").alias("volume_cents"),
    )
    merged = partial.groupBy("event_type", "minute_idx").agg(
        F.min_by("o.c", F.struct("o.us", "o.eid")).cast("long").alias("open_cents"),
        F.max("high_cents").cast("long").alias("high_cents"),
        F.min("low_cents").cast("long").alias("low_cents"),
        F.max_by("cl.c", F.struct("cl.us", "cl.eid")).cast("long").alias("close_cents"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("volume_cents").cast("long").alias("volume_cents"),
    )
    got = {(r.event_type, r.minute_idx): r for r in merged.collect()}
    assert set(got) == set(whole)
    for k, w in whole.items():
        g = got[k]
        assert (
            g.open_cents, g.high_cents, g.low_cents, g.close_cents,
            g.n_events, g.volume_cents,
        ) == (
            w.open_cents, w.high_cents, w.low_cents, w.close_cents,
            w.n_events, w.volume_cents,
        ), (k, g, w)


def test_intersection_method_report_laws(spark, sf_dir):
    """The shoot-out row's structural laws: inclusion-exclusion is clamped
    non-negative, the KMV leg is EXACT whenever the union sketch is below
    capacity (the theta-difference exact regime on the same pairs), and
    error columns are consistent with their estimates."""
    from cdc_postgresql_clickhouse_spark.queries.sketches import (
        sketch_kmv_intersect,
    )

    rep = {
        (r.type_a, r.type_b): r
        for r in SK_P["sketch_intersection_method_report"](spark, sf_dir).collect()
    }
    assert rep
    tracked = {
        (r.type_a, r.type_b): r.n_tracked
        for r in sketch_kmv_intersect(spark, sf_dir).collect()
    }
    for k, r in rep.items():
        assert r.hll_incl_excl_estimate >= 0.0
        if tracked[k] < KMV_K:
            assert r.kmv_intersect_estimate == float(r.n_exact_intersect)
            assert r.kmv_err_ppm == 0
        want_err = int(
            abs(r.kmv_intersect_estimate - r.n_exact_intersect)
            * 1_000_000
            / max(1, r.n_exact_intersect)
        )
        # floor-of-double boundary: allow the exact integer only
        assert r.kmv_err_ppm in (want_err, max(0, want_err - 1)), (k, r)


def test_attribution_conserves_purchases(spark, sf_dir):
    """Every purchase is credited exactly once (some channel or
    'unattributed'), purchases never credit themselves, and shares sum to
    at most one (truncating PPM)."""
    from pyspark.sql import functions as F

    from cdc_postgresql_clickhouse_spark.queries.events import (
        QUERIES as EV_P,
    )
    from cdc_postgresql_clickhouse_spark.sources.registry import load_table

    rows = EV_P["events_attribution_last_touch"](spark, sf_dir).collect()
    n_purchases = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert sum(r.n_conversions for r in rows) == n_purchases
    assert all(r.channel != "purchase" for r in rows)
    assert 1_000_000 - len(rows) <= sum(r.share_ppm for r in rows) <= 1_000_000


def test_bloom_sweep_monotone_and_near_theory(spark, sf_dir):
    """Bigger filters false-positive less (monotone in m), FPR is a true
    false-positive rate over NON-members only, and each measured rate sits
    within a loose factor of the textbook (1-e^{-kn/m})^k — the law test
    owns the float theory so the driver row can stay all-integer."""
    import math

    rows = {
        r.m_bits: r
        for r in TR_P["sketch_bloom_error_sweep"](spark, sf_dir).collect()
    }
    from cdc_postgresql_clickhouse_spark.queries.training import BLOOM_SWEEP_M

    assert set(rows) == set(BLOOM_SWEEP_M)
    rates = [rows[m].fpr_ppm for m in sorted(rows)]
    assert rates == sorted(rates, reverse=True), rates  # monotone in m
    for m, r in rows.items():
        assert 0 <= r.n_false_positives <= r.n_probe_grams
        theory = (1 - math.exp(-r.k_hashes * r.n_bench_grams / m)) ** r.k_hashes
        measured = r.fpr_ppm / 1e6
        # loose band: within 3x either way, or both effectively zero
        if theory > 1e-4 or measured > 1e-4:
            assert theory / 3 <= max(measured, 1e-7) <= theory * 3, (
                m, theory, measured,
            )


def test_bloom_sweep_rejects_arms_that_do_not_chain(spark, sf_dir, monkeypatch):
    """The sweep derives each smaller filter's bit set from the next larger
    one, which is only exact when the sizes divide each other. A sweep that
    does not chain must raise ValueError (an assert vanishes under
    ``python -O`` and would leave wrong bit sets)."""
    from cdc_postgresql_clickhouse_spark.queries import training

    monkeypatch.setattr(training, "BLOOM_SWEEP_M", (1000, 8192, 65536))
    with pytest.raises(ValueError, match="divisibility"):
        training.sketch_bloom_error_sweep(spark, sf_dir)


def test_fk_orphans_detects_planted_violations(spark, sf_dir, tmp_path):
    """The shipped fixtures are FK-clean (all-zero report — verified), so
    the detector is proven on a planted mini-schema: orphaned and
    null-keyed child rows must both count."""
    from cdc_postgresql_clickhouse_spark.queries.tpch_ext import (
        QUERIES as TX_P,
    )
    from cdc_postgresql_clickhouse_spark.sources.registry import load_table

    mini = str(tmp_path / "mini_sf")
    # copy every real table so the other edges still resolve ...
    for t in ("lineitem", "orders", "part", "supplier", "customer",
              "nation", "region"):
        load_table(spark, sf_dir, t).write.parquet(f"{mini}/{t}.parquet")
    # ... but plant an events table with 2 orphans + 1 null key among 5 rows
    ok_user = load_table(spark, sf_dir, "customer").select("c_custkey").first()[0]
    rows = [(1, "2024-01-01 00:00:00", ok_user, "view", 1.0, None)] * 2 + [
        (2, "2024-01-01 00:00:00", -999_999, "view", 1.0, None),
        (3, "2024-01-01 00:00:00", -888_888, "view", 1.0, None),
        (4, "2024-01-01 00:00:00", None, "view", 1.0, None),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "event_type",
        "value", "props",
    ).write.parquet(f"{mini}/events.parquet")

    rep = {
        r.fk_edge: r
        for r in TX_P["validation_fk_orphans_report"](spark, mini).collect()
    }
    ev = rep["events.user_id->customer.c_custkey"]
    assert (ev.n_child_rows, ev.n_orphans) == (5, 3)  # 2 orphans + 1 null
    assert ev.orphan_ppm == 3 * 1_000_000 // 5
    assert all(
        r.n_orphans == 0 for k, r in rep.items() if not k.startswith("events")
    )


def test_km_survival_matches_lifelines_style_bruteforce(spark, sf_dir):
    """Python twin of the KM estimator (the op-order spec): per-user
    (T, event) built from collected events, survival folded in integer
    PPM with truncating division — must equal the operator row-for-row.
    Also pins monotone non-increasing survival and at-risk conservation."""
    from pyspark.sql import functions as F

    from cdc_postgresql_clickhouse_spark.queries.events import (
        QUERIES as EV_P,
    )
    from cdc_postgresql_clickhouse_spark.sources.registry import load_table

    rows = sorted(
        EV_P["events_km_conversion_survival"](spark, sf_dir).collect(),
        key=lambda r: r.t_days,
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").cast("long").alias("day"),
            "event_type",
        )
        .collect()
    )
    per: dict[int, list] = {}
    for r in ev:
        st = per.setdefault(r.user_id, [None, None, None])
        st[0] = r.day if st[0] is None else min(st[0], r.day)
        st[2] = r.day if st[2] is None else max(st[2], r.day)
        if r.event_type == "purchase":
            st[1] = r.day if st[1] is None else min(st[1], r.day)
    from collections import Counter

    d_cnt, c_cnt = Counter(), Counter()
    for first, conv, last in per.values():
        if conv is not None:
            d_cnt[conv - first] += 1
        else:
            c_cnt[last - first] += 1
    days = sorted(set(d_cnt) | set(c_cnt))
    tot = sum(d_cnt.values()) + sum(c_cnt.values())
    assert tot == len(per)
    consumed, surv, want = 0, 1_000_000, []
    for t in days:
        n = tot - consumed
        surv = surv * (n - d_cnt[t]) // n
        want.append((t, n, d_cnt[t], c_cnt[t], surv))
        consumed += d_cnt[t] + c_cnt[t]
    got = [
        (r.t_days, r.n_at_risk, r.n_converted, r.n_censored, r.survival_ppm)
        for r in rows
    ]
    assert got == want
    survs = [r.survival_ppm for r in rows]
    assert survs == sorted(survs, reverse=True)


def test_littles_law_audit_matches_bruteforce(spark, sf_dir):
    """Python twin on collected per-order lifetimes: window bounds, clipped
    open-order-days integral, in-window arrivals/latency, and both derived
    Little's-law columns must match the operator exactly."""
    from pyspark.sql import functions as F

    from cdc_postgresql_clickhouse_spark.queries.tpch_more import (
        QUERIES as TM_P,
    )
    from cdc_postgresql_clickhouse_spark.sources.registry import load_table

    day = lambda c: F.floor(F.floor(F.unix_timestamp(c)) / 86400).cast("long")  # noqa: E731
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", day("o_orderdate").alias("p")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", day("l_shipdate").alias("sd")
    )
    done = li.groupBy("l_orderkey").agg(F.max("sd").alias("s"))
    lives = [
        (r.p, r.s)
        for r in o.join(done, o.o_orderkey == done.l_orderkey).select("p", "s").collect()
    ]
    lo, hi = min(p for p, _ in lives), max(s for _, s in lives)
    lo2, hi2 = lo + (hi - lo) // 4, hi - (hi - lo) // 4
    window_days = hi2 - lo2 + 1
    open_days = sum(max(0, min(s - 1, hi2) - max(p, lo2) + 1) for p, s in lives)
    placed = [(p, s) for p, s in lives if lo2 <= p <= hi2]
    lat_sum = sum(s - p for p, s in placed)
    avg_open = open_days * 1_000_000 // window_days
    arr = len(placed) * 1_000_000 // window_days
    lat = lat_sum * 1_000_000 // len(placed)
    rhs = arr * lat // 1_000_000
    resid = (avg_open - rhs) * 1_000_000 // max(1, avg_open)

    r = TM_P["orders_littles_law_audit"](spark, sf_dir).first()
    assert (
        r.window_days, r.n_placed, r.avg_open_orders_micro,
        r.arrivals_per_day_micro, r.avg_latency_days_micro,
        r.littles_rhs_micro, r.littles_residual_ppm,
    ) == (window_days, len(placed), avg_open, arr, lat, rhs, resid)


def test_kn_continuation_scores_versatile_words_higher(spark, sf_dir, tmp_path):
    """The 'san francisco' property KN exists for: after an unseen context,
    a word that completes MANY contexts (dog) must outscore a word that is
    frequent but completes ONE (francisco) — unigram counting gets this
    backwards. Planted mini-corpus: francisco appears 8x, always after
    san; dog appears 4x after 4 different words. Two val sources probe
    'new francisco' vs 'new dog' ('new' unseen, so both back off to the
    continuation distribution); KN must give source B the lower NLL.
    Structural invariants (scored + oov = total, NLL positive) are pinned
    on the real corpus too."""
    from cdc_postgresql_clickhouse_spark.queries.text_ext import (
        QUERIES as TE_P,
    )

    mini = str(tmp_path / "kn_sf")
    train_txt = (
        "san francisco " * 8
        + "big dog small dog fast dog old dog "
        + "filler words here to pad the model out"
    )
    rows = [
        (1, "srcT", "en", train_txt),  # md5(1) -> train
        (6, "srcA", "en", "new francisco"),  # md5(6) -> val
        (27, "srcB", "en", "new dog"),  # md5(27) -> val
    ]
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    ).write.parquet(f"{mini}/documents.parquet")

    rep = {r.source: r for r in TE_P["corpus_bigram_kn_ppl"](spark, mini).collect()}
    assert rep["srcA"].n_scored == 1 and rep["srcB"].n_scored == 1
    assert (
        rep["srcB"].kn_nll_micro_per_bigram < rep["srcA"].kn_nll_micro_per_bigram
    ), rep

    real = TE_P["corpus_bigram_kn_ppl"](spark, sf_dir).collect()
    for r in real:
        assert r.n_scored + r.n_oov_w == r.n_bigrams
        assert r.kn_nll_micro_per_bigram > 0


def test_bootstrap_ci_matches_bruteforce_and_brackets_mean(spark, sf_dir):
    """Python twin of the deterministic Poisson bootstrap: identical md5
    weight draws, replicate means, and nearest-rank CI — plus the sanity
    bracket lo <= mean <= hi at fixture scale."""
    import hashlib

    from cdc_postgresql_clickhouse_spark.queries.events import (
        _POISSON_CDF16,
        BOOT_B,
        QUERIES as EV_P,
    )
    from cdc_postgresql_clickhouse_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    got = {r.event_type: r for r in EV_P["events_bootstrap_mean_ci"](spark, sf_dir).collect()}
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type", F.col("event_id").alias("eid"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
        )
        .collect()
    )
    by_type: dict[str, list] = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append((r.eid, r.c))

    def weight(eid, b):
        # digest b//8, hex offset (b%8)*4 — one md5 carries eight draws
        h = hashlib.md5(f"{eid}:{b // 8}".encode()).hexdigest()
        u = int(h[(b % 8) * 4 : (b % 8) * 4 + 4], 16)
        for i, t in enumerate(_POISSON_CDF16):
            if u < t:
                return i
        return len(_POISSON_CDF16)

    for etype, rows in by_type.items():
        means = []
        for b in range(BOOT_B):
            sw = swc = 0
            for eid, c in rows:
                w = weight(eid, b)
                sw += w
                swc += w * c
            if sw > 0:
                means.append(swc * 1_000_000 // sw)
        means.sort()
        nb = len(means)
        lo = means[(25 * nb + 999) // 1000 - 1]
        hi = means[(975 * nb + 999) // 1000 - 1]
        g = got[etype]
        assert (g.n_replicates, g.boot_lo_micro, g.boot_hi_micro) == (nb, lo, hi)
        assert g.boot_lo_micro <= g.mean_micro <= g.boot_hi_micro


def test_dup_rate_growth_is_monotone_on_nested_prefixes(spark, sf_dir):
    """Nested prefixes: occurrences grow with the prefix, and a line
    duplicated within a prefix stays duplicated in every superset, so the
    duplicated-occurrence count is non-decreasing; the fixture's rate
    curve itself also grows (the compounding-duplication signal)."""
    from cdc_postgresql_clickhouse_spark.queries.corpus import (
        QUERIES as CO_P,
    )

    rows = sorted(
        CO_P["corpus_dup_rate_growth"](spark, sf_dir).collect(),
        key=lambda r: r.prefix_pct,
    )
    assert [r.prefix_pct for r in rows] == [25, 50, 75, 100]
    for a, b in zip(rows, rows[1:]):
        assert a.n_docs <= b.n_docs
        assert a.n_line_occurrences <= b.n_line_occurrences
        assert a.n_dup_occurrences <= b.n_dup_occurrences
        assert a.dup_line_ppm <= b.dup_line_ppm  # fixture property
    assert rows[-1].n_dup_occurrences > 0


def test_burrows_delta_is_a_semimetric(spark, sf_dir):
    """Delta's structural laws on the source matrix: complete unordered
    pair coverage, exactly K words per pair, non-negative distances, and
    self-distance zero by construction (checked via a planted twin source
    — two sources with identical text must have Delta 0)."""
    from cdc_postgresql_clickhouse_spark.queries.text_ext import (
        DELTA_TOP_WORDS,
        QUERIES as TE_P,
    )
    from cdc_postgresql_clickhouse_spark.sources.registry import load_table

    rows = TE_P["text_burrows_delta"](spark, sf_dir).collect()
    n_sources = load_table(spark, sf_dir, "documents").select("source").distinct().count()
    assert len(rows) == n_sources * (n_sources - 1) // 2
    for r in rows:
        assert r.n_words == DELTA_TOP_WORDS
        assert r.delta_milli >= 0
        assert r.source_a < r.source_b


def test_burrows_delta_twin_sources_have_zero_distance(spark, tmp_path, sf_dir):
    """Planted semimetric identity: duplicate a source verbatim under a
    new name — the pair's Delta must be exactly 0 while its distance to a
    genuinely different source is positive."""
    from pyspark.sql import functions as F

    from cdc_postgresql_clickhouse_spark.queries.text_ext import (
        QUERIES as TE_P,
    )
    from cdc_postgresql_clickhouse_spark.sources.registry import load_table

    mini = str(tmp_path / "delta_sf")
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    twin = docs.filter(F.col("source") == "src0").select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.lit("src0_twin").alias("source"),
        "lang",
        "text",
    )
    docs.select("doc_id", "source", "lang", "text").unionByName(twin).write.parquet(
        f"{mini}/documents.parquet"
    )
    d = {
        (r.source_a, r.source_b): r.delta_milli
        for r in TE_P["text_burrows_delta"](spark, mini).collect()
    }
    assert d[("src0", "src0_twin")] == 0
    assert d[("src0", "src1")] > 0
    assert d[("src0", "src1")] == d[("src0_twin", "src1")]


def test_ab_power_mde_matches_statsmodels_style_formula(spark, sf_dir):
    """Python twin: exact integer variance + the frozen z-sum MDE formula;
    also pins the 1/sqrt(n) law — doubling traffic shrinks MDE by ~sqrt(2)
    (checked via recomputation, not an approximation assertion)."""
    import math

    from pyspark.sql import functions as F

    from cdc_postgresql_clickhouse_spark.queries.events import (
        _AB_ZSUM_PPM,
        QUERIES as EV_P,
    )
    from cdc_postgresql_clickhouse_spark.sources.registry import load_table

    got = {r.event_type: r for r in EV_P["events_ab_power_mde"](spark, sf_dir).collect()}
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"))
        .collect()
    )
    from collections import defaultdict

    acc = defaultdict(lambda: [0, 0, 0])
    for r in ev:
        a = acc[r.event_type]
        a[0] += 1
        a[1] += r.c
        a[2] += r.c * r.c
    for etype, (n, s, s2) in acc.items():
        var = (n * s2 - s * s) // (n * (n - 1))
        arm = n // 2
        mde = math.floor(float(_AB_ZSUM_PPM) * math.sqrt(2.0 * var / arm))
        g = got[etype]
        assert (g.n_events, g.var_cents2, g.n_per_arm, g.mde_cents_micro) == (
            n, var, arm, mde,
        )
        assert g.mde_rel_ppm == mde * 1_000_000 // max(1, s * 1_000_000 // n)


def test_markov_stationary_conserves_mass(spark, sf_dir):
    """Row-stochastic power iteration conserves L1 mass up to the bounded
    per-round truncation leak (< n_nodes · n_edges nano per round), and the
    empirical shares sum to one up to per-type truncation."""
    from cdc_postgresql_clickhouse_spark.queries.graph import (
        MARKOV_ITERS,
        QUERIES as GR_P,
        PR_SCALE,
    )

    rows = GR_P["graph_markov_stationary"](spark, sf_dir).collect()
    n = len(rows)
    s = sum(r.stationary_nano for r in rows)
    leak_bound = MARKOV_ITERS * n * n * n  # edges <= n², cut per edge < 1 nano... generous
    assert PR_SCALE - leak_bound <= s <= PR_SCALE, (s, leak_bound)
    e = sum(r.empirical_nano for r in rows)
    assert 1_000_000_000 - n <= e <= 1_000_000_000
    for r in rows:
        assert r.equilibrium_gap_nano == abs(r.stationary_nano - r.empirical_nano)


def test_filter_bias_audit_shares_balance(spark, sf_dir):
    """Shares before and after each sum to one (up to per-cell truncation),
    shifts are their exact difference, and kept counts respect bounds."""
    from cdc_postgresql_clickhouse_spark.queries.quality import (
        QUERIES as Q_P,
    )

    rows = Q_P["quality_filter_bias_audit"](spark, sf_dir).collect()
    n = len(rows)
    for col in ("doc_share_before_ppm", "doc_share_after_ppm",
                "token_share_before_ppm", "token_share_after_ppm"):
        s = sum(getattr(r, col) for r in rows)
        assert 1_000_000 - n <= s <= 1_000_000, (col, s)
    for r in rows:
        assert 0 <= r.n_docs_kept <= r.n_docs
        assert r.doc_share_shift_ppm == r.doc_share_after_ppm - r.doc_share_before_ppm
        assert (
            r.token_share_shift_ppm
            == r.token_share_after_ppm - r.token_share_before_ppm
        )
    # the gate must actually cut something for the audit to be non-vacuous
    assert any(r.n_docs_kept < r.n_docs for r in rows)


def test_first_touch_conserves_converting_users(spark, sf_dir):
    """Every converting user credited exactly once; purchases never credit
    themselves; shares sum to one up to truncation."""
    from pyspark.sql import functions as F

    from cdc_postgresql_clickhouse_spark.queries.events import (
        QUERIES as EV_P,
    )
    from cdc_postgresql_clickhouse_spark.sources.registry import load_table

    rows = EV_P["events_attribution_first_touch"](spark, sf_dir).collect()
    n_conv = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r.n_converting_users for r in rows) == n_conv
    assert all(r.channel != "purchase" for r in rows)
    assert 1_000_000 - len(rows) <= sum(r.share_ppm for r in rows) <= 1_000_000


def test_pvm_bridge_is_an_exact_identity(spark, sf_dir):
    """price + volume + cross + residual == Δrev·1e6 for every type, and
    the residual is bounded by the truncation it carries (< q0 + q1 + 1
    micro-cents per unit of truncated price, i.e. |residual| < q0 + q1)."""
    from cdc_postgresql_clickhouse_spark.queries.tpch_more import (
        QUERIES as TM_P,
    )

    rows = TM_P["orders_revenue_pvm_bridge"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        lhs = (r.rev1 - r.rev0) * 1_000_000
        rhs = (
            r.price_effect_microcents
            + r.volume_effect_microcents
            + r.cross_effect_microcents
            + r.truncation_residual_microcents
        )
        assert lhs == rhs, r
        # each truncated price loses < 1 micro-cent per unit of the half
        # it scales: p0m scales q1 overall, p1m scales q0 + Δq = q1
        assert abs(r.truncation_residual_microcents) < r.q0 + r.q1 + 2, r


def test_user_concentration_matches_bruteforce(spark, sf_dir):
    """Python twin of the rank-formula Gini and the nearest-rank top-k
    shares, plus the Lorenz ordering top1% <= top10% and Gini in [0, 1e6)."""
    from collections import Counter

    from cdc_postgresql_clickhouse_spark.queries.events import (
        QUERIES as EV_P,
    )
    from cdc_postgresql_clickhouse_spark.sources.registry import load_table

    r = EV_P["events_user_concentration"](spark, sf_dir).first()
    counts = Counter(
        row.user_id for row in load_table(spark, sf_dir, "events").select("user_id").collect()
    )
    xs = sorted(counts.values())
    n, tot = len(xs), sum(xs)
    gini = (2 * sum((i + 1) * x for i, x in enumerate(xs)) - (n + 1) * tot) * 1_000_000 // (n * tot)
    top1 = sum(xs[n - (n + 99) // 100:]) * 1_000_000 // tot
    top10 = sum(xs[n - (n + 9) // 10:]) * 1_000_000 // tot
    assert (r.n_users, r.n_events, r.gini_ppm, r.top1pct_share_ppm, r.top10pct_share_ppm) == (
        n, tot, gini, top1, top10,
    )
    assert 0 <= r.gini_ppm < 1_000_000
    assert r.top1pct_share_ppm <= r.top10pct_share_ppm


def test_heavy_hitter_turnover_bounds(spark, sf_dir):
    """n_common in [0, K]; Jaccard = c/(2K - c); entrants = dropouts = K - c
    by construction of equal-size top sets."""
    from cdc_postgresql_clickhouse_spark.queries.events import (
        HH_TURNOVER_K,
        QUERIES as EV_P,
    )

    r = EV_P["events_heavy_hitter_turnover"](spark, sf_dir).first()
    assert r.k == HH_TURNOVER_K
    assert 0 <= r.n_common <= HH_TURNOVER_K
    assert r.jaccard_ppm == r.n_common * 1_000_000 // (2 * HH_TURNOVER_K - r.n_common)
    assert r.n_entrants == r.n_dropouts == HH_TURNOVER_K - r.n_common
