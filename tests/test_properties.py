"""Property-based tests (hypothesis) for the CDC state algebra.

The engine's core invariant is that per-key max-version state maintenance is
a *replay-invariant, order-invariant, partition-invariant* fold over the
change multiset — this is what makes at-least-once delivery (S10), arbitrary
micro-batch boundaries (ST1), and late data (ST2) all safe. These tests
check those algebraic laws on randomized change streams rather than the one
golden workload.

Randomized envelopes use small key/version domains on purpose: collisions
(same key, same version, delete-vs-update races) are the interesting cases,
and the deterministic tie-break (version, ts_ms, is_deleted) must resolve
them identically regardless of arrival order or batching.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from cdc_postgresql_clickhouse_spark.operators.state import (
    apply_changes,
    consistency_check,
    current_state,
)

# one change event: (key, version, ts_ms, is_deleted, payload)
events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),  # key — few keys, many collisions
        st.integers(min_value=0, max_value=6),  # version
        st.integers(min_value=0, max_value=2),  # ts_ms tie-break
        st.integers(min_value=0, max_value=1),  # is_deleted
        st.integers(min_value=0, max_value=99),  # payload
    ),
    min_size=0,
    max_size=12,
)

SCHEMA = "booking_id long, version long, ts_ms long, is_deleted int, payload long"
PROP_SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    return spark.createDataFrame([tuple(r) for r in rows], SCHEMA)


def _expected_state(rows):
    """Reference model: plain-Python arg-max by the engine's TOTAL order
    (version, ts_ms, is_deleted, then remaining columns desc — here just
    payload), live (non-deleted) rows only, as {key: payload}."""
    best: dict[int, tuple] = {}
    for k, v, ts, d, p in rows:
        cur = best.get(k)
        if cur is None or (v, ts, d, p) > cur:
            best[k] = (v, ts, d, p)
    return {k: t[3] for k, t in best.items() if t[2] == 0}


def _collect_state(df):
    return {
        r["booking_id"]: r["payload"]
        for r in current_state(df, version_cols=("version", "ts_ms", "is_deleted")).collect()
    }


@given(rows=events_strategy)
@PROP_SETTINGS
def test_apply_changes_matches_model(spark, rows):
    """One-shot apply == the Python reference model."""
    if not rows:
        return
    merged = apply_changes(None, _df(spark, rows))
    assert _collect_state(merged) == _expected_state(rows)


@given(rows=events_strategy, split=st.integers(min_value=0, max_value=12))
@PROP_SETTINGS
def test_batch_split_invariance(spark, rows, split):
    """Any micro-batch boundary yields the same state as one-shot apply —
    the ST1 incremental-view law."""
    if not rows:
        return
    split = min(split, len(rows))
    one_shot = apply_changes(None, _df(spark, rows))
    incr = apply_changes(None, _df(spark, rows[:split]) if split else _df(spark, rows[:1]))
    if split == 0:
        incr = apply_changes(None, _df(spark, rows))
    else:
        rest = rows[split:]
        if rest:
            incr = apply_changes(incr, _df(spark, rest))
    assert _collect_state(incr) == _collect_state(one_shot)


@given(rows=events_strategy)
@PROP_SETTINGS
def test_replay_idempotence(spark, rows):
    """Applying the same batch twice changes nothing (S10 at-least-once)."""
    if not rows:
        return
    df = _df(spark, rows)
    once = apply_changes(None, df)
    twice = apply_changes(once, df)
    assert consistency_check(
        current_state(once, version_cols=("version", "ts_ms", "is_deleted")),
        current_state(twice, version_cols=("version", "ts_ms", "is_deleted")),
    )


@given(rows=events_strategy)
@PROP_SETTINGS
def test_arrival_order_invariance(spark, rows):
    """Reversed arrival order (every event late) yields identical state —
    the ST2 'late data loses the version contest' law."""
    if not rows:
        return
    fwd = apply_changes(None, _df(spark, rows))
    rev = apply_changes(None, _df(spark, list(reversed(rows))))
    assert _collect_state(fwd) == _collect_state(rev)


@given(events_strategy, st.integers(min_value=1, max_value=3))
@PROP_SETTINGS
def test_bucketed_upsert_equals_one_shot(spark, tmp_path_factory, rows, n_batches):
    """Dirty-bucket incremental upserts over ANY batch split produce the same
    FINAL state as a single apply_changes over the whole multiset — the
    storage-layout optimization must be invisible to the state algebra."""
    from cdc_postgresql_clickhouse_spark.operators.state import (
        read_state,
        upsert_changes_bucketed,
    )

    path = str(tmp_path_factory.mktemp("bucketed") / "state")
    # arbitrary contiguous split into n_batches
    size = max(1, len(rows) // n_batches) if rows else 1
    batches = [rows[i : i + size] for i in range(0, len(rows), size)] or [[]]
    for batch in batches:
        if batch:
            upsert_changes_bucketed(spark, _df(spark, batch), path, key_buckets=4)
    incremental = read_state(spark, path)
    if not rows:
        assert incremental is None
        return
    one_shot = apply_changes(None, _df(spark, rows))
    assert consistency_check(one_shot, incremental)
    assert incremental.count() == one_shot.count()


# Law test for the arg-max: NULLs in version and rest columns, full version
# ties left to the rest columns, exact duplicates, and a two-column key.
_WIDE_SCHEMA = (
    "k1 int, k2 string, version long, ts_ms long, is_deleted int, payload long, note string"
)


def _maybe(s):
    return st.one_of(st.none(), s)


wide_rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),
        _maybe(st.sampled_from(["a", "b"])),
        _maybe(st.integers(min_value=0, max_value=2)),
        _maybe(st.integers(min_value=0, max_value=1)),
        st.integers(min_value=0, max_value=1),
        _maybe(st.integers(min_value=0, max_value=2)),
        _maybe(st.sampled_from(["", "x", "y"])),
    ),
    min_size=1,
    max_size=14,
)


def _window_argmax(df, key_cols, version_cols):
    """The reference: first row per key of ``row_number()`` over every
    non-key column descending (nulls last) — version columns first, then
    the rest by name."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    rest = sorted(set(df.columns) - set(key_cols) - set(version_cols))
    w = Window.partitionBy(*key_cols).orderBy(*(F.col(c).desc() for c in (*version_cols, *rest)))
    return df.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")


def _bag(df):
    from collections import Counter

    return Counter(tuple(r) for r in df.collect())


@given(rows=wide_rows_strategy, n_dups=st.integers(min_value=0, max_value=3), split=st.integers(0, 14))
@example(
    # (0, "a"): a NULL version loses, and the version tie is broken on the
    # rest columns by NAME order (note before payload); (1, NULL): a NULL
    # ts_ms loses; (0, "b"): a tie through note left to a NULL payload
    rows=[
        (0, "a", 1, 0, 0, 1, "x"),
        (0, "a", 1, 0, 0, 0, "y"),
        (0, "a", None, 0, 0, 5, "z"),
        (1, None, 1, None, 1, None, None),
        (1, None, 1, 0, 1, None, ""),
        (0, "b", 1, 0, 0, None, "x"),
        (0, "b", 1, 0, 0, 2, "x"),
    ],
    n_dups=2,
    split=3,
)
@PROP_SETTINGS
def test_argmax_equals_row_number_window(spark, rows, n_dups, split):
    """``apply_changes`` and ``current_state`` pick, column for column, the
    row the ``row_number`` window picks."""
    keys, versions = ("k1", "k2"), ("version", "ts_ms")
    rows = rows + rows[:n_dups]  # exact duplicate rows
    df = spark.createDataFrame(rows, _WIDE_SCHEMA)
    ref = _window_argmax(df, keys, versions)
    assert apply_changes(None, df, keys, versions).columns == df.columns
    assert _bag(apply_changes(None, df, keys, versions)) == _bag(ref)
    state = spark.createDataFrame(rows[:split], _WIDE_SCHEMA)
    updates = spark.createDataFrame(rows[split:], _WIDE_SCHEMA)
    assert _bag(apply_changes(state, updates, keys, versions)) == _bag(ref)
    live = ref.filter("is_deleted = 0")
    assert _bag(current_state(df, keys, versions, keep_internal=True)) == _bag(live)
    assert _bag(current_state(df, keys, versions)) == _bag(live.drop("is_deleted", "ts_ms"))


def test_lsh_tuning_report_amplification_monotonicity(spark, sf_dir):
    """Aligned band refinements nest: a (2x6) bucket match implies both
    constituent (4x3) matches, and a (6x2) match implies both (12x1)
    matches — so candidates and found-true-pairs are monotone along those
    chains, and the single-row config pays for its recall with precision."""
    from cdc_postgresql_clickhouse_spark.queries.dedup import dedup_lsh_tuning_report

    rows = {r.n_bands: r for r in dedup_lsh_tuning_report(spark, sf_dir).collect()}
    assert set(rows) == {2, 4, 6, 12}
    assert rows[2].n_candidates <= rows[4].n_candidates
    assert rows[6].n_candidates <= rows[12].n_candidates
    assert rows[2].n_verified <= rows[4].n_verified
    assert rows[6].n_verified <= rows[12].n_verified
    assert rows[12].precision_ppm <= rows[6].precision_ppm
    for r in rows.values():
        assert 0 <= r.n_verified <= r.n_candidates
