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


@given(
    keys=st.lists(
        st.tuples(st.integers(-50, 50), st.one_of(st.none(), st.text(max_size=3))),
        max_size=20,
    ),
    n_buckets=st.integers(min_value=1, max_value=8),
    two_cols=st.booleans(),
)
@example(keys=[], n_buckets=4, two_cols=False)
@PROP_SETTINGS
def test_touched_buckets_equals_distinct_collect(spark, keys, n_buckets, two_cols):
    """``_touched_buckets`` (a set observed during one scan) returns the
    sorted distinct bucket ids the ``distinct().collect()`` reference finds,
    for 1- and 2-column keys and for the empty frame."""
    from cdc_postgresql_clickhouse_spark.operators.state import (
        _bucket_expr,
        _touched_buckets,
    )

    df = spark.createDataFrame(keys, "k1 long, k2 string")
    key_cols = ("k1", "k2") if two_cols else ("k1",)
    ref = df.select(_bucket_expr(key_cols, n_buckets)).distinct().collect()
    assert _touched_buckets(df, key_cols, n_buckets) == sorted(r[0] for r in ref)


def test_touched_buckets_runs_one_job(spark):
    """The touched-bucket set costs one Spark job and no shuffle: the scan
    tasks build it in accumulators (``distinct().collect()`` ran two jobs)."""
    from cdc_postgresql_clickhouse_spark.operators.state import _touched_buckets

    df = spark.createDataFrame([(f"b{i}",) for i in range(200)], "booking_id string")
    sc = spark.sparkContext
    group = "touched-buckets-one-job"
    sc.setJobGroup(group, group)
    try:
        touched = _touched_buckets(df, ("booking_id",), 16)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert touched == list(range(16))
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


# Law test for the recorded unique key: NULL keys, 1- and 2-column keys,
# deletes, late versions (any version in any batch) and a replayed batch.
_KEYED_SCHEMA = "k1 int, k2 string, version long, ts_ms long, is_deleted int, payload long"
keyed_batches_strategy = st.lists(
    st.lists(
        st.tuples(
            _maybe(st.integers(min_value=0, max_value=2)),
            _maybe(st.sampled_from(["a", "b"])),
            st.integers(min_value=0, max_value=3),
            _maybe(st.integers(min_value=0, max_value=1)),
            st.integers(min_value=0, max_value=1),
            _maybe(st.integers(min_value=0, max_value=2)),
        ),
        min_size=1,
        max_size=10,
    ),
    min_size=1,
    max_size=3,
)
_VERSIONS = ("version", "ts_ms")


def _upsert_keyed(spark, path, rows, keys):
    from cdc_postgresql_clickhouse_spark.operators.state import upsert_changes_bucketed

    upsert_changes_bucketed(
        spark, spark.createDataFrame(rows, _KEYED_SCHEMA), path, 4, keys, _VERSIONS
    )


def _read_both(spark, path, keys):
    """``current_state`` of the frame ``read_state`` returned, and of a
    derived frame, which carries no recorded key: the arg-max answer."""
    from cdc_postgresql_clickhouse_spark.operators.state import read_state

    fast = current_state(read_state(spark, path), keys, _VERSIONS, keep_internal=True)
    argmax = current_state(
        read_state(spark, path).select("*"), keys, _VERSIONS, keep_internal=True
    )
    return _bag(fast), _bag(argmax)


@given(batches=keyed_batches_strategy, replay=st.booleans(), two_cols=st.booleans())
@example(
    batches=[[(None, "a", 1, 0, 0, 1), (None, None, 2, None, 1, None), (0, "b", 0, 1, 0, 2)]],
    replay=True,
    two_cols=True,
)
@settings(PROP_SETTINGS, max_examples=8)  # up to 4 bucket publishes per example
def test_recorded_unique_key_read_equals_argmax(
    spark, tmp_path_factory, batches, replay, two_cols
):
    """A table the bucketed upsert wrote records its key, and reading it
    with no arg-max gives the arg-max answer, which is also the one-shot
    ``apply_changes`` over every change."""
    from cdc_postgresql_clickhouse_spark.operators.state import _unique_key, read_state

    keys = ("k1", "k2") if two_cols else ("k1",)
    path = str(tmp_path_factory.mktemp("unique") / "state")
    for rows in batches + batches[:1] * replay:
        _upsert_keyed(spark, path, rows, keys)
    assert _unique_key(read_state(spark, path)) == keys
    fast, argmax = _read_both(spark, path, keys)
    every = spark.createDataFrame([r for b in batches for r in b], _KEYED_SCHEMA)
    assert fast == argmax == _bag(current_state(every, keys, _VERSIONS, keep_internal=True))


def test_unrecorded_or_uncovered_key_reads_through_the_argmax(spark, tmp_path):
    """The reads that must take the arg-max, and still return its answer:
    a raw frame published with no stated key over a keyed table (it leaves
    duplicates, and a later stated upsert does not record the key again),
    a ``key_cols`` that does not cover the recorded key, and a record or
    journal in the format from before the key was recorded."""
    import json
    import os

    from cdc_postgresql_clickhouse_spark.operators.state import (
        _SCHEMA_RECORD,
        _SWAP_JOURNAL,
        _unique_key,
        read_state,
        write_state,
    )

    def seeded(name, keys):
        path = str(tmp_path / name)
        _upsert_keyed(spark, path, [(k, "a", 1, 0, 0, k) for k in range(6)], keys)
        assert _unique_key(read_state(spark, path)) == keys
        return path

    # raw changes, two rows for key 0, over every bucket of a keyed table
    path = seeded("raw", ("k1",))
    raw = [(k, "a", 1, 0, 0, k) for k in range(6)] + [(0, "a", 2, 0, 0, 9)]
    write_state(spark.createDataFrame(raw, _KEYED_SCHEMA), path, key_buckets=4, key_cols=("k1",))
    assert read_state(spark, path).count() == 7
    assert _unique_key(read_state(spark, path)) is None
    _upsert_keyed(spark, path, [(5, "a", 3, 0, 0, 50)], ("k1",))
    assert _unique_key(read_state(spark, path)) is None
    fast, argmax = _read_both(spark, path, ("k1",))
    assert fast == argmax
    assert {(r[0], r[5]) for r in fast} == {(0, 9), (1, 1), (2, 2), (3, 3), (4, 4), (5, 50)}

    # a key_cols that does not cover the recorded (k1, k2): 2 rows, one per k1
    path = seeded("uncovered", ("k1", "k2"))
    _upsert_keyed(spark, path, [(0, "b", 2, 0, 0, 7)], ("k1", "k2"))
    fast, argmax = _read_both(spark, path, ("k1",))
    assert fast == argmax
    assert {(r[0], r[1], r[5]) for r in fast if r[0] == 0} == {(0, "b", 7)}
    assert sum(fast.values()) == 6

    # a record, then a journal, in the format with no key
    path = seeded("old_record", ("k1",))
    want, _ = _read_both(spark, path, ("k1",))
    record = os.path.join(path, _SCHEMA_RECORD)
    with open(record) as fh:
        schema = {k: v for k, v in json.load(fh).items() if k in ("type", "fields")}
    with open(record, "w") as fh:
        json.dump(schema, fh)
    assert _unique_key(read_state(spark, path)) is None
    assert _read_both(spark, path, ("k1",)) == (want, want)
    _upsert_keyed(spark, path, [(0, "a", 0, 0, 0, 0)], ("k1",))  # a late change
    assert _unique_key(read_state(spark, path)) is None
    assert _read_both(spark, path, ("k1",)) == (want, want)
    path = seeded("old_journal", ("k1",))
    with open(os.path.join(path, _SWAP_JOURNAL), "w") as fh:
        json.dump({"buckets": [], "staged": f"{path}.staged", "schema": schema}, fh)
    assert _unique_key(read_state(spark, path)) is None
    assert not os.path.exists(os.path.join(path, _SWAP_JOURNAL))
    assert _read_both(spark, path, ("k1",)) == (want, want)


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
