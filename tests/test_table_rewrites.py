"""Whole-table rewrites commit through the state tables' one journaled swap
(``operators.state.recover_bucket_swap``):

- a crash injected into a compaction, an index segment merge or a
  clustered OPTIMIZE (before the journal, after the first move into the
  table, after the last move before the drops) heals on the next read or
  ingest to exactly the table an uncrashed run leaves, schema record
  included; the table path never goes missing;
- a state table records its bucket count, a compaction keeps it unless
  told otherwise, and a publish in another count is refused before it
  writes anything, so no key keeps an older row in a bucket of an older
  layout.

The injected crashes patch ``os.rename`` and ``os.replace`` as the state
module sees them."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cdc_postgresql_clickhouse_spark.operators.state import (
    _SWAP_JOURNAL,
    _bucket_expr,
    _record,
    _unique_key,
    compact_state,
    read_state,
    state_table_stats,
    upsert_changes_bucketed,
)
from cdc_postgresql_clickhouse_spark.sources.registry import load_table

_STATE = "booking_id string, version long, ts_ms long, is_deleted int, status string"


def _rows(spark, path):
    return sorted(map(tuple, read_state(spark, path).collect()))


def _compaction(spark, sf_dir):
    """A pipeline-shaped table in 16 buckets, compacted to 4."""
    changes = spark.createDataFrame(
        [(f"b{i}", 1 + i % 3, i, int(i % 7 == 0), f"s{i % 5}") for i in range(200)], _STATE
    )

    def build(path):
        upsert_changes_bucketed(spark, changes, path, key_buckets=16)

    def rewrite(path):
        compact_state(spark, path, key_buckets=4)

    return build, rewrite, lambda path: _rows(spark, path)


def _postings(spark, sf_dir):
    """A posting table with replay duplicates, segment-merged; the rows are
    read after one more ingest (the ingest runs the roll-forward)."""
    from cdc_postgresql_clickhouse_spark.streaming.postings import (
        compact_postings,
        ingest_batch_postings,
        read_postings,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    first, later = docs.filter(F.col("doc_id") % 5 == 0), docs.filter(F.col("doc_id") % 5 == 1)

    def build(path):
        ingest_batch_postings(first, path)
        ingest_batch_postings(first, path)

    def read(path):
        ingest_batch_postings(later, path)
        return sorted(map(tuple, read_postings(spark, path).collect()))

    return build, lambda path: compact_postings(spark, path), read


def _optimize(spark, sf_dir):
    """Two overlapping appends of a flat table, reclustered."""
    from cdc_postgresql_clickhouse_spark.operators.layout import optimize_clustered

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("x"), (F.col("l_suppkey") % 256).alias("y")
    )

    def build(path):
        li.filter(F.col("x") % 2 == 0).coalesce(2).write.parquet(path)
        li.filter(F.col("x") % 2 == 1).coalesce(2).write.mode("append").parquet(path)

    def rewrite(path):
        optimize_clustered(spark, path, "x", "y", n_files=4)

    return build, rewrite, lambda path: _rows(spark, path)


class _InjectedCrash(RuntimeError):
    pass


def _arm(m, table: str, point: str | None, n_moves: int = 0) -> list:
    """Patch the renames the state module makes. A move is a rename of
    data (not a JSON record or journal) into, out of or inside ``table``.
    ``point``: "before_journal" raises instead of publishing the swap
    journal; "after_first_move" / "after_last_move" raise right after the
    first / the ``n_moves``-th move; None only counts. Returns the list of
    moves made."""
    from cdc_postgresql_clickhouse_spark.operators import state as state_mod

    root = os.path.abspath(table)

    def inside(p) -> bool:
        p = os.path.abspath(p)
        return p == root or p.startswith(root + os.sep)

    moves: list = []

    def wrap(real):
        def rename(src, dst, *args, **kwargs):
            if point == "before_journal" and os.path.basename(dst) == _SWAP_JOURNAL:
                raise _InjectedCrash(f"injected crash before publishing {dst}")
            real(src, dst, *args, **kwargs)
            if not str(dst).endswith(".json") and (inside(src) or inside(dst)):
                moves.append(dst)
                last = n_moves if point == "after_last_move" else 1
                if point in ("after_first_move", "after_last_move") and len(moves) == last:
                    raise _InjectedCrash(f"injected crash after moving {dst}")

        return rename

    m.setattr(state_mod.os, "rename", wrap(os.rename))
    m.setattr(state_mod.os, "replace", wrap(os.replace))
    return moves


@pytest.fixture(scope="module")
def controls() -> dict:
    """One uncrashed run per rewriter: its rows, record and move count."""
    return {}


@pytest.mark.parametrize("point", ["before_journal", "after_first_move", "after_last_move"])
@pytest.mark.parametrize(
    "rewriter", [_compaction, _postings, _optimize], ids=["compact_state", "compact_postings", "optimize"]
)
def test_crash_inside_table_rewrite_heals_to_uncrashed_table(
    spark, sf_dir, tmp_path_factory, monkeypatch, controls, rewriter, point
):
    build, rewrite, read = rewriter(spark, sf_dir)
    if rewriter not in controls:
        control = str(tmp_path_factory.mktemp("control") / "t")
        build(control)
        with monkeypatch.context() as m:
            moves = _arm(m, control, None)
            rewrite(control)
        assert len(moves) >= 2, moves
        controls[rewriter] = (read(control), _record(control), len(moves))
    want_rows, want_record, n_moves = controls[rewriter]

    path = str(tmp_path_factory.mktemp("crashed") / "t")
    build(path)
    before = _record(path)
    with monkeypatch.context() as m:
        _arm(m, path, point, n_moves)
        with pytest.raises(_InjectedCrash):
            rewrite(path)
    assert os.path.isdir(path)  # the table never goes missing

    assert read(path) == want_rows
    assert not os.path.exists(os.path.join(path, _SWAP_JOURNAL))
    assert not os.path.exists(f"{os.path.abspath(path)}.staged")
    # a crash before the journal leaves the old table; any later one the new
    assert _record(path) == (before if point == "before_journal" else want_record)


def test_compaction_keeps_the_bucket_count_so_no_update_is_lost(spark, tmp_path):
    """A compaction with the default count keeps the table's recorded 16
    buckets. Rebucketing a 16-bucket table to 8 and then upserting at 16
    lost an update: the upsert of a key whose 16-bucket is K read the old
    8-layout directory K, rebucketed another key's stale row from it and
    replaced that key's newer 16-layout bucket."""
    path = str(tmp_path / "state")
    keys = [f"b{i}" for i in range(200)]
    upsert_changes_bucketed(
        spark, spark.createDataFrame([(k, 1, 0, 0, "v1") for k in keys], _STATE), path, key_buckets=16
    )
    bucket = {
        r.booking_id: r.bk
        for r in read_state(spark, path)
        .select("booking_id", _bucket_expr(("booking_id",), 16).alias("bk"))
        .collect()
    }
    victim = next(k for k in keys if bucket[k] >= 8)  # its 8-bucket is not its 16-bucket
    trigger = next(k for k in keys if bucket[k] == bucket[victim] - 8)

    def status(key):
        return read_state(spark, path).filter(F.col("booking_id") == key).collect()[0]["status"]

    compact_state(spark, path)
    for key in (victim, trigger):
        upsert_changes_bucketed(
            spark, spark.createDataFrame([(key, 2, 1, 0, "v2")], _STATE), path, key_buckets=16
        )
        assert status(victim) == "v2"
    assert read_state(spark, path).count() == 200
    assert _unique_key(read_state(spark, path)) == ("booking_id",)
    assert state_table_stats(spark, path)["key_buckets"] == 16


def test_publish_in_another_bucket_count_is_refused_and_writes_nothing(spark, tmp_path):
    path = str(tmp_path / "state")
    rows = spark.createDataFrame([(f"b{i}", 1, 0, 0, "v1") for i in range(40)], _STATE)
    upsert_changes_bucketed(spark, rows, path, key_buckets=16)

    def files():
        out = {}
        for root, _dirs, names in os.walk(path):
            for name in names:
                with open(os.path.join(root, name), "rb") as fh:
                    out[os.path.relpath(os.path.join(root, name), path)] = fh.read()
        return out

    before = files()
    update = spark.createDataFrame([("b3", 2, 1, 0, "v2")], _STATE)
    with pytest.raises(ValueError, match=r"16 key buckets.*compact_state\(.*key_buckets=8\)"):
        upsert_changes_bucketed(spark, update, path, key_buckets=8)
    assert files() == before
    assert not os.path.exists(f"{os.path.abspath(path)}.staged")

    # rebucketing first is the way to a new count
    compact_state(spark, path, key_buckets=8)
    upsert_changes_bucketed(spark, update, path, key_buckets=8)
    assert state_table_stats(spark, path)["key_buckets"] == 8
    assert read_state(spark, path).filter("status = 'v2'").count() == 1


def test_compaction_of_an_unrecorded_table_records_the_default_count(spark, tmp_path):
    from cdc_postgresql_clickhouse_spark.operators.state import (
        _SCHEMA_RECORD,
        DEFAULT_KEY_BUCKETS,
    )

    path = str(tmp_path / "state")
    spark.createDataFrame([(f"b{i}", 1, 0, 0, "v1") for i in range(40)], _STATE).repartition(
        3
    ).write.parquet(path)
    assert state_table_stats(spark, path)["key_buckets"] is None
    want = _rows(spark, path)

    compact_state(spark, path)
    assert state_table_stats(spark, path)["key_buckets"] == DEFAULT_KEY_BUCKETS
    assert not [n for n in os.listdir(path) if n.startswith(("part-", ".part-"))]
    assert _rows(spark, path) == want
    with open(os.path.join(path, _SCHEMA_RECORD)) as fh:
        assert "unique_key" not in json.load(fh)
