"""ReplacingMergeTree semantics in Spark: current-state view + idempotent upsert.

The reference keeps per-key latest state in
``ReplacingMergeTree(version, is_deleted) ORDER BY booking_id``
(``schemas/clickhouse_schemas.sql:11-13``): duplicate keys collapse to the
max-version row at merge time, a surviving ``is_deleted=1`` row is dropped,
and correct reads require query-time finalization (``FINAL``,
``README.md:309-318``).

Spark design (survey §2.10 ST3): state lives in the **table**, not in any
streaming state store — key cardinality is bounded by storage, not executor
memory, which is the 100 TB posture. Two equivalent consumption modes:

1. ``current_state`` — read-time dedup view (the ``FINAL`` analogue, R1):
   arg-max per key as one aggregation, ``max(struct(total order))`` grouped
   by the key. Single hash-partition shuffle on the key; at scale the input
   is pre-bucketed by key so the shuffle is a no-op.
2. ``apply_changes`` — batch/micro-batch upsert that materializes the merged
   state (the background-merge analogue). On Delta this is ``MERGE INTO``;
   on plain parquet we implement merge-by-rewrite: union(state, updates) →
   the same arg-max → overwrite. With state partitioned by key-hash bucket,
   only buckets containing updated keys are rewritten, and the merge shares
   its one shuffle with the bucket publish (``upsert_changes_bucketed``).

Version semantics, NOT event time (survey ST2): a late event simply loses the
max-version contest; no watermarks. Idempotent under at-least-once replay
(``clickhouse_sink_configuration.json:13``) because arg-max over a multiset
is replay-invariant.

Tie-break for equal versions (ClickHouse keeps the last-inserted row, which
is nondeterministic): deterministic order (version, ts_ms, is_deleted) so a
delete wins over a non-delete at the same version instant — then ALL
remaining columns (sorted by name, descending) as a final disambiguator, so
the winner is a pure function of the change multiset. Full determinism
matters on Spark specifically: task retries and speculative execution
re-evaluate partitions, and an arrival-order-dependent winner would make
state non-reproducible across retries (hypothesis found exactly this:
tests/test_properties.py::test_arrival_order_invariance).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_KEY = ("booking_id",)
DEFAULT_VERSION_ORDER = ("version", "ts_ms", "is_deleted")


class StateLockError(RuntimeError):
    """Another mutator holds the state table's lock. Both the dirty-bucket
    upsert and compaction are read-modify-rewrite on plain parquet, so
    running them concurrently on one path can lose a committed batch; the
    lock turns that race into an error (the ClickHouse analogue is
    OPTIMIZE's part-level lock; on Delta the problem disappears — ACID)."""


# (path, thread id) pairs whose _state_lock a thread of THIS process holds.
# Lets read_state distinguish "called under the caller's own lock" (heal
# directly; the O_EXCL lock is non-reentrant, so re-acquiring would raise
# StateLockError against the caller's own fence — ADVICE r9) from a
# lock-free read (take the lock, heal under it). Ownership is per THREAD:
# foreachBatch runs on a Py4J callback thread, so a caller-thread read
# during a live batch must hit the fence (StateLockError), not heal
# alongside the batch's bucket swap. Host-local, same as the lock itself
# (local[] harness; Delta/ACID at scale).
_HELD_LOCKS: set[tuple[str, int]] = set()


@contextlib.contextmanager
def _state_lock(path: str):
    """Single-writer fence: an O_EXCL sibling lock file. Host-local by
    design — this guards the local[]-mode parquet state machinery; a
    multi-driver deployment gets its exclusion from the storage layer
    (Delta/ACID), not from this file. A crash can leave a stale lock;
    ``break_state_lock`` removes it after operator inspection."""
    apath = os.path.abspath(path)
    lock = f"{apath}.lock"
    # The lock is a SIBLING of the table dir; on a first-ever read the
    # parent may not exist yet (streams read state before the first batch
    # writes it) and O_CREAT raises FileNotFoundError, not FileExistsError.
    os.makedirs(os.path.dirname(lock) or ".", exist_ok=True)
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise StateLockError(
            f"state table {path!r} is locked by another upsert/compact "
            f"(lock file {lock!r}; if its owner crashed, call break_state_lock)"
        ) from None
    owner_key = (apath, threading.get_ident())
    _HELD_LOCKS.add(owner_key)
    try:
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        yield
    finally:
        _HELD_LOCKS.discard(owner_key)
        # Remove only OUR lock: if break_state_lock misjudged this mutator as
        # crashed and a new mutator re-acquired, the recorded pid differs and
        # the zombie must not delete the new owner's fence.
        with contextlib.suppress(OSError):
            with open(lock) as fh:
                owner = fh.read().strip()
            if owner == str(os.getpid()):
                os.remove(lock)


@contextlib.contextmanager
def _own_lock(path: str):
    """Run under ``path``'s state lock: reuse it if the CALLING thread
    already holds it (the O_EXCL lock is non-reentrant), otherwise take it —
    so another thread's hold raises ``StateLockError``."""
    if (os.path.abspath(path), threading.get_ident()) in _HELD_LOCKS:
        yield
    else:
        with _state_lock(path):
            yield


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except (ProcessLookupError, ValueError):
        return False
    except PermissionError:
        return True
    return True


def break_state_lock(path: str, force: bool = False) -> bool:
    """Remove a stale lock left by a crashed mutator. Returns True if a lock
    file existed. Refuses (``StateLockError``) when the recorded owner pid is
    a live process OTHER than the caller — that mutator is not crashed, just
    slow, and breaking its fence re-opens the lost-update race; pass
    ``force=True`` after killing it."""
    lock = f"{os.path.abspath(path)}.lock"
    if not force:
        owner: int | None = None
        with contextlib.suppress(OSError, ValueError):
            with open(lock) as fh:
                owner = int(fh.read().strip())
        if owner is not None and owner != os.getpid() and _pid_alive(owner):
            raise StateLockError(
                f"lock on {path!r} is held by live pid {owner}; not breaking "
                "(kill the owner and pass force=True if it is truly wedged)"
            )
    with contextlib.suppress(FileNotFoundError):
        os.remove(lock)
        return True
    return False


def _total_order(
    df: DataFrame, key_cols: tuple[str, ...], version_cols: tuple[str, ...]
) -> list[str]:
    """Version order extended to a TOTAL order: remaining columns (sorted by
    name) break any residual tie, making the per-key winner a deterministic
    function of the change multiset — retry/replay/speculation-safe."""
    rest = sorted(set(df.columns) - set(key_cols) - set(version_cols))
    return [*version_cols, *rest]


def _argmax_per_key(
    df: DataFrame, key_cols: tuple[str, ...], version_cols: tuple[str, ...]
) -> DataFrame:
    """One row per key: the row that is greatest in ``_total_order``, as
    ``max(struct(total order))`` grouped by the key. A struct compares
    field by field and ranks NULL lowest, so the winner is the first row
    of ``ORDER BY`` every order column ``DESC NULLS LAST``. Every non-key
    column is in the struct, so the winner is the whole row, in one
    aggregation that combines map-side before its one shuffle by key."""
    return (
        df.groupBy(*key_cols)
        .agg(F.max(F.struct(*_total_order(df, key_cols, version_cols))).alias("__r"))
        .select(*key_cols, "__r.*")
        .select(*df.columns)
    )


def current_state(
    updates: DataFrame,
    key_cols: tuple[str, ...] = DEFAULT_KEY,
    version_cols: tuple[str, ...] = DEFAULT_VERSION_ORDER,
    deleted_col: str = "is_deleted",
    keep_internal: bool = False,
) -> DataFrame:
    """R1 — the FINAL-equivalent current-state view (survey §2.10 ST5).

    Arg-max per key over the total version order (``_argmax_per_key``: one
    aggregation, one shuffle by key), then the soft-delete filter.
    """
    out = _argmax_per_key(updates, key_cols, version_cols).filter(F.col(deleted_col) == 0)
    if not keep_internal:
        out = out.drop(deleted_col, "ts_ms")
    return out


def snapshot_load(snapshot: DataFrame, version: int = 1) -> DataFrame:
    """S7 — initial cross-DB load with literal version stamping.

    The reference backfills via ClickHouse's ``postgresql()`` table function,
    stamping ``1 AS version`` (``README.md:156-168``); snapshots are outside
    the streaming path (``snapshot.mode=never``,
    ``debezium_configuration.json:23``). Spark form: any batch read (JDBC /
    parquet) → stamp version + not-deleted.
    """
    return (
        snapshot.withColumn("version", F.lit(version).cast("long"))
        .withColumn("is_deleted", F.lit(0))
        .withColumn("ts_ms", F.lit(0).cast("long"))
    )


def apply_changes(
    state: DataFrame | None,
    updates: DataFrame,
    key_cols: tuple[str, ...] = DEFAULT_KEY,
    version_cols: tuple[str, ...] = DEFAULT_VERSION_ORDER,
    deleted_col: str = "is_deleted",
) -> DataFrame:
    """Idempotent batch upsert: merge updates into state, keep max-version row
    per key, retain tombstones *in the merged state* so a later replay of an
    older event still loses (S9/S10). Reads of the result go through
    ``current_state`` (or its ``keep_internal`` form is this function's
    output filtered).

    Equivalent to Delta ``MERGE INTO ... WHEN MATCHED AND s.version >
    t.version`` but expressed as union + arg-max (``_argmax_per_key``) so it
    works on any store and stays a single shuffle. Tombstones are retained
    (not dropped) which is exactly ClickHouse's part-merge behavior before
    ``FINAL``.
    """
    merged = updates if state is None else state.unionByName(updates, allowMissingColumns=True)
    return _argmax_per_key(merged, key_cols, version_cols)


BUCKET_COL = "__bucket"


def _bucket_expr(key_cols: tuple[str, ...], n_buckets: int):
    return F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets))


def _publish_partitions(spark: SparkSession, key_buckets: int) -> int:
    """Task count of a bucket publish: one per task slot, never more than
    there are buckets. A repartition by an explicit count is never
    coalesced by AQE, so every slot writes; hashing on the bucket id keeps
    each bucket in one task, so each bucket is still one file."""
    return min(key_buckets, spark.sparkContext.defaultParallelism)


def _touched_buckets(
    df: DataFrame, key_cols: tuple[str, ...], n_buckets: int
) -> list[int]:
    """The sorted distinct key-hash buckets of ``df``'s rows — one small
    driver collect, bounded by ``n_buckets``, never by data."""
    return sorted(
        r[0] for r in df.select(_bucket_expr(key_cols, n_buckets)).distinct().collect()
    )


def _unfenced_buckets_keyed(
    state: DataFrame | None,
    touched: list[int],
    batch_id: int,
    key_buckets: int,
    key_cols: tuple[str, ...],
) -> list[int]:
    """The per-bucket replay fence: the touched buckets whose rows are still
    behind ``batch_id`` (``state`` carries an ``applied_bid`` column). Every
    row of a bucket carries the same ``applied_bid`` — ``write_state`` swaps
    each bucket directory in with an atomic rename, so a bucket is wholly
    old or wholly new even across a crash. A touched bucket with NO rows
    has never committed at all, so it is unfenced."""
    if state is None:
        return list(touched)
    fenced = {
        r["bk"]
        for r in state.select(_bucket_expr(key_cols, key_buckets).alias("bk"), "applied_bid")
        .groupBy("bk")
        .agg(F.min("applied_bid").alias("mb"))
        .filter(F.col("mb") >= int(batch_id))
        .collect()
    }
    return [bk for bk in touched if bk not in fenced]


def read_state(
    spark: SparkSession, path: str, buckets: list[int] | None = None
) -> DataFrame | None:
    """Read the state table. ``buckets`` prunes a bucketed layout to the given
    key-hash buckets (partition pruning: only those directories are scanned —
    the read is O(touched buckets), not O(state)).

    A torn bucket swap (crash between ``write_state``'s per-bucket renames)
    is rolled FORWARD here, under the state lock, before the read plans — a
    direct reader would otherwise see a journaled-but-unswapped bucket as
    never-committed state (ADVICE r8). Lock discipline (ADVICE r9): if the
    calling thread already holds the path's lock (every ingest path calls
    read_state inside its locked section), heal directly under the caller's
    lock; re-acquiring the non-reentrant O_EXCL lock would raise
    StateLockError against the caller's own fence. A lock-free read takes
    the lock UNCONDITIONALLY and heals under it, so a live publish makes the
    read raise ``StateLockError`` instead of planning over a half-swapped
    directory. Residual TOCTOU, by design: the lock is released before the
    scan executes, so a publish STARTING after release can still swap
    buckets mid-read — race-free concurrent read-while-publish needs the
    storage layer (Delta/ACID); this file-based machinery is the local[]
    harness."""
    with _own_lock(path):
        recover_bucket_swap(path)
    try:
        # mergeSchema: after a T4 widening, buckets written before the ALTER
        # have fewer columns than buckets written after — union their schemas
        # (footer-read cost is per-file and parallel; state files are few per
        # bucket by construction)
        df = spark.read.option("mergeSchema", "true").parquet(path)
    except Exception:
        return None  # first batch: no state yet
    if BUCKET_COL in df.columns:
        if buckets is not None:
            df = df.filter(F.col(BUCKET_COL).isin(buckets))
        df = df.drop(BUCKET_COL)
    return df


_SWAP_JOURNAL = "_state_swap_journal.json"


def write_state(
    state: DataFrame,
    path: str,
    key_buckets: int | None = None,
    key_cols: tuple[str, ...] = DEFAULT_KEY,
) -> None:
    """Materialize state. Without ``key_buckets``: a plain overwrite of the
    whole table. With ``key_buckets``: the crash-atomic bucket publish — the
    table is laid out as ``__bucket=K`` partition directories keyed on
    ``pmod(xxhash64(key), N)`` (the unit of incremental rewrite), and ONLY
    the buckets present in ``state`` are replaced; every other bucket
    directory is left byte-identical. On Delta this becomes MERGE + OPTIMIZE.
    An existing ``__bucket`` column is reused as the bucket id; the staged
    write repartitions by it into ``_publish_partitions`` tasks (a no-op
    when the input is already partitioned so: ``upsert_changes_bucketed``).

    Protocol (same journal discipline as ``layout.optimize_clustered``;
    the ReplacingMergeTree part swap, per bucket): (1) write the buckets'
    COMPLETE new state to a sibling staging dir; (2) fsync-publish a journal
    naming the staged bucket dirs; (3) swap each bucket directory in with
    rmtree+rename — rename is atomic, so every bucket is either wholly old
    or wholly new at all times; (4) clear the journal and staging dir. A
    crash in (1) leaves an orphan staging dir and the old state intact; a
    crash in (3) is rolled forward by ``recover_bucket_swap`` (which
    ``read_state`` runs), so a replayed batch always merges into committed
    state, never into an emptied bucket. Runs under the path's state lock,
    reusing it if the calling thread already holds it."""
    if not key_buckets:
        state.write.mode("overwrite").parquet(path)
        return
    staged_root = f"{os.path.abspath(path)}.staged"
    with _own_lock(path):
        recover_bucket_swap(path)  # a torn earlier swap lands before this one
        out = (
            state
            if BUCKET_COL in state.columns
            else state.withColumn(BUCKET_COL, _bucket_expr(key_cols, key_buckets))
        )
        (
            out.repartition(_publish_partitions(out.sparkSession, key_buckets), BUCKET_COL)
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(staged_root)
        )
        bucket_dirs = sorted(
            d for d in os.listdir(staged_root) if d.startswith(f"{BUCKET_COL}=")
        )
        os.makedirs(path, exist_ok=True)
        journal = os.path.join(path, _SWAP_JOURNAL)
        tmp_journal = journal + ".tmp"
        with open(tmp_journal, "w") as fh:
            json.dump({"buckets": bucket_dirs, "staged": staged_root}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp_journal, journal)
        for bucket_dir in bucket_dirs:
            dst = os.path.join(path, bucket_dir)
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            os.rename(os.path.join(staged_root, bucket_dir), dst)
        os.remove(journal)
        shutil.rmtree(staged_root, ignore_errors=True)


def recover_bucket_swap(path: str) -> bool:
    """Finish a ``write_state`` bucket swap interrupted by a crash.

    The journal is written only AFTER the staged write is complete, so
    recovery always rolls FORWARD: any journaled bucket still present in
    the staged dir replaces its table directory (rmtree + rename — the
    rename is atomic per bucket); buckets already swapped are skipped.
    Returns True if a torn swap was healed. Callers must hold the state
    lock. An orphan staging dir with NO journal (crash mid-staged-write)
    is deleted — the old state is intact and the batch replays."""
    journal = os.path.join(path, _SWAP_JOURNAL)
    staged_root = f"{os.path.abspath(path)}.staged"
    if not os.path.exists(journal):
        if os.path.isdir(staged_root):
            shutil.rmtree(staged_root, ignore_errors=True)
        return False
    with open(journal) as fh:
        entry = json.load(fh)
    for bucket_dir in entry["buckets"]:
        src = os.path.join(entry["staged"], bucket_dir)
        dst = os.path.join(path, bucket_dir)
        if os.path.isdir(src):
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            os.rename(src, dst)
    os.remove(journal)
    shutil.rmtree(entry["staged"], ignore_errors=True)
    return True


def upsert_changes_bucketed(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_buckets: int,
    key_cols: tuple[str, ...] = DEFAULT_KEY,
    version_cols: tuple[str, ...] = DEFAULT_VERSION_ORDER,
) -> list[int]:
    """Dirty-bucket incremental upsert: merge ``updates`` into a bucketed
    state table rewriting ONLY the buckets containing updated keys.

    Per-batch work is O(touched buckets + batch), not O(state) — the 100 TB
    posture for a 500 ms micro-batch cadence. This is the Spark-parquet form
    of the reference's background part-merge (``clickhouse_schemas.sql:11``,
    ``README.md:59-62``); on Delta it is ``MERGE INTO`` and the bucket
    machinery disappears.

    Steps: (1) bucket the batch keys and collect the distinct bucket ids —
    driver-side but bounded by ``key_buckets``, never by data; (2) read ONLY
    those bucket partitions (partition-pruned scan); (3) arg-max merge of
    state and batch; (4) the journaled bucket swap of ``write_state``
    publishes exactly the touched buckets, crash-atomically: it stages the
    buckets before it swaps any of them, so the write never reads a
    directory it is replacing, and a replayed batch after a crash at any
    step merges into committed state again, where the arg-max makes it a
    no-op for changes already applied.

    One shuffle: the union of state and batch gets its ``__bucket`` column
    and is repartitioned by it into ``_publish_partitions`` tasks; the
    arg-max groups by (``__bucket``, key) inside those partitions, and
    ``write_state``'s identical repartition is removed by Catalyst. The
    publish therefore runs on every task slot, one file per bucket.

    Returns the touched bucket ids (for tests/observability).

    Raises ``StateLockError`` if another upsert/compact holds the path's
    lock (see ``_state_lock``).
    """
    touched = _touched_buckets(updates, key_cols, key_buckets)
    if not touched:
        return []
    with _state_lock(path):
        state = read_state(spark, path, buckets=touched)
        union = updates if state is None else state.unionByName(updates, allowMissingColumns=True)
        union = union.withColumn(BUCKET_COL, _bucket_expr(key_cols, key_buckets)).repartition(
            _publish_partitions(spark, key_buckets), BUCKET_COL
        )
        merged = apply_changes(None, union, (BUCKET_COL, *key_cols), version_cols)
        write_state(merged, path, key_buckets=key_buckets, key_cols=key_cols)
    return touched


def compact_state(
    spark: SparkSession, path: str, key_buckets: int = 8
) -> None:
    """The OPTIMIZE / background-merge analogue (ClickHouse merges parts
    continuously; ``OPTIMIZE TABLE ... DEDUPLICATE`` forces it,
    /root/reference/README.md:310). Rewrites the state into ``key_buckets``
    key-hashed partition directories (one file per bucket), restoring scan
    locality and making subsequent dirty-bucket merges touch fewer files.

    Concurrency contract, ENFORCED: not safe concurrently with a live upsert
    on the same path — both are read-modify-rewrite, so a batch committing
    between this read and the final swap would be lost (ClickHouse's OPTIMIZE
    takes a part-level lock for the same reason). Both mutators acquire the
    path's ``_state_lock``; a concurrent call raises ``StateLockError``
    instead of silently racing. Crash safety: the compacted copy is fully
    written to a temp directory first, then the old state is moved aside (not
    deleted) before the temp is renamed in — no step ever deletes the only
    complete copy, so a crash at any point leaves either the old or the new
    state recoverable on disk. On Delta this maps to OPTIMIZE + ZORDER, is
    ACID, and needs no coordination."""
    with _state_lock(path):
        state = read_state(spark, path)
        if state is None:
            return
        tmp = f"{path}.compact-tmp"
        old = f"{path}.compact-old"
        # the bucket publish keeps buckets it does not rewrite, so a crashed
        # compaction's leftover must not seed this one with stale buckets;
        # its lock can only be a crashed compaction's (we hold path's lock)
        shutil.rmtree(tmp, ignore_errors=True)
        break_state_lock(tmp, force=True)
        write_state(state.localCheckpoint(eager=True), tmp, key_buckets=key_buckets)
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
        os.rename(tmp, path)  # crash before this: complete copies at both tmp+old
        shutil.rmtree(old, ignore_errors=True)


def delta_available() -> bool:
    """True iff delta-spark is importable in this environment."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def _merge_key_condition(key_cols: tuple[str, ...]) -> str:
    return " AND ".join(f"t.{k} = s.{k}" for k in key_cols)


def _merge_newer_condition(
    version_cols: tuple[str, ...], rest_cols: tuple[str, ...] = ()
) -> str:
    """'Source is newer' as the EXACT SQL twin of ``_total_order``: the batch
    path orders every column descending (Spark desc = nulls LAST, i.e. NULL
    sorts as -infinity) over version_cols then the remaining columns sorted
    by name. A plain ``struct(s.*) > struct(t.*)`` diverges on exactly two
    edges (found in review): a NULL in any compared column makes the struct
    comparison NULL so the update silently skips (batch lets the non-null
    side win), and a full version tie keeps the target (batch breaks the tie
    on the rest columns). This expands the lexicographic order column-wise
    with null-safe operators: s wins at column c iff ``s.c IS NOT NULL AND
    (t.c IS NULL OR s.c > t.c)`` (never NULL-valued, so a row either matches
    or definitively does not); columns compare equal via ``<=>``."""
    cols = (*version_cols, *rest_cols)
    terms = []
    for i, c in enumerate(cols):
        gt = f"(s.{c} IS NOT NULL AND (t.{c} IS NULL OR s.{c} > t.{c}))"
        eqs = [f"s.{cols[j]} <=> t.{cols[j]}" for j in range(i)]
        terms.append("(" + " AND ".join([*eqs, gt]) + ")")
    return " OR ".join(terms)


def upsert_changes_delta(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: tuple[str, ...] = DEFAULT_KEY,
    version_cols: tuple[str, ...] = DEFAULT_VERSION_ORDER,
) -> None:
    """Production form of the S9 upsert sink: Delta ``MERGE INTO`` — the ACID
    replacement for the bucketed-parquet machinery (reference semantics
    ``schemas/clickhouse_schemas.sql:11-13``: ReplacingMergeTree(version,
    is_deleted) keyed upsert).

    Semantics are identical to ``apply_changes`` INCLUDING ties and NULLs:
    per-key last-writer-wins on the total order (version columns then the
    remaining columns sorted by name, descending, NULL smallest — see
    ``_merge_newer_condition``), tombstones RETAINED in state (a later
    replay of an older event must still lose — S10), reads go through
    ``current_state``. The batch is pre-collapsed with ``apply_changes(None,
    batch)`` because MERGE requires at most one source row per target key.

    Delta's optimistic concurrency makes this safe under concurrent writers
    (no ``_state_lock`` needed) and MERGE rewrites only the files containing
    matched keys — the same O(touched data) incrementality the dirty-bucket
    path hand-builds. Requires delta-spark (``delta_available()``); a session
    configured with the Delta catalog extensions.
    """
    if not delta_available():
        raise ImportError(
            "delta-spark is not installed; use upsert_changes_bucketed (the "
            "plain-parquet form with identical semantics) instead"
        )
    from delta.tables import DeltaTable

    batch = apply_changes(None, updates, key_cols, version_cols)
    if not DeltaTable.isDeltaTable(spark, path):
        batch.write.format("delta").mode("overwrite").save(path)
        return
    rest = tuple(sorted(set(batch.columns) - set(key_cols) - set(version_cols)))
    (
        DeltaTable.forPath(spark, path)
        .alias("t")
        .merge(batch.alias("s"), _merge_key_condition(key_cols))
        .whenMatchedUpdateAll(condition=_merge_newer_condition(version_cols, rest))
        .whenNotMatchedInsertAll()
        .execute()
    )


def consistency_check(source: DataFrame, replica: DataFrame) -> bool:
    """The reference's verification methodology (``README.md:309-329``):
    identical entries + identical counts, expressed as two-sided exceptAll."""
    cols = sorted(set(source.columns) & set(replica.columns))
    s, r = source.select(*cols), replica.select(*cols)
    return s.exceptAll(r).isEmpty() and r.exceptAll(s).isEmpty()


def state_table_stats(spark: SparkSession, path: str) -> dict:
    """Operational introspection of a bucketed state table: per-table row
    count plus the file-layout facts an operator actually pages on —
    bucket count, data-file count, total bytes, and the max/min files per
    bucket (a high max means a bucket needs compaction; the dirty-bucket
    upsert rewrites each touched bucket wholesale, so healthy tables sit
    at one file per bucket). Walks the directory tree driver-side —
    metadata-cadence work, like the reference's system-table queries —
    and reads NO data files except one count() over the table."""
    import os

    buckets: dict[str, int] = {}
    total_bytes = 0
    n_files = 0
    for root, _dirs, files in os.walk(path):
        part = [p for p in root.split(os.sep) if p.startswith("__bucket=")]
        for f in files:
            if not f.endswith(".parquet"):
                continue
            n_files += 1
            total_bytes += os.path.getsize(os.path.join(root, f))
            if part:
                buckets[part[-1]] = buckets.get(part[-1], 0) + 1
    df = read_state(spark, path)
    n_rows = 0 if df is None else df.count()
    per_bucket = sorted(buckets.values())
    return {
        "n_rows": n_rows,
        "n_buckets": len(buckets),
        "n_files": n_files,
        "total_bytes": total_bytes,
        "max_files_per_bucket": per_bucket[-1] if per_bucket else 0,
        "min_files_per_bucket": per_bucket[0] if per_bucket else 0,
    }
