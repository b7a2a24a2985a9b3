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
   by the key, one shuffle on the key. ``FINAL`` skips its merge once a
   partition is down to one part; likewise a table whose commit records
   that it holds one row per key (``unique_key`` in the schema record,
   written by ``upsert_changes_bucketed``) is read with no arg-max at all,
   only the soft-delete filter.
2. ``apply_changes`` — batch/micro-batch upsert that materializes the merged
   state (the background-merge analogue). On Delta this is ``MERGE INTO``;
   on plain parquet we implement merge-by-rewrite: union(state, updates) →
   the same arg-max → overwrite. With state partitioned by key-hash bucket,
   only buckets containing updated keys are rewritten, and the merge shares
   its one shuffle with the bucket publish (``upsert_changes_bucketed``).

One commit protocol replaces table data, as ClickHouse's atomic part swap
serves inserts, merges and ``OPTIMIZE`` alike: stage the new data, publish
a journal, and let ``recover_bucket_swap`` run it. The bucket publish
(``write_state``), compaction (``compact_state``), the streamed-index
segment merge (``streaming.postings.compact_partitioned_index``) and the
clustered OPTIMIZE (``layout.optimize_clustered``) all commit this way, so
a crash at any step heals to the new table and the table directory never
goes missing. The versioned MV (``streaming.mvstore``) is the one other
protocol: its lock-free readers pin a version directory, which an
in-place swap cannot give them.

A writer whose per-key merge is NOT idempotent (the streamed folds, the
MV key tables) gets exactly-once from ``fenced_bucket_ingest``: every row
carries the batch id that last wrote its bucket, and a replayed batch is
applied only to the touched buckets still behind it.

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
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

DEFAULT_KEY = ("booking_id",)
DEFAULT_VERSION_ORDER = ("version", "ts_ms", "is_deleted")
DEFAULT_KEY_BUCKETS = 16


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


# The attribute ``read_state`` sets on the frame it returns when the table's
# commit records one row per key: the key columns. It lives on that one
# Python object, not in the plan, so every derived frame lacks it.
_UNIQUE_KEY_ATTR = "_unique_key"


def _unique_key(df: DataFrame) -> tuple[str, ...] | None:
    # vars(): a DataFrame's attribute lookup falls back to its columns
    return vars(df).get(_UNIQUE_KEY_ATTR)


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

    ``FINAL`` skips its merge on a partition already merged to one part.
    Here the arg-max is skipped when ``updates`` is the very frame
    ``read_state`` returned for a table whose commit records one row per a
    subset of ``key_cols`` (``_unique_key``): each key's one row is its
    winner, so only the soft-delete filter runs. A frame derived from it
    (filtered, selected, unioned) carries no record and takes the arg-max.
    """
    unique = _unique_key(updates)
    if unique is not None and set(unique) <= set(key_cols):
        out = updates
    else:
        out = _argmax_per_key(updates, key_cols, version_cols)
    out = out.filter(F.col(deleted_col) == 0)
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


def _bucketed(df: DataFrame, key_cols: tuple[str, ...], key_buckets: int) -> DataFrame:
    """``df`` with its ``__bucket`` column (an existing one is reused),
    repartitioned by it into ``_publish_partitions`` tasks: the layout of a
    bucket publish, one file per bucket."""
    if BUCKET_COL not in df.columns:
        df = df.withColumn(BUCKET_COL, _bucket_expr(key_cols, key_buckets))
    return df.repartition(_publish_partitions(df.sparkSession, key_buckets), BUCKET_COL)


def _observed(df: DataFrame, *aggs) -> dict:
    """``aggs`` over ``df``'s rows in ONE Spark job with no shuffle: a
    ``noop`` write observes them, and the scan tasks build them in
    accumulators. The ``Observation`` is unnamed (a fresh generated name per
    call), so two calls on frames that share lineage never clash."""
    obs = Observation()
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return obs.get


def _touched_buckets(
    df: DataFrame, key_cols: tuple[str, ...], n_buckets: int
) -> list[int]:
    """The sorted distinct key-hash buckets of ``df``'s rows, observed as a
    ``collect_set`` (``_observed``: one job, no shuffle) — bounded by
    ``n_buckets``, never by data."""
    bk = df.select(_bucket_expr(key_cols, n_buckets).alias("bk"))
    return sorted(_observed(bk, F.collect_set("bk").alias("bk"))["bk"])


_SWAP_JOURNAL = "_state_swap_journal.json"
# The journal ``layout.optimize_clustered`` wrote before it committed
# through the swap above; ``recover_bucket_swap`` still runs one it finds.
_OPTIMIZE_JOURNAL = "_optimize_journal.json"
# The table's schema, recorded at every commit (the analogue of the
# columns.txt a ReplacingMergeTree part keeps next to its data), so a read
# never scans files to learn the table's shape. The leading "_" keeps it,
# like the journal, out of Spark's file index. Every bucketed commit also
# records its bucket count ("key_buckets"), and a table that holds one row
# per key records that key ("unique_key"; see ``write_state``). A file
# added to the table other than through the swap is covered by neither.
_SCHEMA_RECORD = "_state_schema.json"


def _publish_json(dst: str, obj) -> None:
    """Replace ``dst`` with ``obj`` as JSON, durably: write a tmp sibling,
    fsync it, then ``os.replace`` it in, so ``dst`` is whole, old or new."""
    tmp = dst + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, dst)


def _record(path: str) -> dict | None:
    """The schema record of the table at ``path`` (a ``StructType`` JSON,
    plus the unique key if one is recorded), or None if it has none."""
    try:
        with open(os.path.join(path, _SCHEMA_RECORD)) as fh:
            return json.load(fh)
    except (FileNotFoundError, NotADirectoryError):
        return None


def _read_table(spark: SparkSession, path: str, record: dict | None) -> DataFrame | None:
    """The table at ``path``, ``__bucket`` included, or None if there is
    none. With a schema record the read takes its schema from the record
    and starts no Spark job. A table with no record (written before the
    record existed, or by plain Spark) falls back to ``mergeSchema``
    inference: after a T4 widening, buckets written before the ALTER have
    fewer columns than buckets written after, so every file's footer is
    read, in one parallel job, and their schemas are unioned."""
    if not os.path.exists(path):
        return None  # first batch: no state yet
    reader = (
        spark.read.option("mergeSchema", "true")
        if record is None
        else spark.read.schema(StructType.fromJson(record))
    )
    try:
        return reader.parquet(path)
    except Exception:
        return None  # a directory with no data file yet


def _table_schema(staged: DataFrame, prev: StructType | None) -> dict:
    """The data schema the table has once ``staged`` is published over a
    table whose data schema is ``prev``, as inference would give it:
    ``staged``'s columns, then every column of ``prev`` that ``staged``
    lacks, by name. The merge is Spark's own, the one ``mergeSchema`` folds
    the file footers with, so a type conflict raises here, before anything
    is published. Every field is nullable, as parquet reads it back.
    ``__bucket`` is not recorded: the read discovers it from the directory
    names and puts it last."""
    spark = staged.sparkSession
    parse = spark._jvm.org.apache.spark.sql.types.DataType.fromJson
    data = StructType([f for f in staged.schema.fields if f.name != BUCKET_COL])
    schema = parse(data.json())
    if prev is not None:
        schema = schema.merge(parse(prev.json()), spark.conf.get("spark.sql.caseSensitive") == "true")
    return json.loads(schema.asNullable().json())


def read_state(
    spark: SparkSession, path: str, buckets: list[int] | None = None
) -> DataFrame | None:
    """Read the state table. ``buckets`` prunes a bucketed layout to the given
    key-hash buckets (partition pruning: only those directories are scanned —
    the read is O(touched buckets), not O(state)).

    Protocol, under the state lock: (1) roll a torn swap (a crash inside
    any journaled commit: a bucket publish or a compaction) FORWARD — a
    direct reader would otherwise see a journaled-but-unswapped bucket as
    never-committed state (ADVICE r8); (2) read the schema record and list
    the table (``_read_table``). The read takes its schema from the record
    and starts no Spark job; a table with no record falls back to
    ``mergeSchema`` inference. Reading the record under the same lock hold
    as the roll-forward means it always describes the buckets the read
    lists, and is never read half-published. If the record holds a unique
    key, it is attached to the returned frame (``_unique_key``), so
    ``current_state`` of that frame skips the arg-max.

    Lock discipline (ADVICE r9): if the calling thread already holds the
    path's lock (every ingest path calls read_state inside its locked
    section), heal directly under the caller's lock; re-acquiring the
    non-reentrant O_EXCL lock would raise StateLockError against the
    caller's own fence. A lock-free read takes
    the lock UNCONDITIONALLY and heals under it, so a live publish makes the
    read raise ``StateLockError`` instead of planning over a half-swapped
    directory. Residual TOCTOU, by design: the lock is released before the
    scan executes, so a publish STARTING after release can still swap
    buckets mid-read — race-free concurrent read-while-publish needs the
    storage layer (Delta/ACID); this file-based machinery is the local[]
    harness."""
    with _own_lock(path):
        recover_bucket_swap(path)
        record = _record(path)
        df = _read_table(spark, path, record)
    if df is None:
        return None
    if BUCKET_COL in df.columns:
        if buckets is not None:
            df = df.filter(F.col(BUCKET_COL).isin(buckets))
        df = df.drop(BUCKET_COL)
    if record is not None and "unique_key" in record:
        setattr(df, _UNIQUE_KEY_ATTR, tuple(record["unique_key"]))
    return df


def write_state(
    state: DataFrame,
    path: str,
    key_buckets: int,
    key_cols: tuple[str, ...] = DEFAULT_KEY,
    one_row_per_key: bool = False,
) -> None:
    """The crash-atomic bucket publish: the table is laid out as
    ``__bucket=K`` partition directories keyed on ``pmod(xxhash64(key),
    key_buckets)`` (the unit of incremental rewrite), and ONLY the buckets
    present in ``state`` are replaced; every other bucket directory is left
    byte-identical. On Delta this becomes MERGE + OPTIMIZE. An existing
    ``__bucket`` column is reused as the bucket id; the staged write
    repartitions by it into ``_publish_partitions`` tasks (a no-op when the
    input is already partitioned so: ``upsert_changes_bucketed``).

    The commit is the one journaled swap (``recover_bucket_swap``; the
    ReplacingMergeTree part swap, per bucket): the buckets' COMPLETE new
    state is staged, then a journal names the staged bucket dirs and the
    table's new schema (``_table_schema`` of the staged frame over the
    current table, whose schema comes from its record, or is inferred once
    if it has none). A crash before the journal leaves an orphan staging
    dir and the old state intact; a crash after it is rolled forward by the
    next reader or writer, so a replayed batch always merges into committed
    state, never into an emptied bucket. Runs under the path's state lock,
    reusing it if the calling thread already holds it.

    The record holds ``key_buckets``. A publish in another count would
    leave a key's older row in its bucket of the old count, where a later
    publish can bring it back over a newer one, so it raises ``ValueError``
    before anything is written; ``compact_state`` rebuckets a table.

    ``one_row_per_key``: the caller states that ``state`` holds at most one
    row per ``key_cols``. The publish then records ``key_cols`` as the
    table's ``unique_key``, but only if the table had no data before or its
    record already held the same key: the publish keeps every bucket it
    does not rewrite. Any other write leaves the table with no recorded
    key, so its reads run the arg-max."""
    with _own_lock(path):
        recover_bucket_swap(path)  # a torn earlier swap lands before this one
        record = _record(path)
        recorded = (record or {}).get("key_buckets", key_buckets)
        if recorded != key_buckets:
            raise ValueError(
                f"state table {path!r} is laid out in {recorded} key buckets, not {key_buckets}: "
                f"a publish in {key_buckets} would keep a key's older row in another bucket. "
                f"Rebucket it first: compact_state(spark, path, key_buckets={key_buckets})"
            )
        if record is None:  # a table from before the record: infer its schema once
            table = _read_table(state.sparkSession, path, None)
            prev = None if table is None else table.drop(BUCKET_COL).schema
        else:
            prev = StructType.fromJson(record)
        schema = {**_table_schema(state, prev), "key_buckets": key_buckets}
        # prev is None: the table has no data yet
        if one_row_per_key and (prev is None or (record or {}).get("unique_key") == list(key_cols)):
            schema["unique_key"] = list(key_cols)
        _swap_in_partitions(path, _bucketed(state, key_cols, key_buckets), BUCKET_COL, schema)


def _staged_root(path: str) -> str:
    return f"{os.path.abspath(path)}.staged"


def _swap_in_partitions(
    path: str, df: DataFrame, part_col: str, schema: dict | None, drop_rest: bool = False
) -> None:
    """Stage ``df`` partitioned by ``part_col`` at ``<path>.staged`` and
    commit it through the journaled swap: each staged ``part_col=``
    directory replaces its namesake. With ``drop_rest`` the staged table
    replaces the whole table: every other data entry (the other partition
    directories, loose ``part-`` files and their ``.crc`` siblings) is
    dropped. Callers hold the state lock."""
    staged = _staged_root(path)
    df.write.mode("overwrite").partitionBy(part_col).parquet(staged)
    parts = sorted(d for d in os.listdir(staged) if d.startswith(f"{part_col}="))
    drop = []
    if drop_rest:
        stale = (f"{part_col}=", "part-", ".part-")
        drop = sorted(n for n in os.listdir(path) if n not in parts and n.startswith(stale))
    _journaled_swap(path, staged, parts, drop, schema)


def _journaled_swap(
    path: str, staged: str, moves: list[str], drop: list[str], schema: dict | None
) -> None:
    """Publish the swap journal for a complete staged write, then run it
    (``recover_bucket_swap``). ``schema`` None: the table has no record
    after the swap."""
    entry = {"buckets": moves, "staged": staged, "drop": drop, "schema": schema}
    os.makedirs(path, exist_ok=True)
    _publish_json(os.path.join(path, _SWAP_JOURNAL), entry)
    recover_bucket_swap(path)


def _optimize_entry(path: str, journal: str) -> dict:
    """A journal in the format ``layout.optimize_clustered`` wrote before
    it committed through the one swap (``{"dirty": [file paths], "staged":
    dir}``) as the general entry: the staged parquet files move in, the
    dirty files are dropped, the table's record is kept."""
    with open(journal) as fh:
        old = json.load(fh)
    staged = old.get("staged") or _staged_root(path)
    files = sorted(os.listdir(staged)) if os.path.isdir(staged) else []
    moves = [f for f in files if f.endswith(".parquet")]
    drop = [os.path.basename(f) for f in old["dirty"]]
    return {"buckets": moves, "staged": staged, "drop": drop, "schema": _record(path)}


def recover_bucket_swap(path: str) -> bool:
    """Run the table's swap journal. This is the one code that moves staged
    data into a table: every commit calls it right after it publishes the
    journal, and every reader and writer calls it first, so a swap a crash
    interrupted is finished by the same code.

    A journal entry names ``staged``, the staging dir; ``buckets``, the
    top-level entries (dirs or files) that move from it into the table,
    each replacing any entry of the same name; ``drop``, the table entries
    removed after the moves; and ``schema``, the table's new record. The
    journal is written only AFTER the staged write is complete, so the swap
    always rolls FORWARD, and every step is idempotent: an entry already
    moved is skipped (its source is gone), and a drop whose target is gone
    is a no-op. A replaced directory is renamed aside into the staging dir,
    never emptied in place, so a reader that lists it sees all of its old
    files or all of its new ones (or, between its two renames, none), and
    the table directory itself never goes missing. After the moves the
    journaled schema, with its bucket count and unique key, replaces the
    record (a journal with no schema removes it, so the table is read by
    inference); then the drops run, and the journal and the staging dir are
    cleared. A journal in ``layout.optimize_clustered``'s earlier format is
    run as the same entry (``_optimize_entry``).

    Returns True if a journal was run. Callers must hold the state lock. An
    orphan staging dir with NO journal (crash mid-staged-write) is deleted
    — the old state is intact and the batch replays."""
    journal = os.path.join(path, _SWAP_JOURNAL)
    if os.path.exists(journal):
        with open(journal) as fh:
            entry = json.load(fh)
    elif os.path.exists(os.path.join(path, _OPTIMIZE_JOURNAL)):
        journal = os.path.join(path, _OPTIMIZE_JOURNAL)
        entry = _optimize_entry(path, journal)
    else:
        shutil.rmtree(_staged_root(path), ignore_errors=True)
        return False
    staged = entry["staged"]
    for name in entry["buckets"]:
        src, dst = os.path.join(staged, name), os.path.join(path, name)
        if os.path.exists(src):
            if os.path.isdir(dst):
                os.rename(dst, f"{src}.replaced")
            os.rename(src, dst)
    record = os.path.join(path, _SCHEMA_RECORD)
    if entry.get("schema") is not None:
        _publish_json(record, entry["schema"])
    elif os.path.exists(record):
        os.remove(record)
    for target in (os.path.join(path, name) for name in entry.get("drop", [])):
        if os.path.isdir(target):
            shutil.rmtree(target)
        elif os.path.lexists(target):
            os.remove(target)
    os.remove(journal)
    shutil.rmtree(staged, ignore_errors=True)
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

    Steps: (1) bucket the batch keys and observe the set of bucket ids
    (``_touched_buckets``: one job, bounded by ``key_buckets``, never by
    data); (2) read ONLY those bucket partitions (partition-pruned scan,
    schema from the commit's record); (3) arg-max merge of
    state and batch; (4) the journaled bucket swap of ``write_state``
    publishes exactly the touched buckets, crash-atomically: it stages the
    buckets before it swaps any of them, so the write never reads a
    directory it is replacing, and a replayed batch after a crash at any
    step merges into committed state again, where the arg-max makes it a
    no-op for changes already applied. The merged frame is one row per
    key, and the publish records that (``one_row_per_key``), so
    ``current_state(read_state(path))`` runs no arg-max.

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
        union = _bucketed(union, key_cols, key_buckets)
        merged = apply_changes(None, union, (BUCKET_COL, *key_cols), version_cols)
        write_state(
            merged, path, key_buckets=key_buckets, key_cols=key_cols, one_row_per_key=True
        )
    return touched


def fenced_bucket_ingest(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    batch_id: int,
    key_cols: tuple[str, ...],
    key_buckets: int,
    state_schema: str,
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> None:
    """Exactly-once ingest of one micro-batch into a bucketed table through
    a NON-idempotent per-key ``merge`` (a fold, a delta-emitting MV): the
    idempotent sink keyed by batch id of Structured Streaming's
    foreachBatch, made safe against a commit torn between buckets.

    Every row carries the ``applied_bid`` of the batch that last wrote its
    bucket. The journaled swap of ``write_state`` makes each bucket wholly
    old or wholly new even across a crash, so all rows of a bucket carry one
    id. Steps, the last four under the path's state lock:

    1. observe the touched buckets (``_touched_buckets``); none: return;
    2. read only those buckets;
    3. the per-bucket fence, in one pass over them (``_observed``): a
       touched bucket is behind when it has no rows (it never committed) or
       a row behind ``batch_id``. None behind: the batch is a replay of a
       committed one, return;
    4. a partial commit (some touched buckets fenced, some behind) re-applies
       the batch to the laggard buckets only — exact, because the merge is
       per key and so per bucket; a whole-batch skip would lose their
       events, a whole-batch re-apply would double-merge the others;
    5. ``merge(batch, state)`` and the bucket publish of its result, with
       ``applied_bid`` appended last.

    ``state_schema`` is the DDL of the state's non-key columns. ``merge``
    gets the state as the key columns then those, without ``applied_bid``;
    before the first commit that is an empty frame of the same columns, so
    a merge needs no first-batch branch. It returns the touched buckets'
    complete new state (key columns included). The state is read lazily:
    ``write_state`` stages the publish before it swaps, so no read of the
    old buckets can see the new ones."""
    touched = _touched_buckets(batch, key_cols, key_buckets)
    if not touched:
        return
    cols = StructType.fromDDL(state_schema)
    bucket = _bucket_expr(key_cols, key_buckets)
    with _state_lock(path):
        state = read_state(spark, path, buckets=touched)
        if state is None:
            nulls = (F.lit(None).cast(f.dataType).alias(f.name) for f in cols.fields)
            state = batch.select(*key_cols, *nulls).where(F.lit(False))
        else:
            seen = _observed(
                state.select(bucket.alias("bk"), "applied_bid"),
                F.collect_set("bk").alias("present"),
                F.collect_set(F.when(F.col("applied_bid") < int(batch_id), F.col("bk"))).alias("behind"),
            )
            fenced = set(seen["present"]) - set(seen["behind"])
            laggards = [bk for bk in touched if bk not in fenced]
            if not laggards:
                return  # at-least-once replay: every touched bucket committed
            if len(laggards) < len(touched):
                batch = batch.filter(bucket.isin(laggards))
                state = state.filter(bucket.isin(laggards))
            state = state.select(*key_cols, *cols.names)
        out = merge(batch, state).withColumn("applied_bid", F.lit(int(batch_id)).cast("long"))
        write_state(out, path, key_buckets=key_buckets, key_cols=key_cols)


def compact_state(
    spark: SparkSession, path: str, key_buckets: int | None = None
) -> None:
    """The OPTIMIZE / background-merge analogue (ClickHouse merges parts
    continuously; ``OPTIMIZE TABLE ... DEDUPLICATE`` forces it, the
    reference's ``README.md:310``). Rewrites the state into ``key_buckets``
    key-hashed partition directories (one file per bucket), restoring scan
    locality and making subsequent dirty-bucket merges touch fewer files.
    ``key_buckets`` defaults to the table's recorded count, or to
    ``DEFAULT_KEY_BUCKETS`` if it records none; the new count is recorded,
    and every later publish must use it (``write_state``).

    Concurrency contract, ENFORCED: not safe concurrently with a live upsert
    on the same path — both are read-modify-rewrite, so a batch committing
    between this read and the swap would be lost (ClickHouse's OPTIMIZE
    takes a part-level lock for the same reason). Both mutators acquire the
    path's ``_state_lock``; a concurrent call raises ``StateLockError``
    instead of silently racing. Crash safety: the rebucketed table commits
    through the one journaled swap (``recover_bucket_swap``) — staged whole,
    then its bucket dirs move in and every data entry they do not replace
    (old bucket dirs, loose ``part-`` files) is dropped — so a crash at any
    step leaves the old table or a journal the next reader rolls forward to
    the new one. On Delta this maps to OPTIMIZE + ZORDER, is ACID, and
    needs no coordination.

    A table whose record holds a unique key is rebucketed on that key and
    keeps it (the rows are the same, so they are still one per key); any
    other table is rebucketed on ``booking_id`` and records no key."""
    with _state_lock(path):
        state = read_state(spark, path)
        if state is None:
            return
        if key_buckets is None:
            key_buckets = (_record(path) or {}).get("key_buckets", DEFAULT_KEY_BUCKETS)
        unique = _unique_key(state)
        schema = {**_table_schema(state, None), "key_buckets": key_buckets}
        if unique is not None:
            schema["unique_key"] = list(unique)
        out = _bucketed(state, unique or DEFAULT_KEY, key_buckets)
        _swap_in_partitions(path, out, BUCKET_COL, schema, drop_rest=True)


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
    and reads NO data files except one count() over the table.
    ``unique_key`` is the key the table's commit records it holds one row
    per (None if it records none): reads of a table with one skip the
    arg-max (``current_state``). ``key_buckets`` is the recorded bucket
    count (None if it records none): the count every publish and a
    compaction that keeps the layout must use."""
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
        "unique_key": None if df is None else _unique_key(df),
        "key_buckets": (_record(path) or {}).get("key_buckets"),
    }
