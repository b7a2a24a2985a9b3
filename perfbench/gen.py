"""Seeded input generators for the benchmark, plus the expected results.

Everything here is plain Python/numpy: the engine only ever sees the files
these functions write. The same seed always gives the same files.

- ``EnvelopeGen`` emits Debezium-style change envelopes (c/u/d/r ops,
  replays, late LSNs, malformed lines) as JSON-lines files and keeps a
  Python model of the final state under the engine's ReplacingMergeTree
  semantics, so a run can check the engine's answer.
- ``write_query_tables`` writes the TPC-H-like star schema and the
  ``events`` table that the query sample reads.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import numpy as np

STATUSES = ("Open", "Created", "In Progress", "Delayed", "Completed", "Cancelled", "New", "Closed")
BASE_MICROS = 1_700_000_000_000_000
BASE_TS_MS = 1_700_000_000_000

# The engine's total order (operators.state._total_order): the version
# columns, then every other non-key column sorted by name, each compared
# descending with NULL smallest. Generated rows carry no NULLs, so a plain
# tuple comparison in this column order is the same order.
ORDER_COLS = ("version", "ts_ms", "is_deleted", "created_at", "is_canceled", "modified_at", "status")
# What ``current_state`` returns, in the order the hash uses.
STATE_COLS = ("booking_id", "status", "is_canceled", "created_at", "modified_at", "version")


def booking_id(k: int) -> str:
    return f"bk{k:08d}"


def state_hash(rows) -> str:
    """Order-independent digest of current-state rows given as tuples in
    ``STATE_COLS`` order (timestamps as epoch micros)."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def _image_json(k: int, img: tuple) -> str:
    status, canceled, created, modified = img
    return (
        f'{{"id":{k},"booking_id":"{booking_id(k)}","status":"{status}",'
        f'"is_deleted":false,"is_canceled":{"true" if canceled else "false"},'
        f'"created_at":{created},"modified_at":{modified}}}'
    )


class EnvelopeGen:
    """Change-stream generator with an exact model of the engine's state.

    A row image is ``(status, is_canceled, created_at, modified_at)``; the
    model keeps, per key, the winning state row as its ``ORDER_COLS`` tuple.
    ``zipf`` > 0 draws update/delete keys from a Zipf law (rank 1 hottest,
    ranks scattered over the key space); 0 draws them uniformly.
    """

    def __init__(self, seed: int, zipf: float = 0.0):
        self.rng = np.random.default_rng(seed)
        self.zipf = zipf
        self.lsn = 0
        self.n_keys = 0
        self.image: list[tuple] = []  # source-side row image per key
        self.key_lsn: list[int] = []  # newest LSN emitted per key
        self.winner: dict[int, tuple] = {}
        self.history: list[str] = []  # valid lines already emitted, for replays
        self.malformed = 0
        # lines per op code, plus replays, late events (also counted as "u")
        # and malformed lines
        self.emitted: Counter = Counter()

    # --- model -----------------------------------------------------------
    def _emit(self, op: str, k: int, before, after, lsn: int | None = None) -> str:
        if lsn is None:
            self.lsn += 1
            lsn = self.lsn
        ts_ms = BASE_TS_MS + lsn
        self.emitted[op] += 1
        img = before if op == "d" else after
        status, canceled, created, modified = img
        row = (lsn, ts_ms, 1 if op == "d" else 0, created, canceled, modified, status)
        cur = self.winner.get(k)
        if cur is None or row > cur:
            self.winner[k] = row
        b = "null" if before is None else _image_json(k, before)
        a = "null" if after is None else _image_json(k, after)
        line = (
            f'{{"before":{b},"after":{a},"op":"{op}","ts_ms":{ts_ms},'
            f'"source":{{"sequence":"[\\"{lsn}\\",\\"{lsn}\\"]","lsn":{lsn}}}}}'
        )
        self.history.append(line)
        return line

    def expected_rows(self) -> list[tuple]:
        """Live rows in ``STATE_COLS`` order."""
        return [
            (booking_id(k), r[6], r[4], r[3], r[5], r[0])
            for k, r in self.winner.items()
            if r[2] == 0
        ]

    def expected_hash(self) -> str:
        return state_hash(self.expected_rows())

    def expected_status_counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for r in self.winner.values():
            if r[2] == 0:
                out[r[6]] = out.get(r[6], 0) + 1
        return out

    # --- envelopes ---------------------------------------------------------
    def _new_images(self, n: int) -> list[tuple]:
        status = self.rng.integers(0, len(STATUSES), n)
        canceled = self.rng.random(n) < 0.1
        at = BASE_MICROS + self.rng.integers(0, 10**12, n)
        return [
            (STATUSES[s], bool(c), int(t), int(t)) for s, c, t in zip(status, canceled, at)
        ]

    def _keys(self, n: int) -> np.ndarray:
        if self.zipf > 0:
            r = self.rng.zipf(self.zipf, n)
            return (r * 2654435761) % max(1, self.n_keys)
        return self.rng.integers(0, max(1, self.n_keys), n)

    def _malformed(self, kind: int, k: int) -> str:
        self.malformed += 1
        self.emitted["malformed"] += 1
        if kind == 0:
            return f"not-json {{{k}"
        if kind == 1:  # valid JSON, but no op code
            return f'{{"before":null,"after":null,"ts_ms":{BASE_TS_MS}}}'
        # an envelope truncated inside its after-image, before the op field
        line = f'{{"before":null,"after":{_image_json(k, self.image[k])},"op":"u"}}'
        return line[: line.index('"after"') + 20]

    def snapshot(self, n_keys: int) -> list[str]:
        """Initial load: one ``op='r'`` read per new key."""
        lines = []
        for img in self._new_images(n_keys):
            k = self.n_keys
            self.n_keys += 1
            self.image.append(img)
            lines.append(self._emit("r", k, None, img))
            self.key_lsn.append(self.lsn)
        return lines

    def changes(
        self,
        n: int,
        p_update: float,
        p_delete: float,
        p_insert: float,
        p_malformed: float,
        p_replay: float = 0.0,
        p_late: float = 0.0,
    ) -> list[str]:
        """``n`` change lines. Updates and deletes hit existing keys (a later
        update of a deleted key revives it); inserts create new keys; a
        replay re-sends an earlier valid line verbatim; a late event carries
        an LSN older than its key's newest one, so it must lose."""
        cum = np.cumsum([p_malformed, p_replay, p_late, p_insert, p_delete, p_update])
        kinds = np.searchsorted(cum / cum[-1], self.rng.random(n), side="right")
        keys = self._keys(n)
        aux = self.rng.integers(0, 2**31, n)
        fresh = iter(self._new_images(n))
        lines = []
        for kind, k, x in zip(kinds.tolist(), keys.tolist(), aux.tolist()):
            if kind == 0:
                lines.append(self._malformed(x % 3, k))
            elif kind == 1 and self.history:
                self.emitted["replay"] += 1  # a replay changes nothing in the model
                lines.append(self.history[x % len(self.history)])
            elif kind == 2 and self.key_lsn[k] > 1:
                old = 1 + x % (self.key_lsn[k] - 1)
                img = self.image[k]
                after = (STATUSES[x % len(STATUSES)], img[1], img[2], img[3])
                lines.append(self._emit("u", k, img, after, lsn=old))
                self.emitted["late"] += 1
            elif kind == 3:
                k = self.n_keys
                self.n_keys += 1
                img = next(fresh)
                self.image.append(img)
                lines.append(self._emit("c", k, None, img))
                self.key_lsn.append(self.lsn)
            elif kind == 4:
                lines.append(self._emit("d", k, self.image[k], None))
                self.key_lsn[k] = self.lsn
            else:
                before = self.image[k]
                new = next(fresh)
                after = (new[0], new[1], before[2], before[3] + 1 + x % 10**6)
                self.image[k] = after
                lines.append(self._emit("u", k, before, after))
                self.key_lsn[k] = self.lsn
        return lines


def write_lines(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")


# --- query tables ---------------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("blue", "old", "small", "new", "red", "large", "hot", "cold")
_NOUN = ("widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
QUERY_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def write_query_tables(out_dir: str, seed: int, sf: float) -> None:
    """The star schema plus ``events`` at scale factor ``sf``, one parquet
    file per table, with the column types and value domains the query
    registry expects (1.5k customers, 15k orders and 60k line items per
    0.01 of scale)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(options, n):
        return np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]

    def days(n, first="1995-01-01", span=2404):
        d = np.datetime64(first, "us") + rng.integers(0, span, n) * np.timedelta64(1, "D")
        return pa.array(d, type=pa.timestamp("us"))

    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": list(_REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(_SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(pick(_ADJ, n_part), pick(_NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": pick(_PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": pick(("F", "O", "P"), n_ord),
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": days(n_ord),
            "o_orderpriority": pick(_PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(("A", "N", "R"), n_li),
            "l_linestatus": pick(("F", "O"), n_li),
            "l_shipdate": days(n_li, "1995-01-02", 2498),
        },
    }
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       type=pa.timestamp("us", tz="UTC")),
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": pick(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    for name in QUERY_TABLES:
        pq.write_table(pa.table(tables[name]), os.path.join(out_dir, f"{name}.parquet"))
