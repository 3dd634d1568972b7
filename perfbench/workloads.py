"""Operation streams and answer models for the three workloads.

Everything here is a pure function of the seed: the same seed gives the
same operations, parameters and Arrow batches, and each model predicts
the exact answer of every operation it issues. The load generator
(``run.py``) sends the operations over Flight SQL and compares.
"""

from __future__ import annotations

import bisect
import itertools
import random
import string
from dataclasses import dataclass, field

# --------------------------------------------------------------------------
# Common
# --------------------------------------------------------------------------

READ, WRITE = "read", "write"


@dataclass
class Op:
    """One client operation: ``kind`` names its type (a TPC-H query, a
    YCSB operation, an ingest step), ``cls`` says whether it returns
    rows or changes data, ``call`` is what the client sends and
    ``expect`` the answer the model predicts."""

    kind: str
    cls: str
    call: str
    args: tuple = ()
    expect: object = None
    user_bytes: int = 0  # logical bytes of user data this op writes
    rows_changed: int = 0


def _rng(*parts) -> random.Random:
    return random.Random("/".join(str(p) for p in parts))


# --------------------------------------------------------------------------
# TPC-H
# --------------------------------------------------------------------------


def tpch_sequence(seed: int, names: list[str], rounds: int, label: str = "tpch") -> list[Op]:
    """The TPC-H op sequence of a run: BenchBase's equal weights, drawn
    as one seeded permutation of every query per round. The terminals
    take ops from this one sequence in order, so each round runs every
    query exactly once and the mix is the same on every seed; only the
    order, and so what runs concurrently with what, changes."""
    rng = _rng(label, seed)
    out = []
    for _ in range(rounds):
        deck = sorted(names)
        rng.shuffle(deck)
        out += [Op(n, READ, "execute") for n in deck]
    return out


# --------------------------------------------------------------------------
# YCSB
# --------------------------------------------------------------------------

YCSB_FIELDS = 10
YCSB_FIELD_LEN = 10
YCSB_MIX = [("read", 50), ("insert", 5), ("scan", 15), ("update", 10), ("delete", 10), ("rmw", 10)]
YCSB_MAX_SCAN = 100
YCSB_KEY_STRIDE = 1_000_000  # client c owns keys [c * stride, (c + 1) * stride)
YCSB_ZIPF_THETA = 0.99

YCSB_DDL = (
    "CREATE TABLE usertable (ycsb_key INT, "
    + ", ".join(f"field{i} STRING" for i in range(1, YCSB_FIELDS + 1))
    + ") USING parquet LOCATION '{location}'"
)
YCSB_STATEMENTS = {
    "read": "SELECT * FROM usertable WHERE ycsb_key = ?",
    "scan": "SELECT * FROM usertable WHERE ycsb_key >= ? AND ycsb_key < ? ORDER BY ycsb_key",
    "insert": "INSERT INTO usertable VALUES (" + ", ".join(["?"] * (YCSB_FIELDS + 1)) + ")",
    "delete": "DELETE FROM usertable WHERE ycsb_key = ?",
    **{
        f"update{i}": f"UPDATE usertable SET field{i} = ? WHERE ycsb_key = ?"
        for i in range(1, YCSB_FIELDS + 1)
    },
}
_ALPHABET = string.ascii_letters + string.digits


class Zipf:
    """Zipfian ranks over ``n`` items (YCSB's theta), drawn by inverse
    CDF and mapped through a seeded permutation so hot keys spread over
    the key range instead of clustering in its first file."""

    def __init__(self, n: int, theta: float, rng: random.Random) -> None:
        acc = 0.0
        self._cdf = []
        for i in range(1, n + 1):
            acc += 1.0 / i**theta
            self._cdf.append(acc)
        self._perm = list(range(n))
        rng.shuffle(self._perm)

    def draw(self, rng: random.Random) -> int:
        r = rng.random() * self._cdf[-1]
        return self._perm[min(bisect.bisect_left(self._cdf, r), len(self._perm) - 1)]


@dataclass
class YcsbModel:
    """One YCSB client's key range and the rows it holds.

    Client ``c`` of ``clients`` loads ``rows // clients`` keys starting at
    ``c * YCSB_KEY_STRIDE`` and inserts new keys after them, so no two
    clients touch the same row and every answer is predictable from this
    client's own history. Scans end at the loaded range's end.

    :meth:`next_op` draws operations and parameters from the seed alone;
    :meth:`expected` gives the answer the current rows predict and
    :meth:`apply` moves the rows on after a write that succeeded. A write
    that raised may or may not have happened, so its row becomes
    *unknown* (:meth:`forget`) and is left out of later answer checks.
    """

    seed: int
    client: int
    clients: int
    rows: int
    data: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.unknown: set[int] = set()
        self.count = self.rows // self.clients
        self.base = self.client * YCSB_KEY_STRIDE
        self.end = self.base + self.count
        self._next_insert = self.end
        self._rng = _rng("ycsb", self.seed, self.client)
        self._zipf = Zipf(self.count, YCSB_ZIPF_THETA, _rng("ycsb-zipf", self.seed, self.client))
        self._kinds = [k for k, _ in YCSB_MIX]
        self._cum = list(itertools.accumulate(w for _, w in YCSB_MIX))

    def _value(self) -> str:
        return "".join(self._rng.choices(_ALPHABET, k=YCSB_FIELD_LEN))

    def _row(self, key: int) -> list:
        return [key] + [self._value() for _ in range(YCSB_FIELDS)]

    @staticmethod
    def row_bytes(row) -> int:
        return 4 + sum(len(v) for v in row[1:])

    def load_rows(self) -> list[list]:
        """The initial rows of this client's range."""
        rows = [self._row(k) for k in range(self.base, self.end)]
        for r in rows:
            self.data[r[0]] = list(r)
        return rows

    def rows_in(self, lo: int, hi: int) -> list[tuple]:
        return [tuple(self.data[k]) for k in range(lo, hi) if k in self.data]

    def next_op(self) -> Op:
        kind = self._kinds[bisect.bisect_right(self._cum, self._rng.random() * self._cum[-1])]
        key = self.base + self._zipf.draw(self._rng)
        if kind == "read":
            return Op("read", READ, "read", (key,))
        if kind == "scan":
            return Op("scan", READ, "scan", (key, min(key + self._rng.randint(1, YCSB_MAX_SCAN), self.end)))
        if kind == "insert":
            row = self._row(self._next_insert)
            self._next_insert += 1
            return Op("insert", WRITE, "insert", tuple(row))
        if kind == "delete":
            return Op("delete", WRITE, "delete", (key,))
        col = self._rng.randint(1, YCSB_FIELDS)
        return Op(kind, WRITE, f"{kind}{col}", (key, self._value()))

    def expected(self, op: Op):
        """The predicted answer, or None when it depends on an unknown row
        (a scan's prediction then covers its known rows only)."""
        key = op.args[0]
        if op.kind == "scan":
            return self.rows_in(key, op.args[1])
        if key in self.unknown:
            return None
        if op.kind == "read":
            return self.rows_in(key, key + 1)
        if op.kind == "insert":
            return 1
        hit = int(key in self.data)
        if op.kind == "rmw":
            return (self.rows_in(key, key + 1), hit)
        return hit

    def matches(self, op: Op, result) -> bool:
        if op.kind == "scan":
            return [r for r in result if r[0] not in self.unknown] == op.expect
        return op.expect is None or result == op.expect

    def apply(self, op: Op) -> tuple[int, int]:
        """Apply a write that succeeded; returns (rows changed, user bytes)."""
        key = op.args[0]
        if op.kind == "insert":
            self.data[key] = list(op.args)
            return 1, self.row_bytes(op.args)
        if op.kind == "delete":
            self.unknown.discard(key)
            return int(self.data.pop(key, None) is not None), 0
        if key in self.data and key not in self.unknown:
            col = int(op.call[len(op.kind):])
            self.data[key][col] = op.args[1]
            return 1, len(op.args[1])
        return 0, 0

    def forget(self, key: int) -> None:
        self.unknown.add(key)
        self.data.pop(key, None)


# --------------------------------------------------------------------------
# Arrow ingest + incremental refresh
# --------------------------------------------------------------------------

INGEST_BATCH_ROWS = 10_000
INGEST_CHECKPOINT_EVERY = 4
INGEST_DML_ROWS = 1_000  # rows of an old batch each cycle updates or deletes
INGEST_KINDS = ["click", "view", "cart", "buy", "share", "search", "login", "logout"]
INGEST_DDL = (
    "CREATE TABLE ingest_events (id BIGINT, user_id BIGINT, kind STRING, amount BIGINT) "
    "USING parquet LOCATION '{location}'"
)
INGEST_INSERT = "INSERT INTO ingest_events VALUES (?, ?, ?, ?)"
INGEST_MATVIEW = (
    "CREATE MATERIALIZED VIEW ingest_rollup AS SELECT kind, count(*) AS n, "
    "sum(amount) AS total FROM ingest_events GROUP BY kind"
)
INGEST_REFRESH = "REFRESH MATERIALIZED VIEW ingest_rollup INCREMENTAL"
INGEST_READ = "SELECT kind, n, total FROM ingest_rollup ORDER BY kind"
INGEST_UPDATE = "UPDATE ingest_events SET amount = amount + 1 WHERE id >= {lo} AND id < {hi}"
INGEST_DELETE = "DELETE FROM ingest_events WHERE id >= {lo} AND id < {hi}"


class IngestModel:
    """The single ingest client: batch ``i`` holds ids
    ``[i * rows, (i + 1) * rows)``; the model keeps the rollup the
    matview must show after each refresh, and the rows of the batches
    a later cycle still changes."""

    def __init__(self, seed: int) -> None:
        self._rng = _rng("ingest", seed)
        self.batches = 0
        self.rollup: dict[str, list[int]] = {}
        self._pending: dict[int, list[list]] = {}  # batch -> rows, until changed

    def batch(self) -> list[list]:
        lo = self.batches * INGEST_BATCH_ROWS
        rows = []
        for i in range(lo, lo + INGEST_BATCH_ROWS):
            kind = self._rng.choice(INGEST_KINDS)
            amount = self._rng.randint(1, 1000)
            rows.append([i, self._rng.randint(0, 9999), kind, amount])
            self._add(kind, 1, amount)
        self._pending[self.batches] = rows
        self.batches += 1
        return rows

    def _add(self, kind: str, n: int, amount: int) -> None:
        acc = self.rollup.setdefault(kind, [0, 0])
        acc[0] += n
        acc[1] += amount

    def change(self) -> list[Op]:
        """Change the first ``INGEST_DML_ROWS`` rows of the batch sent two
        batches ago, once: an even batch's rows get ``amount + 1``, an odd
        batch's are deleted. Both rewrite the files holding them (copy on
        write) under the table's write lock. No op while there is no such
        batch yet."""
        b = self.batches - 2
        if b not in self._pending:
            return []
        rows = self._pending.pop(b)[:INGEST_DML_ROWS]
        lo = b * INGEST_BATCH_ROWS
        rng = {"lo": lo, "hi": lo + INGEST_DML_ROWS}
        for _, _, kind, amount in rows:
            if b % 2 == 0:
                self._add(kind, 0, 1)
            else:
                self._add(kind, -1, -amount)
        if b % 2 == 0:
            return [Op("update", WRITE, "update", (INGEST_UPDATE.format(**rng),),
                       len(rows), 8 * len(rows), len(rows))]
        return [Op("delete", WRITE, "update", (INGEST_DELETE.format(**rng),), len(rows), 0, len(rows))]

    @staticmethod
    def batch_bytes(rows: list[list]) -> int:
        return sum(24 + len(r[2]) for r in rows)

    def expected_rollup(self) -> list[tuple]:
        return [(k, v[0], v[1]) for k, v in sorted(self.rollup.items())]

    def cycle(self) -> list[Op]:
        """DoPut one batch, UPDATE or DELETE part of an older one, refresh,
        read the rollup; CHECKPOINT after every
        ``INGEST_CHECKPOINT_EVERY``-th batch. A refresh expects the rollup
        of every write sent so far; the read expects whatever the last
        successful refresh published (the client tracks that)."""
        rows = self.batch()
        ops = [
            Op("doput", WRITE, "insert", (rows,), len(rows), self.batch_bytes(rows), len(rows)),
            *self.change(),
            Op("refresh", WRITE, "update", (INGEST_REFRESH,), self.expected_rollup()),
            Op("rollup_read", READ, "execute", (INGEST_READ,)),
        ]
        if self.batches % INGEST_CHECKPOINT_EVERY == 0:
            ops.append(Op("checkpoint", WRITE, "update", ("CHECKPOINT",)))
        return ops
