"""Seeded input generators and the Python model of every table.

Everything the program receives is produced here from ``--seed``: pgoutput
change streams for the WAL workloads, envelope history for the serving
sink, and typed source tables for the backfill. The generator keeps its own
model of each table (``Model``), which the oracle compares the program's
outputs against. Column specs mirror the engine catalog's declared types
but are written out independently, so a catalog change cannot silently
change what the oracle expects.
"""

from __future__ import annotations

import datetime as dt
import json
import struct
from dataclasses import dataclass, field

import numpy as np

from change_data_capture_service_spark.sources import pgoutput as P
from change_data_capture_service_spark.testing.walsender_mock import _keepalive

SCHEMA = "public"

# Postgres type OIDs announced in Relation messages.
INT4, INT8, FLOAT8, TEXT, TIMESTAMP, TIMESTAMPTZ = 23, 20, 701, 25, 1114, 1184

# table -> [(column, type oid, kind)]; the first column is the primary key.
# kinds: int | float | str | ts (instant, TIMESTAMP) | tsntz (TIMESTAMP_NTZ)
TABLES: dict[str, list[tuple[str, int, str]]] = {
    "events": [
        ("event_id", INT8, "int"),
        ("ts", TIMESTAMPTZ, "ts"),
        ("user_id", INT8, "int"),
        ("event_type", TEXT, "str"),
        ("value", FLOAT8, "float"),
        ("props", TEXT, "str"),
    ],
    "orders": [
        ("o_orderkey", INT8, "int"),
        ("o_custkey", INT8, "int"),
        ("o_orderstatus", TEXT, "str"),
        ("o_totalprice", FLOAT8, "float"),
        ("o_orderdate", TIMESTAMP, "tsntz"),
        ("o_orderpriority", TEXT, "str"),
    ],
    "customer": [
        ("c_custkey", INT8, "int"),
        ("c_name", TEXT, "str"),
        ("c_nationkey", INT4, "int"),
        ("c_acctbal", FLOAT8, "float"),
        ("c_mktsegment", TEXT, "str"),
    ],
    "part": [
        ("p_partkey", INT8, "int"),
        ("p_name", TEXT, "str"),
        ("p_brand", TEXT, "str"),
        ("p_type", TEXT, "str"),
        ("p_size", INT4, "int"),
        ("p_retailprice", FLOAT8, "float"),
    ],
}

RELATION_OIDS = {"events": 16401, "orders": 16402, "customer": 16403, "part": 16404}
UNKNOWN_OID = 99999  # never announced: its DML must dead-letter

EVENT_TYPES = ["click", "view", "purchase", "signup", "logout"]
_VOCAB = {
    "o_orderstatus": ["O", "F", "P"],
    "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
    "c_mktsegment": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
    "p_brand": [f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)],
    "p_type": ["STANDARD POLISHED TIN", "SMALL BRUSHED COPPER", "LARGE ANODIZED STEEL",
               "MEDIUM PLATED BRASS", "ECONOMY BURNISHED NICKEL"],
    "event_type": EVENT_TYPES,
}
_BASE_TS = dt.datetime(2026, 1, 1)


def _column_values(table: str, keys: np.ndarray, rng: np.random.Generator) -> list:
    """Column-major values for rows with primary keys ``keys``: Python ints,
    floats with two decimals, strings, and naive datetimes at whole seconds
    (so every value has one exact text form on the wire)."""
    n = len(keys)
    out: list = []
    for name, _oid, kind in TABLES[table]:
        if name == TABLES[table][0][0]:
            out.append([int(k) for k in keys])
        elif name in _VOCAB:
            vocab = _VOCAB[name]
            out.append([vocab[i] for i in rng.integers(0, len(vocab), n)])
        elif kind == "int":
            out.append([int(v) for v in rng.integers(0, 25 if "nation" in name else 100_000, n)])
        elif kind == "float":
            out.append([float(v) / 100 for v in rng.integers(-99_999, 9_999_999, n)])
        elif kind in ("ts", "tsntz"):
            out.append([_BASE_TS + dt.timedelta(seconds=int(s))
                        for s in rng.integers(0, 90 * 86_400, n)])
        elif name == "props":
            out.append([f'{{"session":{int(v)}}}' for v in rng.integers(0, 10_000, n)])
        else:
            out.append([f"{name}#{int(v):09d}" for v in rng.integers(0, 10**9, n)])
    return out


def cell_text(value) -> str:
    """The text form a value takes in a pgoutput tuple ('t' format)."""
    if isinstance(value, dt.datetime):
        return value.strftime("%Y-%m-%d %H:%M:%S")
    return str(value)


def make_rows(table: str, keys: np.ndarray, rng: np.random.Generator) -> list[tuple]:
    return list(zip(*_column_values(table, keys, rng)))


def make_table(table: str, n_rows: int, seed: int) -> dict[str, list]:
    """A typed source table with keys 1..n_rows, column-major."""
    rng = np.random.default_rng([seed, 1, n_rows, list(TABLES).index(table)])
    keys = np.arange(1, n_rows + 1)
    cols = _column_values(table, keys, rng)
    return {name: col for (name, _o, _k), col in zip(TABLES[table], cols)}


@dataclass
class Model:
    """Expected current state: table -> primary key -> typed row."""

    rows: dict[str, dict[int, tuple]] = field(default_factory=lambda: {t: {} for t in TABLES})
    dead_letters: int = 0  # malformed frames whose rows must land in the dead letter

    def apply(self, change: Change) -> None:
        if change.malformed:
            self.dead_letters += 1
        elif change.op == "delete":
            self.rows[change.table].pop(change.row[0], None)
        else:
            self.rows[change.table][change.row[0]] = change.row


@dataclass
class Change:
    table: str
    op: str  # insert | update | delete | unknown_oid | arity_mismatch
    row: tuple

    @property
    def malformed(self) -> bool:
        return self.op in ("unknown_oid", "arity_mismatch")


class ChangeStream:
    """Seeded insert/update/delete traffic over Zipf-skewed keys, plus a
    small share of malformed DML of both kinds the decoder dead-letters:
    an unannounced relation OID, and a tuple one cell short of its
    relation (arity mismatch)."""

    def __init__(
        self,
        seed: int,
        tables: dict[str, float],
        key_space: int,
        zipf_s: float = 1.1,
        delete_share: float = 0.25,
        malformed_share: float = 0.005,
    ):
        self.rng = np.random.default_rng([seed, 2])
        self.tables = list(tables)
        self.table_p = np.array(list(tables.values())) / sum(tables.values())
        ranks = np.arange(1, key_space + 1, dtype=float)
        self.key_p = ranks**-zipf_s / np.sum(ranks**-zipf_s)
        # rank -> key: hot keys are scattered over the key space, per table
        self.rank_to_key = {t: self.rng.permutation(key_space) + 1 for t in self.tables}
        self.delete_share = delete_share
        self.malformed_share = malformed_share
        self.model = Model()

    def hot_key(self, table: str) -> int:
        return int(self.rank_to_key[table][0])

    def take(self, n: int) -> list[Change]:
        """The next ``n`` changes, applied to ``self.model`` in order. A
        caller that sends only a prefix of what it took replays that prefix
        into a fresh ``Model`` for its oracle."""
        rng = self.rng
        tables = rng.choice(len(self.tables), size=n, p=self.table_p)
        ranks = rng.choice(len(self.key_p), size=n, p=self.key_p)
        u = rng.random(n)
        out: list[Change] = []
        for ti, rank, r in zip(tables, ranks, u):
            table = self.tables[ti]
            key = int(self.rank_to_key[table][rank])
            row = make_rows(table, np.array([key]), rng)[0]
            if r < self.malformed_share:
                op = "unknown_oid" if r < self.malformed_share / 2 else "arity_mismatch"
            elif key not in self.model.rows[table]:
                op = "insert"
            elif r < self.malformed_share + self.delete_share:
                op = "delete"
            else:
                op = "update"
            change = Change(table, op, row)
            self.model.apply(change)
            out.append(change)
        return out


def relation_frames(tables: list[str], lsn: int) -> list[bytes]:
    """Relation messages a fresh walsender connection sends before DML."""
    return [
        P.encode_xlogdata(
            lsn,
            P.encode_relation(
                RELATION_OIDS[t], SCHEMA, t,
                [(name, oid, i == 0) for i, (name, oid, _k) in enumerate(TABLES[t])],
            ),
        )
        for t in tables
    ]


def dml_frame(change: Change, lsn: int) -> bytes:
    cells = [cell_text(v) for v in change.row]
    oid = RELATION_OIDS[change.table]
    if change.op == "unknown_oid":
        inner = P.encode_insert(UNKNOWN_OID, cells)
    elif change.op == "arity_mismatch":
        inner = P.encode_insert(oid, cells[:-1])
    elif change.op == "insert":
        inner = P.encode_insert(oid, cells)
    elif change.op == "update":
        inner = b"U" + struct.pack(">i", oid) + b"N" + P.encode_tuple_data(cells)
    else:  # delete: old-key tuple, non-key cells sent as NULL
        inner = b"D" + struct.pack(">i", oid) + b"K" + P.encode_tuple_data(
            [cells[0]] + [None] * (len(cells) - 1)
        )
    return P.encode_xlogdata(lsn, inner)


class LsnClock:
    """Monotonic WAL positions; every frame gets its own."""

    def __init__(self, start: int = 1_000):
        self.lsn = start

    def next(self) -> int:
        self.lsn += 100
        return self.lsn


def wal_script(tables: list[str], changes: list[Change], clock: LsnClock) -> list[bytes]:
    """One replication session's frames: relations, the DML, and a
    reply-required keepalive the client must acknowledge."""
    frames = relation_frames(tables, clock.next())
    frames += [dml_frame(c, clock.next()) for c in changes]
    frames.append(_keepalive(clock.lsn, reply=True))
    return frames


def envelope_lines(changes: list[Change], clock: LsnClock) -> list[str]:
    """Changelog envelope JSON lines for valid changes -- the shape the
    decoder writes -- used to build a sink's history without the WAL path."""
    lines = []
    for c in changes:
        cols = [name for name, _o, _k in TABLES[c.table]]
        payload = dict(zip(cols, (cell_text(v) for v in c.row)))
        lines.append(json.dumps({
            "op": c.op,
            "schema_name": SCHEMA,
            "table_name": c.table,
            "lsn": clock.next(),
            "ts": "2026-01-01T00:00:00.000Z",
            "key": f"{SCHEMA}.{c.table}:{c.row[0]}",
            "before": {cols[0]: payload[cols[0]]} if c.op == "delete" else None,
            "after": None if c.op == "delete" else payload,
        }))
    return lines
