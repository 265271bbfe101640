"""Independent checks of the program's outputs against the generator's model.

The contract checked is the documented one: every valid change is visible
in the table's latest state exactly as the model has it, every malformed
frame lands in the dead letter (``ok=false``) and nowhere else, and
serving reads equal the same query run by DuckDB over the model's rows.
Nothing here calls the program; callers pass in plain rows.
"""

from __future__ import annotations

import datetime as dt
import io
import math
from dataclasses import dataclass, field

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.json as pajson

from .gen import TABLES


def normalize(value):
    """Instant timestamps arrive tz-aware; the model keeps naive UTC."""
    if isinstance(value, dt.datetime) and value.tzinfo is not None:
        return value.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return value


@dataclass
class TableDiff:
    missing: int = 0  # model keys absent from the output
    extra: int = 0  # output keys the model does not have
    wrong: int = 0  # keys present in both with different values
    null_key: int = 0  # live output rows whose primary key is NULL

    @property
    def mismatched_keys(self) -> int:
        return self.missing + self.extra + self.wrong


def diff_table(expected: dict[int, tuple], got: list[tuple]) -> TableDiff:
    """Compare output rows (primary key first) with the model row for row."""
    d = TableDiff()
    seen: set = set()
    for row in got:
        row = tuple(normalize(v) for v in row)
        key = row[0]
        if key is None:
            d.null_key += 1
            continue
        if key in seen or key not in expected:
            d.extra += 1
        elif expected[key] != row:
            d.wrong += 1
        seen.add(key)
    d.missing = sum(1 for k in expected if k not in seen)
    return d


@dataclass
class Verdict:
    """Operation accounting for one run. ``failed`` counts every operation
    that raised or whose effect the oracle could not find; ``correct`` says
    whether all valid traffic matched the model (malformed-frame routing is
    judged op by op in ``failed`` only)."""

    attempted: int = 0
    failed: int = 0
    valid_mismatches: int = 0
    notes: list[str] = field(default_factory=list)

    @property
    def correct(self) -> bool:
        return self.valid_mismatches == 0

    def table(self, name: str, d: TableDiff, per_key: bool = True) -> None:
        """Charge a table comparison: one failed op per mismatched key, or
        one for the whole comparison when it is a single operation."""
        self.failed += d.mismatched_keys if per_key else int(d.mismatched_keys > 0)
        self.valid_mismatches += d.mismatched_keys
        if d.mismatched_keys or d.null_key:
            self.notes.append(
                f"{name}: missing={d.missing} extra={d.extra} wrong={d.wrong} "
                f"null_key_live_rows={d.null_key}"
            )

    def dead_letters(self, expected: int, got: int) -> None:
        """Each malformed frame whose dead letter is absent is one failed op."""
        if got != expected:
            self.failed += max(expected - got, 0)
            self.notes.append(f"dead letters: expected {expected}, read_dead_letters gave {got}")
        if got > expected:
            self.valid_mismatches += got - expected


def same_table(expected: pa.Table, got: pa.Table) -> bool:
    """Fast path for large tables: equal as sets of rows. Rows are put in
    primary-key order and ``got`` is cast to ``expected``'s types first;
    a False here is followed by ``diff_table`` to say what differs."""
    if got.num_rows != expected.num_rows or got.column_names != expected.column_names:
        return False
    try:
        got = got.cast(expected.schema)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return False
    key = expected.column_names[0]
    return got.sort_by(key).equals(expected.sort_by(key))


def docs_table(table: str, raw_docs: list[str], like: pa.Table) -> pa.Table:
    """The ``data`` payloads of MockEs state-mode documents (raw NDJSON
    strings) as a typed Arrow table shaped like ``like``."""
    names = [name for name, _o, _k in TABLES[table]]
    schema = pa.schema([pa.field("data", pa.struct([pa.field(n, pa.string()) for n in names]))])
    parsed = pajson.read_json(
        io.BytesIO("\n".join(raw_docs).encode()),
        parse_options=pajson.ParseOptions(explicit_schema=schema, unexpected_field_behavior="ignore"),
    )
    cols = parsed.column("data").combine_chunks().flatten()
    out = []
    for col, field_ in zip(cols, like.schema):
        if pa.types.is_timestamp(field_.type):
            col = col.cast(pa.timestamp(field_.type.unit)).cast(field_.type)
        else:
            col = col.cast(field_.type)
        out.append(col)
    return pa.Table.from_arrays(out, schema=like.schema)


def rows_of(table: pa.Table) -> list[tuple]:
    return [tuple(normalize(v) for v in r.values()) for r in table.to_pylist()]


def diff_arrow(expected: pa.Table, got: pa.Table) -> TableDiff:
    """``diff_table`` for Arrow tables, with the fast equality path first."""
    if same_table(expected, got):
        return TableDiff()
    return diff_table({r[0]: r for r in rows_of(expected)}, rows_of(got))


class ServeOracle:
    """DuckDB over the model's ``events`` rows at the current epoch."""

    def __init__(self):
        self.con = duckdb.connect()
        self.cols = [name for name, _o, _k in TABLES["events"]]

    def load(self, rows: dict[int, tuple]) -> None:
        df = pd.DataFrame(list(rows.values()), columns=self.cols)
        self.con.register("events", df)

    def point(self, key: int) -> list[tuple]:
        return [tuple(r) for r in self.con.execute(
            "SELECT * FROM events WHERE event_id = ?", [key]).fetchall()]

    def live_count(self) -> int:
        return self.con.execute("SELECT count(*) FROM events").fetchone()[0]

    def by_type(self) -> dict[str, tuple[int, float]]:
        rows = self.con.execute(
            "SELECT event_type, count(*), sum(value) FROM events GROUP BY event_type").fetchall()
        return {t: (n, s) for t, n, s in rows}


def same_by_type(a: dict[str, tuple[int, float]], b: dict[str, tuple[int, float]]) -> bool:
    """Group counts exactly; sums up to summation order."""
    return a.keys() == b.keys() and all(
        a[k][0] == b[k][0] and math.isclose(a[k][1], b[k][1], rel_tol=1e-9, abs_tol=1e-6)
        for k in a
    )
