"""Independent model of the expected table contents, and the checks.

The library under test never sees this module. The keyed model applies
the same seeded operations as the benchmark (last writer wins by key,
in row order within a batch) to the base data in plain Python, and
`compare` tells whether a table read back through the library holds the
same multiset of rows, independent of row order.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa


def _canonical(col):
    """Timestamps as epoch microseconds: Spark reads a time-zone-less
    timestamp back as UTC, and the instant is what must match."""
    if pa.types.is_timestamp(col.type):
        return col.cast(pa.timestamp("us", col.type.tz)).cast(pa.int64())
    return col


def row_hashes(table: pa.Table, columns: list[str]) -> list[int]:
    cols = [_canonical(table.column(c)).to_pylist() for c in columns]
    out = []
    for row in zip(*cols):
        text = "\x1f".join(repr(v) for v in row)
        out.append(int.from_bytes(hashlib.md5(text.encode()).digest(), "big"))
    return out


def digest(table: pa.Table, columns: list[str]) -> tuple[int, int]:
    """(row count, order-insensitive hash): the sum of per-row md5s
    modulo 2^128, so it is sensitive to duplicated and dropped rows."""
    hs = row_hashes(table, columns)
    return len(hs), sum(hs) % (1 << 128)


def compare(expected: pa.Table, actual: pa.Table, columns: list[str]) -> "str | None":
    """None when `actual` holds exactly the rows of `expected` (as a
    multiset over `columns`); otherwise a one-line description."""
    missing = [c for c in columns if c not in actual.column_names]
    if missing:
        return f"columns missing from result: {missing}"
    ne, he = digest(expected, columns)
    na, ha = digest(actual, columns)
    if ne != na:
        return f"row count {na} != expected {ne}"
    if he != ha:
        return f"row hash {ha:032x} != expected {he:032x} ({na} rows)"
    return None


class KeyedModel:
    """Rows keyed by the merge key; upserts replace whole rows, and of
    two rows with one key in a batch the later one wins."""

    def __init__(self, table: pa.Table, keys: list[str]):
        self.keys = keys
        self.schema = table.schema
        self.columns = table.column_names
        self.rows: dict[tuple, tuple] = {}
        self.upsert(table)

    def _key_rows(self, table: pa.Table):
        cols = [table.column(c).to_pylist() for c in self.columns]
        kpos = [self.columns.index(k) for k in self.keys]
        for row in zip(*cols):
            yield tuple(row[i] for i in kpos), row

    def upsert(self, table: pa.Table) -> None:
        for k, row in self._key_rows(table):
            self.rows[k] = row

    def table(self) -> pa.Table:
        rows = list(self.rows.values())
        cols = list(zip(*rows)) if rows else [[] for _ in self.columns]
        return pa.table(
            {c: pa.array(list(v), self.schema.field(c).type) for c, v in zip(self.columns, cols)}
        )
