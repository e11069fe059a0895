"""Order-insensitive canonical hash of a query result.

Spark (``DataFrame.toArrow``) and DuckDB (``.arrow()``) hand back Arrow
tables whose integer widths may differ; everything else must agree
exactly. Each row becomes a tuple of canonical cell values in column-name
order, rows are hashed one by one, and the sorted row digests are hashed
together, so row order and partitioning never matter but every value,
the row count and the column names do.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib

import pyarrow as pa


def _cell(v):
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, decimal.Decimal):
        return ("f", repr(float(v)))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return ("b", v.hex())
    return ("s", str(v))


def canonical_hash(table: pa.Table) -> tuple[int, str]:
    """(row count, hex digest) of ``table``."""
    cols = sorted(table.column_names)
    values = [[_cell(v) for v in table.column(c).to_pylist()] for c in cols]
    digests = sorted(
        hashlib.blake2b(repr(row).encode(), digest_size=16).digest()
        for row in zip(*values)
    )
    h = hashlib.blake2b(repr(cols).encode(), digest_size=16)
    for d in digests:
        h.update(d)
    return table.num_rows, h.hexdigest()
