"""Order-independent digests of result tables.

Spark results (``DataFrame.toArrow()``), DuckDB oracle results and
parquet outputs read back with pyarrow all reduce to the same digest
when they hold the same rows: columns are taken in name order,
timestamps as integer microseconds (naive and UTC-zoned alike),
floats by their exact ``repr`` and integers as integers, so an int
``5`` and a float ``5.0`` differ — as they do in the oracle gate.
"""

from __future__ import annotations

import hashlib
import json

import pyarrow as pa
import pyarrow.compute as pc


def _cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, str):
        return json.dumps(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _column(col: pa.ChunkedArray) -> list:
    if pa.types.is_timestamp(col.type):
        col = pc.cast(pc.cast(col, pa.timestamp("us", col.type.tz)), pa.int64())
    return col.to_pylist()


def canonical_rows(table: pa.Table) -> list[str]:
    names = sorted(table.column_names)
    cols = [_column(table.column(n)) for n in names]
    return sorted("\x1f".join(_cell(v) for v in row) for row in zip(*cols))


def table_digest(table: pa.Table) -> str:
    """sha256 over the sorted canonical rows plus the column names."""
    h = hashlib.sha256(json.dumps(sorted(table.column_names)).encode())
    for row in canonical_rows(table):
        h.update(row.encode())
        h.update(b"\n")
    return h.hexdigest()
