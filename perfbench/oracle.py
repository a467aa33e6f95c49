"""Output checks against DuckDB.

Query results are compared with the same type-tagged multiset semantics as
the repository's self-check: equal row counts, equal column names, equal
Arrow type categories, and an order-insensitive multiset of canonicalized
values in which int, Decimal and float never compare equal and floats
compare bit-exact.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import struct
from collections import Counter

import duckdb
import pyarrow as pa


def canon(v):
    """Type-tagged canonical form of one value."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        return ("f", "NaN") if math.isnan(v) else ("f", struct.pack("<d", v))
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    if isinstance(v, bytes):
        return ("y", v)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


def type_sig(t: pa.DataType) -> str:
    """Arrow type category; numeric widths stay distinct, timestamp zone
    and decimal precision do not."""
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t) or pa.types.is_floating(t):
        return str(t)
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{type_sig(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(f"{f.name}:{type_sig(f.type)}" for f in t) + ">"
    return str(t)


def _multiset(tbl: pa.Table) -> Counter:
    cols = sorted(tbl.schema.names)
    return Counter(tuple(canon(d[c]) for c in cols) for d in tbl.to_pylist())


def compare(got: pa.Table, want: pa.Table) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    if got.num_rows != want.num_rows:
        return f"row count {got.num_rows} != {want.num_rows}"
    if sorted(got.schema.names) != sorted(want.schema.names):
        return f"columns {sorted(got.schema.names)} != {sorted(want.schema.names)}"
    wsig = {f.name: type_sig(f.type) for f in want.schema}
    diffs = [
        f"{f.name}: {type_sig(f.type)} != {wsig[f.name]}"
        for f in got.schema
        if type_sig(f.type) != wsig[f.name]
    ]
    if diffs:
        return "arrow type mismatch " + "; ".join(diffs)
    g, w = _multiset(got), _multiset(want)
    if g != w:
        return f"value mismatch on {sum(((g - w) + (w - g)).values())} rows"
    return None


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet table in ``data_dir``."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con
