"""The correctness gate: order-insensitive digests of query results.

A digest covers the column names, each column's type class and every
row. Rows are compared as multisets (sorted canonical rows), and
doubles compare BITWISE, never by ``==`` (``-0.0`` and ``0.0`` differ),
with NULL and NaN equal: the comparison rule of the repository's
oracle harness (tests/oracle_harness.py), folded into one hash so the
oracle side is computed once per input and cached. Both sides are read
through DuckDB into pandas, so they share one type conversion.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import struct

import numpy as np
import pandas as pd

from tests.oracle_harness import duckdb_con, duckdb_con_raw


def _kind(dtype) -> str:
    # int vs float is a mismatch (the harness's dtype-kind rule); the
    # width (int32 vs int64) is not
    return {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "ts"}.get(
        dtype.kind, "obj"
    )


def _canon(v) -> str:
    if v is None or v is pd.NaT:
        return "N"
    if isinstance(v, np.ndarray) and v.ndim == 0:
        v = v.item()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k!r}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bool, np.bool_)):
        return "b1" if v else "b0"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "N" if math.isnan(f) else "f" + struct.pack("<d", f).hex()
    if isinstance(v, (int, np.integer)):
        return f"i{int(v)}"
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return f"t{v.value}"
    if isinstance(v, dt.datetime):
        return _canon(pd.Timestamp(v))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, decimal.Decimal):
        return f"d{v.normalize()}"
    if isinstance(v, str):
        return "s" + repr(v)
    return "o" + repr(v)


def digest(df: pd.DataFrame) -> dict:
    """Order-insensitive digest of a result frame."""
    cols = sorted(df.columns)
    header = [f"{c}:{_kind(df[c].dtype)}" for c in cols]
    rows = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(header).encode())
    for r in rows:
        h.update(b"\x1e")
        h.update(r.encode())
    return {"rows": len(rows), "columns": header, "sha256": h.hexdigest()}


def oracle_digests(data_dir: str, oracles: dict[str, str]) -> dict[str, dict]:
    """Run each query's DuckDB oracle over the input tables."""
    con = duckdb_con(data_dir)
    con.execute("SET TimeZone = 'UTC'")
    try:
        return {name: digest(con.execute(sql).df()) for name, sql in oracles.items()}
    finally:
        con.close()


def output_digest(out_dir: str) -> dict:
    """Digest of the Parquet files a query committed under ``out_dir``."""
    con = duckdb_con_raw()
    con.execute("SET TimeZone = 'UTC'")
    try:
        return digest(
            con.execute(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").df()
        )
    finally:
        con.close()


def mismatch(expected: dict, got: dict) -> str | None:
    """None when the digests agree, else what differs."""
    if got["columns"] != expected["columns"]:
        return f"columns {got['columns']} != oracle {expected['columns']}"
    if got["rows"] != expected["rows"]:
        return f"{got['rows']} rows != oracle {expected['rows']}"
    if got["sha256"] != expected["sha256"]:
        return "values differ from the oracle"
    return None
