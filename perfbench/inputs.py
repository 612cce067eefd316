"""Seeded inputs: key-shifted copies of the engine's sf0.001 test data.

``data/`` holds the ten sf0.001 test-data tables (TESTDATA.md) byte for
byte. An input of ``copies`` copies is built the way
tools/gen_scaled_sf.py builds its scale datasets: each table but the
pure dimension tables becomes ``copies`` copies of its rows, with every
join-key domain of ``gen_scaled_sf.KEY_DOMAINS`` shifted by one offset
per copy, so every foreign-key join matches copy for copy. Non-key
values, column types and on-disk types stay those of the test data.

The seed sets
- each key domain's offset: its maximum + 1 plus a seeded gap, so the
  key values, their hash partitions and every key-derived value move
  with the seed;
- the row order of every table (a seeded permutation);
- the Parquet row-group split (1, 2 or 4 row groups).
The same (copies, seed) always gives the same inputs.
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
SCALER = os.path.join(os.path.dirname(HERE), "tools", "gen_scaled_sf.py")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _key_domains() -> tuple[dict[str, list[tuple[str, str]]], tuple[str, ...]]:
    spec = importlib.util.spec_from_file_location("gen_scaled_sf", SCALER)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.KEY_DOMAINS, mod.VERBATIM


def generate(dest: str, copies: int, seed: int) -> dict[str, int]:
    """Write every table as ``<dest>/<table>.parquet``; return row counts."""
    domains, verbatim = _key_domains()
    rng = np.random.default_rng(seed)
    base = {t: pq.read_table(os.path.join(DATA, f"{t}.parquet")) for t in TABLES}
    shift: dict[tuple[str, str], int] = {}
    for cols in domains.values():
        top = max(pc.max(base[t][c]).as_py() or 0 for t, c in cols)
        offset = top + 1 + int(rng.integers(0, top + 1))
        shift.update(dict.fromkeys(cols, offset))

    os.makedirs(dest, exist_ok=True)
    counts = {}
    for name in TABLES:
        src = base[name]
        parts = [src]
        if name not in verbatim:
            parts += [
                pa.table([
                    pc.add(col, pa.scalar(i * shift[(name, c)], col.type))
                    if (name, c) in shift else col
                    for c, col in zip(src.column_names, src.columns)
                ], schema=src.schema)
                for i in range(1, copies)
            ]
        table = pa.concat_tables(parts)
        n = table.num_rows
        table = table.take(pa.array(rng.permutation(n)))
        groups = int(rng.choice([1, 2, 4]))
        pq.write_table(
            table, os.path.join(dest, f"{name}.parquet"),
            row_group_size=max(1, -(-n // groups)),
        )
        counts[name] = n
    return counts
