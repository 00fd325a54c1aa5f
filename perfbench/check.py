"""Output checks for the benchmark's queries.

A query with a DuckDB oracle in ``__spark_entry__.oracle_sql()`` is compared
with it under the rule of the repository's oracle-parity test: equal dtypes
per column, then columns sorted by name, rows sorted by every column, and
exact values (NaN equals NaN). A rows-only query (approximate by design, no
oracle) is pinned by its exact row count and an order-insensitive content
hash, recorded in ``pins.json`` for the vendored inputs.
"""

from __future__ import annotations

import hashlib
import json
import math
from pathlib import Path

import pandas as pd

PINS = Path(__file__).resolve().parent / "pins.json"

def duck_con(data_dir: str):
    """A DuckDB connection with one view per parquet table in ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    for path in sorted(Path(data_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith(("float", "Float")):
            df[c] = df[c].astype("float64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str).where(~df[c].isna(), None)
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` matches ``want``, else a one-line reason."""
    for col in sorted(set(got.columns) & set(want.columns)):
        if str(got[col].dtype) != str(want[col].dtype):
            return f"{col}: dtype {got[col].dtype} != {want[col].dtype}"
    left, right = normalize(got), normalize(want)
    if list(left.columns) != list(right.columns):
        return f"columns {list(left.columns)} != {list(right.columns)}"
    if len(left) != len(right):
        return f"row count {len(left)} != {len(right)}"
    for col in left.columns:
        for i, (x, y) in enumerate(zip(left[col].tolist(), right[col].tolist())):
            if not values_equal(x, y):
                return f"{col}[{i}]: {x!r} != {y!r}"
    return None


def content_pin(df: pd.DataFrame) -> dict:
    """Row count and an order-insensitive hash of the rows' values."""
    norm = normalize(df)
    digest = hashlib.sha256()
    digest.update(repr(list(norm.columns)).encode())
    for row in sorted(repr(r) for r in norm.itertuples(index=False, name=None)):
        digest.update(row.encode())
        digest.update(b"\n")
    return {"rows": len(norm), "sha256": digest.hexdigest()}


class Checker:
    """Checks each query's collected output against its oracle or pin."""

    def __init__(self, data_dir: str, oracles: dict[str, str]):
        self.oracles = oracles
        self.pins = json.loads(PINS.read_text())
        self.con = duck_con(data_dir)

    def check(self, name: str, got: pd.DataFrame) -> str | None:
        if name in self.oracles:
            return compare(got, self.con.sql(self.oracles[name]).df())
        seen, pin = content_pin(got), self.pins.get(name)
        return None if seen == pin else f"pin {json.dumps(seen)} != {json.dumps(pin)}"

    def close(self) -> None:
        self.con.close()
