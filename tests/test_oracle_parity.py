"""Replicates the driver's t2 correctness gate locally: every entry in
__spark_entry__.queries() with a matching oracle_sql() is executed on Spark
and on DuckDB over the same parquet, and compared order-insensitively
(columns sorted by name, rows sorted by all columns, exact values)."""

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
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
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, sf_dir):
    spark_df = QUERIES[name](spark, sf_dir).toPandas()
    con = duck_con(sf_dir)
    duck_df = con.sql(ORACLES[name]).df()
    # strict dtype agreement BEFORE normalization — a driver that hashes
    # typed values would see int32 vs int64 as different
    for col in sorted(set(spark_df.columns) & set(duck_df.columns)):
        ls, rs = str(spark_df[col].dtype), str(duck_df[col].dtype)
        assert ls == rs, f"{name}.{col}: spark dtype {ls} != duckdb dtype {rs}"
    left, right = normalize(spark_df), normalize(duck_df)
    assert list(left.columns) == list(right.columns), (
        f"{name}: columns differ: {list(left.columns)} vs {list(right.columns)}"
    )
    assert len(left) == len(right), f"{name}: row counts {len(left)} vs {len(right)}"
    mismatches = []
    for col in left.columns:
        lv, rv = left[col].tolist(), right[col].tolist()
        bad = [
            (i, x, y) for i, (x, y) in enumerate(zip(lv, rv)) if not values_equal(x, y)
        ]
        if bad:
            mismatches.append((col, bad[:5]))
    assert not mismatches, f"{name}: value mismatches {mismatches}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


# approximate by design: these gates have no exact oracle and are only run
ROWS_ONLY = {
    "a7_approx_distinct",
    "w4_approx_decile",
    "w4b_weighted_approx_decile",
    "x13_ivf_topk",
    "x38b_curation_fuzzy_lsh",
    "x3_minhash_lsh",
    "x42_pq_topk",
    "x45_bpe_learned",
    "x4_simhash_pairs",
    "x9_ann_lsh",
}


def test_every_oracle_key_has_a_query():
    """Guard the two hand-maintained dicts against drift: every oracle pairs
    with a query."""
    assert set(ORACLES) <= set(QUERIES)


def test_rows_only_pin_matches_oracle_registry():
    """The queries without an oracle are exactly the rows-only set — a new
    oracle-less gate must be added to it, and a gate that gains an oracle
    must leave it."""
    assert set(QUERIES) - set(ORACLES) == ROWS_ONLY


def test_entry_imports_in_bare_interpreter():
    """An import-time failure would silently truncate the driver's gate
    enumeration; pin that the module imports clean with no conftest help."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", "import __spark_entry__; assert __spark_entry__.queries()"],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and len(df.columns) >= 1
