"""Output checks: engine results against DuckDB reading the same files.

``normalize`` and ``frames_match`` follow the repository's oracle test
harness (``tests/conftest.py``): columns sorted by name, rows sorted by
every column, datetimes and bytes rendered stably, then exact equality.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

CORPUS_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif s.dtype == object:
            df[c] = s.map(
                lambda v: v.hex()
                if isinstance(v, (bytes, bytearray))
                else ("<NULL>" if v is None else str(v))
            )
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    a, b = normalize(got), normalize(want)
    for c in a.columns:
        ka, kb = a[c].dtype.kind, b[c].dtype.kind
        if ka != kb and not {ka, kb} <= {"i", "u"}:
            return f"{c}: dtype {a[c].dtype} != {b[c].dtype}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e).splitlines()[0][:200]
    return None


def parquet_glob(path: str) -> str:
    """DuckDB source for a parquet file or a directory of part files."""
    return f"{path}/**/*.parquet" if os.path.isdir(path) else path


def corpus_connection(corpus_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per corpus table."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in CORPUS_TABLES:
        src = parquet_glob(f"{corpus_dir}/{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con

