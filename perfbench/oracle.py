"""Expected answers from DuckDB, and the comparison the benchmark applies.

The comparison has the semantics of the engine's correctness gate
(``tests/oracle_utils.compare``): both results go through pandas, columns
are sorted by name, rows are sorted over every column, and cells must match
at full precision and with the same numeric kind (``37`` never equals
``37.0``). It is restated here so the benchmark does not change when the
test helpers do.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import pickle

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")

Result = tuple[list[str], list[tuple]]


def frame_rows(df: pd.DataFrame) -> Result:
    return [str(c) for c in df.columns], [tuple(r) for r in df.itertuples(index=False, name=None)]


def fingerprint(data_dir: str) -> str:
    """sha256 over the bytes of every table file."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(t.encode())
            h.update(f.read())
    return h.hexdigest()


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def expected(con: duckdb.DuckDBPyConnection, sql: str) -> Result:
    return frame_rows(con.execute(sql).df())


def replay(con: duckdb.DuckDBPyConnection, op, table: str):
    """Apply one ETL step to DuckDB; returns its expected answer: None for a
    write, the number of rows deleted, or a read's result."""
    if op.kind == "read":
        return expected(con, op.text)
    if op.kind == "delete":
        n = con.execute(f"SELECT count(*) FROM {table} WHERE {op.text}").fetchone()[0]
        con.execute(f"DELETE FROM {table} WHERE {op.text}")
        return int(n)
    if op.kind == "create":
        con.execute(f"CREATE OR REPLACE TABLE {table} AS {op.text}")
    else:
        con.execute(f"INSERT INTO {table} {op.text}")
    return None


def cached_expected(data_dir: str, cache_dir: str, data_fp: str,
                    queries: dict[str, str]) -> dict[str, Result]:
    """Expected answer per name, cached under a key made of the data
    fingerprint, the DuckDB version and the oracle SQL text."""
    os.makedirs(cache_dir, exist_ok=True)
    out: dict[str, Result] = {}
    con = None
    try:
        for name, sql in queries.items():
            key = hashlib.sha256(f"{data_fp}\0{duckdb.__version__}\0{name}\0{sql}".encode())
            path = os.path.join(cache_dir, f"{name}-{key.hexdigest()[:24]}.pkl")
            if os.path.exists(path):
                with open(path, "rb") as f:  # written by this module, below
                    out[name] = pickle.load(f)
                continue
            con = con or connect(data_dir)
            out[name] = expected(con, sql)
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "wb") as f:
                pickle.dump(out[name], f)
            os.replace(tmp, path)
    finally:
        if con is not None:
            con.close()
    return out


def _canon(cols: list[str], rows: list[tuple]) -> pd.DataFrame:
    df = pd.DataFrame(rows, columns=cols, dtype=object)
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _kind(v) -> str:
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "bool"
    if isinstance(v, (int, np.integer)):
        return "int"
    if isinstance(v, (float, np.floating)):
        return "null" if math.isnan(v) else "float"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date, np.datetime64)):
        return "temporal"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (bytes, bytearray)):
        return "bytes"
    return "other"


def _cell_eq(a, b) -> bool:
    ka, kb = _kind(a), _kind(b)
    if ka != kb:
        return False
    if ka == "null":
        return True
    if ka == "float":
        return float(a) == float(b)
    if ka == "temporal":
        return pd.Timestamp(a) == pd.Timestamp(b)
    if ka == "bytes":
        return bytes(a) == bytes(b)
    return bool(a == b)


def compare(got: Result, want: Result) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    (gc, gr), (wc, wr) = got, want
    if sorted(gc) != sorted(wc):
        return f"columns differ: got {sorted(gc)} want {sorted(wc)}"
    if len(gr) != len(wr):
        return f"row count differs: got {len(gr)} want {len(wr)}"
    try:
        a, b = _canon(gc, gr), _canon(wc, wr)
    except (TypeError, ValueError) as e:
        return f"result cannot be canonicalized: {e}"
    for i in range(len(a)):
        bad = [c for c in a.columns if not _cell_eq(a.iloc[i][c], b.iloc[i][c])]
        if bad:
            c = bad[0]
            return f"row {i} column {c}: got {a.iloc[i][c]!r} want {b.iloc[i][c]!r}"
    return None
