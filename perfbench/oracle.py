"""Exact, order-insensitive comparison against each spec's DuckDB oracle.

The oracle SQL runs on the raw parquet inputs, with one view per table.
Results are compared with columns matched by name and rows as a sorted
multiset, with no float tolerance. Oracle results are cached on disk
under a key made of the oracle text, the input files' size and mtime and
the DuckDB version: never of the program's output.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import pickle
from typing import Any

import duckdb
import pyarrow as pa

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def text_hash(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:12]


def _norm(v: Any) -> Any:
    if isinstance(v, float) and math.isnan(v):
        return "__NaN__"
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def canon(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(row[i]) for i in order) for row in rows), key=repr
    )


def arrow_canon(table: pa.Table) -> list[tuple]:
    """Canonical rows of a fetched Arrow result.

    Map columns arrive from Arrow as lists of (key, value) pairs; they
    are turned into dicts, the form DuckDB returns, before normalizing.
    """
    cols = []
    for field, col in zip(table.schema, table.columns):
        vals = col.to_pylist()
        if pa.types.is_map(field.type):
            vals = [None if v is None else dict(v) for v in vals]
        cols.append(vals)
    return canon(table.column_names, list(zip(*cols)) if cols else [])


def first_diff(got: list[tuple], want: list[tuple]) -> str:
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    for a, b in zip(got, want):
        if a != b:
            return f"row {a!r} != oracle {b!r}"[:400]
    return ""


class Oracle:
    """DuckDB views over one input directory plus an on-disk result cache."""

    def __init__(self, data_dir: str, cache_dir: str) -> None:
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        stamp = [duckdb.__version__]
        for t in TABLES:
            st = os.stat(self._path(t))
            stamp.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
        self._stamp = "|".join(stamp)
        self._con: duckdb.DuckDBPyConnection | None = None
        self.checked: dict[str, str] = {}

    def _path(self, table: str) -> str:
        return os.path.join(self.data_dir, f"{table}.parquet")

    def _connection(self) -> duckdb.DuckDBPyConnection:
        if self._con is None:
            con = duckdb.connect()
            con.execute("SET threads = 2")
            con.execute("SET memory_limit = '1GB'")
            con.execute(f"SET temp_directory = '{os.path.join(self.cache_dir, 'spill')}'")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self._path(t)}')"
                )
            self._con = con
        return self._con

    def rows(self, name: str, sql: str) -> list[tuple]:
        """Canonical oracle rows for ``sql``, from the cache when present."""
        self.checked[name] = text_hash(sql)
        key = hashlib.sha256(f"{sql}\n{self._stamp}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.pkl")
        try:
            with open(path, "rb") as f:
                return pickle.load(f)
        except FileNotFoundError:
            pass
        cur = self._connection().execute(sql)
        got = canon([d[0] for d in cur.description], cur.fetchall())
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(got, f)
        os.replace(tmp, path)
        return got

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
