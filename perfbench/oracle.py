"""Output checks against the queries' DuckDB twins (``oracle_sql()``).

The expected result of each query is reduced to its column names, row count
and order-insensitive value hash (the ``tests/oracle_utils.py`` helpers the
project's own oracle gate uses). It is computed once per input tier and
cached under a key made of the tier's fingerprint and the SQL text, so a
changed twin or a regenerated tier is never compared against a stale
answer."""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from tests.oracle_utils import fetch_duck, value_hash


def _key(fingerprint: str, sql: str) -> str:
    return hashlib.sha256(f"{fingerprint}\n{sql}".encode()).hexdigest()[:32]


class Oracle:
    def __init__(self, tier_dir: str, fingerprint: str, tables, cache_dir: str):
        self.tier_dir = tier_dir
        self.fingerprint = fingerprint
        self.tables = tables
        self.cache_dir = cache_dir
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _duck(self):
        if self._con is None:
            self._con = duckdb.connect()
            for t in self.tables:
                path = os.path.join(self.tier_dir, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return self._con

    def expected(self, sql: str) -> dict:
        path = os.path.join(self.cache_dir, _key(self.fingerprint, sql) + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        cols, rows = fetch_duck(self._duck(), sql)
        exp = {"columns": cols, "rows": len(rows), "hash": value_hash(rows, cols)}
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(exp, f)
        os.replace(tmp, path)
        return exp

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def compare(columns, rows, exp: dict) -> str | None:
    """None when a Spark result (column names, row tuples) matches the
    expected summary, else a one-line reason."""
    if sorted(columns) != sorted(exp["columns"]):
        return f"columns differ: {list(columns)} vs {exp['columns']}"
    if len(rows) != exp["rows"]:
        return f"row count differs: {len(rows)} vs {exp['rows']}"
    if value_hash(rows, list(columns)) != exp["hash"]:
        return "value hash differs"
    return None
