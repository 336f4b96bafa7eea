"""Oracle digests: each query's output, normalized by
``scripts/check_oracle.norm_df``, compared with DuckDB running the query's
``oracle_sql()`` on the same tables.

The DuckDB side is expensive and never changes for a given input, so its
digest is cached on disk, keyed by the sf directory name, the byte size of
every table and a hash of the SQL.
"""

from __future__ import annotations

import hashlib
import json
import os
import time


def digest(pdf, norm_df) -> str:
    """Row count, sorted column names and normalized rows, hashed."""
    h = hashlib.sha256()
    h.update(repr((len(pdf), sorted(pdf.columns))).encode())
    for row in norm_df(pdf):
        h.update(repr(row).encode())
    return h.hexdigest()


class OracleDigests:
    def __init__(self, sf_dir: str, tables: list[str], cache_dir: str):
        self._sf_dir = sf_dir
        self._tables = [t for t in tables if os.path.exists(self._table(t))]
        sizes = [(t, os.path.getsize(self._table(t))) for t in self._tables]
        self._data_key = hashlib.sha256(
            repr((os.path.basename(sf_dir.rstrip("/")), sizes)).encode()
        ).hexdigest()[:16]
        self._cache_dir = cache_dir
        self._con = None
        #: seconds spent inside DuckDB (excluded from the set-up time)
        self.duckdb_s = 0.0

    def _table(self, name: str) -> str:
        return os.path.join(self._sf_dir, f"{name}.parquet")

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        for t in self._tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self._table(t)}')")
        return con

    def expected(self, sql: str, norm_df) -> str:
        key = hashlib.sha256(sql.encode()).hexdigest()[:24]
        path = os.path.join(self._cache_dir, f"{self._data_key}-{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)["digest"]
        t0 = time.perf_counter()
        if self._con is None:
            self._con = self._connect()
        value = digest(self._con.execute(sql).df(), norm_df)
        self.duckdb_s += time.perf_counter() - t0
        os.makedirs(self._cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump({"digest": value}, fh)
        os.replace(tmp, path)
        return value

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
