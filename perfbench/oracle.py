"""DuckDB oracles for the workloads' outputs, with a result-digest cache.

The oracle SQL is the catalog's own (``catalog.oracle_sqls()``). Some
oracles cost tens of seconds, so each result digest is cached under
(input digest, oracle SQL hash) in the working area; a cache hit skips
only the DuckDB execution, never the comparison.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from stats import frame_digest


class Oracle:
    def __init__(self, work: str, threads: int):
        self.cache_path = os.path.join(work, "oracle_cache.json")
        try:
            with open(self.cache_path) as f:
                self.cache = json.load(f)
        except (OSError, ValueError):
            self.cache = {}
        self.con = duckdb.connect()
        tmp = os.path.join(work, "duckdb-tmp")
        os.makedirs(tmp, exist_ok=True)
        self.con.execute(f"SET threads = {int(threads)}")
        self.con.execute("SET memory_limit = '2GB'")
        self.con.execute(f"SET temp_directory = '{tmp}'")
        self.hits = 0

    def views(self, tables: dict[str, str]) -> None:
        """(Re)define each input relation: ``name -> SELECT``."""
        for name, body in tables.items():
            self.con.execute(f"CREATE OR REPLACE VIEW {name} AS {body}")


    def digest(self, sql: str, input_digest: str | None = None) -> str:
        """Order-insensitive digest of ``sql``'s result; cached when
        ``input_digest`` identifies every relation the SQL reads."""
        key = None
        if input_digest is not None:
            key = hashlib.sha256((input_digest + "\0" + sql).encode()).hexdigest()
            if key in self.cache:
                self.hits += 1
                return self.cache[key]
        res = self.con.execute(sql)
        out = frame_digest([d[0] for d in res.description], res.fetchall())
        if key is not None:
            self.cache[key] = out
            tmp = self.cache_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.cache, f)
            os.replace(tmp, self.cache_path)
        return out

    def close(self) -> None:
        self.con.close()


def parquet(path: str) -> str:
    return f"SELECT * FROM read_parquet('{path}')"
