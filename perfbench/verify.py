"""Result checks against each query's DuckDB ``oracle_sql()``.

Both sides are hashed with ``tools/check_correctness.py``'s normalisation
(row count, column names sorted, value hash).  The oracle side is
deterministic for a given SQL text and input tables, and two of the
``llm_pipeline`` oracles take over 30 s each in DuckDB, so oracle results
are cached on disk keyed by the SQL text and the tables' size and mtime.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import json
import os

from tools.check_correctness import TABLES, table_hash


def _connect(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def _digest(cols, rows) -> dict:
    return {"cols": sorted(cols), "rows": len(rows),
            "hash": table_hash(list(cols), rows)}


class Oracle:
    """DuckDB oracle digests for one input directory, cached on disk."""

    def __init__(self, data_dir: str, cache_dir: str):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        stamp = []
        for t in TABLES:
            st = os.stat(f"{data_dir}/{t}.parquet")
            stamp.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
        self._tables_key = "|".join(stamp)
        self._con = None

    def digest(self, sql: str) -> dict:
        key = hashlib.sha256(
            f"{self.data_dir}\n{self._tables_key}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key[:32]}.json")
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            pass
        if self._con is None:
            self._con = _connect(self.data_dir)
        rel = self._con.execute(sql)
        d = _digest([c[0] for c in rel.description], rel.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(d, f)
        os.replace(tmp, path)
        return d

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def parquet_digest(out_dir: str) -> dict:
    """Digest of a directory-form parquet sink, read back through DuckDB."""
    import duckdb

    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    with duckdb.connect() as con:
        rel = con.execute(f"SELECT * FROM read_parquet({files!r})")
        return _digest([c[0] for c in rel.description], rel.fetchall())


def _naive_utc(v):
    # Spark ships TimestampType to Arrow as UTC-zoned; Row collects (what
    # check_correctness hashes) and DuckDB TIMESTAMPs are naive.
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, list):
        return [_naive_utc(x) for x in v]
    return v


def arrow_digest(cols, batches) -> dict:
    """Digest of the Arrow batches a ``toPandas()`` collect received."""
    import pyarrow as pa

    columns = ([[_naive_utc(v) for v in c.to_pylist()]
                for c in pa.Table.from_batches(batches).columns]
               if batches else [[] for _ in cols])
    return _digest(cols, list(zip(*columns)) if cols else [])
