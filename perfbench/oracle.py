"""Output checks against the registry's DuckDB oracles.

Results are reduced to a digest of the canonical row multiset that
``userportrait.testing.check`` uses for its differential gate (floats
bitwise, order-insensitive), so a result can be checked long after the
rows themselves were dropped.
"""

from __future__ import annotations

import hashlib
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow.parquet as pq

from userportrait.testing.check import _canon_rows


def digest(cols: list[str], rows: list[tuple]) -> tuple[tuple[str, ...], int, str]:
    """(sorted column names, row count, sha256 of the canonical rows)."""
    canon = _canon_rows(cols, rows)
    return tuple(sorted(cols)), len(canon), hashlib.sha256("\n".join(canon).encode()).hexdigest()


def parquet_digest(path: str) -> tuple[tuple[str, ...], int, str]:
    """Digest of a Spark-written parquet directory, read back without Spark."""
    # Spark writes INT96 timestamps; read them at the microsecond unit its
    # collect() would return.
    t = pq.read_table(path, coerce_int96_timestamp_unit="us")
    cols = t.column_names
    return digest(cols, list(zip(*(c.to_pylist() for c in t.columns))))


def oracle_digest(sf_dir: str, sql: str) -> tuple[tuple[str, ...], int, str]:
    """Run one oracle over the parquet tables present in ``sf_dir``."""
    with duckdb.connect() as con:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, f)}')"
                )
        cur = con.execute(sql)
        return digest([d[0] for d in cur.description], cur.fetchall())


def oracle_digests(jobs: set[tuple[str, str]], oracles: dict[str, str], workers: int) -> dict:
    """Oracle digest per (op, sf_dir). Runs the queries side by side: the
    shingle oracles evaluate one single-row-group file on one DuckDB thread."""
    jobs = sorted(jobs)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(oracle_digest, sf_dir, oracles[op]) for op, sf_dir in jobs]
        return {job: f.result() for job, f in zip(jobs, futures)}
