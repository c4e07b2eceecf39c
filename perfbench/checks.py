"""Correctness checks shared by the workloads (run outside timed regions)."""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    """The oracle sweep's compare: columns sorted by name, rows sorted,
    every cell compared as its string form."""
    cols = sorted(got.columns)
    if sorted(want.columns) != cols:
        return False, f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    if g.shape != w.shape:
        return False, f"shape {g.shape} vs {w.shape}"
    bad = int((g.astype(str).values != w.astype(str).values).any(axis=1).sum())
    return bad == 0, f"{len(g)} rows, {bad} differ"


def oracle_connection(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    return con


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def partition_fingerprint(ids, labels) -> str:
    """Label-free fingerprint of a clustering: the sorted member lists."""
    groups: dict[int, list[int]] = {}
    for i, c in zip(ids, labels):
        groups.setdefault(int(c), []).append(int(i))
    canon = sorted(sorted(g) for g in groups.values())
    return hashlib.sha256(repr(canon).encode()).hexdigest()[:16]
