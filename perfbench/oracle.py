"""Result fingerprints: row count plus an order-insensitive hash.

Rows are canonicalised exactly as the repository's DuckDB oracle harness
does it (``tests/oracle.py``: columns sorted by name, every cell rendered
to a stable string, rows sorted), then hashed, so a fingerprint match is
the same verdict ``tests.oracle.compare`` would give.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from tests.oracle import canonical_rows, duck_connection


def fingerprint(pdf: pd.DataFrame) -> tuple[tuple[str, ...], int, str]:
    digest = hashlib.sha256("\n".join(canonical_rows(pdf)).encode()).hexdigest()
    return tuple(sorted(pdf.columns)), len(pdf), digest


def duck_fingerprints(sf_dir: str, sqls: dict[str, str]) -> dict[str, tuple]:
    """Fingerprint of each oracle query's result over the parquet
    tables in ``sf_dir``."""
    con = duck_connection(sf_dir)
    try:
        return {name: fingerprint(con.sql(sql).df()) for name, sql in sqls.items()}
    finally:
        con.close()
