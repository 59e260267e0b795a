"""Shared differential-check helpers (used by scripts/drivercheck.py
and the pytest suite): the DuckDB connection the oracles run on, and
order-insensitive value-hash comparison between a Spark result and a
DuckDB oracle result, mirroring the round driver's CORRECTNESS gate."""

from __future__ import annotations

import hashlib
import os

#: DuckDB memory bound for every oracle connection: an oracle whose
#: plan needs more than this fails loudly instead of swapping the host.
ORACLE_MEMORY_LIMIT = "2GB"


def oracle_db(sf_dir: str):
    """A DuckDB connection bounded by :data:`ORACLE_MEMORY_LIMIT` with
    one view per table of ``sf_dir``: ``<table>.parquet`` as one file or
    as a directory of part files; absent tables get no view."""
    import duckdb

    from .tables import TABLE_NAMES

    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{ORACLE_MEMORY_LIMIT}'")
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def norm_cell(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    """Hash of rows with columns sorted by name and rows sorted —
    order-insensitive on both axes."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def compare(
    scols: list[str],
    srows: list[tuple],
    ocols: list[str],
    orows: list[tuple],
) -> str | None:
    """None if equivalent, else a human-readable mismatch reason."""
    if sorted(scols) != sorted(ocols):
        return f"columns differ: spark={sorted(scols)} oracle={sorted(ocols)}"
    if len(srows) != len(orows):
        return f"row counts differ: spark={len(srows)} oracle={len(orows)}"
    if value_hash(scols, srows) != value_hash(ocols, orows):
        return f"value hash mismatch over {len(srows)} rows"
    return None
