"""Output checks: a Spark result against DuckDB running the catalog's
oracle SQL over the same parquet files — same columns, same row count, and
the same order-insensitive hash of the values."""

from __future__ import annotations

import datetime
import hashlib
import math


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def frame_hash(cols: list[str], rows) -> str:
    """Hash of the rows with columns in name order and rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def against_oracle(df, sql: str, data_dir: str, tables: list[str]) -> str | None:
    """None when ``df`` equals the oracle's result, else what differs."""
    import duckdb

    rows = df.collect()
    cols = df.columns
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')"
            )
        rel = con.sql(sql)
        dcols = list(rel.columns)
        drows = rel.fetchall()
    finally:
        con.close()
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} != oracle {sorted(dcols)}"
    if len(rows) != len(drows):
        return f"{len(rows)} rows != oracle {len(drows)}"
    if frame_hash(cols, [[r[c] for c in cols] for r in rows]) != frame_hash(dcols, drows):
        return "value hash differs from oracle"
    return None
