"""Order-insensitive result digests, so an engine result can be compared
with its DuckDB oracle or with a predicted row set.

Columns are taken in name order and rows are sorted after every cell is
put in one canonical text form: doubles by their exact bits
(``float.hex``), decimals normalised, timestamps in ISO form, lists
element by element. Two results digest equal only if they hold the same
multiset of rows.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import duckdb


def _cell(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v.hex()
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def digest(columns: list[str], rows) -> str:
    """Digest of ``rows`` (sequences aligned with ``columns``, such as
    collected Spark ``Row`` objects)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x01".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x02".join(columns[i] for i in order).encode())
    h.update(str(len(lines)).encode())
    for line in lines:
        h.update(b"\x03" + line.encode())
    return h.hexdigest()


def oracle_digest(sql: str, data_dir: str, tables: list[str]) -> str:
    """Run ``sql`` in DuckDB over ``<data_dir>/<table>.parquet`` views."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return digest(cols, cur.fetchall())
    finally:
        con.close()
