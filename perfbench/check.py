"""Output checks: an order-sensitive digest of a query result, computed the
same way for graft's parquet output and for the DuckDB oracle's result.

A result is canonicalized as tools/check_oracle.py compares it in strict
order: columns sorted by name, rows in the order given. Values are made
comparable across the two engines: timestamps in UTC without zone, -0.0 as
0.0, NaN as a marker, decimals and bytes as text.
"""
import datetime
import decimal
import hashlib
import json
import math

import duckdb

from gen import TABLES


def _canon(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0 else v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time, decimal.Decimal)):
        return str(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return {str(k): _canon(x) for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))}
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return str(v)


def digest(rel):
    """(rows, sha256) of a DuckDB relation, columns sorted by name."""
    cols = sorted(rel.columns)
    rows = rel.select(", ".join(f'"{c}"' for c in cols)).fetchall()
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(json.dumps(_canon(list(r)), separators=(",", ":")).encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def output_digest(con, out_dir):
    """Digest of one query output written as parquet part files."""
    return digest(con.sql(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')"))


def connect(data_dir):
    """DuckDB connection with one view per input table, as the oracle SQL expects."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def oracle_digest(con, sql):
    return digest(con.sql(sql))
