"""Output checks: row count plus an order-insensitive hash.

``frame_digest`` hashes a Spark DataFrame inside Spark (no collect):
every row becomes an xxhash64 over its columns in name order, and the
row hashes are summed exactly as DECIMAL, so row order and partitioning
never change the digest. Timestamps are rendered as strings first, so
TIMESTAMP and TIMESTAMP_NTZ columns holding the same UTC wall-clock
value digest alike.

``pandas_digest`` does the same for pandas frames, for the query mix,
whose Spark results are compared with each query's DuckDB oracle SQL.
"""

from __future__ import annotations

import decimal
import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frame_digest(df: DataFrame) -> tuple[int, str]:
    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{f.name}`")
        if f.dataType.typeName().startswith("timestamp"):
            c = F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
        cols.append(c)
    row = F.xxhash64(*cols).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(row).alias("h")).collect()[0]
    return int(r["n"]), str(r["h"] or 0)


def duckdb_digest(con, relation: str) -> tuple[int, str]:
    """Row count plus an order-insensitive hash of a DuckDB relation.
    Every value is cast to VARCHAR first, so integer widths and
    timestamp flavours of equal values digest alike."""
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()]
    row = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in sorted(cols))
    n, h = con.execute(
        f"SELECT count(*), sum(CAST(hash({row}) AS HUGEINT)) FROM {relation}").fetchone()
    return int(n), str(h or 0)


def _canon(v):
    if v is None or (isinstance(v, float) and v != v) or v is pd.NaT:
        return None
    if isinstance(v, pd.Timestamp):
        return v.value // 1000  # microseconds: pandas may hold us or ns
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _canon(v.tolist())
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float) and v.is_integer() and abs(v) < 2**53:
        return int(v)  # a nullable integer column may arrive as float64
    return v


def pandas_digest(df: pd.DataFrame) -> tuple[int, str]:
    """Order-insensitive digest of a pandas frame: sorted per-row hashes
    over the columns in name order, values canonicalized so the Spark
    and DuckDB readings of one value agree."""
    cols = sorted(df.columns)
    rows = sorted(
        hashlib.blake2b(repr([_canon(v) for v in r]).encode(), digest_size=16).hexdigest()
        for r in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.blake2b("|".join(cols).encode(), digest_size=16)
    for r in rows:
        h.update(r.encode())
    return len(rows), h.hexdigest()
