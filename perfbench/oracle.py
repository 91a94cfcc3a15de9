"""Expected query results from the DuckDB oracle SQL each declared key
carries (`SparkEntry.oracleSql`), reduced to a row count and an
order-independent fingerprint.

Cells are normalised the way scripts/selfcheck.py normalises them for the
repository's correctness gate: floats by their exact hex, decimals by
their text, dates and timestamps as ISO datetimes.
"""
import datetime
import glob
import hashlib
import json
import math
import os
from decimal import Decimal

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else ("f", v.hex())
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, datetime.datetime):
        return ("dt", v.isoformat())
    if isinstance(v, datetime.date):
        return ("dt", datetime.datetime(v.year, v.month, v.day).isoformat())
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def fingerprint(df):
    """(rows, sha256 of the sorted normalised rows, columns by name)."""
    cols = sorted(df.columns)
    rows = sorted(repr(tuple(norm(v) for v in r))
                  for r in zip(*(df[c].tolist() for c in cols)))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return len(rows), h.hexdigest()


def expected(sf_dir, key, sql, cache_dir):
    """The oracle's (rows, fingerprint) for one key, cached by SQL text
    and data directory."""
    tag = hashlib.sha256(f"{sf_dir}\0{sql}".encode()).hexdigest()[:20]
    path = os.path.join(cache_dir, f"{key}-{tag}.json")
    if os.path.exists(path):
        with open(path) as fh:
            got = json.load(fh)
        return got["rows"], got["fp"]
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    rows, fp = fingerprint(con.execute(sql).df())
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump({"rows": rows, "fp": fp}, fh)
    os.replace(path + ".tmp", path)
    return rows, fp


def actual(result_dir):
    """(rows, fingerprint) of a Spark result written as parquet."""
    import pandas as pd
    parts = sorted(glob.glob(f"{result_dir}/*.parquet"))
    df = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
    return fingerprint(df)
