"""Order-insensitive result digests, and the DuckDB oracle digests of the
headline queries.

A digest is (sorted column names, row count, sha256 over the sorted rows),
with values normalised so that a Spark frame and a DuckDB frame holding
the same result agree: integral floats print as integers, nulls as NULL.
Oracle digests are cached in the work directory under a key made from the
oracle SQL, the input files and the DuckDB version, so DuckDB runs once
per checkout.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import pandas as pd

import harness

TABLES = ("customer", "orders", "lineitem", "events", "documents")


def _cell(v) -> str:
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        v = v.item()  # numpy scalar -> Python scalar
    if v is None or v is pd.NA:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return str(int(v)) if v.is_integer() else repr(v)
    return str(v)


def digest(pdf) -> dict:
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return {"columns": cols, "rows": len(rows), "sha256": h}


def _cache_key(sf_dir: str, sqls: dict[str, str]) -> str:
    import duckdb

    h = hashlib.sha256(duckdb.__version__.encode())
    for name in sorted(sqls):
        h.update(name.encode() + b"\0" + sqls[name].encode() + b"\0")
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:24]


def oracle_digests(sf_dir: str, names: list[str]) -> dict[str, dict]:
    import duckdb

    import __spark_entry__ as entry

    sqls = {n: entry.oracle_sql()[n] for n in names}
    path = os.path.join(harness.WORK, f"oracle-{_cache_key(sf_dir, sqls)}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    try:
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {n: digest(con.execute(sqls[n]).df()) for n in names}
    finally:
        con.close()
    os.makedirs(harness.WORK, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out
