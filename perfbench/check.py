"""Correctness check against the repo's DuckDB oracle
(``__spark_entry__.oracle_sql()``).

The canonical form is the strict one of ``tests/oracle_harness.py``:
columns sorted by name, every cell rendered as a string (floats by exact
``repr``, NaN and NULL alike as ``<null>``), rows sorted. Timestamps
read from parquet carry a UTC zone that Spark's ``toPandas`` drops, so
zoned timestamps are rendered as naive UTC first.

A frame is reduced to a digest (columns, row count, SHA-256 of the
sorted canonical rows), so the session process can drop each collected
result once it is digested; ``first_difference`` renders a mismatch in
full. DuckDB is imported only by ``oracle_con``: the session process
digests results but never runs the oracle.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime

import pandas as pd
import pyarrow.parquet as pq


def canon_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, pd.Timestamp | datetime):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list | tuple):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if hasattr(v, "tolist") and getattr(v, "ndim", 0) >= 1:  # numpy array
        return "[" + ",".join(canon_cell(x) for x in v.tolist()) + "]"
    return str(v)


def canonical_rows(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = [[canon_cell(v) for v in pdf[c].tolist()] for c in sorted(pdf.columns)]
    return sorted(zip(*cols)) if cols else []


def digest(pdf: pd.DataFrame) -> dict:
    h = hashlib.sha256()
    for row in canonical_rows(pdf):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return {"columns": sorted(pdf.columns), "rows": len(pdf), "sha256": h.hexdigest()}


def read_output(path: str) -> pd.DataFrame:
    """A parquet directory the Spark sink wrote, as pandas."""
    return pq.read_table(path).to_pandas()


def oracle_con(input_dir: str, temp_dir: str):
    """An in-memory DuckDB with one view per parquet file of ``input_dir``,
    spilling (if at all) into ``temp_dir``."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for name in sorted(os.listdir(input_dir)):
        if name.endswith(".parquet"):
            view = name[: -len(".parquet")]
            path = os.path.join(input_dir, name)
            con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{path}')")
    return con


def mismatch(got: dict, want: dict) -> str | None:
    """None when the digests agree, else what differs."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"rowcount {got['rows']} != {want['rows']}"
    if got["sha256"] != want["sha256"]:
        return "values differ"
    return None


def first_difference(got: pd.DataFrame, want: pd.DataFrame) -> str:
    g, w = canonical_rows(got), canonical_rows(want)
    bad = [i for i, (a, b) in enumerate(zip(g, w)) if a != b]
    if not bad:
        return f"rowcount {len(g)} != {len(w)}"
    return f"{len(bad)} mismatched rows; first: got={g[bad[0]]} want={w[bad[0]]}"
