"""Result checks: order-insensitive value hashes, DuckDB oracles, invariants.

A value hash canonicalises every cell the way the registry's determinism
rules promise both sides agree: floats at 6 decimals, integral numbers as
integers whatever their type, timestamps at microseconds, NULL as one
token. Rows are sorted after canonicalisation, so the hash ignores row
order, and the sorted column names are part of it.
"""

from __future__ import annotations

import hashlib
import math
import os
from decimal import Decimal

import numpy as np
import pandas as pd

NULL = "\0NULL"


def _cell(v) -> str:
    if v is None:
        return NULL
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, Decimal)):
        f = float(v)
        if math.isnan(f):
            return NULL
        if isinstance(v, Decimal) and v == v.to_integral_value():
            return str(int(v))
        if f.is_integer() and abs(f) < 2**53:
            return str(int(f))
        r = round(f, 6)
        return f"{0.0 if r == 0 else r:.6f}"
    if isinstance(v, (pd.Timestamp, np.datetime64)) or hasattr(v, "isoformat"):
        ts = pd.Timestamp(v)
        if pd.isna(ts):
            return NULL
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.floor("us").isoformat()
    if v is pd.NA or v is pd.NaT:
        return NULL
    return str(v)


def value_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest()


class Oracle:
    """DuckDB over the generated tables, evaluated once per query."""

    def __init__(self, data_dir: str, tables: tuple[str, ...]) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._hashes: dict[str, str] = {}

    def expected(self, name: str, sql: str) -> str:
        if name not in self._hashes:
            self._hashes[name] = value_hash(self.con.execute(sql).fetchdf())
        return self._hashes[name]

    def close(self) -> None:
        self.con.close()


def invariant_errors(name: str, pdf: pd.DataFrame, docs: int) -> list[str]:
    """Checks for the queries the registry gives no oracle (estimator- or
    LLM-backed): what must hold whatever the fitted model decided."""
    errs: list[str] = []
    if pdf.empty:
        errs.append("no rows")
    if name == "m5_refine_pipeline":
        if int(pdf["size"].sum()) != docs:
            errs.append(f"cluster sizes sum to {int(pdf['size'].sum())}, not {docs} docs")
    elif name == "n19_ivfpq_audit":
        nulls = [c for c in pdf.columns if pdf[c].isna().any()]
        if nulls:
            errs.append(f"null values in {nulls}")
    return errs
