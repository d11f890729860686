"""DuckDB oracles and the order-insensitive result compare.

The oracle SQL is the registry's own (``QuerySpec.oracle``), run over
the same generated parquet the engine read. Unlike ``tests/oracle.py``,
which views every fixture table, it views only the tables a workload
generated and can restrict ``events`` to what a run landed.
"""

from __future__ import annotations

import glob
import math
import os

import duckdb
import numpy as np
import pandas as pd


def tables(sf_dir: str) -> dict[str, str]:
    """Table name -> parquet path, for every ``<name>.parquet`` in the dir."""
    return {os.path.basename(p)[: -len(".parquet")]: p
            for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))}


def run_oracle(sql: str, sf_dir: str, events_filter: str | None = None) -> pd.DataFrame:
    """Run ``sql`` in DuckDB with one view per table in ``sf_dir``.
    ``events_filter`` (a SQL predicate) restricts the ``events`` view,
    e.g. to the events a tail run actually landed."""
    con = duckdb.connect()
    try:
        for t, p in tables(sf_dir).items():
            where = f" WHERE {events_filter}" if t == "events" and events_filter else ""
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}'){where}")
        return con.sql(sql).df()
    finally:
        con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same_rows_exactly(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Fast path for large results without floats: equal multisets of
    row hashes. False means "not shown equal"; the caller then sorts
    and compares row by row, which also finds the reason."""
    got = got.rename(columns=str.lower)
    want = want.rename(columns=str.lower)
    cols = sorted(got.columns)
    if cols != sorted(want.columns) or len(got) != len(want):
        return False
    got, want = got[cols], want[cols]
    if any(pd.api.types.is_float_dtype(got[c]) or got[c].dtype != want[c].dtype for c in cols):
        return False
    hg = np.sort(pd.util.hash_pandas_object(got, index=False).to_numpy())
    hw = np.sort(pd.util.hash_pandas_object(want, index=False).to_numpy())
    return bool(np.array_equal(hg, hw))


def mismatch(got: pd.DataFrame, want: pd.DataFrame, tol: float = 1e-9) -> str | None:
    """None when the frames hold the same rows (any order, column
    names compared case-insensitively, floats within ``tol``), else a
    one-line reason."""
    if _same_rows_exactly(got, want):
        return None
    got, want = _canon(got), _canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            ga, wa = pd.to_numeric(g, errors="coerce"), pd.to_numeric(w, errors="coerce")
            for x, y in zip(ga, wa):
                if not ((pd.isna(x) and pd.isna(y)) or
                        (not pd.isna(x) and not pd.isna(y) and math.isclose(x, y, rel_tol=tol, abs_tol=tol))):
                    return f"column {c}: {x!r} != {y!r}"
        else:
            if g.dtype == w.dtype:
                ne = (g.to_numpy() != w.to_numpy()) & ~(g.isna() & w.isna()).to_numpy()
            else:
                ne = (g.astype(str) != w.astype(str)).to_numpy()
            bad = ne.nonzero()[0]
            if len(bad):
                i = bad[0]
                return f"column {c} row {i}: {g.iloc[i]!r} != {w.iloc[i]!r}"
    return None
