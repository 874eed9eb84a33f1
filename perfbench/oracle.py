"""Output checks for registry queries against their DuckDB oracles.

The comparison follows the repository's correctness gate: columns sorted by
name, rows sorted, dtype classes equal, floats bit-equal and everything else
equal as rendered text. Oracle results are cached per input content.
"""
import glob
import os
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

from fixtures import ALL_TABLES, parquet_glob, table_path


def _connect(inputs_dir, tmp_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '4GB'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in ALL_TABLES:
        if table_path(inputs_dir, t).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{parquet_glob(inputs_dir, t)}')")
    return con


def oracle_result(cache_dir, name, sql, inputs_dir, tmp_dir):
    """The oracle's result for `name`, computed once per cache directory."""
    cached = Path(cache_dir) / f"{name}.parquet"
    if cached.exists():
        return pd.read_parquet(cached)
    con = _connect(inputs_dir, tmp_dir)
    try:
        df = con.execute(sql).df()
    finally:
        con.close()
    cached.parent.mkdir(parents=True, exist_ok=True)
    tmp = cached.with_suffix(".tmp")
    df.to_parquet(tmp)
    os.replace(tmp, cached)
    return df


def _kind(dtype):
    return "f" if dtype.kind == "f" else ("i" if dtype.kind in "iu" else "o")


def _sortable(df):
    """Rows as sortable text where a cell holds a list or an array."""
    return df.apply(lambda c: c.map(lambda v: repr(list(v)) if isinstance(v, (list, np.ndarray)) else v)
                    if c.dtype == object else c)


def compare(spark_dir, oracle_df):
    """Differences between a Spark output directory and the oracle frame;
    an empty list means they agree."""
    parts = sorted(glob.glob(f"{spark_dir}/*.parquet"))
    if not parts:
        return ["no Spark output"]
    a = pd.concat([pd.read_parquet(p) for p in parts])
    a = a[sorted(a.columns)].reset_index(drop=True)
    b = oracle_df[sorted(oracle_df.columns)].reset_index(drop=True)
    if list(a.columns) != list(b.columns):
        return [f"schema {list(a.columns)} vs {list(b.columns)}"]
    if len(a) != len(b):
        return [f"rows {len(a)} vs {len(b)}"]
    cols = list(a.columns)
    a = a.iloc[_sortable(a).sort_values(cols).index].reset_index(drop=True)
    b = b.iloc[_sortable(b).sort_values(cols).index].reset_index(drop=True)
    out = []
    for c in cols:
        av, bv = a[c], b[c]
        if _kind(av.dtype) != _kind(bv.dtype):
            out.append(f"{c}: dtype {av.dtype} vs {bv.dtype}")
        elif _kind(av.dtype) == "f":
            if not np.array_equal(av.values.astype(float), bv.values.astype(float), equal_nan=True):
                out.append(f"{c}: float values differ")
        elif not av.astype(str).equals(bv.astype(str)):
            out.append(f"{c}: {(av.astype(str) != bv.astype(str)).sum()} values differ")
    return out
