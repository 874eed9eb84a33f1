"""Benchmark inputs: GenData tables per scale factor, rewritten per seed.

`graft.GenData` has no seed; it writes every column as a pure function of
the row id. The benchmark applies the seed here, in its own fixture step:
rows are put in a seeded order, and each row's file is chosen from a seeded
hash of its key, so placement depends on neither the core count nor the
upstream partitioning. The content stays that of GenData at the scale
factor; only order and placement change with the seed.
"""
import hashlib
import json
import os
import shutil
import time
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the columns that identify a row of each GenData table
KEYS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "supplier": ["s_suppkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
ALL_TABLES = list(KEYS)
KEEP_SEEDS = 6  # seeded input sets kept per layout before the oldest is removed


def _mix(x):
    """splitmix64 finalizer over uint64 arrays."""
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return x


def key_hash(table, tbl, seed, salt):
    h = np.full(tbl.num_rows, (seed * 0x9E3779B97F4A7C15 + salt) & (2**64 - 1), dtype=np.uint64)
    for c in KEYS[table]:
        v = tbl.column(c).to_numpy().astype(np.int64).view(np.uint64)
        with np.errstate(over="ignore"):
            h = _mix(h ^ v)
    return h


def table_path(d, table):
    return Path(d) / f"{table}.parquet"


def parquet_glob(d, table):
    p = table_path(d, table)
    return str(p / "*.parquet") if p.is_dir() else str(p)


def seed_tables(base_dir, out_dir, tables, seed, files):
    """Rewrite `tables` from `base_dir` into `out_dir` for one seed.
    files == 1 keeps the layout of the repository's testdata: one file with
    one row group per table."""
    tmp = Path(str(out_dir) + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for t in tables:
        tbl = pq.read_table(table_path(base_dir, t))
        order = np.argsort(key_hash(t, tbl, seed, 1), kind="stable")
        if files == 1:
            pq.write_table(tbl.take(pa.array(order)), table_path(tmp, t),
                           row_group_size=max(1, tbl.num_rows), compression="snappy")
            continue
        place = key_hash(t, tbl, seed, 2) % np.uint64(files)
        d = table_path(tmp, t)
        d.mkdir()
        placed = place[order]
        for i in range(files):
            idx = order[placed == np.uint64(i)]
            pq.write_table(tbl.take(pa.array(idx)), d / f"part-{i:05d}.parquet",
                           compression="snappy")
    os.replace(tmp, out_dir)


def describe(d, tables):
    """Rows, bytes, files and an order-free content digest per table."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    out = {}
    for t in tables:
        p = table_path(d, t)
        parts = sorted(p.glob("*.parquet")) if p.is_dir() else [p]
        rows, digest = con.execute(
            f"SELECT count(*), CAST(sum(hash(t)) AS VARCHAR) FROM read_parquet('{parquet_glob(d, t)}') t"
        ).fetchone()
        out[t] = {"rows": rows, "bytes": sum(f.stat().st_size for f in parts),
                  "files": len(parts), "digest": hashlib.sha256(str(digest).encode()).hexdigest()[:16]}
    con.close()
    return out


def content_key(record):
    """Digest of the content (not the layout) of a set of input tables."""
    s = json.dumps({t: [r["rows"], r["digest"]] for t, r in sorted(record["tables"].items())})
    return hashlib.sha256(s.encode()).hexdigest()[:16]


def ensure_seeded(work, base_dir, layout, tables, seed, files, log):
    """The seeded input set for (layout, seed), built once and cached.
    Returns (directory, record)."""
    root = Path(work) / "data" / "seeded"
    d = root / f"{layout}-s{seed}"
    manifest = d / "_inputs.json"
    if not manifest.exists():
        t0 = time.time()
        shutil.rmtree(d, ignore_errors=True)
        seed_tables(base_dir, d, tables, seed, files)
        record = {"seed": seed, "layout": layout, "files_per_table": files,
                  "tables": describe(d, tables)}
        manifest.write_text(json.dumps(record, indent=1))
        log(f"seeded inputs {d.name} in {time.time() - t0:.1f}s")
        sets = sorted((p for p in root.glob(f"{layout}-s*") if p.is_dir() and p != d),
                      key=lambda p: p.stat().st_mtime)
        for old in sets[:max(0, len(sets) - KEEP_SEEDS + 1)]:
            shutil.rmtree(old, ignore_errors=True)
    os.utime(d)
    return d, json.loads(manifest.read_text())
