"""Output checks of a benchmark run against DuckDB over the same tables.

The comparison is the one tools/check.py makes: columns sorted by name,
same row count, values exactly equal in order. DuckDB's answers are
cached per (SQL text, table files) under the cache directory, so only a
checkout's first run of a query pays for the oracle.
"""
import glob
import hashlib
import os
import pickle

import duckdb
import pandas as pd


def _connect(data):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def _data_key(data):
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


class Oracle:
    def __init__(self, data, cache):
        self.data, self.cache = data, cache
        self.key = _data_key(data)
        self._con = None
        os.makedirs(cache, exist_ok=True)

    @property
    def con(self):
        if self._con is None:
            self._con = _connect(self.data)
        return self._con

    def _cached(self, kind, sql, compute):
        h = hashlib.sha256(f"{kind}\0{self.key}\0{sql}".encode()).hexdigest()
        path = os.path.join(self.cache, f"{kind}-{h[:24]}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        value = compute()
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(value, f)
        os.replace(tmp, path)
        return value

    def answer(self, sql):
        return self._cached("answer", sql, lambda: self.con.sql(sql).df())

    def columns(self, sql):
        return self._cached("columns", sql, lambda: list(self.con.sql(sql).columns))


def compare(got, want):
    """None if equal, else a one-line reason."""
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    try:
        pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True),
                                      check_dtype=False, check_exact=True)
    except AssertionError as e:
        lines = str(e).strip().splitlines()
        return f"values differ: {lines[0] if lines else e}"
    return None


def check(data, cache, rec, ddl_paths):
    """Problems found in a harness record, one line each. `ddl_paths` maps
    each mura-form CREATE EXTERNAL TABLE op to the file it registers."""
    oracle_sql = rec["oracle_sql"]
    o = Oracle(data, cache)
    problems = []
    for d in rec["dumps"]:
        name = d["name"]
        try:
            got = duckdb.sql(f"SELECT * FROM '{d['path']}/*.parquet'").df()
            why = compare(got, o.answer(oracle_sql[name]))
        except Exception as e:  # a broken dump or oracle is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            problems.append(f"pass {d['pass']} {name}: {why}")
    for name, cols in rec["columns"].items():
        path = ddl_paths.get(name)
        sql = f"SELECT * FROM '{path}'" if path else oracle_sql[name]
        try:
            want = o.columns(sql)
        except Exception as e:
            problems.append(f"{name}: oracle failed: {type(e).__name__}: {e}")
            continue
        if cols != want:
            problems.append(f"{name}: columns {cols} != oracle {want}")
    return problems
