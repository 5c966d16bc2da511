"""Correctness checks of the benchmark, run after the timed work.

Engine output and reference are compared after the project's hash canon
(the rules of `tools/verify_local.py`, STRICT mode): columns sorted by
name, rows sorted, doubles rounded to 9 decimal places, NaN/0 merged as
there, and dtype kinds must match. The reference of a query is its
`SparkEntry.oracleSql` twin run by DuckDB on the exact input the run
used; DuckDB results are cached per (input directory, SQL) digest, since
every analytics run reads the same generated input.
"""
import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            out[c] = s.astype(str)
        elif np.issubdtype(s.dtype, np.floating):
            out[c] = s.map(lambda x: "NaN" if pd.isna(x)
                           else "0" if x == 0 else f"{x:.9f}")
        elif np.issubdtype(s.dtype, np.integer):
            out[c] = s.astype("int64").astype(str)
        else:
            out[c] = s.astype(str)
    r = pd.DataFrame(out)
    if len(r.columns):
        r = r.sort_values(by=list(r.columns))
    return r.reset_index(drop=True)


def digest(df):
    """Hash of the canonical form plus the column dtype kinds."""
    kinds = {c: df[c].dtype.kind for c in df.columns}
    c = canon(df)
    h = hashlib.sha256(json.dumps([list(c.columns), sorted(kinds.items()),
                                   len(c)]).encode())
    h.update(pd.util.hash_pandas_object(c, index=False).values.tobytes())
    return {"hash": h.hexdigest(), "rows": len(c), "kinds": kinds,
            "columns": list(c.columns)}


def read_dir(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def explain(mine, ref):
    """One line on how two digests differ."""
    if mine["columns"] != ref["columns"]:
        return f"columns {mine['columns']} vs {ref['columns']}"
    drift = {c: (mine["kinds"][c], ref["kinds"][c]) for c in mine["kinds"]
             if mine["kinds"][c] != ref["kinds"].get(c)}
    if drift:
        return f"dtype kinds {drift}"
    if mine["rows"] != ref["rows"]:
        return f"{mine['rows']} rows vs {ref['rows']}"
    return "values differ"


class Oracle:
    def __init__(self, data_dir, cache_dir, threads=4):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.con = None
        self.threads = threads
        os.makedirs(cache_dir, exist_ok=True)

    def _con(self):
        if self.con is None:
            self.con = duckdb.connect()
            self.con.execute(f"SET threads = {self.threads}")
            for t in TABLES:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                if os.path.exists(p):
                    self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                     f"read_parquet('{p}')")
        return self.con

    def reference(self, sql):
        key = hashlib.sha256((self.data_dir + "\0" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        d = digest(self._con().execute(sql).df())
        with open(path + ".tmp", "w") as f:
            json.dump(d, f)
        os.replace(path + ".tmp", path)
        return d

    def compare(self, name, sql, engine_dir):
        """None when the engine output equals the oracle, else a reason."""
        got = read_dir(engine_dir)
        if got is None:
            return f"{name}: no engine output"
        try:
            ref = self.reference(sql)
        except Exception as e:  # an oracle that cannot run is a mismatch
            return f"{name}: oracle failed: {type(e).__name__}: {e}"
        mine = digest(got)
        if mine["hash"] == ref["hash"]:
            return None
        return f"{name}: {explain(mine, ref)}"


def same_rows(got_dir, ref_df, rel=1e-9):
    """Compare a Spark-written table with a reference frame: the same rows
    (by every non-float column) and floats equal within `rel` relative to
    max(1, |value|). A streamed window's sums are folded across
    micro-batches, the batch replay's in one pass, so the two differ by
    float reassociation (up to ~6e-10 seen), which can flip the 9th decimal
    the hash canon keeps."""
    got = read_dir(got_dir)
    if got is None:
        return "no engine output"
    if sorted(got.columns) != sorted(ref_df.columns):
        return f"columns {sorted(got.columns)} vs {sorted(ref_df.columns)}"
    cols = sorted(got.columns)
    fl = [c for c in cols if got[c].dtype.kind == "f"]
    keys = [c for c in cols if c not in fl]
    a = canon(got[keys]).reset_index(drop=True)
    b = canon(ref_df[keys]).reset_index(drop=True)
    if len(got) != len(ref_df) or not a.equals(b):
        return f"{len(got)} rows vs {len(ref_df)}, or their keys differ"
    ga = got.sort_values(keys).reset_index(drop=True)
    rb = ref_df.sort_values(keys).reset_index(drop=True)
    worst = 0.0
    for c in fl:
        x, y = ga[c].to_numpy(float), rb[c].to_numpy(float)
        both_nan = np.isnan(x) & np.isnan(y)
        err = np.abs(x - y) / np.maximum(1.0, np.maximum(np.abs(x), np.abs(y)))
        err = np.where(both_nan, 0.0, np.nan_to_num(err, nan=np.inf))
        worst = max(worst, float(err.max(initial=0.0)))
        if worst > rel:
            return f"{c} differs by {worst:.3g} (relative)"
    return None
