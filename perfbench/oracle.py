"""Output check: each key's dumped output against its DuckDB oracle.

The comparison is the one ``scripts/check.py`` applies: columns sorted by
name, rows sorted, every value hashed as a string. A key without an oracle
fails the check, so every workload key must be hash-gated.

A corpus never changes once written, so the oracle's side of the comparison
(columns, row count, value hash) is kept next to the corpus, keyed by the
oracle SQL, and DuckDB runs once per corpus and oracle.
"""
import glob
import hashlib
import json
import os
import shutil

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def summary(df):
    """Columns, row count and value hash of a normalised frame."""
    return {"columns": list(df.columns), "rows": len(df),
            "hash": int(pd.util.hash_pandas_object(df.astype(str), index=False).sum())}


def read_dump(d):
    files = sorted(glob.glob(f"{d}/*.parquet"))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()


class Oracle:
    def __init__(self, corpus_dir, spill_dir, mem):
        self.corpus_dir, self.spill_dir, self.mem = corpus_dir, spill_dir, mem
        self.con = None

    def _connect(self):
        os.makedirs(self.spill_dir, exist_ok=True)
        con = duckdb.connect()
        # the graph-CTE oracles grow large: cap memory well below the box and
        # spill inside the run directory
        con.execute(f"SET memory_limit='{self.mem}'")
        con.execute("SET threads=4")
        con.execute(f"SET temp_directory='{self.spill_dir}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.corpus_dir}/{t}.parquet'")
        return con

    def expected(self, sql):
        path = os.path.join(self.corpus_dir,
                            "oracle-" + hashlib.sha256(sql.encode()).hexdigest()[:24] + ".json")
        if os.path.exists(path):
            return json.load(open(path))
        if self.con is None:
            self.con = self._connect()
        s = summary(normalize(self.con.execute(sql).df()))
        with open(path + ".tmp", "w") as f:
            json.dump(s, f)
        os.replace(path + ".tmp", path)
        return s

    def close(self):
        if self.con is not None:
            self.con.close()
        shutil.rmtree(self.spill_dir, ignore_errors=True)


def check(out_dir, corpus_dir, keys, spill_dir, mem="2GB"):
    """Return {key: None if correct else reason}."""
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    oracle = Oracle(corpus_dir, spill_dir, mem)
    res = {}
    try:
        for k in keys:
            d = os.path.join(out_dir, "dump", k)
            if not os.path.isdir(d):
                res[k] = "no output"
                continue
            if k not in oracles:
                res[k] = "no oracle"
                continue
            try:
                g, e = summary(normalize(read_dump(d))), oracle.expected(oracles[k])
            except Exception as ex:  # oracle SQL or normalisation error
                res[k] = f"oracle error: {ex}"
                continue
            if g["columns"] != e["columns"]:
                res[k] = f"schema {g['columns']} != {e['columns']}"
            elif g["rows"] != e["rows"]:
                res[k] = f"rows {g['rows']} != {e['rows']}"
            elif g["hash"] != e["hash"]:
                res[k] = "value hash mismatch"
            else:
                res[k] = None
    finally:
        oracle.close()
    return res
