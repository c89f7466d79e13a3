"""Oracle checks: a result the program wrote is compared with DuckDB
running the repository's own oracle SQL over exactly the inputs the
workload gave the program. Values are normalized and compared by
`tools/check.py`, imported unchanged."""
import glob
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check import TABLES, rows_of  # noqa: E402


def substitute(sql, slicers):
    """Put the run's slicer values into a sliced oracle in place of the
    values its registered text fixes. A text without the fixed value is an
    error, so a changed oracle cannot silently compare the wrong slice."""
    subs = {
        "'Nation_7'": f"'{slicers['country']}'",
        "'Promo'": f"'{slicers['category']}'",
        "BETWEEN 19970101000000 AND 19971231235959":
            f"BETWEEN {slicers['year']}0101000000 AND {slicers['year']}1231235959",
    }
    hit = False
    for old, new in subs.items():
        if old in sql:
            sql, hit = sql.replace(old, new), True
    if not hit:
        raise ValueError("sliced oracle holds none of the slicer literals")
    return sql


def connect(raw_dir, docs_dir=None):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        d = docs_dir if (t == "documents" and docs_dir) else raw_dir
        p = f"{d}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def read_result(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no result parquet under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def compare(result_df, oracle_df):
    """None when equal, else what differs (check.py's rules: column names,
    row count, then every value with rows sorted)."""
    sc, sr = rows_of(result_df)
    dc, dr = rows_of(oracle_df)
    if sc != dc:
        return f"columns {sc} != oracle {dc}"
    if len(sr) != len(dr):
        return f"{len(sr)} rows != oracle {len(dr)}"
    bad = [i for i, (a, b) in enumerate(zip(sr, dr)) if a != b]
    if bad:
        return f"{len(bad)}/{len(sr)} rows differ, first: {sr[bad[0]]} != {dr[bad[0]]}"
    return None


def run_checks(checks, oracle_sql, raw_dir, slicers=None, workers=4):
    """Run every check the program listed, a few at a time; return
    (passed, failures)."""
    cons = {}

    def one(c):
        name, docs = c["oracle"], c["inputs"]
        sql = oracle_sql.get(name)
        if sql is None:
            return f"{name}: no registered oracle"
        docs_dir = docs if os.path.exists(f"{docs}/documents.parquet") else None
        try:
            if "_sliced" in name:
                sql = substitute(sql, slicers)
            cur = cons[docs_dir].cursor()
            try:
                diff = compare(read_result(c["path"]), cur.execute(sql).df())
            finally:
                cur.close()
        except Exception as e:  # a failed oracle or unreadable result is a failed check
            diff = f"{type(e).__name__}: {e}"
        return f"{name} ({os.path.basename(docs)}): {diff}" if diff else None

    for c in checks:
        d = c["inputs"] if os.path.exists(f"{c['inputs']}/documents.parquet") else None
        if d not in cons:
            cons[d] = connect(raw_dir, d)
    with ThreadPoolExecutor(workers) as pool:
        results = list(pool.map(one, checks))
    for con in cons.values():
        con.close()
    failures = [r for r in results if r]
    return len(results) - len(failures), failures
