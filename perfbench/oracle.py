"""The analytics workload's correctness check: every sampled query's output
against its DuckDB oracle, under the canonicalization of the repository's
tools/check.py (str() per cell, sorted columns, sorted rows), which this
module imports rather than restates. A query with no oracle SQL must return
at least one row.
"""
import glob
import importlib.util
import os

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_module():
    spec = importlib.util.spec_from_file_location(
        "repo_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check(data_dir, out_dir, oracle_sql, names):
    """Returns (queries checked, list of failure strings)."""
    repo = _check_module()
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in repo.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
    bad = []
    for name in names:
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not files:
            bad.append(f"{name}: no output")
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        if name not in oracle_sql:
            if len(got) == 0:
                bad.append(f"{name}: no oracle and no rows")
            continue
        try:
            exp = con.sql(oracle_sql[name]).df()
        except Exception as e:
            bad.append(f"{name}: oracle SQL error {e}")
            continue
        if sorted(exp.columns) != sorted(got.columns):
            bad.append(f"{name}: columns {sorted(got.columns)} vs oracle "
                       f"{sorted(exp.columns)}")
        elif len(exp) != len(got):
            bad.append(f"{name}: {len(got)} rows vs oracle {len(exp)}")
        elif repo.canon_rows(got) != repo.canon_rows(exp):
            bad.append(f"{name}: values differ from the oracle")
    return len(names), bad
