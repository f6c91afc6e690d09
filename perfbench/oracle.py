"""Checks each row's output against the DuckDB oracle.

The output of a row's first pass is dumped as parquet by the harness.
A row with an oracle SQL passes when DuckDB's result over the same
input tables equals it under the canonical compare of `tools/check.py`
(columns sorted by name, rows sorted, values compared as text). A row
without an oracle passes when it produced at least one row. A row that
produced no rows fails either way.
"""
import glob
import importlib.util
import os
from pathlib import Path


def _check_module(root: Path):
    spec = importlib.util.spec_from_file_location(
        "graft_check", root / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check(root: Path, data_dir: str, out_dir: str, oracles: dict) -> dict:
    """row name -> None when the output is right, else the reason."""
    import duckdb
    import pandas as pd
    chk = _check_module(root)
    con = duckdb.connect()
    for t in chk.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    verdicts = {}
    for name, sql in sorted(oracles.items()):
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            verdicts[name] = "no output dumped"
            continue
        try:
            got = chk.canon(pd.concat([pd.read_parquet(f) for f in files]))
        except Exception as e:
            verdicts[name] = f"output sort error: {str(e).splitlines()[0]}"
            continue
        if len(got) == 0:
            verdicts[name] = "produced no rows"
            continue
        if sql is None:
            verdicts[name] = None
            continue
        try:
            exp = chk.canon(con.sql(sql).df())
        except Exception as e:
            verdicts[name] = f"oracle error: {str(e).splitlines()[0]}"
            continue
        if list(got.columns) != list(exp.columns):
            verdicts[name] = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(got) != len(exp):
            verdicts[name] = f"rows {len(got)} != {len(exp)}"
        elif not got.astype(str).equals(exp.astype(str)):
            diff = int((got.astype(str) != exp.astype(str)).any(axis=1).sum())
            verdicts[name] = f"values differ in {diff}/{len(got)} rows"
        else:
            verdicts[name] = None
    con.close()
    return verdicts
