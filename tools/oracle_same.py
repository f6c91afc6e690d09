#!/usr/bin/env python3
"""Proves an oracle refactor changed text, not results.

Compares two oracle_sql.json dumps (Verify.scala writes one per run).
Every row whose SQL text differs is run in DuckDB in both versions over
the same sf tables, and the two results are compared the way
tools/check.py compares a row with its oracle (its `canon`: columns
sorted by name, rows sorted, values compared as text). Usage:

    python3 tools/oracle_same.py <sfDir> <old oracle_sql.json> <new oracle_sql.json>

Prints SAME or DIFF per changed row, then a summary. Exits non-zero on
any DIFF and on any row name present in only one file.
"""
import importlib.util
import json
import sys
from pathlib import Path

import duckdb


def _check_module():
    spec = importlib.util.spec_from_file_location(
        "graft_check", Path(__file__).resolve().parent / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run(con, chk, sql):
    try:
        return chk.canon(con.sql(sql).df()), None
    except Exception as e:
        return None, str(e).splitlines()[0]


def _differs(old, new):
    """None when the canonical results are equal, else the reason."""
    if list(old.columns) != list(new.columns):
        return f"columns {list(old.columns)} != {list(new.columns)}"
    if len(old) != len(new):
        return f"rows {len(old)} != {len(new)}"
    if not old.astype(str).equals(new.astype(str)):
        n = int((old.astype(str) != new.astype(str)).any(axis=1).sum())
        return f"values differ in {n}/{len(old)} rows"
    return None


def main(sf_dir: str, old_path: str, new_path: str) -> int:
    chk = _check_module()
    old, new = json.load(open(old_path)), json.load(open(new_path))
    bad = same = 0
    for name in sorted(old.keys() ^ new.keys()):
        print(f"DIFF {name}: only in {'old' if name in old else 'new'}")
        bad += 1
    con = duckdb.connect()
    for t in chk.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")
    changed = [n for n in sorted(old.keys() & new.keys()) if old[n] != new[n]]
    for name in changed:
        a, a_err = _run(con, chk, old[name])
        b, b_err = _run(con, chk, new[name])
        if a_err or b_err:
            why = f"old error: {a_err}" if a_err else f"new error: {b_err}"
        else:
            why = _differs(a, b)
        if why:
            print(f"DIFF {name}: {why}")
            bad += 1
        else:
            print(f"SAME {name} ({len(a)} rows)")
            same += 1
    print(f"== {len(changed)} changed: {same} same, {bad} diff; "
          f"{len(old.keys() & new.keys()) - len(changed)} unchanged")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))
