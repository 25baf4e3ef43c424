"""DuckDB oracle compare for the read_mix gate.

Each key's result, written as parquet by the harness, is compared with
DuckDB running the key's oracle SQL (`SparkEntry.oracleSql`) on the same
input tables, by the rule of tools/oracle_diff.py: columns sorted by
name, then the same column names, the same row count, and equal cells in
order (NaN equals NaN, arrays element-wise).
"""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell_eq(x, y):
    try:
        if pd.isna(x) and pd.isna(y):
            return True
    except (ValueError, TypeError):
        pass
    try:
        r = (x == y)
        if hasattr(x, "__len__"):
            return len(x) == len(y) and bool(getattr(r, "all", lambda: r)())
        return bool(r)
    except Exception:
        pass
    return str(x) == str(y)


def _suspects(a, b):
    """Rows the cell rule must look at: those a vectorized == does not
    already prove equal (all rows when the column cannot be vectorized)."""
    try:
        same = (a.values == b.values) | (a.isna().values & b.isna().values)
        if getattr(same, "shape", None) == (len(a),):
            return [int(i) for i in (~same).nonzero()[0]]
    except (ValueError, TypeError):
        pass
    return range(len(a))


def compare(data_dir, gate_dir):
    """Return {key: reason} for every key whose result differs."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(gate_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for key, sql in sorted(oracle.items()):
        # part files in name (= partition) order keep the result's order
        files = sorted(glob.glob(os.path.join(gate_dir, key, "*.parquet")))
        if not files:
            bad[key] = "no result written"
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
            want = con.sql(sql).df()
        except Exception as e:
            bad[key] = f"oracle error: {e}"
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        want = want.reindex(sorted(want.columns), axis=1)
        if list(got.columns) != list(want.columns):
            bad[key] = f"columns {list(got.columns)} vs {list(want.columns)}"
        elif len(got) != len(want):
            bad[key] = f"{len(got)} rows vs oracle {len(want)}"
        else:
            for c in got.columns:
                a, b = got[c], want[c]
                diffs = [i for i in _suspects(a, b)
                         if not _cell_eq(a.iloc[i], b.iloc[i])]
                if diffs:
                    i = diffs[0]
                    bad[key] = (f"column {c} row {i}: {a.iloc[i]!r} vs "
                                f"oracle {b.iloc[i]!r} ({len(diffs)} diffs)")
                    break
    con.close()
    return bad
