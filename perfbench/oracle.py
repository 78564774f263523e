"""DuckDB oracle compare for the query workload: each query's parquet
output against its oracle SQL over the same tables, after sorting columns
by name and rows by value (the rule scripts/check_oracle.py applies)."""
import json
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd


def compare(tables_dir, out_dir):
    """Returns ({query: None or failure detail}, total result rows)."""
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(tables_dir, f)}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    def one(item):
        name, sql = item
        try:
            got = pd.read_parquet(os.path.join(out_dir, name))
            want = con.cursor().sql(sql).df()
        except Exception as e:  # a missing or unreadable output is a failed check
            return name, f"{type(e).__name__}: {e}"[:300], 0
        got = got.reindex(sorted(got.columns), axis=1)
        want = want.reindex(sorted(want.columns), axis=1)
        if list(got.columns) != list(want.columns):
            return name, f"columns {list(got.columns)} vs {list(want.columns)}", len(got)
        g = got.sort_values(by=list(got.columns), ignore_index=True)
        w = want.sort_values(by=list(want.columns), ignore_index=True)
        if len(g) != len(w):
            return name, f"rows {len(g)} vs {len(w)}", len(got)
        if not g.equals(w):
            diff = (g != w) & ~(g.isna() & w.isna())
            cells = list(zip(*diff.to_numpy().nonzero()))[:3]
            return name, "values differ: " + str(
                [(int(r), g.columns[c], g.iat[r, c], w.iat[r, c]) for r, c in cells])[:300], len(got)
        return name, None, len(got)

    with ThreadPoolExecutor(4) as pool:
        results = list(pool.map(one, sorted(oracles.items())))
    return {n: v for n, v, _ in results}, sum(r for _, _, r in results)
