"""DuckDB oracle check of the query outputs, compared the way the repo's
tools/compare_oracle.py compares them: columns sorted by name, rows sorted
by every column, cells compared as strings with nulls equal."""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def mismatch(got, want):
    """None when equal, else a one-line reason."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        try:
            eq = (g.astype(str) == w.astype(str)) | (g.isna() & w.isna())
        except Exception:
            eq = pd.Series([str(a) == str(b) for a, b in zip(g, w)])
        if not eq.all():
            i = eq[~eq].index[0]
            return f"column {c} row {i}: {g[i]!r} != {w[i]!r}"
    return None


def answers(tpch_dir, sql_file):
    """{query: oracle answer, or the error an oracle raised}; one DuckDB
    thread, as it runs beside the engine's set-up."""
    with open(sql_file) as f:
        sqls = json.load(f)
    con = duckdb.connect(config={"threads": 1})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tpch_dir}/{t}.parquet')")
    out = {}
    for name, sql in sqls.items():
        try:
            out[name] = con.execute(sql).df()
        except Exception as e:  # an oracle that fails to run is a failed check
            out[name] = f"oracle error: {e}"
    con.close()
    return out


def check(answers, out_dir):
    """[(query, reason or None)] for every query with an oracle answer;
    a query without one fails."""
    results = []
    for name in sorted(set(answers) | {os.path.basename(d) for d in
                                       glob.glob(os.path.join(out_dir, "*"))}):
        want = answers.get(name, "no oracle answer")
        if isinstance(want, str):
            results.append((name, want))
        elif not glob.glob(os.path.join(out_dir, name, "*.parquet")):
            results.append((name, "no output"))
        else:
            results.append((name, mismatch(pd.read_parquet(os.path.join(out_dir, name)), want)))
    return results
