"""Compares the query-mix outputs with DuckDB running each query's oracle
SQL over the same tables: columns sorted by name, rows sorted by every
column, cells compared exactly (NaN equals NaN, null equals null)."""
import json
import math
import os

TABLES = ["region", "nation", "customer", "orders", "lineitem"]


def _canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same(a, b):
    import pandas as pd
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def compare(tables_dir, outputs_dir):
    """Returns one line per query whose output differs from its oracle."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for t in TABLES:
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, tables_dir, t))
    with open(os.path.join(outputs_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name, sql in sorted(oracle.items()):
        got = _canon(pd.read_parquet(os.path.join(outputs_dir, name)))
        exp = _canon(con.sql(sql).df())
        if list(got.columns) != list(exp.columns):
            bad.append("%s: columns %s vs %s" % (name, list(got.columns), list(exp.columns)))
        elif len(got) != len(exp):
            bad.append("%s: %d rows vs %d" % (name, len(got), len(exp)))
        elif len(got) == 0:
            bad.append("%s: no rows" % name)
        else:
            for j, c in enumerate(got.columns):
                diff = [i for i, (x, y) in enumerate(zip(got[c].tolist(), exp[c].tolist()))
                        if not _same(x, y)]
                if diff:
                    i = diff[0]
                    bad.append("%s: %d cells of %s differ, row %d: %r vs %r"
                               % (name, len(diff), c, i, got[c][i], exp[c][i]))
                    break
    return bad
