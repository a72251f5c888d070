#!/usr/bin/env python3
"""Check engine query results against their DuckDB oracle SQL.

Usage: python3 perfbench/oracle.py TABLES_DIR RESULTS_DIR

RESULTS_DIR holds `oracle_sql.json`, a map from query name to ANSI SQL
that DuckDB runs over the same tables, and one parquet directory per query
(written by the engine). Query names arrive on stdin, one a line, each once
its result is written, so results are checked while later ones are still
being written. A query without oracle SQL is checked
for a readable, non-empty result only. Columns are compared sorted by
name and rows sorted by every column (`normalize` of the repository's
`tools/check_oracle.py`); integer columns must stay integer and float
cells must be equal (NaN equals NaN), as that gate requires.

Answers each name with one JSON line on stdout: {query name: "ok" or the
reason it failed}.
"""
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

# the repository's oracle gate: its table list and its normalization
# (columns by name, rows by every column, lists as tuples)
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from check_oracle import TABLES, normalize  # noqa: E402


def compare(got, exp):
    """None when equal, else the first difference found."""
    g, e = normalize(got), normalize(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != oracle {list(e.columns)}"
    if len(g) != len(e):
        return f"{len(g)} rows != oracle {len(e)}"
    for c in g.columns:
        gv, ev = g[c], e[c]
        if pd.api.types.is_integer_dtype(gv) != pd.api.types.is_integer_dtype(ev):
            return f"{c}: dtype {gv.dtype} != oracle {ev.dtype}"
        if pd.api.types.is_float_dtype(gv) or pd.api.types.is_float_dtype(ev):
            ga, ea = gv.astype(float).to_numpy(), ev.astype(float).to_numpy()
            bad = ~((ga == ea) | (np.isnan(ga) & np.isnan(ea)))
            if bad.any():
                i = int(np.argmax(bad))
                return f"{c}: {int(bad.sum())} cells differ, e.g. {ga[i]!r} vs {ea[i]!r}"
        else:
            neq = (gv != ev) & ~(gv.isna() & ev.isna())
            if neq.any():
                i = int(np.argmax(neq.to_numpy()))
                return f"{c}: {int(neq.sum())} cells differ, e.g. {gv.iloc[i]!r} vs {ev.iloc[i]!r}"
    return None


def main(tables_dir, results_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 1")  # leaves the cores to the engine
    for t in TABLES:
        path = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.isdir(path):  # a Spark-written table: a directory of parts
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    oracle = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    for line in sys.stdin:
        name = line.strip()
        try:
            got = pd.read_parquet(os.path.join(results_dir, name))
            if name not in oracle:
                why = None if len(got) > 0 else "empty result (no oracle)"
            else:
                why = compare(got, con.execute(oracle[name]).fetchdf())
        except Exception as e:  # a broken oracle or result is a failure
            why = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        print(json.dumps({name: why or "ok"}), flush=True)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
