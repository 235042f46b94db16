#!/usr/bin/env python3
"""Check recorded pipeline results against the DuckDB oracle.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 1 --trace 0 --record OUT
    python3 perfbench/oracle_check.py OUT

`--record` writes each query's result as parquet, the queries' oracle
SQL, the input tables' directory and the result digests. This
script runs each oracle query in DuckDB over those tables and compares
(columns by name, rows as a sorted multiset, exact values). When every
query passes, OUT/digests.json may replace perfbench/digests.json.
"""
import glob
import json
import math
import os
import sys

import duckdb


def canon(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, (int, float)):
        f = float(v)
        return ("num", "nan" if math.isnan(f) else f)
    if isinstance(v, (list, tuple)):
        return ("list", tuple(canon(x) for x in v))
    return (type(v).__name__, str(v))


def table(rel):
    order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    rows = sorted(tuple(canon(r[i]) for i in order) for r in rel.fetchall())
    return [rel.columns[i] for i in order], rows


def main():
    out = sys.argv[1]
    with open(os.path.join(out, "tables_dir")) as fh:
        tables = fh.read().strip()
    con = duckdb.connect()
    for t in sorted(f[:-len(".parquet")] for f in os.listdir(tables)
                    if f.endswith(".parquet")):
        con.sql("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')"
                % (t, tables, t))
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = 0
    for name in sorted(oracle):
        files = glob.glob(os.path.join(out, name, "*.parquet"))
        ecols, exp = table(con.sql(oracle[name]))
        gcols, got = table(con.sql("SELECT * FROM read_parquet(%r)" % files))
        if (ecols, exp) != (gcols, got):
            bad += 1
            diff = next((i for i, (g, e) in enumerate(zip(got, exp)) if g != e), None)
            print("FAIL %s: columns %s vs %s, rows %d vs %d, first differing row %s"
                  % (name, gcols, ecols, len(got), len(exp), diff))
        else:
            print("PASS %s (%d rows)" % (name, len(exp)))
    print("== %d/%d pass ==" % (len(oracle) - bad, len(oracle)))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
