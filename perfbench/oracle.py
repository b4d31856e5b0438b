#!/usr/bin/env python3
"""Checks query outputs against DuckDB oracle SQL.

    python3 perfbench/oracle.py TABLES_DIR ORACLE_SQL_JSON OUT_DIR...

TABLES_DIR holds one parquet directory per table (`<name>.parquet`);
ORACLE_SQL_JSON maps each query name to its oracle SQL; each OUT_DIR holds
a query's rows as parquet under `<name>/`. The comparison is the library's
`tools/selfcheck.py` rule: columns sorted by name, rows sorted, every value
compared exactly as text (floats by `repr`, NaN equal to NaN). Prints one
`PASS` or `FAIL` line per (OUT_DIR, query); exits 0 when the oracle ran,
whatever the comparison found.
"""
import glob
import json
import math
import os
import sys

import duckdb


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(norm(r[i]) for i in order) for r in cur.fetchall())


def main(tables_dir, sql_file, out_dirs):
    con = duckdb.connect()
    for d in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(d)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{d}/*.parquet')")
    with open(sql_file) as fh:
        oracle = json.load(fh)
    expected = {name: rows(con, sql) for name, sql in sorted(oracle.items())}
    for out in out_dirs:
        for name, (ecols, erows) in expected.items():
            files = glob.glob(os.path.join(out, name, "*.parquet"))
            if not files:
                print(f"FAIL {name} in {out}: no output")
                continue
            gcols, grows = rows(con, f"SELECT * FROM read_parquet({files!r})")
            if gcols != ecols:
                print(f"FAIL {name} in {out}: columns {gcols} != {ecols}")
            elif len(grows) != len(erows):
                print(f"FAIL {name} in {out}: {len(grows)} rows != {len(erows)}")
            else:
                bad = [(a, b) for a, b in zip(grows, erows) if a != b]
                if bad:
                    print(f"FAIL {name} in {out}: {len(bad)}/{len(erows)} rows differ; first {bad[0][0]} != {bad[0][1]}")
                else:
                    print(f"PASS {name} in {out} ({len(erows)} rows)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
