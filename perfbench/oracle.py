#!/usr/bin/env python3
"""DuckDB oracle for the query_catalog workload.

    python3 oracle.py DATA_DIR SQL_JSON OUT_JSON

Registers every DATA_DIR/<table>.parquet as a view named after the table
(as the repository's oracle check does), runs each oracle SQL of SQL_JSON
({"q_name": "SELECT ..."}) and writes OUT_JSON:
{"q_name": {"columns": [...], "types": [...], "rows": [[...], ...]}}.
Floats are written with all their digits (repr), so the JVM side compares
exact values with the same tolerance as the repository's oracle check.
"""
import datetime
import decimal
import glob
import json
import os
import sys

import duckdb


def plain(v):
    if isinstance(v, dict):
        return [plain(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [plain(x) for x in v]
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime, datetime.time)):
        return v.isoformat()
    return v


def main():
    data, sql_json, out_json = sys.argv[1:4]
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        table = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{f}'")
    with open(sql_json) as f:
        oracles = json.load(f)
    out = {}
    for name, sql in sorted(oracles.items()):
        rel = con.sql(sql)
        out[name] = {"columns": list(rel.columns), "types": [str(t) for t in rel.types],
                     "rows": [[plain(v) for v in row] for row in rel.fetchall()]}
    with open(out_json, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
