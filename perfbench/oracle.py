#!/usr/bin/env python3
"""Run oracle SQL in DuckDB over a directory of fixture-schema parquet tables.

Usage: python3 perfbench/oracle.py <data_dir> <oracle_sql.json> <out_dir>

Registers each <data_dir>/<table>.parquet (a file or a directory of part
files) as a view, runs every {name: sql} entry of the JSON file and writes
the result to <out_dir>/<name>.parquet. The harness compares those files
with the program's outputs.
"""
import json
import os
import sys

import duckdb

TABLES = ["events", "documents", "embeddings"]


def main():
    data_dir, sql_file, out_dir = sys.argv[1:4]
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    os.makedirs(out_dir, exist_ok=True)
    with open(sql_file) as f:
        queries = json.load(f)
    for name, sql in queries.items():
        dst = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{dst}' (FORMAT PARQUET)")


if __name__ == "__main__":
    main()
