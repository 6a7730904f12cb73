"""Runs one oracle SQL file with DuckDB and writes its result as parquet.

Usage: python3 oracle.py <query.sql> <out.parquet>
"""
import os
import sys

import duckdb


def main() -> None:
    sql_file, out = sys.argv[1], sys.argv[2]
    with open(sql_file, encoding="utf-8") as f:
        sql = f.read()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    tmp = os.path.join(os.path.dirname(out), "duckdb-tmp")
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
    con.close()


if __name__ == "__main__":
    main()
