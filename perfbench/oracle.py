"""Run one query key's DuckDB oracle over a generated `documents` table.

Usage: python3 perfbench/oracle.py <sql file> <documents.parquet dir> <out file>

Writes the result as one line per row: the columns sorted by name, values
joined with '|'. CTEs are executed as MATERIALIZED: the same results, but
each CTE is computed once instead of once per reference.
"""
import re
import sys

import duckdb


def main(sql_path: str, docs_dir: str, out_path: str) -> int:
    sql = open(sql_path).read()
    sql = re.sub(r"(?m)^(WITH\s+|\s*)([A-Za-z_][A-Za-z0-9_]*) AS \(",
                 r"\1\2 AS MATERIALIZED (", sql)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_dir}/*.parquet'")
    rel = con.execute(sql)
    names = [d[0] for d in rel.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    lines = sorted("|".join(str(row[i]) for i in order) for row in rel.fetchall())
    with open(out_path, "w") as f:
        f.write("".join(line + "\n" for line in lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
