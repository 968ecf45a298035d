"""DuckDB side of the benchmark's correctness checks.

  python3 oracle.py <data_dir> <sql.json> <out_dir>

Runs each registered oracle SQL of `sql.json` ({name: sql}) over the
generated inputs and writes `<out_dir>/<name>.parquet`. Every
`<data_dir>/<table>.parquet` is a view named `<table>`, the layout
`tools/check_oracle.py` uses.
"""
import json
import os
import sys

import duckdb


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                        f"SELECT * FROM read_parquet('{path}')")
    return con


def run_sql(data_dir, sql_path, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    with open(sql_path) as fh:
        queries = json.load(fh)
    with connect(data_dir) as con:
        for name, sql in sorted(queries.items()):
            out = os.path.join(out_dir, f"{name}.parquet")
            con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")


if __name__ == "__main__":
    run_sql(*sys.argv[1:4])
