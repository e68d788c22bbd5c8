#!/usr/bin/env python3
"""Recompute the stored oracle answers of the benchmark's queries.

    python3 perfbench/oracle.py

Run from the root of a checkout. Builds the program as run.py does, asks
it for the DuckDB oracle SQL of every listed query (perfbench.OracleSql),
runs each in DuckDB over perfbench/data/sf0.01 and writes the answer to
perfbench/oracle/<query>.parquet. A run compares each query's answer
against these files. Answers whose DuckDB output types do not map onto
Spark's one to one (HUGEINT, DECIMAL, ...) are refused, as tools/check.py
refuses them.
"""
import json
import os
import re
import subprocess
import sys
import tempfile

import duckdb

import run

DATA = os.path.join(run.BENCH, "data", "sf0.01")
ORACLE = os.path.join(run.BENCH, "oracle")
SAFE_TYPES = re.compile(
    r"^(BOOLEAN|TINYINT|SMALLINT|INTEGER|BIGINT|FLOAT|DOUBLE|VARCHAR|DATE"
    r"|(VARCHAR|BIGINT|INTEGER|DOUBLE|FLOAT|BOOLEAN|DATE)\[\])$")


def main():
    cp = run.build(run.source_digest())
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "oracle_sql.json")
        subprocess.run(["java", "-cp", cp, "perfbench.OracleSql", out], check=True,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        with open(out) as fh:
            queries = json.load(fh)
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        table = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{os.path.join(DATA, f)}')")
    os.makedirs(ORACLE, exist_ok=True)
    for name, sql in sorted(queries.items()):
        rel = con.sql(sql)
        bad = [f"{c} {t}" for c, t in zip(rel.columns, map(str, rel.types))
               if not SAFE_TYPES.match(t)]
        if bad:
            sys.exit(f"oracle: {name}: output types Spark does not share: {', '.join(bad)}")
        target = os.path.join(ORACLE, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{target}' (FORMAT PARQUET)")
        rows = con.execute(f"SELECT count(*) FROM read_parquet('{target}')").fetchone()[0]
        print(f"{name}: {rows} rows")


if __name__ == "__main__":
    main()
