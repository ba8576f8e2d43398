#!/usr/bin/env python3
"""Regenerate the benchmark's expected results from DuckDB alone.

    python3 perfbench/oracle.py                # digests from oracle/sql.json
    python3 perfbench/oracle.py --refresh-sql  # first re-read the SQL

For every query of every workload in workloads.json, runs the oracle SQL
kept in perfbench/oracle/sql.json in DuckDB over the sf0.1 parquet tables
and writes the digest of its normalised result (run.py's `digest`, the
normalisation of tools/check_correctness.py) to perfbench/oracle/digests.json.
The program is not involved. --refresh-sql first copies the SQL out of
SparkEntry.oracleSql (this compiles and starts the JVM, but runs no query).
"""
import argparse
import json
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import run  # noqa: E402  (perfbench/run.py)

SQL = run.HERE / "oracle" / "sql.json"
DIGESTS = run.HERE / "oracle" / "digests.json"


def all_queries():
    return sorted({q for qs in run.workloads().values() for q in qs})


def refresh_sql(queries):
    run.build()
    work = run.RUNS / "oracle-sql"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        subprocess.run(run.jvm(work, ["--mode", "oracle-sql", "--queries",
                                      ",".join(queries), "--out", str(SQL)]),
                       cwd=work, check=True, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, timeout=600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not any(run.RUNS.iterdir()):
            run.RUNS.rmdir()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--refresh-sql", action="store_true")
    a = ap.parse_args()
    queries = all_queries()
    if a.refresh_sql:
        refresh_sql(queries)
    import duckdb
    sql = json.loads(SQL.read_text())
    data = run.data_dir()
    con = duckdb.connect()
    for t in run.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    out = {}
    for q in queries:
        out[q] = run.digest(con.execute(sql[q]).fetchdf())
        print(f"{q}: {out[q]['rows']} rows", file=sys.stderr)
    DIGESTS.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
