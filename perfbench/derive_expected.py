#!/usr/bin/env python3
"""Derives perfbench/operators_expected.json: for every query of the
`operators` workload, the row count and order-independent hash of its
reference answer. The reference answer is the query's oracle SQL
(`graft.Queries.oracle`) run in DuckDB over perfbench/data/sf0.01, compared
the same way as tools/check.py: columns sorted by name, values normalised,
rows sorted.

Usage, from the repository root:  python3 perfbench/derive_expected.py
"""
import json
import pathlib
import subprocess
import sys

import duckdb

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import run  # noqa: E402


def main():
    run.build()
    work = run.WORK / "derive"
    work.mkdir(parents=True, exist_ok=True)
    sql_path = work / "oracle_sql.json"
    subprocess.run(run.java_cmd(["--dump-oracle", str(sql_path)], work), check=True,
                   stdin=subprocess.DEVNULL)
    oracle = json.loads(sql_path.read_text())

    con = duckdb.connect()
    for p in sorted(run.DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    queries = {}
    for name, sql in sorted(oracle.items()):
        rows, digest = run.table_digest(con.execute(sql).fetch_arrow_table())
        queries[name] = {"rows": rows, "hash": digest}
        print(f"{name}: {rows} rows", file=sys.stderr)
    run.EXPECTED.write_text(json.dumps({
        "data": "perfbench/data/sf0.01",
        "duckdb": duckdb.__version__,
        "queries": queries,
    }, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
