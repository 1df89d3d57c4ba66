"""Records the query mix's goldens: row count and order-insensitive digest
of every key's result on the generated tables, cross-checked once against
the key's DuckDB twin (`SparkEntry.oracleSql`) where one exists.

Usage (from the repository root): python3 perfbench/goldens.py

Run it on the commit whose results the benchmark should hold the program
to; it rewrites perfbench/goldens.json.
"""
import json
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import run  # noqa: E402


def main():
    build.build()
    run_dir, plan, _ = run.prepare("query_mix", 0, 0, 0)
    plan.update(record_only=True)
    record, _ = run.run_jvm(plan, run_dir)
    with open(os.path.join(plan["work_dir"], "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in os.listdir(plan["tables_dir"]):
        con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(plan['tables_dir'], t)}'")
    keys = {}
    for k in sorted(plan["keys"]):
        rows, digest = checks.result_digest(
            *checks.read_result(os.path.join(plan["work_dir"], "results", k)))
        twin = "none"
        if k in oracle:
            try:
                rel = con.execute(oracle[k])
                cols = [c[0] for c in rel.description]
                twin = "match" if checks.result_digest(cols, rel.fetchall()) == (rows, digest) \
                    else "mismatch"
            except duckdb.Error as e:
                twin = f"error: {str(e).splitlines()[0][:120]}"
        keys[k] = {"rows": rows, "hash": digest, "duckdb": twin}
        print(f"{k:<32} rows={rows:<6} duckdb={twin}")
    with open(checks.GOLDENS, "w") as f:
        json.dump({"scale": plan["scale"], "failures": record["failures"], "keys": keys},
                  f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
