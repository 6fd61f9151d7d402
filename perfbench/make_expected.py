"""Regenerates perfbench/data/expected_rows.json: the row count of every
SparkEntry board entry at each shipped scale, from the DuckDB oracle SQL
(`SparkEntry.oracleSql`) run over the shipped tables.

    python3 perfbench/make_expected.py

Run it from the root of a checkout after a change to the board or its
oracle SQL. It needs the duckdb Python package; the benchmark itself does
not.
"""
import json
import os
import subprocess
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

DATA = os.path.join(build.ROOT, "perfbench", "data")
SCALES = ("sf0.001", "sf0.01")


def main():
    cp = build.build()
    with tempfile.TemporaryDirectory() as tmp:
        sql_file = os.path.join(tmp, "oracle_sql.json")
        subprocess.run(["java", "-cp", cp, "graftbench.Main",
                        "--dump-oracle-sql", sql_file], check=True)
        with open(sql_file) as fh:
            oracle = json.load(fh)
    out = {}
    for scale in SCALES:
        con = duckdb.connect()
        for f in sorted(os.listdir(os.path.join(DATA, scale))):
            if f.endswith(".parquet"):
                path = os.path.join(DATA, scale, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        out[scale] = {}
        for name in sorted(oracle):
            try:
                out[scale][name] = con.execute(
                    f"SELECT count(*) FROM ({oracle[name]}) AS q").fetchone()[0]
            except duckdb.Error as e:
                print(f"{scale} {name}: oracle SQL failed: {e}", file=sys.stderr)
        con.close()
    with open(os.path.join(DATA, "expected_rows.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
