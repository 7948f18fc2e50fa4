#!/usr/bin/env python3
"""Cross-check the pinned row counts of the catalog workload with DuckDB.

Usage, from the root of a checkout, after one benchmark run has built it:

    python3 perfbench/pin_check.py

For every pinned query that has an oracle SQL (SparkEntry.oracleSql),
runs the SQL in DuckDB over the benchmark's data and compares the row
count with the pin. Exits 1 on any mismatch.
"""
import os
import subprocess
import sys
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
DATA = HERE / "data" / "sf0.01"


def main():
    pins = {}
    for line in (HERE / "pins" / "catalog_sf001.tsv").read_text().splitlines():
        if line.strip() and not line.startswith("#"):
            name, count = line.split("\t")
            pins[name] = int(count)
    classes = HERE / "target" / "scala-2.13" / "classes"
    cp = f"{classes}{os.pathsep}{Path(os.environ['SPARK_HOME']) / 'jars' / '*'}"
    out = subprocess.run(["java", "-cp", cp, "graft.perfbench.Oracles", *sorted(pins)],
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    con = duckdb.connect()
    for t in sorted(p.stem for p in DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA / (t + '.parquet')}')")
    bad = 0
    checked = 0
    for line in out.splitlines():
        name, sql = line.split("\t", 1)
        n = con.execute(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
        checked += 1
        ok = n == pins[name]
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {name}: duckdb {n}, pinned {pins[name]}")
    print(f"{checked - bad}/{checked} pinned counts agree with DuckDB "
          f"({len(pins) - checked} queries have no oracle SQL)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
