#!/usr/bin/env python3
"""Derives expected_counts.json: the row count of each registry query the
benchmark times (registry_queries.txt) on the benchmark's data
(data/sf0.01), from the query's DuckDB oracle SQL
(SparkEntry.oracleSql), the same SQL and table views tools/check_oracle.py
compares results with. Run once from the root of a checkout when the
registry or the data changes:

  python3 perfbench/expected_counts.py
"""
import json
import subprocess
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    out = run.build_dir()
    classpath = run.build(out)
    sql_file = out / "oracle_sql.json"
    subprocess.run(["java", "-cp", classpath, "perfbench.DumpOracle", str(sql_file)], check=True)
    oracle = json.loads(sql_file.read_text())
    data = run.BENCH_DIR / "data" / "sf0.01"
    con = duckdb.connect()
    for t in TABLES:
        p = data / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    counts = {}
    timed = [ln.strip() for ln in (run.BENCH_DIR / "registry_queries.txt").read_text().splitlines()
             if ln.strip() and not ln.startswith("#")]
    for name in sorted(timed):
        counts[name] = len(con.sql(oracle[name]).df())
        print(f"{name}: {counts[name]} rows", flush=True)
    (run.BENCH_DIR / "expected_counts.json").write_text(json.dumps(
        {"data": "data/sf0.01", "source": "SparkEntry.oracleSql run in DuckDB "
         + duckdb.__version__, "counts": counts}, indent=1, sort_keys=True) + "\n")
    print(f"{len(counts)} expected counts written")


if __name__ == "__main__":
    main()
