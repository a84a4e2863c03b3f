#!/usr/bin/env python3
"""DuckDB side of the bench comparison, at an arbitrary scale dir.

Times the oracle SQL (from a Verify dump's oracle_sql.json) the same
way graft.Bench times the Spark side: two warm-up executions, then the
MEDIAN of three measured runs, results fully materialized (fetchall).

Usage:
  python3 tools/bench_duckdb.py <verify_out_dir> <sf_dir> [key ...]

With no keys, times the four headline queries. Prints one JSON line
compatible with BENCH_r{N}.json's "queries" field.
"""
import json
import os
import statistics
import sys
import time

from oracle import connect, load_oracles

HEADLINE = ["q1_agg", "q3_shipping", "q5_local", "events_windowed"]


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    keys = sys.argv[3:] or HEADLINE
    oracle = load_oracles(f"{out_dir}/oracle_sql.json")
    # spill and memory limits from DUCKDB_SPILL / DUCKDB_SPILL_DIR /
    # DUCKDB_MEM (tools/oracle.py): big-SF oracles (95M-row CTAS at
    # sf30) exceed RAM without a spill path, and an explicit memory cap
    # makes operators spill before the kernel kills the process
    con = connect(sf_dir)

    # CTAS=1: time CREATE TEMP TABLE AS instead of fetchall. Row-by-row
    # python conversion dominates multi-million-row results 10:1+ (an
    # 11M-row fetchall spent >20 min converting vs 297 s of DuckDB
    # evaluation) — CTAS materializes fully inside the engine, matching
    # graft's noop-sink timing. Warmups drop to 1 under CTAS (big-SF
    # oracles run minutes; the first run already warms the page cache).
    ctas = os.environ.get("CTAS") == "1"
    n_warm, n_meas = (1, 3) if ctas else (2, 3)
    results = {}
    for k in keys:
        sql = oracle[k]

        def run_once():
            if ctas:
                con.execute("DROP TABLE IF EXISTS __bench_out")
                con.execute(f"CREATE TEMP TABLE __bench_out AS {sql}")
            else:
                con.execute(sql).fetchall()

        for _ in range(n_warm):
            run_once()
        runs = []
        for _ in range(n_meas):
            t0 = time.perf_counter()
            run_once()
            runs.append(time.perf_counter() - t0)
        results[k] = round(statistics.median(runs), 4)

    total = round(sum(results.values()), 4)
    print(json.dumps({"engine": "duckdb", "sf": str(sf_dir),
                      "queries": results, "total": total}))


if __name__ == "__main__":
    main()
