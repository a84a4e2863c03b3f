#!/usr/bin/env python3
"""DuckDB-native oracle compare — the at-scale variant of
check_correctness.py. Instead of materializing both result sets into
pandas and sorting them (hours at sf3 row counts), each entry is
checked entirely inside DuckDB:

  - column-name sets must match (sorted),
  - row counts must match,
  - symmetric EXCEPT ALL must be empty (multiset equality; exact
    values, multiplicity included — NaN compares equal under
    DuckDB's DISTINCT semantics, matching the driver's hash compare).

Oracle columns are cast to the dump's column types family-wise
(BIGINT/DOUBLE/VARCHAR/...) so engine-default widening (HUGEINT sums,
INT vs BIGINT) can't produce false mismatches; timestamps on both
sides are cast to naive TIMESTAMP (the dump carries UTC instants, the
oracle session runs UTC).

Usage: python3 tools/fast_compare.py <verify_out> <sf_dir> [keys...]
"""
import json
import os
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
from check import materialize  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    out_dir = Path(sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out")
    sf_dir = Path(sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01")
    only = set(sys.argv[3:])

    oracles = json.loads((out_dir / "oracle_sql.json").read_text())
    # dual-keyed (name and name.parquet) — keep bare names
    oracles = {k[:-8] if k.endswith(".parquet") else k: v for k, v in oracles.items()}

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    # heavy oracles (6-round connected components at 30×) exceed RAM —
    # let DuckDB spill instead of OOM. Env overrides so CONCURRENT
    # compare processes can keep separate spill dirs (a sibling's
    # between-entry `rm -rf` on the shared dir corrupts a live spill)
    # and split the machine's RAM instead of both claiming the 80%
    # default (round 16).
    con.execute(f"SET temp_directory='{os.environ.get('DUCKDB_SPILL_DIR', '/tmp/duckdb_spill')}'")
    con.execute(f"SET max_temp_directory_size='{os.environ.get('DUCKDB_SPILL', '120GB')}'")
    if os.environ.get("DUCKDB_MEM"):
        con.execute(f"SET memory_limit='{os.environ['DUCKDB_MEM']}'")
    for t in TABLES:
        p = sf_dir / f"{t}.parquet"
        if p.is_dir():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{p}/*.parquet')")
        elif p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{p}')")

    npass = nfail = 0
    for n, name in enumerate(sorted(oracles)):
        if only and name not in only:
            continue
        dump = out_dir / f"{name}.parquet"
        if not dump.exists():
            # a missing dump means the Spark side never wrote this entry —
            # that is a failure, not a skip (check_correctness.py parity)
            print(f"[!!] {name}: no dump")
            nfail += 1
            continue
        sql = oracles[name]
        try:
            con.execute(f"CREATE OR REPLACE VIEW __dump AS SELECT * FROM parquet_scan('{dump}/*.parquet')")
            # run the oracle ONCE, CTE by CTE — describe/count/except all
            # read the temp table (an expensive oracle re-evaluated per
            # subquery or per CTE reference OOM'd DuckDB on the 6-round
            # connected-components SQL)
            con.execute("DROP TABLE IF EXISTS __oracle")
            materialize(con, sql, "__oracle", n)
            dcols = con.execute("DESCRIBE __dump").fetchall()  # (name, type, ...)
            ocols = con.execute("DESCRIBE __oracle").fetchall()
            dnames = sorted(c[0] for c in dcols)
            onames = sorted(c[0] for c in ocols)
            if dnames != onames:
                print(f"[!!] {name}: SCHEMA dump={dnames} oracle={onames}")
                nfail += 1
                continue
            dtypes = {c[0]: c[1] for c in dcols}

            def norm(colname, coltype):
                q = f'"{colname}"'
                t = coltype.upper()
                if "TIMESTAMP" in t:
                    return f"CAST({q} AS TIMESTAMP) AS {q}"
                return f"CAST({q} AS {coltype}) AS {q}"

            dsel = ", ".join(norm(c, dtypes[c]) for c in dnames)
            osel = ", ".join(norm(c, dtypes[c]) for c in dnames)
            nd = con.execute("SELECT count(*) FROM __dump").fetchone()[0]
            no = con.execute("SELECT count(*) FROM __oracle").fetchone()[0]
            if nd != no:
                print(f"[!!] {name}: ROWS dump={nd} oracle={no}")
                nfail += 1
                continue
            diff = con.execute(
                f"SELECT count(*) FROM ("
                f"(SELECT {dsel} FROM __dump EXCEPT ALL SELECT {osel} FROM __oracle)"
                f" UNION ALL "
                f"(SELECT {osel} FROM __oracle EXCEPT ALL SELECT {dsel} FROM __dump))"
            ).fetchone()[0]
            if diff != 0:
                print(f"[!!] {name}: VALUES {diff} differing rows (of {nd})")
                nfail += 1
            else:
                print(f"[ok] {name}: PASS ({nd} rows)")
                npass += 1
        except Exception as e:
            print(f"[!!] {name}: ERROR {type(e).__name__}: {e}")
            nfail += 1
        finally:
            con.execute(f"DROP SCHEMA IF EXISTS s{n} CASCADE")

    print(f"\n{npass} pass / {nfail} fail")
    sys.exit(1 if nfail else 0)


if __name__ == "__main__":
    main()
