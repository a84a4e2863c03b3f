#!/usr/bin/env python3
"""DuckDB side of the dump-free wide-entry gate (round-18 ask #4).

graft.HashGate prints, per entry, (count, hashsum) of a canonical
cross-engine row rendering computed directly on the Spark result —
no parquet dump. This script computes the SAME (count, hashsum) over
the entry's DuckDB oracle SQL and compares.

Canonical form (must mirror graft.HashGate.canon exactly):
  integral -> decimal string; string -> verbatim; boolean -> string;
  timestamp -> epoch MICROSECONDS string (epoch_us == unix_micros in
  a UTC session); double -> CAST(floor(x * 1000000.0) AS BIGINT)
  string (multiply+floor are IEEE-exact cross-engine; double
  FORMATTING is not). NULL -> chr(2). Columns in NAME order joined
  with chr(1); md5, first 15 hex digits as a 60-bit integer, exact
  HUGEINT sum.

Usage:
  python3 tools/hashgate_duckdb.py <oracle_sql.json> <sfDir> <sparkLine.json> [entry...]
where sparkLine.json holds graft.HashGate's output lines.
"""
import json
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon_expr(name, typ):
    q = '"' + name.replace('"', '""') + '"'
    t = typ.upper()
    if t in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT", "HUGEINT", "UBIGINT", "UINTEGER"):
        rendered = f"CAST({q} AS VARCHAR)"
    elif t == "VARCHAR":
        rendered = q
    elif t == "BOOLEAN":
        rendered = f"CAST({q} AS VARCHAR)"
    elif t.startswith("TIMESTAMP"):
        rendered = f"CAST(CAST(epoch_us({q}::TIMESTAMP) AS BIGINT) AS VARCHAR)"
    elif t in ("DOUBLE", "FLOAT", "REAL"):
        rendered = f"CAST(CAST(floor({q} * 1000000.0) AS BIGINT) AS VARCHAR)"
    elif t.startswith("DECIMAL"):
        rendered = f"CAST(CAST(floor({q} * 1000000.0) AS BIGINT) AS VARCHAR)"
    else:
        raise SystemExit(f"hashgate: no canonical form for {name}: {typ}")
    return f"COALESCE({rendered}, chr(2))"


def main():
    oracle_path, sf_dir, spark_json = sys.argv[1], sys.argv[2], sys.argv[3]
    only = set(sys.argv[4:])
    oracles = json.loads(open(oracle_path).read())
    spark_lines = {}
    for line in open(spark_json):
        line = line.strip()
        if line.startswith("{") and '"entry"' in line:
            d = json.loads(line)
            spark_lines[d["entry"]] = d
    con = duckdb.connect()
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    con.execute("SET max_temp_directory_size='20GB'")
    con.execute("SET memory_limit='80GB'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        import os
        if os.path.isdir(p):  # Spark-written dataset dir vs single file
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{p}/*.parquet')")
        else:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{p}')")
    n_pass = n_fail = 0
    for entry, got in spark_lines.items():
        if only and entry not in only:
            continue
        sql = oracles.get(entry) or oracles.get(entry + ".parquet")
        if sql is None:
            print(f"[??] {entry}: no oracle SQL")
            n_fail += 1
            continue
        desc = con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()
        cols = sorted((r[0], r[1]) for r in desc)
        pieces = " || chr(1) || ".join(canon_expr(n, t) for n, t in cols)
        h = f"CAST(('0x' || substr(md5({pieces}), 1, 15)) AS BIGINT)"
        cnt, hs = con.execute(
            f"SELECT count(*), CAST(sum({h}) AS VARCHAR) FROM ({sql})").fetchone()
        ok = cnt == got["count"] and str(hs) == str(got["hashsum"])
        print(f"[{'ok' if ok else '!!'}] {entry}: "
              f"graft=({got['count']},{got['hashsum']}) oracle=({cnt},{hs}) "
              f"{'PASS hashsum-exact' if ok else 'FAIL'}")
        if ok:
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
