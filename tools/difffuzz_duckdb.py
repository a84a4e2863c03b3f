#!/usr/bin/env python3
"""DuckDB leg of the differential pipeline fuzz (round 18).

graft.fuzz.DiffFuzz dumps, for every seeded pipeline with an exact
DuckDB rendering, the CATALYST PLAN path's result (fuzz_<seed>.parquet)
plus the generator's independently-authored DuckDB SQL
(fuzz_duck_sql.json). This script executes each DuckDB rendering over
the same parquet tables and compares multisets:

  - row count exact, column names (sorted) exact;
  - numerics unified to float64 (Spark sum(int)->BIGINT vs DuckDB
    sum(INTEGER)->HUGEINT must not misalign the sort) and compared with
    1e-9 relative tolerance (aggregation order across engines);
  - timestamps normalized to naive UTC microseconds;
  - everything else exact.

Usage: python3 tools/difffuzz_duckdb.py <dumpDir> <sfDir>
"""
import json
import math
import sys
from pathlib import Path

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else float(v)
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return float(v)  # unify numerics: int64 vs HUGEINT vs DOUBLE
    # duckdb fetch: Decimal, datetime, str, list, bytearray
    t = type(v).__name__
    if t == "Decimal":
        return float(v)
    if t in ("datetime", "Timestamp"):
        ts = v
        if getattr(ts, "tzinfo", None) is not None:
            import datetime as dt
            ts = ts.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return ts.isoformat(timespec="microseconds")
    if isinstance(v, (list, tuple)) or t == "ndarray":
        return tuple(canon_cell(x) for x in v)
    return v


def sort_key(row):
    out = []
    for c in row:
        if c is None:
            out.append((0, ""))
        elif isinstance(c, float):
            out.append((1, f"{c:.6e}"))  # coarse: 1-ulp drift keeps rows aligned
        elif isinstance(c, bool):
            out.append((2, str(c)))
        elif isinstance(c, tuple):
            out.append((3, "|".join(f"{x:.6e}" if isinstance(x, float) else str(x) for x in c)))
        else:
            out.append((4, str(c)))
    return out


def cells_eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-9 * max(abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(cells_eq(x, y) for x, y in zip(a, b))
    return a == b


def fetch(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = [tuple(canon_cell(r[i]) for i in order) for r in cur.fetchall()]
    rows.sort(key=sort_key)
    return sorted(names), rows


def main():
    dump_dir, sf_dir = Path(sys.argv[1]), sys.argv[2]
    sqls = json.loads((dump_dir / "fuzz_duck_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        # ScaleData dirs hold part files; testdata SFs are single files
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{src}')")
    n_pass = n_fail = 0
    for name, sql in sqls.items():
        try:
            g_names, g_rows = fetch(con, f"SELECT * FROM '{dump_dir}/{name}.parquet/*.parquet'")
            d_names, d_rows = fetch(con, sql)
        except Exception as e:
            print(f"[FAIL] {name}: exec error: {e}")
            n_fail += 1
            continue
        if g_names != d_names:
            print(f"[FAIL] {name}: columns graft={g_names} duck={d_names}")
            n_fail += 1
            continue
        if len(g_rows) != len(d_rows):
            print(f"[FAIL] {name}: rows graft={len(g_rows)} duck={len(d_rows)}")
            n_fail += 1
            continue
        bad = next((i for i, (a, b) in enumerate(zip(g_rows, d_rows))
                    if not all(cells_eq(x, y) for x, y in zip(a, b))), None)
        if bad is not None:
            print(f"[FAIL] {name}: row {bad} differs\n  graft: {g_rows[bad]}\n  duck:  {d_rows[bad]}")
            n_fail += 1
        else:
            n_pass += 1
        if (n_pass + n_fail) % 50 == 0:
            print(f"[progress] {n_pass + n_fail}/{len(sqls)} compared "
                  f"({n_fail} fail)", flush=True)
    print(f"\n{n_pass} pass / {n_fail} fail (of {len(sqls)} duck-renderable pipelines)")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
