#!/usr/bin/env python3
"""Local approximation of the driver's DuckDB-oracle correctness gate.

Usage:
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
  python3 tools/check_correctness.py [/tmp/verify_out] [/root/testdata/sf0.01]

For each query dumped by graft.Verify it runs the corresponding oracle
SQL in DuckDB over the same parquet tables and compares: row count,
column names (sorted), and values (rows sorted by all columns; floats
compared exactly, then with 1e-9 relative tolerance as a fallback
diagnostic). Each oracle's top-level CTEs are evaluated one by one into
DuckDB tables before its final select (perfbench/check.py's
`materialize`): DuckDB may inline a CTE at every reference, which makes
the unrolled connected-components oracle of dedup_clusters exponential
in its round count.
"""
import json
import math
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
from check import materialize  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float) and v.is_integer():
        return v  # keep float identity
    return v


def canon(df: pd.DataFrame):
    df = df.reindex(sorted(df.columns), axis=1)
    # tz-aware → naive UTC for comparability
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
            except (TypeError, AttributeError):
                pass
    rows = [tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False, name=None)]

    # Sort key rounds floats coarsely so tiny engine-to-engine drift keeps
    # the same logical rows aligned (and thus classified FLOAT-DRIFT, not
    # FAIL on mismatched-row comparison).
    def key_cell(x):
        if x is None:
            return (True, "", "")
        if isinstance(x, float):
            return (False, "float", f"{x:.6e}")
        return (False, str(type(x)), str(x))

    return sorted(rows, key=lambda r: tuple(key_cell(x) for x in r))


def approx_eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def main():
    out_dir = Path(sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out")
    sf_dir = Path(sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01")
    # Verify.scala dual-keys each oracle as "<name>" and "<name>.parquet"
    # (the driver looks up by file name); normalize to bare names here.
    oracle = {
        k.removesuffix(".parquet"): v
        for k, v in json.loads((out_dir / "oracle_sql.json").read_text()).items()
    }

    con = duckdb.connect()
    for t in TABLES:
        p = sf_dir / f"{t}.parquet"
        if p.exists():
            # Spark writes directory-style tables (part files); driver
            # testdata is single files — glob either shape
            pat = f"{p}/*.parquet" if p.is_dir() else str(p)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")

    n_pass = n_fail = 0
    for n, (name, sql) in enumerate(sorted(oracle.items())):
        res_dir = out_dir / f"{name}.parquet"
        status, detail = "PASS", ""
        try:
            got = pd.read_parquet(res_dir)
            materialize(con, sql, "__oracle", n)
            want = con.execute("SELECT * FROM __oracle").fetchdf()
            if sorted(got.columns) != sorted(want.columns):
                status, detail = "FAIL", f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
            elif len(got) != len(want):
                status, detail = "FAIL", f"rows {len(got)} vs {len(want)}"
            else:
                g, w = canon(got), canon(want)
                if g != w:
                    # exact mismatch — check approximate to diagnose float drift
                    n_bad = sum(
                        1 for rg, rw in zip(g, w)
                        if not all(approx_eq(a, b) for a, b in zip(rg, rw))
                    )
                    if n_bad == 0:
                        status = "FLOAT-DRIFT"
                        for rg, rw in zip(g, w):
                            if rg != rw:
                                detail = f"first drift: {rg} vs {rw}"
                                break
                    else:
                        status = "FAIL"
                        for rg, rw in zip(g, w):
                            if not all(approx_eq(a, b) for a, b in zip(rg, rw)):
                                detail = f"{n_bad} rows differ; first: {rg} vs {rw}"
                                break
        except Exception as e:  # noqa: BLE001
            status, detail = "ERROR", f"{type(e).__name__}: {e}"
        finally:
            con.execute("DROP TABLE IF EXISTS __oracle")
            con.execute(f"DROP SCHEMA IF EXISTS s{n} CASCADE")
        mark = "ok" if status == "PASS" else "!!"
        print(f"[{mark}] {name}: {status} {detail[:300]}")
        if status == "PASS":
            n_pass += 1
        else:
            n_fail += 1

    # queries with no oracle (rows-only)
    for d in sorted(out_dir.iterdir()):
        if d.is_dir() and d.name.removesuffix(".parquet") not in oracle:
            try:
                n = len(pd.read_parquet(d))
                print(f"[--] {d.name}: rows-only ({n} rows)")
            except Exception as e:  # noqa: BLE001
                print(f"[!!] {d.name}: rows-only ERROR {e}")
    print(f"\n{n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
