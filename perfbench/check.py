"""Independent correctness check: every graft output is compared with a
DuckDB reference run over the same generated parquet, never with graft's
own output.

The comparison follows tools/fast_compare.py: sorted column names, row
count, then EXCEPT ALL in both directions with the reference cast to the
output's column types. Where that finds a difference and the result has
floating-point columns, the rows are compared once more with a relative
tolerance of 1e-9 (the order in which an engine adds doubles is not
defined), as the differential fuzz checker does.
"""
import math
import os
import re

import duckdb

TOLERANCE = 1e-9
_CTE = re.compile(r'(?is)\s*("?\w+"?)\s*(\([^()]*\))?\s+AS\s+(?:NOT\s+)?(?:MATERIALIZED\s+)?\(')


def _duck(tmp):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{tmp}'")
    return con


def _connect(data, tmp):
    con = _duck(tmp)
    for name in sorted(os.listdir(data)):
        path = os.path.join(data, name)
        if not name.endswith(".parquet"):
            continue
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{src}')")
    return con


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return float(v)
    if type(v).__name__ == "Decimal":
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v if isinstance(v, str) else str(v)


def _key(row):
    return [(0, "") if c is None else (1, f"{c:.6e}") if isinstance(c, float)
            else (2, "|".join(f"{x:.6e}" if isinstance(x, float) else str(x) for x in c))
            if isinstance(c, tuple) else (3, str(c)) for c in row]


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= TOLERANCE * max(abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def _rows(con, sql, names):
    rows = [tuple(_canon(c) for c in r) for r in con.execute(f"SELECT {names} FROM ({sql})").fetchall()]
    return sorted(rows, key=_key)


def split_with(sql):
    """Split a non-recursive `WITH a AS (...), b AS (...) SELECT ...` into
    ([(name, column list, body)], final select); None for any other shape."""
    m = re.match(r"(?is)\s*WITH\s+(?!RECURSIVE\b)", sql)
    if not m:
        return None
    pos, ctes = m.end(), []
    while True:
        h = _CTE.match(sql, pos)
        if not h:
            return None
        depth, i, quote = 1, h.end(), None
        while depth:
            if i >= len(sql):
                return None
            c = sql[i]
            if quote:
                quote = None if c == quote else quote
            elif c in "'\"":
                quote = c
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            i += 1
        ctes.append((h.group(1), h.group(2) or "", sql[h.end():i - 1]))
        comma = re.compile(r"\s*,").match(sql, i)
        if not comma:
            return ctes, sql[i:]
        pos = comma.end()


def materialize(con, sql, table, n):
    """CREATE TEMP TABLE `table` AS `sql`, evaluating each top-level CTE
    into its own table first. DuckDB may inline a CTE at every reference,
    which made the unrolled connected-components reference of
    dedup_clusters exponential in its round count; step by step it is
    linear, and the result is the same."""
    parts = split_with(sql)
    if parts is None:
        con.execute(f"CREATE TEMP TABLE {table} AS {sql}")
        return
    ctes, final = parts
    con.execute(f"CREATE SCHEMA s{n}")
    con.execute(f"SET search_path = 's{n},main'")
    try:
        for name, cols, body in ctes:
            con.execute(f"CREATE TABLE s{n}.{name} AS SELECT * FROM ({body}) __c{cols}")
        con.execute(f"CREATE TEMP TABLE {table} AS {final}")
    finally:
        con.execute("SET search_path = 'main'")


def compare(con, dump_sql, ref_table):
    """Return None when the output equals the reference, else a reason."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW __dump AS {dump_sql}")
    dcols = {c[0]: c[1] for c in con.execute("DESCRIBE __dump").fetchall()}
    ocols = [c[0] for c in con.execute(f"DESCRIBE {ref_table}").fetchall()]
    if sorted(dcols) != sorted(ocols):
        return f"columns {sorted(dcols)} != {sorted(ocols)}"
    nd = con.execute("SELECT count(*) FROM __dump").fetchone()[0]
    no = con.execute(f"SELECT count(*) FROM {ref_table}").fetchone()[0]
    if nd != no:
        return f"rows {nd} != {no}"

    def sel(c):
        t = dcols[c]
        return f'CAST("{c}" AS {"TIMESTAMP" if "TIMESTAMP" in t.upper() else t}) AS "{c}"'

    cols = ", ".join(sel(c) for c in sorted(dcols))
    diff = con.execute(
        f"SELECT count(*) FROM ((SELECT {cols} FROM __dump EXCEPT ALL SELECT {cols} FROM {ref_table})"
        f" UNION ALL (SELECT {cols} FROM {ref_table} EXCEPT ALL SELECT {cols} FROM __dump))").fetchone()[0]
    if diff == 0:
        return None
    if not any(t.upper() in ("DOUBLE", "FLOAT", "REAL") or t.upper().startswith(("DOUBLE", "FLOAT"))
               for t in dcols.values()):
        return f"{diff} rows differ"
    names = ", ".join(f'"{c}"' for c in sorted(dcols))
    a = _rows(con, "SELECT * FROM __dump", names)
    b = _rows(con, f"SELECT * FROM {ref_table}", names)
    bad = sum(1 for x, y in zip(a, b) if not all(_close(p, q) for p, q in zip(x, y)))
    return f"{bad} rows differ beyond {TOLERANCE}" if bad else None


def stream_reference(types, max_ts):
    return (f"SELECT CAST(epoch_us(ts) // 900000000 * 900 AS BIGINT) AS ts_bucket, event_type, "
            f"count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total "
            f"FROM events WHERE event_type IN ('{types[0]}', '{types[1]}') "
            f"AND ts <= TIMESTAMP '{max_ts}' GROUP BY 1, 2")


def verify(workload, rec, data, extra, tmp):
    """Compare every output of the run; return (wrong, checked, problems)."""
    if workload == "stream_window":
        con = _duck(tmp)
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{data}/in/*.parquet')")
        refs = {"stream": stream_reference(extra["event_types"], extra["max_ts"])}
    else:
        con = _connect(data, tmp)
        refs = rec["refs"]
    tables = {}
    wrong = checked = 0
    problems = []
    for op in rec["ops"]:
        outs = [(op.get("out"), op["ok"]), (op.get("untraced_out"), op.get("untraced_ok"))]
        for out, ok in outs:
            if not ok:
                continue
            checked += 1
            key = op["ref"]
            try:
                if key not in tables:
                    tables[key] = f"ref_{len(tables)}"
                    materialize(con, refs[key], tables[key], len(tables))
                if workload == "stream_window":
                    dump = (f"SELECT * FROM read_parquet('{out}/*.parquet') WHERE ts_bucket <= "
                            f"epoch(TIMESTAMP '{extra['max_ts']}')")
                else:
                    dump = f"SELECT * FROM read_parquet('{out}/*.parquet')"
                why = compare(con, dump, tables[key])
            except Exception as e:  # a reference or output that cannot be read is not verified
                why = f"{type(e).__name__}: {str(e)[:200]}"
            if why:
                wrong += 1
                problems.append(f"{op['name']}: {why}")
    con.close()
    return wrong, checked, problems
