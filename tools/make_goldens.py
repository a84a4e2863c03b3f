#!/usr/bin/env python3
"""Regenerates the expected outputs of the in-repo PQL golden corpus.

The corpus lives under src/test/resources/pql:

  Tables/            fixture tables: <Name>.csv (header row; an empty
                     field is NULL) and ClickHouse-JSON <Name>.json
                     ({"meta": [...], "data": [...]}, MapTable)
  Goldens/<Name>/    input.pql    the PQL query (GoldenSpec runs it)
                     oracle.sql   hand-written DuckDB SQL with the
                                  reference semantics of that query
                     output.csv   what DuckDB returns for oracle.sql
                     options.jwcc optional external parameters
                     unordered    optional marker: rows compare as a
                                  multiset

Every output.csv is DuckDB's answer to the golden's oracle.sql over the
same fixture files; neither graft backend ever writes one. A golden
whose query calls now() has no output.csv (its value depends on the
wall clock); its oracle.sql must still run.

Values render the way GoldenSpec.show renders Spark values: NULL as an
empty field, booleans as 1/0, a whole double below 1e15 as integer
text, any other double as its exact binary value rounded half-even to
15 significant digits, trailing zeros stripped, in plain notation (an
explicit rule: JDK 17's Double.toString is not always the shortest
round-trip form that Python's repr gives).

Usage:
  python3 tools/make_goldens.py           rewrite every output.csv
  python3 tools/make_goldens.py --check   regenerate into a temp dir and
                                          diff against the checked-in
                                          files; exit 1 on any difference
"""
import csv
import decimal
import io
import json
import math
import re
import sys
import tempfile
from pathlib import Path

import duckdb

CORPUS = Path(__file__).resolve().parent.parent / "src" / "test" / "resources" / "pql"

# ClickHouse-JSON meta types the fixtures use, as DuckDB column types
JSON_TYPES = {
    "Int32": "INTEGER",
    "Map(String, Int64)": "MAP(VARCHAR, BIGINT)",
}


def quote_ident(name):
    return '"' + name.replace('"', '""') + '"'


def load_tables(con, tables_dir):
    for f in sorted(tables_dir.glob("*.csv")):
        # read_csv's default null string is the empty string: an empty
        # field is NULL, the rule GoldenSpec's Spark loader applies
        con.execute(
            f"CREATE TABLE {quote_ident(f.stem)} AS "
            "SELECT * FROM read_csv(?, header = true, auto_detect = true)",
            [str(f)],
        )
    for f in sorted(tables_dir.glob("*.json")):
        doc = json.loads(f.read_text())
        cols = [(m["name"], JSON_TYPES[m["type"]]) for m in doc["meta"]]
        con.execute(
            f"CREATE TABLE {quote_ident(f.stem)} ("
            + ", ".join(f"{quote_ident(n)} {t}" for n, t in cols)
            + ")"
        )
        params = ["MAP(?::VARCHAR[], ?::BIGINT[])" if t.startswith("MAP") else "?" for _, t in cols]
        for row in doc["data"]:
            values = []
            for n, t in cols:
                v = row[n]
                if t.startswith("MAP"):
                    values += [list(v.keys()), list(v.values())]
                else:
                    values.append(v)
            con.execute(f"INSERT INTO {quote_ident(f.stem)} VALUES ({', '.join(params)})", values)


def show(v):
    """A DuckDB value as GoldenSpec.show renders the Spark value."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        if v.is_integer() and abs(v) < 1e15:
            return str(int(v))
        if math.isnan(v) or math.isinf(v):
            raise ValueError(f"{v!r}: fixture doubles must be finite")
        rounded = decimal.Context(prec=15, rounding=decimal.ROUND_HALF_EVEN).plus(decimal.Decimal(v))
        return format(rounded.normalize(), "f")
    if isinstance(v, decimal.Decimal):
        return str(int(v)) if v == v.to_integral_value() else str(v)
    if isinstance(v, (int, str)):
        return str(v)
    raise TypeError(f"fixture values must be NULL, bool, number or string; got {type(v).__name__}")


def time_dependent(pql):
    return "now()" in pql


def render_golden(con, gdir):
    """Runs gdir's oracle.sql; returns output.csv's text, or None when
    the query is time-dependent and has no expected output."""
    sql = (gdir / "oracle.sql").read_text()
    cur = con.execute(sql)
    header = [c[0] for c in cur.description]
    rows = cur.fetchall()
    pql = (gdir / "input.pql").read_text()
    if time_dependent(pql):
        return None
    ordered = not (gdir / "unordered").exists()
    if ordered and len(rows) > 1 and not re.search(r"\bORDER\s+BY\b", sql, re.IGNORECASE):
        raise SystemExit(f"{gdir.name}: more than one row, no ORDER BY and no 'unordered' marker")
    shown = [[show(v) for v in r] for r in rows]
    if not ordered:
        shown.sort()  # the engine's row order is arbitrary; keep the file stable
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(shown)
    return buf.getvalue()


def generate(corpus, out_goldens):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    load_tables(con, corpus / "Tables")
    names = []
    for gdir in sorted(p for p in (corpus / "Goldens").iterdir() if (p / "input.pql").is_file()):
        text = render_golden(con, gdir)
        target = out_goldens / gdir.name
        target.mkdir(parents=True, exist_ok=True)
        if text is not None:
            (target / "output.csv").write_text(text)
        else:
            (target / "output.csv").unlink(missing_ok=True)
        names.append(gdir.name)
    return names


def check(corpus):
    goldens = corpus / "Goldens"
    with tempfile.TemporaryDirectory() as tmp:
        names = generate(corpus, Path(tmp))
        diffs = []
        for name in names:
            fresh, kept = Path(tmp) / name / "output.csv", goldens / name / "output.csv"
            if fresh.exists() != kept.exists():
                diffs.append(f"{name}: output.csv {'missing' if fresh.exists() else 'unexpected'}")
            elif fresh.exists() and fresh.read_bytes() != kept.read_bytes():
                diffs.append(f"{name}: output.csv differs from the oracle's")
    for d in diffs:
        print(d)
    print(f"{len(names)} goldens checked, {len(diffs)} differ")
    return 1 if diffs else 0


def main():
    if not (CORPUS / "Goldens").is_dir():
        raise SystemExit(f"golden corpus missing: {CORPUS / 'Goldens'}")
    if sys.argv[1:] == ["--check"]:
        sys.exit(check(CORPUS))
    if sys.argv[1:]:
        raise SystemExit(__doc__)
    names = generate(CORPUS, CORPUS / "Goldens")
    print(f"{len(names)} goldens written")


if __name__ == "__main__":
    main()
