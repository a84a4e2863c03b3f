#!/usr/bin/env python3
"""The DuckDB oracle comparator: graft's results against DuckDB, or
against each other, with one definition of "equal".

Every mode evaluates each top-level CTE of an oracle once, into a
table of its own (DuckDB may inline a CTE at every reference, which
makes the unrolled connected-components oracle of dedup_clusters
exponential in its round count), then decides inside DuckDB:

  1. the column-name sets must match;
  2. the row counts must match;
  3. the rows must match as multisets: symmetric EXCEPT ALL is empty.

`verify` and `fuzz` store the oracle's result too (`materialize` from
perfbench/check.py), because EXCEPT ALL reads it twice. `hashsum` and
`hashgate` only aggregate it: they stream the final SELECT through
count and sum of row hashes, so the result itself is never stored,
which is what lets them check results too large to store.

Values compare exactly. NaN is not NULL, and equals only NaN. When the
two sides type a column differently, both are cast to the smallest
type that holds both (BIGINT and HUGEINT to HUGEINT, BIGINT and DOUBLE
to DOUBLE), and a cast that changes any value fails the entry: values
that differ before the cast still differ after it. Timestamps compare as naive UTC. Only
`fuzz` relaxes one rule: finite floating values may differ by a
relative 1e-9, because the engines add doubles in different orders;
NaN and the infinities stay exact, and so do integral columns.

Usage:
  python3 tools/oracle.py verify   <verify_out> <sf_dir> [entry...]
  python3 tools/oracle.py hashsum  <verify_out> <sf_dir> [entry...]
  python3 tools/oracle.py hashgate <oracle_sql.json> <sf_dir> <hashgate_lines> [entry...]
  python3 tools/oracle.py fuzz     <difffuzz_out> <sf_dir>
  python3 tools/oracle.py dumps    <dir_a> <dir_b> [entry...]

`verify` and `hashsum` read what graft.Verify writes (`<entry>.parquet`
dumps and oracle_sql.json), `fuzz` what graft.fuzz.DiffFuzz writes
(`fuzz_<seed>.parquet` and fuzz_duck_sql.json), `hashgate` the JSON
lines graft.HashGate prints, and `dumps` compares two Verify outputs
(the determinism sweep across core counts). Each prints one line per
entry and `<n> pass / <m> fail`, and exits 1 on any failure; a missing
dump is a failure. `fuzz` adds to that tally how many pipelines
compared zero rows on both sides: for those only the column sets were
checked.

DuckDB settings come from the environment: DUCKDB_MEM (memory_limit,
DuckDB's own default when unset), DUCKDB_SPILL (max_temp_directory_size,
default 120GB) and DUCKDB_SPILL_DIR (default /tmp/duckdb_spill).
"""
import json
import os
import sys
from contextlib import contextmanager
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
from check import materialize, split_with  # noqa: E402

FUZZ_TOLERANCE = 1e-9
_FLOATING = ("FLOAT", "DOUBLE", "REAL")
_NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT", "USMALLINT",
            "UINTEGER", "UBIGINT", "UHUGEINT", "DECIMAL") + _FLOATING


def q(name):
    return '"' + name.replace('"', '""') + '"'


def scan(path):
    """read_parquet over a single file or a Spark part-file directory."""
    return f"read_parquet('{path}/*.parquet')" if Path(path).is_dir() else f"read_parquet('{path}')"


def connect(sf_dir=None):
    """A UTC DuckDB session with one view per `<table>.parquet` in sf_dir."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{os.environ.get('DUCKDB_SPILL_DIR', '/tmp/duckdb_spill')}'")
    con.execute(f"SET max_temp_directory_size='{os.environ.get('DUCKDB_SPILL', '120GB')}'")
    if os.environ.get("DUCKDB_MEM"):
        con.execute(f"SET memory_limit='{os.environ['DUCKDB_MEM']}'")
    for p in sorted(Path(sf_dir).glob("*.parquet")) if sf_dir else []:
        con.execute(f"CREATE VIEW {q(p.stem)} AS SELECT * FROM {scan(p)}")
    return con


def load_oracles(path):
    """Oracle SQL by bare entry name (Verify keys each entry both as
    `<name>` and as `<name>.parquet`)."""
    return {k.removesuffix(".parquet"): v for k, v in json.loads(Path(path).read_text()).items()}


@contextmanager
def evaluated(con, sql, n, stored=True):
    """The oracle as relation `__oracle`, each top-level CTE evaluated once.
    `stored` evaluates the whole oracle into a temp table. Otherwise only
    the CTEs are stored, in schema s<n>, and `__oracle` is a view over the
    final SELECT that each scan runs again."""
    try:
        if stored:
            materialize(con, sql, "__oracle", n)
        else:
            ctes, final = split_with(sql) or ([], sql)
            con.execute(f"CREATE SCHEMA s{n}")
            con.execute(f"SET search_path = 's{n},main'")  # the view resolves the CTEs through it
            for name, cols, body in ctes:
                con.execute(f"CREATE TABLE s{n}.{name} AS SELECT * FROM ({body}) __c{cols}")
            con.execute(f"CREATE TEMP VIEW __oracle AS {final}")
        yield "__oracle"
    finally:
        con.execute("SET search_path = 'main'")
        con.execute(f"DROP {'TABLE' if stored else 'VIEW'} IF EXISTS __oracle")
        con.execute(f"DROP SCHEMA IF EXISTS s{n} CASCADE")


def _columns(con, rel):
    return {c[0]: c[1] for c in con.execute(f"DESCRIBE {rel}").fetchall()}


def _naive(typ):
    """Timestamps with a time zone compare as naive UTC (exact in a UTC session)."""
    return "TIMESTAMP" if typ == "TIMESTAMP WITH TIME ZONE" else typ


def _family(typ):
    if typ.endswith("[]"):
        return "list of " + _family(typ[:-2])
    base = typ.split("(")[0]
    if base in _NUMERIC:
        return "number"
    if base.startswith("TIMESTAMP") or base == "DATE":
        return "time"
    return typ


def _common(con, name, sides):
    """For one column: the type both sides are compared in and each side's
    select expression, or the reason they cannot be compared without loss."""
    types = [_naive(cols[name]) for _, cols in sides]
    if _family(types[0]) != _family(types[1]):
        return None, f"column {name}: types {types[0]} vs {types[1]}"
    target = types[0] if types[0] == types[1] else con.execute(
        f"SELECT typeof(x) FROM (SELECT NULL::{types[0]} x UNION ALL SELECT NULL::{types[1]})"
    ).fetchone()[0]
    exprs = []
    for (rel, cols), typ in zip(sides, types):
        c = q(name) if cols[name] == typ else f"CAST({q(name)} AS {typ})"
        if typ != target:
            lost = con.execute(
                f"SELECT count(*) FROM {rel} WHERE CAST(CAST({c} AS {target}) AS {typ}) IS DISTINCT FROM {c}"
            ).fetchone()[0]
            if lost:
                return None, f"column {name}: cast {typ} -> {target} changes {lost} values"
            c = f"CAST({c} AS {target})"
        exprs.append(f"{c} AS {q(name)}")
    return target, exprs


def verdict(con, got, want, tolerance=0.0, hashsum=False):
    """None when relation `got` equals relation `want`, else the reason.
    `tolerance` > 0 lets finite floating values differ by that relative
    amount. `hashsum` reads each side once, through count and sum of row
    hashes, in place of EXCEPT ALL."""
    sides = [(got, _columns(con, got)), (want, _columns(con, want))]
    names = [sorted(cols) for _, cols in sides]
    if names[0] != names[1]:
        return f"columns {names[0]} vs {names[1]}"
    if not hashsum:
        ng, nw = (con.execute(f"SELECT count(*) FROM {rel}").fetchone()[0] for rel, _ in sides)
        if ng != nw:
            return f"rows {ng} vs {nw}"
    targets, exprs = {}, []
    for name in names[0]:
        targets[name], e = _common(con, name, sides)
        if targets[name] is None:
            return e
        exprs.append(e)
    g, w = (f"SELECT {', '.join(e[i] for e in exprs)} FROM {rel}" for i, (rel, _) in enumerate(sides))
    if hashsum:
        agg = f"count(*), sum(CAST(hash({', '.join(q(n) for n in targets)}) AS HUGEINT))"
        (ng, hg), (nw, hw) = (con.execute(f"SELECT {agg} FROM ({s})").fetchone() for s in (g, w))
        if ng != nw:
            return f"rows {ng} vs {nw}"
        return None if hg == hw else f"hashsum differs over {ng} rows"
    diff = con.execute(
        f"SELECT count(*) FROM (({g} EXCEPT ALL {w}) UNION ALL ({w} EXCEPT ALL {g}))").fetchone()[0]
    floating = [n for n, t in targets.items() if t in _FLOATING]
    if diff == 0 or not (tolerance and floating):
        return f"{diff} of {ng} rows differ" if diff else None
    # Align the two sides row by row (exact columns first, then floats at
    # 7 significant digits) and compare finite floats within the tolerance.
    exact = [n for n in targets if n not in floating]
    order = ", ".join([q(n) for n in exact] + [f"printf('%.6e', {q(n)})" for n in floating]
                      + [q(n) for n in floating])
    ranked = "(SELECT *, row_number() OVER (ORDER BY {o}) AS __rn FROM ({s}))"
    same = [f"a.{q(n)} IS NOT DISTINCT FROM b.{q(n)}" for n in exact] + [
        f"(a.{q(n)} IS NOT DISTINCT FROM b.{q(n)} OR coalesce(isfinite(a.{q(n)}) AND isfinite(b.{q(n)})"
        f" AND abs(a.{q(n)} - b.{q(n)}) <= {tolerance} * greatest(abs(a.{q(n)}), abs(b.{q(n)})), false))"
        for n in floating]
    bad = con.execute(
        f"SELECT count(*) FROM {ranked.format(o=order, s=g)} a JOIN {ranked.format(o=order, s=w)} b "
        f"USING (__rn) WHERE NOT ({' AND '.join(same)})").fetchone()[0]
    return f"{bad} of {ng} rows differ beyond {tolerance}" if bad else None


def _dump_view(con, path):
    con.execute(f"CREATE OR REPLACE TEMP VIEW __dump AS SELECT * FROM {scan(path)}")
    return "__dump"


def _attempt(check):
    """The check's verdict; an entry that cannot be read is not verified."""
    try:
        return check()
    except Exception as e:  # noqa: BLE001
        return f"{type(e).__name__}: {e}"


def _rows(con, rel):
    return con.execute(f"SELECT count(*) FROM {rel}").fetchone()[0]


def check_oracles(con, dump_dir, oracles, tolerance=0.0, hashsum=False, empty=None):
    """Each entry's dump in dump_dir against its evaluated oracle SQL. When
    `empty` is a set, the names of entries whose dump and oracle both hold
    zero rows are added to it."""
    for n, (name, sql) in enumerate(sorted(oracles.items())):
        dump = Path(dump_dir) / f"{name}.parquet"

        def check():
            if sql is None:
                return "no oracle SQL"
            if not dump.exists():
                return "no dump"
            with evaluated(con, sql, n, stored=not hashsum) as want:
                got = _dump_view(con, dump)
                if empty is not None and _rows(con, got) == _rows(con, want) == 0:
                    empty.add(name)
                return verdict(con, got, want, tolerance, hashsum)
        yield name, _attempt(check)


def check_dumps(con, dir_a, dir_b, entries):
    for name in entries:
        a, b = Path(dir_a) / f"{name}.parquet", Path(dir_b) / f"{name}.parquet"

        def check():
            if not (a.exists() and b.exists()):
                return f"no dump in {dir_b if a.exists() else dir_a}"
            con.execute(f"CREATE OR REPLACE TEMP VIEW __other AS SELECT * FROM {scan(b)}")
            return verdict(con, _dump_view(con, a), "__other")
        yield name, _attempt(check)


def _hashgate_expr(name, typ):
    """One column's canonical rendering, as graft.HashGate.canon renders it."""
    base = typ.split("(")[0]
    if base in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT", "HUGEINT", "UBIGINT", "UINTEGER", "BOOLEAN"):
        rendered = f"CAST({q(name)} AS VARCHAR)"
    elif base == "VARCHAR":
        rendered = q(name)
    elif base.startswith("TIMESTAMP"):
        rendered = f"CAST(CAST(epoch_us({q(name)}::TIMESTAMP) AS BIGINT) AS VARCHAR)"
    elif base in _FLOATING or base == "DECIMAL":
        rendered = f"CAST(CAST(floor({q(name)} * 1000000.0) AS BIGINT) AS VARCHAR)"
    else:
        raise ValueError(f"no canonical form for {name}: {typ}")
    return f"COALESCE({rendered}, chr(2))"


def check_hashgate(con, oracles, lines, only):
    """graft.HashGate's (count, hashsum) lines against the same sum over each oracle."""
    got = {}
    for line in lines:
        if line.startswith("{") and '"entry"' in line:
            d = json.loads(line)
            got[d["entry"]] = d
    for n, name in enumerate(sorted(only or got)):

        def check():
            if name not in got:
                return "no HashGate line"
            if name not in oracles:
                return "no oracle SQL"
            with evaluated(con, oracles[name], n, stored=False) as want:
                row = " || chr(1) || ".join(_hashgate_expr(c, t) for c, t in sorted(_columns(con, want).items()))
                h = f"CAST(('0x' || substr(md5({row}), 1, 15)) AS BIGINT)"
                count, hs = con.execute(f"SELECT count(*), CAST(sum({h}) AS VARCHAR) FROM {want}").fetchone()
            g = got[name]
            return None if (count, hs) == (g["count"], str(g["hashsum"])) else (
                f"graft ({g['count']}, {g['hashsum']}) vs oracle ({count}, {hs})")
        yield name, _attempt(check)


def report(results, empty=None):
    """Print one line per entry and the tally; the exit status. `empty`, filled
    while `results` is read, adds the count of zero-row comparisons."""
    n_pass = n_fail = 0
    for name, why in results:
        if why is None:
            n_pass += 1
            print(f"[ok] {name}: PASS", flush=True)
        else:
            n_fail += 1
            print(f"[!!] {name}: FAIL {why[:300]}", flush=True)
    zero = "" if empty is None else f" / {len(empty)} compared zero rows on both sides"
    print(f"\n{n_pass} pass / {n_fail} fail{zero}")
    return 1 if n_fail else 0


def run(mode, args, empty=None):
    if mode in ("verify", "hashsum"):
        out, sf, only = args[0], args[1], set(args[2:])
        oracles = load_oracles(Path(out) / "oracle_sql.json")
        if only:
            oracles = {k: oracles.get(k) for k in only}
        return check_oracles(connect(sf), out, oracles, hashsum=mode == "hashsum")
    if mode == "fuzz":
        out, sf = args
        return check_oracles(connect(sf), out, load_oracles(Path(out) / "fuzz_duck_sql.json"), FUZZ_TOLERANCE,
                             empty=empty)
    if mode == "hashgate":
        oracle_json, sf, lines, only = args[0], args[1], args[2], args[3:]
        return check_hashgate(connect(sf), load_oracles(oracle_json), Path(lines).read_text().splitlines(), only)
    if mode == "dumps":
        a, b, entries = args[0], args[1], args[2:]
        if not entries:
            entries = sorted({p.stem for d in (a, b) for p in Path(d).glob("*.parquet") if p.is_dir()})
        return check_dumps(connect(), a, b, entries)
    raise SystemExit(__doc__)


if __name__ == "__main__":
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    zero_rows = set() if sys.argv[1] == "fuzz" else None
    sys.exit(report(run(sys.argv[1], sys.argv[2:], zero_rows), zero_rows))
