"""Verdict rules of tools/oracle.py, each mode, pass and fail.

Run: python3 -m pytest tools/test_oracle.py

Each case is a graft side (`got`, written to parquet as a dump) and an
oracle side (`want`, SQL over in-memory DuckDB tables). The `verify`,
`hashsum` and `fuzz` modes read the dump against the evaluated oracle;
`dumps` reads the dump against the oracle written as a second dump.
"""
import hashlib
import json

import pytest

import oracle

MODES = ["verify", "hashsum", "fuzz", "dumps"]


def run(mode, got, want, tmp_path, write_got=True, oracle_sql="SELECT * FROM t_want"):
    con = oracle.connect()
    con.execute("CREATE TABLE t_got AS " + got)
    con.execute("CREATE TABLE t_want AS " + want)
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir(parents=True)
    b.mkdir()
    if write_got:
        con.execute(f"COPY t_got TO '{a}/e.parquet' (FORMAT PARQUET)")
    if mode == "dumps":
        con.execute(f"COPY t_want TO '{b}/e.parquet' (FORMAT PARQUET)")
        results = oracle.check_dumps(con, a, b, ["e"])
    else:
        results = oracle.check_oracles(con, a, {"e": oracle_sql},
                                       tolerance=oracle.FUZZ_TOLERANCE if mode == "fuzz" else 0.0,
                                       hashsum=mode == "hashsum")
    [(name, why)] = list(results)
    assert name == "e"
    return why


def rows(*values, typ="BIGINT", col="x"):
    return " UNION ALL ".join(f"SELECT CAST({v} AS {typ}) AS {col}" for v in values)


@pytest.mark.parametrize("mode", MODES)
def test_equal_multisets_pass_in_any_order(mode, tmp_path):
    assert run(mode, rows(3, 1, 1, 2), rows(1, 2, 3, 1), tmp_path) is None


@pytest.mark.parametrize("mode", MODES)
def test_oracle_with_ctes(mode, tmp_path):
    ctes = "WITH a AS (SELECT x FROM t_want), b (y) AS (SELECT x FROM a) SELECT y AS x FROM b"
    assert run(mode, rows(1, 2), rows(2, 1), tmp_path, oracle_sql=ctes) is None
    assert run(mode, rows(1, 2), rows(2, 2), tmp_path / "f", oracle_sql=ctes) is not None


def test_aggregating_modes_store_only_the_ctes():
    con = oracle.connect()
    con.execute("CREATE TABLE t AS " + rows(1, 2))
    with oracle.evaluated(con, "WITH c AS (SELECT x FROM t) SELECT x FROM c", 0, stored=False) as rel:
        assert con.execute(f"SELECT sum(x) FROM {rel}").fetchone()[0] == 3
        kinds = con.execute("SELECT schema_name, table_name FROM duckdb_tables() ORDER BY 1").fetchall()
        assert kinds == [("main", "t"), ("s0", "c")]
    assert con.execute("SELECT count(*) FROM duckdb_views() WHERE NOT internal").fetchone()[0] == 0


@pytest.mark.parametrize("mode", MODES)
def test_column_sets_must_match(mode, tmp_path):
    assert "columns" in run(mode, rows(1), rows(1, col="y"), tmp_path)


@pytest.mark.parametrize("mode", MODES)
def test_row_counts_must_match(mode, tmp_path):
    assert "rows 2 vs 3" in run(mode, rows(1, 2), rows(1, 2, 2), tmp_path)


@pytest.mark.parametrize("mode", MODES)
def test_multiplicity_counts(mode, tmp_path):
    assert run(mode, rows(1, 1, 2), rows(1, 2, 2), tmp_path) is not None


@pytest.mark.parametrize("mode", MODES)
def test_nan_equals_nan(mode, tmp_path):
    assert run(mode, rows("'nan'", 1, typ="DOUBLE"), rows(1, "'nan'", typ="DOUBLE"), tmp_path) is None


@pytest.mark.parametrize("mode", MODES)
def test_nan_is_not_null(mode, tmp_path):
    assert run(mode, rows("'nan'", typ="DOUBLE"), rows("NULL", typ="DOUBLE"), tmp_path) is not None


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize("a, b", [("'nan'", "1.0"), ("'inf'", "'-inf'"), ("'inf'", "1e308"),
                                  ("'-inf'", "-1e308")])
def test_nan_and_infinities_equal_only_themselves(mode, a, b, tmp_path):
    # within any relative tolerance of the other value once NaN or inf scales it
    assert run(mode, rows(a, typ="DOUBLE"), rows(b, typ="DOUBLE"), tmp_path) is not None
    assert run(mode, rows(b, typ="DOUBLE"), rows(a, typ="DOUBLE"), tmp_path / "r") is not None


@pytest.mark.parametrize("mode", MODES)
def test_widening_cast_keeps_equal_values_equal(mode, tmp_path):
    assert run(mode, rows(2, 7), rows("2.0", "7.0", typ="DOUBLE"), tmp_path) is None
    assert run(mode, rows(2), rows(2, typ="HUGEINT"), tmp_path / "h") is None


@pytest.mark.parametrize("mode", MODES)
def test_lossy_cast_never_makes_values_equal(mode, tmp_path):
    # BIGINT 2 against DOUBLE 1.5: a cast to BIGINT would round 1.5 to 2
    assert run(mode, rows(2), rows("1.5", typ="DOUBLE"), tmp_path) is not None
    # 2^53 + 1 has no DOUBLE of its own: the cast to DOUBLE changes it
    assert "changes 1 values" in run(mode, rows(2 ** 53 + 1), rows(float(2 ** 53), typ="DOUBLE"),
                                     tmp_path / "big")


@pytest.mark.parametrize("mode", MODES)
def test_timestamp_with_time_zone_compares_as_naive_utc(mode, tmp_path):
    tz = rows("'2024-01-01 12:00:00+02'", typ="TIMESTAMPTZ")
    assert run(mode, tz, rows("'2024-01-01 10:00:00'", typ="TIMESTAMP"), tmp_path) is None
    assert run(mode, tz, rows("'2024-01-01 12:00:00'", typ="TIMESTAMP"), tmp_path / "local") is not None


@pytest.mark.parametrize("mode", MODES)
def test_float_within_tolerance_passes_only_in_fuzz(mode, tmp_path):
    why = run(mode, rows("1.0", "2.0", typ="DOUBLE"), rows("1.0000000005", "2.0", typ="DOUBLE"), tmp_path)
    assert (why is None) == (mode == "fuzz")


@pytest.mark.parametrize("mode", MODES)
def test_float_beyond_tolerance_fails(mode, tmp_path):
    assert run(mode, rows("1.0", typ="DOUBLE"), rows("1.00000001", typ="DOUBLE"), tmp_path) is not None


@pytest.mark.parametrize("mode", MODES)
def test_integral_columns_stay_exact(mode, tmp_path):
    # within 1e-9 relative if unified to float64, yet a different integer
    assert run(mode, rows(10 ** 12), rows(10 ** 12 + 1), tmp_path) is not None


def test_fuzz_tally_counts_zero_row_comparisons(tmp_path, capsys):
    con = oracle.connect()
    con.execute("CREATE TABLE t_full AS " + rows(1, 2))
    con.execute("CREATE TABLE t_none AS SELECT * FROM t_full WHERE x < 0")
    for name, table in [("empty", "t_none"), ("full", "t_full"), ("half", "t_none")]:
        con.execute(f"COPY {table} TO '{tmp_path}/{name}.parquet' (FORMAT PARQUET)")
    oracles = {"empty": "SELECT * FROM t_none", "full": "SELECT * FROM t_full", "half": "SELECT * FROM t_full"}
    empty = set()
    status = oracle.report(oracle.check_oracles(con, tmp_path, oracles, oracle.FUZZ_TOLERANCE, empty=empty), empty)
    # the count is added to the tally; the verdicts are unchanged: zero
    # rows on both sides still pass, zero against two still fails
    assert empty == {"empty"} and status == 1
    assert capsys.readouterr().out.splitlines()[-1] == "2 pass / 1 fail / 1 compared zero rows on both sides"


def test_tally_without_zero_row_count(capsys):
    oracle.report([("e", None)])
    assert capsys.readouterr().out.splitlines()[-1] == "1 pass / 0 fail"


@pytest.mark.parametrize("mode", MODES)
def test_missing_dump_fails(mode, tmp_path):
    assert "no dump" in run(mode, rows(1), rows(1), tmp_path, write_got=False)


# ---- hashgate: graft.HashGate's (count, hashsum) line against the oracle ----

def hashgate_line(entry, *values):
    """What graft.HashGate prints for one BIGINT column holding `values`,
    computed here independently of DuckDB."""
    total = sum(int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16) for v in values)
    return json.dumps({"entry": entry, "count": len(values), "hashsum": str(total)})


def hashgate(lines, only=()):
    con = oracle.connect()
    con.execute("CREATE TABLE t AS " + rows(5, 7))
    return dict(oracle.check_hashgate(con, {"e": "SELECT * FROM t"}, lines, list(only)))


def test_hashgate_pass():
    assert hashgate([hashgate_line("e", 5, 7)]) == {"e": None}


def test_hashgate_row_count_differs():
    assert hashgate([hashgate_line("e", 5, 7, 7)])["e"] is not None


def test_hashgate_value_differs():
    assert hashgate([hashgate_line("e", 5, 8)])["e"] is not None


def test_hashgate_missing_line_fails():
    assert hashgate([hashgate_line("e", 5, 7)], only=["e", "f"]) == {"e": None, "f": "no HashGate line"}
