"""Seeded input generator for the graft benchmark.

Every table is a pure function of (seed, table, row id): values come from
DuckDB's `hash` of those three numbers, so the same seed always writes the
same rows. The schemas and value pools mirror the repository's TPC-H-like
test tables (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings), which the PQL fuzz generator and the
library entries are written against.

A table is written either as one parquet file (`<name>.parquet`) or, when
`files > 1`, as a directory of part files (`<name>.parquet/part-NNNNN.parquet`)
— the multi-file layout that lets Spark scan in parallel.
"""
import os
import shutil

import duckdb

WORDS = ("join hash row batch scan customer column filter small slow merge order vector "
         "line data table agg value key stream window spark a group part big sort query "
         "fast the").split()

# base row counts at scale factor 1 (TPC-H ratios; the test tables' sf0.01
# holds 1500 customers, 15000 orders, ~60000 lines, 10000 events, 500 docs)
BASE = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
        "orders": 1_500_000, "events": 1_000_000, "documents": 50_000,
        "embeddings": 50_000}


def _q(values):
    return "[" + ", ".join("'" + v + "'" for v in values) + "]"


def _con(seed):
    con = duckdb.connect()
    # every written file has a fixed row order (ORDER BY, or insertion
    # order, which DuckDB preserves), so more threads change nothing
    con.execute("SET threads=4")
    con.execute("SET TimeZone='UTC'")
    # uniform double in [0, 1) for (table tag, row id, draw index)
    con.execute(f"CREATE MACRO u(t, i, k) AS "
                f"((hash(t, i, k, {int(seed)}) >> 11)::DOUBLE / 9007199254740992.0)")
    con.execute(f"CREATE MACRO pick(arr, t, i, k) AS arr[1 + floor(u(t, i, k) * len(arr))::BIGINT]")
    return con


def _tables_sql(sf):
    n = {k: max(1, int(v * sf)) for k, v in BASE.items()}
    users = max(10, int(15_000 * sf))
    segs = _q(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    return n, {
        "region": """SELECT i::INTEGER AS r_regionkey,
              ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
              (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
              floor(u(1, i, 0) * 25)::INTEGER AS c_nationkey,
              round(u(1, i, 1) * 10999.99 - 999.99, 2) AS c_acctbal,
              pick({segs}, 1, i, 2) AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
              floor(u(2, i, 0) * 25)::INTEGER AS s_nationkey,
              round(u(2, i, 1) * 10999.99 - 999.99, 2) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
              pick({_q(['small', 'red', 'blue', 'hot', 'cold', 'green', 'large', 'old'])}, 3, i, 0)
                || ' ' || pick({_q(['ring', 'widget', 'bolt', 'gear', 'gizmo', 'pipe', 'valve', 'spring'])}, 3, i, 1)
                AS p_name,
              'Brand#' || (1 + floor(u(3, i, 2) * 25)::INTEGER) AS p_brand,
              pick({_q(['ECONOMY', 'SMALL', 'STANDARD', 'MEDIUM', 'LARGE', 'PROMO'])}, 3, i, 3) AS p_type,
              (1 + floor(u(3, i, 4) * 50))::INTEGER AS p_size,
              900.0 + (i % 1000) / 10.0 AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey, floor(u(4, i, 0) * {n['customer']})::BIGINT AS o_custkey,
              pick(['F', 'O', 'P'], 4, i, 1) AS o_orderstatus,
              round(1000.0 + u(4, i, 2) * 499000.0, 2) AS o_totalprice,
              TIMESTAMP '1995-01-01' + to_days(floor(u(4, i, 3) * 2404)::INTEGER) AS o_orderdate,
              pick({_q(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])}, 4, i, 4)
                AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        # 1..7 lines per order (4 on average), shipped 1..121 days after the order
        "lineitem": f"""SELECT o.o_orderkey AS l_orderkey,
              floor(u(5, o.o_orderkey * 8 + ln, 0) * {n['part']})::BIGINT AS l_partkey,
              floor(u(5, o.o_orderkey * 8 + ln, 1) * {n['supplier']})::BIGINT AS l_suppkey,
              ln::INTEGER AS l_linenumber,
              q AS l_quantity,
              round(q * (900.0 + u(5, o.o_orderkey * 8 + ln, 3) * 1199.0), 2) AS l_extendedprice,
              floor(u(5, o.o_orderkey * 8 + ln, 4) * 11) / 100.0 AS l_discount,
              floor(u(5, o.o_orderkey * 8 + ln, 5) * 9) / 100.0 AS l_tax,
              pick(['A', 'N', 'R'], 5, o.o_orderkey * 8 + ln, 6) AS l_returnflag,
              pick(['F', 'O'], 5, o.o_orderkey * 8 + ln, 7) AS l_linestatus,
              o.o_orderdate + to_days((1 + floor(u(5, o.o_orderkey * 8 + ln, 8) * 121))::INTEGER)
                AS l_shipdate
            FROM orders o, range(1, 8) l(ln),
              LATERAL (SELECT 1.0 + floor(u(5, o.o_orderkey * 8 + ln, 2) * 50) AS q)
            WHERE ln <= 1 + floor(u(5, o.o_orderkey, 9) * 7)
            ORDER BY l_orderkey, l_linenumber""",
        "events": f"""SELECT i AS event_id,
              TIMESTAMP '2024-01-01' + to_microseconds(floor(u(6, i, 0) * 2592000000000)::BIGINT) AS ts,
              floor(u(6, i, 1) * {users})::BIGINT AS user_id,
              pick(['click', 'error', 'purchase', 'signup', 'view'], 6, i, 2) AS event_type,
              round(0.01 + u(6, i, 3) * 490.0, 2) AS value,
              '{{"k": ' || floor(u(6, i, 4) * 100)::INTEGER || '}}' AS props
            FROM range({n['events']}) t(i)""",
        # random bags over a 30-word vocabulary; 15% of documents are
        # near-copies of an earlier one (10% of their tokens replaced), so
        # the near-duplicate operators find real pairs and clusters
        "documents": f"""WITH d AS (
              SELECT i, CASE WHEN i > 0 AND u(7, i, 0) < 0.15
                             THEN floor(u(7, i, 1) * i)::BIGINT ELSE i END AS src
              FROM __ids_documents t(i)),
            t AS (
              SELECT i AS doc_id, array_to_string(list_transform(
                  range(8 + floor(u(8, src, 0) * 82)::BIGINT),
                  j -> CASE WHEN src <> i AND u(9, i * 100 + j, 0) < 0.1
                            THEN pick({_q(WORDS)}, 9, i * 100 + j, 1)
                            ELSE pick({_q(WORDS)}, 8, src * 100 + j, 1) END), ' ') AS text,
                CASE WHEN u(7, i, 2) < 0.44 THEN 'en'
                     ELSE pick(['de', 'es', 'fr', 'zh'], 7, i, 3) END AS lang,
                'src' || (i % 20) AS source
              FROM d)
            SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars FROM t""",
        # unit vectors around 10 label centres
        "embeddings": f"""WITH r AS (
              SELECT i, floor(u(10, i, 0) * 10)::INTEGER AS label FROM __ids_embeddings t(i)),
            v AS (
              SELECT i, label, list_transform(range(64),
                  d -> (2 * u(11, label * 64 + d, 0) - 1) + 0.8 * (2 * u(12, i * 64 + d, 0) - 1)) AS raw
              FROM r),
            w AS (SELECT i, label, raw, sqrt(list_sum(list_transform(raw, x -> x * x))) AS nrm FROM v)
            SELECT i AS vec_id, list_transform(raw, x -> (x / nrm)::FLOAT) AS embedding, label FROM w""",
    }


def _write(con, sql, path, files, order):
    """Write `sql` to parquet: one file, or `files` row-interleaved part files."""
    if files <= 1:
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
        return
    os.makedirs(path)
    con.execute(f"CREATE OR REPLACE TEMP TABLE __w AS SELECT *, row_number() OVER (ORDER BY {order}) AS __rn FROM ({sql})")
    for k in range(files):
        con.execute(f"COPY (SELECT * EXCLUDE (__rn) FROM __w WHERE __rn % {files} = {k} ORDER BY __rn) "
                    f"TO '{path}/part-{k:05d}.parquet' (FORMAT PARQUET)")


def generate(out_dir, seed, sf, tables, files=1, keep=None):
    """Write `tables` at scale `sf` under `out_dir`; return {table: rows}.

    `keep` optionally maps a table to a row count: a seeded subset of that
    many rows is written instead of the whole table (ids keep their spacing).
    """
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    con = _con(seed)
    n, sqls = _tables_sql(sf)
    rows = {}
    # lineitem is derived from orders, so orders always materializes first
    con.execute(f"CREATE TEMP TABLE orders AS {sqls['orders']}")
    # documents and embeddings draw their row ids from these tables, so a
    # kept subset is chosen before any text or vector is generated
    for t in ("documents", "embeddings"):
        pick_ids = (f" QUALIFY row_number() OVER (ORDER BY u(13, i, 0), i) <= {keep[t]}"
                    if keep and t in keep else "")
        con.execute(f"CREATE TEMP TABLE __ids_{t} AS SELECT i FROM range({n[t]}) t(i){pick_ids} ORDER BY i")
    keys = {"region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
            "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
            "lineitem": "l_orderkey, l_linenumber", "events": "event_id",
            "documents": "doc_id", "embeddings": "vec_id"}
    for t in tables:
        sql = "SELECT * FROM orders" if t == "orders" else sqls[t]
        nf = files if t not in ("region", "nation") else 1
        path = os.path.join(out_dir, f"{t}.parquet")
        _write(con, sql, path, nf, keys[t])
        src = f"{path}/*.parquet" if nf > 1 else path
        rows[t] = con.execute(f"SELECT count(*) FROM read_parquet('{src}')").fetchone()[0]
    con.close()
    return rows


def generate_stream(out_dir, seed, sf, files, sentinel_type):
    """Time-ordered split of `events` into `files` parquet files plus a final
    one-row sentinel file 48 h past the last event (it pushes the watermark
    past every real window so append mode emits them all).

    Files get increasing modification times, one second apart: the file
    stream source orders its input by modification time.
    Returns (rows in the real files, last real event time as a string).
    """
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    src = os.path.join(out_dir, "in")
    os.makedirs(src)
    con = _con(seed)
    _, sqls = _tables_sql(sf)
    con.execute(f"CREATE TEMP TABLE ev AS SELECT *, ntile({files}) OVER (ORDER BY ts, event_id) AS __f "
                f"FROM ({sqls['events']})")
    for k in range(1, files + 1):
        con.execute(f"COPY (SELECT * EXCLUDE (__f) FROM ev WHERE __f = {k} ORDER BY ts, event_id) "
                    f"TO '{src}/part-{k:05d}.parquet' (FORMAT PARQUET)")
    rows, max_ts = con.execute("SELECT count(*), max(ts)::VARCHAR FROM ev").fetchone()
    con.execute(f"COPY (SELECT -1::BIGINT AS event_id, max(ts) + INTERVAL 48 HOURS AS ts, -1::BIGINT AS user_id, "
                f"'{sentinel_type}' AS event_type, 0.0::DOUBLE AS value, '{{}}' AS props FROM ev) "
                f"TO '{src}/part-{files + 1:05d}.parquet' (FORMAT PARQUET)")
    con.close()
    base = 1_600_000_000
    for k in range(1, files + 2):
        os.utime(f"{src}/part-{k:05d}.parquet", (base + k, base + k))
    return rows, max_ts
