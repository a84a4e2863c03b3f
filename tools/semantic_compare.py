#!/usr/bin/env python3
"""dedup_semantic_auto oracle compare for scale factors where the
recorded oracle SQL is infeasible in DuckDB.

The gate oracle assigns each vector to its nearest centroid by
materializing the full vec x centroid distance relation (`cd`) and
ranking it with a window (`rk`). At sf30 that relation is ~35 BILLION
rows (1.5M vectors x ~23k adaptive cells): DuckDB spilled >65 GB and
was still growing after an hour. This runner computes the SAME math
with two structural substitutions that keep the pipeline streaming:

  - the argmax-with-tiebreak (`ORDER BY d DESC, c` -> row_number = 1)
    becomes a single lexicographic struct aggregate
    `max({'d': d, 'nc': -c})` grouped by vec_id — max d, ties to the
    lowest c, identical to the window form, with NO intermediate
    materialization (the cross join streams into the hash aggregate);
  - the element-lambda dot product
    `list_reduce(list_transform(generate_series(1,64), i -> a[i]*b[i]), (x,y) -> x+y)`
    becomes `list_inner_product(a, b)` — the same left-to-right
    summation order (verified bit-identical), ~an order of magnitude
    cheaper per evaluation.

Everything else (centroid selection, pair generation, cosine filter,
output schema) is the recorded oracle verbatim. Validate mode: run at
a small SF whose dump already PASSed the recorded oracle and assert
this rewrite PASSes too, so the substitutions are proven value-exact
before being trusted at the scale that needs them.

Usage: python3 tools/semantic_compare.py <verify_out> <sf_dir>
"""
import sys
import time

from oracle import connect, scan, verdict


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    con = connect(sf_dir)

    t0 = time.time()
    con.execute("""
      CREATE TEMP TABLE n AS
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_inner_product(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings""")
    # NOTE: nrm via list_inner_product(v, v) == sqrt(sum v[i]*v[i]) in the
    # same element order as the recorded oracle's lambda form.
    con.execute("""
      CREATE TEMP TABLE ct AS
      WITH params AS (
        SELECT GREATEST(1, LEAST(65536, (count(*) + 63) // 64)) AS cells FROM n),
      hs AS (SELECT vec_id, v,
               ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT AS h
             FROM n),
      sd AS (SELECT vec_id, v, h FROM hs ORDER BY h, vec_id
             LIMIT (SELECT cells FROM params))
      SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) AS c, v AS cv
      FROM sd""")
    ncells = con.execute("SELECT count(*) FROM ct").fetchone()[0]
    nvec = con.execute("SELECT count(*) FROM n").fetchone()[0]
    print(f"[semantic] {nvec} vectors, {ncells} cells ({time.time()-t0:.0f}s)", flush=True)

    t1 = time.time()
    con.execute("""
      CREATE TEMP TABLE cell AS
      SELECT vec_id,
             -((max({'d': list_inner_product(n.v, ct.cv), 'nc': -ct.c})).nc) AS c
      FROM n CROSS JOIN ct
      GROUP BY vec_id""")
    print(f"[semantic] assignment done ({time.time()-t1:.0f}s)", flush=True)

    t2 = time.time()
    con.execute("""
      CREATE TEMP TABLE oracle_result AS
      WITH pr AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.c AS c
        FROM cell a JOIN cell b ON a.c = b.c AND a.vec_id < b.vec_id)
      SELECT id_a, id_b, CAST(c AS INT) AS cell,
             list_inner_product(e1.v, e2.v) / (e1.nrm * e2.nrm) AS cos_sim
      FROM pr JOIN n e1 ON pr.id_a = e1.vec_id JOIN n e2 ON pr.id_b = e2.vec_id
      WHERE list_inner_product(e1.v, e2.v) / (e1.nrm * e2.nrm) >= 0.4""")
    orows = con.execute("SELECT count(*) FROM oracle_result").fetchone()[0]
    print(f"[semantic] oracle pairs: {orows} ({time.time()-t2:.0f}s)", flush=True)

    con.execute(f"CREATE VIEW dump AS SELECT * FROM {scan(f'{out_dir}/dedup_semantic_auto.parquet')}")
    why = verdict(con, "dump", "oracle_result")
    print(f"[!!] dedup_semantic_auto: FAIL {why}" if why else "[ok] dedup_semantic_auto: PASS", flush=True)
    sys.exit(1 if why else 0)


if __name__ == "__main__":
    main()
