"""Output checks, run after the timed loops and computed without the engine.

etl_sync: every sync's delivered features against an expectation DuckDB
derives from the generated corpus and rewrites, using the flagship oracle's
CASE rules. Query workloads: each query's result against its registered
DuckDB oracle SQL over the generated tables (as scripts/selfcheck.py does).
"""
import json
import os

import duckdb

# A feature's digest: (id, path, cot_type, marker colour, first position
# truncated to three components).
EXPECTED_SQL = """
WITH versions AS (
  SELECT -1 AS v, map, id, f FROM read_csv('{corpus}', delim='\t', header=false, quote='',
    escape='', columns={{'map': 'INT', 'id': 'VARCHAR', 'f': 'JSON'}})
  UNION ALL
  SELECT v, map, id, f FROM read_csv('{deltas}', delim='\t', header=false, quote='',
    escape='', columns={{'v': 'INT', 'map': 'INT', 'id': 'VARCHAR', 'f': 'JSON'}})),
syncs AS (
  SELECT * FROM read_csv('{syncs}', delim='\t', header=false,
    columns={{'sync': 'INT', 'since': 'BIGINT'}})
  WHERE sync IN (SELECT unnest({ran}))),
state AS (
  SELECT s.sync, s.since, v.id, v.f FROM syncs s JOIN versions v ON v.v <= s.sync
  QUALIFY row_number() OVER (PARTITION BY s.sync, v.id ORDER BY v.v DESC) = 1),
kept AS (
  SELECT sync, id,
    f->>'$.properties.class' AS class, f->>'$.properties.title' AS title,
    f->>'$.properties.folder_id' AS folder_id,
    f->>'$.properties.marker_color' AS mc,
    f->>'$.geometry.type' AS gtype, f->'$.geometry.coordinates' AS coords
  FROM state
  WHERE since < 0 OR TRY_CAST(f->>'$.properties.updated' AS BIGINT) >= since),
folders AS (SELECT sync, id AS fid, title AS ftitle FROM kept WHERE class = 'Folder')
SELECT k.sync, k.id, '/' || fo.ftitle AS path,
  CASE WHEN k.gtype = 'Point' THEN 'u-d-p' END AS cot_type,
  CASE WHEN k.gtype = 'Point' AND k.mc IS NOT NULL AND k.mc <> '' THEN '#' || k.mc END
    AS marker_color,
  CAST(CASE k.gtype WHEN 'Point' THEN k.coords
       WHEN 'LineString' THEN k.coords->0
       WHEN 'MultiPolygon' THEN k.coords->0->0->0 END AS DOUBLE[])[1:3] AS pos
FROM kept k LEFT JOIN folders fo
  ON fo.sync = k.sync AND k.folder_id IS NOT NULL AND k.folder_id <> ''
  AND fo.fid = k.folder_id
WHERE k.class <> 'Folder' AND k.gtype IS NOT NULL
"""

DELIVERED_SQL = """
WITH docs AS (
  SELECT sync, unnest(from_json(body->'$.features', '["JSON"]')) AS f
  FROM read_csv('{posted}', delim='\t', header=false, quote='', escape='',
    columns={{'sync': 'INT', 'name': 'VARCHAR', 'body': 'JSON'}})),
flat AS (
  SELECT sync, f->>'$.id' AS id, f->>'$.path' AS path,
    f->>'$.properties.type' AS cot_type, f->>'$.properties.marker_color' AS marker_color,
    f->>'$.geometry.type' AS gtype, CAST(f->>'$.geometry.coordinates' AS JSON) AS coords
  FROM docs)
SELECT sync, id, path, cot_type, marker_color,
  CAST(CASE gtype WHEN 'Point' THEN coords
       WHEN 'LineString' THEN coords->0
       WHEN 'MultiPolygon' THEN coords->0->0->0 END AS DOUBLE[]) AS pos
FROM flat
"""


def check_etl(work, syncs_ran):
    """Syncs whose delivered feature set differs from the expectation."""
    con = duckdb.connect()
    p = lambda n: os.path.join(work, n)
    con.sql(f"CREATE TABLE expected AS {EXPECTED_SQL.format(corpus=p('corpus.tsv'), deltas=p('deltas.tsv'), syncs=p('syncs.tsv'), ran=sorted(syncs_ran))}")
    if os.path.getsize(p("posted.tsv")):
        con.sql(f"CREATE TABLE delivered AS {DELIVERED_SQL.format(posted=p('posted.tsv'))}")
    else:
        con.sql("CREATE TABLE delivered AS SELECT * FROM expected LIMIT 0")
    bad = con.sql("""
      SELECT DISTINCT sync FROM (
        (SELECT * FROM expected EXCEPT ALL SELECT * FROM delivered)
        UNION ALL (SELECT * FROM delivered EXCEPT ALL SELECT * FROM expected))
    """).fetchall()
    n = con.sql("SELECT count(*) FROM delivered").fetchone()[0]
    return {s for (s,) in bad}, n


def check_queries(work):
    """{query: reason} for every query whose result differs from its oracle."""
    tables = os.path.join(work, "tables")
    oracles = json.load(open(os.path.join(work, "oracle_sql.json")))
    con = duckdb.connect()
    for d in sorted(os.listdir(tables)):
        con.sql(f"CREATE VIEW {d[:-len('.parquet')]} AS "
                f"SELECT * FROM '{os.path.join(tables, d)}/*.parquet'")
    bad = {}
    for name, sql in sorted(oracles.items()):
        res = os.path.join(work, "results", name)
        if sql is None:
            bad[name] = "no oracle SQL"
            continue
        if not os.path.isdir(res):
            bad[name] = "no result (the query threw)"
            continue
        try:
            con.sql(f"CREATE OR REPLACE TABLE s AS SELECT * FROM '{res}/*.parquet'")
            con.sql(f"CREATE OR REPLACE TABLE d AS {sql}")
        except duckdb.Error as e:
            bad[name] = f"oracle error: {e}"
            continue
        sc = sorted(c for (c, *_) in con.sql("DESCRIBE s").fetchall())
        dc = sorted(c for (c, *_) in con.sql("DESCRIBE d").fetchall())
        if sc != dc:
            bad[name] = f"columns {sc} != {dc}"
            continue
        cols = ", ".join(f'"{c}"' for c in sc)
        diff = con.sql(f"""SELECT
            (SELECT count(*) FROM (SELECT {cols} FROM s EXCEPT ALL SELECT {cols} FROM d)),
            (SELECT count(*) FROM (SELECT {cols} FROM d EXCEPT ALL SELECT {cols} FROM s))
        """).fetchone()
        if diff != (0, 0):
            bad[name] = f"{diff[0]} rows only in the engine's result, {diff[1]} only in the oracle's"
    return bad
