SELECT id,
       a['x'][1] AS x,
       a['y'][1] AS y,
       a['nope'][1] AS missing,
       a['x'][1] + a['y'][1] AS "sum"
FROM MapTable
ORDER BY id ASC NULLS FIRST
