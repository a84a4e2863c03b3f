SELECT count(*) AS "count()", 'table' AS render_type
FROM StormEvents
