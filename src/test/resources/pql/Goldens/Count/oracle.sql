SELECT count(*) AS "count()"
FROM StormEvents
