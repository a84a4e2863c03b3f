SELECT count(*) AS "count()"
FROM (SELECT * FROM StormEvents LIMIT 4)
