SELECT count(*) AS "count()"
FROM StormEvents
WHERE lower(State) = lower('texas')
