SELECT floor(DamageProperty / 10000) * 10000 AS "bin(DamageProperty, 10000)", count(*) AS n
FROM StormEvents
GROUP BY 1
ORDER BY 1 ASC NULLS FIRST
