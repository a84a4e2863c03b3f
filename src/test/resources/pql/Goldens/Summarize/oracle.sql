SELECT State,
       count(*) AS Events,
       sum(DamageProperty) AS Damage,
       max(DamageProperty) AS Worst,
       min(DamageProperty) AS Least,
       avg(BeginLat) AS "avg(BeginLat)"
FROM StormEvents
GROUP BY State
ORDER BY State ASC NULLS FIRST
