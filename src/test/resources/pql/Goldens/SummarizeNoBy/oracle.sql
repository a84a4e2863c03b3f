SELECT count(*) AS n,
       sum(DamageProperty) AS total,
       avg(DamageProperty) AS avgDamage,
       count(*) FILTER (WHERE DamageProperty IS NULL) AS "countif(isnull(DamageProperty))"
FROM StormEvents
