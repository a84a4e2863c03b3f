SELECT EventType,
       count(*) AS n,
       count(*) FILTER (WHERE DamageProperty >= 5000) AS costly,
       count(*) FILTER (WHERE InjuriesDirect > 0) AS injured
FROM StormEvents
GROUP BY EventType
ORDER BY EventType ASC NULLS FIRST
