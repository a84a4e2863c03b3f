SELECT EventId,
       NOT (DamageProperty > 1000) AS a,
       DamageCrops IS NULL AS b,
       Source IS NOT NULL AS c,
       State || '/' || EventType AS d,
       CASE WHEN coalesce(DamageProperty > 4000, false) THEN 'big' ELSE 'small' END AS e,
       CASE WHEN coalesce(InjuriesDirect > 0, false) THEN InjuriesDirect ELSE -1 END AS f,
       lower(State) AS g,
       upper(EventType) AS h
FROM StormEvents
WHERE EventId <= 9
ORDER BY EventId ASC NULLS FIRST
