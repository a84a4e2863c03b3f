SELECT EventId,
       abs(-EventId) AS a,
       substring(EventType, 1, 4) AS b,
       coalesce(DamageCrops, -1) AS c,
       length(EventType) AS d,
       floor(BeginLat) AS e,
       greatest(DamageProperty, DamageCrops) AS f
FROM StormEvents
WHERE EventId <= 8
ORDER BY EventId ASC NULLS FIRST
