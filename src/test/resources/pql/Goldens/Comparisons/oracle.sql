SELECT EventId, DamageProperty
FROM StormEvents
WHERE DamageProperty >= 5000 AND DamageProperty < 100000 AND EventId > 1 AND EventId <= 15
  AND coalesce(BeginLat <> 38.5, false)
ORDER BY EventId ASC NULLS FIRST
