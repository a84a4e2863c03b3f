SELECT EventId, State, DamageProperty
FROM StormEvents
WHERE DamageProperty > 4000 AND InjuriesDirect >= 1
ORDER BY EventId ASC NULLS FIRST
