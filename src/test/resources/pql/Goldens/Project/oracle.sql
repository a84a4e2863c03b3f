SELECT EventId, EventType AS Kind, DamageProperty + 1 AS Damage
FROM StormEvents
ORDER BY EventId ASC NULLS FIRST
