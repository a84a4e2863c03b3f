SELECT EventId, DamageProperty
FROM StormEvents
ORDER BY DamageProperty DESC NULLS LAST, EventId ASC NULLS FIRST
