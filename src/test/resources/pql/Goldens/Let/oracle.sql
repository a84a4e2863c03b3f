SELECT EventId, DamageProperty
FROM StormEvents
WHERE DamageProperty > 10000
ORDER BY DamageProperty DESC NULLS LAST, EventId ASC NULLS FIRST
LIMIT 3
