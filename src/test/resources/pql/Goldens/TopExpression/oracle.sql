SELECT EventId, DamageProperty
FROM StormEvents
ORDER BY DamageProperty * 100 + EventId DESC NULLS LAST
LIMIT 4
