SELECT EventId, State, DamageCrops
FROM StormEvents
ORDER BY DamageCrops ASC NULLS LAST, State DESC NULLS FIRST, EventId ASC NULLS FIRST
