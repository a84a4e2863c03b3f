SELECT EventId, DamageCrops
FROM StormEvents
ORDER BY DamageCrops ASC NULLS FIRST, EventId DESC NULLS LAST
