SELECT *, DamageProperty + DamageCrops AS Total, EventId * 10 AS "EventId * 10"
FROM StormEvents
WHERE EventId <= 5
ORDER BY EventId ASC NULLS FIRST
