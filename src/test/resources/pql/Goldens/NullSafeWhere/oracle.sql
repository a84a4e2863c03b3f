SELECT EventId, State
FROM StormEvents
WHERE coalesce(State <> 'TEXAS', false) AND coalesce(DamageCrops = 0, false)
ORDER BY EventId ASC NULLS FIRST
