SELECT EventId, State
FROM StormEvents
WHERE coalesce(State = 'TEXAS', false)
   OR (coalesce(State = 'KANSAS', false) AND DamageProperty > 5000)
   OR coalesce(EventType = 'Flood', false)
ORDER BY EventId ASC NULLS FIRST
